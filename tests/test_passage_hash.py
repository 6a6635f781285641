"""Focused tests for the r7 rolling-hash passage-window kernel
(gdal_spark.functions.text): the Arrow kernel must reproduce the
window-STRING equality law (space-joined token windows of the
lower-cased, whitespace-collapsed text) exactly."""

import numpy as np
import pandas as pd
import pytest

from gdal_spark.functions.text import (
    _doc_window_hashes, _norm_buf, duplicate_passage_stats,
)


def _windows_str(text: str, w: int) -> list[str]:
    toks = " ".join(text.lower().split()).split(" ")
    if toks == [""] or len(toks) < w:
        return []
    return [" ".join(toks[i:i + w]) for i in range(len(toks) - w + 1)]


def test_rolling_hash_matches_string_law():
    """hash equality <=> window-string equality on a corpus rich in
    repeats, at several window widths and offsets."""
    docs = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "pad alpha beta gamma delta epsilon zeta eta theta iota",
        "x y alpha beta gamma delta epsilon zeta eta theta end",
        "one two three one two three one two three one two three",
        "unrelated words entirely different from everything else here",
        "Alpha BETA gamma DELTA epsilon zeta eta theta iota kappa",
        "  spaced\tout\n tokens  alpha beta gamma delta epsilon "
        "zeta eta theta",
    ]
    for w in (2, 3, 8):
        by_hash: dict[int, set] = {}
        by_str: dict[str, set] = {}
        for d in docs:
            hs = _doc_window_hashes(_norm_buf(d), w)
            ss = _windows_str(d, w)
            assert len(hs) == len(ss)
            for h, s in zip(hs.tolist(), ss):
                by_hash.setdefault(h, set()).add(s)
                by_str.setdefault(s, set()).add(h)
        # no collision: every hash maps to exactly one string...
        assert all(len(v) == 1 for v in by_hash.values())
        # ...and equal strings always produce equal hashes
        assert all(len(v) == 1 for v in by_str.values())


def test_short_and_empty_docs():
    assert len(_doc_window_hashes(_norm_buf(""), 8)) == 0
    assert len(_doc_window_hashes(_norm_buf("   "), 8)) == 0
    assert len(_doc_window_hashes(_norm_buf("seven words only in "
                                            "this tiny doc"), 8)) == 0
    assert len(_doc_window_hashes(
        _norm_buf("exactly eight whitespace tokens sit right "
                  "here now"), 8)) == 1


def test_duplicate_passage_stats_counts(spark):
    """End-to-end: shared 8-window flagged in both docs, repeated
    same-doc window NOT flagged (pre-aggregated map-side), and a
    doc under the window width emits no row."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [
            shared + " tail0 tail1",            # 3 windows, 1 dup
            "head0 " + shared,                  # 2 windows, 1 dup
            " ".join(["loop"] * 20),            # self-repeat only
            "too short",
        ]}))
    out = duplicate_passage_stats(docs, window=8) \
        .orderBy("doc_id").toPandas()
    assert out["doc_id"].tolist() == [0, 1, 2]
    assert out["n_windows"].tolist() == [3, 2, 13]
    assert out["n_dup_windows"].tolist() == [1, 1, 0]
    assert out.iloc[0]["dup_fraction"] == pytest.approx(
        round(1 / 3, 6))


def test_fold_carry_across_batches(spark):
    """Many docs sharing one window exercises the h-group carry in
    the streaming fold (groups span Arrow batch boundaries)."""
    shared = "w1 w2 w3 w4 w5 w6 w7 w8"
    n = 300
    texts = [f"u{i}a u{i}b " + shared for i in range(n)]
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(n), "text": texts}))
    out = duplicate_passage_stats(docs, window=8).toPandas()
    assert len(out) == n
    # every doc has 3 windows; exactly the shared one is dup
    assert set(out["n_windows"]) == {3}
    assert set(out["n_dup_windows"]) == {1}
