"""Text-analysis functions for web-scale training-data pipelines.

All hot-path functions are JVM-side Column expressions (regexp /
aggregate built-ins — whole-stage codegen, no Python).  Where a SQL
fragment is given it runs identically in Spark SQL and DuckDB so the
driver's oracle can verify it.

* token_count   — whitespace tokenization count
* word_count / char stats
* quality_score — length / alpha-ratio / stopword-ratio heuristic
* lang_id       — stopword-hit n-gram heuristic over {en,de,fr,es,pt}
* fingerprint   — 64-bit FNV-1a rolling document fingerprint
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from gdal_spark.session import spread_for_kernel

# Tiny per-language stopword marker sets for the heuristic language id.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "und", "die", "nicht", "das"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "que", "los", "una", "por"],
    "pt": ["que", "não", "uma", "os", "das"],
}

EN_STOPWORDS = ["the", "and", "of", "to", "in", "a", "is", "it", "for", "on"]


def token_count(col: str) -> Column:
    """Whitespace token count.

    Built with the Column API (NOT F.expr) because Spark SQL string
    literals treat backslash as an escape — '\\s+' in SQL text parses
    as 's+'.  The DuckDB oracle states the same count with
    regexp_replace(..., 'g').
    """
    c = F.trim(F.col(col))
    collapsed = F.regexp_replace(c, "\\s+", " ")
    return F.when(F.length(c) == 0, F.lit(0)).otherwise(
        F.length(collapsed)
        - F.length(F.replace(collapsed, F.lit(" "), F.lit("")))
        + 1
    ).cast("long")


# BPE-style pretokenizer pattern (the GPT-2 public pattern without
# the \s+(?!\S) lookahead, which RE2/DuckDB cannot run): contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs.
# Shared verbatim between Spark (Java regex) and the DuckDB oracle.
BPE_PATTERN = ("'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+|"
               " ?[^A-Za-z0-9\\s']+")


def token_count_bpe(col: str) -> Column:
    """BPE-ish token count: matches of the GPT-2-style pretokenizer
    regex (the subword-merge step changes token identity, not the
    pretoken count bound LLM data pipelines budget with).  JVM-side
    regexp_count — no Python."""
    return F.regexp_count(F.col(col), F.lit(BPE_PATTERN)).cast("long")


def alpha_ratio(col: str) -> Column:
    """Fraction of alphabetic chars — a quality-score component."""
    c = F.col(col)
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace(c, "[^a-zA-Z]", "")).cast("double")
        / F.length(c)
    )


def quality_score(col: str) -> Column:
    """Composite quality in [0,1]: alpha ratio x length saturation
    (min(1, n_chars / 200))."""
    c = F.col(col)
    return alpha_ratio(col) * F.least(
        F.lit(1.0), F.length(c).cast("double") / 200.0
    )


def lang_id(col: str) -> Column:
    """Heuristic language id: language with most stopword-marker hits
    (ties broken by fixed language order, 'und' = undetermined)."""
    lowered = F.lower(F.col(col))
    scores = []
    for lang, markers in LANG_MARKERS.items():
        score = None
        for m in markers:
            hit = (
                F.length(lowered)
                - F.length(F.regexp_replace(lowered, f"\\b{m}\\b", ""))
            ) / max(len(m), 1)
            score = hit if score is None else score + hit
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint64(col: str) -> Column:
    """64-bit document fingerprint: xxhash64 of the normalized text
    (whitespace-collapsed, lowercased) — the rolling-hash document
    identity used by dedup."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(col))), "\\s+", " ")
    return F.xxhash64(norm)


# --- passage-window machinery (shared by stats + removal) -----------
#
# Window identity = the space-joined token window string of the
# normalized (lowercased, whitespace-collapsed) text.  Because the
# tokens of the normalized text contain no spaces, that string IS the
# byte slice [start of token i, end of token i+w-1) of the normalized
# buffer — so all windows of a doc hash in one vectorized numpy pass
# with a position-independent rolling polynomial:
#   pref[k] = sum_{t<k} buf[t]*P^t  (mod 2^64, P odd => invertible)
#   h(i, j) = (pref[j] - pref[i]) * P^{-i}
# Equal window strings hash equal anywhere in the corpus; collisions
# are ~n^2/2^64 (same class as the previous xxhash64-of-string law).
# numpy is cold-start-fast where the interpreted Catalyst lambda
# chain (transform/slice/array_join) paid seconds of first-run JIT.

_ROLL_P = 0xC6A4A7935BD1E995          # odd => invertible mod 2^64
_ROLL_PINV = pow(_ROLL_P, -1, 1 << 64)
_MIX = 0x9E3779B97F4A7C15


def _roll_tables(n: int):
    """(P^k, P^-k) power tables of length n, grown on demand and
    cached per worker process."""
    import numpy as np

    tab = getattr(_roll_tables, "_tab", None)
    if tab is None or len(tab[0]) < n:
        m = max(n, 4096)
        pw = np.empty(m, dtype=np.uint64)
        ipw = np.empty(m, dtype=np.uint64)
        pw[0] = ipw[0] = 1
        np.cumprod(np.full(m - 1, _ROLL_P, dtype=np.uint64),
                   out=pw[1:])
        np.cumprod(np.full(m - 1, _ROLL_PINV, dtype=np.uint64),
                   out=ipw[1:])
        tab = (pw, ipw)
        _roll_tables._tab = tab
    return tab


def _doc_window_hashes(buf: bytes, window: int):
    """Rolling hashes of every ``window``-token passage of one
    normalized doc buffer -> uint64 array (len T-window+1, or
    empty when the doc has fewer than ``window`` tokens)."""
    import numpy as np

    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.zeros(0, dtype=np.uint64)
    sp = np.flatnonzero(b == 32)
    t = len(sp) + 1                      # token count
    if t < window:
        return np.zeros(0, dtype=np.uint64)
    pw, ipw = _roll_tables(len(b) + 1)
    pref = np.empty(len(b) + 1, dtype=np.uint64)
    pref[0] = 0
    np.cumsum(b.astype(np.uint64) * pw[:len(b)], out=pref[1:])
    starts = np.r_[np.uint64(0), sp.astype(np.uint64) + np.uint64(1)]
    ends = np.r_[sp.astype(np.uint64), np.uint64(len(b))]
    s = starts[:t - window + 1]
    e = ends[window - 1:]
    h = (pref[e] - pref[s]) * ipw[s]
    # one mix round so the hash-partitioner sees well-spread longs
    h = h * np.uint64(_MIX)
    h ^= h >> np.uint64(29)
    return h


def _norm_buf(text) -> bytes:
    return (" ".join(str(text).lower().split())).encode(
        "utf-8", "ignore")


def _passage_win_frame(df, text_col: str, key_col: str, window: int,
                       with_pos: bool):
    """(key, h[, pos][, c]) window-hash rows — ONE Arrow kernel pass
    over the corpus; the shuffle downstream carries 8-byte hashes,
    never passage text.  Without ``with_pos`` duplicate windows
    within a doc pre-aggregate map-side into (h, c) counts."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType, LongType, StructField, StructType,
    )

    key_type = df.schema[key_col].dataType
    fields = [StructField(key_col, key_type)]
    if with_pos:
        fields.append(StructField("pos", IntegerType()))
    fields += [StructField("h", LongType())]
    if not with_pos:
        fields.append(StructField("c", LongType()))
    schema = StructType(fields)
    w = int(window)

    def rep_key(key, n):
        return (np.full(n, key, dtype=object)
                if isinstance(key, (str, bytes))
                else np.full(n, key))

    def kernel(batches):
        for b in batches:
            if not len(b):
                continue
            keys, hs, poss, cs = [], [], [], []
            for key, text in zip(b[key_col], b[text_col]):
                h = _doc_window_hashes(_norm_buf(text), w)
                if not len(h):
                    continue
                if with_pos:
                    keys.append(rep_key(key, len(h)))
                    hs.append(h.view(np.int64))
                    poss.append(np.arange(len(h), dtype=np.int32))
                else:
                    uh, uc = np.unique(h, return_counts=True)
                    keys.append(rep_key(key, len(uh)))
                    hs.append(uh.view(np.int64))
                    cs.append(uc.astype(np.int64))
            if not keys:
                continue
            out = {key_col: np.concatenate(keys)}
            if with_pos:
                out["pos"] = np.concatenate(poss)
            out["h"] = np.concatenate(hs)
            if not with_pos:
                out["c"] = np.concatenate(cs)
            yield pd.DataFrame(out)

    src = spread_for_kernel(df.select(key_col, text_col))
    return src.mapInPandas(kernel, schema)


def _h_sorted(df, extra_cols):
    """Hash-repartition on h + in-partition sort: every row of one
    hash lands in one task, adjacent — the streaming precondition of
    the fold kernels (bounded memory at any scale)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return (df.repartition(par, "h").sortWithinPartitions("h")
            .select("h", *extra_cols))


def duplicate_passage_stats(df, text_col: str = "text",
                            key_col: str = "doc_id",
                            window: int = 10):
    """Per-document duplicate-passage report: (key, n_windows,
    n_dup_windows, dup_fraction) — the Gopher-style 'duplicate text
    fraction' quality signal, computed corpus-wide.

    Plan shape (100-TB honest): windows hash map-side in ONE Arrow
    kernel (8 bytes/window leaves the task, never passage text, and
    same-doc repeats pre-aggregate to counts), ONE hash shuffle on h
    feeds a streaming fold (sorted groups, cross-batch carry, memory
    bounded per task) that emits per-doc partials, and ONE keyed agg
    finishes.  The corpus is read exactly once — the previous
    join-back shape computed the window subtree twice."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    wins = _passage_win_frame(df, text_col, key_col, window,
                              with_pos=False)
    key_type = df.schema[key_col].dataType
    fold_schema = StructType([
        StructField(key_col, key_type),
        StructField("n", LongType()),
        StructField("nd", LongType()),
    ])

    def fold(batches):
        carry = None

        def reduce_rows(b):
            # rows sorted by h; "dup" = the h-group spans >= 2
            # distinct keys (min code != max code over the sorted
            # unique-key codes, valid for any key dtype)
            hs = b["h"].to_numpy()
            uniq, codes = np.unique(b[key_col].to_numpy(),
                                    return_inverse=True)
            cs = b["c"].to_numpy()
            gstart = np.flatnonzero(np.r_[True, hs[1:] != hs[:-1]])
            glen = np.diff(np.r_[gstart, len(hs)])
            dup_g = (np.minimum.reduceat(codes, gstart)
                     != np.maximum.reduceat(codes, gstart))
            dup_row = np.repeat(dup_g, glen)
            n = np.bincount(codes, weights=cs,
                            minlength=len(uniq)).astype(np.int64)
            nd = np.bincount(codes, weights=cs * dup_row,
                             minlength=len(uniq)).astype(np.int64)
            return pd.DataFrame({key_col: uniq, "n": n, "nd": nd})

        for b in batches:
            if not len(b):
                continue
            if carry is not None:
                b = pd.concat([carry, b], ignore_index=True)
                carry = None
            hs = b["h"].to_numpy()
            # hold back the trailing h-group: it may continue in the
            # next batch
            last = np.flatnonzero(hs != hs[-1])
            cut = (last[-1] + 1) if len(last) else 0
            if cut:
                yield reduce_rows(b.iloc[:cut])
            carry = b.iloc[cut:]
        if carry is not None and len(carry):
            yield reduce_rows(carry)

    folded = _h_sorted(wins, [key_col, "c"]).mapInPandas(
        fold, fold_schema)
    return (folded.groupBy(key_col)
            .agg(F.sum("n").alias("n_windows"),
                 F.sum("nd").alias("n_dup_windows"))
            .select(
                key_col,
                F.col("n_windows").cast("long").alias("n_windows"),
                F.col("n_dup_windows").cast("long")
                .alias("n_dup_windows"),
                F.round(F.col("n_dup_windows")
                        / F.col("n_windows").cast("double"), 6)
                .alias("dup_fraction")))


_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have",
              "with")


def gopher_quality_flags(text_col: str = "text"):
    """Gopher-rule quality metrics (Rae et al. 2021, table A1) +
    C4-style line stats, as ONE pure-JVM struct column:

      n_words, mean_word_len, alpha_word_frac (words containing a
      letter), stop_hits (distinct stopword presence from a fixed
      8-word list), dup_line_frac, and the conjunction ``keep``:
      50 <= n_words <= 100000, 3 <= mean_word_len <= 10,
      alpha_word_frac >= 0.8, stop_hits >= 2, dup_line_frac <= 0.3.

    Document-level text heuristics run corpus-wide with zero Python
    — every metric is split/filter/aggregate Catalyst expressions
    inside whole-stage codegen."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)),
                                   r"\s+", " "))
    toks = F.split(norm, " ")
    n_words = F.size(toks)
    total_chars = F.length(F.regexp_replace(norm, " ", ""))
    mean_word_len = total_chars / n_words.cast("double")
    alpha_frac = (
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
        / n_words.cast("double"))
    stop_hits = F.size(F.array_intersect(
        F.array_distinct(toks),
        F.array(*[F.lit(w) for w in _STOPWORDS])))
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines)
    dup_line_frac = (
        (n_lines - F.size(F.array_distinct(lines)))
        / n_lines.cast("double"))
    keep = ((n_words >= 50) & (n_words <= 100000)
            & (mean_word_len >= 3.0) & (mean_word_len <= 10.0)
            & (alpha_frac >= 0.8) & (stop_hits >= 2)
            & (dup_line_frac <= 0.3))
    return F.struct(
        n_words.cast("long").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.cast("long").alias("stop_hits"),
        dup_line_frac.alias("dup_line_frac"),
        keep.alias("keep"))


def c4_line_filter(text_col: str = "text", min_words: int = 3):
    """C4-style line cleaning (Raffel et al. 2020 §2.2) as one JVM
    expression: keep only lines that END in terminal punctuation
    (.!?" ) and carry at least ``min_words`` whitespace words; drop
    lines containing the curly brace (code) or 'lorem ipsum'.
    Returns a struct (clean_text, n_lines, n_kept)."""
    lines = F.split(F.col(text_col), "\n")

    def ok(line):
        t = F.trim(line)
        words = F.size(F.split(t, r"\s+"))
        return (t.rlike('[.!?"]$')
                & (words >= min_words)
                & ~F.lower(t).contains("lorem ipsum")
                & ~t.contains("{"))

    kept = F.filter(lines, ok)
    return F.struct(
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"))


def remove_duplicate_passages(df, text_col: str = "text",
                              key_col: str = "doc_id",
                              window: int = 10):
    """Exact duplicate-passage REMOVAL, first arrival wins — the
    fixed-window form of suffix-array substring dedup in its
    removal mode (Lee et al. 2022 'Deduplicating Training Data'):
    any window of ``window`` tokens whose content already appears
    in a SMALLER-keyed document is a foreign duplicate, and every
    token covered by one is cut; the first occurrence keeps its
    text intact.

    Plan: the q82 window-hash kernel (hashes shuffle as single
    longs, corpus read ONCE) + a streaming per-hash fold that emits
    only foreign positions (rows whose key exceeds the hash group's
    min-key owner), foreign positions fold per doc (one
    collect_list bounded by the doc's own token count), and a final
    Arrow kernel masks + rebuilds the text.  Adds (clean_text,
    n_tokens, n_removed) to the frame."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    src = spread_for_kernel(df.select(key_col, text_col))
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)),
                                   r"\s+", " "))
    toks = F.split(norm, " ")
    wins = _passage_win_frame(df, text_col, key_col, window,
                              with_pos=True)
    key_type = df.schema[key_col].dataType
    for_schema = StructType([
        StructField(key_col, key_type),
        StructField("pos", IntegerType()),
    ])

    def fold_foreign(batches):
        carry = None

        def reduce_rows(b):
            hs = b["h"].to_numpy()
            uniq, codes = np.unique(b[key_col].to_numpy(),
                                    return_inverse=True)
            gstart = np.flatnonzero(np.r_[True, hs[1:] != hs[:-1]])
            glen = np.diff(np.r_[gstart, len(hs)])
            own = np.repeat(np.minimum.reduceat(codes, gstart), glen)
            fr = codes > own
            if not fr.any():
                return None
            return pd.DataFrame({
                key_col: uniq[codes[fr]],
                "pos": b["pos"].to_numpy()[fr]})

        for b in batches:
            if not len(b):
                continue
            if carry is not None:
                b = pd.concat([carry, b], ignore_index=True)
                carry = None
            hs = b["h"].to_numpy()
            last = np.flatnonzero(hs != hs[-1])
            cut = (last[-1] + 1) if len(last) else 0
            if cut:
                r = reduce_rows(b.iloc[:cut])
                if r is not None:
                    yield r
            carry = b.iloc[cut:]
        if carry is not None and len(carry):
            r = reduce_rows(carry)
            if r is not None:
                yield r

    foreign = (_h_sorted(wins, [key_col, "pos"])
               .mapInPandas(fold_foreign, for_schema)
               .groupBy(key_col)
               .agg(F.collect_list("pos").alias("dup_pos")))

    staged = (src.withColumn("__toks", toks)
              .join(foreign, key_col, "left"))

    out_schema = StructType(
        [df.schema[key_col], df.schema[text_col]]
        + [StructField("clean_text", StringType()),
           StructField("n_tokens", LongType()),
           StructField("n_removed", LongType())])

    w = int(window)

    def kern(batches):
        import numpy as np
        import pandas as pd

        for b in batches:
            if not len(b):
                continue
            cleans, n_toks, n_rm = [], [], []
            for _, r in b.iterrows():
                tk = list(r["__toks"])
                mask = np.zeros(len(tk), dtype=bool)
                dp = r["dup_pos"]
                if dp is not None and len(dp):
                    for p in dp:
                        mask[p:p + w] = True
                kept = [t for t, m in zip(tk, mask) if not m]
                cleans.append(" ".join(kept))
                n_toks.append(len(tk))
                n_rm.append(int(mask.sum()))
            out = b[[key_col, text_col]].copy()
            out["clean_text"] = cleans
            out["n_tokens"] = n_toks
            out["n_removed"] = n_rm
            yield out

    return staged.mapInPandas(kern, out_schema)


def repetition_stats(df, text_col: str = "text",
                     key_col: str = "doc_id",
                     n: int = 2) -> "DataFrame":
    """Gopher repetition rules (Rae et al. 2021 table A1, the
    "fraction of characters in the most/duplicated n-grams" family)
    at word-n-gram granularity:

      top_count — occurrences of the most frequent n-gram (ties
                  broken by lexicographically smallest gram),
      top_gram  — that n-gram,
      top_frac  — characters covered by those occurrences
                  (count * gram chars / total word chars),
      dup_frac  — characters covered by ALL n-grams occurring more
                  than once (sum of count * chars; overlaps counted
                  per occurrence — the declared approximation of the
                  paper's char-coverage rule).

    Scale shape: grams explode map-side, ONE groupBy shuffle on
    (doc, gram), then ONE doc-keyed window picks the deterministic
    top gram and sums duplicate chars — per-task memory bounded by
    a document's distinct-gram count, never the corpus.
    Normalization matches gopher_quality_flags (lowercase,
    whitespace-collapsed)."""
    from pyspark.sql import Window

    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)),
                                   r"\s+", " "))
    toks = F.split(norm, " ")
    # guard: sequence(1, 0) DESCENDS in Spark, so a doc with fewer
    # than n words must yield an empty gram array, not slice errors
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    ).otherwise(F.array().cast("array<string>"))
    total_chars = F.length(F.regexp_replace(norm, " ", ""))
    base = (df.select(
        F.col(key_col),
        total_chars.alias("__tc"),
        F.explode(grams).alias("gram"))
        .filter(F.col("gram") != ""))
    counts = (base.groupBy(key_col, "__tc", "gram")
              .agg(F.count("*").alias("cnt"))
              .withColumn(
                  "gchars",
                  F.length(F.regexp_replace(F.col("gram"), " ",
                                            ""))))
    w_top = Window.partitionBy(key_col).orderBy(
        F.desc("cnt"), F.asc("gram"))
    w_doc = Window.partitionBy(key_col)
    return (counts
            .withColumn("__rn", F.row_number().over(w_top))
            .withColumn(
                "__dupchars",
                F.sum(F.when(F.col("cnt") > 1,
                             F.col("cnt") * F.col("gchars"))
                      .otherwise(F.lit(0))).over(w_doc))
            .filter(F.col("__rn") == 1)
            .select(
                F.col(key_col),
                F.col("cnt").cast("long").alias("top_count"),
                F.col("gram").alias("top_gram"),
                F.round(F.col("cnt") * F.col("gchars")
                        / F.col("__tc").cast("double"), 6)
                .alias("top_frac"),
                F.round(F.col("__dupchars")
                        / F.col("__tc").cast("double"), 6)
                .alias("dup_frac")))


def decontaminate(df, eval_df, text_col: str = "text",
                  key_col: str = "doc_id", n: int = 13,
                  mode: str = "flag") -> "DataFrame":
    """Benchmark decontamination: drop (or flag) training documents
    sharing any word ``n``-gram with an evaluation set — the
    standard n-gram-overlap rule (GPT-3 appendix C / PaLM-style
    13-gram decontamination).

    Scale shape: the EVAL side is small by definition (benchmark
    suites are thousands of docs), so its distinct gram hashes
    BROADCAST; the corpus side explodes grams map-side, hashes them
    to 8-byte longs (xxhash64 — content-stable across executors) and
    left-semi probes the broadcast set.  One broadcast join, no
    corpus shuffle; per-doc dedup of hits is a map-side
    array_distinct.  mode="flag" adds (contaminated, n_hits);
    mode="drop" returns the clean corpus."""
    from pyspark.sql import functions as F

    def grams(col):
        norm = F.trim(F.regexp_replace(F.lower(F.col(col)),
                                       r"\s+", " "))
        toks = F.split(norm, " ")
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.xxhash64(
                    F.concat_ws(" ", F.slice(toks, i, n))))
        ).otherwise(F.array().cast("array<bigint>"))

    eval_grams = (eval_df.select(
        F.explode(grams(text_col)).alias("h")).distinct())
    hits = (df.select(F.col(key_col),
                      F.explode(F.array_distinct(grams(text_col)))
                      .alias("h"))
            .join(F.broadcast(eval_grams), "h", "left_semi")
            .groupBy(key_col)
            .agg(F.count("*").cast("long").alias("n_hits")))
    out = (df.join(hits, key_col, "left")
           .withColumn("n_hits",
                       F.coalesce(F.col("n_hits"), F.lit(0)))
           .withColumn("contaminated", F.col("n_hits") > 0))
    if mode == "drop":
        return out.filter(~F.col("contaminated")) \
            .drop("contaminated", "n_hits")
    if mode != "flag":
        raise ValueError(f"unknown decontaminate mode {mode!r}")
    return out
