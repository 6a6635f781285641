"""Deduplication operators for web-scale training-data pipelines.

* exact_dedup      — hash-groupBy on a normalized fingerprint (md5 so
                     the DuckDB oracle can reproduce it)
* minhash_lsh_dedup— shingle -> minhash -> band -> bucket-join
* simhash_dedup    — 64-bit simhash + hamming-band buckets
* ngram_jaccard    — exact n-gram Jaccard for candidate verification

Design notes (100 TB):
- signatures are computed in one Arrow-batched pass over the corpus
  (numpy bit ops, no per-row Python);
- LSH banding turns near-dup detection into bucket grouping; each
  bucket links members to its min-key representative (star pairing),
  so a bucket holding a whole duplicate cluster costs O(k) pairs,
  never the O(k^2) clique;
- candidate pairs pass a cheap signature-estimate prefilter, then
  are verified with EXACT n-gram Jaccard before any row is dropped,
  so false LSH collisions never delete data.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType,
    StructField, StructType
)

from gdal_spark.session import spread_for_kernel

# --- exact -----------------------------------------------------------


def normalized_fingerprint(col: str) -> F.Column:
    """md5 of lowercased whitespace-collapsed text (oracle-friendly)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(F.col(col))), "\\s+", " "))


def exact_dedup(df: DataFrame, text_col: str = "text",
                key_col: str = "doc_id") -> DataFrame:
    """Keep the min-key row per identical normalized text."""
    fp = normalized_fingerprint(text_col).alias("__fp")
    w = Window.partitionBy("__fp").orderBy(key_col)
    return (
        df.withColumn("__fp", fp)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


# --- minhash ---------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def _gram_stream(texts: pd.Series, n: int
                 ) -> tuple[np.ndarray, np.ndarray]:
    """All n-gram hashes of the batch in one flat array + per-doc
    boundaries (starts, len n_docs+1).  One concatenated byte buffer,
    one sliding-window hash pass — no per-doc numpy dispatch.

    Short docs (< n bytes) hash their whole buffer with the same
    polynomial (NOT Python hash(), which is salted per process and
    would make signatures differ between executors)."""
    mult = np.power(np.uint64(257), np.arange(n, dtype=np.uint64),
                    dtype=np.uint64)
    bufs = [(" ".join(str(t).lower().split())).encode("utf-8", "ignore")
            for t in texts]
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64,
                       count=len(bufs))
    per_doc: list[np.ndarray | None] = [None] * len(bufs)
    for i in np.flatnonzero(lens < n):
        b = np.frombuffer(bufs[i] if bufs[i] else b" ", dtype=np.uint8)
        m = np.power(np.uint64(257),
                     np.arange(len(b), dtype=np.uint64),
                     dtype=np.uint64)
        per_doc[i] = np.array([(b.astype(np.uint64) * m)
                               .sum(dtype=np.uint64)], dtype=np.uint64)
    idxs = np.flatnonzero(lens >= n)
    if len(idxs):
        big = np.frombuffer(b"".join(bufs[i] for i in idxs),
                            dtype=np.uint8)
        ls = lens[idxs]
        owner = np.repeat(np.arange(len(idxs), dtype=np.int64), ls)
        win = np.lib.stride_tricks.sliding_window_view(big, n)
        hashes = (win.astype(np.uint64) * mult[None, :]).sum(
            axis=1, dtype=np.uint64)
        # a window is valid when it does not straddle a doc boundary
        p_owner = owner[: len(hashes)]
        valid = owner[np.arange(len(hashes)) + n - 1] == p_owner
        h, d = hashes[valid], p_owner[valid]
        parts = np.split(
            h, np.cumsum(np.bincount(d, minlength=len(idxs)))[:-1])
        for j, arr in enumerate(parts):
            per_doc[idxs[j]] = arr
    counts = np.fromiter((len(a) for a in per_doc), dtype=np.int64,
                         count=len(per_doc))
    flat = (np.concatenate(per_doc) if per_doc
            else np.zeros(0, np.uint64))
    return flat, np.r_[0, np.cumsum(counts)]


def _shingle_hashes(texts: pd.Series, n: int) -> list[np.ndarray]:
    """Sorted-unique n-gram hash SETS per doc (for exact Jaccard)."""
    flat, bounds = _gram_stream(texts, n)
    return [np.unique(flat[bounds[i]:bounds[i + 1]])
            for i in range(len(bounds) - 1)]


def minhash_signatures(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id",
    num_hashes: int = 64, shingle: int = 5, seed: int = 42,
) -> DataFrame:
    """(key, sig: array<long>) minhash signatures, Arrow-batched."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_hashes, dtype=np.int64).astype(
        np.uint64)
    b = rng.randint(0, _MERSENNE, size=num_hashes, dtype=np.int64).astype(
        np.uint64)
    key_type = df.schema[key_col].dataType
    schema = StructType([
        StructField(key_col, key_type),
        StructField("sig", ArrayType(LongType())),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if len(batch) == 0:
                continue
            # ALL grams of the batch permuted per hash function, then
            # per-doc mins via reduceat — duplicates in a doc's gram
            # stream cannot change a min, so no per-doc unique needed;
            # one flat pass per hash keeps memory at O(G), not O(H*G)
            flat, bounds = _gram_stream(batch[text_col], shingle)
            mins = np.empty((num_hashes, len(batch)), dtype=np.uint64)
            for i in range(num_hashes):
                hv = (a[i] * flat + b[i]) % _MERSENNE
                mins[i] = np.minimum.reduceat(hv, bounds[:-1])
            sig_rows = mins.astype(np.int64).T  # (n_docs, H)
            yield pd.DataFrame({
                key_col: batch[key_col],
                "sig": [s.tolist() for s in sig_rows],
            })

    src = spread_for_kernel(df.select(key_col, text_col))
    return src.mapInPandas(kernel, schema)


def minhash_lsh_candidates(
    sigs: DataFrame, key_col: str = "doc_id",
    bands: int = 16, rows_per_band: int = 4,
    pairing: str = "star",
) -> DataFrame:
    """LSH banding candidates (a < b), pure DataFrame ops.

    ``pairing="star"`` (default) pairs every bucket member with the
    bucket's min key — a heavy-duplication corpus puts whole clusters
    in one bucket, and the star keeps the bucket's connectivity with
    O(k) pairs instead of the O(k^2) clique, which is the difference
    between a bounded shuffle and a quadratic blowup at 100 TB.
    ``pairing="all"`` emits the clique (exact single-link recall when
    a bucket mixes docs that only chain pairwise)."""
    band_cols = [
        F.struct(
            F.lit(i).alias("band"),
            F.xxhash64(F.slice("sig", i * rows_per_band + 1, rows_per_band))
            .alias("bucket"),
        )
        for i in range(bands)
    ]
    buckets = (
        sigs.select(key_col, F.explode(F.array(*band_cols)).alias("bb"))
        .select(key_col, F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket"))
    )
    if pairing == "star":
        w = Window.partitionBy("band", "bucket")
        return (
            buckets.withColumn("rep", F.min(key_col).over(w))
            .filter(F.col(key_col) != F.col("rep"))
            .select(F.col("rep").alias("a"), F.col(key_col).alias("b"))
            .distinct()
        )
    left = buckets.alias("l")
    right = buckets.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{key_col}") < F.col(f"r.{key_col}")),
        )
        .select(
            F.col(f"l.{key_col}").alias("a"), F.col(f"r.{key_col}").alias("b")
        )
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id",
    num_hashes: int = 64, shingle: int = 5, bands: int = 16,
    threshold: float = 0.7, seed: int = 42,
) -> DataFrame:
    """Near-dup removal: keep the min-key representative of each
    connected candidate group (single-link via min propagation).

    Pipeline shape (r7): the banding explode CARRIES the signature
    through ONE (band, bucket) hash repartition; a single sorted
    kernel finds each bucket's min-key representative (star pairing)
    AND applies the equal-slot estimate prefilter in the same pass.
    Identical pair set to the window+joins formulation (bucket law,
    min rule and estimate law unchanged), but the window sort, both
    signature-attach joins, the signatures persist and the eager
    checkpoint are gone — the signature frame now has exactly one
    consumer, so nothing is pinned in executor storage between
    calls.  Cost moved into the exchange instead: the banding
    shuffle carries bands x 8 x num_hashes bytes per doc (~8 KB at
    the 64/16 defaults) versus ~20 bytes per band row before — still
    O(corpus signatures), bounded, and strictly fewer stages."""
    rpb = num_hashes // bands
    sigs = minhash_signatures(df, text_col, key_col, num_hashes, shingle,
                              seed)
    band_cols = [
        F.struct(
            F.lit(i).alias("band"),
            F.xxhash64(F.slice("sig", i * rpb + 1, rpb)).alias("bucket"))
        for i in range(bands)]
    exploded = (
        sigs.select(key_col, "sig",
                    F.explode(F.array(*band_cols)).alias("bb"))
        .select(key_col, "sig", F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket"))
    )
    par = df.sparkSession.sparkContext.defaultParallelism
    parts = (exploded.repartition(par, "band", "bucket")
             .sortWithinPartitions("band", "bucket", key_col))
    # estimate cut has slack below the threshold so estimator
    # variance cannot veto a true duplicate; the equal-slot count
    # runs in numpy (the Catalyst zip_with/aggregate form evaluates
    # interpreted — seconds of first-run cost, CLAUDE.md lesson)
    cut = max(threshold - 0.25, 0.0)
    pair_schema = StructType([
        StructField("a", df.schema[key_col].dataType),
        StructField("b", df.schema[key_col].dataType),
    ])

    def star_est(batches: Iterator[pd.DataFrame]
                 ) -> Iterator[pd.DataFrame]:
        # groups are contiguous under the partition sort; a group can
        # span Arrow batches, so the open group's rep carries across
        carry_key = None
        carry_rep = None
        carry_sig = None
        for b in batches:
            n = len(b)
            if not n:
                continue
            bd = b["band"].to_numpy()
            bk = b["bucket"].to_numpy()
            ks = b[key_col].to_numpy()
            sg = np.array(b["sig"].tolist(), dtype=np.int64)
            new = np.ones(n, dtype=bool)
            new[1:] = (bd[1:] != bd[:-1]) | (bk[1:] != bk[:-1])
            cont = (carry_key is not None
                    and (bd[0], bk[0]) == carry_key)
            if cont:
                new[0] = False
            starts = np.flatnonzero(new)
            gid = np.cumsum(new) - 1        # -1 marks the carry segment
            rep_sig = np.empty_like(sg)
            rep_key = np.empty(n, dtype=ks.dtype)
            in_new = gid >= 0
            if starts.size:
                rep_rows = starts[gid[in_new]]
                rep_sig[in_new] = sg[rep_rows]
                rep_key[in_new] = ks[rep_rows]
            if cont and (~in_new).any():
                rep_sig[~in_new] = carry_sig
                rep_key[~in_new] = carry_rep
            est = (sg == rep_sig).sum(axis=1) / float(num_hashes)
            is_rep = np.zeros(n, dtype=bool)
            if starts.size:
                is_rep[starts] = True
            emit = (~is_rep) & (est >= cut)
            if emit.any():
                yield pd.DataFrame({"a": rep_key[emit], "b": ks[emit]})
            if starts.size:
                last = starts[-1]
                carry_key = (bd[n - 1], bk[n - 1])
                carry_rep = ks[last]
                carry_sig = sg[last]
            # else: the whole batch continued the open group

    prefiltered = parts.mapInPandas(star_est, pair_schema).distinct()
    # ... then EXACT n-gram Jaccard before any row is dropped — false
    # LSH collisions never delete data (the module contract)
    verified = (
        ngram_jaccard_pairs(df, prefiltered, text_col, key_col, shingle)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b")
    )
    # each b maps to min(a) over its dup partners; survivors = keys
    # that are never a 'b' with a smaller 'a'
    drop = verified.groupBy("b").agg(F.min("a").alias("rep")) \
        .select(F.col("b").alias(key_col))
    return df.join(drop, key_col, "left_anti")


COLLECT_CAP = 2_000_000


def min_label_roots(n: int, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Connected components of nodes 0..n-1 under edges (u[i], v[i]):
    each node's component minimum, by vectorized min-label propagation
    with pointer jumping (l2 = l2[l2]) — no per-edge python loop."""
    e = np.unique(u * np.int64(n) + v)     # edges often repeat
    u, v = e // max(n, 1), e % max(n, 1)
    lab = np.arange(n, dtype=np.int64)
    while True:
        l2 = lab.copy()
        np.minimum.at(l2, u, lab[v])
        np.minimum.at(l2, v, lab[u])
        l2 = l2[l2]
        if np.array_equal(l2, lab):
            return lab
        lab = l2


def duplicate_clusters(pairs: DataFrame, key_a: str = "a",
                       key_b: str = "b", max_iters: int = 20,
                       collect_cap: int = COLLECT_CAP) -> DataFrame:
    """Connected components over verified duplicate pairs ->
    (doc_id, cluster_id) with cluster_id = min doc_id in the
    component.

    Bounded-collect gate first (the spatial_join "broadcast if
    provably small, else distributed" pattern): up to ``collect_cap``
    pairs resolve in ONE driver pass (min_label_roots) instead of 3
    joins + localCheckpoint + convergence count PER ROUND (two Spark
    actions each).  Larger pair sets pay one extra pairs
    materialization for the probe and fall back to the iterative join
    loop, which never collects.

    Iterative min-label propagation as DataFrame joins (the classic
    large-scale CC pattern — each round joins every node's label with
    its neighbors' and keeps the minimum; converges in O(diameter)
    rounds, which for dup clusters is tiny).  Only documents that
    appear in a pair get a row; singletons are their own cluster.
    """
    if collect_cap and collect_cap > 0:
        probe = pairs.select(F.col(key_a).alias("u"),
                             F.col(key_b).alias("v")) \
            .limit(collect_cap + 1).toPandas()
        if len(probe) <= collect_cap:
            spark = pairs.sparkSession
            out_schema = StructType([
                StructField("doc_id", pairs.schema[key_a].dataType),
                StructField("cluster_id",
                            pairs.schema[key_a].dataType),
            ])
            if not len(probe):
                return spark.createDataFrame([], out_schema)
            u = probe["u"].to_numpy()
            v = probe["v"].to_numpy()
            nodes, inv = np.unique(np.concatenate([u, v]),
                                   return_inverse=True)
            ui, vi = inv[:len(u)], inv[len(u):]
            # labels are indices into the SORTED node array, so the
            # component min index IS the min doc_id of the component
            lab = min_label_roots(len(nodes), ui, vi)
            return spark.createDataFrame(
                pd.DataFrame({"doc_id": nodes,
                              "cluster_id": nodes[lab]}),
                schema=out_schema)
    edges = (
        pairs.select(F.col(key_a).alias("u"), F.col(key_b).alias("v"))
        .unionByName(
            pairs.select(F.col(key_b).alias("u"),
                         F.col(key_a).alias("v")))
        .distinct()
        # localCheckpoint, not .cache(): the loop consumes edges every
        # round but nothing unpersists it after return — a CacheManager
        # entry would live for the session (the r6 minhash leak class)
        .localCheckpoint()
    )
    labels = edges.select("u").distinct() \
        .withColumn("label", F.col("u"))
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u").agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, "u", "left")
            .select(
                "u",
                F.least(F.col("label"),
                        F.coalesce("nlabel", F.col("label")))
                .alias("label"),
            )
        )
        # pointer jumping (path halving): follow label -> label(label)
        # so convergence is O(log diameter), not O(diameter)
        lab2 = new_labels.select(F.col("u").alias("label"),
                                 F.col("label").alias("label2"))
        new_labels = (
            new_labels.join(lab2, "label", "left")
            .select(
                "u",
                F.least(F.col("label"),
                        F.coalesce("label2", F.col("label")))
                .alias("label"),
            )
        )
        # localCheckpoint truncates the logical plan: labels feeds
        # three joins per round, so carrying lineage across rounds
        # grows the plan tree exponentially
        new_labels = new_labels.localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "u")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1).count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("u").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


# --- simhash ---------------------------------------------------------


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       key_col: str = "doc_id", shingle: int = 4
                       ) -> DataFrame:
    """64-bit simhash over character shingles (sign-sum of feature
    hash bits)."""
    key_type = df.schema[key_col].dataType
    schema = StructType([
        StructField(key_col, key_type),
        StructField("simhash", LongType()),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            shingles = _shingle_hashes(batch[text_col], shingle)
            n = len(batch)
            counts = np.fromiter((len(g) for g in shingles),
                                 dtype=np.int64, count=n)
            flat = (np.concatenate(shingles) if n
                    else np.zeros(0, np.uint64))
            # spread 61-bit gram hashes to 64 bits via splitmix step
            flat = flat * np.uint64(0x9E3779B97F4A7C15)
            flat ^= flat >> np.uint64(31)
            bounds = np.r_[0, np.cumsum(counts)]
            # per-bit popcount across the whole batch in one reduceat
            # pass per bit (the per-doc bits matrix + python word
            # loop was ~ms/doc); same math, vectorized across docs
            sums = np.zeros((n, 64), dtype=np.int64)
            nz = counts > 0
            starts = bounds[:-1][nz]
            for bi in range(64):
                col = ((flat >> np.uint64(bi)) & np.uint64(1)) \
                    .astype(np.int64)
                if starts.size:
                    sums[nz, bi] = np.add.reduceat(col, starts)
            # FROZEN LAW (q20 goldens): the original per-doc loop
            # computed `bits.sum()*2 - len(g)` in uint64, where a
            # negative score WRAPS and still passes `> 0` — so a bit
            # is set unless exactly half the grams carry it.  The
            # vectorized form replicates that wraparound semantics
            # explicitly (score != 0), not the signed sign test.
            score = sums * 2 - counts[:, None]
            words = ((score != 0).astype(np.uint64)
                     << np.arange(64, dtype=np.uint64)[None, :]) \
                .sum(axis=1, dtype=np.uint64)
            out = words.astype(np.int64)
            out[~nz] = 0
            yield pd.DataFrame({key_col: batch[key_col], "simhash": out})

    return df.select(key_col, text_col).mapInPandas(kernel, schema)


def simhash_candidates(sigs: DataFrame, key_col: str = "doc_id",
                       n_bands: int = 4) -> DataFrame:
    """Hamming-LSH: split the 64-bit simhash into n_bands words; docs
    sharing any word are candidates (catches hamming distance <
    n_bands by pigeonhole)."""
    width = 64 // n_bands
    bandcols = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), i * width)
            .bitwiseAND(F.lit((1 << width) - 1)).alias("bucket"),
        )
        for i in range(n_bands)
    ]
    buckets = sigs.select(
        key_col, F.explode(F.array(*bandcols)).alias("bb")
    ).select(key_col, "bb.band", "bb.bucket")
    l, r = buckets.alias("l"), buckets.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{key_col}") < F.col(f"r.{key_col}")),
        )
        .select(F.col(f"l.{key_col}").alias("a"),
                F.col(f"r.{key_col}").alias("b"))
        .distinct()
    )


# --- exact n-gram jaccard (verifier / small-scale oracle) ------------


def ngram_jaccard_join(df: DataFrame, text_col: str = "text",
                       key_col: str = "doc_id", n: int = 3,
                       threshold: float = 0.5,
                       max_chars: int = 4096,
                       dense_vocab_cap: int = 4096,
                       chunk_target: int = 2048) -> DataFrame:
    """EXACT all-pairs char-n-gram Jaccard >= threshold.

    Two exact formulations, dispatched on the measured gram
    vocabulary (a bounded collect — the broadcast-if-provably-small
    gate pattern):

    * **small vocabulary** (<= ``dense_vocab_cap`` distinct grams,
      integral keys): blocked chunk-pair kernel.  Docs are hashed
      into K chunks; every chunk pair is one task whose kernel
      computes ALL pairwise intersection counts of its two chunks as
      a float32 matrix product over gram-indicator rows (counts
      <= ``max_chars`` < 2^24, so float32 GEMM is exact).  The
      intrinsic sum-over-grams df(g)^2 work is paid inside BLAS
      instead of as shuffled join rows — on a 5k-doc corpus whose
      heaviest gram appears in 96% of docs this is minutes -> seconds.
      The kernel only PREFILTERS (threshold - 1e-6, strictly wider
      than the round-half-up admit band of 0.5e-6 + fp error); the
      final jaccard/round/filter runs in the JVM with the identical
      expressions as the join path, so results are bit-identical.
    * **large vocabulary or non-integral keys**: the shingle
      equi-join — explode each doc's DISTINCT shingles, equi-join on
      the shingle, count per pair.  Cost is sum over grams of
      df(g)^2, so heavy-tailed grams dominate; for web-scale corpora
      cap df or use minhash_lsh_dedup (the sketch path) — this
      operator is the exact oracle-grade variant.

    Texts are lowercased and capped at ``max_chars`` characters
    (keeps the shingle count per doc bounded; documents beyond the
    cap compare by their prefix, like a shingling window).

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded
    to 6 digits, ordered.
    """
    from pyspark.sql.types import ByteType, ShortType

    t = F.substring(F.lower(F.col(text_col)), 1, max_chars)
    sh = (
        df.select(F.col(key_col).alias("id"), t.alias("t"))
        .filter(F.length("t") >= n)
        .select("id", F.explode(F.expr(
            f"array_distinct(transform(sequence(1, length(t) - {n - 1}),"
            f" i -> substring(t, i, {n})))")).alias("g"))
    )
    key_type = df.schema[key_col].dataType
    integral = isinstance(key_type,
                          (LongType, IntegerType, ShortType, ByteType))
    if integral and dense_vocab_cap > 0:
        vocab_pdf = (sh.select("g").distinct()
                     .limit(dense_vocab_cap + 1).toPandas())
        if len(vocab_pdf) <= dense_vocab_cap:
            return _ngram_jaccard_blocked(
                df, sh, vocab_pdf, key_type, n=n, threshold=threshold,
                text_col=text_col, key_col=key_col,
                chunk_target=chunk_target)
    cnt = sh.groupBy("id").agg(F.count("*").alias("n_g"))
    a = sh.select(F.col("id").alias("id_a"), "g")
    b = sh.select(F.col("id").alias("id_b"), "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b").agg(F.count("*").alias("ni"))
    )
    ca = cnt.select(F.col("id").alias("id_a"),
                    F.col("n_g").alias("na"))
    cb = cnt.select(F.col("id").alias("id_b"),
                    F.col("n_g").alias("nb"))
    return (
        inter.join(ca, "id_a").join(cb, "id_b")
        .withColumn("jaccard", F.round(
            F.col("ni").cast("double")
            / (F.col("na") + F.col("nb") - F.col("ni")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


def _ngram_jaccard_blocked(df: DataFrame, sh: DataFrame, vocab_pdf,
                           key_type, *, n: int, threshold: float,
                           text_col: str, key_col: str,
                           chunk_target: int) -> DataFrame:
    """Small-vocabulary exact path for ngram_jaccard_join (see its
    docstring).  ``sh`` is the (id, g) distinct-shingle frame built
    with the SAME JVM expressions as the equi-join path, so the gram
    sets are identical by construction; ``vocab_pdf`` is the bounded
    collected vocabulary (<= dense_vocab_cap rows).

    Shape: ONE shuffle (gram rows -> chunk groups) packs each chunk
    into a single binary row; the K-row packed frame is
    localCheckpoint'ed (both sides of the chunk-pair join consume
    it — without the checkpoint the whole upstream would execute
    twice, the multi-consumer lineage lesson); chunk pairs
    repartition to an EXPLICIT K(K+1)/2 width before the CPU-bound
    kernel (AQE would coalesce the tiny-byte exchange to ~1 task).
    """
    import math

    spark = df.sparkSession
    out_names = ("id_a", "id_b", "jaccard")
    empty_schema = StructType([
        StructField(out_names[0], key_type),
        StructField(out_names[1], key_type),
        StructField("jaccard", DoubleType()),
    ])
    vocab = np.sort(vocab_pdf["g"].to_numpy(dtype=object))
    v_size = len(vocab)
    if v_size == 0:
        return spark.createDataFrame([], empty_schema)
    vocab_df = spark.createDataFrame(
        pd.DataFrame({"g": vocab,
                      "gid": np.arange(v_size, dtype=np.int64)}))
    sh2 = (sh.filter(F.col("id").isNotNull())
           .join(F.broadcast(vocab_df), "g")
           .select(F.col("id").cast("long").alias("id"),
                   F.col("gid").cast("int").alias("gid")))

    n_docs = max(int(df.count()), 1)
    par = spark.sparkContext.defaultParallelism
    k_chunks = max(1, min(1024, max(
        -(-n_docs // chunk_target),
        min(-(-n_docs // 32), math.isqrt(4 * par) + 1))))

    pack_schema = StructType([
        StructField("c", IntegerType()),
        StructField("ids", BinaryType()),
        StructField("indptr", BinaryType()),
        StructField("gids", BinaryType()),
    ])

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(np.int64)
        gids = pdf["gid"].to_numpy(np.int32)
        order = np.lexsort((gids, ids))
        ids = ids[order]
        gids = gids[order]
        uids, counts = np.unique(ids, return_counts=True)
        indptr = np.zeros(len(uids) + 1, np.int64)
        np.cumsum(counts, out=indptr[1:])
        return pd.DataFrame({
            "c": [int(pdf["c"].iloc[0])],
            "ids": [uids.tobytes()],
            "indptr": [indptr.astype(np.int32).tobytes()],
            "gids": [gids.tobytes()],
        })

    packed = (
        sh2.withColumn("c", F.pmod(F.xxhash64(F.col("id")),
                                   F.lit(k_chunks)).cast("int"))
        .groupBy("c").applyInPandas(pack, pack_schema)
        .localCheckpoint()
    )

    a = packed.select(F.col("c").alias("ca"), F.col("ids").alias("ia"),
                      F.col("indptr").alias("pa"),
                      F.col("gids").alias("ga"))
    b = packed.select(F.col("c").alias("cb"), F.col("ids").alias("ib"),
                      F.col("indptr").alias("pb"),
                      F.col("gids").alias("gb"))
    n_pairs = k_chunks * (k_chunks + 1) // 2
    pairs = (a.join(b, F.col("ca") <= F.col("cb"))
             .repartition(n_pairs, "ca", "cb"))

    kern_schema = StructType([
        StructField("id_a", LongType()), StructField("id_b", LongType()),
        StructField("ni", LongType()), StructField("na", LongType()),
        StructField("nb", LongType()),
    ])
    thr_pre = threshold - 1e-6
    row_block = 1024

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def unpack(ids_b, ptr_b, gid_b):
            ids = np.frombuffer(ids_b, np.int64)
            ptr = np.frombuffer(ptr_b, np.int32).astype(np.int64)
            gid = np.frombuffer(gid_b, np.int32)
            mat = np.zeros((len(ids), v_size), np.float32)
            mat[np.repeat(np.arange(len(ids)), np.diff(ptr)), gid] = 1.0
            return ids, np.diff(ptr).astype(np.int64), mat

        for bt in batches:
            for r in range(len(bt)):
                same = bool(bt["ca"].iloc[r] == bt["cb"].iloc[r])
                ida, na, ma = unpack(bt["ia"].iloc[r], bt["pa"].iloc[r],
                                     bt["ga"].iloc[r])
                if same:
                    idb, nb, mb = ida, na, ma
                else:
                    idb, nb, mb = unpack(bt["ib"].iloc[r],
                                         bt["pb"].iloc[r],
                                         bt["gb"].iloc[r])
                mbt = mb.T
                for lo in range(0, len(ida), row_block):
                    hi = min(lo + row_block, len(ida))
                    ni = ma[lo:hi] @ mbt
                    jac = ni.astype(np.float64) / (
                        na[lo:hi, None] + nb[None, :] - ni)
                    keep = jac >= thr_pre
                    if same:
                        keep &= (np.arange(lo, hi)[:, None]
                                 < np.arange(len(idb))[None, :])
                    ii, jj = np.nonzero(keep)
                    if not len(ii):
                        continue
                    av, bv = ida[lo + ii], idb[jj]
                    niv = ni[ii, jj].astype(np.int64)
                    nav, nbv = na[lo + ii], nb[jj]
                    sw = av > bv
                    yield pd.DataFrame({
                        "id_a": np.where(sw, bv, av),
                        "id_b": np.where(sw, av, bv),
                        "ni": niv,
                        "na": np.where(sw, nbv, nav),
                        "nb": np.where(sw, nav, nbv),
                    })

    return (
        pairs.mapInPandas(kernel, kern_schema)
        .withColumn("jaccard", F.round(
            F.col("ni").cast("double")
            / (F.col("na") + F.col("nb") - F.col("ni")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_a").cast(key_type).alias("id_a"),
                F.col("id_b").cast(key_type).alias("id_b"), "jaccard")
        .orderBy("id_a", "id_b")
    )


def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame,
                        text_col: str = "text", key_col: str = "doc_id",
                        n: int = 5) -> DataFrame:
    """Exact char-n-gram Jaccard for candidate pairs (a, b)."""
    texts = df.select(key_col, text_col)
    ta = texts.select(F.col(key_col).alias("a"),
                      F.col(text_col).alias("text_a"))
    tb = texts.select(F.col(key_col).alias("b"),
                      F.col(text_col).alias("text_b"))
    joined = spread_for_kernel(pairs.join(ta, "a").join(tb, "b"))
    schema = StructType(
        [StructField("a", joined.schema["a"].dataType),
         StructField("b", joined.schema["b"].dataType),
         StructField("jaccard", DoubleType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ga = _shingle_hashes(batch["text_a"], n)
            gb = _shingle_hashes(batch["text_b"], n)
            jac = np.array([
                len(np.intersect1d(x, y, assume_unique=True))
                / max(len(np.union1d(x, y)), 1)
                for x, y in zip(ga, gb)
            ])
            yield pd.DataFrame({"a": batch["a"], "b": batch["b"],
                                "jaccard": jac})

    return joined.mapInPandas(kernel, schema)
