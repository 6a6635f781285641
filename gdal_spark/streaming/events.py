"""Structured Streaming wrappers over the batch kernels.

The reference is batch-only (SURVEY §2.6): its closest constructs are
pull-iterator pipelines (apps/gdalalg_vector_pipeline.cpp:374-441) and
async raster reads.  This module gives the engine the streaming
surface GDAL lacks, reusing the *same* operators:

* ``stream_parquet_source`` — incremental page/event batches from a
  directory (the "streamed_dataset" analog,
  apps/gdalalg_abstract_pipeline.cpp:805)
* ``windowed_counts`` — event-time tumbling windows + watermark for
  late data
* ``spatial_join_stream`` — foreachBatch reuse of the two-stage
  spatial join; each micro-batch is checkpointed by the sink, so the
  stream resumes idempotently (same guarantee the lineage Pipeline
  gives batch stages).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType


def stream_parquet_source(spark: SparkSession, path: str,
                          schema: StructType,
                          max_files_per_trigger: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


def windowed_counts(stream: DataFrame, ts_col: str = "ts",
                    window: str = "1 hour", watermark: str = "2 hours",
                    group_cols: list[str] | None = None) -> DataFrame:
    group_cols = group_cols or []
    # watermarks require TIMESTAMP (with tz); parquet NTZ cols cast up
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), *group_cols)
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"),
                F.col("w.end").alias("w_end"), *group_cols, "n")
    )


def sessionize_stream(
    stream: DataFrame, gap_seconds: int = 1800,
    ts_col: str = "ts", user_col: str = "user_id",
    timeout_mode: str = "processing",
) -> DataFrame:
    """Custom stateful streaming operator: per-user session windows
    with a gap timeout, via applyInPandasWithState (the engine's
    example of state beyond built-in windows — GDAL has no streaming
    at all, SURVEY §2.6).

    Emits one row per CLOSED session: (user_id, session_start,
    session_end, n_events).  Sessions close when the event-time gap
    exceeds ``gap_seconds`` or (``timeout_mode="processing"``) the
    state times out.

    ``timeout_mode``: "processing" (default) registers a
    processing-time timer per user so idle sessions eventually
    flush — the long-running-stream behavior.  "none" registers NO
    timers: only data-driven gaps close sessions, each user's open
    session stays in state forever.  Finite replays
    (``trigger(availableNow=True)``) MUST use "none": pending
    processing-time timers keep the query alive after the data is
    exhausted (an availableNow run never terminates on its own and
    whether the final sessions flush becomes a race against when the
    caller stops the query — with "none" the query terminates at
    end-of-data and the closed-session set is deterministic).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    if timeout_mode not in ("processing", "none"):
        raise ValueError(f"unknown timeout_mode {timeout_mode!r}")
    use_timers = timeout_mode == "processing"

    out_schema = StructType([]) \
        .add("user_id", "long").add("session_start", "timestamp") \
        .add("session_end", "timestamp").add("n_events", "long")
    state_schema = StructType([]) \
        .add("start", "double").add("end", "double").add("n", "long")

    def fn(key, pdfs, state):
        import pandas as pd

        ts = []
        for pdf in pdfs:
            ts.extend(pdf[ts_col].astype("int64").to_numpy() / 1e9)
        ts.sort()
        closed = []
        if state.exists:
            s0, e0, n0 = state.get
        else:
            s0 = e0 = None
            n0 = 0
        for t in ts:
            if s0 is None:
                s0, e0, n0 = t, t, 1
            elif t - e0 > gap_seconds:
                closed.append((key[0], s0, e0, n0))
                s0, e0, n0 = t, t, 1
            else:
                e0 = t
                n0 += 1
        if state.hasTimedOut:
            if s0 is not None:
                closed.append((key[0], s0, e0, n0))
            state.remove()
        else:
            state.update((s0, e0, n0))
            if use_timers:
                state.setTimeoutDuration(gap_seconds * 1000)
        if closed:
            # emit microsecond precision: Spark timestamps are us and
            # Arrow refuses a lossy ns -> us cast
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": pd.to_datetime(
                        [c[1] for c in closed], unit="s"
                    ).floor("us"),
                    "session_end": pd.to_datetime(
                        [c[2] for c in closed], unit="s"
                    ).floor("us"),
                    "n_events": [c[3] for c in closed],
                }
            )

    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream.groupBy(user_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            (GroupStateTimeout.ProcessingTimeTimeout if use_timers
             else GroupStateTimeout.NoTimeout),
        )
    )


def dedup_stream(stream: DataFrame, text_col: str = "text",
                 key_col: str = "doc_id") -> DataFrame:
    """Streaming exact dedup: FIRST ARRIVAL WINS per normalized-text
    fingerprint, via applyInPandasWithState — the ingestion-time
    dedup stage of an LLM training-data pipeline (the batch analog is
    dedup.exact_dedup; near-dup minhash runs downstream in batch).

    State per fingerprint group is a single seen marker; within one
    microbatch the smallest key represents the group (deterministic).
    At a 100-TB firehose the state store shards by the fingerprint
    hash exactly like the batch groupBy — no broadcast, no rescan of
    history.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from gdal_spark.operators.dedup import normalized_fingerprint

    src = stream.withColumn("__fp", normalized_fingerprint(text_col))
    out_schema = StructType(
        [f for f in stream.schema.fields])
    state_schema = StructType([]).add("seen", "long")

    def fn(key, pdfs, state):
        import pandas as pd

        first = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            cand = pdf.sort_values(key_col).iloc[:1]
            if first is None or (cand[key_col].iloc[0]
                                 < first[key_col].iloc[0]):
                first = cand
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists or first is None:
            return
        state.update((1,))
        yield first.drop(columns=["__fp"])

    return (
        src.groupBy("__fp")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def near_dedup_stream(stream: DataFrame, out_path: str,
                      checkpoint: str, *,
                      text_col: str = "text",
                      key_col: str = "doc_id",
                      num_hashes: int = 64, shingle: int = 5,
                      bands: int = 16, threshold: float = 0.7,
                      seed: int = 42, max_reps: int = 8
                      ) -> StreamingQuery:
    """Streaming MinHash-LSH NEAR-dedup, first arrival wins — the
    ingestion-time extension of ``dedup_stream`` (whose batch analog
    is dedup.minhash_lsh_dedup; the reference has no streaming
    surface at all, SURVEY §2.6).

    Per micro-batch: a stateless Arrow kernel computes each doc's
    minhash signature (the SAME hash family as the batch operator —
    same seed → identical signatures); JVM expressions explode it
    into ``bands`` bucket keys; a stateful stage keyed on
    (band, bucket) keeps up to ``max_reps`` accepted REPRESENTATIVE
    signatures per bucket (CLAUDE.md's star rule: LSH buckets on
    heavy-dup corpora hold whole clusters, so the cluster
    representative is what matters — state stays O(reps), never
    O(docs)); a new doc whose signature agrees with any rep on ≥
    ``threshold`` of the hashes is flagged in that band.  The final
    per-doc verdict (dup in ANY band → drop) reduces inside
    foreachBatch — every band row of a doc lives in the same
    micro-batch — and survivors append to ``out_path``.

    Declared deviation from the batch operator: the streaming verify
    step is the SIGNATURE estimate, not exact shingle Jaccard (the
    shingle sets cannot live in state at a firehose; estimate error
    is the standard 1/sqrt(num_hashes) MinHash bound).  State is
    per-bucket and shards by hash exactly like the batch groupBy;
    replay of a checkpointed batch re-yields the same survivors
    (state transitions are deterministic: rows process in key
    order)."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, StructField,
    )

    payload_cols = [c for c in stream.columns if c != key_col]
    rows_per_band = num_hashes // bands

    # signature kernel with payload passthrough (a JOIN back to the
    # stream would be an illegal stream-stream self-join) — the SAME
    # hash family as dedup.minhash_signatures, so streaming and
    # batch signatures are bit-identical
    import numpy as np

    from gdal_spark.operators.dedup import _MERSENNE, _gram_stream

    rng = np.random.RandomState(seed)
    ha = rng.randint(1, _MERSENNE, size=num_hashes,
                     dtype=np.int64).astype(np.uint64)
    hb = rng.randint(0, _MERSENNE, size=num_hashes,
                     dtype=np.int64).astype(np.uint64)

    from pyspark.sql.types import ArrayType as _Arr, LongType as _L

    sig_schema = StructType(
        [stream.schema[key_col]]
        + [StructField(c, stream.schema[c].dataType, True)
           for c in payload_cols]
        + [StructField("sig", _Arr(_L()))])

    def sign(batches):
        for batch in batches:
            if len(batch) == 0:
                continue
            flat, bounds = _gram_stream(batch[text_col], shingle)
            mins = np.empty((num_hashes, len(batch)),
                            dtype=np.uint64)
            for i in range(num_hashes):
                hv = (ha[i] * flat + hb[i]) % _MERSENNE
                mins[i] = np.minimum.reduceat(hv, bounds[:-1])
            out = batch[[key_col] + payload_cols].copy()
            out["sig"] = [s.tolist()
                          for s in mins.astype(np.int64).T]
            yield out

    joined = stream.mapInPandas(sign, sig_schema)
    band_structs = F.array(*[
        F.struct(F.lit(i).alias("band_id"),
                 F.hash(F.slice("sig", i * rows_per_band + 1,
                                rows_per_band)).alias("bucket"))
        for i in range(bands)])
    exploded = (joined.select(
        key_col, "sig", *payload_cols,
        F.explode(band_structs).alias("b"))
        .select(
            key_col, "sig",
            F.col("b.band_id").alias("band_id"),
            F.col("b.bucket").alias("bucket"),
            *[F.when(F.col("b.band_id") == 0, F.col(c)).alias(c)
              for c in payload_cols]))

    out_schema = StructType(
        [stream.schema[key_col],
         StructField("__dup", IntegerType())]
        + [StructField(c, stream.schema[c].dataType, True)
           for c in payload_cols])
    state_schema = StructType([
        StructField("reps", ArrayType(LongType())),
        StructField("n", LongType()),
    ])

    def fn(key, pdfs, state):
        if state.exists:
            stored, n_reps = state.get
            reps = np.asarray(stored, dtype=np.int64) \
                .reshape(int(n_reps), num_hashes)
        else:
            reps = np.empty((0, num_hashes), dtype=np.int64)
        out_rows = []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(key_col)
            for _, r in pdf.iterrows():
                sig = np.asarray(r["sig"], dtype=np.int64)
                dup = 0
                if len(reps):
                    est = (reps == sig).mean(axis=1).max()
                    dup = int(est >= threshold)
                if not dup and len(reps) < max_reps:
                    reps = np.vstack([reps, sig[None, :]])
                out_rows.append(
                    [r[key_col], dup]
                    + [r[c] for c in payload_cols])
        if len(reps):
            state.update((reps.ravel().tolist(), len(reps)))
        if out_rows:
            yield pd.DataFrame(
                out_rows, columns=[key_col, "__dup"] + payload_cols)

    verdicts = (exploded
                .groupBy("band_id", "bucket")
                .applyInPandasWithState(
                    fn, out_schema, state_schema, "append",
                    GroupStateTimeout.NoTimeout))

    def handle(batch: DataFrame, batch_id: int) -> None:
        aggs = [F.max("__dup").alias("__dup")] + [
            F.first(c, ignorenulls=True).alias(c)
            for c in payload_cols]
        (batch.groupBy(key_col).agg(*aggs)
         .filter(F.col("__dup") == 0)
         .drop("__dup")
         .write.mode("append").parquet(out_path))

    return (verdicts.writeStream
            .foreachBatch(handle)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def spatial_join_stream(
    stream: DataFrame, polys_pdf: pd.DataFrame, out_path: str,
    checkpoint: str, res: int = 6, lon: str = "lon", lat: str = "lat",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Run the two-stage spatial join per micro-batch, appending
    (input columns + fid) parquet under ``out_path``."""
    from gdal_spark.operators.spatial_join import (
        spatial_join_points_in_polygons,
    )

    def handle(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        joined = spatial_join_points_in_polygons(
            spark, batch, polys_pdf, res=res, lon=lon, lat=lat)
        joined.write.mode("append").parquet(out_path)

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _list_state_versions(state_path: str):
    """Published versions of a density state dir: [(n, batch_id)]
    sorted by n.  A version counts as published iff its parquet
    commit marker (_SUCCESS) exists; the batch id that produced it
    is encoded in the DIRECTORY NAME (v{n}_b{batch_id}) so the
    replay check commits atomically with the data."""
    import os
    import re as _re

    out = []
    if not os.path.isdir(state_path):
        return out
    for d in os.listdir(state_path):
        m = _re.fullmatch(r"v(\d+)_b(\d+)", d)
        if m and os.path.exists(os.path.join(state_path, d,
                                             "_SUCCESS")):
            out.append((int(m.group(1)), int(m.group(2))))
    return sorted(out)


def _state_dir(state_path: str, n: int, batch_id: int) -> str:
    import os

    return os.path.join(state_path, f"v{n}_b{batch_id}")


def density_pyramid_stream(
    stream: DataFrame, zoom: int, state_path: str, checkpoint: str,
    tile_size: int = 256, lon: str = "lon", lat: str = "lat",
    keep_versions: int = 5,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """INCREMENTAL page-density maintenance: each micro-batch's
    points reduce to the SAME sparse per-tile rows the batch path
    builds (the one-level pyramid, tiling.sparse_pyramid(batch, zoom,
    zoom)), then merge into a versioned sparse state table — after
    any prefix of batches the state equals that density of every
    point seen so far (stream == batch parity, tested), and
    densify/build_pyramid render from it on demand.

    State layout: ``state_path/v{n}_b{batch_id}`` immutable parquet
    versions; each batch reads the latest, merges the delta with
    tiling._merge_sparse, which packs the rows and runs the pyramid's
    own exchange and merge kernel (re-merging sparse rows is
    associative), and publishes the next version.  foreachBatch is
    at-least-once, so applied batch ids are recorded TWICE: in the
    version DIRECTORY NAME and in an append-only marker ledger
    (``state_path/applied/b{batch_id}``) that version pruning never
    touches — a replay arriving after its version dir was pruned
    (e.g. a restart from a checkpoint older than keep_versions
    publishes) is still a no-op (idempotent under crash-replay,
    tested).  Old versions beyond ``keep_versions`` are pruned — a
    long-running reader must materialize within keep_versions-1
    publishes of resolving its version (raise keep_versions for slow
    readers); per batch the work is O(delta + occupied tiles), never
    a rescan of the raw points."""
    import os
    import shutil

    from gdal_spark.operators.tiling import _merge_sparse, \
        sparse_pyramid

    ledger = os.path.join(state_path, "applied")

    def _mark_applied(batch_id: int) -> None:
        os.makedirs(ledger, exist_ok=True)
        with open(os.path.join(ledger, f"b{batch_id}"), "w"):
            pass

    def handle(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if os.path.exists(os.path.join(ledger, f"b{batch_id}")):
            return          # replay of a (possibly pruned) batch
        vs = _list_state_versions(state_path)
        if any(b == batch_id for _, b in vs):
            # published but crashed before the ledger write: repair
            _mark_applied(batch_id)
            return
        delta = sparse_pyramid(batch, zoom, zoom, tile_size, lon, lat)
        if vs:
            n_prev, b_prev = vs[-1]
            prev = spark.read.parquet(
                _state_dir(state_path, n_prev, b_prev))
            merged = _merge_sparse(prev.unionByName(delta))
            nxt = n_prev + 1
        else:
            merged = delta
            nxt = 0
        merged.write.mode("overwrite").parquet(
            _state_dir(state_path, nxt, batch_id))
        _mark_applied(batch_id)
        for n_old, b_old in vs[:max(0, len(vs)
                                    - (keep_versions - 1))]:
            shutil.rmtree(_state_dir(state_path, n_old, b_old),
                          ignore_errors=True)

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_density_state(spark: SparkSession, state_path: str
                       ) -> DataFrame:
    """Latest published sparse density state (see
    density_pyramid_stream; materialize promptly — versions older
    than keep_versions are pruned by the writer)."""
    vs = _list_state_versions(state_path)
    if not vs:
        raise FileNotFoundError(f"no published state in {state_path}")
    n, b = vs[-1]
    return spark.read.parquet(_state_dir(state_path, n, b))
