"""SparkSession factory with scale-oriented defaults.

Defaults mirror the reference engine's tuning knobs where a Spark
equivalent exists:

* Arrow batch size 65536 == OGR's MAX_FEATURES_IN_BATCH default
  (ogr/ogrsf_frmts/generic/ogrlayerarrow.cpp:2079)
* AQE on (runtime re-planning, skew-join handling) — replaces GDAL's
  static chunking (alg/gdalwarpoperation.cpp:611 64MB chunks)
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()


def ship_package(spark: SparkSession) -> None:
    """Ship gdal_spark to executors (the local-mode equivalent of
    ``spark-submit --py-files gdal_spark.zip``).

    Idempotent per SparkContext; safe to call from every entry point
    so the engine works regardless of who built the session.
    """
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zip_path = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), "gdal_spark_pyfiles.zip"
    )
    with zipfile.ZipFile(zip_path, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    sc.addPyFile(zip_path)
    _SHIPPED.add(key)


# logical operators planned over an exchange (a shuffle or a broadcast)
_EXCHANGE_OPS = frozenset({
    "Aggregate", "Join", "Window", "RepartitionByExpression", "GlobalLimit",
    "Offset", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas"})


def _has_exchange(plan) -> bool:
    """Whether a JVM logical plan, subqueries included, plans an exchange."""
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if (name in _EXCHANGE_OPS
                or name == "Repartition" and node.shuffle()
                or name == "Sort" and getattr(node, "global")()):
            return True
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return False


def spread_for_kernel(df):
    """The engine's one partition-width rule in front of a CPU-bound
    python kernel.  It reads ``df``'s optimized logical plan and runs
    no Spark job:

    1. The nearest width-setting node, looking through Project and
       Filter, is ``repartition(n)``, ``coalesce(n)`` or a fixed-count
       RepartitionByExpression: ``df`` is kept, the caller chose.
    2. The plan has an exchange (Aggregate, Join, Window, global Sort,
       grouped pandas): ``df.repartition(defaultParallelism)``; under
       AQE a partition count would run the shuffle stages twice.
    3. Otherwise ``df`` is spread to defaultParallelism when its
       partition count, which then runs no job, is lower (one small
       parquet file scans as ONE partition)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    plan = top = df._jdf.queryExecution().optimizedPlan()
    while top.getClass().getSimpleName() in ("Project", "Filter"):
        top = top.child()
    name = top.getClass().getSimpleName()
    if name == "Repartition" or (name == "RepartitionByExpression"
                                 and top.optNumPartitions().isDefined()):
        return df
    if _has_exchange(plan) or df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def get_spark(
    app_name: str = "gdal_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
