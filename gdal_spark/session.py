"""SparkSession factory with scale-oriented defaults.

Defaults mirror the reference engine's tuning knobs where a Spark
equivalent exists:

* Arrow batch size 65536 == OGR's MAX_FEATURES_IN_BATCH default
  (ogr/ogrsf_frmts/generic/ogrlayerarrow.cpp:2079)
* AQE on (runtime re-planning, skew-join handling) — replaces GDAL's
  static chunking (alg/gdalwarpoperation.cpp:611 64MB chunks)

Worker bootstrap: executors import the engine from the zip that
``ship_package`` adds to the context, and a reused Python worker runs
``importlib.invalidate_caches()`` before every task.  On CPython < 3.13
that call re-reads the central directory of every zip on the worker's
path once per zip importer (pyspark.zip and each of its packages, the
py4j zip, the shipped engine zip): 17-19 reads and 0.1-0.25 s per
task on a 4-vCPU guest.  Importing this module calls
``install_lazy_zip_invalidation``, a backport of CPython 3.13's lazy
form, so a worker that unpickles an engine kernel pays those reads on
its first task only.
"""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport

from pyspark.sql import SparkSession


class _ZipDirectories(dict):
    """``zipimport._zip_directory_cache`` that reads an archive's
    directory again on a miss, for every reader of the cache:
    importers and ``pkgutil.iter_modules`` alike."""

    def __missing__(self, archive: str) -> dict:
        files = self[archive] = zipimport._read_directory(archive)
        return files


def _drop_zip_directory(self) -> None:
    """zipimporter.invalidate_caches: forget the archive's directory
    until its next lookup."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def _zip_directory(self) -> dict:
    """zipimporter._files: the archive's directory, ``{}`` once the
    archive is gone (3.13's ``_get_files``)."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except zipimport.ZipImportError:
        return {}


def install_lazy_zip_invalidation() -> None:
    """Backport CPython 3.13's lazy ``zipimporter.invalidate_caches``.

    3.11 and 3.12 re-read the whole archive directory in every
    importer's ``invalidate_caches``; 3.13 drops the archive from
    ``zipimport._zip_directory_cache`` and reads it again only on the
    next lookup, so a changed archive is still seen by the next import.
    Here the cache itself reads a missing archive, so ``pkgutil``, which
    indexes it directly, keeps working after an invalidation.
    ``_files`` becomes a view of that cache.  Its setter ignores the
    value: the 3.11 ``__init__`` assigns ``_files`` before ``archive``,
    after storing the same directory in the cache.  Idempotent; does
    nothing on 3.13 and later."""
    zi = zipimport.zipimporter
    if (sys.version_info >= (3, 13)
            or zi.invalidate_caches is _drop_zip_directory):
        return
    zipimport._zip_directory_cache = _ZipDirectories(
        zipimport._zip_directory_cache)
    zi._files = property(_zip_directory, lambda self, files: None)
    zi.invalidate_caches = _drop_zip_directory


install_lazy_zip_invalidation()

_SHIPPED: set[int] = set()


def package_zip(dst: str) -> str:
    """Write gdal_spark's ``.py`` files, stored uncompressed under
    their ``gdal_spark/...`` paths, to the zip ``dst``: the archive
    executors import the engine from (``ship_package``, or
    ``spark-submit --py-files``).  Returns ``dst``."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    with zipfile.ZipFile(dst, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    return dst


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
    sc.addPyFile(package_zip(os.path.join(
        os.environ.get("TMPDIR", "/tmp"), "gdal_spark_pyfiles.zip")))
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


def kernel_name(name: str):
    """Decorator: name a python kernel ``<layer>.<op>.<stage>``.  A
    pandas UDF takes its function's ``__name__``, so this is the name
    the executed plan shows on the kernel's MapInPandas node."""
    def wrap(fn):
        fn.__name__ = name
        return fn
    return wrap


def get_spark(
    app_name: str = "gdal_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """The engine's SparkSession, with the defaults above.

    It also turns off ``spark.python.sql.dataFrameDebugging.enabled``.
    With it on, every ``pyspark.sql.functions`` call and every Column
    method records its Python call site in the JVM, about 10 py4j round
    trips each (an active-session lookup, a conf read, a reflection
    lookup, set and clear, and the later deletes of those objects),
    only so that a DataFrame error message can name that line.  The
    cost: such messages lose the Python call site.  Sessions built
    elsewhere, such as ``tools/submit_job.py``'s, keep PySpark's
    default, and so does a call that returns a session started before
    it: the conf is static."""
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
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
