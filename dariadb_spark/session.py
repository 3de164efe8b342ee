"""SparkSession construction and runtime conf enforcement.

The correctness driver constructs its own SparkSession and hands it to the
query callables, so every conf the engine depends on must be *runtime*
settable and is (re-)applied via :func:`ensure_runtime_confs` at the top of
each query. ``get_spark`` is used by our own tests, perfbench and the
oracle sweep (tools/full_sweep.py).
"""

from __future__ import annotations

import os
import tempfile
import threading

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

#: Confs the engine semantics depend on; all runtime-settable.
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic wall-clock semantics: all timestamps interpreted in UTC.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries TIMESTAMP(NANOS). Builds honoring this legacy
    # conf surface it as raw int64 nanos; newer builds ignore it and read
    # TIMESTAMP_NTZ floored to µs. model.measurements() handles both (the
    # engine-wide rule stays: time is int64 ms, ns→ms floor, matching
    # DuckDB epoch_ms()).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow transfer for any pandas interchange / pandas UDFs.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Runtime re-planning: partition coalescing, skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
}


#: Confs of the serving session (:func:`serving_session`), applied over
#: :data:`RUNTIME_CONFS`. A store verb given ids answers a request-sized
#: read, for which Spark's per-query fixed costs outweigh what these
#: features buy.
SERVING_CONFS: dict[str, str] = {
    # AQE runs each shuffle's map side as a job of its own and re-plans
    # after it: one verb, two jobs. Without it a verb is one job.
    "spark.sql.adaptive.enabled": "false",
    # Generated code inlines each request's ids and bounds as literals,
    # so a new request means new classes to compile. NO_CODEGEN evaluates
    # predicates and projections interpreted, and Spark then inserts no
    # whole-stage codegen either; the parquet scan stays vectorized. This
    # is an internal Spark conf, set here on the serving session only; a
    # deployment that rejects it keeps the compiled form.
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the confs the engine requires to an externally-built session.
    On the serving session (:func:`serving_session`) the serving confs
    stay applied over them."""
    confs = RUNTIME_CONFS
    if getattr(spark, "_dariadb_serving_of", None) is not None:
        confs = {**RUNTIME_CONFS, **SERVING_CONFS}
    for key, value in confs.items():
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:
            # Non-settable in some deployment: leave it; plans still run,
            # only ns-parquet reads would fail and that surfaces loudly.
            pass
    _ship_package(spark)
    return spark


_SERVING_LOCK = threading.Lock()


def serving_session(spark: SparkSession) -> SparkSession:
    """The session the engine serves request-sized store reads in
    (``TsEngine``'s verbs given ids): a child of ``spark``
    (``newSession()``: same SparkContext, cache and catalog, its own confs
    and temp views), made once per session. It starts from a snapshot of
    ``spark``'s SQL confs taken when it is made (later changes to
    ``spark`` do not reach it), then :data:`RUNTIME_CONFS`, then
    :data:`SERVING_CONFS`. ``spark`` itself keeps its confs (AQE on), as
    do the store's own ``read()`` frames and everything else built on
    them. Given a serving session, returns it."""
    if getattr(spark, "_dariadb_serving_of", None) is not None:
        return spark
    serving = getattr(spark, "_dariadb_serving", None)
    if serving is not None:
        return serving
    with _SERVING_LOCK:
        serving = getattr(spark, "_dariadb_serving", None)
        if serving is None:
            serving = spark.newSession()
            own = serving.conf.getAll
            for key, value in spark.conf.getAll.items():
                if key.startswith("spark.sql.") and own.get(key) != value:
                    try:
                        serving.conf.set(key, value)
                    except AnalysisException:
                        pass  # a static conf: the child shares its value
            serving._dariadb_serving_of = spark
            ensure_runtime_confs(serving)
            spark._dariadb_serving = serving
    return serving


def in_session(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s analyzed plan as a frame of ``spark`` (a session of the
    same SparkContext), so that ``spark``'s confs plan and run it and a
    ``spark.sql`` statement binds it as a temp view of ``spark``. The
    plan's relations keep the session that built them, which still
    supplies their file listing and read options. The plan is already
    analyzed and its files listed, so neither is done again."""
    if df.sparkSession is spark:
        return df
    plan = df._jdf.queryExecution().analyzed()
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, plan
    )
    return DataFrame(jdf, spark)


def _ship_package(spark: SparkSession) -> None:
    """Make ``dariadb_spark`` importable on executor Python workers.

    Pandas-UDF closures are pickled by reference to this module, so the
    workers must be able to import it — true on a cluster and equally on
    an externally-built local session whose cwd is not the repo root.
    ``addPyFile`` distributes a zip of the package and prepends it to the
    workers' (and driver's) import path; done once per SparkContext.
    """
    sc = spark.sparkContext
    if getattr(sc, "_dariadb_pkg_shipped", False):
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"dariadb_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fname in files:
                if fname.endswith(".py"):
                    full = os.path.join(root, fname)
                    rel = os.path.join(
                        "dariadb_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    try:
        sc.addPyFile(zip_path)
        sc._dariadb_pkg_shipped = True
    except Exception:
        pass  # already added under this name, or restricted deployment


#: Compiled classes Spark's code-generation cache keeps (static conf,
#: set by :func:`get_spark` only): ≥3× the up to ~180 classes one
#: analytics pass compiles, rounded up to a power of ten.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "dariadb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local session sized from env (tests/tools entry point).

    On a real cluster none of the sizing below applies — the engine is pure
    DataFrame plans and inherits whatever the cluster provides; AQE picks
    post-shuffle parallelism at runtime.

    The session's code-generation cache holds
    :data:`CODEGEN_CACHE_ENTRIES` compiled classes. One pass of the
    perfbench analytics queries compiles 150–180 distinct classes; with
    Spark's default of 100 the least-recently-used cache evicts each one
    before the next pass needs it, so every pass recompiles and the JIT
    never keeps a hot copy. ``spark.sql.codegen.cache.maxEntries`` is a
    static conf, read once when the SparkContext starts: it takes effect
    only when this call creates the context, and
    :func:`ensure_runtime_confs` cannot set it. A session built elsewhere
    (the correctness driver's own, or one that already exists when this
    is called) keeps its own value, Spark's 100 unless its builder set it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = str(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    return ensure_runtime_confs(builder.getOrCreate())
