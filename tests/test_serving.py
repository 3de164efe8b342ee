"""The serving session the store verbs given ids run in
(``session.serving_session``): only those verbs run there, its confs stay
its own while the main session keeps AQE and codegen, the verb statements
leave no temp views behind, a warm verb compiles no class for fresh
request values, and a name glob reaches Spark only as a Column literal,
so its special characters match literally. The main session's
code-generation cache holds a pass of distinct classes."""

from __future__ import annotations

import pytest

from dariadb_spark.engine import PATTERN_REQUEST_MAX_SERIES, TsEngine
from dariadb_spark.session import (
    RUNTIME_CONFS,
    SERVING_CONFS,
    ensure_runtime_confs,
    serving_session,
)
from tests.test_engine import N_STEPS, STEP, T0, _grid

END = T0 + N_STEPS * STEP


@pytest.fixture(scope="module")
def store_engine(spark, tmp_path_factory):
    eng = TsEngine.open(spark, str(tmp_path_factory.mktemp("serving")))
    eng.append(_grid())
    for sid in range(3):
        eng.scheme.register(f"host0.sensor{sid}", sid)
    return eng


def _verbs(eng: TsEngine, k: int) -> dict:
    """The eight store verbs, with ids and bounds that differ for each
    ``k`` (id 50 + k exists nowhere)."""
    ids = [1, 2 + k % 3, 50 + k]
    lo, hi = T0 + k, END - k
    return {
        "read_interval": lambda: eng.read_interval(ids, lo, hi),
        "read_time_point": lambda: eng.read_time_point(ids, hi - k * STEP),
        "current_value": lambda: eng.current_value(ids),
        "stat": lambda: eng.stat(ids, lo, hi),
        "calc": lambda: eng.calc(["average", "median"], ids, lo, hi),
        "downsample": lambda: eng.downsample("day", ids, lo, hi),
        "min_max_time": lambda: eng.min_max_time(ids),
        "read_interval_by_pattern": lambda: eng.read_interval_by_pattern(
            "host0.*", lo, hi
        ),
    }


def _formatter_views(session) -> list[str]:
    """Temp views ``spark.sql(text, name=frame)`` registers for its
    frames (``_pyspark_<uuid>``) still present in ``session``."""
    return [
        t.name
        for t in session.catalog.listTables()
        if t.name.startswith("_pyspark_")
    ]


def test_request_sized_store_reads_run_in_the_serving_session(
    spark, store_engine
):
    """A store verb given ids runs in the serving session; the store's own
    ``read()``, the verbs over all series and the other consumers of a
    store frame (window operators, rollups) keep the main session."""
    serving = serving_session(spark)
    assert serving is not spark
    assert serving_session(serving) is serving
    assert serving.sparkContext is spark.sparkContext
    assert store_engine.meas().sparkSession is spark
    for verb, build in _verbs(store_engine, 0).items():
        assert build().sparkSession is serving, verb
    store_wide = {
        "read_interval": store_engine.read_interval(None, T0, END),
        "current_value": store_engine.current_value(None),
        "stat": store_engine.stat(None, T0, END),
        "load_min_max": store_engine.load_min_max(),
        "downsample": store_engine.downsample("day"),
        "rate": store_engine.rate([1, 2], T0, END),
        "rolling_median": store_engine.rolling_median([1, 2], T0, END),
        "partition_stats": store_engine.partition_stats(),
    }
    for verb, df in store_wide.items():
        assert df.sparkSession is spark, verb
    # NO_CODEGEN leaves no whole-stage codegen stage (they print as
    # "*(n)"), while the scan still reads parquet vectorized
    df = store_engine.stat([1, 2], T0, END)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" not in plan and "Batched: true" in plan, plan


def test_pattern_scan_over_a_large_catalog_sorts_globally(spark, tmp_path):
    """Over a catalog larger than ``PATTERN_REQUEST_MAX_SERIES`` a glob
    may match a store-sized share of the series: the pattern scan then
    keeps the global range-partitioned sort in the main session, and
    still answers in (id, time) order."""
    eng = TsEngine.open(spark, str(tmp_path / "s"))
    eng.append(_grid())
    small = eng.read_interval_by_pattern("*", T0, END)
    assert small.sparkSession is serving_session(spark)
    for sid in range(PATTERN_REQUEST_MAX_SERIES + 1):
        eng.scheme.register(f"wide.s{sid}", sid)
    wide = eng.read_interval_by_pattern("wide.*", T0, END)
    assert wide.sparkSession is spark
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan, plan
    rows = [(r.id, r.time) for r in wide.collect()]
    assert rows == sorted(rows)
    assert rows == [
        (r.id, r.time) for r in eng.read_interval(None, T0, END).collect()
    ]


def test_sessions_keep_their_own_confs(spark, store_engine, sf_dir):
    """After store verbs have run, the main session still has AQE on and
    codegen at its defaults; the serving session keeps its confs through
    a re-application of the runtime confs (on either session) and a
    registry query in the main session."""
    from dariadb_spark.registry import REGISTRY

    serving = serving_session(spark)
    for build in _verbs(store_engine, 1).values():
        build().collect()
    ensure_runtime_confs(spark)
    REGISTRY["stat_block"].fn(spark, sf_dir).collect()
    ensure_runtime_confs(serving)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.codegen.wholeStage") == "true"
    assert spark.conf.get("spark.sql.codegen.factoryMode") == "FALLBACK"
    for key, value in SERVING_CONFS.items():
        assert serving.conf.get(key) == value, key
    for key, value in RUNTIME_CONFS.items():
        if key not in SERVING_CONFS:
            assert serving.conf.get(key) == value, key
    # the child starts from the parent's SQL confs
    assert serving.conf.get("spark.sql.shuffle.partitions") == spark.conf.get(
        "spark.sql.shuffle.partitions"
    )


def test_verbs_leave_no_temp_views(spark, store_engine):
    """Each verb binds its frames as temp views of the session its
    statement runs in and drops them after analysis: none pile up in
    either catalog, whether the frame is a store read (serving session)
    or a main-session frame."""
    serving = serving_session(spark)
    frame_engine = TsEngine.from_dataframe(
        spark,
        spark.createDataFrame(
            _grid(), "id bigint, time bigint, value double, flag bigint"
        ),
    )
    frame_engine.scheme = store_engine.scheme
    for k in range(20):
        for eng in (store_engine, frame_engine):
            builds = list(_verbs(eng, k).values())
            builds[k % len(builds)]().collect()
    assert _formatter_views(spark) == []
    assert _formatter_views(serving) == []


def test_warm_verbs_compile_no_class_for_fresh_request_values(
    spark, store_engine
):
    """Generated code inlines literals, so in a compiling session each new
    id list or bound is a new class. The serving session evaluates
    interpreted: a warm verb called with fresh ids and bounds compiles
    nothing, through ``collect`` and through the Arrow ``toPandas`` the
    wire's binary encoding uses."""
    metric = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    for k in (0, 1):
        for build in _verbs(store_engine, k).values():
            build().collect()
            build().toPandas()
    for verb, build in _verbs(store_engine, 7).items():
        before = metric.getCount()
        build().collect()
        build().toPandas()
        assert metric.getCount() == before, verb


def test_codegen_cache_keeps_a_pass_of_distinct_classes(spark):
    """``get_spark`` sizes Spark's code-generation cache (a static conf)
    past the analytics queries' working set: 150 statements, each
    compiling classes of its own (300 in all), compile nothing when run
    again in the same order. With Spark's default of 100 entries the least-recently
    used cache evicts every class before its next use."""
    metric = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )

    def one_pass():
        for k in range(150):
            spark.range(5).selectExpr(f"id * {k} + {k}").collect()

    before = metric.getCount()
    one_pass()
    assert metric.getCount() - before >= 150
    before = metric.getCount()
    one_pass()
    assert metric.getCount() == before


SPECIAL_NAMES = ["q'a.x", "q\\a.x", "q%a.x", "q_a.x", "qZa.x"]


@pytest.mark.parametrize("catalog", ["json", "table"])
def test_pattern_special_characters_match_literally(spark, tmp_path, catalog):
    """A glob holding ``'``, ``\\``, ``%`` or ``_`` matches that name
    only and raises no SQL error, through the engine verb and the
    catalog's own ``match``, for both catalogs; ``?`` stays a
    wildcard."""
    eng = TsEngine.open(spark, str(tmp_path / "s"), catalog=catalog)
    for sid, name in enumerate(SPECIAL_NAMES):
        eng.scheme.register(name, sid)
    eng.append([(sid, T0, float(sid), 1) for sid in range(len(SPECIAL_NAMES))])
    for sid, name in enumerate(SPECIAL_NAMES):
        rows = eng.read_interval_by_pattern(name, T0, T0).collect()
        assert [(r.id, r.name) for r in rows] == [(sid, name)], name
        assert [r.name for r in eng.scheme.match(name).collect()] == [name]
    wild = eng.read_interval_by_pattern("q?a.x", T0, T0).collect()
    assert [r.name for r in wild] == SPECIAL_NAMES
    assert eng.read_interval_by_pattern("x' OR '1'='1", T0, T0).collect() == []
