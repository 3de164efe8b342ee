"""Interval bucketing / downsampling — reference ``libdariadb/timeutil.h``
named calendar intervals ("minute30", "hour", "day", "week", "month") and
the scheme-level downsampling that stores ``param.average.hour``-style
derived series (scheme/scheme.cpp, SURVEY.md §2.5 W1/W2).

Fixed-width intervals bucket by pure int64 arithmetic on the epoch-ms
``time`` column — identical in Spark and DuckDB, no timezone/calendar
ambiguity. Calendar intervals (month) go through ``date_trunc`` on a UTC
timestamp reconstructed from ms, then back to ms. The interval names are
an allow-list: only their bucket texts reach SQL.

Plan shape of ``downsample``: one SQL statement
(:func:`~dariadb_spark.model.verb_sql`): filter → ``GROUP BY id,
bucket``, partially aggregated on the map side. With ``ids`` given the
answer is gathered into one partition (``COALESCE(1)``) and sorted there
(``SORT BY``); ``ids=None`` keeps the global ``ORDER BY``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dariadb_spark.model import scan_predicate_sql, verb_sql

MS = {"second": 1_000, "minute": 60_000, "minute30": 1_800_000,
      "hour": 3_600_000, "day": 86_400_000, "week": 604_800_000}

#: calendar intervals → date_trunc unit
CALENDAR = {"month": "month", "year": "year"}


def floor_bucket(col: Column, width_ms: int) -> Column:
    """Fixed-width bucket start with FLOOR semantics over the full int64
    ms domain. ``time - time % w`` truncates toward zero (Spark's ``%``
    takes the dividend's sign), so a pre-1970 sample would land in the
    bucket *after* it; ``pmod`` keeps the floor for negative times too.
    Stays inside whole-stage codegen (pmod is a JVM builtin)."""
    return col - F.pmod(col, F.lit(width_ms))


def floor_bucket_sql(expr: str, width_ms: int) -> str:
    """DuckDB rendering of :func:`floor_bucket` (no pmod builtin — the
    double-mod idiom gives the same floored remainder for any sign)."""
    return f"({expr} - (({expr} % {width_ms}) + {width_ms}) % {width_ms})"


def bucket_column(interval: str) -> Column:
    """Bucket start (epoch ms) for a named interval, over col ``time``."""
    return F.expr(bucket_spark_sql(interval)).alias("bucket_ms")


def bucket_spark_sql(interval: str) -> str:
    """Spark SQL text of the bucket start of a named interval: the
    :func:`floor_bucket` floor for fixed widths, ``date_trunc`` in UTC
    for calendar intervals. An unknown name raises."""
    if interval in MS:
        return f"(time - pmod(time, {MS[interval]}))"
    if interval in CALENDAR:
        return (
            f"unix_millis(date_trunc('{CALENDAR[interval]}', "
            "timestamp_millis(time)))"
        )
    raise ValueError(f"unknown interval {interval!r}")


def bucket_sql(interval: str) -> str:
    """DuckDB rendering of :func:`bucket_column` (UTC semantics)."""
    if interval in MS:
        return floor_bucket_sql("time", MS[interval])
    if interval in CALENDAR:
        return f"epoch_ms(date_trunc('{CALENDAR[interval]}', make_timestamp(time * 1000)))"
    raise ValueError(f"unknown interval {interval!r}")


def derived_id_mapping(
    meas: DataFrame,
    catalog,
    fn_name: str,
    interval: str,
) -> DataFrame:
    """Distributed derived-id allocation for W2 (no driver collect of the
    id domain — round-2 VERDICT item): for every distinct source id,
    compute ``(id, base, dname, derived_id)`` where ``dname =
    <base>.<fn>.<interval>`` and ``derived_id`` is the catalog's existing
    id for that name, or a fresh id above every catalog AND source id.

    Allocation is a join + one ``row_number`` window over the NEW derived
    names (total order by name → deterministic, rerun-stable). The window
    is a single-partition shuffle of the new-name set — catalog
    cardinality, not data cardinality; the measurement rows never pass
    through it. Source ids unknown to the catalog get synthetic
    ``series<id>`` base names bound to their own id, keeping the operator
    total and allocation above them."""
    from pyspark.sql import Window

    cat_df = catalog.to_df()  # (id, name) — catalog-sized
    # one base name per id: a catalog may bind several names (aliases)
    # to the same series id, and joining all of them would fan each
    # source id into multiple derived rows, double-counting the output;
    # min(name) picks one deterministically
    base_names = cat_df.groupBy("id").agg(F.min("name").alias("name"))
    named = (
        meas.select("id")
        .distinct()
        .join(F.broadcast(base_names), "id", "left")
        .select(
            "id",
            F.coalesce(
                "name", F.concat(F.lit("series"), F.col("id"))
            ).alias("base"),
        )
        .withColumn(
            "dname",
            F.concat_ws(".", "base", F.lit(fn_name), F.lit(interval)),
        )
    )
    existing = cat_df.select(
        F.col("name").alias("dname"), F.col("id").alias("existing_id")
    )
    with_existing = named.join(F.broadcast(existing), "dname", "left")
    # max over RAW source ids equals max over distinct ids — reading
    # meas directly keeps the distinct+window subtree out of this
    # branch (r18 profile: the old named-based subtree re-executed the
    # full scan + distinct shuffle a second time inside one plan)
    max_id = (
        meas.select(F.col("id").alias("m"))
        .unionByName(cat_df.select(F.col("id").alias("m")))
        .agg(F.coalesce(F.max("m"), F.lit(-1)).cast("bigint").alias("max_id"))
    )
    return (
        with_existing.crossJoin(F.broadcast(max_id))
        .withColumn(
            "derived_id",
            F.coalesce(
                "existing_id",
                F.col("max_id")
                + F.row_number().over(
                    Window.partitionBy(
                        F.col("existing_id").isNotNull()
                    ).orderBy("dname")
                ),
            ).cast("bigint"),
        )
        .select("id", "base", "dname", "derived_id")
    )


def downsample_to_series(
    meas: DataFrame,
    catalog,
    fn_name: str,
    interval: str,
    sync_catalog: bool = True,
) -> DataFrame:
    """W2 scheme-level downsampling: aggregate each source series per
    bucket with one named statistic function and emit the result as NEW
    measurement rows whose ids live under derived scheme names —
    ``<source_name>.<fn>.<interval>`` (reference: scheme/scheme.cpp derived
    parameters like ``param.average.hour``). The output is a valid
    measurements frame (id/time/value/flag) appendable to any store: a
    rollup pipeline at 100 TB writes it partitioned by the same day key.

    Id allocation is fully distributed (:func:`derived_id_mapping`); the
    measurement aggregate joins the mapping broadcast-side. With
    ``sync_catalog=True`` the catalog-sized mapping delta is registered
    back into ``catalog`` so ``id_by_param`` resolves the derived names —
    the one driver-side step, bounded by series cardinality. At tens of
    millions of series keep the catalog itself as a table: pass
    ``sync_catalog=False`` and persist :func:`derived_id_mapping`'s
    output instead. Derived rows carry flag=0 (synthesized, not sourced).
    """
    from dariadb_spark.functions.statistics import FUNCTION_REGISTRY

    if fn_name not in FUNCTION_REGISTRY:
        raise ValueError(f"unknown statistic function {fn_name!r}")
    map_df = derived_id_mapping(meas, catalog, fn_name, interval)
    if sync_catalog:
        # the mapping is series-cardinality (dimension-sized); pin it
        # once so the register_bulk collect and the broadcast join
        # below don't each re-execute the scan + distinct + allocation
        # window (r18 profile: 3 recomputations of the same subtree)
        map_df = map_df.localCheckpoint()
        catalog.register_bulk(map_df)
    return (
        meas.groupBy("id", bucket_column(interval))
        .agg(F.expr(FUNCTION_REGISTRY[fn_name][0]).alias("value"))
        .join(F.broadcast(map_df.select("id", "derived_id")), "id")
        .select(
            F.col("derived_id").alias("id"),
            F.col("bucket_ms").alias("time"),
            F.col("value").cast("double").alias("value"),
            F.lit(0).cast("bigint").alias("flag"),
        )
    )


def downsample(
    meas: DataFrame,
    interval: str,
    ids: list[int] | None = None,
    from_ms: int | None = None,
    to_ms: int | None = None,
    flag: int = 0,
) -> DataFrame:
    """Per-series per-bucket aggregate block (the derived-series payload:
    avg/min/max/sum/count). Partial aggregation is map-side; the single
    shuffle is on (id, bucket) — the natural key a 100 TB rollup would
    also partition its output by.

    avg is round(sum,6)/count with NO final rounding: the rounded sum is
    bit-identical across engines (accumulation noise ~1e-8 << 5e-7
    boundary gap) and IEEE division is deterministic, so the quotient
    compares exactly. A final round(…,4) would diverge: fixture values
    are 2-decimal and bucket counts are powers of two, so averages land
    EXACTLY on .xxxx5 boundaries where Spark (HALF_UP on shortest
    decimal repr) and DuckDB (binary-value rounding) disagree."""
    bucket = bucket_spark_sql(interval)
    return verb_sql(
        meas,
        f"id, {bucket} AS bucket_ms, count(value) AS cnt, "
        "round(sum(value), 6) / count(value) AS avg_value, "
        "min(value) AS min_value, max(value) AS max_value, "
        "round(sum(value), 4) AS sum_value FROM {m} WHERE "
        f"{scan_predicate_sql(meas, ids, from_ms, to_ms, flag)} "
        f"GROUP BY id, {bucket}",
        bool(ids),
        "id, bucket_ms",
    )
