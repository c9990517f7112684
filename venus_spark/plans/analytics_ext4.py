"""Analytics extensions, part 4: operational data-quality staples —
whole-table profiling and latest-state-per-key reconstruction.

Both are queries every warehouse runs daily against its event tables;
the reference's surface stops at SELECTs over logs (README.rst:73-74),
so these sit in the extensions tier with the other dashboard idioms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from venus_spark.functions import fmt_ts, dround
from venus_spark.functions.sqlgen import dround_sql, fmt_ts_sql
from venus_spark.plans.registry import plan
from venus_spark.sources import load_table

# --------------------------------------------------------------------------
# Whole-table column profile
# --------------------------------------------------------------------------

_PROFILE_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct
FROM events"""
    for c in _PROFILE_COLS
)


@plan("profile_events", oracle=_PROFILE_ORACLE)
def profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the events table — row count, null count,
    exact distinct count per column — the data-quality gate that runs
    before anything downstream trusts a new partition. One independent
    single-column aggregate per column, unioned: each branch's parquet
    scan reads ONLY its column (column pruning) and partial-aggregates
    distinct values map-side. The tempting alternative — one aggregate
    with six COUNT(DISTINCT)s — plans as a 7x Expand of the full-width
    scan, the same blow-up the approx_dashboard_tiles rewrite removed
    (a wash at sf0.1 where the table fits in page cache; the Expand
    multiplies shuffle volume 7x at any scale). At 100 TB the drop-in is
    approx_count_distinct per column (one HLL buffer each, single
    scan); exact distincts keep this plan oracle-checkable."""
    ev = load_table(spark, sf_dir, "events")
    parts = [
        ev.select(F.col(c)).agg(
            F.lit(c).alias("col_name"),
            F.count("*").alias("n_rows"),
            (F.count("*") - F.count(c)).alias("n_nulls"),
            F.count_distinct(c).alias("n_distinct"),
        )
        for c in _PROFILE_COLS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# --------------------------------------------------------------------------
# Latest state per key (the upsert/SCD "current view")
# --------------------------------------------------------------------------

_LATEST_ORACLE = f"""
SELECT user_id, {fmt_ts_sql('ts')} AS last_ts, event_type AS last_type,
       value AS last_value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


@plan("latest_event_state", oracle=_LATEST_ORACLE)
def latest_event_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per user — the materialized 'current state' view an
    upsert table (or SCD-2 dimension) reconstructs from an append-only
    log. row_number over (key, time DESC) with an id tie-break;
    WindowGroupLimit keeps one row per key on the map side, so the
    shuffle carries keys, not history — at 100 TB this is the standard
    log-to-snapshot compaction job (a lakehouse MERGE's read half)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            fmt_ts("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        )
    )


# --------------------------------------------------------------------------
# Continuous-aggregate analog: the hourly series served from the
# materialized partial-aggregate rollup.
# --------------------------------------------------------------------------

from venus_spark.plans.venus_surface import _TIMESERIES_ORACLE  # noqa: E402


@plan("timeseries_hourly_rollup", oracle=_TIMESERIES_ORACLE)
def timeseries_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timeseries_hourly served from the MATERIALIZED rollup
    (prepared.events_hourly_rollup — the continuous-aggregate analog):
    the scan reads O(buckets) partial-aggregate rows and re-combines
    them (SUM of counts, SUM of exact decimal partial sums cast to
    double at the end — bit-identical to dsum over the raw table), so
    the fact table is never touched at query time. append_events
    maintains the rollup per batch; tests/test_prepared.py asserts
    append+merge equals a full recompute. Same oracle as
    timeseries_hourly: the layout changes the access path, not the
    answer."""
    from venus_spark.prepared import events_hourly_rollup, merge_hourly_partials

    merged = merge_hourly_partials(events_hourly_rollup(spark, sf_dir))
    return merged.select(
        fmt_ts(F.col("bucket_ts"), micros=False).alias("bucket"),
        "n",
        "total_value",
    )


# --------------------------------------------------------------------------
# Mergeable-sketch tiles: date-range distinct users from daily HLL
# sketches, with a checkable error-bound contract.
# --------------------------------------------------------------------------

_HLL_T0, _HLL_T1 = "2024-01-10", "2024-01-20"

_HLL_RANGE_ORACLE = f"""
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS users_ok
FROM events
WHERE ts >= TIMESTAMP '{_HLL_T0} 00:00:00' AND ts < TIMESTAMP '{_HLL_T1} 00:00:00'
GROUP BY event_type
ORDER BY event_type
"""


@plan("hll_rollup_distinct", oracle=_HLL_RANGE_ORACLE)
def hll_rollup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type over a date RANGE, served by
    union-merging the prepared daily HLL tiles
    (prepared.events_daily_hll): the answer for an arbitrary range
    costs O(days × types) tile rows — the fact table is never
    rescanned and no COUNT(DISTINCT) shuffle runs. This is the
    mergeability property that justifies sketches at 100 TB: daily
    tiles are written once at ingest and compose into any window
    (approx_dashboard_tiles shows the sketch math per group; this plan
    shows the PRE-AGGREGATED deployment). Contract discipline as
    there: the sketch estimate is implementation-specific, so the plan
    emits the exact count (recomputed from the base table as the
    audit) plus a boolean pinning the estimate within ±5% (>6 sigma at
    lgK=14) — an out-of-bound sketch hash-FAILS the oracle compare
    instead of hiding."""
    from venus_spark.prepared import events_daily_hll

    tiles = events_daily_hll(spark, sf_dir)
    merged = (
        tiles.filter(
            (F.col("date") >= F.lit(_HLL_T0).cast("date"))
            & (F.col("date") < F.lit(_HLL_T1).cast("date"))
        )
        .groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("users_sk")).alias("est_users")
        )
    )
    ev = load_table(spark, sf_dir, "events")
    exact = (
        ev.filter(
            (F.col("ts") >= F.lit(f"{_HLL_T0} 00:00:00").cast("timestamp_ntz"))
            & (F.col("ts") < F.lit(f"{_HLL_T1} 00:00:00").cast("timestamp_ntz"))
        )
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact_users"))
    )
    ok = F.col("est_users").between(
        F.col("exact_users") * 0.95, F.col("exact_users") * 1.05
    )
    return (
        merged.join(exact, "event_type")
        .select("event_type", "exact_users", ok.alias("users_ok"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Layout-consistency audit: the fact table vs every derived layout.
# --------------------------------------------------------------------------

_CONSISTENCY_ORACLE = """
WITH b AS (
  SELECT COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS s FROM events
)
SELECT 'events' AS layout, n AS n_rows, s AS id_sum FROM b
UNION ALL SELECT 'events_by_date', n, s FROM b
UNION ALL SELECT 'events_by_user', n, s FROM b
UNION ALL SELECT 'events_zorder', n, s FROM b
UNION ALL SELECT 'events_hourly_rollup', n, CAST(NULL AS BIGINT) FROM b
ORDER BY layout
"""


@plan("layout_consistency_audit", oracle=_CONSISTENCY_ORACLE)
def layout_consistency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy check across the event artifacts: row count and
    event_id checksum recomputed FROM EACH physical layout (base
    parquet, date-partitioned, key-clustered, Z-order) plus the
    rollup's count, all pinned by the oracle to the base table's
    numbers — so a torn rebuild, interrupted swap, or stale restore
    hash-FAILS the compare instead of silently serving wrong rows from
    a faster path. Scope: the reference set is the TABLE OF RECORD the
    layouts were derived from — here the driver's immutable base
    parquet (appends/retention in this harness run against
    test-isolated roots, so the shipped artifacts must match base
    exactly). In a deployment where batches flow through the layouts,
    the same query runs with the maintained fact table as the pin —
    and after retention, against the post-cutoff window. Each branch
    is one column-pruned scan + a 1-row aggregate, so the audit costs
    one pass over each layout's (event_id) column, nothing more.

    The streaming sink needs no companion audit: its four tables
    commit together through one manifest
    (:func:`venus_spark.streaming.write_events_batch`), so a reader
    never sees one of them without the others."""
    from venus_spark.prepared import (
        events_by_date,
        events_by_user,
        events_hourly_rollup,
        events_zorder,
    )

    def counted(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("layout"),
            F.count("*").alias("n_rows"),
            F.sum("event_id").alias("id_sum"),
        )

    base = load_table(spark, sf_dir, "events")
    parts = [
        counted("events", base),
        counted("events_by_date", events_by_date(spark, sf_dir)),
        counted("events_by_user", events_by_user(spark, sf_dir)),
        counted("events_zorder", events_zorder(spark, sf_dir)),
        events_hourly_rollup(spark, sf_dir).agg(
            F.lit("events_hourly_rollup").alias("layout"),
            F.sum("n").alias("n_rows"),
            F.lit(None).cast("long").alias("id_sum"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("layout")


# --------------------------------------------------------------------------
# Series co-movement: pairwise Pearson correlation between event-type
# hourly series (time-series similarity search, the "which metrics move
# together" dashboard question).
# --------------------------------------------------------------------------

from venus_spark.functions import dsum  # noqa: E402
from venus_spark.functions.sqlgen import dsum_sql  # noqa: E402

def _corr_series_oracle() -> str:
    from venus_spark.plans.pipeline_behavioral import _HOURLY_SERIES_SQL

    # GREATEST(0, variance) on both engines: decimal(25,6) quantization
    # of v*v can push a constant series' variance term a hair NEGATIVE
    # (e.g. v=0.0015: n*R(v²) - (n·v)² = -6.25e-06), where DuckDB's
    # SQRT raises Out of Range while Spark returns NaN — the clamp
    # makes both yield a 0 denominator, hence NULL r, identically.
    return f"""
WITH hourly AS (
  {_HOURLY_SERIES_SQL}
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*) AS n,
         {dsum_sql('a.v')} AS sx, {dsum_sql('b.v')} AS sy,
         {dsum_sql('a.v * b.v')} AS sxy,
         {dsum_sql('a.v * a.v')} AS sxx,
         {dsum_sql('b.v * b.v')} AS syy
  FROM hourly a JOIN hourly b
    ON a.h = b.h AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT type_a, type_b, n,
       {dround_sql('''(n * sxy - sx * sy) /
             NULLIF(SQRT(GREATEST(0, n * sxx - sx * sx)) *
                    SQRT(GREATEST(0, n * syy - sy * sy)), 0)''')}
         AS pearson_r
FROM pairs
ORDER BY type_a, type_b
"""


_CORR_SERIES_ORACLE = _corr_series_oracle()


@plan("series_correlation", oracle=_CORR_SERIES_ORACLE)
def series_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation between the event types' hourly
    value series — time-series co-movement, the screening query behind
    'which metrics move together' dashboards and streaming-similarity
    search literature (EDBT 2019's problem, batch form). The series
    join is on the hour bucket (series length × type-pairs rows, both
    bounded by the time range, never by event volume — the fact table
    collapses to one row per (type, hour) at the partial agg), and the
    correlation is computed from the five sufficient statistics with
    the exact decimal accumulator, so both engines evaluate the same
    closed form over identical sums — no reliance on either engine's
    CORR() accumulation order. The variance terms are clamped at 0
    before the square roots (decimal quantization of v² can push a
    constant series' variance fractionally negative — see the oracle
    builder's note), so a constant series yields NULL r identically
    in both engines. The series itself is the shared
    hourly_value_series kernel (EWMA's series, one definition)."""
    from venus_spark.plans.pipeline_behavioral import hourly_value_series

    hourly = hourly_value_series(load_table(spark, sf_dir, "events"))
    a, b = hourly.alias("a"), hourly.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.count("*").alias("n"),
            dsum(F.col("a.v")).alias("sx"),
            dsum(F.col("b.v")).alias("sy"),
            dsum(F.col("a.v") * F.col("b.v")).alias("sxy"),
            dsum(F.col("a.v") * F.col("a.v")).alias("sxx"),
            dsum(F.col("b.v") * F.col("b.v")).alias("syy"),
        )
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.greatest(F.lit(0.0), F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    vary = F.greatest(F.lit(0.0), F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    den = F.sqrt(varx) * F.sqrt(vary)
    return pairs.select(
        "type_a",
        "type_b",
        "n",
        dround(F.try_divide(num, den)).alias("pearson_r"),
    ).orderBy("type_a", "type_b")
