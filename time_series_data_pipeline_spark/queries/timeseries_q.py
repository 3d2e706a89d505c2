"""Time-series query surface — the reference's actual query engine path
(SURVEY.md §3.3): Flux aggregateWindow / range / last-value restated as
Catalyst plans over the `events` table, plus sliding/session windows,
gap-fill and as-of join.

DuckDB-oracle bucket arithmetic uses make_timestamp(epoch_us // step *
step) — integer µs math, identical to Spark's epoch-aligned F.window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators import timeseries as ts_ops
from ..operators.asof import asof_join
from ..operators.rangejoin import range_join
from ..sources import bucket as bkt
from .registry import ORACLE, _dec, query

_AVG = "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*)"


@query(
    "window_5m_mean",
    oracle=f"""
    SELECT make_timestamp((epoch_us(ts)//300000000)*300000000) AS window_start,
           event_type,
           {_AVG} AS avg_value,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def window_5m_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: Flux `aggregateWindow(every: 5m, fn: mean)` per field
    (reference photo/use-variable.png line 5) — events stands in for the
    long bucket table, event_type for `_field`."""
    return ts_ops.tumbling_agg(
        table(spark, sf_dir, "events"), "ts", "value", ["event_type"], "5 minutes"
    )


@query(
    "flux_pipeline_mean",
    oracle=f"""
    SELECT make_timestamp((epoch_us(ts)//300000000)*300000000) AS window_start,
           event_type AS _field,
           CAST(SUM(CAST(_value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_value,
           COUNT(*) AS n
    FROM (SELECT ts, event_type, value AS _value FROM events
          WHERE event_type = 'click'
            AND ts >= TIMESTAMP '2024-01-08 00:00:00'
            AND ts <  TIMESTAMP '2024-01-15 00:00:00')
    GROUP BY 1, 2
    """,
)
def flux_pipeline_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete Flux pipeline of the reference's dashboard panel
    (photo/use-variable.png lines 1-6): from(bucket) |> range |>
    filter(_measurement) |> filter(_field) |> aggregateWindow(5m, mean),
    via the sources.bucket scan/window_mean composition — events mapped
    to the bucket schema (event_type = `_field`)."""
    ev = table(spark, sf_dir, "events")
    long_df = ev.select(
        F.col("ts").alias("_time"),
        F.lit("events").alias("_measurement"),
        F.col("event_type").alias("_field"),
        F.col("value").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    scanned = bkt.scan(
        long_df,
        measurement="events",
        field="click",
        start="2024-01-08 00:00:00",
        stop="2024-01-15 00:00:00",
    )
    return bkt.window_mean(scanned, "5 minutes")


@query(
    "window_sliding_15m_5m",
    oracle=f"""
    WITH x AS (
      SELECT ts, event_type, value, unnest([0, 1, 2]) AS k FROM events
    )
    SELECT make_timestamp(((epoch_us(ts)//300000000) - k)*300000000) AS window_start,
           event_type,
           {_AVG} AS avg_value,
           COUNT(*) AS n
    FROM x GROUP BY 1, 2
    """,
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 15-minute window every 5 minutes (each event in 3 windows)."""
    return ts_ops.sliding_agg(
        table(spark, sf_dir, "events"), "ts", "value", ["event_type"], "15 minutes", "5 minutes"
    )


@query(
    "resample_hourly",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS bucket,
           event_type,
           COUNT(*) AS n,
           {_AVG} AS avg_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events GROUP BY 1, 2
    """,
)
def resample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-hour downsample (date_trunc path, vs epoch-aligned window)."""
    return ts_ops.resample(table(spark, sf_dir, "events"), "ts", "value", ["event_type"], "hour")


@query(
    "gap_fill_5m",
    # PER-SERIES gap-fill (keys=[event_type]): every series gets the
    # full bucket spine of the queried range — the Flux semantics, where
    # createEmpty/interpolate operate per table (= per _field series;
    # every reference Grafana panel is per-field). Covers BOTH modes in
    # one result: createEmpty (n_events=0 / avg NULL empties) AND linear
    # interpolation (interp_value), interpolated independently per
    # series.
    oracle="""
    WITH a AS (
      SELECT event_type,
             make_timestamp((epoch_us(ts)//300000000)*300000000) AS bucket,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_value
      FROM events GROUP BY 1, 2
    ),
    spine AS (
      SELECT unnest(generate_series(min(bucket), max(bucket), INTERVAL 5 MINUTE)) AS bucket
      FROM a
    ),
    grid AS (
      SELECT k.event_type, s.bucket
      FROM (SELECT DISTINCT event_type FROM a) k CROSS JOIN spine s
    ),
    filled AS (
      SELECT grid.event_type, grid.bucket,
             COALESCE(a.n_events, 0) AS n_events,
             a.avg_value AS avg_value
      FROM grid LEFT JOIN a USING (event_type, bucket)
    ),
    ctx AS (
      SELECT *,
        last_value(CASE WHEN n_events > 0
                        THEN {'b': bucket, 'v': avg_value} END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS p,
        first_value(CASE WHEN n_events > 0
                         THEN {'b': bucket, 'v': avg_value} END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
          AS nx
      FROM filled
    )
    SELECT bucket, event_type, n_events, avg_value,
           CASE WHEN n_events > 0 THEN avg_value
                ELSE p.v + ((nx.v - p.v)
                            * CAST(epoch_us(bucket) - epoch_us(p.b) AS DOUBLE))
                           / CAST(epoch_us(nx.b) - epoch_us(p.b) AS DOUBLE)
           END AS interp_value
    FROM ctx
    """,
)
def gap_fill_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux `aggregateWindow(..., createEmpty: true)` + linear
    interpolation (Flux interpolate.linear), PER SERIES: every 5-minute
    bucket of the query range appears for every event_type series —
    empty ones with n_events=0 and a value interpolated on the line
    between that series' nearest observed buckets (photo/
    use-variable.png line 5: aggregateWindow is per-_field)."""
    ev = table(spark, sf_dir, "events")
    return ts_ops.gap_fill_interpolated(
        ev, "ts", "value", "5 minutes", 300, keys=["event_type"]
    )


@query(
    "last_value_per_type",
    oracle="""
    SELECT event_type, ts AS last_ts, value AS last_value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, value DESC) = 1
    """,
)
def last_value_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference Grafana gauges (SURVEY.md §2.5 A4): latest reading per
    series."""
    return ts_ops.last_value_per_group(
        table(spark, sf_dir, "events"), "ts", "value", ["event_type"]
    )


@query(
    "session_windows_5m",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 5 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization with a 5-minute inactivity gap
    (F.session_window — the [start, last+gap) contract)."""
    return ts_ops.session_agg(table(spark, sf_dir, "events"), "ts", ["user_id"], "5 minutes")


@query(
    "range_join_clicks_before_error",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts, COUNT(c.ts) AS n_clicks_10m
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
    LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      ON c.user_id = e.user_id
     AND c.ts >= e.ts - INTERVAL 10 MINUTE AND c.ts < e.ts
    GROUP BY 1, 2, 3
    """,
)
def range_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join (X6): clicks per user in the 10 minutes
    before each error. Binned equi-join (operators/rangejoin.py), never
    a nested loop; errors with no prior clicks kept via the final left
    join against the match counts."""
    ev = table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    matched = range_join(errors, clicks, by=["user_id"], lower_seconds=600)
    counts = matched.groupBy("event_id").agg(F.count(F.lit(1)).alias("n_clicks_10m"))
    return errors.join(counts, "event_id", "left").select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce("n_clicks_10m", F.lit(0)).alias("n_clicks_10m"),
    )


@query(
    "rollup_day_from_hour",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events GROUP BY 1, 2
    """,
)
def rollup_day_from_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup cascade: daily stats re-aggregated from
    hourly partials (associative count/sum/min/max), never from raw rows
    — the continuous-aggregate pattern. Oracle aggregates raw directly;
    equality IS the associativity proof."""
    return ts_ops.rollup_cascade(
        table(spark, sf_dir, "events"), "ts", "value", ["event_type"], "hour", "day"
    )


@query(
    "counter_rate",
    oracle="""
    SELECT event_type, ts, value,
           round(CASE
             WHEN lag(value) OVER w IS NULL THEN NULL
             WHEN value >= lag(value) OVER w
               THEN (value - lag(value) OVER w)
                    / (CAST(epoch_us(ts) - epoch_us(lag(ts) OVER w) AS DOUBLE)
                       / 1000000.0)
             ELSE value
                  / (CAST(epoch_us(ts) - epoch_us(lag(ts) OVER w) AS DOUBLE)
                     / 1000000.0)
           END, 9) AS rate_per_s
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, value)
    """,
)
def counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style rate() per series: per-pair delta/seconds with
    counter-reset handling (negative delta → raw value)."""
    out = ts_ops.rate(table(spark, sf_dir, "events"), "ts", "value", ["event_type"])
    return out.select(
        "event_type", "ts", "value", F.round("rate_per_s", 9).alias("rate_per_s")
    )


@query(
    "decimate_minmax_15m",
    oracle="""
    SELECT make_timestamp((epoch_us(ts)//900000000)*900000000) AS bucket,
           event_type,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           COUNT(*) AS n_raw
    FROM events GROUP BY 1, 2
    """,
)
def decimate_minmax_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendering decimation: per-series 15-minute min/max envelope —
    the panel-density cap the reference's Grafana applies (BASELINE.md
    'rendered points': 566 @ 15 m)."""
    return ts_ops.decimate_minmax(
        table(spark, sf_dir, "events"), "ts", "value", ["event_type"], "15 minutes"
    )


@query(
    "rolling_stats_zscore",
    # 9-dp rounding absorbs the stddev accumulation-order drift between
    # engines (Welford vs sum-of-squares differ in the last ulp)
    oracle="""
    SELECT event_type, ts, value,
           round(AVG(value) OVER w, 9) AS roll_mean,
           round(STDDEV_SAMP(value) OVER w, 9) AS roll_std,
           round((value - AVG(value) OVER w) / STDDEV_SAMP(value) OVER w, 9)
             AS zscore,
           abs((value - AVG(value) OVER w) / STDDEV_SAMP(value) OVER w) > 3.0
             AS is_anomaly
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, value
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_stats_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling mean/stddev + z-score anomaly flag over the trailing 5
    observations per series (operators/timeseries.rolling_stats)."""
    out = ts_ops.rolling_stats(
        table(spark, sf_dir, "events"), "ts", "value", ["event_type"], 5, 3.0
    )
    return out.select(
        "event_type", "ts", "value",
        F.round("roll_mean", 9).alias("roll_mean"),
        F.round("roll_std", 9).alias("roll_std"),
        F.round("zscore", 9).alias("zscore"),
        "is_anomaly",
    )


def ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series EWMA (α=0.3) via the Arrow applyInPandas escape hatch
    — inherently sequential; golden-tested vs a hand-rolled recurrence
    in tests/test_timeseries_edges.py.

    Retired from the driver registry in round 6 (VERDICT r5 item 7):
    the per-row panel had no SQL oracle, and its recurrence is fully
    attested by the in-window ``ewma_final`` fold oracle plus the
    golden tests. Kept as a public callable for per-row EWMA panels."""
    return ts_ops.ewma(table(spark, sf_dir, "events"), "ts", "value", ["event_type"], 0.3)


@query(
    "funnel_view_click_purchase",
    oracle="""
    WITH f AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT
      COUNT(*) FILTER (WHERE t_view IS NOT NULL) AS n_view,
      COUNT(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view) AS n_view_click,
      COUNT(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view
                         AND t_purchase > t_click) AS n_view_click_purchase
    FROM f
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users whose FIRST view precedes their
    first click precedes their first purchase — one aggregation pass
    (min-per-stage), no self-joins (the n-way-join funnel formulation
    explodes at scale; this stays one shuffle)."""
    ev = table(spark, sf_dir, "events")
    first = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    f = ev.groupBy("user_id").agg(
        first("view").alias("t_view"),
        first("click").alias("t_click"),
        first("purchase").alias("t_purchase"),
    )
    seen_view = F.col("t_view").isNotNull()
    vc = seen_view & (F.col("t_click") > F.col("t_view"))
    vcp = vc & (F.col("t_purchase") > F.col("t_click"))
    return f.agg(
        F.count(F.when(seen_view, 1)).alias("n_view"),
        F.count(F.when(vc, 1)).alias("n_view_click"),
        F.count(F.when(vcp, 1)).alias("n_view_click_purchase"),
    )


@query(
    "weekly_retention",
    oracle="""
    WITH w AS (
      SELECT DISTINCT user_id,
             CAST(floor(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7)
                  AS BIGINT) AS week
      FROM events
    ),
    c AS (SELECT user_id, MIN(week) AS cohort FROM w GROUP BY user_id)
    SELECT c.cohort, w.week, COUNT(*) AS n_active
    FROM w JOIN c USING (user_id)
    GROUP BY 1, 2
    """,
)
def weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-active week; n_active
    per (cohort, week) — the triangle a growth dashboard draws. Two
    aggregations + one join on the deduplicated (user, week) table."""
    ev = table(spark, sf_dir, "events")
    week = F.floor(F.datediff(F.to_date("ts"), F.lit("2024-01-01")) / 7).cast("long")
    w = ev.select("user_id", week.alias("week")).distinct()
    c = w.groupBy("user_id").agg(F.min("week").alias("cohort"))
    return (
        w.join(c, "user_id")
        .groupBy("cohort", "week")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@query(
    "json_props_stats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS DOUBLE)
             / COUNT(*) AS avg_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    WHERE json_extract(props, '$.k') IS NOT NULL
    GROUP BY event_type
    """,
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column support: the events `props` JSON string is
    parsed with a typed ``from_json`` schema (JVM-side, codegen — never
    a Python json.loads) and aggregated. Integer sums are exact, so the
    derived mean is deterministic cross-engine."""
    ev = table(spark, sf_dir, "events")
    k = F.from_json("props", "k BIGINT").getField("k")
    return (
        ev.withColumn("k", k)
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            (F.sum("k").cast("double") / F.count(F.lit(1))).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99
    FROM events GROUP BY event_type
    """,
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per series (the InfluxDB Data
    Explorer aggregate family, SURVEY.md §2.5 A3). F.percentile is the
    exact sort-based aggregate — identical definition to DuckDB's
    quantile_cont; percentile_approx stays available as the sketch path
    at scale."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("p50"),
        F.percentile("value", F.lit(0.9)).alias("p90"),
        F.percentile("value", F.lit(0.99)).alias("p99"),
    )


@query(
    "asof_error_click",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           c.ts AS click_ts, c.value AS click_value
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
)
def asof_error_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (X6): for each error event, the most recent prior click
    by the same user. Spark side: union + last(ignorenulls) window —
    one shuffle, no cross product (operators/asof.py)."""
    ev = table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = asof_join(left, right, by=["user_id"], ts_col="ts", value_cols=["value"], prefix="click_")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("click_ts"),
        F.col("click_value"),
    )


#: Bump when the bucket layout/build changes — part of the cache key.
#: v3: field-clustered files + stats manifest (file-level skipping).
_EVENT_BUCKET_VERSION = "layout-v3b"

def _event_bucket_path(spark: SparkSession, sf_dir: str) -> str:
    """Events materialized ONCE per corpus version into the bucket
    layout (partitionBy(_measurement, _date) + field-clustered,
    field/time-sorted files + stats manifest) — the storage contract
    SCALE.md §1 describes. Queries served off this path read only the
    pruned day-partitions, manifest-kept files, and row-group-skipped
    fields, the honest analog of the reference's indexed TSM store.
    Keyed by source mtime + layout version; atomic-rename publish
    (operators/_util.cached_store). Returns the store path."""
    import os

    from ..operators._util import cached_store

    src = os.path.join(sf_dir, "events.parquet")
    try:
        mtime = int(os.path.getmtime(src))
    except OSError:
        mtime = 0

    def _build(scratch: str) -> None:
        ev = table(spark, sf_dir, "events")
        long_df = ev.select(
            F.col("ts").alias("_time"),
            F.lit("events").alias("_measurement"),
            F.col("event_type").alias("_field"),
            F.col("value").alias("_value"),
            F.create_map().cast("map<string,string>").alias("tags"),
        )
        # field-clustered files (one per field per day) + the stats
        # manifest: single-field queries skip whole files before any
        # footer is opened — the TSM-index analog (VERDICT r5 item 4)
        bkt.write_bucket(long_df, scratch, mode="overwrite", cluster="field")
        bkt.refresh_bucket_manifest(spark, scratch)

    return cached_store(
        _build,
        "tsdp_event_bucket",
        f"{os.path.abspath(sf_dir)}:{mtime}:{_EVENT_BUCKET_VERSION}",
    )


@query(
    "window_5m_mean_bucketed",
    # same semantics as flux_pipeline_mean — but served from the
    # partitioned-sorted bucket layout instead of a raw scan
    oracle=f"""
    SELECT make_timestamp((epoch_us(ts)//300000000)*300000000) AS window_start,
           event_type AS _field,
           CAST(SUM(CAST(_value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_value,
           COUNT(*) AS n
    FROM (SELECT ts, event_type, value AS _value FROM events
          WHERE event_type = 'click'
            AND ts >= TIMESTAMP '2024-01-08 00:00:00'
            AND ts <  TIMESTAMP '2024-01-15 00:00:00')
    GROUP BY 1, 2
    """,
)
def window_5m_mean_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship Flux pipeline served from the BUCKET layout: the
    time-range predicate prunes day-partitions at planning time and the
    field predicate skips row groups (field/time-sorted files), so the
    scan reads ~half the days and one field of one measurement — the
    0.07 s InfluxDB Data-Explorer anchor's real counterpart
    (BASELINE.md 'sub-second on partition-pruned data'). Identical
    result to the raw-scan path; bench carries both so the pruning win
    is a measured number, not a claim.

    Round 6: served through ``scan_bucket`` — the stats manifest drops
    the other fields' files from the read entirely (field-clustered
    layout), so the plan's file list is ~1/|fields| of the store
    before any footer is opened. The prune verdict and the pruned
    relation are reused per session by ``sources.manifest`` (keyed on
    the manifest generation and the exact file list), so a repeat call
    re-derives neither."""
    path = _event_bucket_path(spark, sf_dir)
    scanned = bkt.scan_bucket(
        spark,
        path,
        measurement="events",
        field="click",
        start="2024-01-08 00:00:00",
        stop="2024-01-15 00:00:00",
    )
    return bkt.window_mean(scanned, "5 minutes")


@query(
    "flux_compiled_mean",
    # the SAME semantics as window_5m_mean_bucketed — but the Spark plan
    # is COMPILED from the reference's verbatim Flux text instead of
    # hand-written, so the front-end's translation is itself under the
    # driver's value-hash gate
    oracle="""
    SELECT make_timestamp((epoch_us(ts)//300000000)*300000000) AS window_start,
           'events' AS _measurement,
           event_type AS _field,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS mean,
           COUNT(*) AS n
    FROM events
    WHERE event_type = 'click'
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def flux_compiled_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's dashboard query run AS ITS USERS WRITE IT: the
    verbatim Flux pipeline from photo/use-variable.png lines 1-6
    (from |> range |> filter×2 |> aggregateWindow(mean) |> yield),
    compiled by ``flux.compile_flux`` onto the manifest-pruned bucket
    scan — template variables (${Resistances}, v.windowPeriod) resolved
    exactly the way Grafana fills them. Proves the switching story end
    to end: a reference user's panel text produces the same
    hash-verified numbers as the hand-written DataFrame plan."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: v.timeRangeStart, stop: v.timeRangeStop)
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "${Resistances}")
          |> aggregateWindow(every: v.windowPeriod, fn: mean, createEmpty: false)
          |> yield(name: "mean")
        """,
        {"gas-quality": path},
        params={
            "timeRangeStart": "2024-01-08T00:00:00Z",
            "timeRangeStop": "2024-01-15T00:00:00Z",
            "windowPeriod": "5m",
            "Resistances": "click",
        },
    )


@query(
    "flux_compiled_gauge",
    # the Grafana gauge panel (A4: latest reading per field) as its
    # users write it — `from |> filter |> last()` — compiled onto the
    # bucket store. NULL values are absent from the bucket write's
    # source selection, so the oracle filters them identically.
    oracle="""
    SELECT 'events' AS _measurement, event_type AS _field,
           ts AS last_ts, value AS last_value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY event_type
                               ORDER BY ts DESC, value DESC) = 1
    """,
)
def flux_compiled_gauge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's OTHER panel shape (photo/grafana-result.png
    gauges, A4) through the Flux front-end: ``last()`` per series,
    compiled onto the manifest-pruned bucket scan. With
    `flux_compiled_mean` this covers both query forms the reference's
    dashboards actually issue."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> last()
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_derivative",
    # Flux derivative(unit: 1s, nonNegative: true) — the UI's counter
    # panel — compiled onto operators.timeseries.rate over the bucket
    # store. Mirrors counter_rate's attested oracle shape (reset rule,
    # round-9 determinism) with the store's (_time, _value) tiebreak;
    # NULLIF guards zero-Δt ties exactly like Spark's try_divide. The
    # outer rate_per_s IS NOT NULL mirrors Flux's drop-the-first-row-
    # per-table convention (round 8, ADVICE r7).
    oracle="""
    SELECT * FROM (
      SELECT 'events' AS _measurement, event_type AS _field,
             ts AS _time, value AS _value,
             round(CASE
               WHEN lag(value) OVER w IS NULL THEN NULL
               WHEN value >= lag(value) OVER w
                 THEN (value - lag(value) OVER w)
                      / (CAST(NULLIF(epoch_us(ts) - epoch_us(lag(ts) OVER w),
                              0) AS DOUBLE) / 1000000.0)
               ELSE value
                    / (CAST(NULLIF(epoch_us(ts) - epoch_us(lag(ts) OVER w),
                            0) AS DOUBLE) / 1000000.0)
             END, 9) AS rate_per_s
      FROM events
      WHERE event_type = 'error'
        AND value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, value)
    ) WHERE rate_per_s IS NOT NULL
    """,
)
def flux_compiled_derivative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r6 item 4: `derivative` through the Flux front-end —
    a reference user pasting the InfluxDB UI's counter-rate panel gets
    the per-pair reset-aware delta/Δt over the manifest-pruned bucket
    scan (round 10b: ONE implementation for every (unit, nonNegative)
    combo with the shared null policy — the oracle declares the null
    filter; on this null-free store the values are bit-identical to
    the r8-attested `rate` form). Round-9 rounding applied at the
    query layer exactly as counter_rate does."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    out = compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "error")
          |> derivative(unit: 1s, nonNegative: true)
          |> yield(name: "rate_per_s")
        """,
        {"gas-quality": path},
    )
    return out.select(
        "_measurement", "_field", "_time", "_value",
        F.round("rate_per_s", 9).alias("rate_per_s"),
    )


@query(
    "flux_compiled_moving_avg",
    # Flux timedMovingAverage(period: 1h) — per-point trailing TIME-
    # distance mean, the trailing_1h_mean RANGE-window form served
    # through the front-end. Exact decimal sums keep the means
    # bit-identical across engines (no rounding needed).
    oracle="""
    SELECT 'events' AS _measurement, event_type AS _field,
           ts AS _time, value AS _value,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
             / CAST(COUNT(value) OVER w AS DOUBLE) AS trailing_mean_1h
    FROM events
    WHERE event_type = 'view'
    WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
    """,
)
def flux_compiled_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r6 item 4: `timedMovingAverage` through the Flux
    front-end — compiles onto the trailing RANGE-window mean the engine
    already attests as trailing_1h_mean (TIME-distance frame over epoch
    µs, so irregular sampling is averaged correctly)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "view")
          |> timedMovingAverage(period: 1h)
          |> yield(name: "trailing_mean_1h")
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_row_moving_avg",
    # Flux movingAverage(n: 5) — trailing ROW-frame mean with Flux's
    # drop-the-first-n−1-points convention; exact decimal sums,
    # (_time, _value) tiebreak for deterministic row frames.
    oracle="""
    SELECT 'events' AS _measurement, event_type AS _field,
           ts AS _time, value AS _value,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
             / CAST(COUNT(value) OVER w AS DOUBLE) AS moving_avg
    FROM events
    WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, value
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    QUALIFY row_number() OVER (PARTITION BY event_type
                               ORDER BY ts, value) >= 5
    """,
)
def flux_compiled_row_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r6 item 4 (extended): the row-based `movingAverage(n:)`
    the InfluxDB UI offers beside timedMovingAverage — a trailing
    5-row mean per series that emits only once a full window exists
    (Flux drops the first n−1 points), compiled onto one window
    partitioning = one shuffle."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "purchase")
          |> movingAverage(n: 5)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_increase",
    # Flux increase() — the CUMULATIVE per-point running sum of
    # reset-aware deltas (difference(nonNegative, keepFirst,
    # initialZero) |> cumulativeSum()), per-table first row KEPT with
    # _value 0 (upstream initialZero — round 9, ADVICE r8), nulls
    # excluded before differencing (one declared policy on both
    # engines). Exact decimal deltas, (_time, _value) tiebreak; the
    # cumulative value replaces _value exactly as Flux rewrites it.
    oracle="""
    SELECT 'events' AS _measurement, event_type AS _field, ts AS _time,
           CAST(COALESCE(
             SUM(CASE WHEN prev IS NULL THEN NULL
                      WHEN y >= prev THEN y - prev
                      ELSE y END)
             OVER (PARTITION BY event_type ORDER BY ts, y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             0) AS DOUBLE) AS _value
    FROM (
      SELECT event_type, ts,
             CAST(value AS DECIMAL(18,2)) AS y,
             lag(CAST(value AS DECIMAL(18,2)))
               OVER (PARTITION BY event_type ORDER BY ts, value) AS prev
      FROM events
      WHERE event_type = 'click' AND value IS NOT NULL
    )
    """,
)
def flux_compiled_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux `increase()` through the front-end with its REAL semantics
    (ADVICE r7 medium): the cumulative per-point counter series a
    Grafana counter time-series panel plots — not the one-row total the
    r7 form returned. One window partitioning (lag + running sum over
    the same keys) = one shuffle."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "click")
          |> increase()
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_increase_total",
    # increase() |> last() — the stat-panel total: the cumulative
    # series' final point per table. initialZero (round 9) keeps every
    # source row, so last_ts is simply MAX(ts); the total is the full
    # delta sum because the cumulative is non-decreasing along the
    # window order (a single-point table now yields total 0 instead of
    # vanishing).
    oracle="""
    WITH d AS (
      SELECT event_type, ts,
             CAST(value AS DECIMAL(18,2)) AS y,
             lag(CAST(value AS DECIMAL(18,2)))
               OVER (PARTITION BY event_type ORDER BY ts, value) AS prev
      FROM events
      WHERE event_type = 'error' AND value IS NOT NULL
    )
    SELECT 'events' AS _measurement, event_type AS _field,
           MAX(ts) AS last_ts,
           CAST(SUM(CASE WHEN prev IS NULL THEN CAST(0 AS DECIMAL(18,2))
                         WHEN y >= prev THEN y - prev
                         ELSE y END) AS DOUBLE) AS last_value
    FROM d
    GROUP BY event_type
    """,
)
def flux_compiled_increase_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`increase() |> last()` — the composition ADVICE r7 asked the
    bare form to stop impersonating: the dashboard stat panel's
    per-series total monotonic increase, reduced from the cumulative
    series by the standard last() stage."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "error")
          |> increase()
          |> last()
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_fill_previous",
    # aggregateWindow(createEmpty: true) |> fill(usePrevious) |>
    # rename — the Grafana null-fill panel option plus a rename, both
    # round-8 tail stages, attested through one pipeline. Spine =
    # [min, max] observed buckets per the gap_fill contract; empty
    # leading buckets stay NULL (no previous) on both engines.
    oracle="""
    WITH a AS (
      SELECT 'events' AS _measurement, event_type AS _field,
             make_timestamp((epoch_us(ts)//300000000)*300000000) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS mean
      FROM events
      WHERE event_type = 'purchase'
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-09 00:00:00'
      GROUP BY 1, 2, 3
    ),
    spine AS (
      SELECT unnest(generate_series(min(bucket), max(bucket),
                                    INTERVAL 5 MINUTE)) AS bucket
      FROM a
    ),
    grid AS (
      SELECT k._measurement, k._field, s.bucket
      FROM (SELECT DISTINCT _measurement, _field FROM a) k
      CROSS JOIN spine s
    )
    SELECT grid.bucket AS window_start, grid._measurement, grid._field,
           last_value(a.mean IGNORE NULLS) OVER (
             PARTITION BY grid._measurement, grid._field
             ORDER BY grid.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS mean_filled,
           COALESCE(a.n, 0) AS n
    FROM grid LEFT JOIN a USING (_measurement, _field, bucket)
    """,
)
def flux_compiled_fill_previous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 tail stages through the front-end: a gap-filled 5-minute
    mean where empty buckets carry the previous observed value
    (``fill(usePrevious: true)`` — the Grafana "connect null values /
    fill previous" panel option) and the value column renamed via
    ``rename(columns:)``. The fill window runs over the bucket spine
    (range/step rows per series), never raw volume."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-09T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "purchase")
          |> aggregateWindow(every: 5m, fn: mean, createEmpty: true)
          |> fill(column: "mean", usePrevious: true)
          |> rename(columns: {mean: "mean_filled"})
        """,
        {"gas-quality": path},
    )


@query(
    "flux_schema_field_keys",
    # the Grafana VARIABLE query that populates the reference's
    # ${Resistances} dropdown (photo/use-variable.png): schema.fieldKeys
    # over the bucket — distinct field keys as a _value column. Round
    # 11: the FILTERED-dropdown form (upstream's predicate: +
    # start:/stop: signature) — the predicate and the pruned range both
    # change the result set, so the hash pins those paths too.
    oracle="""
    SELECT DISTINCT event_type AS _value FROM events
    WHERE event_type <> 'view'
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    """,
)
def flux_schema_field_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 8 (predicate/bounds round 11): the dashboard-variable
    surface. A reference user's variable definition
    (`import "influxdata/influxdb/schema"` + `schema.fieldKeys(bucket:,
    predicate:, start:, stop:)`) compiles to a distinct single-column
    scan over the range-pruned store — the dropdown Grafana builds
    every panel filter from, filtered exactly as Grafana's variable
    editor emits it."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        import "influxdata/influxdb/schema"

        schema.fieldKeys(
          bucket: "gas-quality",
          predicate: (r) => r["_field"] != "view",
          start: "2024-01-08 00:00:00",
          stop: "2024-01-15 00:00:00"
        )
        """,
        {"gas-quality": path},
    )


@query(
    "flux_schema_measurements",
    oracle="SELECT DISTINCT 'events' AS _value FROM events",
)
def flux_schema_measurements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`schema.measurements(bucket:)` — the other variable-query shape;
    `_measurement` is a partition directory name, so the scan's
    ReadSchema is empty (no parquet pages read, metadata only)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        'import "influxdata/influxdb/schema"\n'
        'schema.measurements(bucket: "gas-quality")',
        {"gas-quality": path},
    )


@query(
    "flux_compiled_difference",
    # Flux difference() — the SIGNED per-table lag delta rewriting
    # _value, first row dropped; exact decimal subtraction cast to
    # double (round 8: completes the Data-Explorer numeric transform
    # palette beside derivative/increase/cumulativeSum).
    oracle="""
    SELECT _measurement, _field, _time, _value FROM (
      SELECT 'events' AS _measurement, event_type AS _field, ts AS _time,
             CAST(CAST(value AS DECIMAL(18,2))
                  - lag(CAST(value AS DECIMAL(18,2))) OVER w
                  AS DOUBLE) AS _value,
             lag(value) OVER w AS prev
      FROM events
      WHERE event_type = 'view' AND value IS NOT NULL
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, value)
    ) WHERE prev IS NOT NULL
    """,
)
def flux_compiled_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux `difference()` through the front-end: the signed per-point
    delta a dashboard's change panel plots — one window partitioning
    (lag over the table key) = one shuffle."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "view")
          |> difference()
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_difference_keepfirst",
    # round 12d: difference(nonNegative: true, keepFirst: true,
    # initialZero: true) — upstream's row-count-preserving counter
    # delta (exactly increase()'s internal convention, now reachable
    # from the bare stage): the reset-aware delta with 0 on each
    # table's first row.
    oracle="""
    SELECT 'events' AS _measurement, event_type AS _field, ts AS _time,
           CAST(CASE
             WHEN lag(CAST(value AS DECIMAL(18,2))) OVER w IS NULL
               THEN CAST(0 AS DECIMAL(18,2))
             WHEN CAST(value AS DECIMAL(18,2))
                  >= lag(CAST(value AS DECIMAL(18,2))) OVER w
               THEN CAST(value AS DECIMAL(18,2))
                    - lag(CAST(value AS DECIMAL(18,2))) OVER w
             ELSE CAST(value AS DECIMAL(18,2))
           END AS DOUBLE) AS _value
    FROM events
    WHERE event_type = 'view' AND value IS NOT NULL
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, value)
    """,
)
def flux_compiled_difference_keepfirst(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Flux `difference(nonNegative:, keepFirst:, initialZero:)`
    through the front-end — the row-count-preserving counter-delta
    form (round 12d)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "view")
          |> difference(nonNegative: true, keepFirst: true, initialZero: true)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_cumulative_sum",
    # Flux cumulativeSum() — per-table running sum rewriting _value
    # (every row kept; nulls excluded first, the declared shared
    # policy). Exact decimal accumulation cast to double per point.
    oracle="""
    SELECT 'events' AS _measurement, event_type AS _field, ts AS _time,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
             PARTITION BY event_type ORDER BY ts, value
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS _value
    FROM events
    WHERE event_type = 'purchase' AND value IS NOT NULL
    """,
)
def flux_compiled_cumulative_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux `cumulativeSum()` through the front-end: the running total
    panel (e.g. cumulative purchases). One window partitioning over the
    table key = one shuffle."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "purchase")
          |> cumulativeSum()
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_map_units",
    # map(fn: (r) => ({ r with _value: ... })) — the Data Explorer's
    # unit-conversion transform (round 8): rewrite _value with double
    # arithmetic, then aggregate. fn: max keeps both engines on raw
    # IEEE doubles (no decimal rounding), so the hash is exact.
    oracle="""
    SELECT make_timestamp((epoch_us(ts)//3600000000)*3600000000) AS window_start,
           'events' AS _measurement,
           event_type AS _field,
           MAX((value * 4.0 + 100.0) / 2.0) AS max,
           COUNT(*) AS n
    FROM events
    WHERE event_type = 'click'
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def flux_compiled_map_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 8: `map()` through the front-end — a dashboard's unit
    conversion ((v·4 + 100) / 2) applied per row, then the hourly
    windowed max. The map compiles to an in-plan column rewrite
    (whole-stage-codegen arithmetic, no UDF), applied in user stage
    order so later _value filters would see converted units."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "click")
          |> map(fn: (r) => ({ r with _value: (r._value * 4.0 + 100.0) / 2.0 }))
          |> aggregateWindow(every: 1h, fn: max)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_group_merge",
    # group() |> mean() — the Data-Explorer "one value over all
    # series" form (VERDICT r7 item 7): the empty group key merges
    # every table, so the bare aggregate folds the whole scanned range
    # to ONE row (global partial-aggregated agg, no per-key shuffle).
    oracle="""
    SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS mean,
           COUNT(*) AS n
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    """,
)
def flux_compiled_group_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux `group()` (merge all series) |> bare aggregate — the other
    shape the InfluxDB Data Explorer emits (one stat over every series
    in range). Compiles to a key-less global aggregate: map-side
    partials, one tiny exchange, never a merged-table window."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> group()
          |> mean()
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_state_duration",
    # Flux stateDuration(fn) — seconds in the CURRENT run where the
    # predicate holds, −1 where it doesn't (the Flux convention; the
    # engine's state_duration reports both states' runs). Exact
    # integer-µs arithmetic; (_time, _value) tiebreak.
    oracle="""
    WITH s AS (
      SELECT event_type, ts, value, (value > 50.0) AS state
      FROM events
    ),
    chg AS (
      SELECT *, CASE WHEN state IS DISTINCT FROM lag(state) OVER w
                     THEN 1 ELSE 0 END AS is_chg
      FROM s WINDOW w AS (PARTITION BY event_type ORDER BY ts, value)
    ),
    runs AS (
      SELECT *, CAST(SUM(is_chg) OVER w AS BIGINT) AS run_id
      FROM chg WINDOW w AS (PARTITION BY event_type ORDER BY ts, value
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW)
    )
    SELECT 'events' AS _measurement, event_type AS _field,
           ts AS _time, value AS _value, state,
           CASE WHEN state THEN
             CAST((epoch_us(ts) - MIN(epoch_us(ts)) OVER
                   (PARTITION BY event_type, run_id)) // 1000000 AS BIGINT)
           ELSE CAST(-1 AS BIGINT) END AS stateDuration
    FROM runs
    """,
)
def flux_compiled_state_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r6 item 4: `stateDuration` through the Flux front-end —
    run-length state tracking (the "how long has the sensor been out of
    range" panel) with Flux's −1-outside-state convention, compiled
    onto the state_duration run-id machinery: three windows over ONE
    partitioning = one shuffle."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> stateDuration(fn: (r) => r["_value"] > 50.0, unit: 1s)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_stddev",
    # Flux stddev() — sample mode, the Data-Explorer dropdown's
    # variability stat (VERDICT r8 item 1 / r9 item 1: implemented in
    # r9, driver-attested here). 9-dp rounding on both sides absorbs
    # the accumulation-order drift between Spark's and DuckDB's
    # central-moment merges (the rolling_stats_zscore policy).
    oracle="""
    SELECT 'events' AS _measurement, event_type AS _field,
           round(stddev_samp(value), 9) AS stddev,
           count(value) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def flux_compiled_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare `stddev()` through the Flux front-end: per-table sample
    standard deviation — a map-side-combinable central-moment agg, one
    tiny exchange on the table key."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    out = compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> stddev()
        """,
        {"gas-quality": path},
    )
    return out.withColumn("stddev", F.round("stddev", 9))


@query(
    "flux_compiled_spread",
    # Flux spread() — max − min per table; two extrema aggregates,
    # exact on the store's doubles (no rounding needed).
    oracle="""
    SELECT 'events' AS _measurement, event_type AS _field,
           max(value) - min(value) AS spread,
           count(value) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def flux_compiled_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare `spread()` through the Flux front-end — the Data-Explorer
    range stat, compiled to map-side-combinable extrema."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> spread()
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_quantile",
    # Flux quantile(q: 0.25, method: "exact_selector") with UPSTREAM's
    # rank convention (ADVICE r9): sorted index round(q*n) − 1 (half
    # away from zero, clamped at 0) — NOT percentile_disc's ceil(q*n).
    # q=0.25 is chosen because the two conventions DIVERGE on this
    # store (per-field n where frac(q·n) ∈ (0, 0.5), e.g. n=1981 →
    # rank 495 vs 496), so the hash pins the upstream convention, not
    # just the value. The oracle replays the rank arithmetic with
    # DuckDB's half-away-from-zero round on the identical IEEE q·n.
    oracle="""
    SELECT _measurement, _field, _value AS quantile, n FROM (
      SELECT 'events' AS _measurement, event_type AS _field,
             value AS _value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value) AS rn,
             count(value) OVER (PARTITION BY event_type) AS n
      FROM events
      WHERE value IS NOT NULL
    ) WHERE rn = greatest(CAST(round(0.25 * n) AS BIGINT), 1)
    """,
)
def flux_compiled_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare `quantile(q: 0.25)` through the Flux front-end — the
    exact_selector with upstream Flux's getQuantileIndex rounding,
    compiled to a per-table row_number rank select (per-table
    locality, same as every per-point transform; the key-less group()
    form raises as a scale trap)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> quantile(q: 0.25, method: "exact_selector")
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_timeshift",
    # Flux timeShift(duration: -7d) BEFORE aggregateWindow — Grafana's
    # period-comparison overlay (VERDICT r8 item 6): rows shift, THEN
    # window, so every window_start moves by exactly the duration.
    # The oracle buckets epoch µs shifted by −7d; −604800e6 is a
    # multiple of the 1h bucket, keeping the floor-div arithmetic
    # aligned with Spark's window() on the shifted timestamps.
    oracle="""
    SELECT make_timestamp(
             ((epoch_us(ts) - 604800000000)//3600000000)*3600000000
           ) AS window_start,
           'events' AS _measurement, event_type AS _field,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS mean,
           COUNT(*) AS n
    FROM events
    WHERE event_type = 'click'
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def flux_compiled_timeshift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`timeShift` through the Flux front-end: the row-level _time
    rewrite feeding window bucketing (shift-then-aggregate, Flux's
    order). A range() AFTER the shift raises — the scan's pushed
    bounds filter stored timestamps, so the range here precedes it."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "click")
          |> timeShift(duration: -7d)
          |> aggregateWindow(every: 1h, fn: mean, createEmpty: false)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_join_overlay",
    # The Grafana week-over-week overlay as a MULTI-STATEMENT Flux
    # script (VERDICT r9 "Flux subset remainder"): two named pipelines
    # — this week's daily mean and last week's shifted forward 7d —
    # joined on the window key, delta via map. Exercises the whole
    # round-10 surface in one driver row: statement splitting,
    # timeShift-then-window, join suffixing (mean_a/mean_b), the
    # combiner map/yield. 9-dp rounding on the delta (two
    # decimal-exact doubles subtract deterministically; the rounding
    # is belt-and-braces per the shared policy).
    oracle="""
    WITH cur AS (
      SELECT make_timestamp((epoch_us(ts)//86400000000)*86400000000)
               AS window_start,
             'events' AS _measurement, event_type AS _field,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*)
               AS mean_a,
             COUNT(*) AS n_a
      FROM events
      WHERE event_type = 'click'
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      GROUP BY 1, 2, 3
    ), prev AS (
      SELECT make_timestamp(
               ((epoch_us(ts)+604800000000)//86400000000)*86400000000
             ) AS window_start,
             'events' AS _measurement, event_type AS _field,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*)
               AS mean_b,
             COUNT(*) AS n_b
      FROM events
      WHERE event_type = 'click'
        AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        AND ts <  TIMESTAMP '2024-01-08 00:00:00'
      GROUP BY 1, 2, 3
    )
    SELECT c.window_start, c._measurement, c._field,
           c.mean_a, c.n_a, p.mean_b, p.n_b,
           round(c.mean_a - p.mean_b, 9) AS wow_delta
    FROM cur c JOIN prev p USING (window_start, _measurement, _field)
    """,
)
def flux_compiled_join_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-statement Flux through the front-end: named pipelines +
    `join` + `map` — the period-comparison dashboard panel. Both join
    inputs are day-window aggregates (bucket-spine-sized), so the
    inner join's exchange hashes tiny frames on the window key."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    out = compile_flux(
        spark,
        """
        a = from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "click")
          |> aggregateWindow(every: 1d, fn: mean, createEmpty: false)
        b = from(bucket: "gas-quality")
          |> range(start: "2024-01-01T00:00:00Z", stop: "2024-01-08T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "click")
          |> timeShift(duration: 7d)
          |> aggregateWindow(every: 1d, fn: mean, createEmpty: false)
        join(tables: {a: a, b: b}, on: ["window_start", "_measurement", "_field"])
          |> map(fn: (r) => ({ r with _value: r.mean_a - r.mean_b }))
          |> yield(name: "wow_delta")
        """,
        {"gas-quality": path},
    )
    return out.withColumn("wow_delta", F.round("wow_delta", 9))


@query(
    "flux_compiled_top",
    # Flux top(n: 3) — the Data-Explorer per-series extrema button:
    # top-3 by _value per (_measurement, _field) table, compiled to the
    # sort|>limit rank machinery (WindowGroupLimit distributed top-N).
    # Tiebreak: the compiler always extends the order with (_time,
    # _value) asc, so the oracle replays value DESC, ts ASC.
    oracle="""
    SELECT _measurement, _field, _time, _value FROM (
      SELECT 'events' AS _measurement, event_type AS _field,
             ts AS _time, value AS _value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, ts ASC) AS rn
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    ) WHERE rn <= 3
    """,
)
def flux_compiled_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`top(n: 3)` through the Flux front-end — per-series extrema over
    the scanned range; the rank filter compiles to a distributed
    per-key top-N (WindowGroupLimit), never a global sort."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> top(n: 3)
          |> keep(columns: ["_measurement", "_field", "_time", "_value"])
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_histogram",
    # Flux histogram(bins: linearBins(...)) — the Grafana heatmap
    # panel's CUMULATIVE histogram: per table, one row per upper bound
    # le with the float count of values ≤ le. Exact integer counts
    # cast to double — no FP drift to absorb.
    oracle="""
    SELECT 'events' AS _measurement, e.event_type AS _field, b.le,
           CAST(SUM(CASE WHEN e.value <= b.le THEN 1 ELSE 0 END)
                AS DOUBLE) AS _value
    FROM events e
    CROSS JOIN (VALUES (0.0), (100.0), (200.0), (300.0), (400.0),
                       (CAST('infinity' AS DOUBLE))) b(le)
    GROUP BY 1, 2, 3
    """,
)
def flux_compiled_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`histogram()` through the Flux front-end: B conditional-count
    aggregates in ONE groupBy pass (map-side combinable, one tiny
    exchange on the table key), stacked in-row to the (le, _value)
    long frame — never a per-row bin explode."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> histogram(bins: linearBins(start: 0.0, width: 100.0, count: 5))
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_elapsed",
    # Flux elapsed() — whole-second gaps between subsequent records per
    # table, first row dropped (no predecessor). Truncation toward zero
    # on the non-negative µs diff ≡ DuckDB's // floor division.
    oracle="""
    SELECT * FROM (
      SELECT 'events' AS _measurement, event_type AS _field,
             ts AS _time, value AS _value,
             CAST((epoch_us(ts) - lag(epoch_us(ts)) OVER w) // 1000000
                  AS BIGINT) AS elapsed
      FROM events
      WHERE event_type = 'error'
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
        AND value IS NOT NULL
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, value)
    ) WHERE elapsed IS NOT NULL
    """,
)
def flux_compiled_elapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`elapsed()` through the Flux front-end — the inter-arrival-gap
    panel (sensor heartbeat monitoring), compiled to a per-table lag
    over one (_measurement, _field) partitioning: one exchange."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "error")
          |> elapsed(unit: 1s)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_hour_truncate",
    # hourSelection(9–17) + truncateTimeColumn(1h) feeding a 30m
    # aggregateWindow: every truncated row lands exactly on an hour
    # boundary, so only :00 buckets appear — the hash pins BOTH new
    # row-level stages (dropping truncation would re-populate :30
    # buckets; dropping the hour filter would change every count).
    oracle="""
    SELECT make_timestamp((epoch_us(ts)//3600000000)*3600000000)
             AS window_start,
           'events' AS _measurement, event_type AS _field,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS mean,
           COUNT(*) AS n
    FROM events
    WHERE event_type = 'click'
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      AND hour(ts) BETWEEN 9 AND 17
    GROUP BY 1, 2, 3
    """,
)
def flux_compiled_hour_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`hourSelection()` + `truncateTimeColumn()` through the Flux
    front-end — the business-hours dashboard filter and the timestamp
    normalizer, both row-level stages applied BEFORE windowing (Flux
    order). Narrow maps on the pruned scan: no extra exchange."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "click")
          |> hourSelection(start: 9, stop: 17)
          |> truncateTimeColumn(unit: 1h)
          |> aggregateWindow(every: 30m, fn: mean, createEmpty: false)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_distinct",
    # Flux distinct() — the Data-Explorer's value-enumeration stage:
    # per-table distinct _value, keys + _value only. Hash-distinct:
    # map-side partial dedup, one exchange on (table key, value).
    oracle="""
    SELECT DISTINCT 'events' AS _measurement, event_type AS _field,
           value AS _value
    FROM events WHERE event_type = 'click'
    """,
)
def flux_compiled_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`distinct()` through the Flux front-end."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "click")
          |> distinct()
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_unique",
    # Flux unique() — first row (table order: the compiler's universal
    # (ts, value) tiebreak) per distinct value per table. Compiled as
    # row_number over a window partitioned by (table key, VALUE) —
    # distributed by value, never a single-partition sort.
    oracle="""
    SELECT 'events' AS _measurement, event_type AS _field,
           ts AS _time, value AS _value
    FROM events WHERE event_type = 'click'
    QUALIFY row_number() OVER (PARTITION BY event_type, value
                               ORDER BY ts, value) = 1
    """,
)
def flux_compiled_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`unique()` through the Flux front-end."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "click")
          |> unique()
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_window_raw",
    # NON-aggregated window(every: 6h): each raw row keeps its
    # tumbling (_start, _stop] bounds as columns — the re-keyed Flux
    # tables materialized columnar. A narrow epoch-floor map: zero
    # shuffle (plan-pinned in tests/test_plans.py).
    oracle="""
    SELECT 'events' AS _measurement, event_type AS _field,
           make_timestamp((epoch_us(ts)//21600000000)*21600000000)
             AS _start,
           make_timestamp((epoch_us(ts)//21600000000)*21600000000
                          + 21600000000) AS _stop,
           ts AS _time, value AS _value
    FROM events
    WHERE event_type = 'click'
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-11 00:00:00'
    """,
)
def flux_compiled_window_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-aggregated `window()` through the Flux front-end — the raw
    stage Flux users reach for before custom per-window logic."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-11T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "click")
          |> window(every: 6h)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_integral",
    # Flux integral(unit: 1m) — trapezoid area under each series:
    # Σ (vᵢ + vᵢ₋₁)·Δtᵢ over EXACT decimals (associative sum →
    # deterministic across partition orders), ONE double division at
    # the end: both engines round identically. 120000000.0 =
    # 2 · 60 s · 1e6 µs.
    oracle="""
    WITH s AS (
      SELECT event_type, ts, value,
             lag(CAST(value AS DECIMAL(18,2))) OVER w AS pv,
             lag(epoch_us(ts)) OVER w AS pt
      FROM events
      WHERE value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, value)
    )
    SELECT 'events' AS _measurement, event_type AS _field,
           CAST(SUM((CAST(value AS DECIMAL(18,2)) + pv)
                    * CAST(epoch_us(ts) - pt AS DECIMAL(18,0)))
                AS DOUBLE) / 120000000.0 AS integral,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM s GROUP BY 1, 2
    """,
)
def flux_compiled_integral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`integral()` through the Flux front-end — the area-under-curve
    stat panel (energy from power, volume from flow). One lag window +
    one map-side-combinable sum per table."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> integral(unit: 1m)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_time_weighted",
    # Flux timeWeightedAvg() (round 12d) — the correct mean of an
    # irregular gauge: the integral's exact-decimal trapezoid sum
    # divided by the observed span (first..last point per table; the
    # pinned convention — upstream's boundary interpolation needs
    # range context the order-insensitive frame contract lacks).
    # Identical double-op order both sides: trap(double) /
    # (2.0 * span(double)); single-point tables yield NULL.
    oracle="""
    WITH s AS (
      SELECT event_type, ts, value,
             lag(CAST(value AS DECIMAL(18,2))) OVER w AS pv,
             lag(epoch_us(ts)) OVER w AS pt
      FROM events
      WHERE value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, value)
    )
    SELECT 'events' AS _measurement, event_type AS _field,
           CASE WHEN MAX(epoch_us(ts)) - MIN(epoch_us(ts)) > 0 THEN
             CAST(SUM((CAST(value AS DECIMAL(18,2)) + pv)
                      * CAST(epoch_us(ts) - pt AS DECIMAL(18,0)))
                  AS DOUBLE)
             / (2.0 * CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts))
                           AS DOUBLE))
           END AS time_weighted_avg,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM s GROUP BY 1, 2
    """,
)
def flux_compiled_time_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`timeWeightedAvg()` through the Flux front-end — the
    time-weighted gauge mean (the registered time_weighted_avg
    operator's convention, reached from dashboard text). The unit:
    argument cancels algebraically and is accepted/validated only."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> timeWeightedAvg(unit: 1m)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_ema",
    # Flux exponentialMovingAverage(n: 10) |> last() — the smoothed
    # stat panel. Upstream semantics: seed = mean of the first n
    # values, then y = (1−k)·y + k·x with k = 2/(n+1), first n−1 rows
    # dropped. The engine's Arrow kernel evaluates the EXACT expression
    # order DuckDB's list_reduce replays here (left-fold sum ÷ n, then
    # (1.0 − 2.0/11.0)·a + (2.0/11.0)·x), so the full ~2k-step fold is
    # bit-identical — no rounding needed. last() selects the fold's
    # true final element via max_by(__seq), not max_by((ts, value)).
    oracle="""
    WITH ranked AS (
      SELECT event_type, ts, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, value) AS rn
      FROM events WHERE event_type = 'click' AND value IS NOT NULL
    ),
    agg AS (
      SELECT event_type, max(ts) AS last_ts, count(*) AS cnt,
             list(value ORDER BY rn) AS vs
      FROM ranked GROUP BY 1
    )
    SELECT 'events' AS _measurement, event_type AS _field, last_ts,
           list_reduce(
             list_prepend(
               list_reduce(list_slice(vs, 1, 10), (a, x) -> a + x) / 10,
               list_slice(vs, 11, length(vs))),
             (a, x) -> (1.0 - 2.0/11.0) * a + (2.0/11.0) * x
           ) AS last_value
    FROM agg WHERE cnt >= 10
    """,
)
def flux_compiled_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`exponentialMovingAverage()` through the Flux front-end: the
    sequential recurrence runs in the sanctioned Arrow per-series
    kernel (operators/timeseries.py flux_ema — same escape-hatch class
    as ewma/LTTB/Holt), one shuffle on the series key; the per-row
    form is value-pinned in tests/test_flux.py, this registered form
    driver-attests the fold end-to-end via last()."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "click")
          |> exponentialMovingAverage(n: 10)
          |> last()
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_derivative_signed",
    # derivative(unit: 1m) — Flux's ACTUAL default form (signed,
    # nonNegative: false), previously a documented subset gap: per
    # pair Δv ÷ (Δt/unit), first row dropped. Every op is the same
    # IEEE tree in both engines (double sub; long Δµs cast-divided by
    # the unit literal; one final division) — bit-identical, no
    # rounding. NULLIF ≡ try_divide on the degenerate zero-Δt pair.
    oracle="""
    SELECT * FROM (
      SELECT 'events' AS _measurement, event_type AS _field,
             ts AS _time, value AS _value,
             (value - lag(value) OVER w) /
             NULLIF((epoch_us(ts) - lag(epoch_us(ts)) OVER w)
                    / 60000000.0, 0) AS derivative
      FROM events
      WHERE event_type = 'error'
        AND value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, value)
    ) WHERE derivative IS NOT NULL
    """,
)
def flux_compiled_derivative_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed `derivative(unit: 1m)` through the Flux front-end — the
    trend panel (rate of change per minute, negative on falls). Same
    single series-key window shuffle as the counter form."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "error")
          |> derivative(unit: 1m)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_pearsonr",
    # pearsonr(x:, y:, on: ["window_start"]) — upstream's
    # cov(pearsonr: true): two aggregateWindow pipelines aligned on
    # the window key, ONE sample Pearson correlation per series pair.
    # Means are exact decimals (deterministic); the corr itself is a
    # moment aggregate whose accumulation order differs between
    # engines, so 9-dp rounding both sides (the rolling_stats policy —
    # drift is ~1e-13 relative on ~300 windows, far inside 9 dp).
    oracle="""
    WITH a AS (
      SELECT make_timestamp((epoch_us(ts)//3600000000)*3600000000) AS w,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS m
      FROM events
      WHERE event_type = 'click'
        AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      GROUP BY 1
    ), b AS (
      SELECT make_timestamp((epoch_us(ts)//3600000000)*3600000000) AS w,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS m
      FROM events
      WHERE event_type = 'view'
        AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      GROUP BY 1
    )
    SELECT 'events' AS _measurement_x, 'click' AS _field_x,
           'events' AS _measurement_y, 'view' AS _field_y,
           round(corr(a.m, b.m), 9) AS _value
    FROM a JOIN b ON a.w = b.w
    """,
)
def flux_compiled_pearsonr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`pearsonr()` through the Flux front-end — the cross-series
    correlation panel (does click volume track view volume?). The join
    exchanges two bucket-spine-sized aggregated frames on the window
    key; the correlation is a map-side-combinable moment aggregate."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    out = compile_flux(
        spark,
        """
        a = from(bucket: "gas-quality")
          |> range(start: "2024-01-01T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "click")
          |> aggregateWindow(every: 1h, fn: mean, createEmpty: false)
        b = from(bucket: "gas-quality")
          |> range(start: "2024-01-01T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "view")
          |> aggregateWindow(every: 1h, fn: mean, createEmpty: false)
        pearsonr(x: a, y: b, on: ["window_start"])
        """,
        {"gas-quality": path},
    )
    return out.withColumn("_value", F.round("_value", 9))


@query(
    "flux_compiled_cov",
    # cov(x:, y:, on: ["window_start"]) — sample covariance of the two
    # aligned hourly-mean series (the un-normalized sibling of
    # pearsonr, same join/moment-aggregate machinery). 9-dp rounding
    # both sides per the shared moment-aggregate policy.
    oracle="""
    WITH a AS (
      SELECT make_timestamp((epoch_us(ts)//3600000000)*3600000000) AS w,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS m
      FROM events
      WHERE event_type = 'click'
        AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      GROUP BY 1
    ), b AS (
      SELECT make_timestamp((epoch_us(ts)//3600000000)*3600000000) AS w,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS m
      FROM events
      WHERE event_type = 'view'
        AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      GROUP BY 1
    )
    SELECT 'events' AS _measurement_x, 'click' AS _field_x,
           'events' AS _measurement_y, 'view' AS _field_y,
           round(covar_samp(a.m, b.m), 9) AS _value
    FROM a JOIN b ON a.w = b.w
    """,
)
def flux_compiled_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`cov()` through the Flux front-end — the covariance form of the
    pearsonr combiner (cov(pearsonr: true) compiles to the identical
    correlation plan, pinned in tests)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    out = compile_flux(
        spark,
        """
        a = from(bucket: "gas-quality")
          |> range(start: "2024-01-01T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "click")
          |> aggregateWindow(every: 1h, fn: mean, createEmpty: false)
        b = from(bucket: "gas-quality")
          |> range(start: "2024-01-01T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "view")
          |> aggregateWindow(every: 1h, fn: mean, createEmpty: false)
        cov(x: a, y: b, on: ["window_start"])
        """,
        {"gas-quality": path},
    )
    return out.withColumn("_value", F.round("_value", 9))


@query(
    "flux_compiled_tail",
    # tail(n: 4) — each table's LAST 4 rows in table order (the
    # "latest readings" panel): per-table row_number over the REVERSED
    # (ts, value) order, the mirror of the bare-limit machinery.
    oracle="""
    SELECT 'events' AS _measurement, event_type AS _field,
           ts AS _time, value AS _value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    QUALIFY row_number() OVER (PARTITION BY event_type
                               ORDER BY ts DESC, value DESC) <= 4
    """,
)
def flux_compiled_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`tail()` through the Flux front-end — a distributed per-table
    bottom-N (WindowGroupLimit), never a global sort."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> tail(n: 4)
          |> keep(columns: ["_measurement", "_field", "_time", "_value"])
        """,
        {"gas-quality": path},
    )


@query(
    "value_percentiles_approx",
    # driver-verified INVARIANT: each approx percentile's RANK lands
    # within the sketch's guaranteed rank-error band (eps = 1/accuracy,
    # plus interpolation slack). percentile_approx guarantees RANK
    # error, not value error, so this attestation is deterministic at
    # every scale factor and value distribution — a 2%-value-error check
    # (the old form) fails legitimately on small/skewed fixtures. The
    # oracle derives the expected all-zeros table from the same data, so
    # a sketch drifting out of tolerance breaks the value-hash.
    oracle="""
    SELECT event_type, CAST(0 AS BIGINT) AS n_violations
    FROM events WHERE value IS NOT NULL GROUP BY event_type
    """,
)
def value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path: ``percentile_approx`` (a mergeable
    quantile sketch — constant memory, map-side combinable) instead of
    the exact sort-based aggregate, verified in a second pass against
    the rank-error bound the sketch actually guarantees. At scale the
    exact form (`value_percentiles`) is the oracle-only variant; this
    sketch is what a dashboard should run.

    Attestation: for each target quantile p, the returned value a_p is a
    real data point whose rank interval [count(v < a_p), count(v <= a_p)]
    must overlap [p*n - slack, p*n + slack] with slack = eps*n + 2
    (eps = 1/accuracy; +2 absorbs the rank-definition off-by-ones).
    Two scans + one 5-row broadcast join — no per-row Python."""
    acc = 10000
    eps = 1.0 / acc
    # null values are excluded up front: percentile_approx already skips
    # them, but count(*) would include them, so a null-bearing group
    # would spuriously violate (or null-out) the all-zeros attestation
    ev = (
        table(spark, sf_dir, "events")
        .select("event_type", "value")
        .filter(F.col("value").isNotNull())
    )
    approx = ev.groupBy("event_type").agg(
        F.percentile_approx("value", F.lit(0.5), F.lit(acc)).alias("a50"),
        F.percentile_approx("value", F.lit(0.9), F.lit(acc)).alias("a90"),
        F.percentile_approx("value", F.lit(0.99), F.lit(acc)).alias("a99"),
    )
    j = ev.join(F.broadcast(approx), "event_type")
    aggs = [F.count(F.lit(1)).alias("n")]
    for p in ("50", "90", "99"):
        aggs.append(
            F.sum((F.col("value") < F.col(f"a{p}")).cast("long")).alias(f"lt{p}")
        )
        aggs.append(
            F.sum((F.col("value") <= F.col(f"a{p}")).cast("long")).alias(f"le{p}")
        )
    counted = j.groupBy("event_type").agg(*aggs)
    slack = F.lit(eps) * F.col("n") + F.lit(2.0)

    def bad(p: str, q: float):
        target = F.lit(q) * F.col("n")
        return (
            (target < F.col(f"lt{p}") - slack) | (target > F.col(f"le{p}") + slack)
        ).cast("int")

    return counted.select(
        "event_type",
        (bad("50", 0.5) + bad("90", 0.9) + bad("99", 0.99))
        .cast("long")
        .alias("n_violations"),
    )


@query(
    "anomaly_mad",
    # The classification is replayable bit-for-bit because median/MAD
    # are ROUNDED to 6 dp before any comparison: both engines then
    # compare identical doubles against an identical cutoff (see
    # operators/timeseries.mad_outliers).
    oracle="""
    WITH v AS (
      SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    med AS (
      SELECT event_type, round(median(value), 6) AS median_value
      FROM v GROUP BY event_type
    ),
    dev AS (
      SELECT v.event_type, m.median_value,
             abs(v.value - m.median_value) AS adev
      FROM v JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, round(median(adev), 6) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           COUNT(*) AS n_points,
           d.median_value,
           m.mad,
           CAST(SUM(CASE WHEN d.adev > round(3.0 * 1.4826 * m.mad, 6)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(SUM(CASE WHEN d.adev > round(3.0 * 1.4826 * m.mad, 6)
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS outlier_frac
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type, d.median_value, m.mad
    """,
)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection per series (Hampel's MAD rule): the
    median/MAD counterpart of rolling_stats_zscore — a single huge
    spike inflates a stddev and masks its neighbors, but cannot move a
    median. The per-series summary a monitoring pipeline alerts on."""
    return ts_ops.mad_outliers(
        table(spark, sf_dir, "events"), "value", ["event_type"], k=3.0
    )


@query(
    "value_histogram",
    oracle="""
    WITH s AS (
      SELECT MIN(CAST(value AS DOUBLE)) AS lo, MAX(CAST(value AS DOUBLE)) AS hi
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           CAST(CASE WHEN hi = lo THEN 0 ELSE
             LEAST(19, GREATEST(0, CAST(FLOOR(
               (CAST(value AS DOUBLE) - lo) / (hi - lo) * 20) AS INTEGER)))
           END AS BIGINT) AS bin,
           COUNT(*) AS n,
           round(lo, 9) AS domain_lo,
           round(hi, 9) AS domain_hi
    FROM events, s
    WHERE value IS NOT NULL
    GROUP BY event_type, bin, lo, hi
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of `value` per event_type over a
    shared global domain (the Grafana histogram panel): 1-row min/max
    broadcast + one hash-agg — two linear passes, no sort, no UDF."""
    return ts_ops.histogram(
        table(spark, sf_dir, "events"), "value", ["event_type"], bins=20
    )


@query(
    "value_trend_per_type",
    oracle="""
    WITH b AS (
      SELECT event_type,
             epoch_us(ts) // 1000000 - 1704067200 AS x,
             CAST(value AS DECIMAL(18,2)) AS y
      FROM events WHERE value IS NOT NULL
    ),
    g AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(x) AS sx,
             SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
             SUM(y) AS sy,
             SUM(CAST(x AS DECIMAL(12,0)) * y) AS sxy
      FROM b GROUP BY event_type
    )
    SELECT event_type, n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 12)
             AS slope_per_s,
           round((CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 12)
             AS intercept
    FROM g
    """,
)
def value_trend_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series least-squares trend line (slope/s + intercept) via
    exact sufficient statistics in ONE map-side-combined aggregate —
    the Flux derivative/trend panel without a sort or window. The five
    sums are exact (integer seconds, lossless decimal values), so the
    closed form is bit-reproducible cross-engine."""
    return ts_ops.linear_trend(
        table(spark, sf_dir, "events"), "ts", "value", ["event_type"]
    )


@query(
    "merge_value_intervals",
    oracle="""
    WITH b AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             epoch_us(ts) + CAST(FLOOR(value * 1000000) AS BIGINT) AS e
      FROM events WHERE value IS NOT NULL
    ),
    m AS (
      SELECT *, MAX(e) OVER (
        PARTITION BY user_id ORDER BY us, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      FROM b
    ),
    i AS (
      SELECT *, SUM(CASE WHEN pme IS NULL OR us > pme THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS island
      FROM m
    )
    SELECT user_id, CAST(island AS BIGINT) AS island,
           make_timestamp(MIN(us)) AS interval_start,
           make_timestamp(MAX(e)) AS interval_end,
           COUNT(*) AS n_events
    FROM i GROUP BY user_id, island
    """,
)
def merge_value_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal interval coalescing (gaps-and-islands) with VARIABLE
    durations: each event projects [ts, ts + value seconds); overlaps
    per user merge into maximal islands. Genuine interval algebra — a
    long interval bridges rows fixed-gap sessionization would split.
    Exact integer-µs arithmetic, one shuffle."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    dur = F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long")
    return ts_ops.merge_intervals(ev, "ts", dur, ["user_id"], "event_id")


@query(
    "time_weighted_avg",
    oracle="""
    WITH b AS (
      SELECT event_type, event_id, epoch_us(ts) AS us,
             CAST(value AS DECIMAL(18,2)) AS y
      FROM events WHERE value IS NOT NULL
    ),
    l AS (
      SELECT event_type, us,
             (y + lead(y) OVER w) * CAST(lead(us) OVER w - us AS DECIMAL(14,0))
               AS seg
      FROM b WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id)
    ),
    g AS (
      SELECT event_type, COUNT(*) AS n, SUM(seg) AS trap,
             MAX(us) - MIN(us) AS span
      FROM l GROUP BY event_type
    )
    SELECT event_type, n,
           CASE WHEN span > 0 THEN
             round(CAST(trap AS DOUBLE) / (2.0 * CAST(span AS DOUBLE)), 9)
           END AS time_weighted_avg
    FROM g
    """,
)
def time_weighted_avg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux `timeWeightedAvg()` / `integral()`: trapezoid time integral
    over observed span per series — the correct mean for irregular
    gauges. Exact decimal trapezoid sums; one shuffle."""
    return ts_ops.time_weighted_avg(
        table(spark, sf_dir, "events"), "ts", "value", ["event_type"], "event_id"
    )


@query(
    "counter_increase",
    oracle="""
    WITH b AS (
      SELECT event_type, event_id, ts, CAST(value AS DECIMAL(18,2)) AS y
      FROM events WHERE value IS NOT NULL
    ),
    d AS (
      SELECT event_type,
             CASE WHEN lag(y) OVER w IS NULL THEN CAST(0 AS DECIMAL(18,2))
                  WHEN y >= lag(y) OVER w THEN y - lag(y) OVER w
                  ELSE y END AS dd
      FROM b WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    )
    SELECT event_type, COUNT(*) AS n, CAST(SUM(dd) AS DOUBLE) AS total_increase
    FROM d GROUP BY event_type
    """,
)
def counter_increase_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux `increase()`: reset-aware total counter increase per series
    (negative delta = restart, contributes the post-reset value —
    `rate`'s reset rule). Exact decimal deltas end to end."""
    return ts_ops.counter_increase(
        table(spark, sf_dir, "events"), "ts", "value", ["event_type"], "event_id"
    )


@query(
    "event_transitions",
    oracle="""
    WITH p AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    c AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS prob
    FROM c
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-sequence transition matrix: P(next type | type)
    from consecutive pairs in each user's timeline — the Markov summary
    behind funnel/session analyses. One lead window (partitioned by
    user) + one hash-agg on the matrix cells (|types|² rows); the prob
    normalization windows over those tiny cells, not the raw data."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    c = pairs.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    wt = Window.partitionBy("from_type")
    return c.withColumn(
        "prob", F.col("n").cast("double") / F.sum("n").over(wt).cast("double")
    )


@query(
    "ewma_final",
    # Attestation companion to the rows-only `ewma_value` (the per-row
    # EWMA is sequential — no SQL engine emits running recurrences):
    # the FINAL EWMA per series IS SQL-expressible as a list fold, so
    # this query computes it with a pure JVM aggregate fold and DuckDB
    # replays it with list_reduce — turning the EWMA family from
    # "trust the selfcheck" into driver-hash-verified. (1.0 - 0.3) is
    # written as an expression, NOT 0.7: the doubles differ in the last
    # ulp and pandas' ewm uses old_wt = 1 - alpha.
    # Scale note: collect_list holds ONE series in one task — this is
    # the diagnostic/attestation tier (like minhash_lsh_verify), not a
    # benched path; the production per-row EWMA stays the Arrow op.
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           round(list_reduce(list(value ORDER BY ts, value),
                             (acc, x) -> (1.0 - 0.3) * acc + 0.3 * x), 9)
             AS ewma_final
    FROM events WHERE value IS NOT NULL GROUP BY event_type
    """,
)
def ewma_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final EWMA value per series (α=0.3, y_t = α·x + (1−α)·y_{t−1})
    via sort_array + aggregate fold — bit-identical to the Arrow
    ewma's last row (pinned in tests) and to DuckDB's list_reduce."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sort_array(F.collect_list(F.struct("ts", "value"))).alias("__s"),
    )
    vals = F.transform(F.col("__s"), lambda s: s["value"].cast("double"))
    fold = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: (F.lit(1.0) - F.lit(0.3)) * acc + F.lit(0.3) * x,
    )
    return g.select("event_type", "n", F.round(fold, 9).alias("ewma_final"))


@query(
    "asof_nearest_click",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ),
    c AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    ),
    b AS (
      SELECT e.event_id, c.ts AS bts, c.value AS bval
      FROM e ASOF LEFT JOIN c ON e.user_id = c.user_id AND e.ts >= c.ts
    ),
    f AS (
      SELECT e.event_id, c.ts AS fts, c.value AS fval
      FROM e ASOF LEFT JOIN c ON e.user_id = c.user_id AND e.ts <= c.ts
    )
    SELECT e.event_id, e.user_id, e.ts,
           CASE WHEN bts IS NULL THEN fts WHEN fts IS NULL THEN bts
                WHEN epoch_us(fts) - epoch_us(e.ts)
                     < epoch_us(e.ts) - epoch_us(bts) THEN fts
                ELSE bts END AS click_ts,
           CASE WHEN bts IS NULL THEN fval WHEN fts IS NULL THEN bval
                WHEN epoch_us(fts) - epoch_us(e.ts)
                     < epoch_us(e.ts) - epoch_us(bts) THEN fval
                ELSE bval END AS click_value
    FROM e JOIN b USING (event_id) JOIN f USING (event_id)
    """,
)
def asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, `nearest` direction (the pandas merge_asof surface):
    for each error event, the click by the same user CLOSEST in time —
    either side, ties to the preceding one. Same single shuffle as the
    backward form; the forward probe is a second window over the same
    partitioning, never a second exchange."""
    ev = table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        left,
        right,
        by=["user_id"],
        ts_col="ts",
        value_cols=["value"],
        prefix="click_",
        direction="nearest",
    )


@query(
    "trailing_1h_mean",
    # Flux timedMovingAverage: TIME-based trailing window — a RANGE
    # frame over epoch µs, not a row frame (irregular series make the
    # two differ); frame membership is set-based, so ties need no
    # ordering tiebreak. Decimal sums keep the means exact.
    oracle="""
    SELECT event_type, ts, value,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
             / CAST(COUNT(value) OVER w AS DOUBLE) AS trailing_mean_1h
    FROM events
    WHERE value IS NOT NULL
    WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
    """,
)
def trailing_1h_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point trailing 1-hour mean (Flux `timedMovingAverage`): a
    RANGE window frame over integer epoch microseconds — the frame is
    defined by TIME distance, so sparse stretches average few points
    and dense stretches many (a row frame gets this wrong on irregular
    series). One shuffle on the series key."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_599_999_999, 0)
    )
    return ev.select(
        "event_type",
        "ts",
        "value",
        (
            F.sum(_dec("value")).over(w).cast("double")
            / F.count("value").over(w).cast("double")
        ).alias("trailing_mean_1h"),
    )


@query(
    "state_duration",
    oracle="""
    WITH s AS (
      SELECT event_type, event_id, ts, value,
             (value > 50.0) AS high
      FROM events WHERE value IS NOT NULL
    ),
    chg AS (
      SELECT *, CASE WHEN high IS DISTINCT FROM lag(high) OVER w
                     THEN 1 ELSE 0 END AS is_chg
      FROM s WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ),
    runs AS (
      SELECT *, CAST(SUM(is_chg) OVER w AS BIGINT) AS run_id
      FROM chg WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW)
    )
    SELECT event_type, event_id, ts, high,
           CAST((epoch_us(ts) - MIN(epoch_us(ts)) OVER
                 (PARTITION BY event_type, run_id)) // 1000000 AS BIGINT)
             AS state_duration_s
    FROM runs
    """,
)
def state_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux `stateDuration`: per point, seconds spent in the CURRENT
    run of its state (here: value > 50) — change-detection via lag,
    run ids via a running sum of changes, duration against the run's
    first timestamp. Three windows over ONE partitioning = one
    shuffle; exact integer-µs arithmetic."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    high = F.col("value") > 50.0
    chg = (
        ~F.lag(high).over(w).eqNullSafe(high)
    ).cast("long")
    runs = ev.select(
        "event_type",
        "event_id",
        "ts",
        high.alias("high"),
        F.sum(chg).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("run_id"),
    )
    wr = Window.partitionBy("event_type", "run_id")
    return runs.select(
        "event_type",
        "event_id",
        "ts",
        "high",
        (
            (F.unix_micros("ts") - F.min(F.unix_micros("ts")).over(wr))
            / F.lit(1_000_000)
        )
        .cast("long")
        .alias("state_duration_s"),
    )


@query(
    "series_correlation",
    # Pearson between the hourly TOTALS of two series, via exact
    # sufficient statistics: per-bucket sums are lossless decimals, so
    # Σx, Σy, Σxy, Σx², Σy² are exact and the closed form (evaluated
    # once, on doubles) is bit-identical cross-engine — the
    # linear_trend determinism recipe applied to correlation.
    oracle="""
    WITH h AS (
      SELECT make_timestamp((epoch_us(ts)//3600000000)*3600000000) AS b,
             event_type, SUM(CAST(value AS DECIMAL(18,2))) AS s
      FROM events WHERE value IS NOT NULL
        AND event_type IN ('click', 'error')
      GROUP BY 1, 2
    ),
    j AS (
      SELECT a.b, a.s AS x, e.s AS y
      FROM h a JOIN h e ON a.b = e.b
      WHERE a.event_type = 'click' AND e.event_type = 'error'
    ),
    g AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(CAST(x * y AS DECIMAL(38,4))) AS sxy,
             SUM(CAST(x * x AS DECIMAL(38,4))) AS sxx,
             SUM(CAST(y * y AS DECIMAL(38,4))) AS syy
      FROM j
    )
    SELECT n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 12) AS pearson_r
    FROM g
    """,
)
def series_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-series Pearson correlation (click vs error hourly totals)
    — the 'do these two metrics move together' panel. Exact decimal
    sufficient statistics end-to-end; the closed form touches doubles
    once. Two shuffles (hourly agg + the 1-row final agg); the bucket
    join is co-partitioned."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .filter(F.col("event_type").isin("click", "error"))
    )
    h = ev.groupBy(
        F.window("ts", "1 hour").start.alias("b"), "event_type"
    ).agg(F.sum(_dec("value")).alias("s"))
    a = h.filter(F.col("event_type") == "click").select("b", F.col("s").alias("x"))
    e = h.filter(F.col("event_type") == "error").select("b", F.col("s").alias("y"))
    j = a.join(e, "b")
    g = j.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,4)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,4)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,4)")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    r = (nd * sxy - sx * sy) / (
        F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
    )
    return g.select("n", F.round(r, 12).alias("pearson_r"))


@query(
    "holt_linear_final",
    # Holt's linear (double exponential) smoothing, final state per
    # series: level l_t = α·x + (1−α)(l+b), trend b_t = β(l_t−l) +
    # (1−β)b, init (l,b) = (x_1, 0). α=0.5 and β=0.25 are DYADIC so
    # every smoothing constant (incl. 1−β=0.75) is exactly
    # representable — no (1.0−α) folding drift between engines (the
    # ewma lesson, closed structurally this time). The oracle replays
    # the recurrence with a RECURSIVE CTE stepping a per-series row
    # index — NOT list_reduce with a struct accumulator: DuckDB 1.0
    # evaluates output-struct fields against the PARTIALLY-UPDATED
    # accumulator (the 'b' expression sees the new 'l'), so coupled
    # recurrences silently diverge (pitfall, measured). Sequential per
    # series; like ewma_final this is the attestation/diagnostic tier.
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, value) AS i,
             CAST(value AS DOUBLE) AS x
      FROM events WHERE value IS NOT NULL
    ),
    hw(event_type, i, l, b) AS (
      SELECT event_type, 1, x, CAST(0 AS DOUBLE) FROM seq WHERE i = 1
      UNION ALL
      SELECT s.event_type, s.i,
             0.5 * s.x + 0.5 * (h.l + h.b),
             0.25 * ((0.5 * s.x + 0.5 * (h.l + h.b)) - h.l) + 0.75 * h.b
      FROM hw h JOIN seq s
        ON s.event_type = h.event_type AND s.i = h.i + 1
    ),
    last AS (SELECT event_type, MAX(i) AS n FROM seq GROUP BY event_type)
    SELECT h.event_type, last.n,
           round(h.l, 9) AS level,
           round(h.b, 9) AS trend,
           round(h.l + h.b, 9) AS forecast_next
    FROM hw h JOIN last ON last.event_type = h.event_type AND h.i = last.n
    """,
)
def holt_linear_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear trend smoothing (public double-exponential
    forecasting), final (level, trend) + one-step forecast per series —
    the trend-aware successor of the EWMA gauge. Pure JVM struct-
    accumulator fold, bit-identical to DuckDB's list_reduce replay."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sort_array(F.collect_list(F.struct("ts", "value"))).alias("__s"),
    )
    structs = F.transform(
        F.col("__s"),
        lambda s: F.struct(
            s["value"].cast("double").alias("l"), F.lit(0.0).alias("b")
        ),
    )

    def _step(acc, x):
        l_new = F.lit(0.5) * x["l"] + F.lit(0.5) * (acc["l"] + acc["b"])
        b_new = F.lit(0.25) * (l_new - acc["l"]) + F.lit(0.75) * acc["b"]
        return F.struct(l_new.alias("l"), b_new.alias("b"))

    hw = F.aggregate(
        F.slice(structs, 2, F.greatest(F.size(structs) - 1, F.lit(0))),
        F.element_at(structs, 1),
        _step,
    )
    return g.select(
        "event_type",
        "n",
        F.round(hw["l"], 9).alias("level"),
        F.round(hw["b"], 9).alias("trend"),
        F.round(hw["l"] + hw["b"], 9).alias("forecast_next"),
    )


@query(
    "decimate_lttb",
    oracle="""
    WITH pts AS (
      SELECT event_type, ts, value, event_id, epoch_us(ts) AS x,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, value, event_id) AS i,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL
    ),
    mid AS (
      SELECT *, CAST(FLOOR((i - 2) * 48 / (n - 2)) AS BIGINT) AS b
      FROM pts WHERE i > 1 AND i < n
    ),
    means AS (
      SELECT event_type, b,
             CAST(SUM(CAST(x AS DECIMAL(30,0))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mx,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS my
      FROM mid GROUP BY event_type, b
    ),
    fst AS (SELECT event_type, CAST(x AS DOUBLE) AS fx,
                   CAST(value AS DOUBLE) AS fy FROM pts WHERE i = 1),
    lst AS (SELECT event_type, CAST(x AS DOUBLE) AS lx,
                   CAST(value AS DOUBLE) AS ly FROM pts WHERE i = n),
    anch AS (
      SELECT m.event_type, m.b,
             COALESCE(lag(mx) OVER w, fx) AS px,
             COALESCE(lag(my) OVER w, fy) AS py,
             COALESCE(lead(mx) OVER w, lx) AS nx,
             COALESCE(lead(my) OVER w, ly) AS ny
      FROM means m JOIN fst USING (event_type) JOIN lst USING (event_type)
      WINDOW w AS (PARTITION BY m.event_type ORDER BY m.b)
    ),
    scored AS (
      SELECT mid.event_type, mid.b, mid.ts, mid.value, mid.i,
             abs((px - nx) * (CAST(mid.value AS DOUBLE) - py)
                 - (px - CAST(mid.x AS DOUBLE)) * (ny - py)) AS area
      FROM mid JOIN anch ON anch.event_type = mid.event_type
                        AND anch.b = mid.b
    )
    SELECT event_type, b AS bucket, ts, value FROM scored
    QUALIFY row_number() OVER (PARTITION BY event_type, b
                               ORDER BY area DESC, i) = 1
    UNION ALL
    SELECT event_type, CAST(CASE WHEN i = 1 THEN -1 ELSE -2 END AS BIGINT),
           ts, value
    FROM pts WHERE i = 1 OR i = n
    """,
)
def decimate_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-triangle bucket downsampling to 50 points per series —
    the Grafana/LTTB panel decimator, in its bucket-mean-anchor variant
    (operators/timeseries.triangle_decimate): independent per-bucket
    argmax means NO sequential loop, so the whole selection is plain
    Catalyst (two window families + one aggregate) and hash-verified.
    Keeps extrema the decimate_minmax panel keeps, but one point per
    bucket with triangle-area weighting."""
    return ts_ops.triangle_decimate(
        table(spark, sf_dir, "events").filter(F.col("value").isNotNull()),
        "ts",
        "value",
        ["event_type"],
        n_out=50,
    )


@query(
    "window_percentiles_15m",
    oracle="""
    SELECT make_timestamp((epoch_us(ts)//900000000)*900000000) AS window_start,
           event_type,
           COUNT(value) AS n,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.95) AS p95
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
    """,
)
def window_percentiles_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed exact quantiles: p50/p95 per series per 15-minute
    tumbling window — the latency-dashboard panel (aggregateWindow with
    a quantile fn). Same epoch-aligned bucket arithmetic as the
    flagship; F.percentile ≡ DuckDB quantile_cont by definition. One
    shuffle on (window, series)."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return (
        ev.groupBy(
            F.window("ts", "15 minutes").start.alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("value").alias("n"),
            F.percentile("value", F.lit(0.5)).alias("p50"),
            F.percentile("value", F.lit(0.95)).alias("p95"),
        )
    )


@query(
    "day_over_day_delta",
    # decimal-exact hourly means on both sides; the -24 h probe is an
    # equi-join on the shifted bucket — deterministic doubles end to end
    oracle=f"""
    WITH h AS (
      SELECT make_timestamp((epoch_us(ts)//3600000000)*3600000000) AS bucket,
             event_type, {_AVG} AS avg_value
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT cur.bucket, cur.event_type, cur.avg_value,
           prev.avg_value AS avg_value_prev_day,
           cur.avg_value - prev.avg_value AS dod_delta
    FROM h cur
    JOIN h prev ON prev.event_type = cur.event_type
      AND epoch_us(prev.bucket) = epoch_us(cur.bucket) - 86400000000
    """,
)
def day_over_day_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal (day-over-day) comparison: each hourly mean joined to
    the SAME series 24 h earlier — the week/day-over baseline panel
    behind seasonality-aware alerting. A time-shifted self-join on the
    bucket key: one aggregation shuffle, then an equi-join on
    (series, bucket−24 h) — co-partitioned, no range scan. Decimal-
    exact means keep the doubles bit-identical cross-engine."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    h = ev.groupBy(
        F.window("ts", "1 hour").start.alias("bucket"), "event_type"
    ).agg(
        (F.sum(_dec("value")).cast("double") / F.count(F.lit(1))).alias(
            "avg_value"
        )
    )
    cur = h
    prev = h.select(
        (F.col("bucket") + F.expr("INTERVAL 24 HOURS")).alias("bucket"),
        F.col("event_type"),
        F.col("avg_value").alias("avg_value_prev_day"),
    )
    return cur.join(prev, ["bucket", "event_type"]).select(
        "bucket",
        "event_type",
        "avg_value",
        "avg_value_prev_day",
        (F.col("avg_value") - F.col("avg_value_prev_day")).alias("dod_delta"),
    )


# ---------------------------------------------------------------------------
# suite_timeseries_stats — nine per-series stat singletons verified
# through ONE union hash, so their operators keep an in-window driver
# row even when the singletons rotate below the driver's 50-entry cap
# (VERDICT r4 item 8). The oracle reuses the constituents' own
# registered oracle SQL verbatim (ORACLE[...]), so the suite cannot
# drift from the singletons it folds.
# ---------------------------------------------------------------------------

_SUITE_TS_SQL = f"""
    SELECT 'value_percentiles' AS sub, t.event_type AS k1, m.k2,
           CAST(NULL AS BIGINT) AS n, m.value
    FROM ({ORACLE["value_percentiles"]}) t,
         LATERAL (VALUES ('p50', t.p50), ('p90', t.p90), ('p99', t.p99))
           AS m(k2, value)
    UNION ALL
    SELECT 'anomaly_mad', t.event_type, m.k2, t.n_points, m.value
    FROM ({ORACLE["anomaly_mad"]}) t,
         LATERAL (VALUES ('median_value', t.median_value), ('mad', t.mad),
                         ('outlier_frac', t.outlier_frac),
                         ('n_outliers', CAST(t.n_outliers AS DOUBLE)))
           AS m(k2, value)
    UNION ALL
    SELECT 'value_trend_per_type', t.event_type, m.k2, t.n, m.value
    FROM ({ORACLE["value_trend_per_type"]}) t,
         LATERAL (VALUES ('slope_per_s', t.slope_per_s),
                         ('intercept', t.intercept)) AS m(k2, value)
    UNION ALL
    SELECT 'time_weighted_avg', t.event_type, 'time_weighted_avg', t.n,
           t.time_weighted_avg
    FROM ({ORACLE["time_weighted_avg"]}) t
    UNION ALL
    SELECT 'counter_increase', t.event_type, 'total_increase', t.n,
           t.total_increase
    FROM ({ORACLE["counter_increase"]}) t
    UNION ALL
    SELECT 'json_props_stats', t.event_type, m.k2, t.n, m.value
    FROM ({ORACLE["json_props_stats"]}) t,
         LATERAL (VALUES ('avg_k', t.avg_k),
                         ('sum_k', CAST(t.sum_k AS DOUBLE)),
                         ('max_k', CAST(t.max_k AS DOUBLE))) AS m(k2, value)
    UNION ALL
    SELECT 'funnel_view_click_purchase', CAST(NULL AS VARCHAR), m.k2,
           CAST(NULL AS BIGINT), m.value
    FROM ({ORACLE["funnel_view_click_purchase"]}) t,
         LATERAL (VALUES ('n_view', CAST(t.n_view AS DOUBLE)),
                         ('n_view_click', CAST(t.n_view_click AS DOUBLE)),
                         ('n_view_click_purchase',
                          CAST(t.n_view_click_purchase AS DOUBLE)))
           AS m(k2, value)
    UNION ALL
    SELECT 'event_transitions', t.from_type, t.to_type, t.n, t.prob
    FROM ({ORACLE["event_transitions"]}) t
    UNION ALL
    SELECT 'weekly_retention', CAST(t.cohort AS VARCHAR),
           CAST(t.week AS VARCHAR), t.n_active, CAST(NULL AS DOUBLE)
    FROM ({ORACLE["weekly_retention"]}) t
"""


@query("suite_timeseries_stats", oracle=_SUITE_TS_SQL)
def suite_timeseries_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series statistics suite: exact percentiles, MAD anomaly
    summary, least-squares trend, time-weighted average, counter
    increase, JSON-props stats, conversion funnel, transition matrix,
    and weekly retention — one order-insensitive union hash. Long
    format (sub, k1, k2, n, value); exact counts fold into DOUBLE
    losslessly (all << 2^53)."""

    def _ns():
        return F.lit(None).cast("string")

    def _nl():
        return F.lit(None).cast("long")

    def melt(df, sub, ids, metrics, n_col=None):
        """Unpivot double metric columns to (sub, k1, k2, n, value)."""
        m = df.unpivot(ids, metrics, "k2", "value")
        return m.select(
            F.lit(sub).alias("sub"),
            F.col(ids[0]).cast("string").alias("k1") if ids else _ns().alias("k1"),
            F.col("k2"),
            (F.col(n_col) if n_col else _nl()).cast("long").alias("n"),
            F.col("value").cast("double").alias("value"),
        )

    vp = melt(
        value_percentiles(spark, sf_dir),
        "value_percentiles", ["event_type"], ["p50", "p90", "p99"],
    )
    mad_src = anomaly_mad(spark, sf_dir).withColumn(
        "n_outliers", F.col("n_outliers").cast("double")
    )
    mad = melt(
        mad_src, "anomaly_mad", ["event_type", "n_points"],
        ["median_value", "mad", "outlier_frac", "n_outliers"], n_col="n_points",
    )
    tr = melt(
        value_trend_per_type(spark, sf_dir),
        "value_trend_per_type", ["event_type", "n"],
        ["slope_per_s", "intercept"], n_col="n",
    )
    twa = melt(
        time_weighted_avg_q(spark, sf_dir),
        "time_weighted_avg", ["event_type", "n"],
        ["time_weighted_avg"], n_col="n",
    )
    ci = melt(
        counter_increase_q(spark, sf_dir),
        "counter_increase", ["event_type", "n"],
        ["total_increase"], n_col="n",
    )
    js_src = json_props_stats(spark, sf_dir).select(
        "event_type", "n", "avg_k",
        F.col("sum_k").cast("double").alias("sum_k"),
        F.col("max_k").cast("double").alias("max_k"),
    )
    js = melt(
        js_src, "json_props_stats", ["event_type", "n"],
        ["avg_k", "sum_k", "max_k"], n_col="n",
    )
    fu_src = funnel_view_click_purchase(spark, sf_dir).select(
        *[
            F.col(c).cast("double").alias(c)
            for c in ("n_view", "n_view_click", "n_view_click_purchase")
        ]
    )
    fu = melt(
        fu_src, "funnel_view_click_purchase", [],
        ["n_view", "n_view_click", "n_view_click_purchase"],
    )
    et = event_transitions(spark, sf_dir).select(
        F.lit("event_transitions").alias("sub"),
        F.col("from_type").alias("k1"),
        F.col("to_type").alias("k2"),
        F.col("n").cast("long").alias("n"),
        F.col("prob").alias("value"),
    )
    wr = weekly_retention(spark, sf_dir).select(
        F.lit("weekly_retention").alias("sub"),
        F.col("cohort").cast("string").alias("k1"),
        F.col("week").cast("string").alias("k2"),
        F.col("n_active").cast("long").alias("n"),
        F.lit(None).cast("double").alias("value"),
    )
    out = vp
    for part in (mad, tr, twa, ci, js, fu, et, wr):
        out = out.unionByName(part)
    return out


# ---------------------------------------------------------------------------
# round 10c: the Flux technical-indicator / selector / conversion batch.
# Reference evidence: the Data-Explorer aggregate dropdown and the Flux
# universe technical-indicator family the reference's Grafana panels
# query through (photo/Influxdb-result.png, SURVEY.md §2.5 A3 / §8).


@query(
    "flux_compiled_mode",
    # upstream mode(): every most-frequent value per table (ties ->
    # several rows), ONE NULL row when no value repeats. Both branches
    # are live across SFs: sf0.001 has unique-only fields (NULL rows),
    # sf0.01 has repeated 2-decimal values.
    oracle="""
    WITH c AS (
      SELECT event_type, value, count(*) AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), m AS (
      SELECT event_type, value, c,
             max(c) OVER (PARTITION BY event_type) AS mc
      FROM c
    )
    SELECT DISTINCT 'events' AS _measurement, event_type AS _field,
           CASE WHEN mc > 1 THEN value END AS mode
    FROM m WHERE c = mc
    """,
)
def flux_compiled_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mode()` through the Flux front-end: two hash aggregations —
    per-value counts (map-side combinable) and a max-count window over
    DISTINCT VALUES per table, never raw rows."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> mode()
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_skew",
    # Flux skew() = POPULATION g1 = sqrt(n)*M3/M2^1.5 (NOT SQL's
    # sample-corrected skewness). Exact decimal power sums -> one fixed
    # double expression order (m2^1.5 spelled m2*sqrt(m2) — sqrt is
    # correctly-rounded IEEE in both engines, pow is not), round-9
    # shared policy absorbing decimal->double conversion ulps.
    oracle="""
    WITH s AS (
      SELECT event_type,
             SUM(TRY_CAST(value AS DECIMAL(12,2))) AS s1,
             SUM(TRY_CAST(value AS DECIMAL(12,2))
                 * TRY_CAST(value AS DECIMAL(12,2))) AS s2,
             SUM(TRY_CAST(value AS DECIMAL(12,2))
                 * TRY_CAST(value AS DECIMAL(12,2))
                 * TRY_CAST(value AS DECIMAL(12,2))) AS s3,
             CAST(COUNT(TRY_CAST(value AS DECIMAL(12,2))) AS BIGINT) AS nc,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ), m AS (
      SELECT event_type, n, nc, CAST(n AS DOUBLE) AS nd,
             CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
               AS m2,
             CAST(s3 AS DOUBLE)
               - 3.0 * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
                 / CAST(n AS DOUBLE)
               + 2.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                 * CAST(s1 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS m3
      FROM s
    )
    SELECT 'events' AS _measurement, event_type AS _field,
           CASE WHEN m2 <= 0 OR nc != n THEN NULL
                ELSE round(sqrt(nd) * m3 / (m2 * sqrt(m2)), 9)
           END AS skew,
           n
    FROM m
    """,
)
def flux_compiled_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`skew()` through the Flux front-end — one map-side-combinable
    power-sum aggregation per table (Σv, Σv², Σv³ over exact decimals),
    moment algebra in-row."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> skew()
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_state_count",
    # stateCount(fn:) — 1-based position within the current TRUE run,
    # -1 where false; run ids via lag change detection, identical to
    # the attested stateDuration machinery.
    oracle="""
    WITH s AS (
      SELECT event_type, ts, value, (value > 100.0) AS state,
             CASE WHEN lag((value > 100.0)) OVER w
                       IS DISTINCT FROM (value > 100.0)
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, value)
    ), r AS (
      SELECT *, SUM(chg) OVER (PARTITION BY event_type ORDER BY ts, value
                               ROWS UNBOUNDED PRECEDING) AS run_id
      FROM s
    )
    SELECT 'events' AS _measurement, event_type AS _field, ts AS _time,
           value AS _value, state,
           CASE WHEN state
                THEN CAST(row_number() OVER (PARTITION BY event_type, run_id
                                             ORDER BY ts, value) AS BIGINT)
                ELSE CAST(-1 AS BIGINT) END AS "stateCount"
    FROM r
    """,
)
def flux_compiled_state_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`stateCount()` through the Flux front-end — the "how many
    readings has this alert condition persisted" panel."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> stateCount(fn: (r) => r._value > 100.0)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_cmo",
    # Chande Momentum Oscillator over the trailing 10 deltas: EXACT
    # decimal up/down sums in a ROWS frame (integer-backed — DuckDB's
    # segment-tree merge and Spark's running frame agree exactly), ONE
    # double division per row; first n rows dropped; flat-window 0/0
    # pinned to 0 on both sides.
    oracle="""
    WITH s AS (
      SELECT event_type, ts, value,
             CAST(value AS DECIMAL(18,2))
               - lag(CAST(value AS DECIMAL(18,2))) OVER w AS d,
             row_number() OVER w AS rn
      FROM events
      WHERE event_type = 'click' AND value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, value)
    ), f AS (
      SELECT event_type, ts, rn,
             SUM(CASE WHEN d > 0 THEN d
                      ELSE CAST(0 AS DECIMAL(18,2)) END) OVER wf AS up,
             SUM(CASE WHEN d < 0 THEN -d
                      ELSE CAST(0 AS DECIMAL(18,2)) END) OVER wf AS dn
      FROM s
      WINDOW wf AS (PARTITION BY event_type ORDER BY ts, value
                    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT 'events' AS _measurement, event_type AS _field, ts AS _time,
           CASE WHEN (up + dn) = 0 THEN 0.0
                ELSE CAST((up - dn) * 100 AS DOUBLE)
                     / CAST(up + dn AS DOUBLE) END AS _value
    FROM f WHERE rn >= 11
    """,
)
def flux_compiled_cmo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`chandeMomentumOscillator()` through the Flux front-end."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "click")
          |> chandeMomentumOscillator(n: 10)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_kaufmans_er",
    # Kaufman's Efficiency Ratio: |net move over n deltas| / Σ|step|
    # over the same trailing frame — exact decimals, one division.
    oracle="""
    WITH s AS (
      SELECT event_type, ts, value,
             abs(CAST(value AS DECIMAL(18,2))
                 - lag(CAST(value AS DECIMAL(18,2))) OVER w) AS d,
             abs(CAST(value AS DECIMAL(18,2))
                 - lag(CAST(value AS DECIMAL(18,2)), 10) OVER w) AS num,
             row_number() OVER w AS rn
      FROM events
      WHERE event_type = 'view' AND value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, value)
    ), f AS (
      SELECT event_type, ts, num, rn,
             SUM(d) OVER (PARTITION BY event_type ORDER BY ts, value
                          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS den
      FROM s
    )
    SELECT 'events' AS _measurement, event_type AS _field, ts AS _time,
           CASE WHEN den = 0 THEN 0.0
                ELSE CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS _value
    FROM f WHERE rn >= 11
    """,
)
def flux_compiled_kaufmans_er(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`kaufmansER()` through the Flux front-end."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "view")
          |> kaufmansER(n: 10)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_sample",
    # sample(n: 5, pos: 2) — every 5th record per table at offset 2
    # (the deterministic form; upstream's default pos: -1 is random and
    # raises). A SELECTOR: positions index RAW records — no null
    # pre-filter, exactly like limit()/tail().
    oracle="""
    SELECT 'events' AS _measurement, event_type AS _field,
           ts AS _time, value AS _value
    FROM (
      SELECT event_type, ts, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, value) AS rn
      FROM events
      WHERE event_type = 'error'
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    ) WHERE (rn - 1) % 5 = 2
    """,
)
def flux_compiled_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sample()` through the Flux front-end — the decimation stage a
    dashboard uses to thin a dense series."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "error")
          |> sample(n: 5, pos: 2)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_limit_offset",
    # limit(n: 5, offset: 10) — Flux pagination: per-table ranks
    # (10, 15] in _time table order.
    oracle="""
    SELECT 'events' AS _measurement, event_type AS _field,
           ts AS _time, value AS _value
    FROM (
      SELECT event_type, ts, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, value) AS rn
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    ) WHERE rn > 10 AND rn <= 15
    """,
)
def flux_compiled_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`limit(n:, offset:)` through the Flux front-end — pagination
    compiled onto the same per-table rank machinery as bare limit."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> limit(n: 5, offset: 10)
          |> keep(columns: ["_measurement", "_field", "_time", "_value"])
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_to_int",
    # toInt() |> aggregateWindow(sum): the cast truncates toward zero
    # (Go int64(float) == Spark double->long; DuckDB's bare cast ROUNDS,
    # hence trunc() in this oracle), then the windowed exact-decimal sum
    # runs over the integer values.
    oracle="""
    SELECT make_timestamp((epoch_us(ts) // 86400000000) * 86400000000)
             AS window_start,
           'events' AS _measurement, event_type AS _field,
           CAST(SUM(CAST(CAST(trunc(value) AS BIGINT) AS DECIMAL(18,2)))
                AS DOUBLE) AS sum,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE value IS NOT NULL
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def flux_compiled_to_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`toInt()` through the Flux front-end, feeding a windowed sum —
    the conversion stage composes with terminals like any row stage."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> toInt()
          |> aggregateWindow(every: 1d, fn: sum)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_highest_max",
    # highestMax(n: 3): the extremum RECORD per table (value ties ->
    # later timestamp), then the 3 highest tables by value (ties ->
    # key order) — a per-table aggregate plus a top-N over
    # one-row-per-table frames.
    oracle="""
    WITH per AS (
      SELECT event_type, ts, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, ts DESC) AS rn
      FROM events WHERE value IS NOT NULL
    )
    SELECT 'events' AS _measurement, event_type AS _field,
           ts AS _time, value AS _value
    FROM per WHERE rn = 1
    ORDER BY value DESC, event_type ASC LIMIT 3
    """,
)
def flux_compiled_highest_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`highestMax()` through the Flux front-end — the "top N series
    by peak" Grafana table panel."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> highestMax(n: 3)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_lowest_average",
    # lowestAverage(n: 2): per-table exact-decimal mean, then the 2
    # lowest tables.
    oracle="""
    WITH per AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS _value
      FROM events WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT 'events' AS _measurement, event_type AS _field, _value
    FROM per ORDER BY _value ASC, event_type ASC LIMIT 2
    """,
)
def flux_compiled_lowest_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`lowestAverage()` through the Flux front-end."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> lowestAverage(n: 2)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_histogram_quantile",
    # fused histogram |> histogramQuantile(0.9) over bounds
    # [100, 200, 300, +Inf]: first cumulative count reaching 0.9·total
    # wins; linear interpolation from the previous bound (minValue 0
    # for the first); a +Inf winner yields its lower edge. The CASE
    # replays the engine's expression order verbatim; unselected arms
    # never evaluate (CASE is lazy in both engines), so the only
    # denominators computed are the provably-positive ones.
    oracle="""
    WITH h AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN value <= 100.0 THEN 1 ELSE 0 END) AS DOUBLE)
               AS h0,
             CAST(SUM(CASE WHEN value <= 200.0 THEN 1 ELSE 0 END) AS DOUBLE)
               AS h1,
             CAST(SUM(CASE WHEN value <= 300.0 THEN 1 ELSE 0 END) AS DOUBLE)
               AS h2,
             CAST(COUNT(*) AS DOUBLE) AS h3
      FROM events WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT 'events' AS _measurement, event_type AS _field,
           CASE WHEN h3 <= 0 THEN NULL
                WHEN h0 >= 0.9 * h3
                  THEN 0.0 + (100.0 - 0.0) * (0.9 * h3 - 0.0) / (h0 - 0.0)
                WHEN h1 >= 0.9 * h3
                  THEN 100.0 + (200.0 - 100.0) * (0.9 * h3 - h0) / (h1 - h0)
                WHEN h2 >= 0.9 * h3
                  THEN 200.0 + (300.0 - 200.0) * (0.9 * h3 - h1) / (h2 - h1)
                ELSE 300.0 END AS _value
    FROM h
    """,
)
def flux_compiled_histogram_quantile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`histogram |> histogramQuantile` through the Flux front-end —
    the Grafana heatmap-to-percentile panel, fused into ONE
    aggregation pass (no second shuffle)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> histogram(bins: linearBins(start: 100.0, width: 100.0, count: 3, infinity: true))
          |> histogramQuantile(quantile: 0.9)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_dema",
    # doubleEMA(n: 10), full series: DEMA_j = 2·e1 − e2 aligned at the
    # same original row, emission from row 2(n−1)+1. The oracle replays
    # the e1 fold as a linear recursive CTE and the e2 fold as a second
    # recursion over the collected e1 list — every step is the exact
    # expression order the Arrow kernel evaluates ((1−k)·a + k·x, seed
    # = left-fold sum ÷ n, combination 2.0·a − b), so the ~450-step
    # chain is bit-identical with no rounding.
    oracle="""
    WITH RECURSIVE ranked AS (
      SELECT ts, value, row_number() OVER (ORDER BY ts, value) AS rn
      FROM events
      WHERE event_type = 'view' AND value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    ),
    base AS (
      SELECT count(*) AS L, list(value ORDER BY rn) AS vs,
             list(ts ORDER BY rn) AS tss
      FROM ranked
    ),
    -- each recursion carries its input LIST in the working row: a
    -- recursive step referencing another CTE would re-evaluate it per
    -- iteration (O(n^2)); the list-walker stays linear
    e1(rn, a, vs) AS (
      SELECT 10, list_reduce(list_slice(vs, 1, 10), (a, x) -> a + x) / 10, vs
      FROM base WHERE L >= 10
      UNION ALL
      SELECT rn + 1,
             (1.0 - 2.0 / 11.0) * a + (2.0 / 11.0) * vs[rn + 1], vs
      FROM e1 WHERE rn + 1 <= len(vs)
    ),
    b2 AS (SELECT count(*) AS L2, list(a ORDER BY rn) AS es FROM e1),
    e2(i, a2, es) AS (
      SELECT 10, list_reduce(list_slice(es, 1, 10), (a, x) -> a + x) / 10, es
      FROM b2 WHERE L2 >= 10
      UNION ALL
      SELECT i + 1,
             (1.0 - 2.0 / 11.0) * a2 + (2.0 / 11.0) * es[i + 1], es
      FROM e2 WHERE i + 1 <= len(es)
    )
    SELECT 'events' AS _measurement, 'view' AS _field,
           b.tss[e2.i + 9] AS _time,
           2.0 * e2.es[e2.i] - e2.a2 AS _value
    FROM e2, base b
    """,
)
def flux_compiled_dema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`doubleEMA()` through the Flux front-end — the chained-EMA
    smoother, one Arrow per-series pass (operators/timeseries.py
    flux_ema_chain)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "view")
          |> doubleEMA(n: 10)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_tema",
    # tripleEMA(n: 6) |> last(): 3·e1 − 3·e2 + e3 at the fold's final
    # element. e1/e2 replay as recursions; e3's LAST value needs only
    # one list_reduce fold over the collected e2 list (the same shape
    # the flux_compiled_ema oracle uses).
    oracle="""
    WITH RECURSIVE ranked AS (
      SELECT ts, value, row_number() OVER (ORDER BY ts, value) AS rn
      FROM events
      WHERE event_type = 'signup' AND value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    ),
    base AS (
      SELECT count(*) AS L, list(value ORDER BY rn) AS vs, max(ts) AS last_ts
      FROM ranked
    ),
    e1(rn, a, vs) AS (
      SELECT 6, list_reduce(list_slice(vs, 1, 6), (a, x) -> a + x) / 6, vs
      FROM base WHERE L >= 6
      UNION ALL
      SELECT rn + 1, (1.0 - 2.0 / 7.0) * a + (2.0 / 7.0) * vs[rn + 1], vs
      FROM e1 WHERE rn + 1 <= len(vs)
    ),
    b2 AS (SELECT count(*) AS L2, list(a ORDER BY rn) AS es FROM e1),
    e2(i, a2, es) AS (
      SELECT 6, list_reduce(list_slice(es, 1, 6), (a, x) -> a + x) / 6, es
      FROM b2 WHERE L2 >= 6
      UNION ALL
      SELECT i + 1, (1.0 - 2.0 / 7.0) * a2 + (2.0 / 7.0) * es[i + 1], es
      FROM e2 WHERE i + 1 <= len(es)
    ),
    b3 AS (SELECT count(*) AS L3, list(a2 ORDER BY i) AS e2s FROM e2)
    SELECT 'events' AS _measurement, 'signup' AS _field,
           b.last_ts,
           3.0 * b2.es[b2.L2]
             - 3.0 * b3.e2s[b3.L3]
             + list_reduce(
                 list_prepend(
                   list_reduce(list_slice(b3.e2s, 1, 6), (a, x) -> a + x) / 6,
                   list_slice(b3.e2s, 7, b3.L3)),
                 (a, x) -> (1.0 - 2.0 / 7.0) * a + (2.0 / 7.0) * x
               ) AS last_value
    FROM base b, b2, b3
    WHERE b3.L3 >= 6
    """,
)
def flux_compiled_tema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`tripleEMA() |> last()` through the Flux front-end — the
    stat-panel form of the thrice-smoothed series."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "signup")
          |> tripleEMA(n: 6)
          |> last()
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_rsi",
    # Wilder RSI, full series: the (avgGain, avgLoss) pair recursion
    # seeded by the first-14-delta means; every step and the final
    # 100 − 100/(1 + au/ad) are the exact expression order the kernel
    # evaluates (adding 0.0 for a non-move is an exact identity, so the
    # CASE-fold seed equals the kernel's skip-the-zeros loop).
    oracle="""
    WITH RECURSIVE ranked AS (
      SELECT ts, value, row_number() OVER (ORDER BY ts, value) AS rn,
             value - lag(value) OVER (ORDER BY ts, value) AS d
      FROM events
      WHERE event_type = 'error' AND value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    ),
    base AS (
      SELECT count(*) AS L, list(d ORDER BY rn) AS ds,
             list_reduce(list_prepend(0.0, list_transform(
               list_slice(list(d ORDER BY rn), 2, 15),
               x -> CASE WHEN x > 0 THEN x ELSE 0.0 END)),
               (a, x) -> a + x) / 14 AS au0,
             list_reduce(list_prepend(0.0, list_transform(
               list_slice(list(d ORDER BY rn), 2, 15),
               x -> CASE WHEN x < 0 THEN -x ELSE 0.0 END)),
               (a, x) -> a + x) / 14 AS ad0
      FROM ranked
    ),
    -- list-carrying recursion (a recursive step referencing ranked
    -- would re-evaluate the windowed CTE per iteration — O(n^2))
    r(rn, au, ad, ds) AS (
      SELECT 15, au0, ad0, ds FROM base WHERE L >= 15
      UNION ALL
      SELECT rn + 1,
             (au * 13.0 + CASE WHEN ds[rn + 1] > 0
                               THEN ds[rn + 1] ELSE 0.0 END) / 14,
             (ad * 13.0 + CASE WHEN ds[rn + 1] < 0
                               THEN -ds[rn + 1] ELSE 0.0 END) / 14,
             ds
      FROM r WHERE rn + 1 <= len(ds)
    )
    SELECT 'events' AS _measurement, 'error' AS _field, x.ts AS _time,
           CASE WHEN r.ad = 0 THEN 100.0
                ELSE 100.0 - 100.0 / (1.0 + r.au / r.ad) END AS _value
    FROM r JOIN ranked x ON x.rn = r.rn
    """,
)
def flux_compiled_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`relativeStrengthIndex()` through the Flux front-end — Wilder's
    RSI in the sanctioned Arrow per-series kernel
    (operators/timeseries.py flux_rsi)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "error")
          |> relativeStrengthIndex(n: 14)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_sliding",
    # aggregateWindow(every: 1h, period: 3h): SLIDING windows — each
    # row in period/every = 3 windows (Spark F.window slide ≡ Flux).
    # Replayed by unnesting k ∈ {0,1,2} window memberships per row.
    oracle="""
    WITH x AS (
      SELECT ts, event_type, value, unnest([0, 1, 2]) AS k
      FROM events
      WHERE event_type = 'purchase' AND value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    )
    SELECT make_timestamp(((epoch_us(ts) // 3600000000) - k) * 3600000000)
             AS window_start,
           'events' AS _measurement, event_type AS _field,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
             AS mean,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM x GROUP BY 1, 2, 3
    """,
)
def flux_compiled_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`aggregateWindow(period:)` through the Flux front-end — the
    Grafana smoothing form (3h windows every 1h)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "purchase")
          |> aggregateWindow(every: 1h, period: 3h, fn: mean)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_offset_window",
    # aggregateWindow(offset: 30m): boundary-shifted tumbling windows —
    # window_start ≡ 30m (mod 1h).
    oracle="""
    SELECT make_timestamp(((epoch_us(ts) - 1800000000) // 3600000000)
                          * 3600000000 + 1800000000) AS window_start,
           'events' AS _measurement, event_type AS _field,
           CAST(COUNT(*) AS BIGINT) AS count
    FROM events
    WHERE value IS NOT NULL
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def flux_compiled_offset_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`aggregateWindow(offset:)` through the Flux front-end —
    alignment-shifted windows (the business-day / timezone-anchor
    form)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> aggregateWindow(every: 1h, offset: 30m, fn: count)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_month",
    # aggregateWindow(every: 1mo): CALENDAR month buckets (date_trunc —
    # months are not a fixed number of seconds, so no epoch-aligned
    # window can express them).
    oracle="""
    SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS window_start,
           'events' AS _measurement, event_type AS _field,
           MAX(value) AS max,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2, 3
    """,
)
def flux_compiled_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`aggregateWindow(every: 1mo)` through the Flux front-end — the
    calendar-month rollup panel."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> aggregateWindow(every: 1mo, fn: max)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_counter_window",
    # difference(nonNegative: true) |> aggregateWindow(every: 1d,
    # fn: sum): the counter-to-daily-totals panel — the windowed
    # aggregate runs over the REWRITTEN delta series (each table's
    # first row drops BEFORE windowing, Flux's order). Exact decimal
    # deltas and sums; the reset rule (decrease ⇒ delta = current
    # value) replayed verbatim.
    oracle="""
    WITH d AS (
      SELECT event_type, ts,
             CASE WHEN lag(CAST(value AS DECIMAL(18,2))) OVER w IS NULL
                  THEN NULL
                  WHEN CAST(value AS DECIMAL(18,2))
                       >= lag(CAST(value AS DECIMAL(18,2))) OVER w
                  THEN CAST(value AS DECIMAL(18,2))
                       - lag(CAST(value AS DECIMAL(18,2))) OVER w
                  ELSE CAST(value AS DECIMAL(18,2)) END AS delta
      FROM events
      WHERE value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, value)
    )
    SELECT make_timestamp((epoch_us(ts) // 86400000000) * 86400000000)
             AS window_start,
           'events' AS _measurement, event_type AS _field,
           CAST(SUM(delta) AS DOUBLE) AS sum,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM d WHERE delta IS NOT NULL
    GROUP BY 1, 2, 3
    """,
)
def flux_compiled_counter_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`difference(nonNegative:) |> aggregateWindow(sum)` through the
    Flux front-end — the value-series-then-windowed-aggregate
    composition (bytes-per-day from a counter)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> difference(nonNegative: true)
          |> aggregateWindow(every: 1d, fn: sum)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_alert_filter",
    # aggregateWindow(mean) |> filter(r._value > 60): the Grafana alert
    # threshold shape — a post-aggregate row filter over the windowed
    # frame, r._value mapped onto the aggregate's value column.
    oracle="""
    SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)
             AS window_start,
           'events' AS _measurement, event_type AS _field,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
             AS mean,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE event_type = 'signup' AND value IS NOT NULL
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY 1, 2, 3
    HAVING CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
           > 60.0
    """,
)
def flux_compiled_alert_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`aggregateWindow |> filter` through the Flux front-end — the
    alert/threshold panel (windows whose mean exceeds the line)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "signup")
          |> aggregateWindow(every: 1h, fn: mean)
          |> filter(fn: (r) => r._value > 60.0)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_postmap_units",
    # round 12d: aggregateWindow(mean) |> map(r._value * 0.1 - 2.0)
    # |> filter(r._value > 3.0) — the POST-AGGREGATE map (the Grafana
    # unit-converted panel) composed with the alert threshold in user
    # order: the rewrite lands on the aggregate's value column, the
    # threshold tests the MAPPED units. The oracle computes the same
    # double ops in the same order ((mean * 0.1) - 2.0) over the inner
    # windowed mean, so values replay bit-identically.
    oracle="""
    SELECT window_start, _measurement, _field,
           mean * 0.1 - 2.0 AS mean, n
    FROM (
      SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)
               AS window_start,
             'events' AS _measurement, event_type AS _field,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS mean,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events
      WHERE event_type = 'signup' AND value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      GROUP BY 1, 2, 3
    ) t
    WHERE mean * 0.1 - 2.0 > 3.0
    """,
)
def flux_compiled_postmap_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`aggregateWindow |> map |> filter` through the Flux front-end —
    the unit-converted aggregate panel with a threshold on the mapped
    units (round 12d: map() joined the tail grammar; the rejection
    before this round was pinned in test_map_rejections)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "signup")
          |> aggregateWindow(every: 1h, fn: mean)
          |> map(fn: (r) => ({ r with _value: r._value * 0.1 - 2.0 }))
          |> filter(fn: (r) => r._value > 3.0)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_timesrc_stop",
    # round 12d: aggregateWindow(timeSrc: "_stop") — UPSTREAM'S
    # DEFAULT window labeling: every emitted label is the window END
    # (floor + 1 interval), so a pasted dashboard query with the
    # explicit default replays. Values identical to the start-labeled
    # form; only the label shifts.
    oracle="""
    SELECT make_timestamp(((epoch_us(ts) // 3600000000) + 1)
                          * 3600000000) AS window_start,
           'events' AS _measurement, event_type AS _field,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
             AS mean,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE event_type = 'signup' AND value IS NOT NULL
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def flux_compiled_timesrc_stop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`aggregateWindow(timeSrc: "_stop")` through the Flux front-end —
    upstream's default stop-labeled windows (round 12d; "_start" stays
    the engine's pinned convention and compiles as a no-op)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "signup")
          |> aggregateWindow(every: 1h, fn: mean, timeSrc: "_stop")
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_legacy_window",
    # round 12d: the LEGACY pre-aggregateWindow idiom (InfluxDB 2.0's
    # Data Explorer generated exactly this text) — window(every:) |>
    # mean() |> window(every: inf) rewrites to the windowed aggregate;
    # the oracle is the plain windowed mean (byte-identical values —
    # aggregateWindow IS upstream's sugar for the composition).
    oracle="""
    SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)
             AS window_start,
           'events' AS _measurement, event_type AS _field,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
             AS mean,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE event_type = 'signup' AND value IS NOT NULL
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def flux_compiled_legacy_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`window |> mean |> window(every: inf)` through the Flux
    front-end — the legacy Data-Explorer window/un-window idiom
    (round 12d), rewritten onto the windowed-aggregate machinery."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "signup")
          |> window(every: 1h)
          |> mean()
          |> window(every: inf)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_tag_pivot",
    # round 12d: pivot(columnKey: ["host"]) — the per-host overlay
    # table: the tag leaves the table key and becomes one column per
    # value; the residual key (measurement, field, other tags) + _time
    # stays as rows. MAX tie rule, nulls preserved (no value filter —
    # pivot reshapes, it does not aggregate away rows).
    oracle="""
    SELECT 'events' AS _measurement, event_type AS _field,
           concat('d', CAST(user_id % 3 AS VARCHAR)) AS dc,
           ts AS _time,
           MAX(CASE WHEN user_id % 4 = 0 THEN value END) AS h0,
           MAX(CASE WHEN user_id % 4 = 1 THEN value END) AS h1,
           MAX(CASE WHEN user_id % 4 = 2 THEN value END) AS h2,
           MAX(CASE WHEN user_id % 4 = 3 THEN value END) AS h3
    FROM events
    WHERE event_type = 'click'
    GROUP BY 1, 2, 3, 4
    """,
)
def flux_compiled_tag_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`pivot(columnKey: ["host"])` through the Flux front-end — the
    per-host overlay table over the TAGGED store (round 12d)."""
    from ..flux import compile_flux

    path = _tagged_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "click")
          |> pivot(rowKey: ["_time"], columnKey: ["host"], valueColumn: "_value")
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_columns",
    # columns() — record-label introspection per table: compile-time
    # constant labels exploded over the DISTINCT table keys.
    oracle="""
    SELECT DISTINCT 'events' AS _measurement, event_type AS _field,
           unnest(['_measurement', '_field', '_time', '_value'])
             AS _value
    FROM events
    """,
)
def flux_compiled_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`columns()` through the Flux front-end — the remaining
    introspection stage beside the schema.* variable queries."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> columns()
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_key_values",
    # keyValues(keyColumns:) — the generic Grafana variable query: one
    # (_key, _value) row per requested key column per table.
    oracle="""
    SELECT DISTINCT 'events' AS _measurement, event_type AS _field,
           '_field' AS _key, event_type AS _value
    FROM events
    """,
)
def flux_compiled_key_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`keyValues()` through the Flux front-end."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> keyValues(keyColumns: ["_field"])
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_map_math",
    # map(math.mMax(x: r._value - 100.0, y: 0.0)) |> aggregateWindow(
    # sum): the "daily excess over threshold" panel — in-plan math
    # from the correctly-rounded IEEE set (greatest + subtraction),
    # then exact-decimal daily sums. value − 100.0 and greatest are
    # exact on the store's 2-decimal doubles, so the decimal cast
    # loses nothing and both engines agree bit-for-bit.
    oracle="""
    SELECT make_timestamp((epoch_us(ts) // 86400000000) * 86400000000)
             AS window_start,
           'events' AS _measurement, event_type AS _field,
           CAST(SUM(CAST(GREATEST(value - 100.0, 0.0) AS DECIMAL(18,2)))
                AS DOUBLE) AS sum,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE value IS NOT NULL
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def flux_compiled_map_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`map()` with math.* through the Flux front-end — threshold
    excess summed per day."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> map(fn: (r) => ({ r with _value: math.mMax(x: r._value - 100.0, y: 0.0) }))
          |> aggregateWindow(every: 1d, fn: sum)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_map_conditional",
    # map(if r._value > 100 then 1 else 0) |> aggregateWindow(sum):
    # the "daily threshold-breach count" panel — a CASE rewrite (lazy
    # in both engines) into exact-decimal daily sums.
    oracle="""
    SELECT make_timestamp((epoch_us(ts) // 86400000000) * 86400000000)
             AS window_start,
           'events' AS _measurement, event_type AS _field,
           CAST(SUM(CAST(CASE WHEN value > 100.0 THEN 1.0 ELSE 0.0 END
                         AS DECIMAL(18,2))) AS DOUBLE) AS sum,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE value IS NOT NULL
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def flux_compiled_map_conditional(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`map()` with if/then/else through the Flux front-end —
    threshold breaches counted per day."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> map(fn: (r) => ({ r with _value: if r._value > 100.0 then 1.0 else 0.0 }))
          |> aggregateWindow(every: 1d, fn: sum)
        """,
        {"gas-quality": path},
    )


# The round-10c suite: one order-insensitive union hash over all 23 new
# flux singletons — each arm embeds the singleton's registered oracle SQL
# verbatim (pinned by tests/test_registry_window.py), so the suite
# attests exactly what the singletons compute while they share one
# driver window slot.
_OR10C = {
    n: ORACLE[n]
    for n in (
        "flux_compiled_mode", "flux_compiled_skew",
        "flux_compiled_state_count", "flux_compiled_cmo",
        "flux_compiled_kaufmans_er", "flux_compiled_sample",
        "flux_compiled_limit_offset", "flux_compiled_to_int",
        "flux_compiled_highest_max", "flux_compiled_lowest_average",
        "flux_compiled_histogram_quantile", "flux_compiled_dema",
        "flux_compiled_tema", "flux_compiled_rsi",
        "flux_compiled_sliding", "flux_compiled_offset_window",
        "flux_compiled_month", "flux_compiled_counter_window",
        "flux_compiled_alert_filter", "flux_compiled_columns",
        "flux_compiled_key_values", "flux_compiled_map_math",
        "flux_compiled_map_conditional",
    )
}

_SUITE_10C_SQL = f"""
    SELECT 'flux_compiled_mode' AS sub, t._field AS k1,
           CAST(NULL AS VARCHAR) AS k2, CAST(NULL AS BIGINT) AS n,
           t.mode AS value
    FROM ({_OR10C["flux_compiled_mode"]}) t
    UNION ALL
    SELECT 'flux_compiled_skew', t._field, CAST(NULL AS VARCHAR),
           t.n, t.skew
    FROM ({_OR10C["flux_compiled_skew"]}) t
    UNION ALL
    SELECT 'flux_compiled_state_count', t._field,
           CAST(epoch_us(t._time) AS VARCHAR) || '|'
             || CAST(t.state AS VARCHAR),
           t."stateCount", t._value
    FROM ({_OR10C["flux_compiled_state_count"]}) t
    UNION ALL
    SELECT 'flux_compiled_cmo', t._field,
           CAST(epoch_us(t._time) AS VARCHAR), CAST(NULL AS BIGINT),
           t._value
    FROM ({_OR10C["flux_compiled_cmo"]}) t
    UNION ALL
    SELECT 'flux_compiled_kaufmans_er', t._field,
           CAST(epoch_us(t._time) AS VARCHAR), CAST(NULL AS BIGINT),
           t._value
    FROM ({_OR10C["flux_compiled_kaufmans_er"]}) t
    UNION ALL
    SELECT 'flux_compiled_sample', t._field,
           CAST(epoch_us(t._time) AS VARCHAR), CAST(NULL AS BIGINT),
           t._value
    FROM ({_OR10C["flux_compiled_sample"]}) t
    UNION ALL
    SELECT 'flux_compiled_limit_offset', t._field,
           CAST(epoch_us(t._time) AS VARCHAR), CAST(NULL AS BIGINT),
           t._value
    FROM ({_OR10C["flux_compiled_limit_offset"]}) t
    UNION ALL
    SELECT 'flux_compiled_to_int', t._field,
           CAST(epoch_us(t.window_start) AS VARCHAR), t.n, t.sum
    FROM ({_OR10C["flux_compiled_to_int"]}) t
    UNION ALL
    SELECT 'flux_compiled_highest_max', t._field,
           CAST(epoch_us(t._time) AS VARCHAR), CAST(NULL AS BIGINT),
           t._value
    FROM ({_OR10C["flux_compiled_highest_max"]}) t
    UNION ALL
    SELECT 'flux_compiled_lowest_average', t._field,
           CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), t._value
    FROM ({_OR10C["flux_compiled_lowest_average"]}) t
    UNION ALL
    SELECT 'flux_compiled_histogram_quantile', t._field,
           CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), t._value
    FROM ({_OR10C["flux_compiled_histogram_quantile"]}) t
    UNION ALL
    SELECT 'flux_compiled_dema', t._field,
           CAST(epoch_us(t._time) AS VARCHAR), CAST(NULL AS BIGINT),
           t._value
    FROM ({_OR10C["flux_compiled_dema"]}) t
    UNION ALL
    SELECT 'flux_compiled_tema', t._field,
           CAST(epoch_us(t.last_ts) AS VARCHAR), CAST(NULL AS BIGINT),
           t.last_value
    FROM ({_OR10C["flux_compiled_tema"]}) t
    UNION ALL
    SELECT 'flux_compiled_rsi', t._field,
           CAST(epoch_us(t._time) AS VARCHAR), CAST(NULL AS BIGINT),
           t._value
    FROM ({_OR10C["flux_compiled_rsi"]}) t
    UNION ALL
    SELECT 'flux_compiled_sliding', t._field,
           CAST(epoch_us(t.window_start) AS VARCHAR), t.n, t.mean
    FROM ({_OR10C["flux_compiled_sliding"]}) t
    UNION ALL
    SELECT 'flux_compiled_offset_window', t._field,
           CAST(epoch_us(t.window_start) AS VARCHAR), t.count,
           CAST(NULL AS DOUBLE)
    FROM ({_OR10C["flux_compiled_offset_window"]}) t
    UNION ALL
    SELECT 'flux_compiled_month', t._field,
           CAST(epoch_us(t.window_start) AS VARCHAR), t.n, t.max
    FROM ({_OR10C["flux_compiled_month"]}) t
    UNION ALL
    SELECT 'flux_compiled_counter_window', t._field,
           CAST(epoch_us(t.window_start) AS VARCHAR), t.n, t.sum
    FROM ({_OR10C["flux_compiled_counter_window"]}) t
    UNION ALL
    SELECT 'flux_compiled_alert_filter', t._field,
           CAST(epoch_us(t.window_start) AS VARCHAR), t.n, t.mean
    FROM ({_OR10C["flux_compiled_alert_filter"]}) t
    UNION ALL
    SELECT 'flux_compiled_columns', t._field, t._value,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
    FROM ({_OR10C["flux_compiled_columns"]}) t
    UNION ALL
    SELECT 'flux_compiled_key_values', t._field,
           t._key || '|' || t._value, CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM ({_OR10C["flux_compiled_key_values"]}) t
    UNION ALL
    SELECT 'flux_compiled_map_math', t._field,
           CAST(epoch_us(t.window_start) AS VARCHAR), t.n, t.sum
    FROM ({_OR10C["flux_compiled_map_math"]}) t
    UNION ALL
    SELECT 'flux_compiled_map_conditional', t._field,
           CAST(epoch_us(t.window_start) AS VARCHAR), t.n, t.sum
    FROM ({_OR10C["flux_compiled_map_conditional"]}) t
"""


@query("suite_flux_round10c", oracle=_SUITE_10C_SQL)
def suite_flux_round10c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-10c Flux suite, one order-insensitive union hash: mode,
    skew, stateCount, CMO, Kaufman's ER, sample, limit-offset, toInt,
    highestMax, lowestAverage, fused histogramQuantile, doubleEMA,
    tripleEMA, Wilder RSI, sliding/offset/calendar aggregateWindow
    forms, the value-series |> aggregateWindow composition, the
    post-aggregate alert filter, columns()/keyValues() introspection,
    and map() math.*/conditionals — all 23 new singletons
    driver-attested in one registry slot while they sit below the
    cap."""

    def _ns():
        return F.lit(None).cast("string")

    def _nl():
        return F.lit(None).cast("long")

    def _us(c):
        return F.unix_micros(c).cast("string")

    arms = [
        flux_compiled_mode(spark, sf_dir).select(
            F.lit("flux_compiled_mode").alias("sub"),
            F.col("_field").alias("k1"), _ns().alias("k2"),
            _nl().alias("n"), F.col("mode").alias("value"),
        ),
        flux_compiled_skew(spark, sf_dir).select(
            F.lit("flux_compiled_skew").alias("sub"),
            F.col("_field").alias("k1"), _ns().alias("k2"),
            F.col("n"), F.col("skew").alias("value"),
        ),
        flux_compiled_state_count(spark, sf_dir).select(
            F.lit("flux_compiled_state_count").alias("sub"),
            F.col("_field").alias("k1"),
            F.concat(
                _us("_time"), F.lit("|"), F.col("state").cast("string")
            ).alias("k2"),
            F.col("stateCount").alias("n"), F.col("_value").alias("value"),
        ),
        flux_compiled_cmo(spark, sf_dir).select(
            F.lit("flux_compiled_cmo").alias("sub"),
            F.col("_field").alias("k1"), _us("_time").alias("k2"),
            _nl().alias("n"), F.col("_value").alias("value"),
        ),
        flux_compiled_kaufmans_er(spark, sf_dir).select(
            F.lit("flux_compiled_kaufmans_er").alias("sub"),
            F.col("_field").alias("k1"), _us("_time").alias("k2"),
            _nl().alias("n"), F.col("_value").alias("value"),
        ),
        flux_compiled_sample(spark, sf_dir).select(
            F.lit("flux_compiled_sample").alias("sub"),
            F.col("_field").alias("k1"), _us("_time").alias("k2"),
            _nl().alias("n"), F.col("_value").alias("value"),
        ),
        flux_compiled_limit_offset(spark, sf_dir).select(
            F.lit("flux_compiled_limit_offset").alias("sub"),
            F.col("_field").alias("k1"), _us("_time").alias("k2"),
            _nl().alias("n"), F.col("_value").alias("value"),
        ),
        flux_compiled_to_int(spark, sf_dir).select(
            F.lit("flux_compiled_to_int").alias("sub"),
            F.col("_field").alias("k1"), _us("window_start").alias("k2"),
            F.col("n"), F.col("sum").alias("value"),
        ),
        flux_compiled_highest_max(spark, sf_dir).select(
            F.lit("flux_compiled_highest_max").alias("sub"),
            F.col("_field").alias("k1"), _us("_time").alias("k2"),
            _nl().alias("n"), F.col("_value").alias("value"),
        ),
        flux_compiled_lowest_average(spark, sf_dir).select(
            F.lit("flux_compiled_lowest_average").alias("sub"),
            F.col("_field").alias("k1"), _ns().alias("k2"),
            _nl().alias("n"), F.col("_value").alias("value"),
        ),
        flux_compiled_histogram_quantile(spark, sf_dir).select(
            F.lit("flux_compiled_histogram_quantile").alias("sub"),
            F.col("_field").alias("k1"), _ns().alias("k2"),
            _nl().alias("n"), F.col("_value").alias("value"),
        ),
        flux_compiled_dema(spark, sf_dir).select(
            F.lit("flux_compiled_dema").alias("sub"),
            F.col("_field").alias("k1"), _us("_time").alias("k2"),
            _nl().alias("n"), F.col("_value").alias("value"),
        ),
        flux_compiled_tema(spark, sf_dir).select(
            F.lit("flux_compiled_tema").alias("sub"),
            F.col("_field").alias("k1"), _us("last_ts").alias("k2"),
            _nl().alias("n"), F.col("last_value").alias("value"),
        ),
        flux_compiled_rsi(spark, sf_dir).select(
            F.lit("flux_compiled_rsi").alias("sub"),
            F.col("_field").alias("k1"), _us("_time").alias("k2"),
            _nl().alias("n"), F.col("_value").alias("value"),
        ),
        flux_compiled_sliding(spark, sf_dir).select(
            F.lit("flux_compiled_sliding").alias("sub"),
            F.col("_field").alias("k1"), _us("window_start").alias("k2"),
            F.col("n"), F.col("mean").alias("value"),
        ),
        flux_compiled_offset_window(spark, sf_dir).select(
            F.lit("flux_compiled_offset_window").alias("sub"),
            F.col("_field").alias("k1"), _us("window_start").alias("k2"),
            F.col("count").alias("n"), F.lit(None).cast("double").alias("value"),
        ),
        flux_compiled_month(spark, sf_dir).select(
            F.lit("flux_compiled_month").alias("sub"),
            F.col("_field").alias("k1"), _us("window_start").alias("k2"),
            F.col("n"), F.col("max").alias("value"),
        ),
        flux_compiled_counter_window(spark, sf_dir).select(
            F.lit("flux_compiled_counter_window").alias("sub"),
            F.col("_field").alias("k1"), _us("window_start").alias("k2"),
            F.col("n"), F.col("sum").alias("value"),
        ),
        flux_compiled_alert_filter(spark, sf_dir).select(
            F.lit("flux_compiled_alert_filter").alias("sub"),
            F.col("_field").alias("k1"), _us("window_start").alias("k2"),
            F.col("n"), F.col("mean").alias("value"),
        ),
        flux_compiled_columns(spark, sf_dir).select(
            F.lit("flux_compiled_columns").alias("sub"),
            F.col("_field").alias("k1"), F.col("_value").alias("k2"),
            _nl().alias("n"), F.lit(None).cast("double").alias("value"),
        ),
        flux_compiled_key_values(spark, sf_dir).select(
            F.lit("flux_compiled_key_values").alias("sub"),
            F.col("_field").alias("k1"),
            F.concat(F.col("_key"), F.lit("|"), F.col("_value")).alias("k2"),
            _nl().alias("n"), F.lit(None).cast("double").alias("value"),
        ),
        flux_compiled_map_math(spark, sf_dir).select(
            F.lit("flux_compiled_map_math").alias("sub"),
            F.col("_field").alias("k1"), _us("window_start").alias("k2"),
            F.col("n"), F.col("sum").alias("value"),
        ),
        flux_compiled_map_conditional(spark, sf_dir).select(
            F.lit("flux_compiled_map_conditional").alias("sub"),
            F.col("_field").alias("k1"), _us("window_start").alias("k2"),
            F.col("n"), F.col("sum").alias("value"),
        ),
    ]
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


# ---------------------------------------------------------------------------
# Tagged bucket store (round 11, VERDICT r10 item 1): tags are the
# InfluxDB data model's primary series dimension (README.md:155-161) —
# the reference's own store writes zero tags (the
# data_frame_tag_columns=['Temperature'] mismatch, transform.py:64),
# but any real line-protocol corpus keys its series on them. This
# fixture derives two DETERMINISTIC tags from the events table —
# host = 'h' || user_id % 4 and dc = 'd' || user_id % 3 (independent
# residues: all 12 combinations occur) — so every DuckDB oracle can
# re-derive the tag from the raw table and the driver's value-hash
# gate covers the tagged path end to end.

_TAGGED_BUCKET_VERSION = "tagged-v2"


def _tagged_bucket_path(spark: SparkSession, sf_dir: str) -> str:
    """Events materialized ONCE into a TAGGED bucket store: promoted
    string tag columns (host, dc) + the mirrored ``tags`` map
    (sources/bucket.py module doc), day-partitioned and series-key
    sorted (_field, host, dc, _time) so tag predicates prune ROW
    GROUPS via the pushed filters. The manifest harvests the standard
    (_field, _time) only: with the day-clustered default every file
    holds all hosts, so a host column in the manifest could never
    skip a file (review r11) — FILE-level tag skipping needs the
    ``cluster="tags"`` layout, measured in SCALE §23 and pinned by
    test_write_bucket_tags_clustering_skips_files (kept out of this
    hot fixture: ~12 tag combos × days of tiny files would tax every
    test scan). Same build-once/atomic-publish discipline as
    ``_event_bucket_path``."""
    import os

    from ..operators._util import cached_store

    src = os.path.join(sf_dir, "events.parquet")
    try:
        mtime = int(os.path.getmtime(src))
    except OSError:
        mtime = 0

    def _build(scratch: str) -> None:
        ev = table(spark, sf_dir, "events")
        host = F.concat(F.lit("h"), (F.col("user_id") % 4).cast("string"))
        dc = F.concat(F.lit("d"), (F.col("user_id") % 3).cast("string"))
        long_df = ev.select(
            F.col("ts").alias("_time"),
            F.lit("events").alias("_measurement"),
            F.col("event_type").alias("_field"),
            F.col("value").alias("_value"),
            host.alias("host"),
            dc.alias("dc"),
            F.create_map(
                F.lit("host"), host, F.lit("dc"), dc
            ).alias("tags"),
        )
        bkt.write_bucket(long_df, scratch, mode="overwrite")
        bkt.refresh_bucket_manifest(spark, scratch)

    return cached_store(
        _build,
        "tsdp_tagged_bucket",
        f"{os.path.abspath(sf_dir)}:{mtime}:{_TAGGED_BUCKET_VERSION}",
    )


_TAG_RANGE = {
    "timeRangeStart": "2024-01-08T00:00:00Z",
    "timeRangeStop": "2024-01-15T00:00:00Z",
}
_TAG_RANGE_SQL = (
    "ts >= TIMESTAMP '2024-01-08 00:00:00' "
    "AND ts < TIMESTAMP '2024-01-15 00:00:00'"
)


@query(
    "flux_compiled_tag_filter",
    # tag equality pushed into the scan (row-group pruning over the
    # promoted host column; file-level skipping additionally applies
    # under the cluster="tags" layout, SCALE §23) + the FULL tagged
    # table key (_measurement, _field, host, dc) carried through the
    # windowed aggregate — host is pinned, dc still splits the series
    oracle=f"""
    SELECT make_timestamp((epoch_us(ts)//3600000000)*3600000000) AS window_start,
           'events' AS _measurement, event_type AS _field,
           'h1' AS host, 'd' || CAST(user_id % 3 AS VARCHAR) AS dc,
           {_AVG} AS mean,
           COUNT(*) AS n
    FROM events
    WHERE event_type = 'click' AND user_id % 4 = 1 AND {_TAG_RANGE_SQL}
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def flux_compiled_tag_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tagged-panel shape every real InfluxDB dashboard uses —
    ``filter(fn: (r) => r["host"] == "h1")`` on a tag key: the pure
    equality compiles into the SAME scan pushdown tier as
    _measurement/_field (flux.py tag_eqs → scan_bucket tags=), and the
    windowed mean keys on the store's full series key, so the unpinned
    ``dc`` tag still splits tables exactly as upstream Flux does."""
    from ..flux import compile_flux

    path = _tagged_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "tagged")
          |> range(start: v.timeRangeStart, stop: v.timeRangeStop)
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["host"] == "h1")
          |> filter(fn: (r) => r["_field"] == "click")
          |> aggregateWindow(every: 1h, fn: mean, createEmpty: false)
          |> yield(name: "mean")
        """,
        {"tagged": path},
        params=dict(_TAG_RANGE),
    )


@query(
    "flux_compiled_tag_group",
    oracle=f"""
    SELECT 'h' || CAST(user_id % 4 AS VARCHAR) AS host,
           {_AVG} AS mean,
           COUNT(*) AS n
    FROM events
    WHERE event_type = 'click' AND {_TAG_RANGE_SQL}
    GROUP BY 1
    """,
)
def flux_compiled_tag_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``group(columns: ["host"])`` re-keys the tagged tables onto ONE
    tag — the Grafana "per-host series" overlay: the bare mean then
    merges measurements/fields/dc within each host, one map-side-
    combinable aggregate keyed on the promoted tag column."""
    from ..flux import compile_flux

    path = _tagged_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "tagged")
          |> range(start: v.timeRangeStart, stop: v.timeRangeStop)
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "click")
          |> group(columns: ["host"])
          |> mean()
          |> yield(name: "mean")
        """,
        {"tagged": path},
        params=dict(_TAG_RANGE),
    )


@query(
    "flux_compiled_tag_regex",
    # regex tag predicate (residual row filter over the promoted
    # column) + two-tag re-key: the compiled count groups on exactly
    # (host, dc)
    oracle=f"""
    SELECT 'h' || CAST(user_id % 4 AS VARCHAR) AS host,
           'd' || CAST(user_id % 3 AS VARCHAR) AS dc,
           CAST(COUNT(*) AS BIGINT) AS count
    FROM events
    WHERE event_type = 'error' AND user_id % 4 IN (1, 2)
      AND {_TAG_RANGE_SQL}
    GROUP BY 1, 2
    """,
)
def flux_compiled_tag_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grafana's multi-select tag variable compiles to a regex tag
    filter (``r["host"] =~ /^h[12]$/``) — a residual row predicate
    over the promoted column (parquet-pushdown-capable storage, rlike
    row filter) — composed with a TWO-tag ``group(columns: ["host",
    "dc"])`` re-key, proving multi-tag table keying end to end."""
    from ..flux import compile_flux

    path = _tagged_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "tagged")
          |> range(start: v.timeRangeStart, stop: v.timeRangeStop)
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["host"] =~ /^h[12]$/)
          |> filter(fn: (r) => r["_field"] == "error")
          |> group(columns: ["host", "dc"])
          |> count()
          |> yield(name: "count")
        """,
        {"tagged": path},
        params=dict(_TAG_RANGE),
    )


@query(
    "flux_schema_tag_values",
    # the predicate prunes h0 out of the dropdown — if the compiled
    # predicate path were a no-op the hash would catch the extra value
    oracle="""
    SELECT DISTINCT 'h' || CAST(user_id % 4 AS VARCHAR) AS _value
    FROM events
    WHERE user_id % 4 <> 0
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    """,
)
def flux_schema_tag_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tag-variable dropdown (``schema.tagValues(tag: "host",
    predicate:, start:, stop:)``) over the TAGGED store: served from
    the promoted column — a single dictionary-encoded column scan over
    the range-pruned store with partial distinct, never a map
    traversal (flux.py _compile_schema_query promoted-first path);
    the predicate is Grafana's filtered-dropdown shape."""
    from ..flux import compile_flux

    path = _tagged_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        import "influxdata/influxdb/schema"
        schema.tagValues(
          bucket: "tagged",
          tag: "host",
          predicate: (r) => r["host"] != "h0",
          start: "2024-01-08 00:00:00",
          stop: "2024-01-15 00:00:00"
        )
        """,
        {"tagged": path},
    )


@query(
    "flux_compiled_holt_winters",
    # the forecast recurrence replayed with the holt_linear_final
    # technique: interval-normalize (floor to 1h, FIRST point per slot
    # by (ts, value) order — exactly min_by), recursive-CTE Holt fold
    # over the slot sequence (coupled l/b recurrences step a row index
    # — NOT list_reduce, whose struct accumulator evaluates 'b' against
    # the already-updated 'l' in DuckDB), then 6 forecast rows
    # l + k·b at 1h spacing after the last slot via range(1, 7)
    oracle="""
    WITH RECURSIVE src AS (
      SELECT event_type,
             make_timestamp((epoch_us(ts)//3600000000)*3600000000) AS slot,
             ts, value
      FROM events
      WHERE value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    ),
    firsts AS (
      SELECT event_type, slot,
             (ARRAY_AGG(CAST(value AS DOUBLE) ORDER BY ts, value))[1] AS x
      FROM src GROUP BY 1, 2
    ),
    seq AS (
      SELECT event_type, slot, x,
             row_number() OVER (PARTITION BY event_type ORDER BY slot) AS i
      FROM firsts
    ),
    hw(event_type, i, l, b) AS (
      SELECT event_type, 1, x, CAST(0 AS DOUBLE) FROM seq WHERE i = 1
      UNION ALL
      SELECT s.event_type, s.i,
             0.5 * s.x + 0.5 * (h.l + h.b),
             0.25 * ((0.5 * s.x + 0.5 * (h.l + h.b)) - h.l) + 0.75 * h.b
      FROM hw h JOIN seq s
        ON s.event_type = h.event_type AND s.i = h.i + 1
    ),
    fin AS (
      SELECT h.event_type, h.l, h.b, m.last_slot
      FROM hw h
      JOIN (SELECT event_type, MAX(i) AS n, MAX(slot) AS last_slot
            FROM seq GROUP BY 1) m
        ON m.event_type = h.event_type AND h.i = m.n
    )
    SELECT 'events' AS _measurement, fin.event_type AS _field,
           make_timestamp(epoch_us(last_slot) + k * 3600000000) AS _time,
           l + CAST(k AS DOUBLE) * b AS forecast
    FROM fin, range(1, 7) t(k)
    """,
)
def flux_compiled_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Grafana forecast panel compiled from Flux text
    (``holtWinters(n: 6, interval: 1h)``): interval normalization +
    additive Holt with the documented dyadic constants + 6 forecast
    points per series (flux.py holtWinters bullet — upstream's
    Nelder-Mead parameter search is not cross-engine replayable, the
    pinned-constant fold is)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: v.timeRangeStart, stop: v.timeRangeStop)
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> holtWinters(n: 6, interval: 1h, seasonality: 0)
          |> yield(name: "forecast")
        """,
        {"gas-quality": path},
        params=dict(_TAG_RANGE),
    )


def _downsample_target(sf_dir: str) -> str:
    """Deterministic per-corpus target store for the compiled
    continuous-query write-back — the task always refreshes the SAME
    downsample bucket (idempotent dynamic-partition overwrite), like
    an InfluxDB task writing its destination bucket."""
    import hashlib
    import os
    import tempfile

    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"tsdp_downsample_{key}")


@query(
    "flux_compiled_to_rollup",
    # the written rows ARE the returned rows (Flux to() passes tables
    # through): hourly means, start-labeled windows — the same decimal
    # sum / count expression every mean in the engine compiles to
    oracle=f"""
    SELECT make_timestamp((epoch_us(ts)//3600000000)*3600000000) AS _time,
           'events' AS _measurement, event_type AS _field,
           {_AVG} AS _value
    FROM events
    WHERE {_TAG_RANGE_SQL}
    GROUP BY 1, 2, 3
    """,
)
def flux_compiled_to_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full ingest→store→query→rollup loop closed in
    its own language (VERDICT r10 item 5): a compiled Flux task —
    ``aggregateWindow(1h, mean) |> to(bucket: "downsample")`` —
    materializes the downsample bucket through the idempotent
    dynamic-partition-overwrite writer; every run (driver correctness,
    bench attempts) re-executes the refresh, which is the operation's
    real steady-state cost. Returns the written rows (the ``tags``
    map is dropped for the driver's hash compare — maps don't order)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    out = compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: v.timeRangeStart, stop: v.timeRangeStop)
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> aggregateWindow(every: 1h, fn: mean, createEmpty: false)
          |> to(bucket: "downsample")
        """,
        {"gas-quality": path, "downsample": _downsample_target(sf_dir)},
        params=dict(_TAG_RANGE),
    )
    return out.drop("tags")


@query(
    "flux_compiled_holt_winters_seasonal",
    # the SEASONAL triple recurrence replayed with a LIST-CARRYING
    # recursive CTE (the doubleEMA oracle technique): the row carries
    # (l, b, seasonal window s[1..m]) and each step consumes s[1] and
    # appends the refreshed index; init = classic first-cycle
    # conventions (l0 = cycle-1 left-fold mean, b0 = cross-cycle slope
    # sum / m², s0 = cycle-1 deviations); forecasts join range(1, n+1)
    # with the (h-1) mod m seasonal lookup. m=24 hourly slots = a
    # daily season over the one-week range.
    oracle="""
    WITH RECURSIVE src AS (
      SELECT event_type,
             make_timestamp((epoch_us(ts)//3600000000)*3600000000) AS slot,
             ts, value
      FROM events
      WHERE value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    ),
    firsts AS (
      SELECT event_type, slot,
             (ARRAY_AGG(CAST(value AS DOUBLE) ORDER BY ts, value))[1] AS x
      FROM src GROUP BY 1, 2
    ),
    base AS (
      SELECT event_type, MAX(slot) AS last_slot,
             CAST(COUNT(*) AS BIGINT) AS nn,
             list(x ORDER BY slot) AS xs
      FROM firsts GROUP BY 1
      HAVING COUNT(*) >= 48
    ),
    init AS (
      SELECT event_type, nn, last_slot, xs,
             list_reduce(list_slice(xs, 1, 24), (a, b) -> a + b) / 24.0 AS l0
      FROM base
    ),
    init2 AS (
      SELECT event_type, nn, last_slot, xs, l0,
             list_reduce(
               list_transform(generate_series(1, 24),
                              i -> xs[24 + i] - xs[i]),
               (a, b) -> a + b) / 576.0 AS b0,
             list_transform(list_slice(xs, 1, 24), x -> x - l0) AS s0
      FROM init
    ),
    hw(event_type, i, l, b, s, nn, last_slot, xs) AS (
      SELECT event_type, CAST(24 AS BIGINT), l0, b0, s0, nn, last_slot, xs
      FROM init2
      UNION ALL
      SELECT event_type, i + 1,
             0.5 * (xs[i + 1] - s[1]) + 0.5 * (l + b),
             0.25 * ((0.5 * (xs[i + 1] - s[1]) + 0.5 * (l + b)) - l)
               + 0.75 * b,
             list_append(
               list_slice(s, 2, 24),
               0.25 * (xs[i + 1]
                       - (0.5 * (xs[i + 1] - s[1]) + 0.5 * (l + b)))
                 + 0.75 * s[1]),
             nn, last_slot, xs
      FROM hw WHERE i < nn
    ),
    fin AS (SELECT * FROM hw WHERE i = nn)
    SELECT 'events' AS _measurement, fin.event_type AS _field,
           make_timestamp(epoch_us(last_slot) + k * 3600000000) AS _time,
           l + CAST(k AS DOUBLE) * b
             + s[CAST((k - 1) % 24 AS INT) + 1] AS forecast
    FROM fin, range(1, 7) t(k)
    """,
)
def flux_compiled_holt_winters_seasonal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The seasonal forecast panel (``holtWinters(n: 6, interval: 1h,
    seasonality: 24)`` — a daily season over hourly slots): the
    additive-seasonal triple recurrence with the documented dyadic
    constants, classic first-cycle init, per-slot seasonal index
    (flux.py holtWinters bullet)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: v.timeRangeStart, stop: v.timeRangeStop)
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> holtWinters(n: 6, interval: 1h, seasonality: 24)
          |> yield(name: "forecast")
        """,
        {"gas-quality": path},
        params=dict(_TAG_RANGE),
    )


@query(
    "flux_compiled_reduce_fold",
    # the cross-field fold replayed row-by-row: a recursive CTE steps
    # a row index per table in the engine's table order (ts, value),
    # evaluating each accumulator field against the PARENT row's state
    # (Flux record-constructor semantics) — the docs' incremental-mean
    # idiom, bit-identical in IEEE double. 2-day range bounds the
    # recursion depth (the flux_compiled_kama precedent).
    oracle="""
    WITH RECURSIVE src AS (
      SELECT event_type, CAST(value AS DOUBLE) AS v,
             row_number() OVER (PARTITION BY event_type ORDER BY ts, value)
               AS i
      FROM events
      WHERE value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-10 00:00:00'
    ),
    n AS (SELECT event_type, MAX(i) AS nn FROM src GROUP BY 1),
    fold(event_type, i, count_f, total_f, avg_f) AS (
      SELECT event_type, CAST(0 AS BIGINT), CAST(0 AS DOUBLE),
             CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)
      FROM n
      UNION ALL
      SELECT s.event_type, s.i,
             f.count_f + 1.0,
             f.total_f + s.v,
             (f.total_f + s.v) / (f.count_f + 1.0)
      FROM fold f JOIN src s
        ON s.event_type = f.event_type AND s.i = f.i + 1
    )
    SELECT 'events' AS _measurement, f.event_type AS _field,
           f.count_f AS "count", f.total_f AS "total", f.avg_f AS "avg"
    FROM fold f JOIN n ON n.event_type = f.event_type AND f.i = n.nn
    """,
)
def flux_compiled_reduce_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Flux docs' incremental-mean ``reduce()`` idiom (VERDICT r11
    item 3): a cross-field accumulator fold — count, running total,
    and a mean recomputed per row from the PREVIOUS accumulator — on
    the sanctioned Arrow per-series kernel class (flux.py reduce_fold
    branch; the additive fragment remains the map-side-combinable
    default for self-folding records)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: v.timeRangeStart, stop: v.timeRangeStop)
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> reduce(fn: (r, accumulator) => ({
               count: accumulator.count + 1.0,
               total: accumulator.total + r._value,
               avg: (accumulator.total + r._value) / (accumulator.count + 1.0)
             }), identity: {count: 0.0, total: 0.0, avg: 0.0})
        """,
        {"gas-quality": path},
        params={
            "timeRangeStart": "2024-01-08T00:00:00Z",
            "timeRangeStop": "2024-01-10T00:00:00Z",
        },
    )


@query(
    "flux_compiled_holt_winters_seasonal_fit",
    # the seasonal list-carrying recursive CTE, now also emitting the
    # pinned per-slot fit: fit at step i (i > m) = l + b + s[1] from
    # the PARENT row (the one-step-ahead value with the
    # about-to-be-consumed seasonal index); slot timestamps join a
    # row_number spine over the normalized slots
    oracle="""
    WITH RECURSIVE src AS (
      SELECT event_type,
             make_timestamp((epoch_us(ts)//3600000000)*3600000000) AS slot,
             ts, value
      FROM events
      WHERE value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    ),
    firsts AS (
      SELECT event_type, slot,
             (ARRAY_AGG(CAST(value AS DOUBLE) ORDER BY ts, value))[1] AS x
      FROM src GROUP BY 1, 2
    ),
    seq AS (
      SELECT event_type, slot,
             row_number() OVER (PARTITION BY event_type ORDER BY slot) AS i
      FROM firsts
    ),
    base AS (
      SELECT event_type, MAX(slot) AS last_slot,
             CAST(COUNT(*) AS BIGINT) AS nn,
             list(x ORDER BY slot) AS xs
      FROM firsts GROUP BY 1
      HAVING COUNT(*) >= 48
    ),
    init AS (
      SELECT event_type, nn, last_slot, xs,
             list_reduce(list_slice(xs, 1, 24), (a, b) -> a + b) / 24.0 AS l0
      FROM base
    ),
    init2 AS (
      SELECT event_type, nn, last_slot, xs, l0,
             list_reduce(
               list_transform(generate_series(1, 24),
                              i -> xs[24 + i] - xs[i]),
               (a, b) -> a + b) / 576.0 AS b0,
             list_transform(list_slice(xs, 1, 24), x -> x - l0) AS s0
      FROM init
    ),
    hw(event_type, i, l, b, s, fit, nn, last_slot, xs) AS (
      SELECT event_type, CAST(24 AS BIGINT), l0, b0, s0,
             CAST(NULL AS DOUBLE), nn, last_slot, xs
      FROM init2
      UNION ALL
      SELECT event_type, i + 1,
             0.5 * (xs[i + 1] - s[1]) + 0.5 * (l + b),
             0.25 * ((0.5 * (xs[i + 1] - s[1]) + 0.5 * (l + b)) - l)
               + 0.75 * b,
             list_append(
               list_slice(s, 2, 24),
               0.25 * (xs[i + 1]
                       - (0.5 * (xs[i + 1] - s[1]) + 0.5 * (l + b)))
                 + 0.75 * s[1]),
             l + b + s[1],
             nn, last_slot, xs
      FROM hw WHERE i < nn
    ),
    fin AS (SELECT * FROM hw WHERE i = nn)
    SELECT 'events' AS _measurement, h.event_type AS _field,
           sq.slot AS _time, h.fit AS forecast
    FROM hw h JOIN seq sq
      ON sq.event_type = h.event_type AND sq.i = h.i
    WHERE h.i >= 25
    UNION ALL
    SELECT 'events', fin.event_type,
           make_timestamp(epoch_us(last_slot) + k * 3600000000),
           l + CAST(k AS DOUBLE) * b
             + s[CAST((k - 1) % 24 AS INT) + 1]
    FROM fin, range(1, 7) t(k)
    """,
)
def flux_compiled_holt_winters_seasonal_fit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SEASONAL forecast-with-fit overlay (``holtWinters(n: 6,
    interval: 1h, seasonality: 24, withFit: true)``): pinned per-slot
    fits from slot m+1 (one-step-ahead l + b + s[1]) before the 6
    seasonal forecasts (flux.py holtWinters bullet)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: v.timeRangeStart, stop: v.timeRangeStop)
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> holtWinters(n: 6, interval: 1h, seasonality: 24, withFit: true)
          |> yield(name: "forecast")
        """,
        {"gas-quality": path},
        params=dict(_TAG_RANGE),
    )


@query(
    "flux_compiled_holt_winters_fit",
    # the SAME Holt recursive CTE as flux_compiled_holt_winters, now
    # carrying the pinned per-slot fit: fit_i = l_{i-1} + b_{i-1}
    # (the one-step-ahead value from the PARENT recursive row, before
    # consuming x_i) — emitted at each slot's own timestamp for i >= 2,
    # unioned with the n forecast rows after the last slot
    oracle="""
    WITH RECURSIVE src AS (
      SELECT event_type,
             make_timestamp((epoch_us(ts)//3600000000)*3600000000) AS slot,
             ts, value
      FROM events
      WHERE value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    ),
    firsts AS (
      SELECT event_type, slot,
             (ARRAY_AGG(CAST(value AS DOUBLE) ORDER BY ts, value))[1] AS x
      FROM src GROUP BY 1, 2
    ),
    seq AS (
      SELECT event_type, slot, x,
             row_number() OVER (PARTITION BY event_type ORDER BY slot) AS i
      FROM firsts
    ),
    hw(event_type, i, l, b, fit) AS (
      SELECT event_type, 1, x, CAST(0 AS DOUBLE), CAST(NULL AS DOUBLE)
      FROM seq WHERE i = 1
      UNION ALL
      SELECT s.event_type, s.i,
             0.5 * s.x + 0.5 * (h.l + h.b),
             0.25 * ((0.5 * s.x + 0.5 * (h.l + h.b)) - h.l) + 0.75 * h.b,
             h.l + h.b
      FROM hw h JOIN seq s
        ON s.event_type = h.event_type AND s.i = h.i + 1
    ),
    fin AS (
      SELECT h.event_type, h.l, h.b, m.last_slot
      FROM hw h
      JOIN (SELECT event_type, MAX(i) AS n, MAX(slot) AS last_slot
            FROM seq GROUP BY 1) m
        ON m.event_type = h.event_type AND h.i = m.n
    )
    SELECT 'events' AS _measurement, h.event_type AS _field,
           s.slot AS _time, h.fit AS forecast
    FROM hw h JOIN seq s
      ON s.event_type = h.event_type AND s.i = h.i
    WHERE h.i >= 2
    UNION ALL
    SELECT 'events', fin.event_type,
           make_timestamp(epoch_us(last_slot) + k * 3600000000),
           l + CAST(k AS DOUBLE) * b
    FROM fin, range(1, 7) t(k)
    """,
)
def flux_compiled_holt_winters_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The forecast-with-fit overlay panel (VERDICT r11 item 2):
    ``holtWinters(n: 6, interval: 1h, withFit: true)`` — the pinned
    fit-emission convention (one-step-ahead l+b at each slot with a
    prior state) before the 6 forecast points, replayed per slot by
    the recursive-CTE oracle (flux.py holtWinters bullet)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: v.timeRangeStart, stop: v.timeRangeStop)
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> holtWinters(n: 6, interval: 1h, withFit: true)
          |> yield(name: "forecast")
        """,
        {"gas-quality": path},
        params=dict(_TAG_RANGE),
    )


@query(
    "flux_compiled_nested_overlay",
    # the nested combiner replayed relationally: one shared hourly
    # window CTE (the engine's exact-decimal mean), the union as an IN
    # filter over it, the final join on the window spine with
    # upstream's _<label> suffixing of conflicting non-key columns
    oracle=f"""
    WITH win AS (
      SELECT make_timestamp((epoch_us(ts)//3600000000)*3600000000)
               AS window_start,
             'events' AS _measurement, event_type AS _field,
             {_AVG} AS mean, CAST(COUNT(*) AS BIGINT) AS n
      FROM events
      WHERE value IS NOT NULL AND {_TAG_RANGE_SQL}
      GROUP BY 1, 2, 3
    )
    SELECT u.window_start,
           u._measurement AS _measurement_u, u._field AS _field_u,
           u.mean AS mean_u, u.n AS n_u,
           v._measurement AS _measurement_v, v._field AS _field_v,
           v.mean AS mean_v, v.n AS n_v
    FROM (SELECT * FROM win WHERE _field IN ('error', 'click')) u
    JOIN (SELECT * FROM win WHERE _field = 'view') v
      USING (window_start)
    """,
)
def flux_compiled_nested_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three-series overlay panel (VERDICT r11 item 5): a NESTED
    multi-statement Flux script — two windowed series unioned, the
    union joined against a third on the window spine. The nesting adds
    no exchange of its own: the union is a bag concat of the two
    window aggregates, the join shuffles exactly its on: key
    (flux.py nested-combiner branch; plan-pinned in test_plans.py)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        errors = from(bucket: "gas-quality")
          |> range(start: v.timeRangeStart, stop: v.timeRangeStop)
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "error")
          |> aggregateWindow(every: 1h, fn: mean, createEmpty: false)
        clicks = from(bucket: "gas-quality")
          |> range(start: v.timeRangeStart, stop: v.timeRangeStop)
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "click")
          |> aggregateWindow(every: 1h, fn: mean, createEmpty: false)
        u = union(tables: [errors, clicks])
        views = from(bucket: "gas-quality")
          |> range(start: v.timeRangeStart, stop: v.timeRangeStop)
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "view")
          |> aggregateWindow(every: 1h, fn: mean, createEmpty: false)
        join(tables: {u: u, v: views}, on: ["window_start"])
        """,
        {"gas-quality": path},
        params=dict(_TAG_RANGE),
    )


_LP_CORPUS_VERSION = "lp-v1"


def _lineprotocol_corpus_path(spark: SparkSession, sf_dir: str) -> str:
    """Events re-serialized ONCE as InfluxDB line protocol (the wire
    format a real corpus arrives in): one line per non-null event —
    ``events,host=hX,dc=dY <event_type>=<value> <ns epoch>`` — in
    event_id order, 64k lines per file (several input splits at bench
    scale). Deterministic byte-for-byte, so the parse path is
    hash-attestable against the raw parquet."""
    import os

    from ..operators._util import cached_store

    src = os.path.join(sf_dir, "events.parquet")
    try:
        mtime = int(os.path.getmtime(src))
    except OSError:
        mtime = 0

    def _build(scratch: str) -> None:
        import duckdb

        os.makedirs(scratch, exist_ok=True)
        rows = duckdb.sql(
            f"""
            SELECT epoch_us(ts) * 1000, user_id % 4, user_id % 3,
                   event_type, value
            FROM '{src}' WHERE value IS NOT NULL ORDER BY event_id
            """
        ).fetchall()
        per_file = 65536
        for i in range(0, len(rows), per_file):
            with open(
                os.path.join(scratch, f"part-{i // per_file:05d}.lp"), "w"
            ) as fh:
                for ts_ns, h, d, field, value in rows[i : i + per_file]:
                    fh.write(
                        f"events,host=h{h},dc=d{d} {field}={value!r} {ts_ns}\n"
                    )

    return cached_store(
        _build,
        "tsdp_lp_corpus",
        f"{os.path.abspath(sf_dir)}:{mtime}:{_LP_CORPUS_VERSION}",
    )


@query(
    "lineprotocol_window_mean",
    # the parse path is attested END TO END against the raw parquet:
    # the corpus serializer and the oracle read the same rows, so a
    # parse defect (escaping, ns truncation, field typing, tag
    # promotion) breaks the hash
    oracle=f"""
    SELECT make_timestamp((epoch_us(ts)//3600000000)*3600000000) AS window_start,
           'events' AS _measurement, event_type AS _field,
           'h' || CAST(user_id % 4 AS VARCHAR) AS host,
           {_AVG} AS avg_value,
           COUNT(*) AS n
    FROM events
    WHERE value IS NOT NULL AND {_TAG_RANGE_SQL}
    GROUP BY 1, 2, 3, 4
    """,
)
def lineprotocol_window_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """InfluxDB's native wire format end to end: the line-protocol
    corpus (events re-serialized, tags host/dc) parsed JVM-side
    (sources/line_protocol.py — split/transform/explode, no Python),
    host promoted at parse time, hourly mean per (field, host) over
    the week — the full switching story for a user whose data arrives
    as line protocol rather than the reference's CSVs."""
    import os

    from ..sources import line_protocol as lp

    path = _lineprotocol_corpus_path(spark, sf_dir)
    parsed = lp.read_line_protocol(
        spark, os.path.join(path, "*.lp"), tag_keys=["host"], time_unit="ns"
    ).filter(
        (F.col("_time") >= "2024-01-08 00:00:00")
        & (F.col("_time") < "2024-01-15 00:00:00")
    )
    return ts_ops.tumbling_agg(
        parsed, "_time", "_value", ["_measurement", "_field", "host"], "1 hour"
    )


@query(
    "flux_compiled_trix",
    # tripleExponentialDerivative(n: 6) — TRIX, the full series: three
    # chained EMA recursions (each fold replayed exactly as the Arrow
    # kernel evaluates it: left-fold seed sum ÷ 6, then
    # (1 − 2/7)·a + (2/7)·x), then the one-lag percent derivative
    # (a − b)/b·100 at source row 3(n−1)+1+j. Bit-identical — no
    # rounding. Two-day range keeps the three list-carrying recursions
    # O(few hundred) steps.
    oracle="""
    WITH RECURSIVE ranked AS (
      SELECT ts, value, row_number() OVER (ORDER BY ts, value) AS rn
      FROM events
      WHERE event_type = 'click' AND value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-10 00:00:00'
    ),
    base AS (
      SELECT count(*) AS L, list(value ORDER BY rn) AS vs FROM ranked
    ),
    e1(rn, a, vs) AS (
      SELECT 6, list_reduce(list_slice(vs, 1, 6), (a, x) -> a + x) / 6, vs
      FROM base WHERE L >= 6
      UNION ALL
      SELECT rn + 1, (1.0 - 2.0 / 7.0) * a + (2.0 / 7.0) * vs[rn + 1], vs
      FROM e1 WHERE rn + 1 <= len(vs)
    ),
    b2 AS (SELECT count(*) AS L2, list(a ORDER BY rn) AS es FROM e1),
    e2(i, a2, es) AS (
      SELECT 6, list_reduce(list_slice(es, 1, 6), (a, x) -> a + x) / 6, es
      FROM b2 WHERE L2 >= 6
      UNION ALL
      SELECT i + 1, (1.0 - 2.0 / 7.0) * a2 + (2.0 / 7.0) * es[i + 1], es
      FROM e2 WHERE i + 1 <= len(es)
    ),
    b3 AS (SELECT count(*) AS L3, list(a2 ORDER BY i) AS e2s FROM e2),
    e3(i, a3, e2s) AS (
      SELECT 6, list_reduce(list_slice(e2s, 1, 6), (a, x) -> a + x) / 6, e2s
      FROM b3 WHERE L3 >= 6
      UNION ALL
      SELECT i + 1, (1.0 - 2.0 / 7.0) * a3 + (2.0 / 7.0) * e2s[i + 1], e2s
      FROM e3 WHERE i + 1 <= len(e2s)
    ),
    b4 AS (SELECT count(*) AS L4, list(a3 ORDER BY i) AS e3s FROM e3),
    js AS (
      SELECT unnest(generate_series(2, L4)) AS j, e3s FROM b4 WHERE L4 >= 2
    )
    SELECT 'events' AS _measurement, 'click' AS _field, x.ts AS _time,
           CASE WHEN js.e3s[js.j - 1] = 0.0 THEN NULL
                ELSE (js.e3s[js.j] - js.e3s[js.j - 1])
                     / js.e3s[js.j - 1] * 100.0
           END AS _value
    FROM js JOIN ranked x ON x.rn = 15 + js.j
    """,
)
def flux_compiled_trix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`tripleExponentialDerivative()` through the Flux front-end —
    TRIX, the momentum panel: the thrice-smoothed EMA chain's one-lag
    percent derivative in the sanctioned Arrow per-series kernel
    (operators/timeseries.py flux_trix), one shuffle on the series
    key."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-10T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "click")
          |> tripleExponentialDerivative(n: 6)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_kama",
    # kaufmansAMA(n: 10), full series, the pinned identity-seed
    # convention (operators/timeseries.py flux_kama): seed = vs[10],
    # then per step ER = |vs[p] − vs[p−10]| / Σ|Δ| (0 on a flat
    # window), m = ER·(2/3 − 2/31) + 2/31, kama = (vs[p] − prev)·m² +
    # prev — every fold and every expression in the exact order the
    # kernel evaluates, so the recursion is bit-identical.
    oracle="""
    WITH RECURSIVE ranked AS (
      SELECT ts, value, row_number() OVER (ORDER BY ts, value) AS rn,
             value - lag(value) OVER (ORDER BY ts, value) AS d
      FROM events
      WHERE event_type = 'error' AND value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-10 00:00:00'
    ),
    base AS (
      SELECT count(*) AS L, list(value ORDER BY rn) AS vs,
             list(d ORDER BY rn) AS ds
      FROM ranked
    ),
    k(p, kama, vs, ds) AS (
      SELECT 10, vs[10], vs, ds FROM base WHERE L >= 11
      UNION ALL
      SELECT p + 1, (vs[p + 1] - kama) * (m * m) + kama, vs, ds
      FROM (
        SELECT p, kama, vs, ds,
               CASE WHEN dsum = 0.0 THEN 0.0 ELSE num / dsum END
                 * (2.0 / 3.0 - 2.0 / 31.0) + 2.0 / 31.0 AS m
        FROM (
          SELECT p, kama, vs, ds,
                 abs(vs[p + 1] - vs[p + 1 - 10]) AS num,
                 list_reduce(list_prepend(0.0, list_transform(
                   list_slice(ds, p - 8, p + 1), x -> abs(x))),
                   (a, x) -> a + x) AS dsum
          FROM k WHERE p + 1 <= len(vs)
        )
      )
    )
    SELECT 'events' AS _measurement, 'error' AS _field, x.ts AS _time,
           k.kama AS _value
    FROM k JOIN ranked x ON x.rn = k.p
    WHERE k.p > 10
    """,
)
def flux_compiled_kama(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`kaufmansAMA()` through the Flux front-end — Kaufman's Adaptive
    Moving Average (the noise-adaptive smoothing panel) in the
    sanctioned Arrow per-series kernel (operators/timeseries.py
    flux_kama), identity-seed convention pinned and documented there."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-10T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "error")
          |> kaufmansAMA(n: 10)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_events_duration",
    # events.duration(unit: 1m) — whole-minute span until the next
    # record per table, the LAST record closed by the range stop
    # (upstream's _stop column carries exactly this value). Every
    # record keeps its row (unlike elapsed, which drops the first),
    # INCLUDING null-_value records: upstream events.duration is
    # record-based — the value-null policy governs value arithmetic,
    # not record selection (the sample()/limit() rule). NULLS FIRST
    # pins DuckDB's tied-timestamp ordering to Spark's asc default.
    # // on the non-negative µs diff ≡ the engine's toward-zero cast.
    oracle="""
    SELECT 'events' AS _measurement, event_type AS _field,
           ts AS _time, value AS _value,
           CAST((coalesce(lead(epoch_us(ts)) OVER w,
                          epoch_us(TIMESTAMP '2024-01-15 00:00:00'))
                 - epoch_us(ts)) // 60000000 AS BIGINT) AS duration
    FROM events
    WHERE event_type = 'purchase'
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, value NULLS FIRST)
    """,
)
def flux_compiled_events_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events.duration()` through the Flux front-end — the
    state-dashboard idiom (how long each reading was current), one
    lead window per table: one exchange."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        import "contrib/tomhollingworth/events"
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "purchase")
          |> events.duration(unit: 1m)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_interpolate",
    # interpolate.linear(every: 10m): raw rows pass through; grid rows
    # at epoch-aligned 10-minute marks strictly inside each table's
    # (min, max) span — and absent from the raw set — interpolate
    # between the bracketing points of the per-timestamp-MAX-deduped
    # series. Pinned expression order pv + (nv − pv)·((t−pt)/(nt−pt)),
    # int64-µs deltas cast to double for ONE division: bit-identical.
    oracle="""
    WITH raw AS (
      SELECT ts, value FROM events
      WHERE event_type = 'signup' AND value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    ),
    uniq AS (
      SELECT epoch_us(ts) AS us, max(value) AS v FROM raw GROUP BY 1
    ),
    b AS (SELECT min(us) AS mn, max(us) AS mx FROM uniq),
    g AS (
      SELECT unnest(range(mn + (600000000 - mn % 600000000) % 600000000,
                          mx - mx % 600000000 + 1, 600000000)) AS gus
      FROM b
    ),
    g2 AS (
      SELECT gus FROM g
      WHERE NOT EXISTS (SELECT 1 FROM uniq u WHERE u.us = g.gus)
    ),
    m AS (
      SELECT us, v FROM uniq
      UNION ALL SELECT gus, NULL FROM g2
    ),
    f AS (
      SELECT us, v,
             last_value(CASE WHEN v IS NOT NULL
                             THEN {'t': us, 'x': v} END IGNORE NULLS)
               OVER (ORDER BY us
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p,
             first_value(CASE WHEN v IS NOT NULL
                              THEN {'t': us, 'x': v} END IGNORE NULLS)
               OVER (ORDER BY us
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nx
      FROM m
    )
    SELECT 'events' AS _measurement, 'signup' AS _field,
           ts AS _time, value AS _value
    FROM raw
    UNION ALL
    SELECT 'events', 'signup', make_timestamp(us),
           p.x + (nx.x - p.x)
               * (CAST(us - p.t AS DOUBLE) / CAST(nx.t - p.t AS DOUBLE))
    FROM f WHERE v IS NULL
    """,
)
def flux_compiled_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`interpolate.linear()` through the Flux front-end — the
    gap-filling panel option for irregular series: raw rows unchanged
    plus linearly interpolated rows at aligned 10-minute marks. One
    exchange on the table key (dedup, grid anti-join, and both bracket
    windows co-partition)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        import "interpolate"
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "signup")
          |> interpolate.linear(every: 10m)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_reduce",
    # reduce() — the additive-fold subset: identity + Σ poly(r) per
    # accumulator field over exact decimal(12,2) sums/products (skew's
    # domain: associative, map-side combinable, try_cast nulling
    # out-of-domain values), ONE double conversion per field at the
    # end. Sum, sum of squares, and a literal-term count in one pass.
    oracle="""
    SELECT 'events' AS _measurement, event_type AS _field,
           CAST(CAST(0.0 AS DECIMAL(12,2))
                + SUM(TRY_CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total,
           CAST(CAST(0.0 AS DECIMAL(12,2))
                + SUM(TRY_CAST(value AS DECIMAL(12,2))
                      * TRY_CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sq,
           CAST(CAST(0.0 AS DECIMAL(12,2))
                + SUM(CAST(1.0 AS DECIMAL(12,2))) AS DOUBLE) AS cnt
    FROM events
    WHERE value IS NOT NULL
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY 1, 2
    """,
)
def flux_compiled_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`reduce()` through the Flux front-end — the custom-aggregation
    escape hatch, shipped as its map-side-combinable additive fragment
    (sums / sums of squares / counts in one pass; one tiny exchange on
    the table key)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> reduce(fn: (r, accumulator) => ({
               total: accumulator.total + r._value,
               sq: r._value * r._value + accumulator.sq,
               cnt: accumulator.cnt + 1.0
             }), identity: {total: 0.0, sq: 0.0, cnt: 0.0})
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_tma_windowed",
    # timedMovingAverage(every: 1h, period: 3h) — the WINDOWED-emission
    # form, upstream's window |> mean composition ≡ the sliding
    # aggregateWindow(mean) machinery: each row in period/every = 3
    # windows, replayed by unnesting k ∈ {0,1,2} memberships per row.
    oracle="""
    WITH x AS (
      SELECT ts, event_type, value, unnest([0, 1, 2]) AS k
      FROM events
      WHERE event_type = 'view' AND value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    )
    SELECT make_timestamp(((epoch_us(ts) // 3600000000) - k) * 3600000000)
             AS window_start,
           'events' AS _measurement, event_type AS _field,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
             AS mean,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM x GROUP BY 1, 2, 3
    """,
)
def flux_compiled_tma_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`timedMovingAverage(every:, period:)` through the Flux
    front-end — the windowed-emission smoothing panel, compiled onto
    the sliding aggregateWindow machinery (one exchange, partial
    aggregation per window membership)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "view")
          |> timedMovingAverage(every: 1h, period: 3h)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_downsample_rate",
    # aggregateWindow(every: 1h, fn: last) |> derivative(unit: 1s,
    # nonNegative: true) — the DOWNSAMPLE-THEN-RATE idiom (counter rate
    # from hourly-downsampled counters). The windowed last replays as a
    # QUALIFY row_number over the hour bucket; the derivative then runs
    # over (window_start, value) in doubles exactly like the row-level
    # form (same IEEE tree, reset-aware delta, first row dropped).
    oracle="""
    WITH w AS (
      SELECT event_type,
             make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS t,
             value
      FROM events
      WHERE event_type = 'click' AND value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      QUALIFY row_number() OVER (
        PARTITION BY event_type, epoch_us(ts) // 3600000000
        ORDER BY ts DESC, value DESC) = 1
    ),
    d AS (
      SELECT event_type, t, value,
             lag(value) OVER w2 AS pv,
             lag(epoch_us(t)) OVER w2 AS pt
      FROM w
      WINDOW w2 AS (PARTITION BY event_type ORDER BY t, value)
    )
    SELECT * FROM (
      SELECT 'events' AS _measurement, event_type AS _field, t AS _time,
             value AS _value,
             CASE WHEN value >= pv THEN value - pv ELSE value END
               / NULLIF((epoch_us(t) - pt) / 1000000.0, 0) AS derivative
      FROM d
    ) WHERE derivative IS NOT NULL
    """,
)
def flux_compiled_downsample_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`aggregateWindow(fn: last) |> derivative(nonNegative: true)`
    through the Flux front-end — the counter-rate-from-downsampled-
    counters panel (round 11b: the aggregate-then-transform
    composition). One window-key exchange for the selector aggregate;
    the per-table derivative window reuses that partitioning."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "click")
          |> aggregateWindow(every: 1h, fn: last)
          |> derivative(unit: 1s, nonNegative: true)
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_contains",
    # filter(fn: (r) => contains(value: r["_field"], set: [...])) — the
    # Grafana MULTI-SELECT variable idiom: an IN predicate Catalyst
    # pushes into the parquet scan (In(_field) in PushedFilters, so
    # field-clustered row groups still skip), feeding an hourly mean.
    oracle=f"""
    SELECT make_timestamp((epoch_us(ts)//3600000000)*3600000000)
             AS window_start,
           'events' AS _measurement, event_type AS _field,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*)
             AS mean,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE event_type IN ('click', 'view') AND value IS NOT NULL
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def flux_compiled_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`contains()` in the filter grammar — the multi-select dashboard
    variable (field IN a selection), compiled to an In() scan filter +
    the hourly windowed mean per matching table."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => contains(value: r["_field"], set: v.fields))
          |> aggregateWindow(every: 1h, fn: mean)
        """,
        {"gas-quality": path},
        {"fields": ["click", "view"]},
    )


@query(
    "flux_compiled_left_join",
    # join(method: "left") — the join-package outer form: this week's
    # hourly click means keep every window; view means (restricted to
    # the first three days) attach where present, null columns where
    # not. Conflicting non-key columns suffix _<label> like upstream.
    oracle="""
    WITH a AS (
      SELECT make_timestamp((epoch_us(ts)//3600000000)*3600000000)
               AS window_start,
             'events' AS _measurement_a, event_type AS _field_a,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*)
               AS mean_a,
             CAST(COUNT(*) AS BIGINT) AS n_a
      FROM events
      WHERE event_type = 'click' AND value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      GROUP BY 1, 2, 3
    ), b AS (
      SELECT make_timestamp((epoch_us(ts)//3600000000)*3600000000)
               AS window_start,
             'events' AS _measurement_b, event_type AS _field_b,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*)
               AS mean_b,
             CAST(COUNT(*) AS BIGINT) AS n_b
      FROM events
      WHERE event_type = 'view' AND value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-11 00:00:00'
      GROUP BY 1, 2, 3
    )
    SELECT a.window_start, a._measurement_a, a._field_a, a.mean_a, a.n_a,
           b._measurement_b, b._field_b, b.mean_b, b.n_b
    FROM a LEFT JOIN b ON a.window_start = b.window_start
    """,
)
def flux_compiled_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`join(method: "left")` — the join-package outer form through
    the multi-statement combiner: every left window kept, right
    columns null where the restricted right side has no bucket. One
    hash exchange per side on the join key (both sides already
    window-aggregated)."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        a = from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "click")
          |> aggregateWindow(every: 1h, fn: mean)
        b = from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-11T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "view")
          |> aggregateWindow(every: 1h, fn: mean)
        join(tables: {a: a, b: b}, on: ["window_start"], method: "left")
        """,
        {"gas-quality": path},
    )


@query(
    "flux_compiled_windowed_quantile",
    # aggregateWindow(fn: (column, tables=<-) => tables |> quantile(q:
    # 0.9)) — the p90-PER-HOUR panel, upstream's parameterized-fn
    # lambda idiom. Same exact_selector + Flux rank convention
    # (round(q·n) half away from zero, clamped at 1) as the bare
    # quantile row, ranked per (hour bucket, table key).
    oracle="""
    SELECT window_start, _measurement, _field, _value AS quantile,
           CAST(n AS BIGINT) AS n
    FROM (
      SELECT make_timestamp((epoch_us(ts)//3600000000)*3600000000)
               AS window_start,
             'events' AS _measurement, event_type AS _field,
             value AS _value,
             row_number() OVER (PARTITION BY event_type,
                                             epoch_us(ts)//3600000000
                                ORDER BY value) AS rn,
             count(value) OVER (PARTITION BY event_type,
                                             epoch_us(ts)//3600000000)
               AS n
      FROM events
      WHERE event_type = 'view' AND value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    ) WHERE rn = greatest(CAST(round(0.9 * n) AS BIGINT), 1)
    """,
)
def flux_compiled_windowed_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The windowed quantile lambda through the Flux front-end — p90
    per hour per table. Raw rows shuffle once on (window bucket, table
    key); an exact rank has no map-side partial form, so that single
    compound-key exchange IS the floor for these semantics."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "view")
          |> aggregateWindow(every: 1h, fn: (column, tables=<-) =>
               tables |> quantile(q: 0.9))
        """,
        {"gas-quality": path},
    )


# registered in queries/extensions.py (the X-tier module); the SQL
# lives HERE because suite_round11's oracle must embed it verbatim at
# THIS module's import time (extensions imports after timeseries_q —
# the f-string below cannot reference its ORACLE entry yet)
SEMANTIC_DEDUP_SQL = """
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE NOT EXISTS (
      SELECT 1 FROM embeddings a
      WHERE a.vec_id < e.vec_id
        AND round(list_cosine_similarity(a.embedding::DOUBLE[],
                                         e.embedding::DOUBLE[]), 6) >= 0.35
    )
    """


def _semantic_dedup_lsh_sql() -> str:
    # the 100-TB variant's oracle: the generated plane-literal LSH
    # replay (similarity.lsh_ann_oracle_sql — the same seeded planes /
    # derived banding / unit-vector verify the engine runs) wrapped in
    # the keep-no-lower-id-partner rule
    from ..operators.similarity import lsh_ann_oracle_sql

    return f"""
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE NOT EXISTS (
      SELECT 1 FROM ({lsh_ann_oracle_sql(threshold=0.35)}) p
      WHERE p.id_b = e.vec_id
    )
    """


SEMANTIC_DEDUP_LSH_SQL = _semantic_dedup_lsh_sql()

_SUITE_11_SQL = f"""
    SELECT 'flux_compiled_holt_winters' AS sub, t._field AS k1,
           CAST(epoch_us(t._time) AS VARCHAR) AS k2, t.forecast AS value
    FROM ({ORACLE["flux_compiled_holt_winters"]}) t
    UNION ALL
    SELECT 'flux_compiled_holt_winters_seasonal', t._field,
           CAST(epoch_us(t._time) AS VARCHAR), t.forecast
    FROM ({ORACLE["flux_compiled_holt_winters_seasonal"]}) t
    UNION ALL
    SELECT 'lineprotocol_window_mean', t._field || '|' || t.host,
           CAST(epoch_us(t.window_start) AS VARCHAR), t.avg_value
    FROM ({ORACLE["lineprotocol_window_mean"]}) t
    UNION ALL
    SELECT 'flux_compiled_trix', t._field,
           CAST(epoch_us(t._time) AS VARCHAR), t._value
    FROM ({ORACLE["flux_compiled_trix"]}) t
    UNION ALL
    SELECT 'flux_compiled_kama', t._field,
           CAST(epoch_us(t._time) AS VARCHAR), t._value
    FROM ({ORACLE["flux_compiled_kama"]}) t
    UNION ALL
    SELECT 'flux_compiled_events_duration', t._field,
           CAST(epoch_us(t._time) AS VARCHAR), CAST(t.duration AS DOUBLE)
    FROM ({ORACLE["flux_compiled_events_duration"]}) t
    UNION ALL
    SELECT 'flux_compiled_interpolate', t._field,
           CAST(epoch_us(t._time) AS VARCHAR), t._value
    FROM ({ORACLE["flux_compiled_interpolate"]}) t
    UNION ALL
    SELECT 'flux_compiled_reduce', t._field, u.fname, u.fval
    FROM ({ORACLE["flux_compiled_reduce"]}) t,
         LATERAL (VALUES ('total', t.total), ('sq', t.sq), ('cnt', t.cnt))
           AS u(fname, fval)
    UNION ALL
    SELECT 'flux_compiled_tma_windowed', t._field,
           CAST(epoch_us(t.window_start) AS VARCHAR), t.mean
    FROM ({ORACLE["flux_compiled_tma_windowed"]}) t
    UNION ALL
    SELECT 'flux_compiled_downsample_rate', t._field,
           CAST(epoch_us(t._time) AS VARCHAR), t.derivative
    FROM ({ORACLE["flux_compiled_downsample_rate"]}) t
    UNION ALL
    SELECT 'flux_compiled_contains', t._field,
           CAST(epoch_us(t.window_start) AS VARCHAR), t.mean
    FROM ({ORACLE["flux_compiled_contains"]}) t
    UNION ALL
    SELECT 'flux_compiled_left_join',
           t._field_a || '|' || coalesce(t._field_b, ''),
           CAST(epoch_us(t.window_start) AS VARCHAR) || '|' || u.side,
           u.m
    FROM ({ORACLE["flux_compiled_left_join"]}) t,
         LATERAL (VALUES ('a', t.mean_a), ('b', t.mean_b)) AS u(side, m)
    UNION ALL
    SELECT 'flux_compiled_windowed_quantile', t._field,
           CAST(epoch_us(t.window_start) AS VARCHAR), t.quantile
    FROM ({ORACLE["flux_compiled_windowed_quantile"]}) t
    UNION ALL
    SELECT 'semantic_dedup_apply', CAST(t.label AS VARCHAR),
           CAST(t.vec_id AS VARCHAR), CAST(NULL AS DOUBLE)
    FROM ({SEMANTIC_DEDUP_SQL}) t
    UNION ALL
    SELECT 'semantic_dedup_lsh', CAST(t.label AS VARCHAR),
           CAST(t.vec_id AS VARCHAR), CAST(NULL AS DOUBLE)
    FROM ({SEMANTIC_DEDUP_LSH_SQL}) t
"""


@query("suite_round11", oracle=_SUITE_11_SQL)
def suite_round11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11 suite (the round-10c one-slot pattern): both
    holtWinters forms — non-seasonal and the seasonal triple
    recurrence — plus the line-protocol parse path, and the round-11b
    batch (TRIX, kaufmansAMA, events.duration, interpolate.linear),
    driver-attested through one order-insensitive union hash whose
    oracle embeds each singleton's registered SQL verbatim (pinned by
    tests/test_registry_window.py)."""

    def _us(c):
        return F.unix_micros(c).cast("string")

    def _series_arm(fn, name, value_col="_value"):
        return fn(spark, sf_dir).select(
            F.lit(name).alias("sub"),
            F.col("_field").alias("k1"), _us("_time").alias("k2"),
            F.col(value_col).cast("double").alias("value"),
        )

    arms = [
        flux_compiled_holt_winters(spark, sf_dir).select(
            F.lit("flux_compiled_holt_winters").alias("sub"),
            F.col("_field").alias("k1"), _us("_time").alias("k2"),
            F.col("forecast").alias("value"),
        ),
        flux_compiled_holt_winters_seasonal(spark, sf_dir).select(
            F.lit("flux_compiled_holt_winters_seasonal").alias("sub"),
            F.col("_field").alias("k1"), _us("_time").alias("k2"),
            F.col("forecast").alias("value"),
        ),
        lineprotocol_window_mean(spark, sf_dir).select(
            F.lit("lineprotocol_window_mean").alias("sub"),
            F.concat(F.col("_field"), F.lit("|"), F.col("host")).alias("k1"),
            _us("window_start").alias("k2"),
            F.col("avg_value").alias("value"),
        ),
        _series_arm(flux_compiled_trix, "flux_compiled_trix"),
        _series_arm(flux_compiled_kama, "flux_compiled_kama"),
        _series_arm(
            flux_compiled_events_duration, "flux_compiled_events_duration",
            value_col="duration",
        ),
        _series_arm(flux_compiled_interpolate, "flux_compiled_interpolate"),
    ]
    rd = flux_compiled_reduce(spark, sf_dir)
    arms += [
        rd.select(
            F.lit("flux_compiled_reduce").alias("sub"),
            F.col("_field").alias("k1"), F.lit(fname).alias("k2"),
            F.col(fname).alias("value"),
        )
        for fname in ("total", "sq", "cnt")
    ]
    arms.append(
        flux_compiled_tma_windowed(spark, sf_dir).select(
            F.lit("flux_compiled_tma_windowed").alias("sub"),
            F.col("_field").alias("k1"),
            _us("window_start").alias("k2"),
            F.col("mean").alias("value"),
        )
    )
    arms.append(
        _series_arm(
            flux_compiled_downsample_rate, "flux_compiled_downsample_rate",
            value_col="derivative",
        )
    )
    arms.append(
        flux_compiled_contains(spark, sf_dir).select(
            F.lit("flux_compiled_contains").alias("sub"),
            F.col("_field").alias("k1"),
            _us("window_start").alias("k2"),
            F.col("mean").alias("value"),
        )
    )
    arms.append(
        flux_compiled_windowed_quantile(spark, sf_dir).select(
            F.lit("flux_compiled_windowed_quantile").alias("sub"),
            F.col("_field").alias("k1"),
            _us("window_start").alias("k2"),
            F.col("quantile").alias("value"),
        )
    )
    from .extensions import (  # registered post-import
        semantic_dedup_apply,
        semantic_dedup_lsh,
    )

    for fn_arm, nm_arm in (
        (semantic_dedup_apply, "semantic_dedup_apply"),
        (semantic_dedup_lsh, "semantic_dedup_lsh"),
    ):
        arms.append(
            fn_arm(spark, sf_dir).select(
                F.lit(nm_arm).alias("sub"),
                F.col("label").cast("string").alias("k1"),
                F.col("vec_id").cast("string").alias("k2"),
                F.lit(None).cast("double").alias("value"),
            )
        )
    lj = flux_compiled_left_join(spark, sf_dir)
    arms += [
        lj.select(
            F.lit("flux_compiled_left_join").alias("sub"),
            F.concat(
                F.col("_field_a"), F.lit("|"),
                F.coalesce(F.col("_field_b"), F.lit("")),
            ).alias("k1"),
            F.concat(_us("window_start"), F.lit("|" + side)).alias("k2"),
            F.col(f"mean_{side}").alias("value"),
        )
        for side in ("a", "b")
    ]
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


# -- round 13: exponentialTimeMovingAverage ---------------------------


@query(
    "flux_compiled_etma",
    # exponentialTimeMovingAverage(n: 5m), full series: y1 = v1
    # (emitted — n is a duration, not a warm-up count), then
    # y = w·y_prev + (1−w)·v with w = n_us/(n_us + Δt_us), the PINNED
    # rational decay (MIGRATION.md divergence list; upstream's
    # exp(−Δt/n) is not bit-replayable across engines). The oracle
    # replays the recurrence as a linear recursive CTE carrying the
    # (values, epoch-µs) lists in the working row; w is one
    # exact-operand double division (both integers < 2⁵³) and the step
    # is exactly w·a + (1.0−w)·v — the kernel's own expression tree
    # (operators/timeseries.py flux_etma), so every value is
    # bit-identical.
    oracle="""
    WITH RECURSIVE ranked AS (
      SELECT ts, value, row_number() OVER (ORDER BY ts, value) AS rn
      FROM events
      WHERE event_type = 'view' AND value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    ),
    base AS (
      SELECT count(*) AS L, list(value ORDER BY rn) AS vs,
             list(epoch_us(ts) ORDER BY rn) AS tu,
             list(ts ORDER BY rn) AS tss
      FROM ranked
    ),
    e(rn, a, vs, tu) AS (
      SELECT 1, vs[1], vs, tu FROM base WHERE L >= 1
      UNION ALL
      SELECT rn + 1, w * a + (1.0 - w) * vs[rn + 1], vs, tu
      FROM (
        SELECT rn, a, vs, tu,
               300000000.0 / CAST(300000000 + (tu[rn + 1] - tu[rn])
                                  AS DOUBLE) AS w
        FROM e WHERE rn + 1 <= len(vs)
      )
    )
    SELECT 'events' AS _measurement, 'view' AS _field,
           b.tss[e.rn] AS _time, e.a AS _value
    FROM e, base b
    """,
)
def flux_compiled_etma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`exponentialTimeMovingAverage()` through the Flux front-end —
    the time-decayed smoothing panel for irregular sampling, the last
    upstream movingAverage-family member (VERDICT r12 item 3). One
    Arrow per-series pass (operators/timeseries.py flux_etma), pinned
    rational decay documented there and in MIGRATION.md."""
    from ..flux import compile_flux

    path = _event_bucket_path(spark, sf_dir)
    return compile_flux(
        spark,
        """
        from(bucket: "gas-quality")
          |> range(start: "2024-01-08T00:00:00Z", stop: "2024-01-15T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> filter(fn: (r) => r["_field"] == "view")
          |> exponentialTimeMovingAverage(n: 5m)
        """,
        {"gas-quality": path},
    )


@query(
    "lineprotocol_export",
    # the EXPORT side of the wire format (sources/line_protocol.py
    # to_line_protocol — the influx-write-API / replication path,
    # round-trip property-tested against the parser since r11; this
    # row is its driver attestation, round 13). The events store has
    # no tags and delimiter-free identifiers, so each line is
    # measurement<SP>field=value<SP>epoch_ns. Both engines render the
    # double via shortest-repr round-trip formatting (Java
    # Double.toString ≡ DuckDB's fast-float VARCHAR cast on this
    # domain — verified distinct-value-exact at sf0.001 and sf0.01)
    # and the timestamp as an exact integer.
    #
    # HARD PRECONDITION (ADVICE r13): the two formatters agree ONLY
    # while every value sits in the plain-decimal band
    # 1e-3 <= |v| < 1e7 (or v == 0 / integral): outside it Java
    # switches to scientific notation ('1.0E-4', '1.23E8') where
    # DuckDB keeps plain decimals ('0.0001', '123000000.0'), so the
    # hash comparison would fail LOUDLY, not drift silently. The
    # events.value domain is uniform [0, 100) with >=2 significant
    # digits, inside the band by construction (TESTDATA.md). A port
    # of this oracle to an unbounded domain must normalize both sides
    # through one pinned printf-style spec instead (to_line_protocol
    # itself is format-agnostic; only this ORACLE carries the bound).
    oracle="""
    SELECT 'events ' || event_type || '=' || CAST(value AS VARCHAR)
           || ' ' || CAST(epoch_ns(ts) AS VARCHAR) AS value
    FROM events
    WHERE value IS NOT NULL
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    """,
)
def lineprotocol_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5-inverse: bucket → line-protocol text (the export/replication
    path a reference user runs to feed data back into InfluxDB
    tooling). Pure Catalyst string formatting over the pruned scan —
    no shuffle, no Python."""
    from ..sources import bucket as bkt
    from ..sources import line_protocol as lp

    path = _event_bucket_path(spark, sf_dir)
    frame = bkt.scan_bucket(
        spark, path,
        measurement="events",
        start="2024-01-08 00:00:00",
        stop="2024-01-15 00:00:00",
    )
    return lp.to_line_protocol(frame)


#: memory-sink sequence for the drained streaming query — each call
#: drains a FRESH streaming query (the point is driver-visible
#: evidence of the live path, not a cached result), and Spark's
#: memory sink registers a temp view per queryName, so the name must
#: be unique within the session
_STREAM_DRAIN_SEQ = iter(range(1, 1 << 30))

# ONE lock for every session-global conf set/restore in this codebase
# (ADVICE r15): shared with write_bucket's outputTimestampType block so
# all session-conf mutators serialize against each OTHER, not just
# against their own kind. A concurrent batch query planned on another
# thread while the conf is lowered would still see 8 shuffle
# partitions (results unaffected, parallelism only) — callers that
# plan batch queries concurrently with drains should take this lock.
from ..sources.bucket import _SESSION_CONF_LOCK as _STREAM_CONF_LOCK  # noqa: E402


def _stream_state_partitions() -> int:
    """State-partition count for the drained live-panel queries.

    A stateful operator sizes its state store from
    ``spark.sql.shuffle.partitions`` at (fresh-)checkpoint creation —
    i.e. to the BOX's core count, not to the panel's key space. Each
    state partition costs a provider instance plus a per-batch commit
    whether or not it holds a key, so the attested 1-series panel paid
    32 state commits per micro-batch for one real key (measured: the
    drain is 3.0 s at 32 partitions vs 1.8 s at 4 for identical
    output). The panels here carry <= 5 series / <= #open-window keys;
    8 partitions is cardinality-sized headroom. Production sizing is
    the same rule at the other end — partitions ~ key cardinality /
    throughput, set via SPARK_GRAFT_STREAM_STATE_PARTITIONS — never
    the default shuffle parallelism. Per-key results are
    partitioning-independent (pinned by the streaming==batch tests),
    so this changes cost only."""
    import os

    return int(os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8"))


class _stream_partition_conf:
    """Set/restore ``spark.sql.shuffle.partitions`` around a drained
    stream's build+start (the write_bucket set/write/restore pattern,
    serialized under a lock): the conf is read when the stream's first
    micro-batch plans, so it must cover start()..awaitTermination()."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        _STREAM_CONF_LOCK.acquire()
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions", None)
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", str(_stream_state_partitions())
        )
        return self

    def __exit__(self, *exc):
        try:
            if self.prev is None:
                self.spark.conf.unset("spark.sql.shuffle.partitions")
            else:
                self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        finally:
            _STREAM_CONF_LOCK.release()
        return False


@query(
    "stream_moving_avg_drained",
    # the ONE driver-visible attestation of the applyInPandasWithState
    # streaming path (VERDICT r14 item 2): the live movingAverage(n: 6)
    # panel drained with trigger(availableNow) — the emitted frame is
    # pinned bit-identical to the batch compiler (streaming==batch
    # tests), and the batch form is this exact-decimal ROW-frame mean
    # with Flux's drop-the-first-n−1 convention. The events store has
    # strictly-increasing per-series timestamps (no ties at the
    # attested sf), so the pinned arrival contract is vacuously met.
    oracle="""
    SELECT 'events' AS _measurement, event_type AS _field,
           ts AS _time, value AS _value,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
             / CAST(COUNT(value) OVER w AS DOUBLE) AS moving_avg
    FROM events
    WHERE event_type = 'signup'
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, value
                 ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
    QUALIFY row_number() OVER (PARTITION BY event_type
                               ORDER BY ts, value) >= 6
    """,
)
def stream_moving_avg_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING subset's driver-visible CORRECTNESS row (VERDICT
    r14 item 2): until now the nine keyed-state stream members were
    attested by streaming==batch equality tests only — legitimately
    (the DuckDB gate cannot execute a stream), but a streaming-only
    regression was invisible to the driver gate. This query runs the
    REAL live path end to end per invocation: ``compile_flux_stream``
    compiles the dashboard text onto a file-arrival stream over the
    bucket store, the applyInPandasWithState kernel
    (streaming/stateful.moving_average_fold — bounded
    trailing-6 cents list per series, O(1) state in the stream
    length) folds every record, and a trigger(availableNow) drain to
    a memory sink captures the emitted frame, which is returned for
    the driver's hash compare against the batch-equivalent SQL.

    Scale: the drain is the live panel's full envelope (stream-source
    file listing, keyed shuffle, state-store commits); at 100 TB the
    same query runs continuously against arriving files with
    #series·6·8 B of state — SCALE.md §28.
    """
    import shutil
    import tempfile

    from ..flux import compile_flux_stream

    path = _event_bucket_path(spark, sf_dir)
    name = f"tsdp_stream_drain_{next(_STREAM_DRAIN_SEQ)}"
    ck = tempfile.mkdtemp(prefix="tsdp_stream_drain_ck_")
    try:
        # state partitions sized to the panel's key space, not the box
        # (see _stream_state_partitions)
        with _stream_partition_conf(spark):
            live = compile_flux_stream(
                spark,
                """
                from(bucket: "gas-quality")
                  |> filter(fn: (r) => r["_measurement"] == "events")
                  |> filter(fn: (r) => r["_field"] == "signup")
                  |> movingAverage(n: 6)
                """,
                {"gas-quality": path},
            )
            q = (
                live.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        # the memory sink holds the emitted rows in driver memory —
        # the checkpoint is drain-scoped scratch
        shutil.rmtree(ck, ignore_errors=True)
    return spark.table(name)


@query(
    "stream_window_mean_drained",
    # driver evidence for the OTHER streaming state family (the
    # append-mode windowed aggregate — pure JVM window state, no
    # Python kernel): the flagship 6h-mean live panel drained
    # availableNow. Append mode cannot emit the final open window
    # (its end exceeds the drain's final watermark), so the oracle
    # excludes exactly the max observed window — the same rule the
    # streaming==batch equality tests pin.
    oracle="""
    WITH w AS (
      SELECT make_timestamp((epoch_us(ts)//21600000000)*21600000000)
               AS window_start,
             'events' AS _measurement,
             event_type AS _field,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*)
               AS mean,
             COUNT(*) AS n
      FROM events
      WHERE event_type = 'click'
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      GROUP BY 1, 2, 3)
    SELECT * FROM w
    WHERE window_start < (SELECT MAX(window_start) FROM w)
    """,
)
def stream_window_mean_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The windowed-aggregate streaming path's driver row, beside
    ``stream_moving_avg_drained``'s keyed-state one: the flagship
    dashboard panel (range → filter → aggregateWindow(every: 6h,
    fn: mean)) compiled by ``compile_flux_stream`` onto a
    file-arrival stream over the bucket store and drained with
    trigger(availableNow) under watermark 0s. Emitted windows are the
    batch compiler's exact decimal-mean expressions; the final window
    — whose end the drain's final watermark never passes — stays open
    by append-mode rule, and the oracle excludes exactly that max
    observed window, so the compare is exact both ways.

    Scale: per-(window, series) partial-aggregate state only
    (map-side combinable), pruned as the watermark passes — the
    continuous form of the same plan the batch flagship runs."""
    import shutil
    import tempfile

    from ..flux import compile_flux_stream

    path = _event_bucket_path(spark, sf_dir)
    name = f"tsdp_stream_drain_{next(_STREAM_DRAIN_SEQ)}"
    ck = tempfile.mkdtemp(prefix="tsdp_stream_drain_ck_")
    try:
        # state partitions sized to the panel's key space, not the box
        # (see _stream_state_partitions)
        with _stream_partition_conf(spark):
            live = compile_flux_stream(
                spark,
                """
                from(bucket: "gas-quality")
                  |> range(start: "2024-01-08T00:00:00Z",
                           stop: "2024-01-15T00:00:00Z")
                  |> filter(fn: (r) => r["_measurement"] == "events")
                  |> filter(fn: (r) => r["_field"] == "click")
                  |> aggregateWindow(every: 6h, fn: mean)
                """,
                {"gas-quality": path},
                watermark="0 seconds",
            )
            q = (
                live.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    return spark.table(name)


@query(
    "stream_task_rollup_drained",
    # the THIRD streaming surface's driver row: the task LOOP
    # (start_flux_task — rate ticker + foreachBatch re-executing the
    # compiled pipeline + the idempotent dynamic-partition-overwrite
    # writer), result READ BACK FROM THE SINK STORE rather than passed
    # through — so the checkpointed tick machinery, the bucket write,
    # and the store read-back are all inside the hash compare. Each
    # tick runs the BATCH compiler, so there is no open-window
    # exclusion: the compare is the full windowed mean.
    oracle="""
    SELECT make_timestamp((epoch_us(ts)//7200000000)*7200000000) AS _time,
           'events' AS _measurement, event_type AS _field,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*)
             AS _value
    FROM events
    WHERE event_type = 'error'
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def stream_task_rollup_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming TASK loop end to end per invocation (beside the
    two drained panel queries): ``start_flux_task`` runs the compiled
    2h-mean rollup as one ``availableNow`` tick — the InfluxDB task
    scheduler's unit of work — landing the result through the
    idempotent writer into a fresh sink store, and the returned frame
    is the SINK READ BACK (``read_bucket``), not the write-path
    passthrough, so a silent sink corruption would break the hash.
    ``flux_compiled_to_rollup`` attests the same writer through the
    batch front-end; this row adds the ticker + checkpoint +
    store-read envelope.

    Scale: one tick costs the compiled pipeline over the pruned scan
    plus a dynamic-partition overwrite of the touched days —
    SCALE.md §20's maintenance floor; the sink here is drain-scoped
    scratch (a production task refreshes one durable store)."""
    import shutil
    import tempfile

    from ..flux import start_flux_task
    from ..sources import bucket as bkt_src

    path = _event_bucket_path(spark, sf_dir)
    # the sink store must outlive the returned DataFrame (the driver
    # collects after this returns), so it is NOT cleaned here — a
    # drain-scoped scratch dir like the bench stream sinks
    target = tempfile.mkdtemp(prefix="tsdp_task_drain_out_") + "/bucket"
    ck = tempfile.mkdtemp(prefix="tsdp_task_drain_ck_")
    try:
        q = start_flux_task(
            spark,
            """
            from(bucket: "gas-quality")
              |> range(start: "2024-01-08T00:00:00Z",
                       stop: "2024-01-15T00:00:00Z")
              |> filter(fn: (r) => r["_measurement"] == "events")
              |> filter(fn: (r) => r["_field"] == "error")
              |> aggregateWindow(every: 2h, fn: mean, createEmpty: false)
              |> to(bucket: "rollup2h")
            """,
            {"gas-quality": path, "rollup2h": target},
            checkpoint=ck,
            available_now=True,
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    return bkt_src.read_bucket(spark, target).select(
        "_time", "_measurement", "_field", "_value"
    )
