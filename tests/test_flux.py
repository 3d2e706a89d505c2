"""Flux front-end (flux.compile_flux): the reference's dashboard query
subset must compile onto the engine's scan/window operators with
results identical to the hand-written DataFrame plans, resolve Grafana
template variables, and reject anything outside the shipped grammar
with an error naming the offending text."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from time_series_data_pipeline_spark import flux
from time_series_data_pipeline_spark.catalog import table
from time_series_data_pipeline_spark.sources import bucket as bkt

from .conftest import SF_SMOKE

VERBATIM = """
from(bucket: "gas-quality")
  |> range(start: v.timeRangeStart, stop: v.timeRangeStop)
  |> filter(fn: (r) => r["_measurement"] == "events")
  |> filter(fn: (r) => r["_field"] == "${Resistances}")
  |> aggregateWindow(every: v.windowPeriod, fn: mean, createEmpty: false)
  |> yield(name: "mean")
"""

PARAMS = {
    "timeRangeStart": "2024-01-03T00:00:00Z",
    "timeRangeStop": "2024-01-06T00:00:00Z",
    "windowPeriod": "5m",
    "Resistances": "click",
}


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("fluxstore") / "bucket")
    ev = table(spark, SF_SMOKE, "events")
    long_df = ev.select(
        F.col("ts").alias("_time"),
        F.lit("events").alias("_measurement"),
        F.col("event_type").alias("_field"),
        F.col("value").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    bkt.write_bucket(long_df, path, mode="overwrite", cluster="field")
    bkt.refresh_bucket_manifest(spark, path)
    return path


def test_verbatim_dashboard_query_matches_handwritten_plan(spark, store):
    got = flux.compile_flux(spark, VERBATIM, {"gas-quality": store}, PARAMS)
    ref = (
        bkt.window_mean(
            bkt.scan(
                bkt.read_bucket(spark, store),
                measurement="events",
                field="click",
                start="2024-01-03 00:00:00",
                stop="2024-01-06 00:00:00",
            ),
            "5 minutes",
        )
    )
    assert got.columns == ["window_start", "_measurement", "_field", "mean", "n"]
    assert {r["_measurement"] for r in got.select("_measurement").distinct().collect()} == {"events"}
    a = sorted(
        (str(r[0]), r[1], round(r[2], 9), r[3])
        for r in got.drop("_measurement").collect()
    )
    b = sorted((str(r[0]), r[1], round(r[2], 9), r[3]) for r in ref.collect())
    assert a == b and len(a) > 0


def test_gauge_last_stage(spark, store):
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_measurement"] == "events")'
        " |> last()",
        {"b": store},
    )
    rows = {r["_field"]: r["last_value"] for r in got.collect()}
    ref = (
        bkt.read_bucket(spark, store)
        .withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window
                .partitionBy("_field")
                .orderBy(F.col("_time").desc(), F.col("_value").desc())
            ),
        )
        .filter("rn = 1")
        .collect()
    )
    assert rows == {r["_field"]: r["_value"] for r in ref}


def test_or_and_value_predicates_and_other_fns(spark, store):
    q = (
        'from(bucket: "b") |> filter(fn: (r) => r["_value"] > 50.0 and '
        '(r["_field"] == "click" or r._field == "view")) '
        "|> aggregateWindow(every: 1h, fn: max) |> yield(name: \"peak\")"
    )
    got = flux.compile_flux(spark, q, {"b": store})
    assert "_measurement" in got.columns
    ref = (
        bkt.read_bucket(spark, store)
        .filter(
            (F.col("_value") > 50.0)
            & (F.col("_field").isin("click", "view"))
        )
        .groupBy(F.window("_time", "1 hour").alias("w"), "_measurement", "_field")
        .agg(F.max("_value").alias("peak"), F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            "_measurement", "_field", "peak", "n",
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


def test_create_empty_gap_fills(spark, store):
    from time_series_data_pipeline_spark.operators import timeseries as ts_ops

    q = (
        'from(bucket: "b") |> range(start: "2024-01-03 00:00:00", '
        'stop: "2024-01-04 00:00:00") '
        '|> filter(fn: (r) => r["_field"] == "purchase") '
        "|> aggregateWindow(every: 5m, fn: mean, createEmpty: true)"
    )
    got = flux.compile_flux(spark, q, {"b": store})
    rows = got.collect()
    # EXACT equality with the gap_fill operator reference — the weak
    # "any-empty or all-full" form passed even when no filling happened
    ref_src = bkt.scan(
        bkt.read_bucket(spark, store),
        field="purchase",
        start="2024-01-03 00:00:00",
        stop="2024-01-04 00:00:00",
    )
    ref = {
        (r["bucket"], r["_field"]): (r["n_events"], r["avg_value"])
        for r in ts_ops.gap_fill(
            ref_src, "_time", "_value", "300 seconds", 300, ["_field"]
        ).collect()
    }
    assert {
        (r["window_start"], r["_field"]): (r["n"], r["mean"]) for r in rows
    } == ref
    # the spine is contiguous and at least one bucket is an actual gap
    assert len(rows) == len(ref) > 0
    assert any(n == 0 for n, _ in ref.values()), "fixture produced no gaps"


def test_create_empty_false_string_does_not_gap_fill(spark, store):
    """bool("false") is True — a template-substituted createEmpty must
    not silently take the gap-fill path."""
    q = (
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "purchase") '
        '|> aggregateWindow(every: 5m, fn: mean, createEmpty: ${ce})'
    )
    a = flux.compile_flux(spark, q.replace("${ce}", "false"), {"b": store})
    assert all(r["n"] > 0 for r in a.collect())
    with pytest.raises(flux.FluxError, match="createEmpty"):
        flux.compile_flux(spark, q.replace("${ce}", '"maybe"'), {"b": store})


def test_stage_order_violations_raise(spark, store):
    for bad in (
        'from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean) |> last()',
        # round 12d: last() |> map() COMPILES now (the gauge unit
        # conversion — test_postmap_after_aggregate_batch); a
        # post-aggregate CAST still raises (it would act on raw rows)
        'from(bucket: "b") |> last() |> toFloat()',
        'from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean) '
        '|> range(start: "2024-01-03 00:00:00")',
        'from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean) '
        "|> aggregateWindow(every: 2h, fn: mean)",
    ):
        with pytest.raises(flux.FluxError, match="subset"):
            flux.compile_flux(spark, bad, {"b": store})
    # and the formerly-pinned rejection is now the gauge conversion
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click") '
        "|> last() |> map(fn: (r) => ({ r with _value: r._value * 2.0 }))",
        {"b": store},
    ).collect()
    plain = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click") '
        "|> last()",
        {"b": store},
    ).collect()
    assert len(got) == len(plain) == 1
    assert got[0]["last_value"] == plain[0]["last_value"] * 2.0


def test_url_literal_survives_comment_stripping(spark, store):
    q = (
        'from(bucket: "b")  // panel query\n'
        '|> filter(fn: (r) => r["_field"] == "http://example.com/x") |> last()'
    ).replace("\\n", "\n")
    got = flux.compile_flux(spark, q, {"b": store})
    assert got.count() == 0  # no such field; parse must succeed


def test_relative_range_needs_anchor_and_resolves(spark, store):
    q = 'from(bucket: "b") |> range(start: -2d) |> last()'
    with pytest.raises(flux.FluxError, match="now="):
        flux.compile_flux(spark, q, {"b": store})
    got = flux.compile_flux(
        spark, q, {"b": store}, now="2024-01-05T00:00:00Z"
    )
    ref = (
        bkt.read_bucket(spark, store)
        .filter(F.col("_time") >= "2024-01-03 00:00:00")
        .count()
    )
    assert ref > 0 and got.count() > 0


@pytest.mark.parametrize(
    "bad,msg",
    [
        ('from(bucket: "nope") |> last()', "unknown bucket"),
        ('from(bucket: "b") |> union(tables: [])', "unsupported stage"),
        ('from(bucket: "b") |> aggregateWindow(every: 5m, fn: integral)',
         "unsupported aggregateWindow fn"),
        ('from(bucket: "b") |> quantile(q: 1.5)', "quantile q"),
        ('from(bucket: "b") |> quantile(method: "exact_selector")',
         "quantile requires q"),
        ('from(bucket: "b") |> quantile(q: 0.5, method: "exact_mean")',
         "exact_selector"),
        ('from(bucket: "b") |> group() |> quantile(q: 0.5)',
         "one partition"),
        ('from(bucket: "b") |> filter(fn: (r) => r["_field"] =~ "Rs")',
         "regex"),
        ('range(start: -1d) |> last()', "must start with from"),
        ('from(bucket: "b") |> filter(fn: (r) => r["_field"] == "${Nope}") |> last()',
         "template variable"),
    ],
)
def test_grammar_rejections_name_the_offender(spark, store, bad, msg):
    with pytest.raises(flux.FluxError, match=msg):
        flux.compile_flux(spark, bad, {"b": store})


def test_compiled_plan_inherits_pruning(spark, store):
    """The compiled query goes through scan_bucket: a field predicate
    must shrink the file list (manifest skipping), proving compilation
    is translation onto the same pruned path, not a parallel reader."""
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_measurement"] == "events")'
        ' |> filter(fn: (r) => r["_field"] == "click") |> last()',
        {"b": store},
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.findall(r"Location: InMemoryFileIndex[^\n]*", plan)
    # the scan's file index is the explicit pruned list, not the root
    from time_series_data_pipeline_spark.sources import manifest as mf

    total = len(mf._list_data_files(store))
    kept = len(
        mf.prune_files(
            spark, store, f"{store}/{bkt.MANIFEST_SUBDIR}",
            constraints={"_field": ("click", "click")},
        )
    )
    assert kept < total
    assert got.count() > 0


def test_bare_aggregate_stage(spark, store):
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_measurement"] == "events")'
        ' |> mean() |> yield(name: "avg")',
        {"b": store},
    )
    assert got.columns == ["_measurement", "_field", "avg", "n"]
    ref = {
        r["_field"]: (round(r["avg"], 9), r["n"])
        for r in bkt.read_bucket(spark, store)
        .groupBy("_field")
        .agg(
            (
                F.sum(F.col("_value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert {r["_field"]: (round(r["avg"], 9), r["n"]) for r in got.collect()} == ref
    with pytest.raises(flux.FluxError, match="no arguments"):
        flux.compile_flux(spark, 'from(bucket: "b") |> mean(column: "x")', {"b": store})


def test_bare_stddev_spread_quantile(spark, store):
    """Round 9 (VERDICT r8 item 1): the last three Data-Explorer
    dropdown aggregates — sample stddev, spread (max−min) and the
    exact_selector quantile — checked value-by-value against a
    driver-side replay per (_measurement, _field) table."""
    import math
    import statistics

    src = bkt.scan_bucket(spark, store, measurement="events").collect()
    by_field: dict[str, list[float]] = {}
    for r in src:
        if r["_value"] is not None:
            by_field.setdefault(r["_field"], []).append(r["_value"])
    assert all(len(v) > 2 for v in by_field.values())

    sd = flux.compile_flux(
        spark, 'from(bucket: "b") |> stddev()', {"b": store}
    )
    assert sd.columns == ["_measurement", "_field", "stddev", "n"]
    got_sd = {r["_field"]: (r["stddev"], r["n"]) for r in sd.collect()}
    assert set(got_sd) == set(by_field)
    for f, vals in by_field.items():
        s, n = got_sd[f]
        assert n == len(vals)
        assert abs(s - statistics.stdev(vals)) < 1e-9, f

    sp = flux.compile_flux(
        spark, 'from(bucket: "b") |> spread() |> yield(name: "rng")',
        {"b": store},
    )
    assert sp.columns == ["_measurement", "_field", "rng", "n"]
    got_sp = {r["_field"]: r["rng"] for r in sp.collect()}
    for f, vals in by_field.items():
        assert got_sp[f] == max(vals) - min(vals), f

    for q in (0.25, 0.5, 0.9, 1.0):
        qd = flux.compile_flux(
            spark,
            f'from(bucket: "b") |> quantile(q: {q})',
            {"b": store},
        )
        assert qd.columns == ["_measurement", "_field", "quantile", "n"]
        got_q = {r["_field"]: (r["quantile"], r["n"]) for r in qd.collect()}
        for f, vals in by_field.items():
            srt = sorted(vals)
            # exact_selector, UPSTREAM rank convention (ADVICE r9):
            # sorted index round(q*n) − 1, half away from zero,
            # clamped at 0 — floor(x+0.5) is half-away for positive x
            want = srt[max(int(math.floor(q * len(srt) + 0.5)) - 1, 0)]
            v, n = got_q[f]
            assert v == want and n == len(vals), (f, q)


def test_windowed_stddev_and_spread(spark, store):
    """aggregateWindow(fn: stddev/spread): per-window sample stddev
    (NULL on single-point windows, as Flux yields no value) and
    max−min, keyed per table."""
    import statistics

    src = bkt.scan_bucket(spark, store, field="click").collect()
    buckets: dict = {}
    for r in src:
        if r["_value"] is not None:
            b = r["_time"].replace(
                minute=0, second=0, microsecond=0
            )
            buckets.setdefault(b, []).append(r["_value"])
    got = {
        r["window_start"]: (r["stddev"], r["n"])
        for r in flux.compile_flux(
            spark,
            'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
            " |> aggregateWindow(every: 1h, fn: stddev)",
            {"b": store},
        ).collect()
    }
    assert set(got) == set(buckets)
    for b, vals in buckets.items():
        s, n = got[b]
        assert n == len(vals)
        if len(vals) == 1:
            assert s is None
        else:
            assert abs(s - statistics.stdev(vals)) < 1e-9
    got_sp = {
        r["window_start"]: r["spread"]
        for r in flux.compile_flux(
            spark,
            'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
            " |> aggregateWindow(every: 1h, fn: spread)",
            {"b": store},
        ).collect()
    }
    for b, vals in buckets.items():
        assert got_sp[b] == max(vals) - min(vals)


# -- round-7 transform stages (VERDICT r6 item 4) ---------------------


def test_derivative_stage_matches_rate_operator(spark, store):
    """Compiled derivative(unit: 1s, nonNegative: true) must be the
    rate() operator over the same pruned scan, keyed on the full
    (_measurement, _field) table key, with the per-table first row
    dropped (Flux's convention — the rate there is undefined)."""
    from time_series_data_pipeline_spark.operators.timeseries import rate

    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_measurement"] == "events")'
        ' |> filter(fn: (r) => r["_field"] == "click")'
        " |> derivative(unit: 1s, nonNegative: true)",
        {"b": store},
    )
    ref = rate(
        bkt.scan_bucket(spark, store, measurement="events", field="click"),
        "_time",
        "_value",
        ["_measurement", "_field"],
    ).filter(F.col("rate_per_s").isNotNull())
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, ref.collect()), key=repr
    )
    # the dropped rows are exactly the per-table firsts: one series here
    n_raw = bkt.scan_bucket(
        spark, store, measurement="events", field="click"
    ).count()
    assert got.count() <= n_raw - 1


def test_timed_moving_average_matches_trailing_mean(spark, store):
    """timedMovingAverage(period: 30m) ≡ the trailing RANGE-window
    mean over 30 minutes of TIME distance (trailing_1h_mean's form)."""
    from pyspark.sql import Window

    from time_series_data_pipeline_spark.operators.timeseries import _dec

    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_measurement"] == "events")'
        ' |> filter(fn: (r) => r["_field"] == "view")'
        ' |> timedMovingAverage(period: 30m) |> yield(name: "tm")',
        {"b": store},
    )
    df = bkt.scan_bucket(spark, store, measurement="events", field="view")
    w = (
        Window.partitionBy("_measurement", "_field")
        .orderBy(F.unix_micros("_time"))
        .rangeBetween(-(30 * 60 * 1_000_000 - 1), 0)
    )
    ref = df.select(
        "_measurement",
        "_field",
        "_time",
        "_value",
        (
            F.sum(_dec("_value")).over(w).cast("double")
            / F.count("_value").over(w).cast("double")
        ).alias("tm"),
    )
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, ref.collect()), key=repr
    )


def test_increase_stage_is_cumulative_per_point(spark, store):
    """increase() is Flux's CUMULATIVE form (difference(nonNegative,
    keepFirst, initialZero) |> cumulativeSum()): per-table running sum
    of reset-aware deltas, the first row KEPT with _value 0 (upstream
    initialZero — ADVICE r8), cumulative value REPLACING _value.
    Checked point-by-point against a driver-side replay."""
    got = flux.compile_flux(
        spark,
        'from(bucket: "b")'
        ' |> filter(fn: (r) => r["_measurement"] == "events")'
        " |> increase()",
        {"b": store},
    )
    assert got.columns == ["_measurement", "_field", "_time", "_value"]
    rows = got.collect()
    src = bkt.scan_bucket(spark, store, measurement="events").collect()
    by_field: dict[str, list] = {}
    for r in src:
        if r["_value"] is not None:
            by_field.setdefault(r["_field"], []).append((r["_time"], r["_value"]))
    want: list[tuple] = []
    from decimal import ROUND_HALF_UP, Decimal

    def _d2(x: float) -> Decimal:
        # Spark's double→decimal(18,2) cast rounds HALF_UP
        return Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP)

    for f, pts in by_field.items():
        pts.sort()
        cum = Decimal(0)
        want.append((f, pts[0][0], 0.0))  # initialZero keeps row 1
        for (pt, pv), (t, v) in zip(pts, pts[1:]):
            dv = _d2(v) - _d2(pv)
            cum += dv if dv >= 0 else _d2(v)
            want.append((f, t, round(float(cum), 6)))
    got_list = sorted(
        (r["_field"], r["_time"], round(r["_value"], 6)) for r in rows
    )
    assert got_list == sorted(want) and len(got_list) > 0
    # initialZero: every source row survives (unlike difference())
    n_src = sum(len(p) for p in by_field.values())
    assert len(rows) == n_src


def test_increase_then_last_is_stat_panel_total(spark, store):
    """increase() |> last(): the cumulative series' final point — the
    reset-aware total monotonic increase per table (what the r7 bare
    form used to return)."""
    from pyspark.sql import Window

    from time_series_data_pipeline_spark.operators.timeseries import _dec

    got = {
        r["_field"]: r["last_value"]
        for r in flux.compile_flux(
            spark,
            'from(bucket: "b")'
            ' |> filter(fn: (r) => r["_measurement"] == "events")'
            " |> increase() |> last()",
            {"b": store},
        ).collect()
    }
    df = bkt.scan_bucket(spark, store, measurement="events")
    w = Window.partitionBy("_field").orderBy("_time", "_value")
    y = _dec("_value")
    prev = F.lag(y).over(w)
    delta = F.when(prev.isNull(), F.lit(0).cast("decimal(18,2)")).otherwise(
        F.when(y >= prev, y - prev).otherwise(y)
    )
    ref = {
        r["_field"]: r["t"]
        for r in df.select("_field", delta.alias("d"))
        .groupBy("_field")
        .agg(F.sum("d").cast("double").alias("t"))
        .collect()
    }
    assert len(got) == len(ref) > 1
    for f, v in ref.items():
        assert abs(got[f] - v) < 1e-9, f


def test_state_duration_stage_flux_convention(spark, store):
    """stateDuration: −1 wherever the predicate is false, 0 at every
    true-run's first point, and monotone non-decreasing within a run."""
    rows = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_measurement"] == "events")'
        ' |> stateDuration(fn: (r) => r["_value"] > 50.0)',
        {"b": store},
    ).collect()
    assert any(r["state"] for r in rows) and any(not r["state"] for r in rows)
    by_field: dict[str, list] = {}
    for r in rows:
        by_field.setdefault(r["_field"], []).append(r)
    for series in by_field.values():
        series.sort(key=lambda r: (r["_time"], r["_value"]))
        prev_state, prev_dur = None, None
        for r in series:
            if not r["state"]:
                assert r["stateDuration"] == -1
            elif prev_state is not True:
                assert r["stateDuration"] == 0  # run start
            else:
                assert r["stateDuration"] >= prev_dur
            prev_state, prev_dur = r["state"], r["stateDuration"]


@pytest.mark.parametrize(
    "bad,msg",
    [
        ('from(bucket: "b") |> last(column: "tags")', "no arguments"),
        ('from(bucket: "b") |> derivative(nonNegative: 1)', "boolean"),
        ('from(bucket: "b") |> derivative(unit: 5)', "bad duration"),
        ('from(bucket: "b") |> derivative(unit: 0s)', "must be > 0"),
        ('from(bucket: "b") |> derivative(nonNegative: true, foo: 1)',
         "unsupported args"),
        # the windowed-emission form now ships (round 11b) — only a
        # period that is not a multiple of every rejects
        ('from(bucket: "b") |> timedMovingAverage(every: 7m, period: 1h)',
         "multiple of every"),
        ('from(bucket: "b") |> timedMovingAverage(period: oops)', "oops"),
        ('from(bucket: "b") |> timedMovingAverage(period: 5)',
         "bad duration"),
        ('from(bucket: "b") |> increase(column: "x")', "no arguments"),
        ('from(bucket: "b") |> stateDuration(unit: 1s)', "requires fn"),
        ('from(bucket: "b") |> stateDuration(fn: (r) => r["_value"] > 1, '
         "unit: 0s)", "unit must be > 0"),
        ('from(bucket: "b") |> derivative(nonNegative: true) '
         "|> filter(fn: (r) => r._value > 1)", "ambiguous"),
        # the downsample-then-rate composition ships over SELECTOR fns
        # (round 11b) — a computed aggregate still rejects
        ('from(bucket: "b") |> aggregateWindow(every: 5m, fn: mean) '
         "|> derivative(nonNegative: true)", "selector fns"),
        ('from(bucket: "b") |> increase() |> increase()', "subset"),
    ],
)
def test_transform_stage_rejections(spark, store, bad, msg):
    with pytest.raises(flux.FluxError, match=msg):
        flux.compile_flux(spark, bad, {"b": store})


def test_moving_average_stage_drops_first_points(spark, store):
    """movingAverage(n): trailing row-frame mean, and the first n−1
    points of each series are dropped (Flux emits nothing until a full
    window exists); values match the hand-written row window."""
    from pyspark.sql import Window

    from time_series_data_pipeline_spark.operators.timeseries import _dec

    n = 4
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_measurement"] == "events")'
        ' |> filter(fn: (r) => r["_field"] == "click")'
        f" |> movingAverage(n: {n})",
        {"b": store},
    )
    df = bkt.scan_bucket(spark, store, measurement="events", field="click")
    wo = Window.partitionBy("_measurement", "_field").orderBy("_time", "_value")
    ref = (
        df.select(
            "_measurement",
            "_field",
            "_time",
            "_value",
            (
                F.sum(_dec("_value")).over(wo.rowsBetween(-(n - 1), 0)).cast("double")
                / F.count("_value").over(wo.rowsBetween(-(n - 1), 0)).cast("double")
            ).alias("moving_avg"),
            F.row_number().over(wo).alias("rn"),
        )
        .filter(F.col("rn") >= n)
        .drop("rn")
    )
    total = df.count()
    assert got.count() == total - (n - 1)  # one series: exactly n−1 dropped
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, ref.collect()), key=repr
    )


@pytest.mark.parametrize(
    "bad,msg",
    [
        ('from(bucket: "b") |> movingAverage()', "positive int"),
        ('from(bucket: "b") |> movingAverage(n: 0)', "positive int"),
        ('from(bucket: "b") |> movingAverage(n: 5, column: "x")',
         "unsupported args"),
        ('from(bucket: "b") |> movingAverage(n: 5) |> movingAverage(n: 3)',
         "subset"),
    ],
)
def test_moving_average_rejections(spark, store, bad, msg):
    with pytest.raises(flux.FluxError, match=msg):
        flux.compile_flux(spark, bad, {"b": store})


def test_exponential_time_moving_average(spark, store):
    """exponentialTimeMovingAverage(n:) — round 13, the time-decayed
    EMA: first point emits its own value (no warm-up drop, unlike
    exponentialMovingAverage), each later point is
    w·y_prev + (1−w)·v with the pinned rational decay
    w = n_us/(n_us + Δt_us) (MIGRATION.md divergence: upstream's
    exp(−Δt/n) is not bit-replayable). Values bit-match a driver-side
    Python replay of the exact kernel expression order; |> last() and
    |> aggregateWindow compositions ride the value-series machinery."""
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click") '
        "|> exponentialTimeMovingAverage(n: 5m)",
        {"b": store},
    )
    assert got.columns == ["_measurement", "_field", "_time", "_value"]
    raw = (
        bkt.scan_bucket(spark, store, measurement="events", field="click")
        .filter(F.col("_value").isNotNull())
        .select("_time", "_value")
        .orderBy("_time", "_value")
        .collect()
    )
    n_us = 300 * 1_000_000
    acc, prev_t, want = 0.0, 0, []
    for i, r in enumerate(raw):
        # exact integer µs — timestamp() would round-trip via float
        import calendar

        t_us = (
            calendar.timegm(r["_time"].timetuple()) * 1_000_000
            + r["_time"].microsecond
        )
        if i == 0:
            acc = float(r["_value"])
        else:
            w = n_us / (n_us + (t_us - prev_t))
            acc = w * acc + (1.0 - w) * float(r["_value"])
        want.append((r["_time"], acc))
        prev_t = t_us
    got_rows = [
        (r["_time"], r["_value"])
        for r in got.orderBy("_time", "_value").collect()
    ]
    assert len(got_rows) == len(want) > 0
    # bit-identical: the kernel's expression tree is replayed verbatim
    assert got_rows == want
    # first emitted point IS the first raw value (duration, not count)
    assert got_rows[0][1] == float(raw[0]["_value"])
    # |> last(): the fold's final element
    last = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click") '
        "|> exponentialTimeMovingAverage(n: 5m) |> last()",
        {"b": store},
    ).collect()
    assert len(last) == 1 and last[0]["last_value"] == want[-1][1]
    # |> aggregateWindow(fn: count): windowed aggregate over the
    # rewritten series keeps every point (no warm-up drop)
    agg = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click") '
        "|> exponentialTimeMovingAverage(n: 5m) "
        "|> aggregateWindow(every: 1d, fn: count)",
        {"b": store},
    )
    assert agg.agg(F.sum("count")).collect()[0][0] == len(want)


@pytest.mark.parametrize(
    "bad,msg",
    [
        ('from(bucket: "b") |> exponentialTimeMovingAverage()',
         "requires n:"),
        ('from(bucket: "b") |> exponentialTimeMovingAverage(n: 5)',
         "bad duration"),
        ('from(bucket: "b") |> exponentialTimeMovingAverage(n: 1mo)',
         "bad duration"),
        ('from(bucket: "b") |> exponentialTimeMovingAverage(n: 0s)',
         "must be > 0"),
        ('from(bucket: "b") |> exponentialTimeMovingAverage(n: 5m, '
         'column: "x")', "unsupported args"),
    ],
)
def test_exponential_time_moving_average_rejections(spark, store, bad, msg):
    with pytest.raises(flux.FluxError, match=msg):
        flux.compile_flux(spark, bad, {"b": store})


# -- Data-Explorer tail stages: sort / limit / keep / drop ------------


def test_sort_limit_is_distributed_per_series_top_n(spark, store):
    """Flux sort/limit are PER TABLE (per series): the compiled form is
    a rank filter Spark optimizes to WindowGroupLimit (distributed
    per-key top-N), never a global Sort+Exchange; single-series values
    match the hand-written orderBy().limit()."""
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_measurement"] == "events")'
        ' |> filter(fn: (r) => r["_field"] == "click")'
        ' |> sort(columns: ["_value", "_time"], desc: true) |> limit(n: 7)'
        ' |> keep(columns: ["_time", "_value"])',
        {"b": store},
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "rangepartitioning" not in plan.lower()
    assert got.columns == ["_time", "_value"]
    ref = (
        bkt.scan_bucket(spark, store, measurement="events", field="click")
        .orderBy(F.col("_value").desc(), F.col("_time").desc())
        .limit(7)
        .select("_time", "_value")
    )
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, ref.collect()), key=repr
    )


def test_limit_is_per_series_on_multi_field_frames(spark, store):
    """A multi-series frame limits WITHIN each series (Flux per-table
    semantics): top-2 by value per field, checked field by field."""
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_measurement"] == "events")'
        ' |> sort(columns: ["_value"], desc: true) |> limit(n: 2)',
        {"b": store},
    ).collect()
    by_field: dict[str, list] = {}
    for r in got:
        by_field.setdefault(r["_field"], []).append(r["_value"])
    src = bkt.read_bucket(spark, store)
    fields = [r["_field"] for r in src.select("_field").distinct().collect()]
    assert set(by_field) == set(fields)
    for f in fields:
        top2 = [
            r["_value"]
            for r in src.filter(F.col("_field") == f)
            .orderBy(F.col("_value").desc())
            .limit(2)
            .collect()
        ]
        assert sorted(by_field[f]) == sorted(top2)


def test_tail_applies_after_terminal_stage(spark, store):
    """keep/drop/sort/limit trim the TERMINAL stage's output — the
    gauge panel keeping only field + value."""
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_measurement"] == "events")'
        ' |> last() |> keep(columns: ["_field", "last_value"])',
        {"b": store},
    )
    assert got.columns == ["_field", "last_value"]
    full = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_measurement"] == "events")'
        " |> last()",
        {"b": store},
    )
    assert {tuple(r) for r in got.collect()} == {
        (r["_field"], r["last_value"]) for r in full.collect()
    }
    dropped = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_measurement"] == "events")'
        ' |> last() |> drop(columns: ["last_ts"])',
        {"b": store},
    )
    assert "last_ts" not in dropped.columns


def test_limit_without_sort_keeps_first_rows_per_series(spark, store):
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_measurement"] == "events")'
        " |> limit(n: 3)",
        {"b": store},
    )
    src = bkt.read_bucket(spark, store)
    n_fields = src.select("_field").distinct().count()
    rows = got.collect()
    assert len(rows) == 3 * n_fields  # 3 per table, Flux semantics
    # and they are each series' EARLIEST rows (_time order)
    for f in {r["_field"] for r in rows}:
        got_times = sorted(r["_time"] for r in rows if r["_field"] == f)
        want = [
            r["_time"]
            for r in src.filter(F.col("_field") == f)
            .orderBy("_time", "_value")
            .limit(3)
            .collect()
        ]
        assert got_times == sorted(want)


@pytest.mark.parametrize(
    "bad,msg",
    [
        ('from(bucket: "b") |> sort(columns: ["_value"], desc: true)',
         "without a following limit"),
        ('from(bucket: "b") |> sort(columns: ["_value"]) |> keep(columns: ["_value"])',
         "without a following limit"),
        ('from(bucket: "b") |> limit(n: 0)', "positive int"),
        ('from(bucket: "b") |> limit(n: true)', "positive int"),
        ('from(bucket: "b") |> sort(columns: []) |> limit(n: 1)', "empty"),
        ('from(bucket: "b") |> sort(columns: "_value") |> limit(n: 1)',
         "list"),
        ('from(bucket: "b") |> keep(columns: ["nope"]) |> limit(n: 1)',
         "unknown column"),
        ('from(bucket: "b") |> sort(columns: ["_value"], desc: "yes") '
         "|> limit(n: 1)", "boolean"),
        ('from(bucket: "b") |> limit(n: 3) |> last()', "tail"),
        ('from(bucket: "b") |> keep()', "requires columns"),
        ('from(bucket: "b") |> sort(columns: ["_value"]) '
         '|> drop(columns: ["_value"]) |> limit(n: 1)', "dropped"),
    ],
)
def test_tail_stage_rejections(spark, store, bad, msg):
    with pytest.raises(flux.FluxError, match=msg):
        flux.compile_flux(spark, bad, {"b": store})


def test_pivot_stage_table_view(spark, store):
    """pivot(rowKey:["_time"], columnKey:["_field"], valueColumn:
    "_value") — the Data-Explorer table/CSV view: one row per _time,
    one column per field, MAX tie rule, sorted field columns."""
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_measurement"] == "events")'
        ' |> pivot(rowKey: ["_time"], columnKey: ["_field"], '
        'valueColumn: "_value")',
        {"b": store},
    )
    fields = sorted(
        r["_field"]
        for r in bkt.read_bucket(spark, store).select("_field").distinct().collect()
    )
    assert got.columns == ["_measurement", "_time"] + fields
    ref = (
        bkt.read_bucket(spark, store)
        .groupBy("_measurement", "_time")
        .pivot("_field")
        .agg(F.max("_value"))
    )
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, ref.collect()), key=repr
    )
    # tail stages compose after pivot
    top = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_measurement"] == "events")'
        ' |> pivot(rowKey: ["_time"], columnKey: ["_field"], '
        'valueColumn: "_value")'
        ' |> sort(columns: ["_time"], desc: true) |> limit(n: 5)',
        {"b": store},
    )
    assert top.count() == 5


@pytest.mark.parametrize(
    "bad,msg",
    [
        ('from(bucket: "b") |> pivot(rowKey: ["_field"], '
         'columnKey: ["_field"], valueColumn: "_value")', "Data-Explorer"),
        ('from(bucket: "b") |> pivot(rowKey: ["_time"], '
         'columnKey: ["_field"], valueColumn: "tags")', "Data-Explorer"),
        ('from(bucket: "b") |> pivot()', "list"),
        ('from(bucket: "b") |> pivot(rowKey: ["_time"], columnKey: '
         '["_field"], valueColumn: "_value") |> last()', "subset"),
    ],
)
def test_pivot_rejections(spark, store, bad, msg):
    with pytest.raises(flux.FluxError, match=msg):
        flux.compile_flux(spark, bad, {"b": store})


def test_first_aggregate_bare_and_windowed(spark, store):
    """first(): earliest reading per series (min_by with the (time,
    value) tie-break), bare and as an aggregateWindow fn."""
    from pyspark.sql import Window

    bare = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_measurement"] == "events")'
        " |> first()",
        {"b": store},
    )
    ref = {
        r["_field"]: r["_value"]
        for r in bkt.read_bucket(spark, store)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("_field").orderBy("_time", "_value")
            ),
        )
        .filter("rn = 1")
        .collect()
    }
    assert {r["_field"]: r["first"] for r in bare.collect()} == ref

    windowed = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> aggregateWindow(every: 1h, fn: first)",
        {"b": store},
    )
    wref = (
        bkt.read_bucket(spark, store)
        .filter(F.col("_field") == "click")
        .groupBy(F.window("_time", "1 hour").alias("w"), "_measurement", "_field")
        .agg(
            F.min_by("_value", F.struct("_time", "_value")).alias("first"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "_measurement", "_field", "first", "n",
        )
    )
    assert sorted(map(tuple, windowed.collect()), key=repr) == sorted(
        map(tuple, wref.collect()), key=repr
    )


def test_create_empty_count_zero_fills(spark, store):
    """createEmpty with fn: count — the zero-filled count panel: empty
    buckets appear with count 0, non-empty buckets match the plain
    windowed count."""
    q = (
        'from(bucket: "b") |> range(start: "2024-01-03 00:00:00", '
        'stop: "2024-01-04 00:00:00") '
        '|> filter(fn: (r) => r["_field"] == "purchase") '
        "|> aggregateWindow(every: 5m, fn: count, createEmpty: true)"
    )
    got = flux.compile_flux(spark, q, {"b": store})
    assert got.columns == ["window_start", "_measurement", "_field", "count"]
    rows = {(r["window_start"], r["_field"]): r["count"] for r in got.collect()}
    # contiguous 5m spine across the observed extent (gap_fill's spine
    # spans first..last observation, same contract as the mean form)
    times = sorted(t for t, _ in rows)
    assert len(rows) == (times[-1] - times[0]).total_seconds() // 300 + 1
    assert any(v == 0 for v in rows.values()), "no empty buckets rendered"
    dense = flux.compile_flux(spark, q.replace(", createEmpty: true", ""), {"b": store})
    want = {
        (r["window_start"], r["_field"]): r["count"] for r in dense.collect()
    }
    assert {k: v for k, v in rows.items() if v > 0} == want
    with pytest.raises(flux.FluxError, match="createEmpty"):
        flux.compile_flux(
            spark,
            q.replace("fn: count", "fn: max"),
            {"b": store},
        )


def test_group_by_field_rekeys_tables(spark, store):
    """Grafana's inserted group(columns: ["_field"]) re-keys the tables
    on _field alone: same aggregation VALUES as the natural
    (_measurement, _field) key when the store holds one measurement,
    minus the _measurement output column."""
    base = (
        'from(bucket: "b") |> filter(fn: (r) => r["_measurement"] == "events")'
        "{g} |> aggregateWindow(every: 1h, fn: mean)"
    )
    with_g = flux.compile_flux(
        spark, base.format(g=' |> group(columns: ["_field"])'), {"b": store}
    )
    without = flux.compile_flux(spark, base.format(g=""), {"b": store})
    assert with_g.columns == ["window_start", "_field", "mean", "n"]
    assert without.columns == ["window_start", "_measurement", "_field", "mean", "n"]
    assert sorted(map(tuple, with_g.collect()), key=repr) == sorted(
        map(tuple, without.drop("_measurement").collect()), key=repr
    )
    for bad, msg in (
        ('from(bucket: "b") |> group(columns: ["tags"]) |> mean()',
         "group ships"),
        ('from(bucket: "b") |> group(columns: ["_field"], mode: "keep") '
         "|> mean()", "group ships"),
        ('from(bucket: "b") |> mean() |> group(columns: ["_field"])',
         "subset"),
    ):
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux(spark, bad, {"b": store})


def test_group_merge_compiles_keyless_aggregates(spark, store):
    """group() / group(columns: []) — merge all series into one table
    (VERDICT r7 item 7): a following bare aggregate folds everything to
    ONE row; aggregateWindow keys on the window alone; last() is a
    global max_by aggregation. A per-point window transform over the
    merged table raises (single-partition scale trap)."""
    src = bkt.read_bucket(spark, store)
    one = flux.compile_flux(
        spark, 'from(bucket: "b") |> group() |> mean()', {"b": store}
    )
    assert one.columns == ["mean", "n"]
    row = one.collect()
    want_n = src.count()
    want_mean = src.agg(
        (
            F.sum(F.col("_value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    ).collect()[0]["m"]
    assert len(row) == 1 and row[0]["n"] == want_n
    assert abs(row[0]["mean"] - want_mean) < 1e-9
    # windowed form: one row per window over everything
    win = flux.compile_flux(
        spark,
        'from(bucket: "b") |> group(columns: []) '
        "|> aggregateWindow(every: 1h, fn: count)",
        {"b": store},
    )
    assert win.columns == ["window_start", "count"]
    assert win.count() == win.select("window_start").distinct().count() > 0
    # last(): one latest reading over everything, via aggregation
    last = flux.compile_flux(
        spark, 'from(bucket: "b") |> group() |> last()', {"b": store}
    )
    lrow = last.collect()
    wref = src.orderBy(F.col("_time").desc(), F.col("_value").desc()).limit(1).collect()[0]
    assert len(lrow) == 1
    assert (lrow[0]["last_ts"], lrow[0]["last_value"]) == (
        wref["_time"], wref["_value"]
    )
    plan = last._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # aggregation, not a one-partition window
    with pytest.raises(flux.FluxError, match="one partition"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> group() |> movingAverage(n: 3)',
            {"b": store},
        )
    with pytest.raises(flux.FluxError, match="one partition"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> group() |> derivative(nonNegative: true)',
            {"b": store},
        )


def test_regex_filter_predicates(spark, store):
    """Grafana regex filters: =~ keeps partial matches, !~ negates;
    template variables resolve inside the literal."""
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] =~ /^(cl|vi)/) '
        "|> mean()",
        {"b": store},
    )
    assert {r["_field"] for r in got.collect()} == {"click", "view"}
    neg = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] !~ /^(cl|vi)/) '
        "|> mean()",
        {"b": store},
    )
    fields = {
        r["_field"]
        for r in bkt.read_bucket(spark, store).select("_field").distinct().collect()
    }
    assert {r["_field"] for r in neg.collect()} == fields - {"click", "view"}
    # template resolution inside the regex literal
    tmpl = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] =~ /^${p}/) '
        "|> mean()",
        {"b": store},
        params={"p": "cli"},
    )
    assert {r["_field"] for r in tmpl.collect()} == {"click"}


def test_limit_is_per_measurement_and_field_table(spark, tmp_path):
    """Flux tables key on (_measurement, _field): a frame carrying two
    measurements with the same field limits within EACH (m, f) table,
    not per field globally."""
    rows = []
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    for m in ("m1", "m2"):
        for i in range(6):
            rows.append((t0 + datetime.timedelta(minutes=i), m, "click", float(i)))
    df = spark.createDataFrame(
        rows, "t timestamp, m string, f string, v double"
    ).select(
        F.col("t").alias("_time"),
        F.col("m").alias("_measurement"),
        F.col("f").alias("_field"),
        F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    path = str(tmp_path / "two_meas")
    bkt.write_bucket(df, path, mode="overwrite")
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> sort(columns: ["_value"], desc: true) '
        "|> limit(n: 2)",
        {"b": path},
    ).collect()
    per_table: dict[tuple, list] = {}
    for r in got:
        per_table.setdefault((r["_measurement"], r["_field"]), []).append(
            r["_value"]
        )
    assert set(per_table) == {("m1", "click"), ("m2", "click")}
    for vals in per_table.values():
        assert sorted(vals) == [4.0, 5.0]  # top-2 per (measurement, field)


def test_limit_after_sorted_limit_raises(spark, store):
    with pytest.raises(flux.FluxError, match="sorted limit"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> sort(columns: ["_value"], desc: true) '
            "|> limit(n: 5) |> limit(n: 2)",
            {"b": store},
        )
    # plain limit |> limit (no sort ever) stays legal: both are _time
    # order, so the composition is consistent
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> limit(n: 5) |> limit(n: 2)",
        {"b": store},
    )
    assert got.count() == 2


# -- round-8 series keying (VERDICT r7 item 1) ------------------------


@pytest.fixture(scope="module")
def two_meas(spark, tmp_path_factory):
    """A store holding TWO measurements sharing field names, with
    per-measurement values offset by +1000 so any cross-measurement
    merge is numerically visible in every aggregate."""
    import datetime

    rows = []
    t0 = datetime.datetime(2024, 1, 1)
    for mi, m in enumerate(("m1", "m2")):
        for f in ("click", "view"):
            for i in range(40):
                rows.append(
                    (
                        t0 + datetime.timedelta(minutes=7 * i),
                        m,
                        f,
                        1000.0 * mi + i + (10.0 if f == "view" else 0.0),
                    )
                )
    df = spark.createDataFrame(
        rows, "t timestamp, m string, f string, v double"
    ).select(
        F.col("t").alias("_time"),
        F.col("m").alias("_measurement"),
        F.col("f").alias("_field"),
        F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    path = str(tmp_path_factory.mktemp("fluxtwomeas") / "bucket")
    bkt.write_bucket(df, path, mode="overwrite")
    bkt.refresh_bucket_manifest(spark, path)
    return path


def _per_meas_tables(rows, key_cols=("_measurement", "_field")):
    out: dict[tuple, list] = {}
    for r in rows:
        out.setdefault(tuple(r[c] for c in key_cols), []).append(r)
    return out


def test_two_measurement_aggregates_key_per_measurement(spark, two_meas):
    """Every compiled aggregation keys on the FULL Flux table key
    (_measurement, _field): a pipeline with no _measurement filter over
    a two-measurement store produces per-measurement series, never a
    silent merge (VERDICT r7 item 1 — the r7 compiler's only
    wrong-answer edge)."""
    # windowed mean: m2's values are +1000, so a merged mean would sit
    # between the two measurements' own means
    win = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click") '
        "|> aggregateWindow(every: 1h, fn: mean)",
        {"b": two_meas},
    ).collect()
    per = _per_meas_tables(win)
    assert set(per) == {("m1", "click"), ("m2", "click")}
    for (m, _f), rs in per.items():
        lo, hi = (0, 40) if m == "m1" else (1000, 1040)
        assert all(lo <= r["mean"] <= hi for r in rs)

    # bare aggregates: one row per (measurement, field) table
    for fn, col in (
        ("mean", "mean"), ("max", "max"), ("count", "count"),
        ("spread", "spread"), ("stddev", "stddev"),
    ):
        bare = flux.compile_flux(
            spark, f'from(bucket: "b") |> {fn}()', {"b": two_meas}
        ).collect()
        assert {(r["_measurement"], r["_field"]) for r in bare} == {
            (m, f) for m in ("m1", "m2") for f in ("click", "view")
        }, fn
    mx = {
        (r["_measurement"], r["_field"]): r["max"]
        for r in flux.compile_flux(
            spark, 'from(bucket: "b") |> max()', {"b": two_meas}
        ).collect()
    }
    assert mx[("m1", "click")] == 39.0 and mx[("m2", "click")] == 1039.0
    # quantile keys per measurement: m2's 0.5-selector sits 1000 above
    # m1's — a merged table would answer m2's range for both
    qv = {
        (r["_measurement"], r["_field"]): r["quantile"]
        for r in flux.compile_flux(
            spark,
            'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
            " |> quantile(q: 0.5)",
            {"b": two_meas},
        ).collect()
    }
    assert qv[("m1", "click")] == 19.0 and qv[("m2", "click")] == 1019.0

    # last() / first(): latest & earliest per (measurement, field)
    last = flux.compile_flux(
        spark, 'from(bucket: "b") |> last()', {"b": two_meas}
    ).collect()
    assert {(r["_measurement"], r["_field"]): r["last_value"] for r in last} == {
        ("m1", "click"): 39.0, ("m1", "view"): 49.0,
        ("m2", "click"): 1039.0, ("m2", "view"): 1049.0,
    }
    first = flux.compile_flux(
        spark, 'from(bucket: "b") |> first()', {"b": two_meas}
    ).collect()
    assert {(r["_measurement"], r["_field"]): r["first"] for r in first} == {
        ("m1", "click"): 0.0, ("m1", "view"): 10.0,
        ("m2", "click"): 1000.0, ("m2", "view"): 1010.0,
    }

    # createEmpty gap fill: spine per (measurement, field)
    filled = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click") '
        "|> aggregateWindow(every: 5m, fn: count, createEmpty: true)",
        {"b": two_meas},
    ).collect()
    fper = _per_meas_tables(filled)
    assert set(fper) == {("m1", "click"), ("m2", "click")}
    for rs in fper.values():
        assert any(r["count"] == 0 for r in rs)  # 7-min cadence → gaps


def test_two_measurement_transforms_key_per_measurement(spark, two_meas):
    """The per-point transforms partition on the full table key: the
    first-row boundary, window frames and run-ids never cross
    measurements."""
    # derivative: 4 tables → 4 dropped first rows; rates within a
    # measurement reflect its own +1 step (never the +1000 jump a
    # merged series would see at the boundary)
    der = flux.compile_flux(
        spark,
        'from(bucket: "b") |> derivative(unit: 1s, nonNegative: true)',
        {"b": two_meas},
    ).collect()
    assert len(der) == 160 - 4
    assert all(r["derivative"] < 1.0 for r in der)  # +1 per 7 min

    # movingAverage: per-table frames; each table drops n−1 rows
    ma = flux.compile_flux(
        spark,
        'from(bucket: "b") |> movingAverage(n: 5)',
        {"b": two_meas},
    ).collect()
    assert len(ma) == 160 - 4 * 4
    for (m, _f), rs in _per_meas_tables(ma).items():
        lo, hi = (0, 50) if m == "m1" else (1000, 1050)
        assert all(lo <= r["moving_avg"] <= hi for r in rs)

    # timedMovingAverage: RANGE frame per table
    tma = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "view") '
        "|> timedMovingAverage(period: 30m)",
        {"b": two_meas},
    ).collect()
    for (m, _f), rs in _per_meas_tables(tma).items():
        lo, hi = (10, 50) if m == "m1" else (1010, 1050)
        assert all(lo <= r["trailing_mean"] <= hi for r in rs)

    # increase: cumulative per table — totals are each table's own sum
    # of +1 steps (39), never polluted by the cross-measurement +1000
    inc = flux.compile_flux(
        spark,
        'from(bucket: "b") |> increase() |> last()',
        {"b": two_meas},
    ).collect()
    assert {(r["_measurement"], r["_field"]): r["last_value"] for r in inc} == {
        (m, f): 39.0 for m in ("m1", "m2") for f in ("click", "view")
    }

    # stateDuration: predicate true only for m2 (values ≥ 1000); run
    # boundaries must not leak across measurements
    sd = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click") '
        "|> stateDuration(fn: (r) => r._value >= 1000.0)",
        {"b": two_meas},
    ).collect()
    sper = _per_meas_tables(sd)
    assert all(r["stateDuration"] == -1 for r in sper[("m1", "click")])
    m2 = sorted(sper[("m2", "click")], key=lambda r: r["_time"])
    assert m2[0]["stateDuration"] == 0  # run starts at m2's own first row
    assert m2[-1]["stateDuration"] == 39 * 7 * 60

    # pivot: residual key keeps _measurement — one row per (m, time)
    piv = flux.compile_flux(
        spark,
        'from(bucket: "b") |> pivot(rowKey: ["_time"], columnKey: '
        '["_field"], valueColumn: "_value")',
        {"b": two_meas},
    )
    assert piv.columns == ["_measurement", "_time", "click", "view"]
    assert piv.count() == 80  # 40 times × 2 measurements, never merged


# -- round-8 tail stages: fill / rename -------------------------------


def test_fill_use_previous_carries_last_observation(spark, store):
    """aggregateWindow(createEmpty) |> fill(usePrevious: true): empty
    buckets carry the previous observed value per table; leading
    empties (no previous) stay NULL."""
    base_q = (
        'from(bucket: "b") |> range(start: "2024-01-03 00:00:00", '
        'stop: "2024-01-04 00:00:00") '
        '|> filter(fn: (r) => r["_field"] == "purchase") '
        "|> aggregateWindow(every: 5m, fn: mean, createEmpty: true)"
    )
    raw = flux.compile_flux(spark, base_q, {"b": store}).collect()
    got = flux.compile_flux(
        spark,
        base_q + ' |> fill(column: "mean", usePrevious: true)',
        {"b": store},
    ).collect()
    assert len(got) == len(raw) > 0
    raw_by = {
        r["window_start"]: r["mean"]
        for r in sorted(raw, key=lambda r: r["window_start"])
    }
    prev = None
    want = {}
    for t in sorted(raw_by):
        if raw_by[t] is not None:
            prev = raw_by[t]
        want[t] = prev
    assert {r["window_start"]: r["mean"] for r in got} == want
    assert any(v is None for v in raw_by.values())  # fixture had gaps


def test_fill_value_mode_is_coalesce(spark, store):
    q = (
        'from(bucket: "b") |> range(start: "2024-01-03 00:00:00", '
        'stop: "2024-01-04 00:00:00") '
        '|> filter(fn: (r) => r["_field"] == "purchase") '
        "|> aggregateWindow(every: 5m, fn: mean, createEmpty: true)"
        ' |> fill(column: "mean", value: -1.0)'
    )
    rows = flux.compile_flux(spark, q, {"b": store}).collect()
    assert all(r["mean"] is not None for r in rows)
    assert any(r["mean"] == -1.0 and r["n"] == 0 for r in rows)


def test_rename_stage(spark, store):
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_measurement"] == "events")'
        ' |> last() |> rename(columns: {last_value: "gauge", last_ts: "at"})',
        {"b": store},
    )
    assert got.columns == ["_measurement", "_field", "at", "gauge"]


@pytest.mark.parametrize(
    "bad,msg",
    [
        ('from(bucket: "b") |> fill(column: "_value")', "exactly one"),
        ('from(bucket: "b") |> fill(column: "_value", value: 0, '
         "usePrevious: true)", "exactly one"),
        ('from(bucket: "b") |> fill(column: "nope", value: 0) |> limit(n: 1)',
         "unknown column"),
        ('from(bucket: "b") |> fill(column: "_value", usePrevious: "yes")',
         "boolean"),
        ('from(bucket: "b") |> fill(column: "_value", value: 0, foo: 1)',
         "unsupported args"),
        ('from(bucket: "b") |> last() '
         '|> fill(column: "last_value", usePrevious: true)', "table order"),
        ('from(bucket: "b") |> rename()', "requires columns"),
        ('from(bucket: "b") |> rename(columns: ["_value"])', "record"),
        ('from(bucket: "b") |> rename(columns: {nope: "x"})',
         "unknown column"),
        ('from(bucket: "b") |> rename(columns: {_value: "_time"})',
         "already exist"),
        ('from(bucket: "b") |> rename(columns: {_value: "x", _field: "x"})',
         "collide"),
        ('from(bucket: "b") |> fill(column: "_value", value: 0) '
         "|> mean()", "tail"),
    ],
)
def test_fill_rename_rejections(spark, store, bad, msg):
    with pytest.raises(flux.FluxError, match=msg):
        flux.compile_flux(spark, bad, {"b": store})


# -- round-8 map() stage ----------------------------------------------


def test_map_rewrites_value_in_stage_order(spark, store):
    """map(fn: (r) => ({ r with _value: <arith> })) rewrites _value
    in-plan; a later _value filter sees CONVERTED units, and arithmetic
    precedence matches the hand-written expression."""
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> map(fn: (r) => ({ r with _value: (r._value * 4.0 + 100.0) / 2.0 }))"
        ' |> filter(fn: (r) => r["_value"] > 120.0)'
        " |> mean()",
        {"b": store},
    ).collect()
    src = bkt.scan_bucket(spark, store, field="click")
    conv = src.withColumn(
        "_value", (F.col("_value").cast("double") * 4.0 + 100.0) / 2.0
    ).filter(F.col("_value") > 120.0)
    want_n = conv.count()
    want_mean = conv.agg(
        (
            F.sum(F.col("_value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    ).collect()[0]["m"]
    assert len(got) == 1 and got[0]["n"] == want_n > 0
    assert abs(got[0]["mean"] - want_mean) < 1e-9
    # stage order matters: filter BEFORE map keeps different rows
    flipped = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        ' |> filter(fn: (r) => r["_value"] > 120.0)'
        " |> map(fn: (r) => ({ r with _value: (r._value * 4.0 + 100.0) / 2.0 }))"
        " |> mean()",
        {"b": store},
    ).collect()
    assert flipped == [] or flipped[0]["n"] != got[0]["n"]


def test_map_variables_and_no_udf_in_plan(spark, store):
    df = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "view")'
        " |> map(fn: (r) => ({ r with _value: r._value * v.scale - -1.5 }))"
        " |> last()",
        {"b": store},
        params={"scale": 0.001},
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    ref = (
        bkt.scan_bucket(spark, store, field="view")
        .withColumn("_value", F.col("_value").cast("double") * 0.001 - (-1.5))
    )
    from pyspark.sql import Window

    wref = (
        ref.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("_measurement", "_field").orderBy(
                    F.col("_time").desc(), F.col("_value").desc()
                )
            ),
        )
        .filter("rn = 1")
        .collect()
    )
    got = df.collect()
    assert {(r["_measurement"], r["_field"], r["last_value"]) for r in got} == {
        (r["_measurement"], r["_field"], r["_value"]) for r in wref
    }


@pytest.mark.parametrize(
    "bad,msg",
    [
        ('from(bucket: "b") |> map(fn: (r) => ({ r with _time: r._time }))',
         "_value rewrite"),
        ('from(bucket: "b") |> map(fn: (r) => r._value * 2.0)',
         "r with"),
        ('from(bucket: "b") |> map()', "requires fn"),
        ('from(bucket: "b") |> map(fn: (r) => ({ r with _value: '
         'r._value ** 2.0 }))', "map expression"),
        ('from(bucket: "b") |> map(fn: (r) => ({ r with _value: '
         'r._value + v.missing }))', "not in params"),
        # round 12d: mean() |> map() COMPILES now (the post-aggregate
        # rewrite) — the rejection moved to unknown references and
        # ambiguous frames (test_postmap_after_aggregate_batch)
        ('from(bucket: "b") |> map(fn: (r) => ({ r with _value: '
         '(r._value + 1.0 }))', "map expression"),
    ],
)
def test_map_rejections(spark, store, bad, msg):
    with pytest.raises(flux.FluxError, match=msg):
        flux.compile_flux(spark, bad, {"b": store})


# -- round-8 difference() / cumulativeSum() ----------------------------


def test_difference_signed_and_nonnegative(spark, store):
    """difference(): signed per-table lag delta, first row dropped;
    nonNegative: true applies the counter reset rule (delta = current
    value on decrease)."""
    from pyspark.sql import Window

    from time_series_data_pipeline_spark.operators.timeseries import _dec

    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> difference()",
        {"b": store},
    )
    assert got.columns == ["_measurement", "_field", "_time", "_value"]
    df = bkt.scan_bucket(spark, store, field="click")
    w = Window.partitionBy("_measurement", "_field").orderBy("_time", "_value")
    y = _dec("_value")
    ref = (
        df.select(
            "_measurement", "_field", "_time",
            (y - F.lag(y).over(w)).cast("double").alias("_value"),
        )
        .filter(F.col("_value").isNotNull())
    )
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, ref.collect()), key=repr
    )
    assert got.count() == df.count() - 1  # one series: first row dropped
    # signed form really goes negative somewhere in the fixture
    assert any(r["_value"] < 0 for r in got.collect())
    # nonNegative: true never goes negative
    nn = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> difference(nonNegative: true)",
        {"b": store},
    )
    assert all(r["_value"] >= 0 for r in nn.collect())
    # keepFirst: true preserves the row count with a NULL first delta;
    # initialZero: true writes 0 there (round 12d); initialZero without
    # keepFirst raises (the zero would never land)
    kf = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> difference(keepFirst: true)",
        {"b": store},
    ).collect()
    assert len(kf) == df.count()
    first_t = min(r["_time"] for r in kf)
    assert [r["_value"] for r in kf if r["_time"] == first_t] == [None]
    kfz = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> difference(nonNegative: true, keepFirst: true,"
        " initialZero: true)",
        {"b": store},
    ).collect()
    assert len(kfz) == df.count()
    assert [r["_value"] for r in kfz if r["_time"] == first_t] == [0.0]
    assert all(r["_value"] is not None and r["_value"] >= 0 for r in kfz)
    with pytest.raises(flux.FluxError, match="keepFirst"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> difference(initialZero: true)',
            {"b": store},
        )


def test_cumulative_sum_and_last_reduction(spark, store):
    """cumulativeSum(): per-table running sum keeping every row; its
    last() reduction equals the series' total sum."""
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "purchase")'
        " |> cumulativeSum()",
        {"b": store},
    )
    df = bkt.scan_bucket(spark, store, field="purchase")
    n = df.count()
    assert got.count() == n  # every row kept
    total = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "purchase")'
        " |> cumulativeSum() |> last()",
        {"b": store},
    ).collect()
    want = df.agg(
        F.sum(F.col("_value").cast("decimal(18,2)")).cast("double").alias("t")
    ).collect()[0]["t"]
    assert len(total) == 1
    assert abs(total[0]["last_value"] - want) < 1e-9


def test_difference_keys_per_measurement(spark, two_meas):
    """difference never differences across measurements: 4 tables →
    4 dropped first rows, and no delta reflects the ±1000 boundary."""
    got = flux.compile_flux(
        spark, 'from(bucket: "b") |> difference()', {"b": two_meas}
    ).collect()
    assert len(got) == 160 - 4
    assert all(abs(r["_value"]) <= 50 for r in got)


@pytest.mark.parametrize(
    "bad,msg",
    [
        ('from(bucket: "b") |> difference(columns: ["_value"])',
         "unsupported args"),
        ('from(bucket: "b") |> difference(nonNegative: 1)', "boolean"),
        ('from(bucket: "b") |> cumulativeSum(columns: ["x"])',
         "cumulativeSum ships only"),
        ('from(bucket: "b") |> cumulativeSum() |> difference()', "subset"),
        ('from(bucket: "b") |> group() |> difference()', "one partition"),
        ('from(bucket: "b") |> difference() |> last() |> last()', "tail|subset"),
    ],
)
def test_difference_cumsum_rejections(spark, store, two_meas, bad, msg):
    with pytest.raises(flux.FluxError, match=msg):
        flux.compile_flux(spark, bad, {"b": store})


# -- round-8 schema (variable) queries ---------------------------------


def test_schema_variable_queries(spark, store):
    """Grafana variable queries — the reference's ${Resistances}
    dropdown definition — compile to distinct key frames with the
    _value column Grafana reads options from."""
    fields = flux.compile_flux(
        spark,
        'import "influxdata/influxdb/schema"\n\n'
        'schema.fieldKeys(bucket: "b")',
        {"b": store},
    )
    assert fields.columns == ["_value"]
    src = bkt.read_bucket(spark, store)
    want = {r["_field"] for r in src.select("_field").distinct().collect()}
    assert {r["_value"] for r in fields.collect()} == want

    meas = flux.compile_flux(
        spark, 'schema.measurements(bucket: "b")', {"b": store}
    )
    assert [r["_value"] for r in meas.collect()] == ["events"]
    # the measurement scan reads NO data columns (partition dir only)
    plan = meas._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<>" in plan

    tags = flux.compile_flux(
        spark, 'schema.tagKeys(bucket: "b")', {"b": store}
    )
    assert tags.collect() == []  # this store writes zero tags

    # yield tail tolerated; anything else raises
    ok = flux.compile_flux(
        spark,
        'schema.fieldKeys(bucket: "b") |> yield(name: "fields")',
        {"b": store},
    )
    assert ok.count() == len(want)
    vals = flux.compile_flux(
        spark, 'schema.tagValues(bucket: "b", tag: "host")', {"b": store}
    )
    assert vals.collect() == []  # zero tags -> zero values, not an error
    for bad, msg in (
        ('schema.fieldKeys(bucket: "b") |> limit(n: 1)', "no pipeline"),
        ('schema.fieldKeys()', "requires bucket"),
        ('schema.fieldKeys(bucket: "nope")', "unknown bucket"),
        ('schema.tagValues(bucket: "b")', "requires tag"),
        ('schema.buckets()', "unsupported schema"),
        ('schema.fieldKeys(bucket: "b", start: -7d)', "now= anchor"),
        ('schema.fieldKeys(bucket: "b", foo: 1)', "unsupported args"),
    ):
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux(spark, bad, {"b": store})


def test_fill_previous_keys_per_measurement(spark, two_meas):
    """fill(usePrevious) never carries a value across measurements:
    each (measurement, field) table fills from its OWN previous
    bucket."""
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click") '
        "|> aggregateWindow(every: 5m, fn: mean, createEmpty: true) "
        '|> fill(column: "mean", usePrevious: true)',
        {"b": two_meas},
    ).collect()
    per = _per_meas_tables(got)
    assert set(per) == {("m1", "click"), ("m2", "click")}
    for (m, _f), rs in per.items():
        lo, hi = (0, 40) if m == "m1" else (1000, 1040)
        filled = [r["mean"] for r in rs if r["mean"] is not None]
        assert filled and all(lo <= v <= hi for v in filled)


def test_quantile_upstream_rounding_convention(spark, tmp_path):
    """ADVICE r9 (medium): upstream Flux's exact_selector picks the
    sorted index round(q*n) - 1 (half away from zero, clamped at 0),
    NOT percentile_disc's ceil(q*n) rank. n=5, q=0.25 -> q*n = 1.25 ->
    upstream returns the 1st smallest; the ceil convention would
    return the 2nd. This pins the upstream-expected value."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (t0 + datetime.timedelta(minutes=i), "events", "click", v)
        for i, v in enumerate([50.0, 10.0, 40.0, 20.0, 30.0])
    ]
    df = spark.createDataFrame(
        rows, "t timestamp, m string, f string, v double"
    ).select(
        F.col("t").alias("_time"),
        F.col("m").alias("_measurement"),
        F.col("f").alias("_field"),
        F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    path = str(tmp_path / "q5")
    bkt.write_bucket(df, path, mode="overwrite")
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> quantile(q: 0.25)', {"b": path}
    ).collect()
    assert len(out) == 1
    assert out[0]["quantile"] == 10.0  # 1st smallest, NOT 20.0 (ceil)
    assert out[0]["n"] == 5
    # and the half-point rounds AWAY from zero: q=0.5 -> round(2.5)=3
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> quantile(q: 0.5)', {"b": path}
    ).collect()
    assert out[0]["quantile"] == 30.0  # 3rd smallest
    # q small enough that round(q*n) == 0 clamps to rank 1
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> quantile(q: 0.05)', {"b": path}
    ).collect()
    assert out[0]["quantile"] == 10.0


def test_timeshift_row_level_shifts_before_window(spark, store):
    """timeShift BEFORE aggregateWindow: Flux shifts _time first, so
    window bucketing runs on shifted timestamps — every window_start
    moves by exactly the duration and the aggregates are unchanged."""
    base = flux.compile_flux(
        spark,
        'from(bucket: "b")'
        ' |> range(start: "2024-01-03 00:00:00", stop: "2024-01-06 00:00:00")'
        ' |> filter(fn: (r) => r["_field"] == "click")'
        " |> aggregateWindow(every: 1h, fn: mean)",
        {"b": store},
    ).collect()
    shifted = flux.compile_flux(
        spark,
        'from(bucket: "b")'
        ' |> range(start: "2024-01-03 00:00:00", stop: "2024-01-06 00:00:00")'
        ' |> filter(fn: (r) => r["_field"] == "click")'
        " |> timeShift(duration: -7d)"
        " |> aggregateWindow(every: 1h, fn: mean)",
        {"b": store},
    ).collect()
    import datetime

    week = datetime.timedelta(days=7)
    a = {r["window_start"]: (round(r["mean"], 9), r["n"]) for r in base}
    b = {r["window_start"] + week: (round(r["mean"], 9), r["n"]) for r in shifted}
    assert a == b and len(a) > 0


def test_timeshift_tail_shifts_output_frame(spark, store):
    """timeShift AFTER the terminal stage: a tail op shifting the
    aggregated frame's window_start (the Grafana overlay form)."""
    base = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> aggregateWindow(every: 1h, fn: count)",
        {"b": store},
    ).collect()
    shifted = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> aggregateWindow(every: 1h, fn: count)"
        ' |> timeShift(duration: 6h, columns: ["_time"])',
        {"b": store},
    ).collect()
    import datetime

    six = datetime.timedelta(hours=6)
    a = {r["window_start"] + six: r["count"] for r in base}
    b = {r["window_start"]: r["count"] for r in shifted}
    assert a == b and len(a) > 0
    # raw-frame tail form shifts _time
    raw = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> sort(columns: [\"_value\"], desc: true) |> limit(n: 3)"
        " |> timeShift(duration: 1h)",
        {"b": store},
    )
    assert "_time" in raw.columns and raw.count() > 0


@pytest.mark.parametrize(
    "bad, msg",
    [
        (
            'from(bucket: "b") |> timeShift(duration: -7d) '
            '|> range(start: "2024-01-03 00:00:00")',
            "range.*after a time-rewriting stage",
        ),
        ('from(bucket: "b") |> timeShift()', "requires duration"),
        (
            'from(bucket: "b") |> timeShift(duration: -7d, columns: ["_field"])',
            "timeShift ships",
        ),
        (
            'from(bucket: "b") |> timeShift(duration: -7d, foo: 1)',
            "unsupported args",
        ),
        ('from(bucket: "b") |> elapsed(unit: 0s)', "must be > 0"),
        ('from(bucket: "b") |> elapsed(columns: ["x"])', "unsupported args"),
        (
            'from(bucket: "b") |> group() |> elapsed()',
            "one partition",
        ),
    ],
)
def test_timeshift_elapsed_rejections(spark, store, bad, msg):
    with pytest.raises(flux.FluxError, match=msg):
        flux.compile_flux(spark, bad, {"b": store})


def test_elapsed_gaps_per_table(spark, tmp_path):
    """elapsed(): whole-unit gap between subsequent records per table,
    truncated toward zero; the per-table first row is dropped."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    # click: gaps 90s, 45s; view: gap 30s
    for f, offs in (("click", [0, 90, 135]), ("view", [0, 30])):
        for i, s in enumerate(offs):
            rows.append(
                (t0 + datetime.timedelta(seconds=s), "events", f, float(i))
            )
    df = spark.createDataFrame(
        rows, "t timestamp, m string, f string, v double"
    ).select(
        F.col("t").alias("_time"),
        F.col("m").alias("_measurement"),
        F.col("f").alias("_field"),
        F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    path = str(tmp_path / "elapsed")
    bkt.write_bucket(df, path, mode="overwrite")
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> elapsed()', {"b": path}
    )
    assert out.columns == ["_measurement", "_field", "_time", "_value", "elapsed"]
    got = {
        (r["_field"], r["_value"]): r["elapsed"] for r in out.collect()
    }
    # first row of each table dropped: 3+2 rows in -> 2+1 out
    assert got == {("click", 1.0): 90, ("click", 2.0): 45, ("view", 1.0): 30}
    # unit: 1m truncates toward zero (90s -> 1, 45s -> 0, 30s -> 0)
    got_m = {
        (r["_field"], r["_value"]): r["elapsed"]
        for r in flux.compile_flux(
            spark, 'from(bucket: "b") |> elapsed(unit: 1m)', {"b": path}
        ).collect()
    }
    assert got_m == {("click", 1.0): 1, ("click", 2.0): 0, ("view", 1.0): 0}


def test_aggregate_null_policy_is_uniform(spark, tmp_path):
    """ADVICE r9 (low): null _value rows are excluded BEFORE the
    aggregate groupBy, so `n` counts exactly the rows the aggregate
    saw — and last() skips null values like upstream selectors."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (t0 + datetime.timedelta(minutes=i), "events", "click", v)
        for i, v in enumerate([10.0, None, 30.0, None, 50.0])
    ]
    df = spark.createDataFrame(
        rows, "t timestamp, m string, f string, v double"
    ).select(
        F.col("t").alias("_time"),
        F.col("m").alias("_measurement"),
        F.col("f").alias("_field"),
        F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    path = str(tmp_path / "nulls")
    bkt.write_bucket(df, path, mode="overwrite")
    r = flux.compile_flux(
        spark, 'from(bucket: "b") |> mean()', {"b": path}
    ).collect()[0]
    assert r["n"] == 3 and r["mean"] == 30.0
    r = flux.compile_flux(
        spark, 'from(bucket: "b") |> count()', {"b": path}
    ).collect()[0]
    assert r["count"] == 3
    r = flux.compile_flux(
        spark, 'from(bucket: "b") |> stddev()', {"b": path}
    ).collect()[0]
    assert r["n"] == 3 and abs(r["stddev"] - 20.0) < 1e-9
    # last(): the latest NON-NULL value (t=4 is null-free here; make
    # the last row null to prove the skip)
    rows2 = rows + [(t0 + datetime.timedelta(minutes=9), "events", "click", None)]
    df2 = spark.createDataFrame(
        rows2, "t timestamp, m string, f string, v double"
    ).select(
        F.col("t").alias("_time"),
        F.col("m").alias("_measurement"),
        F.col("f").alias("_field"),
        F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    path2 = str(tmp_path / "nulls2")
    bkt.write_bucket(df2, path2, mode="overwrite")
    r = flux.compile_flux(
        spark, 'from(bucket: "b") |> last()', {"b": path2}
    ).collect()[0]
    assert r["last_value"] == 50.0


MULTI_OVERLAY = """
a = from(bucket: "b")
  |> range(start: "2024-01-08 00:00:00", stop: "2024-01-15 00:00:00")
  |> filter(fn: (r) => r["_field"] == "click")
  |> aggregateWindow(every: 1d, fn: mean)
b = from(bucket: "b")
  |> range(start: "2024-01-01 00:00:00", stop: "2024-01-08 00:00:00")
  |> filter(fn: (r) => r["_field"] == "click")
  |> timeShift(duration: 7d)
  |> aggregateWindow(every: 1d, fn: mean)
join(tables: {a: a, b: b}, on: ["window_start", "_measurement", "_field"])
  |> map(fn: (r) => ({ r with _value: r.mean_a - r.mean_b }))
  |> yield(name: "wow_delta")
"""


def test_multi_pipeline_join_week_over_week(spark, store):
    """The Grafana period-comparison overlay as users write it: two
    named pipelines (this week; last week shifted forward), joined on
    the window key, delta via map — values must equal the two
    single-pipeline queries joined by hand."""
    out = flux.compile_flux(spark, MULTI_OVERLAY, {"b": store})
    cur = {
        (r["window_start"], r["_field"]): r["mean"]
        for r in flux.compile_flux(
            spark,
            'from(bucket: "b")'
            ' |> range(start: "2024-01-08 00:00:00", stop: "2024-01-15 00:00:00")'
            ' |> filter(fn: (r) => r["_field"] == "click")'
            " |> aggregateWindow(every: 1d, fn: mean)",
            {"b": store},
        ).collect()
    }
    import datetime

    prev = {
        (r["window_start"] + datetime.timedelta(days=7), r["_field"]): r["mean"]
        for r in flux.compile_flux(
            spark,
            'from(bucket: "b")'
            ' |> range(start: "2024-01-01 00:00:00", stop: "2024-01-08 00:00:00")'
            ' |> filter(fn: (r) => r["_field"] == "click")'
            " |> aggregateWindow(every: 1d, fn: mean)",
            {"b": store},
        ).collect()
    }
    want = {
        k: round(cur[k] - prev[k], 9) for k in cur.keys() & prev.keys()
    }
    got = {
        (r["window_start"], r["_field"]): round(r["wow_delta"], 9)
        for r in out.collect()
    }
    assert got == want and len(got) > 0
    # conflicting non-key columns carry the upstream _<label> suffixes
    assert {"mean_a", "mean_b", "n_a", "n_b"} <= set(out.columns)


def test_multi_pipeline_union(spark, store):
    """union(tables: [a, b]): bag concat of identical frames — two
    single-field window counts union to the two-field query."""
    got = flux.compile_flux(
        spark,
        """
        a = from(bucket: "b")
          |> filter(fn: (r) => r["_field"] == "click")
          |> aggregateWindow(every: 1d, fn: count)
        b = from(bucket: "b")
          |> filter(fn: (r) => r["_field"] == "error")
          |> aggregateWindow(every: 1d, fn: count)
        union(tables: [a, b])
        """,
        {"b": store},
    )
    both = flux.compile_flux(
        spark,
        'from(bucket: "b")'
        ' |> filter(fn: (r) => r["_field"] == "click" or r["_field"] == "error")'
        " |> aggregateWindow(every: 1d, fn: count)",
        {"b": store},
    )
    key = lambda r: (r["window_start"], r["_field"], r["count"])  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, both.collect()))
    assert got.count() > 0


@pytest.mark.parametrize(
    "bad, msg",
    [
        (
            'a = from(bucket: "b") |> last()\n'
            'join(tables: {a: a, b: nope}, on: ["_field"])',
            "unknown pipeline",
        ),
        # left/right/full ship since round 11b — only an unknown
        # method rejects
        (
            'a = from(bucket: "b") |> last()\n'
            'b = from(bucket: "b") |> last()\n'
            'join(tables: {a: a, b: b}, on: ["_field"], method: "cross")',
            "inner",
        ),
        (
            'a = from(bucket: "b") |> last()\n'
            'b = from(bucket: "b") |> last()\n'
            'join(tables: {x: a, x: b}, on: ["_field"])',
            "collide",
        ),
        (
            'a = from(bucket: "b") |> last()\n'
            'b = from(bucket: "b") |> last()\n'
            'join(tables: {a: a, b: b}, on: ["no_such"])',
            "missing from table",
        ),
        (
            'a = from(bucket: "b") |> last()\n'
            'b = from(bucket: "b") |> count()\n'
            "union(tables: [a, b])",
            "identical frames",
        ),
        (
            'a = from(bucket: "b") |> last()',
            "dangling assignment",
        ),
        (
            'a = from(bucket: "b") |> last()\n'
            'b = from(bucket: "b") |> last()\n'
            'join(tables: {a: a, b: b}, on: ["_field"])\n'
            '  |> sort(columns: ["_field"])',
            "outside the shipped",
        ),
        (
            'a = from(bucket: "b") |> last()\n'
            'b = from(bucket: "b") |> last()\n'
            'join(tables: {a: a, b: b}, on: ["_field"])\n'
            "  |> map(fn: (r) => ({ r with _value: r.bogus + 1 }))",
            "unknown column",
        ),
        (
            # a named combiner is legal since round 12 — but a script
            # of assignments alone still yields nothing
            'a = from(bucket: "b") |> last()\n'
            "a2 = union(tables: [a, a])",
            "dangling assignment",
        ),
        (
            # an assignment must bind a from() pipeline or a combiner
            'a = range(start: -1d)\n'
            'from(bucket: "b") |> last()',
            "must bind a from",
        ),
        (
            # nested combiners evaluate top-down: no forward references
            'a = from(bucket: "b") |> last()\n'
            "u = union(tables: [a, c])\n"
            'c = from(bucket: "b") |> last()\n'
            'join(tables: {u: u, c: c}, on: ["_field"])',
            "unknown pipeline",
        ),
        (
            'from(bucket: "b") |> last()\n'
            'from(bucket: "b") |> count()',
            "ONE result expression",
        ),
    ],
)
def test_multi_pipeline_rejections(spark, store, bad, msg):
    with pytest.raises(flux.FluxError, match=msg):
        flux.compile_flux(spark, bad, {"b": store})


def test_top_bottom_per_series(spark, store):
    """top(n:)/bottom(n:) — per-table extrema, compiled onto the
    sort|>limit rank machinery (desc resp. asc by _value with the
    (_time, _value) tiebreak)."""
    got = flux.compile_flux(
        spark, 'from(bucket: "b") |> top(n: 2)', {"b": store}
    ).collect()
    raw = bkt.scan_bucket(spark, store, measurement="events").collect()
    by_field: dict[str, list] = {}
    for r in raw:
        by_field.setdefault(r["_field"], []).append((r["_value"], r["_time"]))
    per = {}
    for r in got:
        per.setdefault(r["_field"], []).append((r["_value"], r["_time"]))
    assert set(per) == set(by_field)
    for f, vals in by_field.items():
        want = sorted(vals, key=lambda t: (-t[0], t[1]))[:2]
        assert sorted(per[f]) == sorted(want), f
    # bottom: ascending
    got_b = flux.compile_flux(
        spark,
        'from(bucket: "b") |> bottom(n: 2) |> yield(name: "lows")',
        {"b": store},
    ).collect()
    per_b = {}
    for r in got_b:
        per_b.setdefault(r["_field"], []).append((r["_value"], r["_time"]))
    for f, vals in by_field.items():
        want = sorted(vals, key=lambda t: (t[0], t[1]))[:2]
        assert sorted(per_b[f]) == sorted(want), f
    # equivalence with the explicit sort |> limit spelling
    explicit = flux.compile_flux(
        spark,
        'from(bucket: "b") |> sort(columns: ["_value"], desc: true)'
        " |> limit(n: 2)",
        {"b": store},
    ).collect()
    key = lambda r: (r["_field"], r["_value"], r["_time"])  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, explicit))


@pytest.mark.parametrize(
    "bad, msg",
    [
        ('from(bucket: "b") |> top()', "positive int"),
        ('from(bucket: "b") |> top(n: 0)', "positive int"),
        ('from(bucket: "b") |> bottom(n: 2, foo: 1)', "unsupported args"),
        ('from(bucket: "b") |> top(n: 2, columns: [])', "columns list is empty"),
        (
            'from(bucket: "b") |> top(n: 2) |> mean()',
            "after a sort/limit",
        ),
    ],
)
def test_top_bottom_rejections(spark, store, bad, msg):
    with pytest.raises(flux.FluxError, match=msg):
        flux.compile_flux(spark, bad, {"b": store})


def test_duplicate_and_set_tail_stages(spark, store):
    """duplicate(column:, as:) copies a column (overwriting an existing
    target like upstream); set(key:, value:) assigns a string constant
    — both in-plan column ops."""
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> last()'
        ' |> duplicate(column: "_field", as: "series")'
        ' |> set(key: "source", value: "grafana")',
        {"b": store},
    )
    rows = got.collect()
    assert "series" in got.columns and "source" in got.columns
    assert all(r["series"] == r["_field"] for r in rows)
    assert all(r["source"] == "grafana" for r in rows)
    # duplicate overwrites an existing target (upstream semantics)
    got2 = flux.compile_flux(
        spark,
        'from(bucket: "b") |> last()'
        ' |> duplicate(column: "_measurement", as: "series")'
        ' |> duplicate(column: "_field", as: "series")',
        {"b": store},
    ).collect()
    assert all(r["series"] == r["_field"] for r in got2)


@pytest.mark.parametrize(
    "bad, msg",
    [
        ('from(bucket: "b") |> duplicate(column: "_field")', "requires column"),
        ('from(bucket: "b") |> duplicate(column: "nope", as: "x") |> keep(columns: ["x"])', "unknown column"),
        ('from(bucket: "b") |> set(key: "k")', "requires key"),
        ('from(bucket: "b") |> set(key: "k", value: 5)', "expect strings"),
        ('from(bucket: "b") |> duplicate(column: "_field", as: "x", foo: 1)', "unsupported args"),
    ],
)
def test_duplicate_set_rejections(spark, store, bad, msg):
    with pytest.raises(flux.FluxError, match=msg):
        flux.compile_flux(spark, bad, {"b": store})


def test_histogram_cumulative_per_table(spark, store):
    """histogram(bins:): Flux's CUMULATIVE histogram — one row per
    upper bound per table, _value = float count of rows ≤ le."""
    raw = bkt.scan_bucket(spark, store, measurement="events").collect()
    by_field: dict[str, list] = {}
    for r in raw:
        if r["_value"] is not None:
            by_field.setdefault(r["_field"], []).append(r["_value"])
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> histogram(bins: [25.0, 50.0, 100.0])',
        {"b": store},
    )
    assert got.columns == ["_measurement", "_field", "le", "_value"]
    per: dict = {}
    for r in got.collect():
        per[(r["_field"], r["le"])] = r["_value"]
    for f, vals in by_field.items():
        for le in (25.0, 50.0, 100.0):
            want = float(sum(1 for v in vals if v <= le))
            assert per[(f, le)] == want, (f, le)
    # linearBins with the +Inf tail: the last bucket counts everything
    got_lin = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> histogram(bins: linearBins(start: 0.0, width: 100.0, count: 3))"
        ' |> yield(name: "hist")',
        {"b": store},
    ).collect()
    les = sorted(r["le"] for r in got_lin)
    assert les == [0.0, 100.0, 200.0, float("inf")]
    inf_count = next(r["hist"] for r in got_lin if r["le"] == float("inf"))
    assert inf_count == float(len(by_field["click"]))
    # group() |> histogram: keyless global aggregation (legal — partial
    # agg, never a raw-row window)
    got_g = flux.compile_flux(
        spark,
        'from(bucket: "b") |> group() |> histogram(bins: [1000000.0])',
        {"b": store},
    ).collect()
    assert len(got_g) == 1
    assert got_g[0]["_value"] == float(sum(len(v) for v in by_field.values()))
    # logarithmicBins expansion
    got_log = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> histogram(bins: logarithmicBins(start: 1.0, factor: 4.0,"
        " count: 3, infinity: false))",
        {"b": store},
    ).collect()
    assert sorted(r["le"] for r in got_log) == [1.0, 4.0, 16.0]


@pytest.mark.parametrize(
    "bad, msg",
    [
        ('from(bucket: "b") |> histogram()', "requires bins"),
        (
            'from(bucket: "b") |> histogram(bins: [1.0], normalize: "yes")',
            "boolean",
        ),
        ('from(bucket: "b") |> histogram(bins: [])', "list is empty"),
        (
            'from(bucket: "b") |> histogram(bins: [2.0, 1.0])',
            "strictly increasing",
        ),
        (
            'from(bucket: "b") |> histogram(bins: linearBins(start: 0.0))',
            "requires width",
        ),
        (
            'from(bucket: "b") |> histogram(bins: linearBins(start: 0.0, '
            "width: 1.0, count: 100000))",
            "512",
        ),
        (
            'from(bucket: "b") |> histogram(bins: logarithmicBins(start: 0.0,'
            " factor: 2.0, count: 3))",
            "start > 0",
        ),
        (
            'from(bucket: "b") |> histogram(bins: [1.0]) |> mean()',
            "second aggregation",
        ),
    ],
)
def test_histogram_rejections(spark, store, bad, msg):
    with pytest.raises(flux.FluxError, match=msg):
        flux.compile_flux(spark, bad, {"b": store})


def test_nested_combiner_union_of_joins(spark, store):
    """Round-12 nesting, the other direction: two named JOINS unioned
    by the final result expression. Each nested join equals the same
    join compiled standalone (the nesting only routes frames — no
    semantic change), and the union is their bag concat."""
    def one_join(f1, f2):
        return flux.compile_flux(
            spark,
            f'a = from(bucket: "b") |> filter(fn: (r) => r["_field"] == "{f1}") |> last()\n'
            f'b = from(bucket: "b") |> filter(fn: (r) => r["_field"] == "{f2}") |> last()\n'
            'join(tables: {a: a, b: b}, on: ["_measurement"])',
            {"b": store},
        )

    nested = flux.compile_flux(
        spark,
        'a = from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click") |> last()\n'
        'b = from(bucket: "b") |> filter(fn: (r) => r["_field"] == "error") |> last()\n'
        'c = from(bucket: "b") |> filter(fn: (r) => r["_field"] == "view") |> last()\n'
        'd = from(bucket: "b") |> filter(fn: (r) => r["_field"] == "purchase") |> last()\n'
        'j1 = join(tables: {a: a, b: b}, on: ["_measurement"])\n'
        'j2 = join(tables: {a: c, b: d}, on: ["_measurement"])\n'
        "union(tables: [j1, j2])",
        {"b": store},
    )
    j1 = one_join("click", "error").collect()
    j2 = one_join("view", "purchase").collect()
    got = sorted(map(tuple, nested.collect()))
    assert len(got) == len(j1) + len(j2) == 2
    expect = sorted(map(tuple, j1) ) + sorted(map(tuple, j2))
    assert got == sorted(expect)


def test_trailing_pipe_formatting(spark, store):
    """Both Flux pipe styles are legal: leading `|>` per line (the
    Grafana editor) and trailing `|>` at line ends — the statement
    splitter must not break the latter into two statements."""
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |>\n'
        '  filter(fn: (r) => r["_field"] == "click") |>\n'
        "  last()",
        {"b": store},
    ).collect()
    assert len(got) == 1 and got[0]["_field"] == "click"
    # and in multi-statement scripts
    got2 = flux.compile_flux(
        spark,
        'a = from(bucket: "b") |>\n  last()\n'
        'b = from(bucket: "b") |>\n  last()\n'
        "union(tables: [a, b])",
        {"b": store},
    )
    assert got2.count() == 10  # 5 fields x 2 identical pipelines


# ---------------------------------------------------------------- round 10b


def test_hour_selection(spark, store):
    """hourSelection(start:, stop:): inclusive hour-of-day filter,
    including the overnight wrap form (start > stop), replayed
    value-by-value against the raw scan."""
    src = [
        r
        for r in bkt.scan_bucket(spark, store, field="click").collect()
        if r["_value"] is not None
    ]

    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> hourSelection(start: 9, stop: 17) |> count()",
        {"b": store},
    ).collect()
    want = sum(1 for r in src if 9 <= r["_time"].hour <= 17)
    assert got[0]["count"] == want

    # overnight wrap: hour >= 22 OR hour <= 3
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> hourSelection(start: 22, stop: 3) |> count()",
        {"b": store},
    ).collect()
    want = sum(1 for r in src if r["_time"].hour >= 22 or r["_time"].hour <= 3)
    assert got[0]["count"] == want


@pytest.mark.parametrize(
    "bad, msg",
    [
        ('from(bucket: "b") |> hourSelection(start: 9)', "requires start"),
        ('from(bucket: "b") |> hourSelection(start: 24, stop: 3)', r"\[0, 23\]"),
        ('from(bucket: "b") |> hourSelection(start: 1.5, stop: 3)', r"\[0, 23\]"),
        (
            'from(bucket: "b") |> hourSelection(start: 1, stop: 3, '
            'timeColumn: "_stop")',
            "_time.*only",
        ),
        (
            'from(bucket: "b") |> mean() |> hourSelection(start: 1, stop: 3)',
            "after an aggregation",
        ),
    ],
)
def test_hour_selection_rejections(spark, store, bad, msg):
    with pytest.raises(flux.FluxError, match=msg):
        flux.compile_flux(spark, bad, {"b": store})


def test_truncate_time_column(spark, store):
    """truncateTimeColumn(unit:): epoch-aligned floor of _time, applied
    BEFORE the terminal stage (Flux order) — a following
    aggregateWindow buckets the truncated times."""
    src = [
        r
        for r in bkt.scan_bucket(spark, store, field="click").collect()
        if r["_value"] is not None
    ]
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> truncateTimeColumn(unit: 1h) |> count()",
        {"b": store},
    ).collect()
    assert got[0]["count"] == len(src)

    # truncate to 1d then count per 1d window: every row lands exactly
    # on its window start, so the distribution equals a plain 1d count
    a = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> truncateTimeColumn(unit: 1d)"
        " |> aggregateWindow(every: 1d, fn: count)",
        {"b": store},
    ).collect()
    b = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> aggregateWindow(every: 1d, fn: count)",
        {"b": store},
    ).collect()
    assert {(r["window_start"], r["count"]) for r in a} == {
        (r["window_start"], r["count"]) for r in b
    }

    with pytest.raises(flux.FluxError, match="range.*truncate|shifted|rewritten|REWRITTEN"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> truncateTimeColumn(unit: 1h)'
            " |> range(start: v.s) |> count()",
            {"b": store},
            {"s": "2024-01-03T00:00:00Z"},
        )
    with pytest.raises(flux.FluxError, match="unit must be > 0"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> truncateTimeColumn(unit: 0s) |> count()',
            {"b": store},
        )


def test_unique_and_distinct(spark, store):
    """unique(): first row (table order) per distinct _value per table;
    distinct(): the distinct values themselves, keys + _value only."""
    src = [
        (r["_time"], r["_value"])
        for r in bkt.scan_bucket(spark, store, field="click").collect()
        if r["_value"] is not None
    ]
    first_per_value: dict = {}
    for t, v in sorted(src):
        first_per_value.setdefault(v, t)

    u = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> unique()",
        {"b": store},
    )
    assert u.columns == ["_measurement", "_field", "_time", "_value"]
    got = {r["_value"]: r["_time"] for r in u.collect()}
    assert got == first_per_value

    d = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        ' |> distinct() |> yield(name: "vals")',
        {"b": store},
    )
    assert d.columns == ["_measurement", "_field", "vals"]
    assert {r["vals"] for r in d.collect()} == set(first_per_value)

    # key-less group() forms stay distributed and correct
    dm = flux.compile_flux(
        spark,
        'from(bucket: "b") |> group() |> distinct(column: "_field")',
        {"b": store},
    )
    assert dm.columns == ["_value"]
    assert {r["_value"] for r in dm.collect()} == {
        "click", "error", "purchase", "signup", "view"
    }
    um = flux.compile_flux(
        spark,
        'from(bucket: "b") |> group() |> unique(column: "_field")',
        {"b": store},
    )
    assert um.count() == 5

    with pytest.raises(flux.FluxError, match="unknown column"):
        flux.compile_flux(
            spark, 'from(bucket: "b") |> unique(column: "nope")', {"b": store}
        )
    with pytest.raises(flux.FluxError, match="unknown column"):
        flux.compile_flux(
            spark, 'from(bucket: "b") |> distinct(column: "nope")', {"b": store}
        )


def test_window_raw(spark, store):
    """window(every:) without an aggregate: every raw row keeps its
    (_start, _stop] tumbling bounds as columns — a narrow map, row
    count unchanged."""
    src = bkt.scan_bucket(spark, store, field="click").collect()
    w = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> window(every: 1h)",
        {"b": store},
    )
    assert w.columns == [
        "_measurement", "_field", "_start", "_stop", "_time", "_value"
    ]
    rows = w.collect()
    assert len(rows) == len(src)
    for r in rows:
        assert r["_start"] <= r["_time"] < r["_stop"]
        assert r["_start"].minute == 0 and r["_start"].second == 0
        assert (r["_stop"] - r["_start"]).total_seconds() == 3600

    with pytest.raises(flux.FluxError, match="period/"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> window(every: 1h, period: 2h)',
            {"b": store},
        )
    with pytest.raises(flux.FluxError, match="requires every"):
        flux.compile_flux(spark, 'from(bucket: "b") |> window()', {"b": store})


def test_integral(spark, store):
    """integral(unit:): trapezoid area per table over subsequent
    points, replayed with exact cent-integer arithmetic."""
    import math

    got = {
        r["_field"]: (r["integral"], r["n"])
        for r in flux.compile_flux(
            spark, 'from(bucket: "b") |> integral(unit: 1m)', {"b": store}
        ).collect()
    }
    src = bkt.scan_bucket(spark, store, measurement="events").collect()
    by_field: dict = {}
    for r in src:
        if r["_value"] is not None:
            by_field.setdefault(r["_field"], []).append(
                (r["_time"], r["_value"])
            )
    for f, pts in by_field.items():
        pts.sort()
        total = 0  # Σ (cents_i + cents_{i-1}) · Δt_µs — exact int
        for (t0, v0), (t1, v1) in zip(pts, pts[1:]):
            c0, c1 = round(v0 * 100), round(v1 * 100)
            dt_us = round((t1 - t0).total_seconds() * 1e6)
            total += (c0 + c1) * dt_us
        want = (total / 100.0) / (2.0 * 60.0 * 1e6)
        v, n = got[f]
        assert n == len(pts)
        assert math.isclose(v, want, rel_tol=1e-12), f

    with pytest.raises(flux.FluxError, match="interpolate"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> integral(unit: 1m, interpolate: "linear")',
            {"b": store},
        )
    with pytest.raises(flux.FluxError, match="one partition"):
        flux.compile_flux(
            spark, 'from(bucket: "b") |> group() |> integral(unit: 1m)',
            {"b": store},
        )


def test_time_weighted_avg_stage(spark, store, tmp_path):
    """timeWeightedAvg() (round 12d): the trapezoid integral divided
    by the observed span per table (the registered time_weighted_avg
    operator's pinned convention), replayed with exact cent-integer
    arithmetic. The unit: argument cancels algebraically (same result
    for every unit); single-point tables yield NULL; the key-less
    group() merge raises like integral."""
    import math

    got = {
        r["_field"]: (r["time_weighted_avg"], r["n"])
        for r in flux.compile_flux(
            spark, 'from(bucket: "b") |> timeWeightedAvg(unit: 1m)',
            {"b": store},
        ).collect()
    }
    src = bkt.scan_bucket(spark, store, measurement="events").collect()
    by_field: dict = {}
    for r in src:
        if r["_value"] is not None:
            by_field.setdefault(r["_field"], []).append(
                (r["_time"], r["_value"])
            )
    for f, pts in by_field.items():
        pts.sort()
        total = 0  # Σ (cents_i + cents_{i-1}) · Δt_µs — exact int
        for (t0, v0), (t1, v1) in zip(pts, pts[1:]):
            c0, c1 = round(v0 * 100), round(v1 * 100)
            dt_us = round((t1 - t0).total_seconds() * 1e6)
            total += (c0 + c1) * dt_us
        span_us = round((pts[-1][0] - pts[0][0]).total_seconds() * 1e6)
        want = (total / 100.0) / (2.0 * span_us)
        v, n = got[f]
        assert n == len(pts)
        assert math.isclose(v, want, rel_tol=1e-12), f
        # the time-weighted mean sits inside the value range
        lo, hi = min(p[1] for p in pts), max(p[1] for p in pts)
        assert lo <= v <= hi
    # unit: cancels — identical values for any unit (and when omitted)
    for text in (
        'from(bucket: "b") |> timeWeightedAvg(unit: 1h)',
        'from(bucket: "b") |> timeWeightedAvg()',
    ):
        other = {
            r["_field"]: (r["time_weighted_avg"], r["n"])
            for r in flux.compile_flux(spark, text, {"b": store}).collect()
        }
        assert other == got
    # a single-point table yields NULL (no span)
    single = _tiny_store(spark, tmp_path, [42.0])
    row = flux.compile_flux(
        spark, 'from(bucket: "b") |> timeWeightedAvg()', {"b": single}
    ).collect()
    assert len(row) == 1 and row[0]["time_weighted_avg"] is None
    assert row[0]["n"] == 1
    # rejections: bad unit, unknown args, the key-less merge
    with pytest.raises(flux.FluxError, match="bad duration"):
        flux.compile_flux(
            spark, 'from(bucket: "b") |> timeWeightedAvg(unit: "x")',
            {"b": store},
        )
    with pytest.raises(flux.FluxError, match="unsupported args"):
        flux.compile_flux(
            spark, 'from(bucket: "b") |> timeWeightedAvg(column: "v")',
            {"b": store},
        )
    with pytest.raises(flux.FluxError, match="one partition"):
        flux.compile_flux(
            spark, 'from(bucket: "b") |> group() |> timeWeightedAvg()',
            {"b": store},
        )


def test_exponential_moving_average(spark, store):
    """exponentialMovingAverage(n:): first emitted point = mean of the
    first n values; then y = (1−k)·y + k·x with k = 2/(n+1); first n−1
    rows dropped — replayed with the exact same fold, bit-identical."""
    src = sorted(
        (r["_time"], r["_value"])
        for r in bkt.scan_bucket(spark, store, field="click").collect()
        if r["_value"] is not None
    )
    n = 5
    k = 2.0 / (n + 1.0)
    xs = [v for _, v in src]
    acc = xs[0]
    for x in xs[1:n]:
        acc = acc + x
    acc = acc / n
    want = [acc]
    for x in xs[n:]:
        acc = (1.0 - k) * acc + k * x
        want.append(acc)

    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> exponentialMovingAverage(n: 5)",
        {"b": store},
    )
    assert got.columns == ["_measurement", "_field", "_time", "_value"]
    rows = sorted((r["_time"], r["_value"]) for r in got.collect())
    assert [t for t, _ in rows] == [t for t, _ in src[n - 1:]]
    assert [v for _, v in rows] == want  # exact double equality

    # |> last(): the fold's final element
    last = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> exponentialMovingAverage(n: 5) |> last()",
        {"b": store},
    ).collect()
    assert len(last) == 1
    assert last[0]["last_value"] == want[-1]
    assert last[0]["last_ts"] == src[-1][0]

    # a series shorter than n emits nothing
    short = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> exponentialMovingAverage(n: 100000)",
        {"b": store},
    )
    assert short.count() == 0

    with pytest.raises(flux.FluxError, match="positive int"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> exponentialMovingAverage(n: 0)',
            {"b": store},
        )
    with pytest.raises(flux.FluxError, match="one partition"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> group() |> exponentialMovingAverage(n: 5)',
            {"b": store},
        )


def test_derivative_signed_and_units(spark, store):
    """The general derivative form (VERDICT subset gap): signed by
    default (Flux's actual default), any positive unit — replayed
    value-by-value; the counter form at a non-1s unit scales the
    reset-aware delta identically."""
    src = sorted(
        (r["_time"], r["_value"])
        for r in bkt.scan_bucket(spark, store, field="click").collect()
        if r["_value"] is not None
    )
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> derivative(unit: 1m)",
        {"b": store},
    )
    assert got.columns == ["_measurement", "_field", "_time", "_value", "derivative"]
    rows = {r["_time"]: r["derivative"] for r in got.collect()}
    assert len(rows) == len(src) - 1  # first row dropped
    for (t0, v0), (t1, v1) in zip(src, src[1:]):
        us = round((t1 - t0).total_seconds() * 1e6)
        want = (v1 - v0) / (us / 60_000_000.0)
        assert rows[t1] == want, t1

    # counter form, non-1s unit: reset-aware delta, scaled
    got_nn = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        ' |> derivative(unit: 1m, nonNegative: true) |> yield(name: "rpm")',
        {"b": store},
    )
    rows_nn = {r["_time"]: r["rpm"] for r in got_nn.collect()}
    for (t0, v0), (t1, v1) in zip(src, src[1:]):
        us = round((t1 - t0).total_seconds() * 1e6)
        d = v1 - v0 if v1 >= v0 else v1
        assert rows_nn[t1] == d / (us / 60_000_000.0), t1


def test_pearsonr_combiner(spark, store):
    """pearsonr(x:, y:, on:) — upstream cov(pearsonr: true): align two
    pipelines on the time key, one Pearson correlation per series
    pair, keyed by the suffixed table keys."""
    import statistics

    script = """
a = from(bucket: "b")
  |> filter(fn: (r) => r["_field"] == "click")
  |> aggregateWindow(every: 1h, fn: mean, createEmpty: false)
b = from(bucket: "b")
  |> filter(fn: (r) => r["_field"] == "view")
  |> aggregateWindow(every: 1h, fn: mean, createEmpty: false)
pearsonr(x: a, y: b, on: ["window_start"])
"""
    got = flux.compile_flux(spark, script, {"b": store}).collect()
    assert len(got) == 1
    row = got[0]
    assert (row["_field_x"], row["_field_y"]) == ("click", "view")

    # replay: hourly means per side, correlate the intersection
    def hourly(field):
        vals = {}
        for r in bkt.scan_bucket(spark, store, field=field).collect():
            if r["_value"] is not None:
                b = r["_time"].replace(minute=0, second=0, microsecond=0)
                vals.setdefault(b, []).append(r["_value"])
        return {k: sum(v) / len(v) for k, v in vals.items()}

    ca, cb = hourly("click"), hourly("view")
    common = sorted(set(ca) & set(cb))
    want = statistics.correlation([ca[t] for t in common], [cb[t] for t in common])
    assert abs(row["_value"] - want) < 1e-9

    # self-correlation is exactly 1
    self_script = """
a = from(bucket: "b")
  |> filter(fn: (r) => r["_field"] == "click")
b = from(bucket: "b")
  |> filter(fn: (r) => r["_field"] == "click")
pearsonr(x: a, y: b, on: ["_time"])
"""
    srow = flux.compile_flux(spark, self_script, {"b": store}).collect()[0]
    assert srow["_value"] == 1.0


@pytest.mark.parametrize(
    "final,msg",
    [
        ("pearsonr(x: a, y: b)", "requires x"),
        ('pearsonr(x: a, y: b, on: ["_field"])', "alignment keys"),
        ('pearsonr(x: a, y: nope, on: ["_time"])', "unknown pipeline"),
        ('pearsonr(x: a, y: b, on: ["_time"], method: "spearman")',
         "unsupported args"),
    ],
)
def test_pearsonr_rejections(spark, store, final, msg):
    script = (
        'a = from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")\n'
        'b = from(bucket: "b") |> filter(fn: (r) => r["_field"] == "view")\n'
        + final
    )
    with pytest.raises(flux.FluxError, match=msg):
        flux.compile_flux(spark, script, {"b": store})


def test_formatting_invariance(spark, store):
    """Every legal layout of the same script — leading pipes, trailing
    pipes, one-liner, // comments, blank lines, arg whitespace — must
    compile to the SAME plan (sameSemantics), not merely similar
    results."""
    canonical = (
        'from(bucket: "b")\n'
        '  |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")\n'
        '  |> filter(fn: (r) => r["_measurement"] == "events")\n'
        '  |> filter(fn: (r) => r["_field"] == "click")\n'
        "  |> aggregateWindow(every: 5m, fn: mean, createEmpty: false)\n"
        '  |> yield(name: "mean")'
    )
    variants = [
        # trailing pipes
        canonical.replace("\n  |> ", " |>\n  "),
        # one-liner
        " ".join(line.strip() for line in canonical.splitlines()),
        # comments and blank lines interleaved
        "// panel query\n"
        + "\n\n".join(
            line + "  // stage" for line in canonical.splitlines()
        ),
        # loose arg whitespace
        canonical.replace(": ", ":  ").replace(", ", " ,  "),
    ]
    base = flux.compile_flux(spark, canonical, {"b": store})
    for i, v in enumerate(variants):
        got = flux.compile_flux(spark, v, {"b": store})
        assert got.sameSemantics(base), f"variant {i} diverged:\n{v}"


def test_multi_statement_formatting_invariance(spark, store):
    """The statement splitter must be layout-stable too: the overlay
    script in leading-pipe and trailing-pipe forms compiles to the
    same plan."""
    leading = (
        'a = from(bucket: "b")\n'
        '  |> filter(fn: (r) => r["_field"] == "click")\n'
        "  |> aggregateWindow(every: 1h, fn: mean, createEmpty: false)\n"
        'b = from(bucket: "b")\n'
        '  |> filter(fn: (r) => r["_field"] == "view")\n'
        "  |> aggregateWindow(every: 1h, fn: mean, createEmpty: false)\n"
        'join(tables: {a: a, b: b}, on: ["window_start"])'
    )
    trailing = leading.replace("\n  |> ", " |>\n  ")
    da = flux.compile_flux(spark, leading, {"b": store})
    db = flux.compile_flux(spark, trailing, {"b": store})
    assert db.sameSemantics(da)


def test_derivative_unit_consistent_null_policy(spark, tmp_path):
    """Review r10b: switching derivative's unit: must ONLY rescale —
    same pairing (nulls skipped per the shared policy), same output
    column — for both the signed and the counter form."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (t0 + datetime.timedelta(minutes=2 * i), "events", "click", v)
        for i, v in enumerate([10.0, None, 12.0])
    ]
    df = spark.createDataFrame(
        rows, "t timestamp, m string, f string, v double"
    ).select(
        F.col("t").alias("_time"),
        F.col("m").alias("_measurement"),
        F.col("f").alias("_field"),
        F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    path = str(tmp_path / "dnull")
    bkt.write_bucket(df, path, mode="overwrite")
    for nn in (True, False):
        arg = ", nonNegative: true" if nn else ""
        per_s = flux.compile_flux(
            spark, f'from(bucket: "b") |> derivative(unit: 1s{arg})',
            {"b": path},
        ).collect()
        per_m = flux.compile_flux(
            spark, f'from(bucket: "b") |> derivative(unit: 1m{arg})',
            {"b": path},
        ).collect()
        # ONE pair either way: (10, 12) across 240 s — the null row is
        # skipped, never treated as a counter reset
        assert [r["derivative"] for r in per_s] == [2.0 / 240.0], nn
        assert [r["derivative"] for r in per_m] == [2.0 / 4.0], nn


def test_window_then_timeshift_shifts_bounds(spark, store):
    """Review r10b: a tail timeShift after window() moves _start/_stop
    WITH _time (upstream's default columns) — the frame stays
    internally consistent."""
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> window(every: 1h) |> timeShift(duration: 2h)",
        {"b": store},
    ).collect()
    assert got
    for r in got:
        assert r["_start"] <= r["_time"] < r["_stop"]
        assert r["_start"].minute == 0


def test_unique_keeps_dedup_column_and_yield(spark, store):
    """Review r10b: unique(column:) keeps the deduplicated column in
    the output, and unique()/window() honor yield(name:) like every
    other _value-producing transform."""
    um = flux.compile_flux(
        spark,
        'from(bucket: "b") |> group() |> unique(column: "_field")',
        {"b": store},
    )
    assert "_field" in um.columns
    assert {r["_field"] for r in um.collect()} == {
        "click", "error", "purchase", "signup", "view"
    }
    uy = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        ' |> unique() |> yield(name: "val")',
        {"b": store},
    )
    assert "val" in uy.columns and "_value" not in uy.columns
    wy = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        ' |> window(every: 1h) |> yield(name: "val")',
        {"b": store},
    )
    assert "val" in wy.columns and "_value" not in wy.columns


def test_cov_combiner(spark, store):
    """cov(x:, y:, on:) — sample covariance per aligned series pair;
    cov(..., pearsonr: true) ≡ pearsonr()."""
    import statistics

    base = (
        'a = from(bucket: "b")\n'
        '  |> filter(fn: (r) => r["_field"] == "click")\n'
        "  |> aggregateWindow(every: 1h, fn: mean, createEmpty: false)\n"
        'b = from(bucket: "b")\n'
        '  |> filter(fn: (r) => r["_field"] == "view")\n'
        "  |> aggregateWindow(every: 1h, fn: mean, createEmpty: false)\n"
    )
    cov_row = flux.compile_flux(
        spark, base + 'cov(x: a, y: b, on: ["window_start"])', {"b": store}
    ).collect()[0]
    corr_row = flux.compile_flux(
        spark,
        base + 'cov(x: a, y: b, on: ["window_start"], pearsonr: true)',
        {"b": store},
    ).collect()[0]
    pr_row = flux.compile_flux(
        spark, base + 'pearsonr(x: a, y: b, on: ["window_start"])',
        {"b": store},
    ).collect()[0]
    # two separate jobs: F.corr's partial-merge order varies run to
    # run, so the identity holds to moment-aggregate precision, not
    # bitwise (the registered queries round to 9 dp for this reason)
    assert abs(corr_row["_value"] - pr_row["_value"]) < 1e-12

    def hourly(field):
        vals = {}
        for r in bkt.scan_bucket(spark, store, field=field).collect():
            if r["_value"] is not None:
                t = r["_time"].replace(minute=0, second=0, microsecond=0)
                vals.setdefault(t, []).append(r["_value"])
        return {k: sum(v) / len(v) for k, v in vals.items()}

    ca, cb = hourly("click"), hourly("view")
    common = sorted(set(ca) & set(cb))
    want = statistics.covariance(
        [ca[t] for t in common], [cb[t] for t in common]
    )
    assert abs(cov_row["_value"] - want) < 1e-9

    with pytest.raises(flux.FluxError, match="boolean"):
        flux.compile_flux(
            spark,
            base + 'cov(x: a, y: b, on: ["window_start"], pearsonr: 1)',
            {"b": store},
        )
    with pytest.raises(flux.FluxError, match="unsupported args"):
        flux.compile_flux(
            spark,
            base + 'pearsonr(x: a, y: b, on: ["window_start"], pearsonr: true)',
            {"b": store},
        )


def test_tail_stage(spark, store):
    """tail(n:) — each table's LAST n rows in table order; the mirror
    of a bare limit; raises over a user-sorted frame."""
    src = sorted(
        (r["_time"], r["_value"])
        for r in bkt.scan_bucket(spark, store, field="click").collect()
    )
    got = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> tail(n: 5)",
        {"b": store},
    ).collect()
    assert sorted((r["_time"], r["_value"]) for r in got) == src[-5:]

    # per-table: 5 fields x 2 rows
    per_table = flux.compile_flux(
        spark, 'from(bucket: "b") |> tail(n: 2)', {"b": store}
    )
    counts = {
        r["_field"]: r["count"]
        for r in per_table.groupBy("_field").count().collect()
    }
    assert counts == {f: 2 for f in ("click", "error", "purchase", "signup", "view")}

    # composes after an aggregation: last 3 hourly means
    agg_tail = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> aggregateWindow(every: 1h, fn: mean, createEmpty: false)"
        " |> tail(n: 3)",
        {"b": store},
    ).collect()
    assert len(agg_tail) == 3

    # sort |> tail is rejected twice over: the unbounded-sort guard
    # fires at parse time (tail is not a limit), and the tail executor
    # refuses a pending sort as a belt-and-braces backstop
    with pytest.raises(
        flux.FluxError, match="sort without a following limit|tail after sort"
    ):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> sort(columns: ["_value"]) |> tail(n: 3)',
            {"b": store},
        )
    with pytest.raises(flux.FluxError, match="offset"):
        flux.compile_flux(
            spark, 'from(bucket: "b") |> tail(n: 3, offset: 1)', {"b": store}
        )


# ---------------------------------------------------------------------------
# round 10c: the technical-indicator / selector / conversion batch


def _tiny_store(spark, tmp_path, values, field="click", minutes=1):
    """One-series store with the given values, 1-minute spacing."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (t0 + datetime.timedelta(minutes=minutes * i), "events", field, v)
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(
        rows, "t timestamp, m string, f string, v double"
    ).select(
        F.col("t").alias("_time"),
        F.col("m").alias("_measurement"),
        F.col("f").alias("_field"),
        F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    path = str(tmp_path / "tiny")
    bkt.write_bucket(df, path, mode="overwrite")
    return path


def test_mode_multi_and_null(spark, tmp_path):
    """Upstream mode(): every most-frequent value (several rows when
    tied), one NULL row when no value repeats."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    # click: 5.0 ×2 and 7.0 ×2 tie as modes; 9.0 once
    for i, v in enumerate([5.0, 7.0, 5.0, 7.0, 9.0]):
        rows.append((t0 + datetime.timedelta(minutes=i), "events", "click", v))
    # view: all unique -> NULL mode
    for i, v in enumerate([1.0, 2.0, 3.0]):
        rows.append((t0 + datetime.timedelta(minutes=i), "events", "view", v))
    df = spark.createDataFrame(
        rows, "t timestamp, m string, f string, v double"
    ).select(
        F.col("t").alias("_time"),
        F.col("m").alias("_measurement"),
        F.col("f").alias("_field"),
        F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    path = str(tmp_path / "modestore")
    bkt.write_bucket(df, path, mode="overwrite")
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> mode()', {"b": path}
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r["_field"], set()).add(r["mode"])
    assert got == {"click": {5.0, 7.0}, "view": {None}}
    # windowed form groups by (window, table key); a 2-minute window over
    # click holds [5,7],[5,7],[9] -> all-unique windows -> NULL modes
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        " |> aggregateWindow(every: 2m, fn: mode)",
        {"b": path},
    ).collect()
    assert all(r["mode"] is None for r in out) and len(out) == 3
    with pytest.raises(flux.FluxError, match="mode"):
        flux.compile_flux(
            spark, 'from(bucket: "b") |> mode(column: "x")', {"b": path}
        )


def test_skew_population_g1(spark, tmp_path):
    """Flux skew() is population skewness g1 = sqrt(n)*M3/M2^1.5 —
    pinned against a hand-computed value (NOT SQL's sample-corrected
    skewness, which differs by sqrt(n(n-1))/(n-2))."""
    vals = [1.0, 2.0, 3.0, 4.0, 10.0]
    path = _tiny_store(spark, tmp_path, vals)
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> skew()', {"b": path}
    ).collect()
    assert len(out) == 1 and out[0]["n"] == 5
    mu = sum(vals) / 5
    m2 = sum((v - mu) ** 2 for v in vals)
    m3 = sum((v - mu) ** 3 for v in vals)
    expected = (5**0.5) * m3 / (m2 * m2**0.5)
    assert abs(out[0]["skew"] - expected) < 1e-9
    # constant series: zero variance -> NULL (documented; upstream NaN)
    path2 = str(tmp_path / "flat")
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(t0, "events", "click", 4.0), (t0 + datetime.timedelta(minutes=1), "events", "click", 4.0)],
        "t timestamp, m string, f string, v double",
    ).select(
        F.col("t").alias("_time"),
        F.col("m").alias("_measurement"),
        F.col("f").alias("_field"),
        F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    bkt.write_bucket(df, path2, mode="overwrite")
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> skew()', {"b": path2}
    ).collect()
    assert out[0]["skew"] is None


def test_state_count_runs(spark, tmp_path):
    """stateCount: 1-based position within the current TRUE run, -1
    where the predicate is false."""
    path = _tiny_store(spark, tmp_path, [1.0, 5.0, 6.0, 2.0, 7.0])
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> stateCount(fn: (r) => r._value > 4.0)',
        {"b": path},
    ).collect()
    got = [r["stateCount"] for r in sorted(out, key=lambda r: r["_time"])]
    assert got == [-1, 1, 2, -1, 1]
    with pytest.raises(flux.FluxError, match="stateCount requires fn"):
        flux.compile_flux(spark, 'from(bucket: "b") |> stateCount()', {"b": path})


def test_cmo_values(spark, tmp_path):
    """chandeMomentumOscillator(n:) = 100·(ΣΔ⁺ − ΣΔ⁻)/(ΣΔ⁺ + ΣΔ⁻) over
    the trailing n deltas; the first n rows are dropped."""
    vals = [10.0, 12.0, 11.0, 15.0, 14.0, 18.0]
    path = _tiny_store(spark, tmp_path, vals)
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> chandeMomentumOscillator(n: 3)',
        {"b": path},
    ).collect()
    rows = sorted(out, key=lambda r: r["_time"])
    # deltas: +2, -1, +4, -1, +4
    # row 4 (0-based 3): window deltas (+2,-1,+4): up 6 dn 1 -> 500/7
    # row 5: (-1,+4,-1): up 4 dn 2 -> 200/6; row 6: (+4,-1,+4): 700/9
    assert len(rows) == 3
    assert abs(rows[0]["_value"] - 500.0 / 7.0) < 1e-12
    assert abs(rows[1]["_value"] - 200.0 / 6.0) < 1e-12
    assert abs(rows[2]["_value"] - 700.0 / 9.0) < 1e-12
    # last() composes (the stat-panel reduction)
    last = flux.compile_flux(
        spark,
        'from(bucket: "b") |> chandeMomentumOscillator(n: 3) |> last()',
        {"b": path},
    ).collect()
    assert len(last) == 1 and abs(last[0]["last_value"] - 700.0 / 9.0) < 1e-12


def test_kaufmans_er_values(spark, tmp_path):
    """kaufmansER(n:) = |net move over n deltas| / Σ|per-step move| —
    1.0 on a straight trend, small on churn."""
    vals = [10.0, 12.0, 11.0, 15.0]
    path = _tiny_store(spark, tmp_path, vals)
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> kaufmansER(n: 2)', {"b": path}
    ).collect()
    rows = sorted(out, key=lambda r: r["_time"])
    # row 3: |11-10| / (2+1) = 1/3; row 4: |15-12| / (1+4) = 3/5
    assert len(rows) == 2
    assert abs(rows[0]["_value"] - 1.0 / 3.0) < 1e-12
    assert abs(rows[1]["_value"] - 3.0 / 5.0) < 1e-12
    # monotone series -> exactly 1.0
    path2 = _tiny_store(spark, tmp_path / "m", [1.0, 2.0, 4.0, 9.0])
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> kaufmansER(n: 3)', {"b": path2}
    ).collect()
    assert [r["_value"] for r in out] == [1.0]


def test_sample_deterministic_positions(spark, tmp_path):
    path = _tiny_store(spark, tmp_path, [float(i) for i in range(10)])
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> sample(n: 3, pos: 1)', {"b": path}
    ).collect()
    got = sorted(r["_value"] for r in out)
    assert got == [1.0, 4.0, 7.0]
    for bad in ("sample(n: 3, pos: 3)", "sample(n: 3, pos: -1)", "sample(n: 1, pos: 0)"):
        with pytest.raises(flux.FluxError):
            flux.compile_flux(spark, f'from(bucket: "b") |> {bad}', {"b": path})


def test_to_int_to_float_conversions(spark, tmp_path):
    """toInt() truncates toward zero (Go's int64(float)); toFloat()
    restores double; both are row stages composing with terminals."""
    path = _tiny_store(spark, tmp_path, [2.7, -2.7, 5.2])
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> toInt() |> keep(columns: ["_field", "_value"])',
        {"b": path},
    ).collect()
    assert sorted(r["_value"] for r in out) == [-2, 2, 5]
    assert all(isinstance(r["_value"], int) for r in out)
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> toInt() |> toFloat() |> sum()', {"b": path}
    ).collect()
    assert out[0]["sum"] == 5.0  # 2 + (-2) + 5
    with pytest.raises(flux.FluxError, match="takes no arguments"):
        flux.compile_flux(spark, 'from(bucket: "b") |> toInt(column: "x")', {"b": path})
    with pytest.raises(flux.FluxError, match="after an aggregation"):
        flux.compile_flux(spark, 'from(bucket: "b") |> mean() |> toInt()', {"b": path})


def test_limit_offset(spark, tmp_path):
    path = _tiny_store(spark, tmp_path, [float(i) for i in range(10)])
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> limit(n: 3, offset: 4)', {"b": path}
    ).collect()
    assert sorted(r["_value"] for r in out) == [4.0, 5.0, 6.0]
    # offset past the end -> empty, never wraps
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> limit(n: 5, offset: 20)', {"b": path}
    ).collect()
    assert out == []
    # sorted limit with offset: ranks 3..4 of the descending order
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> sort(columns: ["_value"], desc: true)'
        " |> limit(n: 2, offset: 2)",
        {"b": path},
    ).collect()
    assert sorted(r["_value"] for r in out) == [6.0, 7.0]
    with pytest.raises(flux.FluxError, match="offset"):
        flux.compile_flux(
            spark, 'from(bucket: "b") |> limit(n: 3, offset: -1)', {"b": path}
        )


def test_extrema_selector_family(spark, two_meas):
    """highestMax/lowestMin return the extremum RECORD of the n
    highest/lowest tables; the Average/Current variants reduce per
    table to mean / latest first. Tables key on the full
    (_measurement, _field) key — m2 values sit +1000 above m1."""
    q = 'from(bucket: "b") |> highestMax(n: 2)'
    out = flux.compile_flux(spark, q, {"b": two_meas}).collect()
    assert [(r["_measurement"], r["_field"]) for r in out] == [
        ("m2", "view"), ("m2", "click"),
    ]
    assert out[0]["_value"] == 1049.0 and out[1]["_value"] == 1039.0
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> lowestMin(n: 1)', {"b": two_meas}
    ).collect()
    assert [(r["_measurement"], r["_field"], r["_value"]) for r in out] == [
        ("m1", "click", 0.0)
    ]
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> lowestAverage(n: 1)', {"b": two_meas}
    ).collect()
    assert [(r["_measurement"], r["_field"], r["_value"]) for r in out] == [
        ("m1", "click", 19.5)
    ]
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> highestCurrent(n: 1)', {"b": two_meas}
    ).collect()
    # every series ends at its own max (monotone ramps): m2/view last = 1049
    assert [(r["_measurement"], r["_field"], r["_value"]) for r in out] == [
        ("m2", "view", 1049.0)
    ]
    with pytest.raises(flux.FluxError, match="groupColumns"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> highestMax(n: 2, groupColumns: ["_field"])',
            {"b": two_meas},
        )


def test_histogram_quantile_interpolation(spark, tmp_path):
    """Fused histogram |> histogramQuantile: linear interpolation
    within the first bucket whose cumulative count reaches q·total;
    +Inf winning bucket yields its lower edge."""
    # values: 4 in (0,10], 4 in (10,20], 2 above
    vals = [2.0, 4.0, 6.0, 8.0, 12.0, 14.0, 16.0, 18.0, 25.0, 30.0]
    path = _tiny_store(spark, tmp_path, vals)
    out = flux.compile_flux(
        spark,
        'from(bucket: "b")'
        " |> histogram(bins: [10.0, 20.0])"
        " |> histogramQuantile(quantile: 0.5)",
        {"b": path},
    ).collect()
    # total = counts at last bound (<=20) = 8; rank = 4 -> first bucket
    # (h0 = 4 >= 4): lower 0, upper 10 -> 0 + 10·(4-0)/(4-0) = 10
    assert len(out) == 1 and abs(out[0]["_value"] - 10.0) < 1e-12
    out = flux.compile_flux(
        spark,
        'from(bucket: "b")'
        " |> histogram(bins: [10.0, 20.0])"
        " |> histogramQuantile(quantile: 0.75)",
        {"b": path},
    ).collect()
    # rank = 6 -> second bucket (h1 = 8): 10 + 10·(6-4)/(8-4) = 15
    assert abs(out[0]["_value"] - 15.0) < 1e-12
    # quantile landing in the +Inf bucket returns the lower edge
    out = flux.compile_flux(
        spark,
        'from(bucket: "b")'
        ' |> histogram(bins: linearBins(start: 10.0, width: 10.0, count: 2, infinity: true))'
        " |> histogramQuantile(quantile: 0.95)",
        {"b": path},
    ).collect()
    # bounds [10, 20, inf]: total = 10, rank = 9.5 -> inf bucket -> 20.0
    assert abs(out[0]["_value"] - 20.0) < 1e-12
    for bad, msg in (
        ("histogramQuantile()", "requires quantile"),
        ("histogramQuantile(quantile: 1.5)", "quantile"),
        ('histogramQuantile(quantile: 0.5, onNonmonotonic: "drop")', "onNonmonotonic"),
        ('histogramQuantile(quantile: 0.5, upperBoundColumn: "ub")', "fused histogram"),
    ):
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux(
                spark,
                f'from(bucket: "b") |> histogram(bins: [10.0, 20.0]) |> {bad}',
                {"b": path},
            )


def test_dema_tema_chained_ema_composition(spark, tmp_path):
    """doubleEMA/tripleEMA equal the chained-EMA composition computed
    in pure Python, including the per-level drop of n-1 rows."""
    vals = [float(v) for v in [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8]]
    n = 3
    k, omk = 2.0 / (n + 1.0), 1.0 - 2.0 / (n + 1.0)

    def fold(xs):
        if len(xs) < n:
            return None
        acc = xs[0]
        for x in xs[1:n]:
            acc += x
        acc /= n
        out = [acc]
        for x in xs[n:]:
            acc = omk * acc + k * x
            out.append(acc)
        return out

    e1 = fold(vals)
    e2 = fold(e1)
    e3 = fold(e2)
    dema = [2.0 * a - b for a, b in zip(e1[n - 1:], e2)]
    tema = [3.0 * a - 3.0 * b + c for a, b, c in zip(e1[2 * (n - 1):], e2[n - 1:], e3)]
    path = _tiny_store(spark, tmp_path, vals)
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> doubleEMA(n: 3)', {"b": path}
    ).collect()
    got = [r["_value"] for r in sorted(out, key=lambda r: r["_time"])]
    assert got == dema and len(got) == len(vals) - 2 * (n - 1)
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> tripleEMA(n: 3)', {"b": path}
    ).collect()
    got = [r["_value"] for r in sorted(out, key=lambda r: r["_time"])]
    assert got == tema and len(got) == len(vals) - 3 * (n - 1)
    # too-short series emit nothing
    short = _tiny_store(spark, tmp_path / "s", vals[: 2 * (n - 1)])
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> doubleEMA(n: 3)', {"b": short}
    ).collect()
    assert out == []
    # |> last() composes
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> tripleEMA(n: 3) |> last()', {"b": path}
    ).collect()
    assert len(out) == 1 and out[0]["last_value"] == tema[-1]


def test_rsi_wilder_values(spark, tmp_path):
    """relativeStrengthIndex: Wilder's smoothing pinned value-by-value,
    100 on a pure up-trend, emission from row n+1."""
    vals = [44.0, 44.25, 44.5, 43.75, 44.5, 44.0, 44.25, 45.75, 47.0, 46.5]
    n = 3
    path = _tiny_store(spark, tmp_path, vals)
    au = ad = 0.0
    for i in range(1, n + 1):
        d = vals[i] - vals[i - 1]
        if d > 0:
            au += d
        elif d < 0:
            ad += -d
    au /= n
    ad /= n

    def rsi(u, v):
        return 100.0 if v == 0.0 else 100.0 - 100.0 / (1.0 + u / v)

    expected = [rsi(au, ad)]
    for i in range(n + 1, len(vals)):
        d = vals[i] - vals[i - 1]
        au = (au * (n - 1.0) + (d if d > 0 else 0.0)) / n
        ad = (ad * (n - 1.0) + (-d if d < 0 else 0.0)) / n
        expected.append(rsi(au, ad))
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> relativeStrengthIndex(n: 3)', {"b": path}
    ).collect()
    got = [r["_value"] for r in sorted(out, key=lambda r: r["_time"])]
    assert got == expected and len(got) == len(vals) - n
    # pure up-trend -> constant 100
    up = _tiny_store(spark, tmp_path / "up", [1.0, 2.0, 3.0, 4.0, 5.0])
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> relativeStrengthIndex(n: 2)', {"b": up}
    ).collect()
    assert [r["_value"] for r in out] == [100.0, 100.0, 100.0]


def test_round10c_two_measurement_keying(spark, two_meas):
    """Each new per-table transform keys on the full
    (_measurement, _field) table key — same-named fields in different
    measurements never merge (the +1000 offset would be visible)."""
    # cmo over monotone ramps = 100 everywhere; a cross-measurement
    # merge would interleave +1000 jumps and break it
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> chandeMomentumOscillator(n: 3)',
        {"b": two_meas},
    ).collect()
    assert len(out) == 4 * (40 - 3)
    assert all(r["_value"] == 100.0 for r in out)
    # mode: every ramp value is unique per table -> one NULL row per table
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> mode()', {"b": two_meas}
    ).collect()
    assert len(out) == 4 and all(r["mode"] is None for r in out)
    # stateCount run positions restart per table
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> stateCount(fn: (r) => r._value >= 0.0)',
        {"b": two_meas},
    ).collect()
    per = {}
    for r in out:
        per.setdefault((r["_measurement"], r["_field"]), []).append(r["stateCount"])
    assert set(per) == {("m1", "click"), ("m1", "view"), ("m2", "click"), ("m2", "view")}
    for counts in per.values():
        assert sorted(counts) == list(range(1, 41))


def test_limit_offset_global_one_table_frame(spark, tmp_path):
    """The one-table-frame limit path (after dropping the table key
    columns): Spark offset().limit() — rows off+1..off+n of the sorted
    order, a GlobalLimit, never a full sort."""
    path = _tiny_store(spark, tmp_path, [float(i) for i in range(10)])
    out = flux.compile_flux(
        spark,
        'from(bucket: "b")'
        ' |> drop(columns: ["_measurement", "_field"])'
        ' |> sort(columns: ["_value"], desc: true)'
        " |> limit(n: 2, offset: 2)",
        {"b": path},
    ).collect()
    assert sorted(r["_value"] for r in out) == [6.0, 7.0]


def test_keyless_group_extrema_is_upstream_default(spark, two_meas):
    """group() |> highestMax(n: 1) reproduces upstream's
    groupColumns: [] merge-first default: ONE global extremum record."""
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> group() |> highestMax(n: 1)',
        {"b": two_meas},
    ).collect()
    assert len(out) == 1
    assert out[0]["_value"] == 1049.0
    assert "_field" not in out[0].asDict()


def test_aggregate_window_sliding_period(spark, tmp_path):
    """aggregateWindow(every:, period:) — each row lands in
    period/every windows (Spark F.window slide semantics ≡ Flux)."""
    import datetime

    vals = [10.0, 20.0, 30.0, 40.0]
    path = _tiny_store(spark, tmp_path, vals, minutes=2)
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> aggregateWindow(every: 2m, period: 6m, fn: count)',
        {"b": path},
    ).collect()
    # rows at :00 :02 :04 :06 — window [s, s+6m) every 2m; each row in 3
    # starts: -4,-2,0,2,4,6 minutes → counts 1,2,3,3,2,1
    t0 = datetime.datetime(2024, 1, 1)
    counts = {
        (r["window_start"] - t0).total_seconds() / 60: r["count"] for r in out
    }
    assert counts == {-4.0: 1, -2.0: 2, 0.0: 3, 2.0: 3, 4.0: 2, 6.0: 1}
    # total row-window memberships = rows × period/every
    assert sum(r["count"] for r in out) == len(vals) * 3


def test_aggregate_window_offset_alignment(spark, tmp_path):
    """aggregateWindow(offset:) shifts window boundaries; negative
    offsets normalize modulo every."""
    import datetime

    vals = [1.0, 2.0, 3.0, 4.0]  # at :00 :01 :02 :03
    path = _tiny_store(spark, tmp_path, vals)
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> aggregateWindow(every: 2m, offset: 1m, fn: count)',
        {"b": path},
    ).collect()
    t0 = datetime.datetime(2024, 1, 1)
    counts = {
        (r["window_start"] - t0).total_seconds() / 60: r["count"] for r in out
    }
    # windows [-1,1) [1,3) [3,5): counts 1, 2, 1
    assert counts == {-1.0: 1, 1.0: 2, 3.0: 1}
    # -1m ≡ +1m (mod 2m): identical frame
    neg = flux.compile_flux(
        spark,
        'from(bucket: "b") |> aggregateWindow(every: 2m, offset: -1m, fn: count)',
        {"b": path},
    ).collect()
    assert sorted(map(repr, neg)) == sorted(map(repr, out))


def test_aggregate_window_calendar_month(spark, tmp_path):
    """every: 1mo groups on calendar month boundaries (date_trunc),
    which no fixed-seconds window can express (months differ in
    length); truncateTimeColumn(unit: 1mo) is the row-level form."""
    import datetime

    rows = []
    for mo, n in ((1, 3), (2, 2), (3, 4)):
        for i in range(n):
            rows.append(
                (datetime.datetime(2024, mo, 5 + i), "events", "click", float(mo))
            )
    df = spark.createDataFrame(
        rows, "t timestamp, m string, f string, v double"
    ).select(
        F.col("t").alias("_time"),
        F.col("m").alias("_measurement"),
        F.col("f").alias("_field"),
        F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    path = str(tmp_path / "months")
    bkt.write_bucket(df, path, mode="overwrite")
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> aggregateWindow(every: 1mo, fn: count)',
        {"b": path},
    ).collect()
    got = {r["window_start"].month: r["count"] for r in out}
    assert got == {1: 3, 2: 2, 3: 4}
    # calendar truncation feeding distinct: one _time per month
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> truncateTimeColumn(unit: 1mo)'
        ' |> distinct(column: "_time")',
        {"b": path},
    ).collect()
    assert sorted(r["_value"].month for r in out) == [1, 2, 3]
    assert all(r["_value"].day == 1 for r in out)
    for bad, msg in (
        ("aggregateWindow(every: 2mo, fn: count)", "unsupported value token|bad duration"),
        ("aggregateWindow(every: 1mo, offset: 1h, fn: count)", "calendar"),
        ("aggregateWindow(every: 1mo, fn: count, createEmpty: true)", "calendar"),
        ("aggregateWindow(every: 2m, period: 3m, fn: mean)", "multiple of every"),
        ("aggregateWindow(every: 2m, period: 4m, fn: mode)", "mode"),
    ):
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux(spark, f'from(bucket: "b") |> {bad}', {"b": path})


def test_value_series_then_aggregate_window(spark, tmp_path):
    """<value-series transform> |> aggregateWindow — the counter-to-
    windowed-totals composition: the windowed aggregate runs over the
    REWRITTEN series (difference drops each table's first row before
    windowing, exactly Flux's order)."""
    # two 2-minute windows: values at :00 :01 :02 :03
    vals = [10.0, 13.0, 11.0, 16.0]
    path = _tiny_store(spark, tmp_path, vals)
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> difference()'
        " |> aggregateWindow(every: 2m, fn: sum)",
        {"b": path},
    ).collect()
    got = {r["window_start"].minute: (r["sum"], r["n"]) for r in out}
    # deltas: +3 (at :01), -2 (:02), +5 (:03) -> window 0: +3 (1 row),
    # window 2: +3 (2 rows). :00's row is dropped BEFORE windowing.
    assert got == {0: (3.0, 1), 2: (3.0, 2)}
    # increase |> windowed max == running total's high-water mark
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> increase()'
        " |> aggregateWindow(every: 2m, fn: max)",
        {"b": path},
    ).collect()
    got = {r["window_start"].minute: r["max"] for r in out}
    # increase series: 0, 3, 14, 19 (the 13→11 decrease is a counter
    # reset — the delta is the current VALUE, 11)
    assert got == {0: 3.0, 2: 19.0}
    # the kernel series compose too
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> exponentialMovingAverage(n: 2)'
        " |> aggregateWindow(every: 2m, fn: count)",
        {"b": path},
    ).collect()
    got = {r["window_start"].minute: r["count"] for r in out}
    assert got == {0: 1, 2: 2}  # EMA drops the first n-1 = 1 row
    # composed agg is still terminal: a further stage raises
    for bad in (
        "difference() |> aggregateWindow(every: 2m, fn: sum) |> last()",
        "derivative() |> aggregateWindow(every: 2m, fn: mean)",
        "mean() |> aggregateWindow(every: 2m, fn: sum)",
    ):
        with pytest.raises(flux.FluxError, match="outside the shipped subset"):
            flux.compile_flux(spark, f'from(bucket: "b") |> {bad}', {"b": path})


def test_state_duration_units(spark, tmp_path):
    """stateDuration(unit:) — run durations in whole unit multiples,
    truncated toward zero (Flux duration division); 1s remains the
    default."""
    # true-run spanning minutes 1..4 (values > 4)
    path = _tiny_store(spark, tmp_path, [1.0, 5.0, 6.0, 7.0, 8.0, 2.0])
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> stateDuration(fn: (r) => r._value > 4.0, unit: 2m)',
        {"b": path},
    ).collect()
    got = [r["stateDuration"] for r in sorted(out, key=lambda r: r["_time"])]
    # run starts at minute 1: elapsed 0,1,2,3 min -> //2m = 0,0,1,1
    assert got == [-1, 0, 0, 1, 1, -1]
    # default 1s unchanged
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> stateDuration(fn: (r) => r._value > 4.0)',
        {"b": path},
    ).collect()
    got = [r["stateDuration"] for r in sorted(out, key=lambda r: r["_time"])]
    assert got == [-1, 0, 60, 120, 180, -1]
    with pytest.raises(flux.FluxError, match="unit"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> stateDuration(fn: (r) => r._value > 4.0, unit: -1m)',
            {"b": path},
        )


def _raw_store(spark, tmp_path, rows):
    """rows: (dt, field, value-or-None) triples."""
    df = spark.createDataFrame(
        [(t, "events", f, v) for t, f, v in rows],
        "t timestamp, m string, f string, v double",
    ).select(
        F.col("t").alias("_time"),
        F.col("m").alias("_measurement"),
        F.col("f").alias("_field"),
        F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    path = str(tmp_path / "raw")
    bkt.write_bucket(df, path, mode="overwrite")
    return path


def test_cmo_last_tied_final_timestamp(spark, tmp_path):
    """cmo/ker |> last() selects the fold's true final element via
    max_by(row order), not max_by((_time, value)) — on a tied final
    timestamp the greatest indicator value need not be the last one
    (the same rule as the EMA kernel's __seq)."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    tN = t0 + datetime.timedelta(minutes=2)
    # table order at tN: (tN, 50.0) then (tN, 51.0) — 51.0 is the true
    # last; its CMO window (−60, +1) is far NEGATIVE while the tied
    # sibling's (+100, −60) is positive, so a (ts, value) max_by would
    # return the WRONG row's indicator
    rows = [
        (t0, "click", 10.0),
        (t0 + datetime.timedelta(minutes=1), "click", 110.0),
        (tN, "click", 50.0),
        (tN, "click", 51.0),
    ]
    path = _raw_store(spark, tmp_path, rows)
    full = flux.compile_flux(
        spark,
        'from(bucket: "b") |> chandeMomentumOscillator(n: 2)',
        {"b": path},
    ).collect()
    last = flux.compile_flux(
        spark,
        'from(bucket: "b") |> chandeMomentumOscillator(n: 2) |> last()',
        {"b": path},
    ).collect()
    assert len(last) == 1
    assert last[0]["last_ts"] == tN
    # the true-last row's CMO: deltas (50→51 = +1, 110→50 = −60) →
    # 100·(1−60)/61
    assert abs(last[0]["last_value"] - 100.0 * (1.0 - 60.0) / 61.0) < 1e-12
    # sanity: the tied sibling's CMO is LARGER — the old
    # (ts, value)-ordered selection would have picked it
    tied = [r["_value"] for r in full if r["_time"] == tN]
    assert len(tied) == 2 and max(tied) > last[0]["last_value"]


def test_lowest_min_tie_takes_later_timestamp(spark, tmp_path):
    """The documented extrema tie rule — value ties resolve to the
    LATER timestamp — holds for lowestMin too (min_by over a negated
    time component), not just highestMax."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    t1 = t0 + datetime.timedelta(minutes=5)
    rows = [
        (t0, "click", 1.0),
        (t0 + datetime.timedelta(minutes=1), "click", 7.0),
        (t1, "click", 1.0),  # tied minimum, later
    ]
    path = _raw_store(spark, tmp_path, rows)
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> lowestMin(n: 1)', {"b": path}
    ).collect()
    assert [(r["_time"], r["_value"]) for r in out] == [(t1, 1.0)]
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> highestMax(n: 1)', {"b": path}
    ).collect()
    assert out[0]["_value"] == 7.0


def test_sample_indexes_raw_records_incl_nulls(spark, tmp_path):
    """sample() is a SELECTOR: null _value rows count toward positions
    exactly like limit()/tail() and upstream — no null pre-filter."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    vals = [1.0, None, 3.0, 4.0, 5.0]
    rows = [
        (t0 + datetime.timedelta(minutes=i), "click", v)
        for i, v in enumerate(vals)
    ]
    path = _raw_store(spark, tmp_path, rows)
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> sample(n: 2, pos: 0)', {"b": path}
    ).collect()
    got = sorted((r["_value"] for r in out), key=repr)
    # positions 1, 3, 5 (1-based) = values 1.0, 3.0, 5.0 — a null
    # pre-filter would have returned 1.0, 4.0
    assert got == [1.0, 3.0, 5.0]


def test_skew_out_of_domain_value_yields_null(spark, tmp_path):
    """A value outside the decimal(12,2) power-sum domain (|v| >= 1e10)
    turns the table's skew NULL (count-mismatch guard) — never a
    silently-wrong moment over a different population than n."""
    path = _tiny_store(spark, tmp_path, [1.0, 2.0, 3.0, 1.0e12])
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> skew()', {"b": path}
    ).collect()
    assert len(out) == 1
    assert out[0]["skew"] is None and out[0]["n"] == 4


def test_group_mode_except(spark, two_meas):
    """group(mode: "except", columns:) keys on the complement of the
    listed columns — over this store's two-column key, except
    ["_field"] ≡ by ["_measurement"]."""
    a = flux.compile_flux(
        spark,
        'from(bucket: "b") |> group(columns: ["_field"], mode: "except")'
        " |> mean()",
        {"b": two_meas},
    ).collect()
    b = flux.compile_flux(
        spark,
        'from(bucket: "b") |> group(columns: ["_measurement"]) |> mean()',
        {"b": two_meas},
    ).collect()
    assert sorted(map(repr, a)) == sorted(map(repr, b)) and len(a) == 2
    # except-everything == merge-all (group())
    c = flux.compile_flux(
        spark,
        'from(bucket: "b") |> group(columns: ["_measurement", "_field"],'
        ' mode: "except") |> mean()',
        {"b": two_meas},
    ).collect()
    d = flux.compile_flux(
        spark, 'from(bucket: "b") |> group() |> mean()', {"b": two_meas}
    ).collect()
    assert sorted(map(repr, c)) == sorted(map(repr, d)) and len(c) == 1
    with pytest.raises(flux.FluxError, match="group ships"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> group(columns: [], mode: "drop")',
            {"b": two_meas},
        )


def test_histogram_normalize(spark, tmp_path):
    """histogram(normalize: true): each cumulative count divided by the
    table's total record count — proportions in [0, 1], the top finite
    bound < 1 when values exceed every bound."""
    vals = [2.0, 4.0, 12.0, 14.0, 25.0]  # 2 <= 10, 4 <= 20, 1 above
    path = _tiny_store(spark, tmp_path, vals)
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> histogram(bins: [10.0, 20.0], normalize: true)',
        {"b": path},
    ).collect()
    got = {r["le"]: r["_value"] for r in out}
    assert got == {10.0: 2.0 / 5.0, 20.0: 4.0 / 5.0}
    # un-normalized default unchanged
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> histogram(bins: [10.0, 20.0])',
        {"b": path},
    ).collect()
    assert {r["le"]: r["_value"] for r in out} == {10.0: 2.0, 20.0: 4.0}
    with pytest.raises(flux.FluxError, match="normalize"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> histogram(bins: [10.0], normalize: 3)',
            {"b": path},
        )


def test_post_aggregate_filter_threshold(spark, tmp_path):
    """filter() AFTER an aggregation/transform — the Grafana alert
    threshold shape: a row-wise predicate over the OUTPUT frame, with
    r._value mapped onto the aggregate's value column."""
    vals = [1.0, 2.0, 30.0, 40.0]  # two 2-minute windows: means 1.5, 35
    path = _tiny_store(spark, tmp_path, vals)
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> aggregateWindow(every: 2m, fn: mean)'
        " |> filter(fn: (r) => r._value > 10.0)",
        {"b": path},
    ).collect()
    assert [r["mean"] for r in out] == [35.0]
    # explicit output-column reference works too
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> aggregateWindow(every: 2m, fn: mean)'
        ' |> filter(fn: (r) => r["mean"] <= 10.0 and r["n"] == 2)',
        {"b": path},
    ).collect()
    assert [r["mean"] for r in out] == [1.5]
    # transforms keep _value, so the reference passes straight through
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> difference()'
        " |> filter(fn: (r) => r._value > 5.0)",
        {"b": path},
    ).collect()
    assert sorted(r["_value"] for r in out) == [10.0, 28.0]
    # tail composition: sort |> limit |> filter
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> sort(columns: ["_value"], desc: true)'
        " |> limit(n: 3) |> filter(fn: (r) => r._value < 35.0)",
        {"b": path},
    ).collect()
    assert sorted(r["_value"] for r in out) == [2.0, 30.0]
    # the gauge threshold: last() |> filter maps r._value -> last_value
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> last() |> filter(fn: (r) => r._value > 35.0)',
        {"b": path},
    ).collect()
    assert [r["last_value"] for r in out] == [40.0]
    # ambiguous frames (original _value kept beside the named column)
    # refuse a _value filter instead of silently testing the wrong series
    with pytest.raises(flux.FluxError, match="ambiguous"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> derivative()'
            " |> filter(fn: (r) => r._value > 1.0)",
            {"b": path},
        ).collect()
    # ... but the named result column works
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> movingAverage(n: 2)'
        " |> filter(fn: (r) => r.moving_avg > 10.0)",
        {"b": path},
    ).collect()
    assert len(out) == 2  # means 1.5, 16, 35 -> two above 10
    # unknown column raises naming it
    with pytest.raises(flux.FluxError, match="unknown column"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> aggregateWindow(every: 2m, fn: mean)'
            " |> filter(fn: (r) => r.bogus > 1.0)",
            {"b": path},
        ).collect()
    # range() after a terminal still raises (pushed bounds on raw rows)
    with pytest.raises(flux.FluxError, match="range"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> mean()'
            ' |> range(start: "2024-01-01 00:00:00")',
            {"b": path},
        )


def test_columns_stage(spark, store):
    """columns(): each table's record labels — this store's records
    carry exactly the four standard columns; one row per label per
    table, exploded over the DISTINCT table keys."""
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> columns()', {"b": store}
    ).collect()
    per = {}
    for r in out:
        per.setdefault(r["_field"], []).append(r["_value"])
    assert set(per) == {"click", "view", "purchase", "signup", "error"}
    for labels in per.values():
        assert sorted(labels) == ["_field", "_measurement", "_time", "_value"]
    # custom output column name
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")'
        ' |> columns(column: "label")',
        {"b": store},
    ).collect()
    assert sorted(r["label"] for r in out) == [
        "_field", "_measurement", "_time", "_value"
    ]
    for bad, msg in (
        ('columns(column: "my col")', "identifier"),
        ("group() |> columns()", "subset"),
        ("mean() |> columns()", "subset"),
    ):
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux(spark, f'from(bucket: "b") |> {bad}', {"b": store})


def test_post_filter_formatting_and_transform_columns(spark, tmp_path):
    """Review r10c-2: the postfilter must be layout-invariant (spaced
    bracket references normalize before the ambiguity guard / remap),
    elapsed() keeps _value upstream too (passthrough, not ambiguous),
    and integral() maps r._value onto its named result column."""
    path = _tiny_store(spark, tmp_path, [1.0, 2.0, 30.0, 40.0])
    # spaced layout must behave EXACTLY like the canonical one:
    # the aggregate remap applies...
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> aggregateWindow(every: 2m, fn: mean)'
        ' |> filter(fn: (r) => r[ "_value" ] > 10.0)',
        {"b": path},
    ).collect()
    assert [r["mean"] for r in out] == [35.0]
    # ...and the derivative ambiguity guard fires for BOTH layouts
    for ref in ('r._value', 'r[ "_value" ]', 'r["_value"]'):
        with pytest.raises(flux.FluxError, match="ambiguous"):
            flux.compile_flux(
                spark,
                'from(bucket: "b") |> derivative()'
                f" |> filter(fn: (r) => {ref} > 1.0)",
                {"b": path},
            ).collect()
    # elapsed keeps _value upstream as well — plain passthrough filter
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> elapsed()'
        " |> filter(fn: (r) => r._value > 25.0)",
        {"b": path},
    ).collect()
    assert sorted(r["_value"] for r in out) == [30.0, 40.0]
    # integral rewrites _value upstream and drops it here — the named
    # result column is the unambiguous target
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> integral(unit: 1m)'
        " |> filter(fn: (r) => r._value > 0.0)",
        {"b": path},
    ).collect()
    assert len(out) == 1 and out[0]["integral"] > 0.0
    # columns(column:) colliding with a key column raises at compile
    with pytest.raises(flux.FluxError, match="collides"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> columns(column: "_field")',
            {"b": path},
        )


def test_key_values_stage(spark, two_meas):
    """keyValues(keyColumns:): one (_key, _value) row per requested key
    column per table — the generic Grafana variable query."""
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> keyValues(keyColumns: ["_field"])',
        {"b": two_meas},
    ).collect()
    got = {(r["_measurement"], r["_key"], r["_value"]) for r in out}
    assert got == {
        ("m1", "_field", "click"), ("m1", "_field", "view"),
        ("m2", "_field", "click"), ("m2", "_field", "view"),
    }
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> group(columns: ["_measurement"])'
        ' |> keyValues(keyColumns: ["_measurement"])',
        {"b": two_meas},
    ).collect()
    assert {(r["_key"], r["_value"]) for r in out} == {
        ("_measurement", "m1"), ("_measurement", "m2"),
    }
    # a requested column that the group() re-key dropped raises — a
    # silent partial listing would misrepresent the request
    with pytest.raises(flux.FluxError, match="not in the current table key"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> group(columns: ["_measurement"])'
            ' |> keyValues(keyColumns: ["_measurement", "_field"])',
            {"b": two_meas},
        )
    for bad, msg in (
        ("keyValues()", "requires keyColumns"),
        ('keyValues(keyColumns: ["tags"])', "table key"),
        ('group() |> keyValues(keyColumns: ["_field"])', "subset"),
    ):
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux(
                spark, f'from(bucket: "b") |> {bad}', {"b": two_meas}
            )


def test_map_math_functions(spark, tmp_path):
    """map() math.<fn> — the correctly-rounded IEEE set (abs, sqrt,
    floor, ceil, round, trunc, mMax, mMin) with Flux named args;
    exp/log/pow raise (libm last-ulp engine divergence)."""
    path = _tiny_store(spark, tmp_path, [-2.7, 2.5, 4.0])
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> map(fn: (r) => ({ r with _value:'
        " math.mMax(x: math.abs(x: r._value) - 2.0, y: 0.0) }))"
        ' |> keep(columns: ["_value"])',
        {"b": path},
    ).collect()
    assert sorted(r["_value"] for r in out) == [
        max(abs(2.5) - 2.0, 0.0),
        max(abs(-2.7) - 2.0, 0.0),  # 0.7000000000000002 — IEEE exact
        max(abs(4.0) - 2.0, 0.0),
    ]
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> map(fn: (r) => ({ r with _value:'
        " math.round(x: r._value) })) |> sum()",
        {"b": path},
    ).collect()
    # round half away from zero: -3 + 3 + 4
    assert out[0]["sum"] == 4.0
    for bad, msg in (
        ("math.exp(x: r._value)", "outside the shipped subset"),
        ("math.mMax(x: r._value)", "takes 2"),
        ("math.abs(x: r._value, y: 1.0)", "takes 1"),
        ("math.abs r._value", "requires"),
    ):
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux(
                spark,
                'from(bucket: "b") |> map(fn: (r) => ({ r with _value:'
                f" {bad} }}))",
                {"b": path},
            )


def test_map_conditional_expressions(spark, tmp_path):
    """map() if/then/else — the classify/clamp pattern, compiled to
    when/otherwise (lazy in both engines); conditions compare
    arithmetic expressions and join with and/or; else is mandatory
    (Flux conditionals are total)."""
    path = _tiny_store(spark, tmp_path, [-2.0, 5.0, 150.0])
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> map(fn: (r) => ({ r with _value:'
        " if r._value < 0.0 then 0.0 else if r._value > 100.0 then 100.0"
        ' else r._value })) |> keep(columns: ["_value"])',
        {"b": path},
    ).collect()
    assert sorted(r["_value"] for r in out) == [0.0, 5.0, 100.0]
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> map(fn: (r) => ({ r with _value:'
        " if r._value > 0.0 and r._value < 100.0 then 1.0 else 0.0 }))"
        " |> sum()",
        {"b": path},
    ).collect()
    assert out[0]["sum"] == 1.0
    for bad, msg in (
        ("if r._value then 1.0 else 0.0", "comparison"),
        ("if r._value > 1.0 then 2.0", "else|unexpected end"),
        ("r._value > 1.0", "trailing|comparison"),
    ):
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux(
                spark,
                'from(bucket: "b") |> map(fn: (r) => ({ r with _value:'
                f" {bad} }}))",
                {"b": path},
            )


def test_map_condition_precedence_parens_and_keywords(spark, tmp_path):
    """Review r10c-3: `and` binds tighter than `or` (Flux precedence —
    the flat left fold computed (a or b) and c), parenthesized
    conditions parse (checkpointed against arithmetic parens), and
    keyword tokens require word boundaries (and2.0 must not tokenize
    as `and` + 2.0)."""
    path = _tiny_store(spark, tmp_path, [-5.0, 15.0, 30.0])
    # a or (b and c): for -5.0 → true or (false and false) = true;
    # the wrong grouping (a or b) and c gives false
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> map(fn: (r) => ({ r with _value:'
        " if r._value < 0.0 or r._value > 10.0 and r._value > 20.0"
        ' then 1.0 else 0.0 })) |> keep(columns: ["_value"])',
        {"b": path},
    ).collect()
    assert sorted(r["_value"] for r in out) == [0.0, 1.0, 1.0]
    # explicit grouping flips it: (a or b) and c → -5.0 fails c
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> map(fn: (r) => ({ r with _value:'
        " if (r._value < 0.0 or r._value > 10.0) and r._value > 20.0"
        ' then 1.0 else 0.0 })) |> keep(columns: ["_value"])',
        {"b": path},
    ).collect()
    assert sorted(r["_value"] for r in out) == [0.0, 0.0, 1.0]
    # a parenthesized ARITHMETIC expression inside a condition still
    # parses (the checkpoint falls back)
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> map(fn: (r) => ({ r with _value:'
        " if (r._value - 20.0) > 0.0 then 1.0 else 0.0 }))"
        ' |> keep(columns: ["_value"])',
        {"b": path},
    ).collect()
    assert sorted(r["_value"] for r in out) == [0.0, 0.0, 1.0]
    # keyword-prefixed junk raises instead of silently re-tokenizing
    with pytest.raises(flux.FluxError):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> map(fn: (r) => ({ r with _value:'
            " if r._value > 1.0 and2.0 < 3.0 then 1.0 else 0.0 }))",
            {"b": path},
        )
    # wrong/swapped argument labels raise (positional meaning is fixed)
    with pytest.raises(flux.FluxError, match="label"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> map(fn: (r) => ({ r with _value:'
            " math.mMax(y: r._value, x: 0.0) }))",
            {"b": path},
        )
    with pytest.raises(flux.FluxError, match="twice"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> keyValues(keyColumns: ["_field", "_field"])',
            {"b": path},
        )


def test_map_math_null_nan_semantics(spark, tmp_path):
    """Review r10c-3: NULL _value stays NULL through map (greatest /
    when-otherwise would otherwise manufacture non-null constants the
    aggregates then over-count); math fns avoid the long round-trip
    (trunc/floor/ceil propagate NaN, huge magnitudes pass through);
    mMax/mMin propagate NaN like Go, never skip to the other arg."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [(t0, "click", -4.0), (t0 + datetime.timedelta(minutes=1), "click", None)]
    path = _raw_store(spark, tmp_path, rows)
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> map(fn: (r) => ({ r with _value:'
        " math.mMax(x: r._value, y: 0.0) }))"
        ' |> keep(columns: ["_value"])',
        {"b": path},
    ).collect()
    assert sorted((r["_value"] for r in out), key=repr) == [0.0, None]
    # ... and the windowed count sees ONE row, not two
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> map(fn: (r) => ({ r with _value:'
        " math.mMax(x: r._value, y: 0.0) })) |> count()",
        {"b": path},
    ).collect()
    assert out[0]["count"] == 1
    # NaN propagation: sqrt of a negative then mMin must stay NaN
    import math as _m

    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> map(fn: (r) => ({ r with _value:'
        " math.mMin(x: math.sqrt(x: r._value), y: 1.0) }))"
        ' |> keep(columns: ["_value"])',
        {"b": path},
    ).collect()
    vals = [r["_value"] for r in out]
    assert any(v is not None and _m.isnan(v) for v in vals)
    # trunc/floor/ceil: no long round-trip — NaN in, NaN out; huge
    # magnitudes unchanged
    path2 = _tiny_store(spark, tmp_path / "big", [-2.7, 2.7, 1.0e20])
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> map(fn: (r) => ({ r with _value:'
        ' math.trunc(x: r._value) })) |> keep(columns: ["_value"])',
        {"b": path2},
    ).collect()
    assert sorted(r["_value"] for r in out) == [-2.0, 2.0, 1.0e20]
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> map(fn: (r) => ({ r with _value:'
        ' math.floor(x: r._value) + math.ceil(x: r._value) }))'
        ' |> keep(columns: ["_value"])',
        {"b": path2},
    ).collect()
    assert sorted(r["_value"] for r in out) == [-5.0, 5.0, 2.0e20]


# -- holtWinters (round 11) ---------------------------------------------


@pytest.fixture(scope="module")
def hw_store(spark, tmp_path_factory):
    """Hand fixture: f1 = [10 (slot 0; a later in-slot point 99 must be
    ignored — first-per-slot rule), 14 (1h), 12 (2h)]; f2 = single
    point 7."""
    path = str(tmp_path_factory.mktemp("hwstore") / "bucket")
    rows = [
        ("2024-01-01 00:00:00", "f1", 10.0),
        ("2024-01-01 00:01:00", "f1", 99.0),
        ("2024-01-01 01:00:00", "f1", 14.0),
        ("2024-01-01 02:00:00", "f1", 12.0),
        ("2024-01-01 00:00:00", "f2", 7.0),
    ]
    long_df = spark.createDataFrame(
        rows, "t string, _field string, _value double"
    ).select(
        F.col("t").cast("timestamp").alias("_time"),
        F.lit("m").alias("_measurement"),
        "_field",
        "_value",
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    bkt.write_bucket(long_df, path, mode="overwrite")
    return path


def test_holt_winters_golden(spark, hw_store):
    # α=0.5, β=0.25 fold over [10, 14, 12]:
    #   l1=12, b1=0.5; l2=12.25, b2=0.4375
    # → forecasts 12.6875 (3h), 13.125 (4h). Single-point f2 → flat 7.
    out = flux.compile_flux(
        spark,
        """
        from(bucket: "b")
          |> range(start: "2024-01-01 00:00:00", stop: "2024-01-02 00:00:00")
          |> filter(fn: (r) => r["_measurement"] == "m")
          |> holtWinters(n: 2, interval: 1h)
        """,
        {"b": hw_store},
    )
    got = {
        (r["_field"], str(r["_time"])): r["_value"] for r in out.collect()
    }
    assert got == {
        ("f1", "2024-01-01 03:00:00"): 12.6875,
        ("f1", "2024-01-01 04:00:00"): 13.125,
        ("f2", "2024-01-01 01:00:00"): 7.0,
        ("f2", "2024-01-01 02:00:00"): 7.0,
    }


def test_holt_winters_with_fit_golden(spark, hw_store):
    """withFit: true (round 12) — the PINNED fit convention: the
    one-step-ahead value l_{i-1} + b_{i-1} at each slot with a prior
    state, then the n forecasts. Hand fold over f1 = [10, 14, 12]:
    fit(1h) = 10 (seed l=10, b=0), fit(2h) = 12.5 (l=12, b=0.5);
    forecasts unchanged. Single-slot f2 emits no fits (no prior
    state), forecasts only."""
    out = flux.compile_flux(
        spark,
        """
        from(bucket: "b")
          |> range(start: "2024-01-01 00:00:00", stop: "2024-01-02 00:00:00")
          |> filter(fn: (r) => r["_measurement"] == "m")
          |> holtWinters(n: 2, interval: 1h, withFit: true)
        """,
        {"b": hw_store},
    )
    got = {
        (r["_field"], str(r["_time"])): r["_value"] for r in out.collect()
    }
    assert got == {
        ("f1", "2024-01-01 01:00:00"): 10.0,
        ("f1", "2024-01-01 02:00:00"): 12.5,
        ("f1", "2024-01-01 03:00:00"): 12.6875,
        ("f1", "2024-01-01 04:00:00"): 13.125,
        ("f2", "2024-01-01 01:00:00"): 7.0,
        ("f2", "2024-01-01 02:00:00"): 7.0,
    }
    # withFit: false is byte-identical to omitting it
    base = flux.compile_flux(
        spark,
        """
        from(bucket: "b")
          |> range(start: "2024-01-01 00:00:00", stop: "2024-01-02 00:00:00")
          |> filter(fn: (r) => r["_measurement"] == "m")
          |> holtWinters(n: 2, interval: 1h, withFit: false)
        """,
        {"b": hw_store},
    )
    plain = flux.compile_flux(
        spark,
        """
        from(bucket: "b")
          |> range(start: "2024-01-01 00:00:00", stop: "2024-01-02 00:00:00")
          |> filter(fn: (r) => r["_measurement"] == "m")
          |> holtWinters(n: 2, interval: 1h)
        """,
        {"b": hw_store},
    )
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_holt_winters_seasonal_with_fit_golden(spark, hws_store):
    """Seasonal withFit: fits start at slot m+1 — the one-step-ahead
    l + b + s[1] BEFORE each update. Hand fold (m=2, x=[10,20,12,22,
    14,24], init l0=15, b0=1, s=[-5,5]): fit(2h)=11, fit(3h)=22.625,
    fit(4h)=13.484375, fit(5h)=24.650390625; forecasts as the
    non-fit golden. All-dyadic — equality is exact."""
    out = flux.compile_flux(
        spark,
        """
        from(bucket: "b")
          |> range(start: "2024-01-01 00:00:00", stop: "2024-01-02 00:00:00")
          |> filter(fn: (r) => r["_measurement"] == "m")
          |> holtWinters(n: 3, interval: 1h, seasonality: 2, withFit: true)
        """,
        {"b": hws_store},
    )
    got = {str(r["_time"]): r["_value"] for r in out.collect()}
    assert got == {
        "2024-01-01 02:00:00": 11.0,
        "2024-01-01 03:00:00": 22.625,
        "2024-01-01 04:00:00": 13.484375,
        "2024-01-01 05:00:00": 24.650390625,
        "2024-01-01 06:00:00": 15.622802734375,
        "2024-01-01 07:00:00": 26.303955078125,
        "2024-01-01 08:00:00": 17.682861328125,
    }


def test_holt_winters_empty_range_emits_nothing(spark, hw_store):
    out = flux.compile_flux(
        spark,
        """
        from(bucket: "b")
          |> range(start: "2030-01-01 00:00:00", stop: "2030-01-02 00:00:00")
          |> filter(fn: (r) => r["_measurement"] == "m")
          |> holtWinters(n: 3, interval: 1h)
        """,
        {"b": hw_store},
    )
    assert out.count() == 0


@pytest.mark.parametrize(
    "stage, err",
    [
        ("holtWinters(n: 2, interval: 1h, seasonality: -2)", "non-negative"),
        ("holtWinters(n: 2, interval: 1h, withFit: 3)", "withFit"),
        ("holtWinters(n: 0, interval: 1h)", "positive int"),
        ("holtWinters(n: 2)", "bad duration"),
        ('holtWinters(n: 2, interval: 1h, column: "other")', "_value"),
    ],
)
def test_holt_winters_rejections(spark, hw_store, stage, err):
    with pytest.raises(flux.FluxError, match=err):
        flux.compile_flux(
            spark,
            f"""
            from(bucket: "b")
              |> range(start: "2024-01-01 00:00:00", stop: "2024-01-02 00:00:00")
              |> filter(fn: (r) => r["_measurement"] == "m")
              |> {stage}
            """,
            {"b": hw_store},
        )


def test_holt_winters_keyless_group_raises(spark, hw_store):
    with pytest.raises(flux.FluxError, match="one partition"):
        flux.compile_flux(
            spark,
            """
            from(bucket: "b")
              |> range(start: "2024-01-01 00:00:00", stop: "2024-01-02 00:00:00")
              |> filter(fn: (r) => r["_measurement"] == "m")
              |> group()
              |> holtWinters(n: 2, interval: 1h)
            """,
            {"b": hw_store},
        )


# -- to(bucket:) write-back (round 11) ----------------------------------


def test_to_bucket_equals_handwritten_rollup(spark, store, tmp_path):
    """The compiled task's downsample store must equal the hand-written
    hourly_rollup path's means over the same scan — the continuous-
    query loop closed in Flux (VERDICT r10 item 5 done-criterion)."""
    target = str(tmp_path / "downsample")
    flux.compile_flux(
        spark,
        """
        from(bucket: "b")
          |> range(start: "2024-01-03 00:00:00", stop: "2024-01-06 00:00:00")
          |> filter(fn: (r) => r["_measurement"] == "events")
          |> aggregateWindow(every: 1h, fn: mean, createEmpty: false)
          |> to(bucket: "down")
        """,
        {"b": store, "down": target},
    ).collect()
    written = {
        (str(r["_time"]), r["_measurement"], r["_field"], round(r["_value"], 9))
        for r in bkt.read_bucket(spark, target).collect()
    }
    hand = bkt.hourly_rollup(
        bkt.scan(
            bkt.read_bucket(spark, store),
            measurement="events",
            start="2024-01-03 00:00:00",
            stop="2024-01-06 00:00:00",
        ).withColumn("_date", F.to_date("_time"))
    ).select(
        "_hour",
        "_measurement",
        "_field",
        (F.col("sum_value").cast("double") / F.col("n")).alias("mean"),
    )
    expect = {
        (str(r["_hour"]), r["_measurement"], r["_field"], round(r["mean"], 9))
        for r in hand.collect()
    }
    assert written == expect and written


def test_to_bucket_idempotent_rerun(spark, store, tmp_path):
    target = str(tmp_path / "downsample")
    script = """
    from(bucket: "b")
      |> range(start: "2024-01-03 00:00:00", stop: "2024-01-06 00:00:00")
      |> filter(fn: (r) => r["_measurement"] == "events")
      |> aggregateWindow(every: 1h, fn: mean, createEmpty: false)
      |> to(bucket: "down")
    """
    flux.compile_flux(spark, script, {"b": store, "down": target}).collect()
    first = sorted(
        map(repr, bkt.read_bucket(spark, target).drop("tags").collect())
    )
    flux.compile_flux(spark, script, {"b": store, "down": target}).collect()
    second = sorted(
        map(repr, bkt.read_bucket(spark, target).drop("tags").collect())
    )
    assert first == second and first


def test_to_bucket_carries_tags(spark, tmp_path):
    src = str(tmp_path / "tagged_src")
    rows = [
        ("2024-01-01 00:10:00", "f", 1.0, "a"),
        ("2024-01-01 00:20:00", "f", 3.0, "a"),
        ("2024-01-01 00:40:00", "f", 5.0, "b"),
    ]
    long_df = spark.createDataFrame(
        rows, "t string, _field string, _value double, host string"
    ).select(
        F.col("t").cast("timestamp").alias("_time"),
        F.lit("m").alias("_measurement"),
        "_field",
        "_value",
        "host",
        F.create_map(F.lit("host"), F.col("host")).alias("tags"),
    )
    bkt.write_bucket(long_df, src, mode="overwrite")
    target = str(tmp_path / "tagged_down")
    out = flux.compile_flux(
        spark,
        """
        from(bucket: "b")
          |> range(start: "2024-01-01 00:00:00", stop: "2024-01-02 00:00:00")
          |> filter(fn: (r) => r["_measurement"] == "m")
          |> aggregateWindow(every: 1h, fn: mean, createEmpty: false)
          |> to(bucket: "down")
        """,
        {"b": src, "down": target},
    )
    assert "host" in out.columns
    back = bkt.read_bucket(spark, target)
    assert bkt.tag_columns(back) == ["host"]
    got = {
        (r["host"], r["_value"], dict(r["tags"])["host"])
        for r in back.collect()
    }
    assert got == {("a", 2.0, "a"), ("b", 5.0, "b")}


def test_to_bucket_refusals(spark, store, tmp_path):
    with pytest.raises(flux.FluxError, match="final stage"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> to(bucket: "down") |> last()',
            {"b": store, "down": str(tmp_path / "d1")},
        )
    with pytest.raises(flux.FluxError, match="into itself"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> last() |> to(bucket: "b")',
            {"b": store},
        )
    with pytest.raises(flux.FluxError, match="unknown bucket"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> last() |> to(bucket: "nope")',
            {"b": store},
        )
    # group() re-key that drops _field: the bucket schema needs the
    # full series key — refuse rather than write key-less rows
    with pytest.raises(flux.FluxError, match="series key"):
        flux.compile_flux(
            spark,
            """
            from(bucket: "b")
              |> range(start: "2024-01-03 00:00:00", stop: "2024-01-06 00:00:00")
              |> filter(fn: (r) => r["_measurement"] == "events")
              |> group(columns: ["_measurement"])
              |> aggregateWindow(every: 1h, fn: mean, createEmpty: false)
              |> to(bucket: "down")
            """,
            {"b": store, "down": str(tmp_path / "d2")},
        )


@pytest.fixture(scope="module")
def hws_store(spark, tmp_path_factory):
    """Seasonal hand fixture: m=2 alternating series with trend —
    x = [10, 20, 12, 22, 14, 24] at hourly slots."""
    path = str(tmp_path_factory.mktemp("hwsstore") / "bucket")
    rows = [
        ("2024-01-01 00:00:00", 10.0),
        ("2024-01-01 01:00:00", 20.0),
        ("2024-01-01 02:00:00", 12.0),
        ("2024-01-01 03:00:00", 22.0),
        ("2024-01-01 04:00:00", 14.0),
        ("2024-01-01 05:00:00", 24.0),
    ]
    long_df = spark.createDataFrame(rows, "t string, _value double").select(
        F.col("t").cast("timestamp").alias("_time"),
        F.lit("m").alias("_measurement"),
        F.lit("f1").alias("_field"),
        "_value",
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    bkt.write_bucket(long_df, path, mode="overwrite")
    return path


def test_holt_winters_seasonal_golden(spark, hws_store):
    # hand fold (alpha=.5, beta=.25, gamma=.25, m=2):
    #   init l0=15, b0=1, s=[-5, 5]; after x=[12,22,14,24]:
    #   l=19.4033203125, b=1.030029296875, s=[-4.810546875, 4.840576171875]
    # all-dyadic, so equality is exact
    out = flux.compile_flux(
        spark,
        """
        from(bucket: "b")
          |> range(start: "2024-01-01 00:00:00", stop: "2024-01-02 00:00:00")
          |> filter(fn: (r) => r["_measurement"] == "m")
          |> holtWinters(n: 3, interval: 1h, seasonality: 2)
        """,
        {"b": hws_store},
    )
    got = {str(r["_time"]): r["_value"] for r in out.collect()}
    assert got == {
        "2024-01-01 06:00:00": 15.622802734375,
        "2024-01-01 07:00:00": 26.303955078125,
        "2024-01-01 08:00:00": 17.682861328125,
    }


def test_holt_winters_seasonal_short_series_emits_nothing(spark, hw_store):
    # f1 has 3 slots, f2 has 1 — both under two full seasons of m=2
    out = flux.compile_flux(
        spark,
        """
        from(bucket: "b")
          |> range(start: "2024-01-01 00:00:00", stop: "2024-01-02 00:00:00")
          |> filter(fn: (r) => r["_measurement"] == "m")
          |> holtWinters(n: 2, interval: 1h, seasonality: 2)
        """,
        {"b": hw_store},
    )
    assert out.count() == 0


def test_holt_winters_seasonality_one_rejected(spark, hw_store):
    with pytest.raises(flux.FluxError, match="degenerate"):
        flux.compile_flux(
            spark,
            """
            from(bucket: "b")
              |> range(start: "2024-01-01 00:00:00", stop: "2024-01-02 00:00:00")
              |> filter(fn: (r) => r["_measurement"] == "m")
              |> holtWinters(n: 2, interval: 1h, seasonality: 1)
            """,
            {"b": hw_store},
        )


# -- round 11b: TRIX / kaufmansAMA / events.duration / interpolate ------


def test_trix_chained_ema_derivative(spark, tmp_path):
    """tripleExponentialDerivative equals the chained-EMA composition's
    one-lag percent derivative computed in pure Python; emission from
    row 3(n−1)+1, shorter series emit nothing, |> last() composes."""
    vals = [float(v) for v in [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7]]
    n = 3
    k, omk = 2.0 / (n + 1.0), 1.0 - 2.0 / (n + 1.0)

    def fold(xs):
        if xs is None or len(xs) < n:
            return None
        acc = xs[0]
        for x in xs[1:n]:
            acc += x
        acc /= n
        out = [acc]
        for x in xs[n:]:
            acc = omk * acc + k * x
            out.append(acc)
        return out

    e3 = fold(fold(fold(vals)))
    expected = [(a - b) / b * 100.0 for b, a in zip(e3, e3[1:])]
    path = _tiny_store(spark, tmp_path, vals)
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> tripleExponentialDerivative(n: 3)',
        {"b": path},
    ).collect()
    got = [r["_value"] for r in sorted(out, key=lambda r: r["_time"])]
    assert got == expected and len(got) == len(vals) - (3 * (n - 1) + 1)
    # shorter than 3n−1 points → nothing (e3 has <2 elements)
    short = _tiny_store(spark, tmp_path / "s", vals[: 3 * (n - 1) + 1])
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> tripleExponentialDerivative(n: 3)',
        {"b": short},
    ).collect()
    assert out == []
    # |> last() composes on the __seq machinery
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> tripleExponentialDerivative(n: 3) |> last()',
        {"b": path},
    ).collect()
    assert len(out) == 1 and out[0]["last_value"] == expected[-1]


def test_kama_values(spark, tmp_path):
    """kaufmansAMA: the pinned identity-seed recurrence value-by-value;
    a flat window takes the ER=0 branch (output still equals prev on a
    flat series); emission from row n, shorter series emit nothing."""
    vals = [float(v) for v in [10, 11, 13, 12, 15, 14, 18, 17, 19, 22, 20]]
    n = 4
    c1, c2 = 2.0 / 3.0 - 2.0 / 31.0, 2.0 / 31.0
    prev = vals[n - 1]
    expected = []
    for t in range(n, len(vals)):
        dsum = 0.0
        for i in range(t - n + 1, t + 1):
            dsum += abs(vals[i] - vals[i - 1])
        num = abs(vals[t] - vals[t - n])
        er = 0.0 if dsum == 0.0 else num / dsum
        m = er * c1 + c2
        prev = (vals[t] - prev) * (m * m) + prev
        expected.append(prev)
    path = _tiny_store(spark, tmp_path, vals)
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> kaufmansAMA(n: 4)', {"b": path}
    ).collect()
    got = [r["_value"] for r in sorted(out, key=lambda r: r["_time"])]
    assert got == expected and len(got) == len(vals) - n
    # flat series: every window has dsum == 0 → ER pinned to 0, and the
    # update is (x − prev)·sc + prev = prev = the constant
    flat = _tiny_store(spark, tmp_path / "f", [5.0] * 8)
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> kaufmansAMA(n: 3)', {"b": flat}
    ).collect()
    assert [r["_value"] for r in out] == [5.0] * 5
    # series shorter than n+1 emit nothing
    short = _tiny_store(spark, tmp_path / "sh", vals[:n])
    out = flux.compile_flux(
        spark, 'from(bucket: "b") |> kaufmansAMA(n: 4)', {"b": short}
    ).collect()
    assert out == []


def test_events_duration_values(spark, tmp_path):
    """events.duration: gap to the next record per table, the last
    record closed by stop: (explicit or the range stop); unit
    truncates toward zero; every record keeps its row."""
    # rows at minutes 0, 3, 4, 10 (values irrelevant)
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (t0 + datetime.timedelta(minutes=m), "events", "click", float(m))
        for m in [0, 3, 4, 10]
    ]
    df = spark.createDataFrame(
        rows, "t timestamp, m string, f string, v double"
    ).select(
        F.col("t").alias("_time"),
        F.col("m").alias("_measurement"),
        F.col("f").alias("_field"),
        F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    path = str(tmp_path / "evd")
    bkt.write_bucket(df, path, mode="overwrite")
    # explicit stop at minute 15 → last duration 5 minutes = 300 s
    out = flux.compile_flux(
        spark,
        'import "contrib/tomhollingworth/events"\n'
        'from(bucket: "b")\n'
        '  |> events.duration(unit: 1s, stop: "2024-01-01T00:15:00Z")',
        {"b": path},
    ).collect()
    got = {r["_value"]: r["duration"] for r in out}
    assert got == {0.0: 180, 3.0: 60, 4.0: 360, 10.0: 300}
    # range stop is the default stop; unit: 1m divides; columnName
    out = flux.compile_flux(
        spark,
        'import "contrib/tomhollingworth/events"\n'
        'from(bucket: "b")\n'
        '  |> range(start: "2024-01-01T00:00:00Z", stop: "2024-01-01T00:30:00Z")\n'
        '  |> events.duration(unit: 1m, columnName: "span")',
        {"b": path},
    ).collect()
    got = {r["_value"]: r["span"] for r in out}
    assert got == {0.0: 3, 3.0: 1, 4.0: 6, 10.0: 20}
    # no stop anywhere → raises naming the need
    with pytest.raises(flux.FluxError, match="stop"):
        flux.compile_flux(
            spark,
            'import "contrib/tomhollingworth/events"\n'
            'from(bucket: "b") |> events.duration(unit: 1s)',
            {"b": path},
        )
    # stopColumn is outside the subset (no _stop column materialized)
    with pytest.raises(flux.FluxError, match="stopColumn"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> events.duration(stopColumn: "_stop")',
            {"b": path},
        )
    # an explicit stop BEFORE the last record: the last duration is
    # negative, truncated TOWARD ZERO (upstream Flux's int duration
    # division) — −90 s at unit 1m is −1, not floor's −2. The
    # registered oracle's `//` is floor and coincides with this only
    # on non-negative durations, which its range-stop bound guarantees.
    out = flux.compile_flux(
        spark,
        'import "contrib/tomhollingworth/events"\n'
        'from(bucket: "b")\n'
        '  |> events.duration(unit: 1m, stop: "2024-01-01T00:08:30Z")',
        {"b": path},
    ).collect()
    got = {r["_value"]: r["duration"] for r in out}
    assert got[10.0] == -1  # (8.5 − 10) min → −1.5 min → toward zero


def test_interpolate_linear_values(spark, tmp_path):
    """interpolate.linear: raw rows unchanged; epoch-aligned grid rows
    strictly inside the span interpolate between brackets; grid points
    colliding with raw timestamps are NOT duplicated; duplicate raw
    timestamps interpolate off the MAX value (the documented tie)."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (t0 + datetime.timedelta(minutes=m), "events", "click", v)
        for m, v in [(0, 10.0), (5, 20.0), (6, 21.0), (13, 41.0)]
    ]
    # duplicate timestamp at minute 5 with a LOWER value — the MAX (20)
    # must drive interpolation while both raw rows pass through
    rows.append((t0 + datetime.timedelta(minutes=5), "events", "click", 2.0))
    df = spark.createDataFrame(
        rows, "t timestamp, m string, f string, v double"
    ).select(
        F.col("t").alias("_time"),
        F.col("m").alias("_measurement"),
        F.col("f").alias("_field"),
        F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    path = str(tmp_path / "itp")
    bkt.write_bucket(df, path, mode="overwrite")
    out = flux.compile_flux(
        spark,
        'import "interpolate"\n'
        'from(bucket: "b") |> interpolate.linear(every: 2m)',
        {"b": path},
    ).collect()
    got = sorted((r["_time"].minute, r["_value"]) for r in out)
    # raw rows: 0, 5(×2), 6, 13; grid 2m marks inside (0, 13): 2, 4, 8,
    # 10, 12 (0 and 6 collide with raw rows; 13 is not a mark)
    assert got == [
        (0, 10.0),
        (2, 14.0),           # 10 + (20−10)·(2/5)
        (4, 18.0),
        (5, 2.0),
        (5, 20.0),
        (6, 21.0),
        (8, 21.0 + 20.0 * (2.0 / 7.0)),
        (10, 21.0 + 20.0 * (4.0 / 7.0)),
        (12, 21.0 + 20.0 * (6.0 / 7.0)),
        (13, 41.0),
    ]
    # a single-point series has no interior — passes through untouched
    single = _tiny_store(spark, tmp_path / "one", [7.0])
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> interpolate.linear(every: 1m)',
        {"b": single},
    ).collect()
    assert len(out) == 1 and out[0]["_value"] == 7.0
    # every: is required
    with pytest.raises(flux.FluxError, match="every"):
        flux.compile_flux(
            spark, 'from(bucket: "b") |> interpolate.linear()', {"b": path}
        )
    # interpolate |> aggregateWindow: the regularize-then-window chain
    # runs over the densified series — the 4m-window means include the
    # inserted 2m marks
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> interpolate.linear(every: 2m) '
        "|> aggregateWindow(every: 4m, fn: count)",
        {"b": path},
    ).collect()
    # densified rows per 4m window: [0,4): 0,2(i); [4,8): 4(i),5,5,6;
    # [8,12): 8(i),10(i); [12,16): 12(i),13
    got = {r["window_start"].minute: r["count"] for r in out}
    assert got == {0: 2, 4: 4, 8: 2, 12: 2}
    # ... and |> last() selects the final densified point
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> interpolate.linear(every: 2m) |> last()',
        {"b": path},
    ).collect()
    assert len(out) == 1 and out[0]["last_value"] == 41.0
    # a second TRANSFORM still raises
    with pytest.raises(flux.FluxError, match="outside"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> interpolate.linear(every: 2m) '
            "|> derivative(unit: 1s)",
            {"b": path},
        )


def test_reduce_additive_fold(spark, tmp_path):
    """reduce(): the additive subset folds identity + Σ poly(r) per
    accumulator field — sum, sum of squares, count in one pass; both
    accumulator positions parse; self-reference and cross-field
    accumulator expressions raise."""
    vals = [1.0, 2.0, 4.0, 3.0, 5.5]
    path = _tiny_store(spark, tmp_path, vals)
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> reduce(fn: (r, accumulator) => ({'
        " total: accumulator.total + r._value,"
        " sq: r._value * r._value + accumulator.sq,"
        " cnt: accumulator.cnt + 1.0"
        " }), identity: {total: 10.0, sq: 0.0, cnt: 0.0})",
        {"b": path},
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["total"] == 10.0 + sum(vals)
    assert r["sq"] == sum(v * v for v in vals)
    assert r["cnt"] == float(len(vals))
    assert r["_measurement"] == "events" and r["_field"] == "click"
    # rejections: a cross-field reference to a field OUTSIDE the
    # record, identity/fn field mismatch, and — in a structurally-
    # ADDITIVE record (every field folds itself) — the strict
    # exact-decimal factor rule (review r11b pins)
    for bad, msg in [
        (
            "reduce(fn: (r, accumulator) => ({ s: accumulator.s + r._value,"
            " avg: (accumulator.s + r._value) / accumulator.n }),"
            " identity: {s: 0.0, avg: 0.0})",
            "unknown accumulator field",
        ),
        (
            "reduce(fn: (r, accumulator) => ({ s: accumulator.s + r._value }),"
            " identity: {other: 0.0})",
            "identity fields must match",
        ),
        (
            "reduce(fn: (r, accumulator) => ({ s: accumulator.s + r._value /"
            " 2.0 }), identity: {s: 0.0})",
            "factors",
        ),
    ]:
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux(spark, f'from(bucket: "b") |> {bad}', {"b": path})


def test_reduce_cross_field_fold(spark, tmp_path):
    """reduce() cross-field fragment (round 12, VERDICT r11 item 3):
    record-constructor semantics — every field evaluates against the
    PREVIOUS accumulator — folded per table in (_time, _value) order
    on the Arrow kernel. Pins: (a) the incremental-mean idiom; (b)
    OLD-accumulator evaluation (lagsum sums the PRE-increment counter);
    (c) a multiplicative self-fold (non-additive structure routes to
    the fold); (d) SQL NULL propagation — x/0 → NULL and NULL op x →
    NULL, DuckDB's own double semantics; (e) keyless group() raises;
    (f) grammar rejections name the token."""
    vals = [1.0, 2.0, 4.0, 3.0, 5.5]
    path = _tiny_store(spark, tmp_path, vals)
    # (a) incremental mean + (b) old-accumulator proof in one record
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> reduce(fn: (r, accumulator) => ({'
        " cnt: accumulator.cnt + 1.0,"
        " avg: (accumulator.avg * accumulator.cnt + r._value)"
        " / (accumulator.cnt + 1.0),"
        " lagsum: accumulator.lagsum + accumulator.cnt"
        " }), identity: {cnt: 0.0, avg: 0.0, lagsum: 0.0})",
        {"b": path},
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["cnt"] == 5.0
    assert r["avg"] == pytest.approx(sum(vals) / 5.0)
    # lagsum adds the PRE-increment counter: 0+1+2+3+4 = 10 (15 would
    # mean the NEW record leaked into the same row's evaluation)
    assert r["lagsum"] == 10.0
    # (c) multiplicative self-fold
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> reduce(fn: (r, accumulator) => '
        "({ p: accumulator.p * r._value }), identity: {p: 1.0})",
        {"b": path},
    ).collect()
    assert out[0]["p"] == 1.0 * 2.0 * 4.0 * 3.0 * 5.5
    # (d) division by zero → NULL, and NULL propagates to the end
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> reduce(fn: (r, accumulator) => '
        "({ q: accumulator.q / 0.0 }), identity: {q: 1.0})",
        {"b": path},
    ).collect()
    assert out[0]["q"] is None
    # (e) keyless: a global sequential fold is a scale trap
    with pytest.raises(flux.FluxError, match="outside the subset"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> group() |> reduce(fn: (r, accumulator)'
            " => ({ a: accumulator.b, b: accumulator.a }),"
            " identity: {a: 0.0, b: 1.0})",
            {"b": path},
        )
    # (f) grammar rejections
    for bad, msg in [
        (
            "reduce(fn: (r, accumulator) => ({ a: -accumulator.a }),"
            " identity: {a: 0.0})",
            "unary minus|cannot parse|expected a value",
        ),
        (
            "reduce(fn: (r, accumulator) => ({ a: exp(accumulator.a) }),"
            " identity: {a: 0.0})",
            "cannot parse",
        ),
        (
            "reduce(fn: (r, accumulator) => ({ a: accumulator.a * r._time }),"
            " identity: {a: 0.0})",
            "cannot parse",
        ),
        (
            # the dangling paren first poisons the arg splitter —
            # either failure mode is a named compile error, never a
            # runtime crash
            "reduce(fn: (r, accumulator) => ({ a: (accumulator.a * 2.0 }),"
            " identity: {a: 0.0})",
            "unbalanced|requires identity",
        ),
    ]:
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux(spark, f'from(bucket: "b") |> {bad}', {"b": path})
    # swap fold: a reads OLD b, b reads OLD a — after 5 rows the pair
    # swapped 5 times (odd → reversed identity)
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> reduce(fn: (r, accumulator) => '
        "({ a: accumulator.b, b: accumulator.a }),"
        " identity: {a: 0.0, b: 1.0})",
        {"b": path},
    ).collect()
    assert (out[0]["a"], out[0]["b"]) == (1.0, 0.0)


def test_timed_moving_average_windowed_emission(spark, tmp_path):
    """timedMovingAverage(every:, period:) — upstream's window |> mean
    composition — equals the sliding aggregateWindow(mean) plan
    exactly; a period that is not a multiple of every raises."""
    vals = [float(v) for v in range(1, 13)]
    path = _tiny_store(spark, tmp_path, vals)
    a = flux.compile_flux(
        spark,
        'from(bucket: "b") |> timedMovingAverage(every: 2m, period: 6m)',
        {"b": path},
    )
    b = flux.compile_flux(
        spark,
        'from(bucket: "b") |> aggregateWindow(every: 2m, period: 6m, fn: mean)',
        {"b": path},
    )
    ra, rb = sorted(map(tuple, a.collect())), sorted(map(tuple, b.collect()))
    assert ra == rb and len(ra) > 0
    with pytest.raises(flux.FluxError, match="multiple of every"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> timedMovingAverage(every: 3m, period: 4m)',
            {"b": path},
        )


def test_downsample_then_rate_composition(spark, tmp_path):
    """aggregateWindow(fn: <selector>) |> derivative/difference/
    cumulativeSum/increase — the downsample-then-rate idiom: the
    selector aggregate runs first, the transform over its
    (window_start, value) series; computed aggregates and non-tumbling
    windows raise."""
    # counter with a reset at index 7
    vals = [0.0, 10.0, 25.0, 30.0, 42.0, 50.0, 61.0, 5.0, 18.0, 30.0, 44.0, 58.0]
    path = _tiny_store(spark, tmp_path, vals)
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> aggregateWindow(every: 2m, fn: last)'
        " |> derivative(unit: 1s, nonNegative: true)",
        {"b": path},
    ).collect()
    got = [
        (r["_time"].minute, r["_value"], r["derivative"])
        for r in sorted(out, key=lambda r: r["_time"])
    ]
    # hourly... window lasts: win(0-2)=10, win(2-4)=30, win(4-6)=50,
    # win(6-8)=5 (reset), win(8-10)=30, win(10-12)=58; first dropped
    assert got == [
        (2, 30.0, (30.0 - 10.0) / 120.0),
        (4, 50.0, (50.0 - 30.0) / 120.0),
        (6, 5.0, 5.0 / 120.0),  # reset: delta = current value
        (8, 30.0, (30.0 - 5.0) / 120.0),
        (10, 58.0, (58.0 - 30.0) / 120.0),
    ]
    # increase keeps the first window with 0 (initialZero)
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> aggregateWindow(every: 2m, fn: last)'
        " |> increase()",
        {"b": path},
    ).collect()
    got = [r["_value"] for r in sorted(out, key=lambda r: r["_time"])]
    assert got == [0.0, 20.0, 40.0, 45.0, 70.0, 98.0]
    # difference over window maxes drops the first window
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> aggregateWindow(every: 2m, fn: max)'
        " |> difference()",
        {"b": path},
    ).collect()
    got = [r["_value"] for r in sorted(out, key=lambda r: r["_time"])]
    assert got == [20.0, 20.0, 11.0, -31.0, 28.0]
    # computed aggregates / non-tumbling forms / a trailing last() raise
    for bad, msg in [
        (
            "aggregateWindow(every: 2m, fn: mean) |> derivative(unit: 1s)",
            "selector fns",
        ),
        (
            "aggregateWindow(every: 2m, fn: last, createEmpty: true)"
            " |> increase()",
            "tumbling",
        ),
        (
            "aggregateWindow(every: 2m, period: 4m, fn: last)"
            " |> difference()",
            "tumbling",
        ),
        (
            "aggregateWindow(every: 1mo, fn: last) |> difference()",
            "tumbling",
        ),
        (
            "aggregateWindow(every: 2m, fn: last) |> derivative(unit: 1s)"
            " |> last()",
            "outside",
        ),
    ]:
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux(spark, f'from(bucket: "b") |> {bad}', {"b": path})


def test_contains_predicate(spark, tmp_path):
    """contains(value:, set:): the multi-select variable idiom — IN
    semantics, list-literal and whole-list v.NAME forms, In() pushed
    into the parquet scan; empty sets and wrong arg order raise."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for fld, n in [("click", 5), ("view", 3), ("error", 4)]:
        rows += [
            (t0 + datetime.timedelta(minutes=i), "events", fld, float(i))
            for i in range(n)
        ]
    df = spark.createDataFrame(
        rows, "t timestamp, m string, f string, v double"
    ).select(
        F.col("t").alias("_time"),
        F.col("m").alias("_measurement"),
        F.col("f").alias("_field"),
        F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    path = str(tmp_path / "cst")
    bkt.write_bucket(df, path, mode="overwrite")
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => '
        'contains(value: r["_field"], set: ["click", "view"])) |> count()',
        {"b": path},
    ).collect()
    assert {(r["_field"], r["count"]) for r in out} == {("click", 5), ("view", 3)}
    # whole-list dashboard variable
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => '
        "contains(value: r._field, set: v.fields)) |> count()",
        {"b": path},
        {"fields": ["error"]},
    ).collect()
    assert {(r["_field"], r["count"]) for r in out} == {("error", 4)}
    # the In predicate reaches the parquet scan
    plan = (
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> filter(fn: (r) => '
            'contains(value: r["_field"], set: ["click", "view"]))',
            {"b": path},
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "In(_field" in plan
    for bad, msg in [
        ('contains(value: r["_field"], set: [])', "empty"),
        ('contains(set: ["a"], value: r["_field"])', "value"),
        ('contains(value: r["_field"], set: v.fields)', "list param"),
    ]:
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux(
                spark,
                f'from(bucket: "b") |> filter(fn: (r) => {bad})',
                {"b": path},
                {"fields": "notalist"},
            )


def test_join_method_left_right_full(spark, tmp_path):
    """join(method:): left/right/full map onto Spark's outer joins —
    the unmatched side carries nulls; an unknown method raises."""
    vals = [float(v) for v in range(1, 9)]
    path = _tiny_store(spark, tmp_path, vals)
    script = """
    a = from(bucket: "b") |> range(start: "2024-01-01T00:00:00Z", stop: "2024-01-01T00:08:00Z") |> aggregateWindow(every: 2m, fn: mean)
    b = from(bucket: "b") |> range(start: "2024-01-01T00:00:00Z", stop: "2024-01-01T00:04:00Z") |> aggregateWindow(every: 2m, fn: mean)
    join(tables: {a: a, b: b}, on: ["window_start"], method: "%s")
    """
    left = flux.compile_flux(spark, script % "left", {"b": path}).collect()
    assert len(left) == 4  # every a window kept
    assert sum(1 for r in left if r["mean_b"] is None) == 2
    inner = flux.compile_flux(spark, script % "inner", {"b": path}).collect()
    assert len(inner) == 2
    full = flux.compile_flux(spark, script % "full", {"b": path}).collect()
    assert len(full) == 4  # b ⊂ a windows
    right = flux.compile_flux(spark, script % "right", {"b": path}).collect()
    assert len(right) == 2
    with pytest.raises(flux.FluxError, match="method"):
        flux.compile_flux(spark, script % "cross", {"b": path})


def test_windowed_quantile_lambda(spark, tmp_path):
    """aggregateWindow(fn: (column, tables=<-) => tables |> quantile(q:))
    — the p99-per-window lambda: exact_selector with Flux's rank
    convention per (window, table); sliding/offset/exact_mean raise."""
    vals = [5.0, 9.0, 1.0, 7.0, 3.0, 20.0, 24.0, 22.0, 28.0, 26.0]
    path = _tiny_store(spark, tmp_path, vals)
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> aggregateWindow(every: 5m, '
        "fn: (column, tables=<-) => tables |> quantile(q: 0.5))",
        {"b": path},
    ).collect()
    got = {
        (r["window_start"].minute, r["quantile"], r["n"]) for r in out
    }
    # p50 rank = max(round(0.5·5), 1) = 3 → 3rd smallest per window
    assert got == {(0, 5.0, 5), (5, 24.0, 5)}
    # q0.9 rank = round(4.5) = 5 half-away-from-zero → the max
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> aggregateWindow(every: 5m, '
        'fn: (column, tables=<-) => tables |> quantile(q: 0.9, '
        'method: "exact_selector"))',
        {"b": path},
    ).collect()
    assert {(r["window_start"].minute, r["quantile"]) for r in out} == {
        (0, 9.0),
        (5, 28.0),
    }
    for bad, msg in [
        (
            "aggregateWindow(every: 5m, fn: (column, tables=<-) => "
            'tables |> quantile(q: 0.5, method: "exact_mean"))',
            "exact_selector",
        ),
        (
            "aggregateWindow(every: 5m, period: 10m, fn: (column, "
            "tables=<-) => tables |> quantile(q: 0.5))",
            "period",
        ),
        (
            "aggregateWindow(every: 5m, offset: 1m, fn: (column, "
            "tables=<-) => tables |> quantile(q: 0.5))",
            "offset",
        ),
        (
            "aggregateWindow(every: 5m, fn: (column, tables=<-) => "
            "tables |> quantile(q: 1.5))",
            "0, 1",
        ),
    ]:
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux(spark, f'from(bucket: "b") |> {bad}', {"b": path})


def test_round11b_review_fixes(spark, tmp_path):
    """The round-11b structured-review findings, each pinned:
    (a) TRIX over an all-zero series yields NULLs, not a kernel crash;
    (b) group() |> reduce() compiles (a safe key-less partial agg);
    (c) a /regex/ with an unbalanced bracket does not eat the next
        stage boundary (regex-aware splitting);
    (d) reduce literals beyond the decimal(12,2) domain raise, and a
        duplicate identity field raises;
    (e) events.duration keeps null-_value records (record-based)."""
    # (a) zero series: e3 is identically 0 → every TRIX denominator 0
    zeros = _tiny_store(spark, tmp_path / "z", [0.0] * 10)
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> tripleExponentialDerivative(n: 2)',
        {"b": zeros},
    ).collect()
    assert len(out) == 10 - (3 * 1 + 1) and all(r["_value"] is None for r in out)
    # (b) key-less reduce
    path = _tiny_store(spark, tmp_path / "r", [1.0, 2.0, 3.0])
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> group() |> reduce(fn: (r, accumulator) => '
        "({ s: accumulator.s + r._value }), identity: {s: 0.0})",
        {"b": path},
    ).collect()
    assert len(out) == 1 and out[0]["s"] == 6.0
    # (c) unbalanced bracket CHARACTER inside a regex literal (a valid
    # Java regex — the bracket is escaped regex syntax, but the raw
    # source character used to poison the splitter's depth counter)
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] =~ /^\\[/)'
        " |> count()",
        {"b": path},
    ).collect()
    assert out == []  # no field starts with '[' — but it COMPILED
    out = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] =~ /^\\[?cl/)'
        " |> count()",
        {"b": path},
    ).collect()
    assert [r["count"] for r in out] == [3]
    # (d) out-of-domain literal and duplicate identity
    with pytest.raises(flux.FluxError, match="decimal"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> reduce(fn: (r, accumulator) => '
            "({ s: accumulator.s + r._value * 100000000000.0 }), "
            "identity: {s: 0.0})",
            {"b": path},
        )
    with pytest.raises(flux.FluxError, match="duplicate"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> reduce(fn: (r, accumulator) => '
            "({ s: accumulator.s + r._value }), "
            "identity: {s: 0.0, s: 100.0})",
            {"b": path},
        )
    # (e) a null-_value record keeps its row and its duration
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (t0 + datetime.timedelta(minutes=m), "events", "click", v)
        for m, v in [(0, 1.0), (2, None), (5, 2.0)]
    ]
    df = spark.createDataFrame(
        rows, "t timestamp, m string, f string, v double"
    ).select(
        F.col("t").alias("_time"),
        F.col("m").alias("_measurement"),
        F.col("f").alias("_field"),
        F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    npath = str(tmp_path / "nulls")
    bkt.write_bucket(df, npath, mode="overwrite")
    out = flux.compile_flux(
        spark,
        'import "contrib/tomhollingworth/events"\n'
        'from(bucket: "b")\n'
        '  |> events.duration(unit: 1m, stop: "2024-01-01T00:10:00Z")',
        {"b": npath},
    ).collect()
    got = sorted((r["_time"].minute, r["_value"], r["duration"]) for r in out)
    assert got == [(0, 1.0, 2), (2, None, 3), (5, 2.0, 5)]


def test_compile_flux_stream_equals_batch(spark, store, tmp_path):
    """compile_flux_stream: the SAME dashboard text over a file-arrival
    stream emits windows bit-identical to the batch compiler (append
    mode, availableNow drain; the final open window — whose end the
    watermark never passes — is the one legitimate difference).
    Raw (no-aggregate) form passes records through; out-of-subset
    stages raise naming the streaming subset."""
    text = """
    from(bucket: "gas-quality")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
      |> filter(fn: (r) => r["_measurement"] == "events")
      |> filter(fn: (r) => r["_field"] == "click")
      |> aggregateWindow(every: 6h, fn: mean)
    """
    live = flux.compile_flux_stream(
        spark, text, {"gas-quality": store}, watermark="0 seconds"
    )
    assert live.isStreaming
    q = (
        live.writeStream.format("memory")
        .queryName("flux_live")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["window_start"], r["_field"]): (r["mean"], r["n"])
        for r in spark.sql("SELECT * FROM flux_live").collect()
    }
    batch = flux.compile_flux(spark, text, {"gas-quality": store}).collect()
    max_t = max(r["window_start"] for r in batch)
    expected = {
        (r["window_start"], r["_field"]): (r["mean"], r["n"])
        for r in batch
        if r["window_start"] < max_t  # the final window stays open
    }
    assert expected and all(got[k] == v for k, v in expected.items())
    # the raw live-table form is a record stream
    raw = flux.compile_flux_stream(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")',
        {"b": store},
    )
    assert raw.isStreaming and set(raw.columns) == {
        "_measurement", "_field", "_time", "_value",
    }
    # out-of-subset stages raise naming the streaming subset
    for bad, msg in [
        # stream-proportional / whole-range state — still a batch
        # query's job; the O(1)-state smoothing family
        # (EMA/ETMA/DEMA/TEMA/RSI/TRIX) streams since round 13,
        # kaufmansAMA (bounded n+1-value list state) since round 14
        # (keyed state, tests further below), derivative() since
        # round 12
        # holtWinters' own rejection names the REAL blocker (round 14
        # written rejection): bounded recurrence state, but forecast
        # rows anchored to the stream's moving end — append mode
        # cannot retract them
        ('from(bucket: "b") |> holtWinters(n: 5, interval: 1h)',
         "retracts previously-emitted forecast"),
        # movingAverage(n:) streams since round 14 (bounded-list
        # state); the bare TIME-frame form stays out — its buffer is
        # data-rate-dependent, not bounded by a dashboard constant
        ('from(bucket: "b") |> timedMovingAverage(period: 2h)',
         "data-rate-dependent"),
        ('from(bucket: "b") |> aggregateWindow(every: 1h, fn: median)',
         "STREAMING subset"),
        ('from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean, '
         "createEmpty: true)", "append mode"),
        # calendar strides STREAM since round 15 (the date_trunc'd
        # key carries the watermark itself) — but only the plain
        # tumbling form: sliding/shifted compositions keep the batch
        # compiler's own rejections
        ('from(bucket: "b") |> aggregateWindow(every: 1mo, fn: mean, '
         "period: 2mo)", "do not compose with calendar"),
        ('from(bucket: "b") |> aggregateWindow(every: 1mo, fn: mean, '
         'timeSrc: "_stop")', "not a fixed shift"),
        # a non-1mo/1y calendar token never parses as a duration value
        ('from(bucket: "b") |> aggregateWindow(every: 2mo, fn: mean)',
         "unsupported value token"),
    ]:
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux_stream(spark, bad, {"b": store})


def test_compile_flux_stream_gauge_last_equals_batch(spark, store, tmp_path):
    """The live stat-panel GAUGE (round 12): ``aggregateWindow(fn:
    last)`` streams as an append-mode max_by selector under the
    watermark, and every finalized window is bit-identical to the
    batch compiler — the expression is _plain_agg_expr's, ONE
    definition for both paths. A BARE last() raises pointing at the
    windowed gauge form (unwindowed aggregates never finalize in
    append mode)."""
    text = """
    from(bucket: "gas-quality")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
      |> filter(fn: (r) => r["_measurement"] == "events")
      |> aggregateWindow(every: 6h, fn: last)
      |> yield(name: "gauge")
    """
    live = flux.compile_flux_stream(
        spark, text, {"gas-quality": store}, watermark="0 seconds"
    )
    assert live.isStreaming
    q = (
        live.writeStream.format("memory")
        .queryName("flux_gauge")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_gauge"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["window_start"], r["_field"]): (r["gauge"], r["n"])
        for r in spark.sql("SELECT * FROM flux_gauge").collect()
    }
    batch = flux.compile_flux(spark, text, {"gas-quality": store}).collect()
    max_t = max(r["window_start"] for r in batch)
    expected = {
        (r["window_start"], r["_field"]): (r["gauge"], r["n"])
        for r in batch
        if r["window_start"] < max_t  # the final window stays open
    }
    assert expected and all(got[k] == v for k, v in expected.items())
    # several distinct gauge values must exist (a constant series
    # would let a wrong selector pass by accident)
    assert len({v[0] for v in expected.values()}) > 1
    # bare last() points at the windowed gauge form
    with pytest.raises(flux.FluxError, match=r"aggregateWindow\(every:, fn: last\)"):
        flux.compile_flux_stream(
            spark,
            'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click") '
            "|> last()",
            {"b": store},
        )


def test_compile_flux_stream_alert_filter_equals_batch(spark, store, tmp_path):
    """Round 12c: the LIVE ALERT — ``aggregateWindow |> filter(fn: (r)
    => r._value > X)`` is a stateless row filter over the append-mode
    aggregate output, so the Grafana alert-threshold panel streams.
    Emitted rows are bit-identical to the batch compiler's postfilter
    on the same text (same r._value remap onto the aggregate's value
    column); a reference to a column the output frame lacks raises
    naming the frame."""
    probe = """
    from(bucket: "gas-quality")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
      |> filter(fn: (r) => r["_measurement"] == "events")
      |> filter(fn: (r) => r["_field"] == "click")
      |> aggregateWindow(every: 6h, fn: mean)
    """
    vals = sorted(
        r["mean"]
        for r in flux.compile_flux(spark, probe, {"gas-quality": store}).collect()
    )
    thr = vals[len(vals) // 2]  # a median threshold splits the windows
    text = probe + f"  |> filter(fn: (r) => r._value > {thr!r})\n"
    live = flux.compile_flux_stream(
        spark, text, {"gas-quality": store}, watermark="0 seconds"
    )
    assert live.isStreaming
    q = (
        live.writeStream.format("memory")
        .queryName("flux_alert")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_alert"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["window_start"]: (r["mean"], r["n"])
        for r in spark.sql("SELECT * FROM flux_alert").collect()
    }
    batch_all = flux.compile_flux(spark, probe, {"gas-quality": store}).collect()
    max_t = max(r["window_start"] for r in batch_all)
    batch = flux.compile_flux(spark, text, {"gas-quality": store}).collect()
    expected = {
        r["window_start"]: (r["mean"], r["n"])
        for r in batch
        if r["window_start"] < max_t  # the final window stays open
    }
    assert expected and all(got[k] == v for k, v in expected.items())
    # the threshold genuinely filters: fewer alert windows than windows
    assert len(batch) < len(batch_all)
    # an unknown column on the OUTPUT frame raises naming the frame
    with pytest.raises(flux.FluxError, match="unknown column"):
        flux.compile_flux_stream(
            spark,
            'from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean) '
            '|> filter(fn: (r) => r["_start"] > 1.0)',
            {"b": store},
        )
    # the named-column form works on a join input too (keep_window)
    overlay = """
    a = from(bucket: "gas-quality")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
      |> filter(fn: (r) => r["_measurement"] == "events")
      |> filter(fn: (r) => r["_field"] == "click")
      |> aggregateWindow(every: 6h, fn: mean)
      |> filter(fn: (r) => r["mean"] > {thr})
    b = from(bucket: "gas-quality")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
      |> filter(fn: (r) => r["_measurement"] == "events")
      |> filter(fn: (r) => r["_field"] == "view")
      |> aggregateWindow(every: 6h, fn: mean)
    join(tables: {{a: a, b: b}}, on: ["window_start"])
    """.format(thr=repr(thr))
    live2 = flux.compile_flux_stream(
        spark, overlay, {"gas-quality": store}, watermark="0 seconds"
    )
    q2 = (
        live2.writeStream.format("memory")
        .queryName("flux_alert_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_alert_join"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    got2 = {
        r["window_start"]: (r["mean_a"], r["mean_b"])
        for r in spark.sql("SELECT * FROM flux_alert_join").collect()
    }
    batch2 = flux.compile_flux(spark, overlay, {"gas-quality": store}).collect()
    expected2 = {
        r["window_start"]: (r["mean_a"], r["mean_b"])
        for r in batch2
        if r["window_start"] < max_t
    }
    assert expected2 and all(got2[k] == v for k, v in expected2.items())


def test_legacy_window_aggregate_idiom(spark, store):
    """Round 12d: the LEGACY pre-aggregateWindow idiom InfluxDB 2.0's
    Data Explorer generated — ``window(every:) |> <agg>() |>
    window(every: inf)`` — rewrites to the windowed aggregate
    (aggregateWindow IS upstream's sugar for it), byte-identical
    results; the trailing un-window merge is a no-op on the merged-
    frame contract and optional. Finite re-windows after an
    aggregate, bare window(every: inf), and aggregates the idiom
    doesn't cover still raise."""
    for fn in ("mean", "last", "count"):
        legacy = (
            'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click") '
            f"|> window(every: 6h) |> {fn}() |> window(every: inf)"
        )
        modern = (
            'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click") '
            f"|> aggregateWindow(every: 6h, fn: {fn})"
        )
        a = sorted(map(tuple, flux.compile_flux(spark, legacy, {"b": store}).collect()))
        b = sorted(map(tuple, flux.compile_flux(spark, modern, {"b": store}).collect()))
        assert a == b and len(a) > 1, fn
    # the trailing un-window is optional (frames are merged by contract)
    c = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click") '
        "|> window(every: 6h) |> mean()",
        {"b": store},
    )
    assert "window_start" in c.columns
    for bad, msg in (
        ('from(bucket: "b") |> window(every: inf)', "nothing to merge"),
        ('from(bucket: "b") |> window(every: 6h) |> mean() '
         "|> window(every: 5m)", "after an aggregation"),
        ('from(bucket: "b") |> window(every: 6h) |> quantile(q: 0.5)',
         "second aggregation"),
        ('from(bucket: "b") |> window(every: 6h) |> mean(column: "x")',
         "takes no arguments"),
        ('from(bucket: "b") |> window(every: 6h) |> mean() '
         "|> window(every: inf, period: 1h)", "unsupported args"),
        # ADVICE r12 probe: a tail stage INTERPOSED between window()
        # and the bare aggregate must raise, never reorder past the
        # rewritten aggregate (the filter/map/timeShift is recorded as
        # a post-stage, so the tail guard fires before the rewrite)
        ('from(bucket: "b") |> window(every: 6h) '
         '|> filter(fn: (r) => r["_value"] > 0.5) |> mean()',
         "after a sort/limit/keep/drop tail"),
        ('from(bucket: "b") |> window(every: 6h) '
         "|> map(fn: (r) => ({ r with _value: r._value * 2.0 })) "
         "|> mean()", "after a sort/limit/keep/drop tail"),
        ('from(bucket: "b") |> window(every: 6h) '
         "|> timeShift(duration: 1h) |> mean()",
         "after a sort/limit/keep/drop tail"),
        ('from(bucket: "b") |> window(every: 6h) |> sort() |> last()',
         "after a sort/limit/keep/drop tail"),
    ):
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux(spark, bad, {"b": store})


def test_aggregate_window_time_src(spark, store, tmp_path):
    """Round 12d: ``aggregateWindow(timeSrc:)`` — "_start" is the
    engine's pinned convention (a no-op), "_stop" is UPSTREAM'S
    DEFAULT labeling: every emitted label shifts to the window end
    (start + period for sliding windows), applied before the tail
    stages so a post filter on window_start tests stop labels.
    Calendar windows and post-aggregate-transform compositions
    raise; so does any other timeSrc value."""
    base = """
    from(bucket: "b")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
      |> filter(fn: (r) => r["_field"] == "click")
      |> aggregateWindow(every: 6h, fn: mean{extra})
    """
    import datetime as dt

    plain = {
        (r["window_start"], r["_field"]): (r["mean"], r["n"])
        for r in flux.compile_flux(
            spark, base.format(extra=""), {"b": store}
        ).collect()
    }
    # explicit "_start" ≡ omitted (byte-identical results)
    start_lbl = {
        (r["window_start"], r["_field"]): (r["mean"], r["n"])
        for r in flux.compile_flux(
            spark, base.format(extra=', timeSrc: "_start"'), {"b": store}
        ).collect()
    }
    assert start_lbl == plain
    # "_stop" shifts every label by exactly the window size
    stop_lbl = {
        (r["window_start"], r["_field"]): (r["mean"], r["n"])
        for r in flux.compile_flux(
            spark, base.format(extra=', timeSrc: "_stop"'), {"b": store}
        ).collect()
    }
    assert stop_lbl == {
        (ws + dt.timedelta(hours=6), f): v for (ws, f), v in plain.items()
    }
    # sliding windows label by start + PERIOD (the window's own end)
    slide = base.format(extra=', period: 12h, timeSrc: "_stop"')
    slide_plain = base.format(extra=", period: 12h")
    got_slide = {
        (r["window_start"], r["_field"]) for r in flux.compile_flux(
            spark, slide, {"b": store}
        ).collect()
    }
    want_slide = {
        (r["window_start"] + dt.timedelta(hours=12), r["_field"])
        for r in flux.compile_flux(spark, slide_plain, {"b": store}).collect()
    }
    assert got_slide == want_slide
    # a post filter on window_start tests STOP labels (user order)
    cut = sorted(ws for ws, _f in stop_lbl)[len(stop_lbl) // 2]
    cut_s = cut.strftime("%Y-%m-%dT%H:%M:%SZ")
    filt = flux.compile_flux(
        spark,
        base.format(extra=', timeSrc: "_stop"')
        + f'  |> filter(fn: (r) => r["window_start"] >= {cut_s!r})\n',
        {"b": store},
    ).collect()
    assert 0 < len(filt) < len(stop_lbl)
    assert all(r["window_start"] >= cut for r in filt)
    # streaming: "_stop" labels equal the batch form's
    stream_text = base.format(extra=', timeSrc: "_stop"').replace(
        'from(bucket: "b")', 'from(bucket: "gas-quality")'
    )
    live = flux.compile_flux_stream(
        spark, stream_text, {"gas-quality": store}, watermark="0 seconds"
    )
    q = (
        live.writeStream.format("memory")
        .queryName("flux_timesrc")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_timesrc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["window_start"], r["_field"]): (r["mean"], r["n"])
        for r in spark.sql("SELECT * FROM flux_timesrc").collect()
    }
    max_t = max(ws for ws, _f in stop_lbl)
    expected = {k: v for k, v in stop_lbl.items() if k[0] < max_t}
    assert expected and all(got[k] == v for k, v in expected.items())
    # rejections
    for bad, msg in (
        (base.format(extra=', timeSrc: "_time"'), "timeSrc"),
        ('from(bucket: "b") |> aggregateWindow(every: 1mo, fn: mean, '
         'timeSrc: "_stop")', "calendar"),
        ('from(bucket: "b") |> aggregateWindow(every: 1h, fn: last, '
         'timeSrc: "_stop") |> difference()', "consumes the window"),
    ):
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux(spark, bad, {"b": store})
    with pytest.raises(flux.FluxError, match="join projects start labels"):
        flux.compile_flux_stream(
            spark,
            'a = from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean, '
            'timeSrc: "_stop")\n'
            'b = from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean)\n'
            'join(tables: {a: a, b: b}, on: ["window_start"])',
            {"b": store},
        )


def test_compile_flux_stream_nested_overlay_equals_batch(
    spark, store, tmp_path
):
    """Round 12d: the STREAMING nested overlay — a join input may BE a
    union assignment (two windowed series unioned, the union joined
    against a third), the batch nested combiner's live form. The
    union is stateless, so the multiple-stateful-operator join pairs
    the concatenated append-mode window states; every emitted row is
    bit-identical to the batch compiler. Mixed specs inside the
    union, two-level nesting, and raw members raise."""
    script = """
    errors = from(bucket: "gas-quality")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
      |> filter(fn: (r) => r["_field"] == "error")
      |> aggregateWindow(every: 6h, fn: mean)
    clicks = from(bucket: "gas-quality")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
      |> filter(fn: (r) => r["_field"] == "click")
      |> aggregateWindow(every: 6h, fn: mean)
    u = union(tables: [errors, clicks])
    views = from(bucket: "gas-quality")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
      |> filter(fn: (r) => r["_field"] == "view")
      |> aggregateWindow(every: 6h, fn: mean)
    join(tables: {u: u, v: views}, on: ["window_start"])
    """
    live = flux.compile_flux_stream(
        spark, script, {"gas-quality": store}, watermark="0 seconds"
    )
    assert live.isStreaming
    q = (
        live.writeStream.format("memory")
        .queryName("flux_nested")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_nested"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["window_start"], r["_field_u"]): (r["mean_u"], r["mean_v"])
        for r in spark.sql("SELECT * FROM flux_nested").collect()
    }
    batch = flux.compile_flux(spark, script, {"gas-quality": store}).collect()
    max_t = max(r["window_start"] for r in batch)
    expected = {
        (r["window_start"], r["_field_u"]): (r["mean_u"], r["mean_v"])
        for r in batch
        if r["window_start"] < max_t  # the final window stays open
    }
    # both union arms (error AND click) pair against views
    assert len({f for (_w, f) in expected}) == 2
    assert expected and all(got[k] == v for k, v in expected.items())
    for bad, msg in (
        # mixed window specs inside the union
        (script.replace(
            '|> filter(fn: (r) => r["_field"] == "click")\n'
            "      |> aggregateWindow(every: 6h, fn: mean)",
            '|> filter(fn: (r) => r["_field"] == "click")\n'
            "      |> aggregateWindow(every: 3h, fn: mean)",
        ), "IDENTICAL"),
        # a raw member (no aggregateWindow)
        (script.replace(
            '|> filter(fn: (r) => r["_field"] == "error")\n'
            "      |> aggregateWindow(every: 6h, fn: mean)",
            '|> filter(fn: (r) => r["_field"] == "error")',
        ), "IDENTICAL|windowed aggregate"),
        # two-level nesting
        (script.replace(
            "u = union(tables: [errors, clicks])",
            "u0 = union(tables: [errors, clicks])\n"
            "    u = union(tables: [u0, clicks])",
        ), "ONE level"),
    ):
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux_stream(spark, bad, {"gas-quality": store})


def test_compile_flux_stream_display_tail_equals_batch(spark, store, tmp_path):
    """Round 12d: post-aggregate ``rename``/``keep``/``drop`` stream as
    display-shaping projections over the append-mode output — the
    batch tail's own validation (unknown columns / rename collisions
    raise naming the frame); pre-aggregate forms raise (re-keying is
    group()'s job)."""
    text = """
    from(bucket: "gas-quality")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
      |> filter(fn: (r) => r["_field"] == "click")
      |> aggregateWindow(every: 6h, fn: mean)
      |> rename(columns: {mean: "value"})
      |> keep(columns: ["window_start", "_field", "value"])
    """
    live = flux.compile_flux_stream(
        spark, text, {"gas-quality": store}, watermark="0 seconds"
    )
    assert live.isStreaming
    assert set(live.columns) == {"window_start", "_field", "value"}
    q = (
        live.writeStream.format("memory")
        .queryName("flux_disp")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_disp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["window_start"], r["_field"]): r["value"]
        for r in spark.sql("SELECT * FROM flux_disp").collect()
    }
    batch = flux.compile_flux(spark, text, {"gas-quality": store}).collect()
    max_t = max(r["window_start"] for r in batch)
    expected = {
        (r["window_start"], r["_field"]): r["value"]
        for r in batch
        if r["window_start"] < max_t
    }
    assert expected and all(got[k] == v for k, v in expected.items())
    # drop form: the n column vanishes
    dropped = flux.compile_flux_stream(
        spark,
        'from(bucket: "b") |> aggregateWindow(every: 6h, fn: mean) '
        '|> drop(columns: ["n"])',
        {"b": store},
    )
    assert "n" not in dropped.columns and "mean" in dropped.columns
    # rejections: pre-aggregate position, unknown column, collision
    for bad, msg in (
        ('from(bucket: "b") |> keep(columns: ["_value"]) '
         "|> aggregateWindow(every: 1h, fn: mean)", "group\\(\\)"),
        ('from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean) '
         '|> drop(columns: ["nope"])', "unknown column"),
        ('from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean) '
         '|> rename(columns: {mean: "n"})', "collide|already exist"),
    ):
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux_stream(spark, bad, {"b": store})


def test_compile_flux_stream_stddev_spread_equals_batch(
    spark, store, tmp_path
):
    """Round 12d: ``aggregateWindow(fn: stddev/spread)`` joins the
    streaming subset — both are map-side-combinable (central moments /
    extrema, bounded state) and share _plain_agg_expr with batch.
    spread is bit-exact; stddev's moment merge is order-sensitive in
    the last ulp, so its cross-path equality is to float tolerance
    (documented — the one non-bit-exact member). median still raises
    (rank aggregates buffer every window value)."""
    import math

    for fn, exact in (("spread", True), ("stddev", False)):
        text = f"""
        from(bucket: "gas-quality")
          |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
          |> filter(fn: (r) => r["_field"] == "click")
          |> aggregateWindow(every: 6h, fn: {fn})
        """
        live = flux.compile_flux_stream(
            spark, text, {"gas-quality": store}, watermark="0 seconds"
        )
        q = (
            live.writeStream.format("memory")
            .queryName(f"flux_{fn}")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ck_{fn}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            r["window_start"]: (r[fn], r["n"])
            for r in spark.sql(f"SELECT * FROM flux_{fn}").collect()
        }
        batch = flux.compile_flux(spark, text, {"gas-quality": store}).collect()
        max_t = max(r["window_start"] for r in batch)
        expected = {
            r["window_start"]: (r[fn], r["n"])
            for r in batch
            if r["window_start"] < max_t
        }
        assert expected and got.keys() >= expected.keys()
        for k, (v, n) in expected.items():
            gv, gn = got[k]
            assert gn == n
            if v is None or gv is None:
                # a single-point window: stddev_samp yields NULL on
                # both paths or neither
                assert gv is None and v is None, (k, gv, v)
            elif exact:
                assert gv == v
            else:
                assert math.isclose(gv, v, rel_tol=1e-9), (k, gv, v)
        # variability genuinely varies across windows
        assert len({v for v, _ in expected.values()}) > 1
    with pytest.raises(flux.FluxError, match="STREAMING subset"):
        flux.compile_flux_stream(
            spark,
            'from(bucket: "b") |> aggregateWindow(every: 1h, fn: median)',
            {"b": store},
        )


def test_postmap_after_aggregate_batch(spark, store):
    """Round 12d: the POST-AGGREGATE ``map()`` — the unit-converted
    aggregate panel (``aggregateWindow |> map(fn: (r) => ({ r with
    _value: r._value * k }))``). The rewrite lands on the OUTPUT
    frame's value column (named after the fn / yield), composes with
    the postfilter in user order, works on bare aggregates, and
    refuses unknown references and ambiguous frames (transforms that
    keep the original _value beside a named result column)."""
    probe = """
    from(bucket: "gas-quality")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
      |> filter(fn: (r) => r["_field"] == "click")
      |> aggregateWindow(every: 6h, fn: mean)
    """
    plain = {
        r["window_start"]: (r["mean"], r["n"])
        for r in flux.compile_flux(spark, probe, {"gas-quality": store}).collect()
    }
    text = probe + "  |> map(fn: (r) => ({ r with _value: r._value * 60.0 + 1.0 }))\n"
    got = {
        r["window_start"]: (r["mean"], r["n"])
        for r in flux.compile_flux(spark, text, {"gas-quality": store}).collect()
    }
    assert got.keys() == plain.keys() and len(got) > 1
    for k, (v, n) in plain.items():
        assert abs(got[k][0] - (float(v) * 60.0 + 1.0)) < 1e-9
        assert got[k][1] == n
    # map THEN filter applies in user order (threshold on mapped units)
    thr = sorted(v for v, _ in got.values())[len(got) // 2]
    filt = flux.compile_flux(
        spark,
        text + f"  |> filter(fn: (r) => r._value > {thr!r})\n",
        {"gas-quality": store},
    ).collect()
    assert 0 < len(filt) < len(got)
    assert all(r["mean"] > thr for r in filt)
    # bare aggregate |> map: the stat-panel unit conversion
    bare = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click") '
        "|> mean() |> map(fn: (r) => ({ r with _value: r._value / 1000.0 }))",
        {"b": store},
    ).collect()
    bare_plain = flux.compile_flux(
        spark,
        'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click") '
        "|> mean()",
        {"b": store},
    ).collect()
    assert len(bare) == len(bare_plain) == 1
    assert abs(bare[0]["mean"] - float(bare_plain[0]["mean"]) / 1000.0) < 1e-12
    # formatting invariance: the bracketed layout with interior
    # whitespace remaps exactly like the dotted form (the postfilter's
    # own normalization rule)
    spaced = probe + (
        '  |> map(fn: (r) => ({ r with _value: r[ "_value" ] * 60.0'
        " + 1.0 }))\n"
    )
    got_spaced = {
        r["window_start"]: (r["mean"], r["n"])
        for r in flux.compile_flux(spark, spaced, {"gas-quality": store}).collect()
    }
    assert got_spaced == got
    # rejections: unknown reference names the frame; transforms that
    # keep the original _value refuse the ambiguous r._value rewrite
    with pytest.raises(flux.FluxError, match="unknown column"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean) '
            "|> map(fn: (r) => ({ r with _value: r.nope * 2.0 }))",
            {"b": store},
        )
    with pytest.raises(flux.FluxError, match="ambiguous"):
        flux.compile_flux(
            spark,
            'from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click") '
            "|> derivative(unit: 1s) "
            "|> map(fn: (r) => ({ r with _value: r._value * 2.0 }))",
            {"b": store},
        )


def test_compile_flux_stream_postmap_equals_batch(spark, store, tmp_path):
    """Round 12d: the live unit-converted panel — ``aggregateWindow |>
    map`` streams as a stateless projection over the append-mode
    aggregate output, bit-identical to the batch tail (ONE shared
    definition: _post_value_map)."""
    text = """
    from(bucket: "gas-quality")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
      |> filter(fn: (r) => r["_field"] == "click")
      |> aggregateWindow(every: 6h, fn: mean)
      |> map(fn: (r) => ({ r with _value: r._value * 60.0 }))
    """
    live = flux.compile_flux_stream(
        spark, text, {"gas-quality": store}, watermark="0 seconds"
    )
    assert live.isStreaming
    q = (
        live.writeStream.format("memory")
        .queryName("flux_postmap")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_postmap"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["window_start"]: (r["mean"], r["n"])
        for r in spark.sql("SELECT * FROM flux_postmap").collect()
    }
    batch = flux.compile_flux(spark, text, {"gas-quality": store}).collect()
    max_t = max(r["window_start"] for r in batch)
    expected = {
        r["window_start"]: (r["mean"], r["n"])
        for r in batch
        if r["window_start"] < max_t  # the final window stays open
    }
    assert expected and all(got[k] == v for k, v in expected.items())
    # an unknown reference raises at compile time, naming the frame
    with pytest.raises(flux.FluxError, match="unknown column"):
        flux.compile_flux_stream(
            spark,
            'from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean) '
            "|> map(fn: (r) => ({ r with _value: r.nope * 2.0 }))",
            {"b": store},
        )


def test_compile_flux_stream_sliding_and_offset_equals_batch(
    spark, store, tmp_path
):
    """Round 12d: ``aggregateWindow(every:, period:)`` (SLIDING) and
    ``offset:`` stream — the batch compiler's own _window_grouping
    struct under the watermark. Finalization rule for overlapping
    windows: a window emits once the watermark passes its END, so the
    streaming==batch comparison excludes every window whose end
    exceeds the max event time (not just the latest start). Mismatched
    specs refuse to join; a period that is not a multiple of every
    raises the batch validation."""
    import datetime as dt

    sliding = """
    from(bucket: "gas-quality")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
      |> filter(fn: (r) => r["_field"] == "click")
      |> aggregateWindow(every: 2h, period: 6h, fn: mean)
    """
    live = flux.compile_flux_stream(
        spark, sliding, {"gas-quality": store}, watermark="0 seconds"
    )
    q = (
        live.writeStream.format("memory")
        .queryName("flux_sliding")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_sliding"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["window_start"], r["_field"]): (r["mean"], r["n"])
        for r in spark.sql("SELECT * FROM flux_sliding").collect()
    }
    batch = flux.compile_flux(spark, sliding, {"gas-quality": store}).collect()
    # the stream's watermark advances to the max event time it SAW —
    # which the range stop bounds, so bound the cutoff the same way
    max_evt = (
        bkt.scan_bucket(
            spark, store, field="click",
            start="2024-01-03 00:00:00", stop="2024-01-06 00:00:00",
        )
        .agg(F.max("_time"))
        .collect()[0][0]
    )
    expected = {
        (r["window_start"], r["_field"]): (r["mean"], r["n"])
        for r in batch
        if r["window_start"] + dt.timedelta(hours=6) <= max_evt
    }
    assert len(expected) > 3 and all(got[k] == v for k, v in expected.items())
    # every emitted window exists in the batch result (no inventions)
    assert set(got) <= {
        (r["window_start"], r["_field"]) for r in batch
    }
    # each row lands in period/every = 3 windows: more sliding windows
    # than tumbling ones over the same range
    tumbling = flux.compile_flux(
        spark,
        sliding.replace(", period: 6h", ""),
        {"gas-quality": store},
    ).count()
    assert len(batch) > tumbling
    # offset: the alignment-shifted form
    shifted = sliding.replace("period: 6h", "offset: 30m")
    live2 = flux.compile_flux_stream(
        spark, shifted, {"gas-quality": store}, watermark="0 seconds"
    )
    q2 = (
        live2.writeStream.format("memory")
        .queryName("flux_offset")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_offset"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    got2 = {
        (r["window_start"], r["_field"]): (r["mean"], r["n"])
        for r in spark.sql("SELECT * FROM flux_offset").collect()
    }
    batch2 = flux.compile_flux(spark, shifted, {"gas-quality": store}).collect()
    max_t2 = max(r["window_start"] for r in batch2)
    expected2 = {
        (r["window_start"], r["_field"]): (r["mean"], r["n"])
        for r in batch2
        if r["window_start"] < max_t2
    }
    assert expected2 and all(got2[k] == v for k, v in expected2.items())
    # offset windows genuinely shift: starts land on :30 boundaries
    assert all(ws.minute == 30 for (ws, _f) in got2)
    # rejections: non-multiple period (batch rule), mismatched join specs
    with pytest.raises(flux.FluxError, match="positive multiple"):
        flux.compile_flux_stream(
            spark,
            'from(bucket: "b") |> aggregateWindow(every: 1h, period: 90m, '
            "fn: mean)",
            {"b": store},
        )
    overlay = """
    a = from(bucket: "b")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
      |> filter(fn: (r) => r["_field"] == "click")
      |> aggregateWindow(every: 2h, period: 6h, fn: mean)
    b = from(bucket: "b")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
      |> filter(fn: (r) => r["_field"] == "view")
      |> aggregateWindow(every: 2h, fn: mean)
    join(tables: {a: a, b: b}, on: ["window_start"])
    """
    with pytest.raises(flux.FluxError, match="window specs differ"):
        flux.compile_flux_stream(spark, overlay, {"b": store})


def test_start_flux_task_runs_to_script(spark, store, tmp_path):
    """start_flux_task: the InfluxDB task loop as a ticker stream —
    one availableNow tick executes the to() script and the target
    bucket equals the batch compiler's write-back; a second run is
    idempotent; relative bounds need a now anchor; a sink-less script
    raises pointing at compile_flux_stream."""
    script = """
    from(bucket: "src")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-05T00:00:00Z")
      |> filter(fn: (r) => r["_measurement"] == "events")
      |> filter(fn: (r) => r["_field"] == "click")
      |> aggregateWindow(every: 1h, fn: mean)
      |> to(bucket: "dst")
    """
    dst = str(tmp_path / "dst_bucket")
    paths = {"src": store, "dst": dst}

    def run_once(ck):
        q = flux.start_flux_task(
            spark, script, paths, checkpoint=str(tmp_path / ck),
            available_now=True,
        )
        q.awaitTermination(180)

    run_once("ck1")
    got = sorted(
        map(tuple, bkt.read_bucket(spark, dst)
            .select("_time", "_field", "_value").collect())
    )
    # the batch write-back produces the same store content
    batch_rows = flux.compile_flux(spark, script, {"src": store,
                                                   "dst": str(tmp_path / "dst2")})
    expected = sorted(
        map(tuple, batch_rows.select("_time", "_field", "_value").collect())
    )
    assert got == expected and len(got) > 0
    # idempotent re-run (fresh checkpoint — a re-submitted task)
    run_once("ck2")
    again = sorted(
        map(tuple, bkt.read_bucket(spark, dst)
            .select("_time", "_field", "_value").collect())
    )
    assert again == got
    # relative bounds demand an anchor
    rel = script.replace(
        'start: "2024-01-03T00:00:00Z", stop: "2024-01-05T00:00:00Z"',
        "start: -2d",
    )
    with pytest.raises(flux.FluxError, match="now"):
        flux.start_flux_task(
            spark, rel, paths, checkpoint=str(tmp_path / "ck3"),
            available_now=True,
        )
    # ... and run with one (per-tick anchor)
    q = flux.start_flux_task(
        spark, rel, paths, checkpoint=str(tmp_path / "ck4"),
        now_fn=lambda: "2024-01-05T00:00:00Z", available_now=True,
    )
    q.awaitTermination(180)
    anchored = bkt.read_bucket(spark, dst).count()
    assert anchored > 0
    # a sink-less script raises pointing at the live-panel entry
    with pytest.raises(flux.FluxError, match="compile_flux_stream"):
        flux.start_flux_task(
            spark,
            'from(bucket: "src") |> last()',
            paths,
            checkpoint=str(tmp_path / "ck5"),
        )


def test_round11b_second_review_fixes(spark, store, tmp_path):
    """Second structured-review pass, each finding pinned:
    (a) a task script with an import header compiles and runs;
    (b) a malformed task script fails AT START even with an anchor;
    (c) compile_flux_stream with to() points at start_flux_task."""
    script = """
    import "interpolate"
    from(bucket: "src")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-04T00:00:00Z")
      |> filter(fn: (r) => r["_field"] == "click")
      |> interpolate.linear(every: 30m)
      |> to(bucket: "dst")
    """
    dst = str(tmp_path / "itp_dst")
    q = flux.start_flux_task(
        spark, script, {"src": store, "dst": dst},
        checkpoint=str(tmp_path / "ck_imp"), available_now=True,
    )
    q.awaitTermination(180)
    assert bkt.read_bucket(spark, dst).count() > 0
    # (b) bogus stage + an anchor: synchronous FluxError, no query starts
    with pytest.raises(flux.FluxError, match="bogusStage"):
        flux.start_flux_task(
            spark,
            'from(bucket: "src") |> range(start: -1d) |> bogusStage() '
            '|> to(bucket: "dst")',
            {"src": store, "dst": dst},
            checkpoint=str(tmp_path / "ck_bogus"),
            now_fn=lambda: "2024-01-05T00:00:00Z",
        )
    # (c) a sink-bearing script to the live-panel entry names the task
    with pytest.raises(flux.FluxError, match="start_flux_task"):
        flux.compile_flux_stream(
            spark,
            'from(bucket: "src") |> aggregateWindow(every: 1h, fn: mean) '
            '|> to(bucket: "dst")',
            {"src": store, "dst": dst},
        )


def test_compile_flux_stream_multi_statement_union(spark, store, tmp_path):
    """Multi-statement streaming: two named pipelines |> union() — the
    live multi-series panel; a streaming join raises naming the batch
    entry; the union's emitted windows equal the batch union."""
    script = """
    a = from(bucket: "b")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
      |> filter(fn: (r) => r["_field"] == "click")
      |> aggregateWindow(every: 12h, fn: mean)
    b = from(bucket: "b")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
      |> filter(fn: (r) => r["_field"] == "view")
      |> aggregateWindow(every: 12h, fn: mean)
    union(tables: [a, b])
    """
    live = flux.compile_flux_stream(
        spark, script, {"b": store}, watermark="0 seconds"
    )
    assert live.isStreaming
    q = (
        live.writeStream.format("memory")
        .queryName("flux_live_union")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cku"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["window_start"], r["_field"]): (r["mean"], r["n"])
        for r in spark.sql("SELECT * FROM flux_live_union").collect()
    }
    batch = flux.compile_flux(spark, script, {"b": store}).collect()
    per_field_max = {}
    for r in batch:
        f = r["_field"]
        per_field_max[f] = max(per_field_max.get(f, r["window_start"]),
                               r["window_start"])
    expected = {
        (r["window_start"], r["_field"]): (r["mean"], r["n"])
        for r in batch
        if r["window_start"] < per_field_max[r["_field"]]
    }
    assert expected and all(got[k] == v for k, v in expected.items())
    assert {k[1] for k in got} == {"click", "view"}
    # a RAW-frame streaming join (no window to pair on) names the
    # batch entry point; mismatched window sizes cannot pair
    with pytest.raises(flux.FluxError, match="WINDOWED aggregates only"):
        flux.compile_flux_stream(
            spark,
            'a = from(bucket: "b") |> filter(fn: (r) => r["_field"] == "click")\n'
            'b = from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean)\n'
            'join(tables: {a: a, b: b}, on: ["window_start"])',
            {"b": store},
        )
    with pytest.raises(flux.FluxError, match="window specs differ"):
        flux.compile_flux_stream(
            spark,
            'a = from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean)\n'
            'b = from(bucket: "b") |> aggregateWindow(every: 2h, fn: mean)\n'
            'join(tables: {a: a, b: b}, on: ["window_start"])',
            {"b": store},
        )
    with pytest.raises(flux.FluxError, match="window_start"):
        flux.compile_flux_stream(
            spark,
            'a = from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean)\n'
            'b = from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean)\n'
            'join(tables: {a: a, b: b}, on: ["_field"])',
            {"b": store},
        )


def test_compile_flux_stream_windowed_join_overlay(spark, store, tmp_path):
    """The LIVE OVERLAY (round 12): two windowed aggregate streams
    joined on the window spine — Spark's multiple-stateful-operator
    window join. Every finalized pair is bit-identical to the batch
    multi-statement join of the same text (same suffixing, same
    expressions); the final open window never pairs."""
    script = """
    a = from(bucket: "gas-quality")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
      |> filter(fn: (r) => r["_measurement"] == "events")
      |> filter(fn: (r) => r["_field"] == "click")
      |> aggregateWindow(every: 6h, fn: mean)
    b = from(bucket: "gas-quality")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
      |> filter(fn: (r) => r["_measurement"] == "events")
      |> filter(fn: (r) => r["_field"] == "error")
      |> aggregateWindow(every: 6h, fn: mean)
    join(tables: {a: a, b: b}, on: ["window_start"])
    """
    live = flux.compile_flux_stream(
        spark, script, {"gas-quality": store}, watermark="0 seconds"
    )
    assert live.isStreaming
    q = (
        live.writeStream.format("memory")
        .queryName("flux_overlay")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_ovl"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM flux_overlay").collect()
    got = {r["window_start"]: (r["mean_a"], r["n_a"], r["mean_b"], r["n_b"])
           for r in rows}
    batch = flux.compile_flux(
        spark, script, {"gas-quality": store}
    ).collect()
    max_t = max(r["window_start"] for r in batch)
    expected = {
        r["window_start"]: (r["mean_a"], r["n_a"], r["mean_b"], r["n_b"])
        for r in batch
        if r["window_start"] < max_t  # the final window stays open
    }
    assert expected and all(got[k] == v for k, v in expected.items())
    assert len({v[0] for v in expected.values()}) > 1


def test_compile_flux_stream_map_timeshift(spark, store, tmp_path):
    """Round 12: map() and timeShift() are STATELESS row ops — they
    join the streaming subset. The live PERIOD-COMPARISON overlay
    (today's windows joined against yesterday's shifted series, with a
    unit conversion on one side) must emit windows bit-identical to
    the batch compiler on the same text; post-aggregate forms raise."""
    script = """
    now = from(bucket: "gas-quality")
      |> range(start: "2024-01-04T00:00:00Z", stop: "2024-01-06T00:00:00Z")
      |> filter(fn: (r) => r["_measurement"] == "events")
      |> filter(fn: (r) => r["_field"] == "click")
      |> map(fn: (r) => ({ r with _value: r._value * 2.0 }))
      |> aggregateWindow(every: 6h, fn: mean)
    prev = from(bucket: "gas-quality")
      |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-05T00:00:00Z")
      |> filter(fn: (r) => r["_measurement"] == "events")
      |> filter(fn: (r) => r["_field"] == "click")
      |> timeShift(duration: 24h)
      |> map(fn: (r) => ({ r with _value: r._value * 2.0 }))
      |> aggregateWindow(every: 6h, fn: mean)
    join(tables: {now: now, prev: prev}, on: ["window_start"])
    """
    live = flux.compile_flux_stream(
        spark, script, {"gas-quality": store}, watermark="0 seconds"
    )
    assert live.isStreaming
    q = (
        live.writeStream.format("memory")
        .queryName("flux_period_cmp")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_pc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["window_start"]: (r["mean_now"], r["n_now"],
                            r["mean_prev"], r["n_prev"])
        for r in spark.sql("SELECT * FROM flux_period_cmp").collect()
    }
    batch = flux.compile_flux(
        spark, script, {"gas-quality": store}
    ).collect()
    max_t = max(r["window_start"] for r in batch)
    expected = {
        r["window_start"]: (r["mean_now"], r["n_now"],
                            r["mean_prev"], r["n_prev"])
        for r in batch
        if r["window_start"] < max_t
    }
    assert expected and all(got[k] == v for k, v in expected.items())
    # the shifted side genuinely differs from the unshifted one
    assert any(v[0] != v[2] for v in expected.values())
    # post-aggregate timeShift still raises naming the subset
    # (post-aggregate map STREAMS since round 12d —
    # test_compile_flux_stream_postmap_equals_batch)
    with pytest.raises(flux.FluxError, match="STREAMING subset"):
        flux.compile_flux_stream(
            spark,
            'from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean) '
            "|> timeShift(duration: 1h)",
            {"b": store},
        )


def test_compile_flux_stream_group_rekey(spark, store, tmp_path):
    """Round 12: group() re-keys the streaming windowed aggregate (the
    'per field' / merged-global dashboard rollup) — emitted windows
    bit-identical to the batch compiler; group() before a value-series
    transform raises (key-less per-point state is a scale trap), and
    group() after aggregateWindow raises."""
    for sub, text in [
        ("bytype", """
            from(bucket: "gas-quality")
              |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
              |> filter(fn: (r) => r["_measurement"] == "events")
              |> group(columns: ["_field"])
              |> aggregateWindow(every: 6h, fn: mean)
            """),
        ("merged", """
            from(bucket: "gas-quality")
              |> range(start: "2024-01-03T00:00:00Z", stop: "2024-01-06T00:00:00Z")
              |> filter(fn: (r) => r["_measurement"] == "events")
              |> group()
              |> aggregateWindow(every: 6h, fn: sum)
            """),
    ]:
        live = flux.compile_flux_stream(
            spark, text, {"gas-quality": store}, watermark="0 seconds"
        )
        assert live.isStreaming
        qn = f"flux_grp_{sub}"
        q = (
            live.writeStream.format("memory")
            .queryName(qn)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ck_{sub}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        key = (lambda r: (r["window_start"], r["_field"])) if sub == "bytype" \
            else (lambda r: r["window_start"])
        val = (lambda r: (r["mean"], r["n"])) if sub == "bytype" \
            else (lambda r: (r["sum"], r["n"]))
        got = {key(r): val(r) for r in spark.sql(f"SELECT * FROM {qn}").collect()}
        batch = flux.compile_flux(spark, text, {"gas-quality": store}).collect()
        max_t = max(r["window_start"] for r in batch)
        expected = {
            key(r): val(r) for r in batch if r["window_start"] < max_t
        }
        assert expected and all(got[k] == v for k, v in expected.items()), sub
    # rejections: merged-key transform; post-aggregate re-key
    with pytest.raises(flux.FluxError, match="one state partition"):
        flux.compile_flux_stream(
            spark,
            'from(bucket: "b") |> group() |> derivative(unit: 1s)',
            {"b": store},
        )
    with pytest.raises(flux.FluxError, match="STREAMING subset"):
        flux.compile_flux_stream(
            spark,
            'from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean) '
            '|> group(columns: ["_field"])',
            {"b": store},
        )


def test_compile_flux_stream_value_series_transforms(spark, tmp_path):
    """Round 12: the value-series transforms stream as keyed state
    (derivative / difference / cumulativeSum / increase). Two
    micro-batches (day-2 data lands AFTER the first drain, same
    checkpoint) must together emit exactly the batch compiler's rows —
    bit-identical — proving the per-series state carries deltas and
    running totals ACROSS batches. Stages after a transform raise."""
    import datetime

    def _write(src, day, vals, mode):
        t0 = datetime.datetime(2024, 1, day)
        rows = [
            (t0 + datetime.timedelta(minutes=17 * i), "events", f, v)
            for i, pair in enumerate(zip(vals, vals[::-1]))
            for f, v in (("click", pair[0]), ("error", pair[1]))
        ]
        df = spark.createDataFrame(
            rows, "t timestamp, m string, f string, v double"
        ).select(
            F.col("t").alias("_time"),
            F.col("m").alias("_measurement"),
            F.col("f").alias("_field"),
            F.col("v").alias("_value"),
            F.create_map().cast("map<string,string>").alias("tags"),
        )
        bkt.write_bucket(df, src, mode=mode)

    for idx, (text, value_cols) in enumerate([
        (
            'from(bucket: "b") |> derivative(unit: 1m, nonNegative: true)',
            ("_value", "derivative"),
        ),
        ('from(bucket: "b") |> difference()', ("_value",)),
        ('from(bucket: "b") |> cumulativeSum()', ("_value",)),
        ('from(bucket: "b") |> increase()', ("_value",)),
    ]):
        src = str(tmp_path / f"vs_src_{idx}")
        # counter-ish values with one reset (5.5 -> 2.25) for the
        # nonNegative rule, plus a fractional cent (0.125) to exercise
        # HALF_UP decimal quantization against the batch decimal cast
        _write(src, 1, [0.125, 1.5, 5.5, 2.25], "overwrite")
        live = flux.compile_flux_stream(spark, text, {"b": src})
        assert live.isStreaming
        ck = str(tmp_path / f"ck_vs_{idx}")

        def drain():
            # foreachBatch (checkpoint-recoverable, unlike the memory
            # sink) collecting this run's emissions on the driver
            rows: list = []
            q = (
                live.writeStream.foreachBatch(
                    lambda df, _eid: rows.extend(df.collect())
                )
                .outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
            return [
                (r["_field"], r["_time"], *[r[c] for c in value_cols])
                for r in rows
            ]

        rows1 = drain()
        # day 2 arrives — the SAME checkpoint continues the series
        _write(src, 2, [3.0, 7.25, 4.0], "append")
        rows2 = drain()
        got = sorted(rows1 + rows2)
        batch = flux.compile_flux(spark, text, {"b": src}).collect()
        expected = sorted(
            (r["_field"], r["_time"], *[r[c] for c in value_cols])
            for r in batch
        )
        assert got == expected and len(rows1) > 0 and len(rows2) > 0, text

    # stages after a transform raise; so does a transform after a window
    for bad in (
        'from(bucket: "b") |> derivative(unit: 1s) '
        "|> aggregateWindow(every: 1h, fn: mean)",
        'from(bucket: "b") |> increase() |> filter(fn: (r) => r["_value"] > 0)',
        'from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean) '
        "|> derivative(unit: 1s)",
    ):
        with pytest.raises(flux.FluxError, match="STREAMING subset"):
            flux.compile_flux_stream(spark, bad, {"b": src})


def test_compile_flux_stream_ema_smoothing(spark, tmp_path):
    """Round 13 (VERDICT r12 item 2): the SMOOTHED live panel —
    exponentialMovingAverage / exponentialTimeMovingAverage stream as
    keyed smoothing state (one float of state per series plus the
    count-EMA's bounded warm-up). Two micro-batches (day-2 lands
    after the first drain, same checkpoint) must together emit
    exactly the batch compiler's rows — bit-identical — proving the
    recurrence carries ACROSS batches: the day-2 seed is day-1's
    final accumulator, so any state loss or re-seed diverges every
    subsequent value. The EMA warm-up must also SPAN the batch
    boundary (n: 5 over a 4-row first day → first emission lands in
    batch 2)."""
    import datetime

    def _write(src, day, vals, mode):
        t0 = datetime.datetime(2024, 1, day)
        rows = [
            (t0 + datetime.timedelta(minutes=17 * i), "events", f, v)
            for i, pair in enumerate(zip(vals, vals[::-1]))
            for f, v in (("click", pair[0]), ("error", pair[1]))
        ]
        df = spark.createDataFrame(
            rows, "t timestamp, m string, f string, v double"
        ).select(
            F.col("t").alias("_time"),
            F.col("m").alias("_measurement"),
            F.col("f").alias("_field"),
            F.col("v").alias("_value"),
            F.create_map().cast("map<string,string>").alias("tags"),
        )
        bkt.write_bucket(df, src, mode=mode)

    for idx, (text, warm_spans_boundary) in enumerate([
        # n: 5 > 4 day-1 rows — the warm-up fold must cross the
        # micro-batch boundary (batch 1 emits NOTHING for this series)
        ('from(bucket: "b") |> exponentialMovingAverage(n: 5)', True),
        ('from(bucket: "b") |> exponentialMovingAverage(n: 3)', False),
        # duration decay: every point emits, day-2's first weight is
        # the OVERNIGHT gap — the strongest cross-batch state probe
        ('from(bucket: "b") |> exponentialTimeMovingAverage(n: 2h)',
         False),
        # the CHAINED O(1)-state family (second sweep): doubleEMA n:3
        # first emits at row 2(n−1) = 4 — day 2 (4-row day 1 emits
        # nothing, the chained warm-up spans the boundary); tripleEMA
        # n:2 emits from row 3; Wilder RSI n:3 from row 3; TRIX n:2
        # (one-lag derivative of the thrice-chained fold) from row 4
        ('from(bucket: "b") |> doubleEMA(n: 3)', True),
        ('from(bucket: "b") |> tripleEMA(n: 2)', False),
        ('from(bucket: "b") |> relativeStrengthIndex(n: 3)', False),
        ('from(bucket: "b") |> tripleExponentialDerivative(n: 2)', True),
    ]):
        src = str(tmp_path / f"sm_src_{idx}")
        _write(src, 1, [0.125, 1.5, 5.5, 2.25], "overwrite")
        live = flux.compile_flux_stream(spark, text, {"b": src})
        assert live.isStreaming
        ck = str(tmp_path / f"ck_sm_{idx}")

        def drain():
            rows: list = []
            q = (
                live.writeStream.foreachBatch(
                    lambda df, _eid: rows.extend(df.collect())
                )
                .outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
            return [(r["_field"], r["_time"], r["_value"]) for r in rows]

        rows1 = drain()
        if warm_spans_boundary:
            assert rows1 == []  # n rows not yet seen — nothing emits
        else:
            assert len(rows1) > 0
        _write(src, 2, [3.0, 7.25, 4.0], "append")
        rows2 = drain()
        got = sorted(rows1 + rows2)
        batch = flux.compile_flux(spark, text, {"b": src}).collect()
        expected = sorted(
            (r["_field"], r["_time"], r["_value"]) for r in batch
        )
        assert got == expected and len(rows2) > 0, text

    # the smoother is terminal; post-stages and pre-aggregates raise
    for bad in (
        'from(bucket: "b") |> exponentialMovingAverage(n: 3) '
        "|> aggregateWindow(every: 1h, fn: mean)",
        'from(bucket: "b") |> exponentialTimeMovingAverage(n: 1h) '
        '|> filter(fn: (r) => r["_value"] > 0)',
        'from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean) '
        "|> exponentialMovingAverage(n: 3)",
    ):
        with pytest.raises(flux.FluxError, match="STREAMING subset"):
            flux.compile_flux_stream(spark, bad, {"b": src})
    # arg validation mirrors batch
    for bad, msg in (
        ('from(bucket: "b") |> exponentialMovingAverage(n: 0)',
         "positive int"),
        ('from(bucket: "b") |> exponentialTimeMovingAverage(n: 5)',
         "bad duration"),
        ('from(bucket: "b") |> exponentialTimeMovingAverage()',
         "requires n:"),
    ):
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux_stream(spark, bad, {"b": src})


def test_compile_flux_stream_kaufmans_ama(spark, tmp_path):
    """Round 14 (VERDICT r13 item 4): kaufmansAMA streams — the r13
    boundary said 'window-of-values state raises', but KAMA's
    efficiency-ratio window is BOUNDED at the trailing n+1 raw values
    (n a dashboard constant), so a bounded-list state tuple carries
    it across micro-batches (streaming/stateful.value_series_kama).
    Same protocol as the EMA-family test: two drains against one
    checkpoint must together emit exactly the batch compiler's rows,
    BIT-identical (the streaming fold replays the batch kernel's
    fresh left-to-right delta fold over the buffered window), with a
    warm-up (n+1 > day-1 rows) that spans the drain boundary — any
    state loss, re-seed, or buffer slip diverges every later value."""
    import datetime

    def _write(src, day, vals, mode):
        t0 = datetime.datetime(2024, 1, day)
        rows = [
            (t0 + datetime.timedelta(minutes=17 * i), "events", f, v)
            for i, pair in enumerate(zip(vals, vals[::-1]))
            for f, v in (("click", pair[0]), ("error", pair[1]))
        ]
        df = spark.createDataFrame(
            rows, "t timestamp, m string, f string, v double"
        ).select(
            F.col("t").alias("_time"),
            F.col("m").alias("_measurement"),
            F.col("f").alias("_field"),
            F.col("v").alias("_value"),
            F.create_map().cast("map<string,string>").alias("tags"),
        )
        bkt.write_bucket(df, src, mode=mode)

    for idx, (text, warm_spans_boundary) in enumerate([
        # n: 4 needs n+1 = 5 points before the first emission — the
        # 4-row day 1 emits NOTHING; the identity seed (row n−1) and
        # the buffered window must survive the drain boundary
        ('from(bucket: "b") |> kaufmansAMA(n: 4)', True),
        ('from(bucket: "b") |> kaufmansAMA(n: 2)', False),
    ]):
        src = str(tmp_path / f"kama_src_{idx}")
        _write(src, 1, [0.125, 1.5, 5.5, 2.25], "overwrite")
        live = flux.compile_flux_stream(spark, text, {"b": src})
        assert live.isStreaming
        ck = str(tmp_path / f"ck_kama_{idx}")

        def drain():
            rows: list = []
            q = (
                live.writeStream.foreachBatch(
                    lambda df, _eid: rows.extend(df.collect())
                )
                .outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
            return [(r["_field"], r["_time"], r["_value"]) for r in rows]

        rows1 = drain()
        if warm_spans_boundary:
            assert rows1 == []  # n+1 rows not yet seen — nothing emits
        else:
            assert len(rows1) > 0
        _write(src, 2, [3.0, 7.25, 4.0], "append")
        rows2 = drain()
        got = sorted(rows1 + rows2)
        batch = flux.compile_flux(spark, text, {"b": src}).collect()
        expected = sorted(
            (r["_field"], r["_time"], r["_value"]) for r in batch
        )
        assert got == expected and len(rows2) > 0, text

    # terminal-stage / pre-aggregate / arg rejections mirror the family
    for bad, msg in (
        ('from(bucket: "b") |> kaufmansAMA(n: 2) '
         "|> aggregateWindow(every: 1h, fn: mean)", "STREAMING subset"),
        ('from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean) '
         "|> kaufmansAMA(n: 2)", "STREAMING subset"),
        ('from(bucket: "b") |> kaufmansAMA(n: 0)', "positive int"),
    ):
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux_stream(spark, bad, {"b": src})


def test_compile_flux_stream_moving_average(spark, tmp_path):
    """Round 14: movingAverage(n:) streams on the same bounded-list
    principle as kaufmansAMA — the trailing n values per series as
    exact decimal cents. Two drains against one checkpoint must
    together emit exactly the batch compiler's rows (keys + _time +
    raw _value + moving_avg), BIT-identical: the integer cents sum is
    order-free and the two double divisions replay the batch frame's
    decimal→double cast and count division."""
    import datetime

    def _write(src, day, vals, mode):
        t0 = datetime.datetime(2024, 1, day)
        rows = [
            (t0 + datetime.timedelta(minutes=17 * i), "events", f, v)
            for i, pair in enumerate(zip(vals, vals[::-1]))
            for f, v in (("click", pair[0]), ("error", pair[1]))
        ]
        df = spark.createDataFrame(
            rows, "t timestamp, m string, f string, v double"
        ).select(
            F.col("t").alias("_time"),
            F.col("m").alias("_measurement"),
            F.col("f").alias("_field"),
            F.col("v").alias("_value"),
            F.create_map().cast("map<string,string>").alias("tags"),
        )
        bkt.write_bucket(df, src, mode=mode)

    for idx, (text, warm_spans_boundary) in enumerate([
        # n: 5 > 4 day-1 rows — the buffer fill spans the drain
        ('from(bucket: "b") |> movingAverage(n: 5)', True),
        ('from(bucket: "b") |> movingAverage(n: 3)', False),
    ]):
        src = str(tmp_path / f"ma_src_{idx}")
        _write(src, 1, [0.125, 1.5, 5.5, 2.25], "overwrite")
        live = flux.compile_flux_stream(spark, text, {"b": src})
        assert live.isStreaming
        assert "moving_avg" in live.columns and "_value" in live.columns
        ck = str(tmp_path / f"ck_ma_{idx}")

        def drain():
            rows: list = []
            q = (
                live.writeStream.foreachBatch(
                    lambda df, _eid: rows.extend(df.collect())
                )
                .outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
            return [
                (r["_field"], r["_time"], r["_value"], r["moving_avg"])
                for r in rows
            ]

        rows1 = drain()
        if warm_spans_boundary:
            assert rows1 == []  # n rows not yet seen — nothing emits
        else:
            assert len(rows1) > 0
        _write(src, 2, [3.0, 7.25, 4.0], "append")
        rows2 = drain()
        got = sorted(rows1 + rows2)
        batch = flux.compile_flux(spark, text, {"b": src}).collect()
        expected = sorted(
            (r["_field"], r["_time"], r["_value"], r["moving_avg"])
            for r in batch
        )
        assert got == expected and len(rows2) > 0, text

    # NULL ROWS ARE FRAME POSITIONS (review r14): the batch kernel
    # has no null prefilter — a null record occupies a frame slot,
    # emits its own row (raw null), sum/count skip it. The streaming
    # form must match row count AND values, incl. the count(_value)
    # division (NOT /n) when the frame holds a null.
    import datetime as _dt

    nsrc = str(tmp_path / "ma_null_src")
    t0 = _dt.datetime(2024, 1, 1)
    nrows = [
        (t0 + _dt.timedelta(minutes=17 * i), "events", "click", v)
        for i, v in enumerate([1.0, None, 3.0, 2.0])
    ]
    ndf = spark.createDataFrame(
        nrows, "t timestamp, m string, f string, v double"
    ).select(
        F.col("t").alias("_time"), F.col("m").alias("_measurement"),
        F.col("f").alias("_field"), F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    bkt.write_bucket(ndf, nsrc, mode="overwrite")
    ntext = 'from(bucket: "b") |> movingAverage(n: 2)'
    nlive = flux.compile_flux_stream(spark, ntext, {"b": nsrc})
    ngot: list = []
    q = (
        nlive.writeStream.foreachBatch(
            lambda df, _eid: ngot.extend(df.collect())
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_ma_null"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    nbatch = flux.compile_flux(spark, ntext, {"b": nsrc}).collect()
    key = lambda r: (r["_time"],)  # noqa: E731
    assert sorted(
        (r["_time"], r["_value"], r["moving_avg"]) for r in ngot
    ) == sorted(
        (r["_time"], r["_value"], r["moving_avg"]) for r in nbatch
    )
    # the null record emitted its own row with the 1-count average
    got_by_t = {r["_time"]: (r["_value"], r["moving_avg"]) for r in ngot}
    assert got_by_t[t0 + _dt.timedelta(minutes=17)] == (None, 1.0)
    assert got_by_t[t0 + _dt.timedelta(minutes=34)] == (3.0, 3.0)
    assert got_by_t[t0 + _dt.timedelta(minutes=51)] == (2.0, 2.5)

    for bad, msg in (
        ('from(bucket: "b") |> movingAverage(n: 2) '
         "|> aggregateWindow(every: 1h, fn: mean)", "STREAMING subset"),
        ('from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean) '
         "|> movingAverage(n: 2)", "STREAMING subset"),
        ('from(bucket: "b") |> movingAverage(n: 0)', "positive int"),
    ):
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux_stream(spark, bad, {"b": src})


def test_compile_flux_stream_trailing_indicators_and_elapsed(
    spark, tmp_path
):
    """Round 14, the rest of the bounded-state members:
    chandeMomentumOscillator / kaufmansER stream on the trailing
    n+1-cents buffer (their batch kernels are exact-decimal delta
    frames with one double division per row — the integer-cents
    replay is bit-identical), and elapsed() streams on ONE long of
    state (the previous event time). Two drains each, emissions must
    equal the batch compiler bit-for-bit."""
    import datetime

    def _write(src, day, vals, mode):
        t0 = datetime.datetime(2024, 1, day)
        rows = [
            (t0 + datetime.timedelta(minutes=17 * i), "events", f, v)
            for i, pair in enumerate(zip(vals, vals[::-1]))
            for f, v in (("click", pair[0]), ("error", pair[1]))
        ]
        df = spark.createDataFrame(
            rows, "t timestamp, m string, f string, v double"
        ).select(
            F.col("t").alias("_time"),
            F.col("m").alias("_measurement"),
            F.col("f").alias("_field"),
            F.col("v").alias("_value"),
            F.create_map().cast("map<string,string>").alias("tags"),
        )
        bkt.write_bucket(df, src, mode=mode)

    # indicator shape: _value REWRITTEN to the indicator
    for idx, (text, warm_spans_boundary) in enumerate([
        # n: 4 needs n+1 = 5 points — the 4-row day 1 emits nothing
        ('from(bucket: "b") |> chandeMomentumOscillator(n: 4)', True),
        ('from(bucket: "b") |> chandeMomentumOscillator(n: 2)', False),
        ('from(bucket: "b") |> kaufmansER(n: 4)', True),
        ('from(bucket: "b") |> kaufmansER(n: 2)', False),
    ]):
        src = str(tmp_path / f"ti_src_{idx}")
        _write(src, 1, [0.125, 1.5, 5.5, 2.25], "overwrite")
        live = flux.compile_flux_stream(spark, text, {"b": src})
        assert live.isStreaming
        ck = str(tmp_path / f"ck_ti_{idx}")

        def drain():
            rows: list = []
            q = (
                live.writeStream.foreachBatch(
                    lambda df, _eid: rows.extend(df.collect())
                )
                .outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
            return [(r["_field"], r["_time"], r["_value"]) for r in rows]

        rows1 = drain()
        if warm_spans_boundary:
            assert rows1 == []
        else:
            assert len(rows1) > 0
        _write(src, 2, [3.0, 7.25, 4.0], "append")
        rows2 = drain()
        got = sorted(rows1 + rows2)
        batch = flux.compile_flux(spark, text, {"b": src}).collect()
        expected = sorted(
            (r["_field"], r["_time"], r["_value"]) for r in batch
        )
        assert got == expected and len(rows2) > 0, text

    # elapsed: raw _value kept beside the long gap column; the
    # OVERNIGHT gap (day-2 first row) only exists if last_t crossed
    # the drain boundary
    src = str(tmp_path / "el_src")
    _write(src, 1, [0.125, 1.5, 5.5, 2.25], "overwrite")
    text = 'from(bucket: "b") |> elapsed(unit: 1m)'
    live = flux.compile_flux_stream(spark, text, {"b": src})
    assert live.isStreaming
    assert "elapsed" in live.columns and "_value" in live.columns
    ck = str(tmp_path / "ck_el")
    rows_all: list = []

    def drain_el():
        rows: list = []
        q = (
            live.writeStream.foreachBatch(
                lambda df, _eid: rows.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return [
            (r["_field"], r["_time"], r["_value"], r["elapsed"])
            for r in rows
        ]

    rows_all += drain_el()
    assert len(rows_all) > 0 and all(r[3] == 17 for r in rows_all)
    _write(src, 2, [3.0, 7.25, 4.0], "append")
    day2 = drain_el()
    # day-2's first row measures the overnight gap from day-1's last
    # row — state carried across the drain
    assert any(r[3] > 17 for r in day2)
    got = sorted(rows_all + day2)
    batch = flux.compile_flux(spark, text, {"b": src}).collect()
    expected = sorted(
        (r["_field"], r["_time"], r["_value"], r["elapsed"])
        for r in batch
    )
    assert got == expected
    for bad, msg in (
        ('from(bucket: "b") |> chandeMomentumOscillator(n: 0)',
         "positive int"),
        ('from(bucket: "b") |> kaufmansER(n: 0)', "positive int"),
        ('from(bucket: "b") |> elapsed(unit: 0s)', "must be > 0"),
        ('from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean) '
         "|> elapsed()", "STREAMING subset"),
    ):
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux_stream(spark, bad, {"b": src})


def test_compile_flux_stream_interpolate(spark, tmp_path):
    """Round 14: interpolate.linear(every:) streams — the gap-filled
    live chart on ONE (last_t, last_v) lag tuple per series. Two
    drains against one checkpoint must emit exactly the batch
    compiler's rows (raw pass-through + aligned in-gap marks),
    BIT-identical: the streaming emission replays the batch kernel's
    pinned expression order (int64 µs deltas, one double division).
    The overnight gap is the state probe: day-2's first arriving
    point emits the whole night's grid, interpolated against DAY-1's
    last value carried across the drain."""
    import datetime

    def _write(src, day, vals, mode):
        t0 = datetime.datetime(2024, 1, day)
        rows = [
            (t0 + datetime.timedelta(minutes=17 * i), "events", f, v)
            for i, pair in enumerate(zip(vals, vals[::-1]))
            for f, v in (("click", pair[0]), ("error", pair[1]))
        ]
        df = spark.createDataFrame(
            rows, "t timestamp, m string, f string, v double"
        ).select(
            F.col("t").alias("_time"),
            F.col("m").alias("_measurement"),
            F.col("f").alias("_field"),
            F.col("v").alias("_value"),
            F.create_map().cast("map<string,string>").alias("tags"),
        )
        bkt.write_bucket(df, src, mode=mode)

    src = str(tmp_path / "interp_src")
    _write(src, 1, [0.125, 1.5, 5.5, 2.25], "overwrite")
    text = 'from(bucket: "b") |> interpolate.linear(every: 5m)'
    live = flux.compile_flux_stream(spark, text, {"b": src})
    assert live.isStreaming
    ck = str(tmp_path / "ck_interp")

    def drain():
        rows: list = []
        q = (
            live.writeStream.foreachBatch(
                lambda df, _eid: rows.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return [(r["_field"], r["_time"], r["_value"]) for r in rows]

    rows1 = drain()
    # day 1 per series: 4 raw + 3+3+4 aligned marks in the three
    # 17-min gaps (5m grid: {5,10,15}, {20,25,30}, {35,40,45,50}) = 14
    assert len(rows1) == 2 * 14
    _write(src, 2, [3.0, 7.25, 4.0], "append")
    rows2 = drain()
    # the overnight grid: 23h04m of 5m marks (55min .. 23:55) emitted
    # by day-2's first point, against day-1's carried last value
    assert len(rows2) > 2 * 270
    got = sorted(rows1 + rows2)
    batch = flux.compile_flux(spark, text, {"b": src}).collect()
    expected = sorted(
        (r["_field"], r["_time"], r["_value"]) for r in batch
    )
    assert got == expected
    for bad, msg in (
        ('from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean) '
         "|> interpolate.linear(every: 5m)", "STREAMING subset"),
        ('from(bucket: "b") |> interpolate.linear(every: 0s)',
         "bad duration"),
        ('from(bucket: "b") |> interpolate.linear()', "requires every"),
    ):
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux_stream(spark, bad, {"b": src})


def test_compile_flux_stream_fill_value_tail(spark, tmp_path):
    """Round 14: ``fill(value:)`` joins the streaming tail — a
    stateless coalesce over the append-mode output (the Grafana
    "null as zero" panel option). Reachable nulls in append mode are
    single-point stddev windows; filled values must equal the batch
    tail bit-for-bit (0.0 literal), non-null windows pass through
    (stddev's moment merge is the documented float-tolerance member).
    fill(usePrevious:), pre-aggregate fill, unknown columns, and
    both/neither-arg forms raise."""
    import datetime
    import math

    src = str(tmp_path / "fill_src")
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (t0 + datetime.timedelta(minutes=m), "events", "click", v)
        for m, v in [(0, 1.0), (5, 4.0), (30, 2.5), (60, 7.0), (95, 3.0)]
    ]
    df = spark.createDataFrame(
        rows, "t timestamp, m string, f string, v double"
    ).select(
        F.col("t").alias("_time"), F.col("m").alias("_measurement"),
        F.col("f").alias("_field"), F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    bkt.write_bucket(df, src, mode="overwrite")
    text = (
        'from(bucket: "b") |> aggregateWindow(every: 15m, fn: stddev) '
        '|> fill(column: "stddev", value: 0.0)'
    )
    live = flux.compile_flux_stream(
        spark, text, {"b": src}, watermark="0 seconds"
    )
    q = (
        live.writeStream.format("memory")
        .queryName("flux_fill")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_fill"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["window_start"]: (r["stddev"], r["n"])
        for r in spark.sql("SELECT * FROM flux_fill").collect()
    }
    batch = flux.compile_flux(spark, text, {"b": src}).collect()
    max_t = max(r["window_start"] for r in batch)
    expected = {
        r["window_start"]: (r["stddev"], r["n"])
        for r in batch
        if r["window_start"] < max_t
    }
    assert expected and got.keys() >= expected.keys()
    filled = [v for v, n in expected.values() if n == 1]
    assert filled and all(v == 0.0 for v in filled)  # fill really fired
    assert any(n > 1 for _, n in expected.values())  # and passed through
    for k, (v, n) in expected.items():
        gv, gn = got[k]
        assert gn == n
        if n == 1:
            assert gv == 0.0 and v == 0.0, (k, gv, v)
        else:
            assert math.isclose(gv, v, rel_tol=1e-9), (k, gv, v)
    for bad, msg in (
        ('from(bucket: "b") |> aggregateWindow(every: 15m, fn: mean) '
         "|> fill(usePrevious: true)", "keyed state over the aggregate"),
        ('from(bucket: "b") |> fill(value: 0.0)', "STREAMING subset"),
        ('from(bucket: "b") |> aggregateWindow(every: 15m, fn: mean) '
         '|> fill(column: "nope", value: 0.0)', "unknown column"),
        ('from(bucket: "b") |> aggregateWindow(every: 15m, fn: mean) '
         "|> fill()", "exactly one of"),
        ('from(bucket: "b") |> aggregateWindow(every: 15m, fn: mean) '
         "|> fill(value: 0.0, usePrevious: true)", "exactly one of"),
    ):
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux_stream(spark, bad, {"b": src})


def test_compile_flux_stream_state_tracking(spark, tmp_path):
    """Round 14: stateDuration/stateCount stream — the live
    ALERT-duration panel. Run tracking is a FIXED per-series state
    tuple (previous predicate state, run start µs, run position); the
    predicate compiles to a Catalyst projection ahead of the keyed
    state. Two drains must equal the batch compiler bit-for-bit,
    including a TRUE run that SPANS the drain boundary (the click
    series ends day 1 in-state and stays in-state into day 2: its
    day-2 duration measures from day-1's run start across the
    overnight gap, and its count continues 1→2→3 — any state loss
    restarts both at the boundary)."""
    import datetime

    def _write(src, day, vals, mode):
        t0 = datetime.datetime(2024, 1, day)
        rows = [
            (t0 + datetime.timedelta(minutes=17 * i), "events", f, v)
            for i, pair in enumerate(zip(vals, vals[::-1]))
            for f, v in (("click", pair[0]), ("error", pair[1]))
        ]
        df = spark.createDataFrame(
            rows, "t timestamp, m string, f string, v double"
        ).select(
            F.col("t").alias("_time"),
            F.col("m").alias("_measurement"),
            F.col("f").alias("_field"),
            F.col("v").alias("_value"),
            F.create_map().cast("map<string,string>").alias("tags"),
        )
        bkt.write_bucket(df, src, mode=mode)

    for idx, (text, out_col) in enumerate([
        ('from(bucket: "b") |> stateDuration('
         "fn: (r) => r._value > 3.0, unit: 1m)", "stateDuration"),
        ('from(bucket: "b") |> stateCount('
         "fn: (r) => r._value > 3.0)", "stateCount"),
    ]):
        src = str(tmp_path / f"st_src_{idx}")
        # click day 1: F F F T (ends in-state); error (reversed):
        # T F F F
        _write(src, 1, [0.125, 1.5, 2.25, 5.5], "overwrite")
        live = flux.compile_flux_stream(spark, text, {"b": src})
        assert live.isStreaming
        assert out_col in live.columns and "state" in live.columns
        ck = str(tmp_path / f"ck_st_{idx}")

        def drain():
            rows: list = []
            q = (
                live.writeStream.foreachBatch(
                    lambda df, _eid: rows.extend(df.collect())
                )
                .outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
            return [
                (r["_field"], r["_time"], r["_value"], r["state"],
                 r[out_col])
                for r in rows
            ]

        rows1 = drain()
        assert len(rows1) == 8  # every record emits (−1 where false)
        # click day 2: T T T — the true run CONTINUES across the drain
        _write(src, 2, [7.25, 4.0, 3.5], "append")
        rows2 = drain()
        got = sorted(rows1 + rows2)
        batch = flux.compile_flux(spark, text, {"b": src}).collect()
        expected = sorted(
            (r["_field"], r["_time"], r["_value"], r["state"], r[out_col])
            for r in batch
        )
        assert got == expected and len(rows2) == 6, text
        day2_click = [
            r for r in rows2 if r[0] == "click" and r[3]
        ]
        if out_col == "stateCount":
            # continuation proof: day-2 click counts pick up at 2
            assert [r[4] for r in sorted(day2_click)] == [2, 3, 4]
        else:
            # duration measured from DAY-1's run start (00:51) across
            # the overnight gap: 1389, 1406, 1423 minutes
            assert [r[4] for r in sorted(day2_click)] == [1389, 1406, 1423]

    # NULL ROWS ARE RECORDS (review r14): _state_runs keeps
    # null-valued rows — the null predicate is ITS OWN run state
    # under the null-safe compare (true→null→true is THREE runs), the
    # row emits with −1. Streaming run splitting must match.
    import datetime as _dt

    nsrc = str(tmp_path / "st_null_src")
    t0 = _dt.datetime(2024, 1, 1)
    nrows = [
        (t0 + _dt.timedelta(minutes=17 * i), "events", "click", v)
        for i, v in enumerate([5.0, None, 5.0])
    ]
    ndf = spark.createDataFrame(
        nrows, "t timestamp, m string, f string, v double"
    ).select(
        F.col("t").alias("_time"), F.col("m").alias("_measurement"),
        F.col("f").alias("_field"), F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    bkt.write_bucket(ndf, nsrc, mode="overwrite")
    for ntext, ncol in (
        ('from(bucket: "b") |> stateCount(fn: (r) => r._value > 3.0)',
         "stateCount"),
        ('from(bucket: "b") |> stateDuration('
         "fn: (r) => r._value > 3.0, unit: 1m)", "stateDuration"),
    ):
        nlive = flux.compile_flux_stream(spark, ntext, {"b": nsrc})
        ngot: list = []
        q = (
            nlive.writeStream.foreachBatch(
                lambda df, _eid: ngot.extend(df.collect())
            )
            .outputMode("append")
            .option(
                "checkpointLocation",
                str(tmp_path / f"ck_st_null_{ncol}"),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        nbatch = flux.compile_flux(spark, ntext, {"b": nsrc}).collect()
        assert sorted(
            (r["_time"], r["_value"], r["state"], r[ncol]) for r in ngot
        ) == sorted(
            (r["_time"], r["_value"], r["state"], r[ncol]) for r in nbatch
        )
        # three runs: the second TRUE run restarts at 1 / duration 0
        vals = [r[ncol] for r in sorted(ngot, key=lambda r: r["_time"])]
        assert vals == ([1, -1, 1] if ncol == "stateCount" else [0, -1, 0])

    for bad, msg in (
        ('from(bucket: "b") |> stateDuration(fn: (r) => r._value > 3.0, '
         "unit: 0s)", "must be > 0"),
        ('from(bucket: "b") |> stateCount()', "requires fn"),
        ('from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean) '
         "|> stateCount(fn: (r) => r._value > 3.0)", "STREAMING subset"),
    ):
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux_stream(spark, bad, {"b": src})


def test_compile_flux_stream_smoothing_arrival_contract_on_merged_series(
    spark, tmp_path
):
    """The arrival contract made VISIBLE (round 13): group() before a
    keyed-state stage merges series, and if the merged series carries
    TIED timestamps (two fields sampled on the same grid), the ties
    violate the strictly-increasing contract — streaming keeps the
    first row of each tie and DROPS the rest (the documented late-row
    rule), while the batch compiler (the documented replay path for
    contract-violating data) folds both. This pins that the divergence
    is the deliberate, documented contract — not silent corruption:
    every streaming emission equals the batch fold over exactly the
    tie-surviving subsequence."""
    import datetime

    src = str(tmp_path / "tied_src")
    t0 = datetime.datetime(2024, 1, 1)
    # click and error share every timestamp — merged under group(),
    # each tick is a tied pair; (ts, value) order puts the SMALLER
    # value first, so the survivor sequence is min(click, error)
    rows = []
    vals = [5.0, 3.0, 8.0, 1.0, 9.0, 2.0, 7.0]
    for i, v in enumerate(vals):
        t = t0 + datetime.timedelta(minutes=31 * i)
        rows.append((t, "events", "click", v))
        rows.append((t, "events", "error", v + 1.0))
    df = spark.createDataFrame(
        rows, "t timestamp, m string, f string, v double"
    ).select(
        F.col("t").alias("_time"), F.col("m").alias("_measurement"),
        F.col("f").alias("_field"), F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    bkt.write_bucket(df, src, mode="overwrite")
    text = (
        'from(bucket: "b") |> group(columns: ["_measurement"]) '
        "|> exponentialMovingAverage(n: 3)"
    )
    live = flux.compile_flux_stream(spark, text, {"b": src})
    got: list = []
    q = (
        live.writeStream.foreachBatch(lambda d, _e: got.extend(d.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_tied"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # the tie survivors: first row of each tied pair in (ts, value)
    # order = the click value (always smaller here)
    survivors = vals
    n = 3
    acc = (survivors[0] + survivors[1] + survivors[2]) / n
    want = [acc]
    k = 2.0 / (n + 1.0)
    omk = 1.0 - k
    for x in survivors[n:]:
        acc = omk * acc + k * x
        want.append(acc)
    got_vals = [r["_value"] for r in sorted(got, key=lambda r: r["_time"])]
    assert got_vals == want  # the fold over EXACTLY the survivors
    # batch (the replay path) folds BOTH rows of every tie — more
    # emissions than the streaming form, by design
    batch_n = flux.compile_flux(spark, text, {"b": src}).count()
    assert batch_n == 2 * len(vals) - (n - 1)
    assert len(got_vals) == len(vals) - (n - 1) < batch_n


def test_compile_flux_stream_late_row_across_micro_batches(spark, tmp_path):
    """The late-row rule ACROSS micro-batches: after day 1 drains, one
    append lands a row timestamped before day 1's last point plus day
    2. On the same checkpoint the late row emits nothing, and the two
    drains together emit exactly the batch compiler's rows over the
    same data WITHOUT that row. One NaN-skipping kind (kaufmansAMA)
    and one null-keeping kind (movingAverage)."""
    import datetime

    def _rows(day, vals):
        t0 = datetime.datetime(2024, 1, day)
        return [
            (t0 + datetime.timedelta(minutes=17 * i), f, v)
            for i, pair in enumerate(zip(vals, vals[::-1]))
            for f, v in (("click", pair[0]), ("error", pair[1]))
        ]

    def _write(src, rows, mode):
        df = spark.createDataFrame(
            rows, "t timestamp, f string, v double"
        ).select(
            F.col("t").alias("_time"), F.lit("events").alias("_measurement"),
            F.col("f").alias("_field"), F.col("v").alias("_value"),
            F.create_map().cast("map<string,string>").alias("tags"),
        )
        bkt.write_bucket(df, src, mode=mode)

    day1 = _rows(1, [0.125, 1.5, 5.5, 2.25])  # click's last point 00:51
    late = (datetime.datetime(2024, 1, 1, 0, 40), "click", 99.0)
    day2 = _rows(2, [3.0, 7.25, 4.0])
    for idx, (text, cols) in enumerate([
        ('from(bucket: "b") |> kaufmansAMA(n: 2)', ("_value",)),
        ('from(bucket: "b") |> movingAverage(n: 2)', ("_value", "moving_avg")),
    ]):
        src = str(tmp_path / f"late_src_{idx}")
        ref = str(tmp_path / f"late_ref_{idx}")
        _write(src, day1, "overwrite")
        _write(ref, day1 + day2, "overwrite")
        live = flux.compile_flux_stream(spark, text, {"b": src})
        ck = str(tmp_path / f"ck_late_{idx}")

        def drain():
            rows: list = []
            q = (
                live.writeStream.foreachBatch(
                    lambda df, _eid: rows.extend(df.collect())
                )
                .outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
            return [(r["_field"], r["_time"], *[r[c] for c in cols]) for r in rows]

        rows1 = drain()
        _write(src, [late] + day2, "append")
        rows2 = drain()
        assert rows1 and rows2, text
        assert all(r[1] != late[0] for r in rows2), text  # late: no emission
        expected = sorted(
            (r["_field"], r["_time"], *[r[c] for c in cols])
            for r in flux.compile_flux(spark, text, {"b": ref}).collect()
        )
        assert sorted(rows1 + rows2) == expected, text


def test_compile_flux_stream_timed_moving_average(spark, tmp_path):
    """Round 13: the windowed-emission timedMovingAverage(every:,
    period:) streams — upstream defines it as window(every:, period:)
    |> mean(), so the streaming compiler rewrites it onto the SAME
    sliding-aggregateWindow path round 12d shipped. Pinned by plan
    identity: the live tma and the equivalent sliding aggregateWindow
    text must produce the same analyzed streaming plan (bit-identity
    then follows from the sliding path's own streaming==batch pin).
    The bare trailing-frame form raises naming the batch path."""
    import datetime

    src = str(tmp_path / "tma_src")
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (t0 + datetime.timedelta(minutes=29 * i), "events", "click",
         float(i % 7))
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "t timestamp, m string, f string, v double"
    ).select(
        F.col("t").alias("_time"), F.col("m").alias("_measurement"),
        F.col("f").alias("_field"), F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    bkt.write_bucket(df, src, mode="overwrite")
    tma = flux.compile_flux_stream(
        spark,
        'from(bucket: "b") |> timedMovingAverage(every: 1h, period: 3h)',
        {"b": src},
    )
    slide = flux.compile_flux_stream(
        spark,
        'from(bucket: "b") |> aggregateWindow(every: 1h, period: 3h, '
        "fn: mean)",
        {"b": src},
    )
    assert tma.isStreaming
    assert tma.schema == slide.schema

    def _norm(df):
        import re as _re

        # expression IDs (#57) and the watermark node's per-query UUID
        # differ per compile; the tree must not
        s = df._jdf.queryExecution().analyzed().toString()
        s = _re.sub(r"#\d+", "#", s)
        return _re.sub(r"[0-9a-f]{8}-[0-9a-f-]{27}", "<uuid>", s)

    assert _norm(tma) == _norm(slide)
    for bad, msg in (
        ('from(bucket: "b") |> timedMovingAverage(period: 3h)',
         "bare timedMovingAverage"),
        ('from(bucket: "b") |> timedMovingAverage(every: 1h, period: 90m)',
         "multiple of every"),
        ('from(bucket: "b") |> aggregateWindow(every: 1h, fn: mean) '
         "|> timedMovingAverage(every: 1h, period: 2h)",
         "STREAMING subset"),
    ):
        with pytest.raises(flux.FluxError, match=msg):
            flux.compile_flux_stream(spark, bad, {"b": src})


def test_compile_flux_stream_nested_overlay_incremental(spark, tmp_path):
    """Round 12d: the nested union-join overlay across TWO
    micro-batches (day-2 lands after the first drain, same
    checkpoint): the multiple-stateful-operator state — two unioned
    window aggregates joined against a third — must carry across the
    restart, every finalized window pairing EXACTLY once (no re-emits,
    no losses), the union of both drains equal to the batch result
    minus the final open window."""
    import datetime

    src = str(tmp_path / "nested_inc_src")

    def _write(day, mode):
        t0 = datetime.datetime(2024, 1, day)
        rows = [
            (t0 + datetime.timedelta(minutes=13 * i), "events", f,
             float((i * 7 + day) % 23))
            for i in range(60)
            for f in ("click", "error", "view")
        ]
        df = spark.createDataFrame(
            rows, "t timestamp, m string, f string, v double"
        ).select(
            F.col("t").alias("_time"),
            F.col("m").alias("_measurement"),
            F.col("f").alias("_field"),
            F.col("v").alias("_value"),
            F.create_map().cast("map<string,string>").alias("tags"),
        )
        bkt.write_bucket(df, src, mode=mode)

    _write(1, "overwrite")
    script = """
    errors = from(bucket: "b")
      |> filter(fn: (r) => r["_field"] == "error")
      |> aggregateWindow(every: 3h, fn: mean)
    clicks = from(bucket: "b")
      |> filter(fn: (r) => r["_field"] == "click")
      |> aggregateWindow(every: 3h, fn: mean)
    u = union(tables: [errors, clicks])
    views = from(bucket: "b")
      |> filter(fn: (r) => r["_field"] == "view")
      |> aggregateWindow(every: 3h, fn: mean)
    join(tables: {u: u, v: views}, on: ["window_start"])
    """
    live = flux.compile_flux_stream(
        spark, script, {"b": src}, watermark="0 seconds"
    )
    ck = str(tmp_path / "ck_nested_inc")

    def drain():
        rows: list = []
        q = (
            live.writeStream.foreachBatch(
                lambda df, _eid: rows.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return [
            (r["window_start"], r["_field_u"], r["mean_u"], r["mean_v"])
            for r in rows
        ]

    rows1 = drain()
    _write(2, "append")
    rows2 = drain()
    # exactly-once across the restart: no key emitted twice
    keys1 = {(w, f) for (w, f, *_v) in rows1}
    keys2 = {(w, f) for (w, f, *_v) in rows2}
    assert keys1 and keys2 and not (keys1 & keys2)
    batch = flux.compile_flux(spark, script, {"b": src}).collect()
    max_t = max(r["window_start"] for r in batch)
    expected = sorted(
        (r["window_start"], r["_field_u"], r["mean_u"], r["mean_v"])
        for r in batch
        if r["window_start"] < max_t
    )
    assert sorted(rows1 + rows2) == expected
    # day-1 windows that the first drain could not finalize arrive in
    # the second (the restart genuinely continued open state)
    day1_in_2 = {w for (w, _f) in keys2 if w < datetime.datetime(2024, 1, 2)}
    assert day1_in_2


def test_start_flux_task_picks_up_new_data(spark, tmp_path):
    """The task loop's freshness contract: a tick AFTER new source
    data arrives recomputes and lands the new windows (the idempotent
    overwrite rewrites exactly the touched partitions)."""
    import datetime

    def _mk_rows(day, n):
        t0 = datetime.datetime(2024, 1, day)
        return [
            (t0 + datetime.timedelta(minutes=30 * i), "events", "click",
             float(i))
            for i in range(n)
        ]

    def _write(rows, mode):
        df = spark.createDataFrame(
            rows, "t timestamp, m string, f string, v double"
        ).select(
            F.col("t").alias("_time"),
            F.col("m").alias("_measurement"),
            F.col("f").alias("_field"),
            F.col("v").alias("_value"),
            F.create_map().cast("map<string,string>").alias("tags"),
        )
        bkt.write_bucket(df, src, mode=mode)

    src = str(tmp_path / "task_src")
    dst = str(tmp_path / "task_dst")
    _write(_mk_rows(1, 8), "overwrite")
    script = """
    from(bucket: "src")
      |> range(start: "2024-01-01T00:00:00Z", stop: "2024-01-09T00:00:00Z")
      |> aggregateWindow(every: 1h, fn: mean)
      |> to(bucket: "dst")
    """
    paths = {"src": src, "dst": dst}

    def tick(ck):
        q = flux.start_flux_task(
            spark, script, paths, checkpoint=str(tmp_path / ck),
            available_now=True,
        )
        q.awaitTermination(180)

    tick("t1")
    first = bkt.read_bucket(spark, dst).count()
    assert first > 0
    # day-2 data arrives; the next tick lands its windows too
    _write(_mk_rows(2, 6), "append")
    tick("t2")
    after = bkt.read_bucket(spark, dst)
    assert after.count() > first
    days = {r["d"] for r in after.select(
        F.to_date("_time").alias("d")).distinct().collect()}
    assert len(days) == 2


# -- compiler robustness fuzz (round 11) ---------------------------------

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    minutes=st.lists(
        st.integers(0, 120), min_size=1, max_size=12, unique=True
    ),
    cents=st.data(),
    every_m=st.sampled_from([1, 3, 7]),
)
def test_interpolate_linear_properties(spark, tmp_path_factory, minutes,
                                       cents, every_m):
    """interpolate.linear invariants on arbitrary gappy series: every
    raw row passes through untouched; every inserted row sits on an
    every-aligned mark strictly inside the span, absent from the raw
    timestamps, with a value exactly on the bracketing segment; a
    dense series (gap == every) inserts nothing."""
    import datetime

    vals = [
        cents.draw(st.integers(-10_000, 10_000)) / 100.0 for _ in minutes
    ]
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (t0 + datetime.timedelta(minutes=m), "events", "click", v)
        for m, v in zip(minutes, vals)
    ]
    df = spark.createDataFrame(
        rows, "t timestamp, m string, f string, v double"
    ).select(
        F.col("t").alias("_time"),
        F.col("m").alias("_measurement"),
        F.col("f").alias("_field"),
        F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    path = str(tmp_path_factory.mktemp("itpprop") / "bucket")
    bkt.write_bucket(df, path, mode="overwrite")
    out = flux.compile_flux(
        spark,
        f'from(bucket: "b") |> interpolate.linear(every: {every_m}m)',
        {"b": path},
    ).collect()
    raw = dict(zip(minutes, vals))
    got_raw = [(r["_time"], r["_value"]) for r in out
               if r["_time"].minute + 60 * r["_time"].hour in raw
               and r["_value"] == raw[r["_time"].minute + 60 * r["_time"].hour]]
    assert len(got_raw) == len(minutes)  # every raw row passes through
    srt = sorted(raw.items())
    for r in out:
        m = r["_time"].minute + 60 * r["_time"].hour
        if m in raw and r["_value"] == raw[m]:
            continue
        # inserted row: EPOCH-aligned (2024-01-01 00:00 is not a
        # multiple of e.g. 7 minutes from the epoch — alignment is on
        # absolute every-multiples, exactly as the oracle replays),
        # interior, not a raw timestamp, exactly on the bracketing
        # segment
        epoch_min = int(
            (r["_time"] - datetime.datetime(1970, 1, 1)).total_seconds()
            // 60
        )
        assert epoch_min % every_m == 0 and m not in raw
        assert srt[0][0] < m < srt[-1][0]
        pt, pv = max((t, v) for t, v in srt if t < m)
        nt, nv = min((t, v) for t, v in srt if t > m)
        assert r["_value"] == pv + (nv - pv) * ((m - pt) / (nt - pt))

_STAGE_POOL = [
    'range(start: "2024-01-03 00:00:00", stop: "2024-01-06 00:00:00")',
    'range(start: -7d)',
    'filter(fn: (r) => r["_measurement"] == "events")',
    'filter(fn: (r) => r["_field"] == "click")',
    'filter(fn: (r) => r["host"] == "h1")',
    'filter(fn: (r) => r._value > 100)',
    'filter(fn: (r) => exists r.host)',
    'filter(fn: (r) => r["_field"] =~ /cl.*/)',
    'filter(fn: (r) => contains(value: r["_field"], set: ["click", "view"]))',
    'filter(fn: (r) => contains(value: r["_field"], set: []))',
    "map(fn: (r) => ({ r with _value: r._value * 2.0 }))",
    "map(fn: (r) => ({ r with _time: 5 }))",
    "aggregateWindow(every: 1h, fn: mean, createEmpty: false)",
    "aggregateWindow(every: 1mo, fn: sum)",
    "aggregateWindow(every: 0s, fn: mean)",
    "aggregateWindow(every: 1h, fn: bogus)",
    "mean()",
    "median()",
    "quantile(q: 0.9)",
    "quantile(q: 9)",
    "last()",
    "first()",
    "derivative(unit: 1s, nonNegative: true)",
    "derivative(unit: -1s)",
    "difference()",
    "cumulativeSum()",
    "increase()",
    "movingAverage(n: 5)",
    "movingAverage(n: 0)",
    "exponentialMovingAverage(n: 3)",
    "holtWinters(n: 3, interval: 1h)",
    "holtWinters(n: 3, interval: 1h, seasonality: 4)",
    "holtWinters(n: 3)",
    "histogram(bins: [10.0, 100.0])",
    "histogramQuantile(quantile: 0.9)",
    "stateDuration(fn: (r) => r._value > 50)",
    "stateCount(fn: (r) => r._value > 50)",
    "elapsed()",
    "integral(unit: 1s)",
    "window(every: 30m)",
    "unique()",
    "distinct()",
    'pivot(rowKey: ["_time"], columnKey: ["_field"], valueColumn: "_value")',
    "group()",
    'group(columns: ["_field"])',
    'group(columns: ["host"])',
    'group(columns: ["nope"])',
    'keyValues(keyColumns: ["_field"])',
    'columns(column: "label")',
    "top(n: 3)",
    "bottom(n: 2)",
    "tail(n: 4)",
    'sort(columns: ["_value"], desc: true)',
    "limit(n: 5)",
    "limit(n: 5, offset: 2)",
    'keep(columns: ["_time", "_value"])',
    'keep(columns: ["nope"])',
    'drop(columns: ["_measurement"])',
    'fill(column: "_value", value: 0.0)',
    "fill(usePrevious: true)",
    'rename(columns: {_value: "reading"})',
    "timeShift(duration: 1d)",
    "timeShift(duration: 1h)",
    'duplicate(column: "_value", as: "copy")',
    'set(key: "source", value: "fuzz")',
    "toFloat()",
    "toInt()",
    "sample(n: 3, pos: 1)",
    "relativeStrengthIndex(n: 5)",
    "chandeMomentumOscillator(n: 5)",
    "kaufmansER(n: 5)",
    "doubleEMA(n: 3)",
    "tripleExponentialDerivative(n: 3)",
    "tripleExponentialDerivative(n: 0)",
    "kaufmansAMA(n: 4)",
    "events.duration(unit: 1m)",
    'events.duration(unit: 1m, stop: "2024-01-06 00:00:00")',
    "interpolate.linear(every: 30m)",
    "interpolate.linear(every: 0s)",
    "timedMovingAverage(every: 1h, period: 2h)",
    "aggregateWindow(every: 1h, fn: last)",
    "aggregateWindow(every: 1h, fn: max)",
    "aggregateWindow(every: 1h, fn: (column, tables=<-) => tables "
    "|> quantile(q: 0.99))",
    "reduce(fn: (r, accumulator) => ({ s: accumulator.s + r._value }), "
    "identity: {s: 0.0})",
    "reduce(fn: (r, accumulator) => ({ s: accumulator.t + 1 }), "
    "identity: {s: 0.0})",
    # round 12: the cross-field fold (legal per-series; raises after
    # group() and in streams — either way the compiler stays total)
    "reduce(fn: (r, accumulator) => ({ c: accumulator.c + 1.0, "
    "a: (accumulator.a * accumulator.c + r._value) / "
    "(accumulator.c + 1.0) }), identity: {c: 0.0, a: 0.0})",
    "highestMax(n: 2)",
    "lowestAverage(n: 2)",
    # round 12d: the tail/label/legacy/delta additions — legal in
    # their documented positions, rejected elsewhere; the fuzz pins
    # totality either way
    "map(fn: (r) => ({ r with _value: r._value * 0.001 }))",
    'aggregateWindow(every: 1h, fn: mean, timeSrc: "_stop")',
    'aggregateWindow(every: 1h, fn: mean, timeSrc: "_time")',
    "aggregateWindow(every: 2h, period: 6h, fn: mean)",
    "aggregateWindow(every: 2h, period: 5h, fn: mean)",
    "timeWeightedAvg(unit: 1m)",
    "timeWeightedAvg()",
    "window(every: 6h)",
    "window(every: inf)",
    "difference(nonNegative: true, keepFirst: true, initialZero: true)",
    "difference(initialZero: true)",
    'pivot(rowKey: ["_time"], columnKey: ["host"], valueColumn: "_value")',
    # round 13: the time-decayed EMA + the streaming smoothing family
    # (legal standalone in BOTH compilers now; rejected after
    # aggregates / with bad args — the fuzz pins totality either way)
    "exponentialTimeMovingAverage(n: 5m)",
    "exponentialTimeMovingAverage(n: 5)",
    "exponentialTimeMovingAverage(n: 0s)",
    "tripleEMA(n: 2)",
    'to(bucket: "nowhere")',
    'yield(name: "out")',
    "bogusStage(x: 1)",
    "mean(",  # unbalanced
]


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.sampled_from(_STAGE_POOL), min_size=1, max_size=4))
def test_stream_compiler_total_over_stage_compositions(spark, store, stages):
    """The STREAMING compiler's totality contract, same pool: every
    composition either compiles to a streaming DataFrame or raises
    FluxError naming the problem — never an internal error."""
    text = 'from(bucket: "b")\n  |> ' + "\n  |> ".join(stages)
    try:
        out = flux.compile_flux_stream(
            spark, text, {"b": store}, now="2024-01-06T00:00:00Z"
        )
    except flux.FluxError:
        return
    assert out is not None and out.isStreaming


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(stages=st.lists(st.sampled_from(_STAGE_POOL), min_size=1, max_size=4))
@example(
    stages=[
        "timeShift(duration: 1h)",
        'range(start: "2024-01-03 00:00:00", stop: "2024-01-06 00:00:00")',
    ]
)
def test_stream_accepted_compositions_compile_in_batch(spark, store, stages):
    """A live panel is the batch text run incrementally, so the stream
    subset sits inside the batch one: every composition that
    compile_flux_stream compiles must compile under compile_flux too.
    (The example is the drift the shared stage parsers closed: the
    stream compiler used to accept range() after a row-level
    timeShift and filter the stored, unshifted times.)"""
    text = 'from(bucket: "b")\n  |> ' + "\n  |> ".join(stages)
    try:
        flux.compile_flux_stream(
            spark, text, {"b": store}, now="2024-01-06T00:00:00Z"
        )
    except flux.FluxError:
        return
    out = flux.compile_flux(
        spark, text, {"b": store}, now="2024-01-06T00:00:00Z"
    )
    assert out.columns


def test_compile_flux_stream_refuses_range_after_time_shift(spark, store):
    """range() after a row-level timeShift: the scan's pushed bounds
    filter STORED timestamps, so the stream would emit shifted rows
    outside the range the user wrote. Both compilers raise the same
    FluxError."""
    text = (
        'from(bucket: "b") |> timeShift(duration: 3h) '
        '|> range(start: "2024-01-01T04:00:00Z", '
        'stop: "2024-01-01T06:00:00Z")'
    )
    with pytest.raises(flux.FluxError) as batch_err:
        flux.compile_flux(spark, text, {"b": store})
    with pytest.raises(flux.FluxError) as stream_err:
        flux.compile_flux_stream(spark, text, {"b": store})
    assert "after a time-rewriting stage" in str(stream_err.value)
    assert str(stream_err.value) == str(batch_err.value)


_AGG_1H = "aggregateWindow(every: 1h, fn: mean)"


@pytest.mark.parametrize(
    "stages, msg",
    [
        # accepted: the batch parser accepts them and the stream adds
        # no rule of its own
        (['timeShift(duration: 1h, columns: ["_time"])', _AGG_1H], None),
        (['cumulativeSum(columns: ["_value"])'], None),
        (['kaufmansAMA(n: 4, column: "_value")'], None),
        (['aggregateWindow(every: 1h, fn: mean, createEmpty: "false")'], None),
        (["aggregateWindow(every: 1mo, fn: sum, offset: 0s)"], None),
        # the batch parser's own messages
        (["aggregateWindow(every: 1h, fn: bogus)"],
         "unsupported aggregateWindow fn 'bogus'"),
        (["aggregateWindow(every: 1h, fn: mean, createEmpty: 5)"],
         "createEmpty: expected a boolean"),
        (["difference(initialZero: true)"], "set keepFirst: true"),
        (["increase(x: 1)"], "takes no arguments"),
        (['cumulativeSum(columns: ["x"])'], "ships only columns"),
        (["timeShift(duration: 1h, x: 1)"], "timeShift: unsupported args"),
        (["map(fn: (r) => ({ r with _value: r._value }), x: 1)"],
         "map: unsupported args"),
        ([_AGG_1H, "keep(columns: [])"], "keep: columns list is empty"),
        ([_AGG_1H, 'rename(columns: {mean: "m"}, x: 1)'],
         "rename: unsupported args"),
        ([_AGG_1H, "filter(fn: (r) => r.nope > 1)"],
         r"filter: unknown column\(s\) \['nope'\]"),
        # the streaming rules, now stated once per rule
        (["difference(keepFirst: true)"],
         r"difference\(keepFirst: true\) is outside the STREAMING subset"),
        ([_AGG_1H, 'range(start: "2024-01-03 00:00:00")'],
         r"range\(\) after an aggregation/transform stage is outside the "
         "STREAMING subset"),
        ([_AGG_1H, _AGG_1H],
         r"aggregateWindow\(\) after aggregateWindow is outside the "
         "STREAMING subset"),
        (["fill(value: 0.0)"],
         r"fill\(\) before aggregateWindow is outside the STREAMING subset"),
    ],
)
def test_compile_flux_stream_parses_stages_like_batch(spark, store, stages, msg):
    """compile_flux_stream parses every stage with the batch compiler's
    parser and adds only its streaming rules: an input the batch
    accepts and no streaming rule refuses compiles live (and in batch),
    and a malformed stage raises the batch parser's message."""
    text = 'from(bucket: "b") |> ' + " |> ".join(stages)
    if msg is None:
        assert flux.compile_flux_stream(spark, text, {"b": store}).isStreaming
        assert flux.compile_flux(spark, text, {"b": store}).columns
        return
    with pytest.raises(flux.FluxError, match=msg):
        flux.compile_flux_stream(spark, text, {"b": store})


_JOIN_AB = (
    'a = from(bucket: "b") |> last()\n'
    'b = from(bucket: "b") |> last()\n'
    'join(tables: {a: a, b: b}, on: ["_field"])\n'
)


@pytest.mark.parametrize(
    "compile_name, text, msg",
    [
        # a calendar window refuses period: before parsing its value
        # (2mo is not a duration token), in both compilers
        ("compile_flux", 'from(bucket: "b") |> aggregateWindow(every: 1mo, '
         "fn: mean, period: 2mo)", "do not compose with calendar"),
        ("compile_flux_stream", 'from(bucket: "b") |> aggregateWindow('
         "every: 1mo, fn: mean, period: 2mo)", "do not compose with calendar"),
        ("compile_flux", 'from(bucket: "b") |> timedMovingAverage()',
         "timedMovingAverage period: bad duration None"),
        # tail-stage errors name the offending stage
        ("compile_flux", 'from(bucket: "b") |> keep(columns: ["nope"])',
         r"keep: unknown column\(s\) \['nope'\]; frame has .*"
         r": 'keep\(columns: \[\"nope\"\]\)'"),
        ("compile_flux", 'from(bucket: "b") |> derivative() '
         "|> map(fn: (r) => ({ r with _value: r._value * 2.0 }))",
         "map on _value after derivative is ambiguous in this subset "
         r"\(the frame keeps the original _value beside the named result "
         "column — upstream rewrites _value\\)"),
        # the combiner's map is the pipeline map's parser
        ("compile_flux", _JOIN_AB + "  |> map(fn: (r) => ({ r with _value: "
         "1.0 }), x: 1)", "map: unsupported args"),
        ("compile_flux", _JOIN_AB + "  |> map(fn: (r) => ({ r with _time: "
         "1.0 }))", "got '_time' \\(rewriting keys/time"),
    ],
)
def test_shared_parser_messages(spark, store, compile_name, text, msg):
    """Messages the shared stage parsers give where a compiler's own
    copy used to say something else."""
    with pytest.raises(flux.FluxError, match=msg):
        getattr(flux, compile_name)(spark, text, {"b": store})


@settings(
    max_examples=120,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.sampled_from(_STAGE_POOL), min_size=1, max_size=5))
def test_compiler_total_over_stage_compositions(spark, store, stages):
    """Robustness contract: EVERY composition of grammar-adjacent
    stage strings either compiles to a DataFrame or raises FluxError
    naming the problem — never an internal Py4J/analysis error, never
    a silent None. (The attested-correctness tests pin what valid
    pipelines compute; this pins how invalid ones fail.)"""
    text = 'from(bucket: "b")\n  |> ' + "\n  |> ".join(stages)
    try:
        out = flux.compile_flux(
            spark, text, {"b": store}, now="2024-01-06T00:00:00Z"
        )
    except flux.FluxError:
        return
    assert out is not None and out.columns


@pytest.fixture(scope="module")
def multimonth_store(spark, tmp_path_factory):
    """A 4-month, 2-field store for the CALENDAR streaming tests (the
    sf events corpus spans one January only, so calendar windows need
    their own spine)."""
    path = str(tmp_path_factory.mktemp("fluxcal") / "bucket")
    rows = []
    for m, days in [(1, 31), (2, 29), (3, 31), (4, 30)]:
        for d in range(1, days + 1, 3):
            for f, v in [("click", 1.25), ("view", 2.5)]:
                rows.append(
                    (f"2024-{m:02d}-{d:02d} 06:30:00", f, v * m + d / 100.0)
                )
    df = spark.createDataFrame(rows, "t string, f string, v double").select(
        F.col("t").cast("timestamp").alias("_time"),
        F.lit("cal").alias("_measurement"),
        F.col("f").alias("_field"),
        F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    bkt.write_bucket(df, path, mode="overwrite")
    return path


def test_compile_flux_stream_calendar_month_equals_batch(
    spark, multimonth_store, tmp_path
):
    """Round 15 (VERDICT r14 item 4): calendar windows (every: 1mo)
    STREAM — the watermark rides the date_trunc'd calendar key
    itself, so append mode finalizes each month once data past the
    next month's start arrives. Emitted months are bit-identical to
    the batch compiler; the final month — whose key the watermark
    (max(key) − delay) never passes — is the one legitimate
    difference, exactly the fixed-window rule."""
    text = """
    from(bucket: "b")
      |> filter(fn: (r) => r["_measurement"] == "cal")
      |> aggregateWindow(every: 1mo, fn: mean)
    """
    live = flux.compile_flux_stream(spark, text, {"b": multimonth_store})
    assert live.isStreaming
    q = (
        live.writeStream.format("memory")
        .queryName("flux_cal_live")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_cal"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["window_start"], r["_field"]): (r["mean"], r["n"])
        for r in spark.sql("SELECT * FROM flux_cal_live").collect()
    }
    batch = flux.compile_flux(spark, text, {"b": multimonth_store}).collect()
    max_m = max(r["window_start"] for r in batch)
    expected = {
        (r["window_start"], r["_field"]): (r["mean"], r["n"])
        for r in batch
        if r["window_start"] < max_m  # the final month stays open
    }
    # exact both ways: every closed month emitted bit-identically,
    # nothing else emitted (3 months × 2 fields here)
    assert len(expected) == 6
    assert got == expected


def test_compile_flux_stream_calendar_union_and_rejections(
    spark, multimonth_store, tmp_path
):
    """The union overlay composes calendar aggregates (each side keeps
    its own watermarked calendar state); the join form and a zero
    watermark delay raise naming why."""
    a = """
    a = from(bucket: "b")
      |> filter(fn: (r) => r["_field"] == "click")
      |> aggregateWindow(every: 1mo, fn: mean)
    b = from(bucket: "b")
      |> filter(fn: (r) => r["_field"] == "view")
      |> aggregateWindow(every: 1mo, fn: mean)
    union(tables: [a, b])
    """
    live = flux.compile_flux_stream(spark, a, {"b": multimonth_store})
    q = (
        live.writeStream.format("memory")
        .queryName("flux_cal_union")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_union"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT * FROM flux_cal_union").collect()
    # 3 closed months × 2 single-field pipelines
    assert len(got) == 6
    assert {r["_field"] for r in got} == {"click", "view"}
    # the join form pairs state on the F.window STRUCT — a bare
    # calendar key gives it nothing to pair on
    j = a.replace(
        "union(tables: [a, b])",
        'join(tables: {a: a, b: b}, on: ["window_start"])',
    )
    with pytest.raises(flux.FluxError, match="streaming join input"):
        flux.compile_flux_stream(spark, j, {"b": multimonth_store})
    # delay 0 would finalize a month on its own first record
    with pytest.raises(flux.FluxError, match="positive watermark delay"):
        flux.compile_flux_stream(
            spark,
            'from(bucket: "b") |> aggregateWindow(every: 1mo, fn: mean)',
            {"b": multimonth_store},
            watermark="0 seconds",
        )


def test_compile_flux_stream_calendar_year_equals_batch(
    spark, tmp_path
):
    """The 1y stride: same mechanics, year boundaries."""
    path = str(tmp_path / "ybucket")
    rows = [
        (f"{y}-{m:02d}-15 12:00:00", float(y - 2020) + m / 100.0)
        for y in (2021, 2022, 2023)
        for m in (2, 7, 11)
    ]
    df = spark.createDataFrame(rows, "t string, v double").select(
        F.col("t").cast("timestamp").alias("_time"),
        F.lit("cal").alias("_measurement"),
        F.lit("metric").alias("_field"),
        F.col("v").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    bkt.write_bucket(df, path, mode="overwrite")
    # fn: last — the calendar GAUGE (selector aggregates share the
    # same _plain_agg_expr dispatch; one arm pins the family)
    gtext = 'from(bucket: "b") |> aggregateWindow(every: 1y, fn: last)'
    glive = flux.compile_flux_stream(spark, gtext, {"b": path})
    gq = (
        glive.writeStream.format("memory")
        .queryName("flux_cal_gauge")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_gauge"))
        .trigger(availableNow=True)
        .start()
    )
    gq.awaitTermination(180)
    ggot = {
        (r["window_start"], r["_field"]): (r["last"], r["n"])
        for r in spark.sql("SELECT * FROM flux_cal_gauge").collect()
    }
    gbatch = flux.compile_flux(spark, gtext, {"b": path}).collect()
    gmax = max(r["window_start"] for r in gbatch)
    gexpected = {
        (r["window_start"], r["_field"]): (r["last"], r["n"])
        for r in gbatch
        if r["window_start"] < gmax
    }
    assert len(gexpected) == 2 and ggot == gexpected

    text = 'from(bucket: "b") |> aggregateWindow(every: 1y, fn: sum)'
    live = flux.compile_flux_stream(spark, text, {"b": path})
    q = (
        live.writeStream.format("memory")
        .queryName("flux_cal_year")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_year"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["window_start"], r["_field"]): (r["sum"], r["n"])
        for r in spark.sql("SELECT * FROM flux_cal_year").collect()
    }
    batch = flux.compile_flux(spark, text, {"b": path}).collect()
    max_y = max(r["window_start"] for r in batch)
    expected = {
        (r["window_start"], r["_field"]): (r["sum"], r["n"])
        for r in batch
        if r["window_start"] < max_y
    }
    assert len(expected) == 2 and got == expected
