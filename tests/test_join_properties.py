"""Property-based tests (hypothesis) for the custom join operators
and the spine-join gap fill: the Spark implementations must agree with
a brute-force Python reference on arbitrary small inputs — keys
missing from one side, duplicate timestamps, empty sides,
boundary-exact matches, edge gaps.
"""

from __future__ import annotations

import pytest

try:
    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from time_series_data_pipeline_spark.operators.asof import asof_join
from time_series_data_pipeline_spark.operators.rangejoin import range_join

# (key, epoch_second, value) triples; seconds span two bins of the
# 600 s range join so bin-boundary cases are generated
ROWS = st.lists(
    st.tuples(
        st.integers(0, 2),
        st.integers(0, 1800),
        st.integers(-5, 5),
    ),
    max_size=12,
)

# as-of inputs: two keys on a 300 s grid of five points, so equal right
# timestamps (the greatest-value tie) and equidistant neighbours
# (nearest's tie to backward) turn up within the example budget
ASOF_ROWS = st.lists(
    st.tuples(
        st.integers(0, 1),
        st.integers(0, 4).map(lambda i: i * 300),
        st.integers(-5, 5),
    ),
    max_size=12,
)

CFG = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, rows, ts_as_timestamp=True):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(k, s, float(v)) for k, s, v in rows] or [(0, 0, 0.0)],
        "k int, sec int, v double",
    )
    if not rows:
        df = df.filter("1=0")
    return df.select("k", F.timestamp_seconds("sec").alias("ts"), "v")


def _asof_reference(left, right, direction):
    """Brute-force as-of match per left row, as (ts, value) or None.

    backward: greatest right ts <= left ts; forward: smallest right ts
    >= left ts; either way the greatest value among equal timestamps.
    nearest: the closer of the two, backward at equal distance."""
    out = []
    for k, s, v in left:
        before = [(rs, rv) for rk, rs, rv in right if rk == k and rs <= s]
        after = [(rs, rv) for rk, rs, rv in right if rk == k and rs >= s]
        bwd = max(before) if before else None
        fwd = min(after, key=lambda c: (c[0], -c[1])) if after else None
        if direction == "backward":
            best = bwd
        elif direction == "forward":
            best = fwd
        elif bwd is None or fwd is None:
            best = bwd or fwd
        else:
            best = fwd if fwd[0] - s < s - bwd[0] else bwd
        out.append((k, s, v, best))
    return out


@given(
    left=ASOF_ROWS,
    right=ASOF_ROWS,
    direction=st.sampled_from(["backward", "forward", "nearest"]),
)
@settings(**CFG)
def test_asof_join_matches_bruteforce(spark, left, right, direction):
    out = asof_join(
        _df(spark, left), _df(spark, right), by=["k"], ts_col="ts",
        value_cols=["v"], direction=direction,
    ).collect()
    got = sorted(
        (r["k"], r["ts"].timestamp(), r["v"],
         r["asof_ts"].timestamp() if r["asof_ts"] else None,
         r["asof_v"])
        for r in out
    )
    expect = [
        (k, float(s), float(v),
         float(best[0]) if best else None,
         float(best[1]) if best else None)
        for k, s, v, best in _asof_reference(left, right, direction)
    ]
    assert got == sorted(expect)


# gap-fill inputs: two keys over eight 300 s buckets, several rows per
# bucket and NULL values, so interior gaps, edge gaps (a series that
# starts after or ends before the shared spine) and buckets holding
# only NULLs turn up
FILL_ROWS = st.lists(
    st.tuples(
        st.integers(0, 1),
        st.integers(0, 8 * 300 - 1),
        st.one_of(st.none(), st.integers(-5, 5)),
    ),
    max_size=12,
)


def _gap_fill_interp_reference(rows, step=300):
    """Brute-force gap_fill_interpolated, as (bucket, key, n_events,
    avg_value, interp_value) rows over the GLOBAL [first, last] bucket
    spine, for every key. An observed bucket (any row, NULL values
    included) keeps the sum of its non-null values over its row count
    (NULL when every value is NULL); an empty bucket lies on the line
    between the nearest observed buckets before and after it — NULL at
    the edges, or when either neighbour's value is NULL."""
    seen = {}
    for k, s, v in rows:
        n, tot, vals = seen.get((k, s - s % step), (0, 0, 0))
        seen[(k, s - s % step)] = (n + 1, tot + (v or 0), vals + (v is not None))
    if not seen:
        return []
    lo, hi = min(b for _k, b in seen), max(b for _k, b in seen)
    out = []
    for key in sorted({k for k, _b in seen}):
        obs = {
            b: (n, tot / n if vals else None)
            for (k, b), (n, tot, vals) in seen.items()
            if k == key
        }
        for b in range(lo, hi + 1, step):
            if b in obs:
                out.append((b, key, obs[b][0], obs[b][1], obs[b][1]))
                continue
            before = [p for p in obs if p < b]
            after = [q for q in obs if q > b]
            interp = None
            if before and after:
                p, q = max(before), min(after)
                vp, vq = obs[p][1], obs[q][1]
                if vp is not None and vq is not None:
                    # the operator's own expression order, in µs
                    interp = vp + (vq - vp) * ((b - p) * 10**6) / (
                        (q - p) * 10**6
                    )
            out.append((b, key, 0, None, interp))
    return out


@given(rows=FILL_ROWS)
@example(rows=[(0, 0, 1), (0, 1500, 4), (0, 1600, None), (0, 2100, 6),
               (1, 900, 2), (1, 2100, None)])
@example(rows=[(0, 0, 3), (0, 2100, 5), (1, 1200, 7)])
@settings(**CFG)
def test_gap_fill_interpolated_matches_bruteforce(spark, rows):
    """Keyed series over a shared spine: interior gaps interpolate,
    edge gaps stay NULL (the reversed running frame that carries the
    NEXT observation must stop at the series' last one), a
    single-observation series interpolates nothing, and a NULL-valued
    observation nulls the gaps beside it."""
    from pyspark.sql import functions as F

    from time_series_data_pipeline_spark.operators.timeseries import (
        gap_fill_interpolated,
    )

    df = spark.createDataFrame(rows or [(0, 0, None)], "k int, sec int, v int")
    if not rows:
        df = df.filter("1=0")
    df = df.select(
        "k",
        F.timestamp_seconds("sec").alias("ts"),
        F.col("v").cast("double").alias("v"),
    )
    out = gap_fill_interpolated(
        df, "ts", "v", "5 minutes", 300, keys=["k"]
    ).collect()
    got = sorted(
        (int(r["bucket"].timestamp()), r["k"], r["n_events"],
         r["avg_value"], r["interp_value"])
        for r in out
    )
    assert got == sorted(_gap_fill_interp_reference(rows))


@given(left=ROWS, right=ROWS, span=st.sampled_from([60, 600, 1800, 7200]))
@settings(**CFG)
def test_range_join_matches_bruteforce(spark, left, right, span):
    """Span varies across bin-boundary regimes: spans smaller than,
    equal to, and larger than the data's time extent."""
    out = range_join(
        _df(spark, left), _df(spark, right), by=["k"],
        left_ts="ts", right_ts="ts", lower_seconds=span,
    ).collect()
    got = sorted(
        (r["k"], r["ts"].timestamp(), r["v"], r["r_ts"].timestamp(), r["r_v"])
        for r in out
    )
    expect = sorted(
        (lk, float(ls), float(lv), float(rs), float(rv))
        for lk, ls, lv in left
        for rk, rs, rv in right
        if rk == lk and ls - span <= rs < ls
    )
    assert got == expect


def test_asof_directions_fixture(spark):
    """backward/forward/nearest on a hand-built timeline, including the
    equal-distance tie (-> backward) and one-sided edges."""
    import datetime as dt

    from time_series_data_pipeline_spark.operators.asof import asof_join
    from pyspark.sql import Row

    base = dt.datetime(2024, 1, 1)
    mk = lambda s: base + dt.timedelta(seconds=s)
    left = spark.createDataFrame(
        [Row(k="u", ts=mk(s), lid=i) for i, s in enumerate([5, 20, 100])]
    )
    right = spark.createDataFrame(
        [Row(k="u", ts=mk(s), rv=float(s)) for s in [10, 30, 90]]
    )

    def run(direction):
        out = asof_join(
            left, right, by=["k"], ts_col="ts",
            value_cols=["rv"], direction=direction,
        )
        return {r.lid: r.asof_rv for r in out.collect()}

    # left@5: nothing before; left@20: 10 before / 30 after (tie at 10s
    # distance -> backward); left@100: 90 before, nothing after
    assert run("backward") == {0: None, 1: 10.0, 2: 90.0}
    assert run("forward") == {0: 10.0, 1: 30.0, 2: None}
    assert run("nearest") == {0: 10.0, 1: 10.0, 2: 90.0}


def test_asof_nearest_single_exchange(spark):
    """nearest adds a second window sort but must reuse the single
    hash-partitioning exchange."""
    import datetime as dt

    from time_series_data_pipeline_spark.operators.asof import asof_join
    from pyspark.sql import Row

    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame([Row(k="u", ts=base, lid=1)])
    right = spark.createDataFrame([Row(k="u", ts=base, rv=1.0)])
    plan = (
        asof_join(left, right, by=["k"], value_cols=["rv"], direction="nearest")
        ._jdf.queryExecution().executedPlan().toString()
    )
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles <= 1, plan


# (key, start_second, duration_seconds) interval triples — durations of
# 0 and boundary-touching cases are generated
IVALS = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 120), st.integers(0, 40)),
    min_size=1,
    max_size=14,
)


@given(rows=IVALS)
@settings(**CFG)
def test_merge_intervals_matches_bruteforce(spark, rows):
    """merge_intervals must equal the classic sweep-line interval union
    computed in plain Python, per key, for arbitrary interval sets."""
    import datetime as dt

    from pyspark.sql import functions as F
    from time_series_data_pipeline_spark.operators.timeseries import (
        merge_intervals,
    )

    base = dt.datetime(2024, 1, 1)
    data = [
        (k, i, base + dt.timedelta(seconds=s), d * 1_000_000)
        for i, (k, s, d) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "k long, event_id long, ts timestamp, dur long"
    )
    got = {
        (r.k, r.interval_start, r.interval_end, r.n_events)
        for r in merge_intervals(
            df, "ts", F.col("dur"), ["k"], "event_id"
        ).collect()
    }

    # brute force: sort by (start, id), sweep, merge on overlap/touch
    expect = set()
    by_key: dict = {}
    for k, i, ts, dur in data:
        by_key.setdefault(k, []).append((ts, i, ts + dt.timedelta(microseconds=dur)))
    for k, ivs in by_key.items():
        ivs.sort(key=lambda t: (t[0], t[1]))
        cur_s, cur_e, n = ivs[0][0], ivs[0][2], 1
        for s, _, e in ivs[1:]:
            if s <= cur_e:
                cur_e = max(cur_e, e)
                n += 1
            else:
                expect.add((k, cur_s, cur_e, n))
                cur_s, cur_e, n = s, e, 1
        expect.add((k, cur_s, cur_e, n))

    # island numbering is an implementation detail; compare the spans
    assert got == expect
