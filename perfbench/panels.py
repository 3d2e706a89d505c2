"""Dashboard panel templates and their DuckDB reference statements.

Each template renders one panel text (Flux or InfluxQL) from seeded
parameters, plus one DuckDB statement over the generated day CSVs that
gives the rows the panel must return. The Flux panels follow the
reference dashboard (``photo/use-variable.png``, ``photo/voltage.png``)
and the Grafana shapes the registry already carries.
"""

from __future__ import annotations

import datetime as dt

from . import gen

BUCKET = "gas-quality"
MEASUREMENT = "gas"


def _bounds(p: dict) -> tuple[str, str]:
    lo = gen.FIRST_DAY + dt.timedelta(days=p["start_day"])
    hi = lo + dt.timedelta(days=p["days"])
    return f"{lo}T00:00:00Z", f"{hi}T00:00:00Z"


def _sql_range(lo: str, hi: str) -> str:
    return (
        f"_time >= TIMESTAMP '{lo[:10]} 00:00:00' "
        f"AND _time < TIMESTAMP '{hi[:10]} 00:00:00'"
    )


def _q(s: str) -> str:
    return s.replace("'", "''")


def _bucket_us(p: dict) -> int:
    return gen.WINDOW_S[p["window"]] * 1_000_000


# exact decimal mean, the engine's determinism idiom
_AVG = "CAST(SUM(CAST(_value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*)"


def flux_use_variable(p):
    lo, hi = _bounds(p)
    text = f"""
        from(bucket: "{BUCKET}")
          |> range(start: v.timeRangeStart, stop: v.timeRangeStop)
          |> filter(fn: (r) => r["_measurement"] == "{MEASUREMENT}")
          |> filter(fn: (r) => r["_field"] == "${{Resistances}}")
          |> aggregateWindow(every: v.windowPeriod, fn: mean, createEmpty: false)
          |> yield(name: "mean")
        """
    params = {
        "timeRangeStart": lo,
        "timeRangeStop": hi,
        "windowPeriod": p["window"],
        "Resistances": p["field"],
    }
    return text, params, _window_mean_sql(p["field"], lo, hi, _bucket_us(p))


def _window_mean_sql(field, lo, hi, us):
    return f"""
        SELECT make_timestamp((epoch_us(_time)//{us})*{us}) AS window_start,
               '{MEASUREMENT}' AS _measurement, _field,
               {_AVG} AS mean, COUNT(*) AS n
        FROM gas WHERE _field = '{_q(field)}' AND {_sql_range(lo, hi)}
        GROUP BY 1, 2, 3"""


def flux_voltage_15m(p):
    lo, hi = _bounds(p)
    text = f"""
        from(bucket: "{BUCKET}")
          |> range(start: "{lo}", stop: "{hi}")
          |> filter(fn: (r) => r["_measurement"] == "{MEASUREMENT}")
          |> filter(fn: (r) => r["_field"] == "Heater voltage (V)")
          |> aggregateWindow(every: 15m, fn: mean, createEmpty: false)
          |> yield(name: "mean")
        """
    return text, None, _window_mean_sql("Heater voltage (V)", lo, hi, 900_000_000)


def flux_field_keys(p):
    lo, hi = _bounds(p)
    text = f"""
        import "influxdata/influxdb/schema"

        schema.fieldKeys(
          bucket: "{BUCKET}",
          predicate: (r) => r["_field"] != "{p['field']}",
          start: "{lo[:10]} 00:00:00",
          stop: "{hi[:10]} 00:00:00"
        )
        """
    sql = f"""
        SELECT DISTINCT _field AS _value FROM gas
        WHERE _field <> '{_q(p['field'])}' AND {_sql_range(lo, hi)}"""
    return text, None, sql


def flux_windowed_quantile(p):
    lo, hi = _bounds(p)
    us = _bucket_us(p)
    text = f"""
        from(bucket: "{BUCKET}")
          |> range(start: "{lo}", stop: "{hi}")
          |> filter(fn: (r) => r["_measurement"] == "{MEASUREMENT}")
          |> filter(fn: (r) => r["_field"] == "{p['field']}")
          |> aggregateWindow(every: {p['window']}, fn: (column, tables=<-) =>
               tables |> quantile(q: 0.9))
        """
    sql = f"""
        SELECT window_start, _measurement, _field, _value AS quantile,
               CAST(n AS BIGINT) AS n
        FROM (
          SELECT make_timestamp((epoch_us(_time)//{us})*{us}) AS window_start,
                 '{MEASUREMENT}' AS _measurement, _field, _value,
                 row_number() OVER (PARTITION BY epoch_us(_time)//{us}
                                    ORDER BY _value) AS rn,
                 count(_value) OVER (PARTITION BY epoch_us(_time)//{us}) AS n
          FROM gas WHERE _field = '{_q(p['field'])}' AND {_sql_range(lo, hi)}
        ) WHERE rn = greatest(CAST(round(0.9 * n) AS BIGINT), 1)"""
    return text, None, sql


def flux_ema(p):
    lo, hi = _bounds(p)
    text = f"""
        from(bucket: "{BUCKET}")
          |> range(start: "{lo}", stop: "{hi}")
          |> filter(fn: (r) => r["_measurement"] == "{MEASUREMENT}")
          |> filter(fn: (r) => r["_field"] == "{p['field']}")
          |> exponentialMovingAverage(n: 10)
          |> last()
        """
    sql = f"""
        WITH agg AS (
          SELECT _field, max(_time) AS last_ts, count(*) AS cnt,
                 list(_value ORDER BY _time, _value) AS vs
          FROM gas WHERE _field = '{_q(p['field'])}' AND {_sql_range(lo, hi)}
          GROUP BY 1
        )
        SELECT '{MEASUREMENT}' AS _measurement, _field, last_ts,
               list_reduce(
                 list_prepend(
                   list_reduce(list_slice(vs, 1, 10), (a, x) -> a + x) / 10,
                   list_slice(vs, 11, length(vs))),
                 (a, x) -> (1.0 - 2.0/11.0) * a + (2.0/11.0) * x
               ) AS last_value
        FROM agg WHERE cnt >= 10"""
    return text, None, sql


def flux_downsample_rate(p):
    lo, hi = _bounds(p)
    us = _bucket_us(p)
    text = f"""
        from(bucket: "{BUCKET}")
          |> range(start: "{lo}", stop: "{hi}")
          |> filter(fn: (r) => r["_measurement"] == "{MEASUREMENT}")
          |> filter(fn: (r) => r["_field"] == "{p['field']}")
          |> aggregateWindow(every: {p['window']}, fn: last, createEmpty: false)
          |> derivative(unit: 1s, nonNegative: true)
        """
    sql = f"""
        WITH w AS (
          SELECT _field, make_timestamp((epoch_us(_time)//{us})*{us}) AS t,
                 _value AS value
          FROM gas WHERE _field = '{_q(p['field'])}' AND {_sql_range(lo, hi)}
          QUALIFY row_number() OVER (PARTITION BY epoch_us(_time)//{us}
                                     ORDER BY _time DESC, _value DESC) = 1
        ),
        d AS (
          SELECT _field, t, value, lag(value) OVER w2 AS pv,
                 lag(epoch_us(t)) OVER w2 AS pt
          FROM w WINDOW w2 AS (ORDER BY t, value)
        )
        SELECT * FROM (
          SELECT '{MEASUREMENT}' AS _measurement, _field, t AS _time,
                 value AS _value,
                 CASE WHEN value >= pv THEN value - pv ELSE value END
                   / NULLIF((epoch_us(t) - pt) / 1000000.0, 0) AS derivative
          FROM d
        ) WHERE derivative IS NOT NULL"""
    return text, None, sql


def flux_join_overlay(p):
    lo, hi = _bounds(p)
    prev = dict(p, start_day=p["start_day"] - p["days"])
    plo, phi = _bounds(prev)
    us = _bucket_us(p)
    shift_us = p["days"] * 86_400_000_000
    field = p["field"]
    text = f"""
        a = from(bucket: "{BUCKET}")
          |> range(start: "{lo}", stop: "{hi}")
          |> filter(fn: (r) => r["_measurement"] == "{MEASUREMENT}")
          |> filter(fn: (r) => r["_field"] == "{field}")
          |> aggregateWindow(every: {p['window']}, fn: mean, createEmpty: false)
        b = from(bucket: "{BUCKET}")
          |> range(start: "{plo}", stop: "{phi}")
          |> filter(fn: (r) => r["_measurement"] == "{MEASUREMENT}")
          |> filter(fn: (r) => r["_field"] == "{field}")
          |> timeShift(duration: {p['days']}d)
          |> aggregateWindow(every: {p['window']}, fn: mean, createEmpty: false)
        join(tables: {{a: a, b: b}}, on: ["window_start", "_measurement", "_field"])
          |> map(fn: (r) => ({{ r with _value: r.mean_a - r.mean_b }}))
          |> yield(name: "wow_delta")
        """
    sql = f"""
        WITH cur AS (
          SELECT make_timestamp((epoch_us(_time)//{us})*{us}) AS window_start,
                 '{MEASUREMENT}' AS _measurement, _field,
                 {_AVG} AS mean_a, COUNT(*) AS n_a
          FROM gas WHERE _field = '{_q(field)}' AND {_sql_range(lo, hi)}
          GROUP BY 1, 2, 3
        ), prev AS (
          SELECT make_timestamp(((epoch_us(_time)+{shift_us})//{us})*{us})
                   AS window_start,
                 '{MEASUREMENT}' AS _measurement, _field,
                 {_AVG} AS mean_b, COUNT(*) AS n_b
          FROM gas WHERE _field = '{_q(field)}' AND {_sql_range(plo, phi)}
          GROUP BY 1, 2, 3
        )
        SELECT c.window_start, c._measurement, c._field, c.mean_a, c.n_a,
               p.mean_b, p.n_b, c.mean_a - p.mean_b AS wow_delta
        FROM cur c JOIN prev p USING (window_start, _measurement, _field)"""
    return text, None, sql


def influxql_mean(p):
    lo, hi = _bounds(p)
    us = _bucket_us(p)
    text = (
        f'SELECT mean("{p["field"]}") FROM {MEASUREMENT} '
        f"WHERE time >= '{lo}' AND time < '{hi}' "
        f"GROUP BY time({p['window']}) fill(none)"
    )
    sql = f"""
        SELECT make_timestamp((epoch_us(_time)//{us})*{us}) AS "time",
               {_AVG} AS mean
        FROM gas WHERE _field = '{_q(p['field'])}' AND {_sql_range(lo, hi)}
        GROUP BY 1"""
    return text, None, sql


def influxql_multi_agg(p):
    lo, hi = _bounds(p)
    us = _bucket_us(p)
    f = p["field"]
    text = (
        f'SELECT mean("{f}") AS m, max("{f}") AS mx, min("{f}") AS mn, '
        f'count("{f}") AS n, sum("{f}") AS s FROM {MEASUREMENT} '
        f"WHERE time >= '{lo}' AND time < '{hi}' "
        f"GROUP BY time({p['window']}) fill(none)"
    )
    sql = f"""
        SELECT make_timestamp((epoch_us(_time)//{us})*{us}) AS "time",
               {_AVG} AS m, MAX(_value) AS mx, MIN(_value) AS mn,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(_value AS DECIMAL(18,2))) AS DOUBLE) AS s
        FROM gas WHERE _field = '{_q(f)}' AND {_sql_range(lo, hi)}
        GROUP BY 1"""
    return text, None, sql


#: name -> render(params) -> (panel text, compile params or None, DuckDB SQL)
TEMPLATES = {
    f.__name__: f
    for f in (
        flux_use_variable,
        flux_voltage_15m,
        flux_field_keys,
        flux_windowed_quantile,
        flux_ema,
        flux_downsample_rate,
        flux_join_overlay,
        influxql_mean,
        influxql_multi_agg,
    )
}


#: each template's (window, range length in days): fixed, so that every
#: seed measures the same per-template cost; together they cover every
#: window and every range length from 1 to 7 days
SHAPES = {
    "flux_use_variable": ("5m", 3),
    "flux_voltage_15m": ("15m", 2),
    "flux_field_keys": ("1h", 7),
    "flux_windowed_quantile": ("1m", 1),
    "flux_ema": ("1h", 5),
    "flux_downsample_rate": ("15m", 4),
    "flux_join_overlay": ("1h", 6),
    "influxql_mean": ("1m", 2),
    "influxql_multi_agg": ("5m", 4),
}

def gas_view_sql(csv_glob: str) -> str:
    """DuckDB view of the day CSVs in the bucket's long shape: the date
    comes from the file name, ``Time (s)`` is the offset inside the day
    (kept below 24 h, as the ingest does), one row per (time, field)."""
    cols = ", ".join(f'"{f}"' for f in gen.FIELDS)
    return f"""
        CREATE OR REPLACE VIEW gas AS
        WITH wide AS (
          SELECT strptime(regexp_extract(filename, '(\\d{{8}})_\\d{{6}}\\.csv', 1),
                          '%Y%m%d')
                   + to_microseconds(CAST("Time (s)" * 1000000 AS BIGINT))
                   AS _time,
                 {cols}
          FROM read_csv('{csv_glob}', header = true, filename = true)
          WHERE "Time (s)" < 86400
        )
        SELECT _time, _field, _value
        FROM wide UNPIVOT (_value FOR _field IN ({cols}))"""
