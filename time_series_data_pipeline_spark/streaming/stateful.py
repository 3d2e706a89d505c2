"""Keyed-state streaming operators (SURVEY.md §2.7 ST5).

The reference's only state is its processed-file set (ETL.py:50); Spark
gives arbitrary keyed state via ``applyInPandasWithState`` — Arrow
batches in, explicit per-key state, exactly-once through the
checkpoint. Two operators use it here.

``running_stats`` keeps running (count, sum, min, max) per key and
emits the updated totals every batch (update mode) — the "continuous
aggregate" a dashboard reads without rescanning history. State is
O(#distinct keys) × 32 bytes; each micro-batch shuffles only new rows.

``_fold_series`` is the ONE operator behind every live per-series panel
``flux.compile_flux_stream`` runs: derivative / difference /
cumulativeSum / increase, the EMA family, kaufmansAMA, movingAverage,
chandeMomentumOscillator / kaufmansER, stateDuration / stateCount,
interpolate.linear and elapsed. Each kind is a small ``SeriesFold``
spec; ``_fold_series`` owns everything else, with this contract:

* ARRIVAL CONTRACT: event time is strictly increasing per series
  ACROSS micro-batches — the reference's unit of arrival is a whole,
  ordered day file, so its ingest satisfies this by construction.
  Within a batch, rows fold in the engine's table order (_time,
  _value), a stable sort.
* LATE ROWS: a row at or before the series' last accepted timestamp
  (``t_us <= last_t``) is dropped and emits nothing — a tie inside a
  batch and a row older than an earlier batch alike. The batch
  compiler on the store is the replay path for late or duplicate data.
* NULL POLICIES: by default null ``_value`` rows are filtered before
  the keyed state and a NaN row is skipped like a null (the shared
  null policy). ``keep_nulls`` kinds (movingAverage, stateDuration /
  stateCount) see every RECORD instead, a null one as ``v = NaN``:
  their batch kernels have no null prefilter, so a null row holds a
  frame slot or a run state and emits its own row.
* STATE: the state schema's first field is always ``last_t long``,
  which ``_fold_series`` restores and persists. The other fields reach the
  spec as a dict ``acc`` keyed by their schema names (arrays as
  lists); the optional ``load`` / ``save`` hooks turn them into a
  richer working form (a deque, running sums) and back. State is O(1)
  in the stream length — a fixed tuple, or a list bounded by a
  dashboard constant n — and never times out.
* STEP: ``step(acc, emit, t_us, v, prev_t, *extra)`` folds ONE
  accepted row: ``t_us`` is its event time in epoch µs, ``v`` the
  value as a float, ``prev_t`` the previous accepted row's µs (None
  for the series' first row) and ``extra`` the row's values of the
  spec's extra input columns. It updates ``acc`` in place and calls
  ``emit((time_us, *fields))`` zero or more times, once per output
  row.
* OUTPUT: append mode, ``key_cols + [_time] + fields``; each field is
  typed from its Spark type as a nullable pandas array, so a None is a
  true NULL through Arrow. The last field takes the pipeline's yield
  name.

NUMERIC PARITY with the batch compiler is bit-for-bit (pinned by the
streaming==batch tests): each kind replays its batch kernel's own
expression tree, and exact decimal(18,2) arithmetic replays as integer
cents (``_cents``). Each kind's notes say how.
"""

from __future__ import annotations

import math
from collections import deque
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from itertools import pairwise
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DataType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = "key string, n long, total double, vmin double, vmax double"
STATE_SCHEMA = "n long, total double, vmin double, vmax double"


def _update_running_stats(
    key: tuple[str],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold this batch's rows for `key` into the persisted (n, total,
    min, max) and emit the new totals once per batch."""
    n, total, vmin, vmax = (
        state.get if state.exists else (0, 0.0, float("inf"), float("-inf"))
    )
    for pdf in pdfs:
        v = pdf["value"]
        if len(v):
            n += int(len(v))
            total += float(v.sum())
            vmin = min(vmin, float(v.min()))
            vmax = max(vmax, float(v.max()))
    state.update((n, total, vmin, vmax))
    yield pd.DataFrame(
        {
            "key": [key[0]],
            "n": [n],
            "total": [total],
            "vmin": [vmin],
            "vmax": [vmax],
        }
    )


def running_stats(stream: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Per-key running stats over a stream. ``stream`` must be a
    streaming DataFrame; output mode must be ``update``."""
    rows = stream.selectExpr(f"{key_col} AS key", f"CAST({value_col} AS DOUBLE) AS value")
    return rows.groupBy("key").applyInPandasWithState(
        _update_running_stats,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# -- the keyed fold ----------------------------------------------------


@dataclass(frozen=True)
class SeriesFold:
    """One per-series streaming kind for ``_fold_series``; the module
    docstring states the contract ``step`` keeps."""

    state: str  # stateStructType; the first field is ``last_t long``
    init: tuple  # the state of a series with no rows yet
    fields: tuple[tuple[str, DataType], ...]  # output after key + _time
    step: Callable[..., None]
    keep_nulls: bool = False
    extra: tuple[tuple[str, Column], ...] = ()  # (name, expr) inputs
    load: Callable[[dict], None] | None = None
    save: Callable[[dict], None] | None = None


# state fields as the Python types the state serializer takes
_STATE_TYPES: dict[str, Callable[[Any], Any]] = {
    "long": int,
    "double": float,
    "array<long>": lambda xs: [int(x) for x in xs],
    "array<double>": lambda xs: [float(x) for x in xs],
}
_PANDAS_DTYPES = {DoubleType: "Float64", LongType: "Int64", BooleanType: "boolean"}


def _fold_series(
    stream: DataFrame,
    key_cols: list[str],
    spec: SeriesFold,
    out_name: str | None = None,
) -> DataFrame:
    """Run ``spec`` per series (``key_cols``) over ``stream``, which
    carries ``key_cols + [_time, _value]`` plus whatever the spec's
    extra columns read. ``out_name`` renames the last output field."""
    extra_cols = [c for c, _ in spec.extra]
    for c, expr in spec.extra:
        stream = stream.withColumn(c, expr)
    narrowed = stream.select(*key_cols, "_time", "_value", *extra_cols)
    if not spec.keep_nulls:
        narrowed = narrowed.filter(F.col("_value").isNotNull())
    fields = list(spec.fields)
    if out_name:
        fields[-1] = (out_name, fields[-1][1])
    schema = narrowed.schema
    out_schema = StructType(
        [schema[k] for k in key_cols]
        + [schema["_time"]]
        + [StructField(name, dtype) for name, dtype in fields]
    )
    names = [f.name for f in out_schema.fields]
    dtypes = [_PANDAS_DTYPES[type(dtype)] for _, dtype in fields]
    slots = [
        (f.split()[0], _STATE_TYPES[f.split()[1]])
        for f in spec.state.split(", ")
    ]
    init, step, load, save = spec.init, spec.step, spec.load, spec.save
    skip_nan = not spec.keep_nulls

    def _fn(key, pdfs, state):
        acc = {
            name: conv(x)
            for (name, conv), x in zip(
                slots, state.get if state.exists else init
            )
        }
        last_t, seen = acc["last_t"], state.exists
        if load is not None:
            load(acc)
        pdf = pd.concat(list(pdfs))
        if len(pdf):
            pdf = pdf.sort_values(["_time", "_value"], kind="mergesort")
        rows: list[tuple] = []
        emit = rows.append
        t_us_arr = pdf["_time"].to_numpy().astype("datetime64[us]").astype("int64")
        extras = [pdf[c].to_numpy(dtype=object) for c in extra_cols]
        for t_us, v, *x in zip(t_us_arr, pdf["_value"].to_numpy(), *extras):
            v, t_us = float(v), int(t_us)
            if skip_nan and math.isnan(v):
                continue  # NaN ≡ null under the shared policy
            if seen and t_us <= last_t:
                continue  # LATE — outside the arrival contract
            step(acc, emit, t_us, v, last_t if seen else None, *x)
            last_t, seen = t_us, True
        acc["last_t"] = last_t
        if save is not None:
            save(acc)
        state.update(tuple(conv(acc[name]) for name, conv in slots))
        out = list(zip(*rows)) if rows else [()] * (1 + len(fields))
        cols = {k: [key[i]] * len(rows) for i, k in enumerate(key_cols)}
        cols["_time"] = np.array(out[0], dtype="int64").astype("datetime64[us]")
        for (name, _), dtype, col in zip(fields, dtypes, out[1:]):
            cols[name] = pd.array(list(col), dtype=dtype)
        yield pd.DataFrame(cols, columns=names)

    return narrowed.groupBy(*key_cols).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=spec.state,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _cents(v: float) -> int:
    """decimal(18,2) quantization of a double as integer cents —
    shortest-repr + ROUND_HALF_UP, the same result as Spark's
    CAST(double AS DECIMAL(18,2)) (BigDecimal.valueOf + setScale
    HALF_UP)."""
    import decimal

    return int(
        decimal.Decimal(repr(v)).quantize(
            decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP
        )
        * 100
    )


_DOUBLE = DoubleType()
_VALUE = (("_value", _DOUBLE),)

# -- value-series transforms (round 12) ----------------------------------


def transform_fold(
    kind: str, unit_s: int = 1, non_negative: bool = False
) -> SeriesFold:
    """derivative / difference / cumulativeSum (``cumsum``) / increase:
    one (last value, two integer accumulators) tuple per series.

    NUMERIC PARITY: derivative is float64 end to end — exactly the
    batch expression tree (delta = v − prev or the nonNegative reset
    rule; denom = Δt_us / (unit_s · 1e6); one division); it keeps the
    raw ``_value`` beside the named rate, the batch shape.
    difference / cumulativeSum / increase run the batch path's EXACT
    decimal(18,2) arithmetic as integer cents: the value quantizes via
    ``_cents``, deltas/sums stay integers, and the one cents/100.0
    division per emitted row is the decimal→double cast's
    correctly-rounded result; ``_value`` is rewritten."""
    unit_us = unit_s * 1_000_000.0

    def step(acc, emit, t_us, v, prev_t):
        if kind == "derivative":
            if prev_t is not None:
                lv = acc["last_v"]
                delta = (v - lv if v >= lv else v) if non_negative else v - lv
                emit((t_us, v, delta / ((t_us - prev_t) / unit_us)))
        elif kind == "cumsum":
            acc["b"] += _cents(v)
            emit((t_us, acc["b"] / 100.0))
        else:
            c, a = _cents(v), acc["a"]
            if kind == "difference":
                if prev_t is not None:
                    d = (c - a if c >= a else c) if non_negative else c - a
                    emit((t_us, d / 100.0))
            else:  # increase: reset-aware delta running sum, first row 0
                if prev_t is not None:
                    acc["b"] += c - a if c >= a else c
                emit((t_us, acc["b"] / 100.0))
            acc["a"] = c
        acc["last_v"] = v

    fields = (
        _VALUE + (("derivative", _DOUBLE),) if kind == "derivative" else _VALUE
    )
    return SeriesFold(
        "last_t long, last_v double, a long, b long", (0, 0.0, 0, 0),
        fields, step,
    )


# -- EMA-class smoothing (round 13) --------------------------------------
#
# Every O(1)-STATE member of Flux's smoothing/indicator family —
# exponentialMovingAverage, exponentialTimeMovingAverage, doubleEMA,
# tripleEMA, relativeStrengthIndex, tripleExponentialDerivative — on a
# FIXED tuple per series. kaufmansAMA streams on a bounded n+1-value
# list (kama_fold); holtWinters (whole-range slot-window fit per
# emission) and the rank aggregates (full value multisets) stay
# batch-only. NUMERIC PARITY is the batch kernels' own expression trees
# verbatim (operators/timeseries.py flux_ema / flux_etma /
# flux_ema_chain / flux_rsi / flux_trix):
# * every EMA fold: seed = left-to-right float64 sum of the first n
#   values / n (emitted at the n-th point; earlier points emit
#   nothing), then acc = (1-k)*acc + k*x with k = 2/(n+1);
# * etma: first point seeds acc = v (emitted); then
#   w = n_us/(n_us + dt_us) (exact-operand int/int division) and
#   acc = w*acc + (1.0-w)*x — the pinned rational decay (MIGRATION.md;
#   upstream's exp(-dt/n) is not bit-replayable);
# * dema/tema: each emitted level-1 value feeds the level-2 fold (and
#   level-2 feeds level-3), combination 2.0*a - b / 3.0*a - 3.0*b + c
#   at the row where the DEEPEST fold first emits — exactly the batch
#   zip alignment (e2's j-th output consumes e1's (n-1)+j-th value,
#   the same original row);
# * rsi: Wilder — warm sums of max(d,0)/max(-d,0) over the first n
#   deltas, then avg = (avg*(n-1) + move)/n, RSI = 100 - 100/(1+au/ad)
#   (100 where ad == 0);
# * trix: the thrice-chained fold plus a one-lag percent derivative
#   (a - b)/b*100.0, NULL where the previous e3 is 0.0 (the batch
#   kernel's pinned zero-denominator rule).

# three fold slots (a=acc, w=warm seed sum, c=count) + a lag value
# for trix's derivative / rsi's previous raw value. ~96B per series.
_SMOOTH_STATE = (
    "last_t long, a1 double, w1 double, c1 long, "
    "a2 double, w2 double, c2 long, a3 double, w3 double, c3 long, "
    "prev double, seen_prev long"
)


def _ema_fold_step(
    slot: list, x: float, n: int, k: float, omk: float
) -> float | None:
    """ONE incremental step of the batch EMA fold
    (``operators.timeseries._flux_ema_fold``), over a mutable
    ``[acc, warm, cnt]`` slot: warm accumulates the left-to-right seed
    sum until ``cnt == n`` (then emits ``warm / n``), each later step
    emits ``omk·acc + k·x`` — the exact expression order, so replaying
    a whole series through this step reproduces the batch fold
    bit-for-bit (pinned by a hypothesis property test). Returns the
    emitted value, or None during warm-up. Module-level so the parity
    property is testable without a streaming query."""
    a, w, c = slot
    if c < n:
        w = x if c == 0 else w + x
        c += 1
        out = None
        if c == n:
            a = w / n
            out = a
    else:
        a = omk * a + k * x
        out = a
    slot[0], slot[1], slot[2] = a, w, c
    return out


def _load_slots(acc: dict) -> None:
    acc["slots"] = [[acc[f"a{i}"], acc[f"w{i}"], acc[f"c{i}"]] for i in (1, 2, 3)]


def _save_slots(acc: dict) -> None:
    for i, (a, w, c) in enumerate(acc.pop("slots"), 1):
        acc[f"a{i}"], acc[f"w{i}"], acc[f"c{i}"] = a, w, c


def smoothing_fold(kind: str, n: int) -> SeriesFold:
    """``ema`` / ``dema`` / ``tema`` / ``rsi`` / ``trix`` (``n`` = point
    count >= 1) or ``etma`` (``n`` = decay duration in integer µs);
    ``_value`` is rewritten to the smoothed/indicator series (trix
    emits NULL on a zero previous e3)."""
    n = int(n)
    k = 2.0 / (n + 1.0)
    omk = 1.0 - k
    levels = {"ema": 1, "dema": 2, "tema": 3, "trix": 3}.get(kind, 0)

    def step(acc, emit, t_us, v, prev_t):
        slots = acc["slots"]
        if kind == "etma":
            a, w, c = slots[0]
            if c == 0:
                a = v
            else:
                wt = n / (n + (t_us - prev_t))
                a = wt * a + (1.0 - wt) * v
            slots[0] = [a, w, c + 1]
            emit((t_us, a))
        elif kind == "rsi":
            # Wilder: (au, wau, delta count) in slot 1, (ad, wad) in
            # slot 2, the previous raw value in prev
            if acc["seen_prev"]:
                d = v - acc["prev"]
                (au, wau, c), (ad, wad, c2) = slots[0], slots[1]
                if c < n:
                    # the batch warm loop adds only non-zero moves —
                    # same float sums, same branch structure
                    if d > 0.0:
                        wau = wau + d
                    elif d < 0.0:
                        wad = wad + (-d)
                    c += 1
                    if c == n:
                        au, ad = wau / n, wad / n
                else:
                    au = (au * (n - 1.0) + (d if d > 0.0 else 0.0)) / n
                    ad = (ad * (n - 1.0) + (-d if d < 0.0 else 0.0)) / n
                slots[0], slots[1] = [au, wau, c], [ad, wad, c2]
                if c == n:
                    emit((t_us, 100.0 if ad == 0.0 else 100.0 - 100.0 / (1.0 + au / ad)))
            acc["prev"], acc["seen_prev"] = v, 1
        else:
            # chained EMA folds: each emitted level feeds the next
            out = _ema_fold_step(slots[0], v, n, k, omk)
            lvl = [out]
            for i in range(1, levels):
                if out is None:
                    break
                out = _ema_fold_step(slots[i], out, n, k, omk)
                lvl.append(out)
            if out is None:
                return
            if kind == "ema":
                emit((t_us, out))
            elif kind == "dema":
                emit((t_us, 2.0 * lvl[0] - lvl[1]))
            elif kind == "tema":
                emit((t_us, 3.0 * lvl[0] - 3.0 * lvl[1] + lvl[2]))
            else:  # trix: one-lag percent derivative of e3
                if acc["seen_prev"]:
                    # a zero previous e3 still EMITS, as NULL (the
                    # batch kernel's pinned zero-denominator rule)
                    prev = acc["prev"]
                    emit((t_us, None if prev == 0.0 else (out - prev) / prev * 100.0))
                acc["prev"], acc["seen_prev"] = out, 1

    return SeriesFold(
        _SMOOTH_STATE, (0, 0.0, 0.0, 0, 0.0, 0.0, 0, 0.0, 0.0, 0, 0.0, 0),
        _VALUE, step, load=_load_slots, save=_save_slots,
    )


# -- bounded-list indicators (round 14) ----------------------------------
#
# kaufmansAMA's efficiency-ratio window is BOUNDED (exactly the trailing
# n+1 raw values per series, n a dashboard constant), so a bounded-list
# state streams it under the same arrival contract; movingAverage and
# cmo/ker buffer the trailing n (n+1) values as exact cents. The
# boundary: state of size O(1) in the STREAM LENGTH streams — fixed
# tuples and n-bounded lists alike; what stays batch-only is state
# proportional to the stream (rank aggregates' full value multisets)
# or windows whose SEMANTICS need the whole series per trigger
# (holtWinters: the fit consumes slot-normalized windows over the
# entire range — recomputing the whole forecast per point is a batch
# query replay, not an incremental emission).

# the trailing n+1 raw values (bounded by the dashboard constant n)
# + the AMA accumulator; ~8(n+6) bytes per series
_KAMA_STATE = "last_t long, vals array<double>, cnt long, ama double"

# movingAverage / cmo / ker: the trailing n (n+1) values as
# decimal(18,2) integer cents (the batch frames sum _dec("_value")
# exactly)
_MA_STATE = "last_t long, cents array<long>, cnt long"

# movingAverage(n:): null RECORDS keep their frame slot — marked by an
# out-of-domain sentinel (decimal(18,2) bounds |cents| < 1e18 < 2^62,
# so the sentinel is unreachable and the longs stay exact, unlike a
# NaN-in-double encoding which loses integers above 2^53)
_MA_NULL_SLOT = 1 << 62


def kama_fold(n: int) -> SeriesFold:
    """Kaufman's Adaptive Moving Average (``operators.timeseries
    .flux_kama``); ``_value`` is rewritten.

    NUMERIC PARITY: the batch kernel recomputes the efficiency-ratio
    denominator as a fresh left-to-right fold over the trailing n
    deltas each step; with the state buffer holding exactly the
    trailing ``n+1`` raw values ``[x_{t-n} .. x_t]``, the same loop
    over consecutive buffer pairs reproduces that fold order — and
    the identity seed (``AMA_{n-1} = x_{n-1}``, first emission at row
    ``n``) lands when the ``n``-th accepted point arrives, whichever
    micro-batch that is (warm-ups span drains, like the EMA family)."""
    n = int(n)
    # the batch kernel's own constants, same expression order
    c_fast_slow = 2.0 / 3.0 - 2.0 / 31.0
    c_slow = 2.0 / 31.0

    def step(acc, emit, t_us, v, prev_t):
        vals = acc["vals"]
        acc["cnt"] += 1
        vals.append(v)
        if len(vals) > n + 1:
            vals.pop(0)
        if acc["cnt"] == n:
            acc["ama"] = v  # identity seed at row n-1 (0-based)
        elif acc["cnt"] > n:
            dsum = 0.0
            for i in range(1, n + 1):
                dsum = dsum + abs(vals[i] - vals[i - 1])
            num = abs(vals[n] - vals[0])
            er = 0.0 if dsum == 0.0 else num / dsum
            m = er * c_fast_slow + c_slow
            ama = acc["ama"]
            acc["ama"] = ama = (v - ama) * (m * m) + ama
            emit((t_us, ama))

    return SeriesFold(_KAMA_STATE, (0, [], 0, 0.0), _VALUE, step)


def moving_average_fold(n: int) -> SeriesFold:
    """Flux ``movingAverage(n:)`` — the trailing ROW-frame mean, kept
    beside the raw ``_value`` (the batch column shape).

    NULL ROWS ARE FRAME POSITIONS (review r14): the batch kernel is
    the ONE value-series transform with no isNotNull prefilter — a
    null-valued record occupies a slot in the ROWS(−(n−1), 0) frame
    and emits its own row (raw null ``_value``), while ``sum``/
    ``count`` skip it. The buffer therefore stores None for null
    rows, the running sum/count track only the non-null members, and
    an all-null frame emits a NULL average (the batch
    ``sum(empty) = NULL`` rule).

    NUMERIC PARITY: the batch expression is
    ``sum(decimal(18,2)).cast(double) / count(_value).cast(double)``
    over the n-row frame (emission starts at row n). Integer cents
    make the sum EXACT (order-free, so a RUNNING add-on-append /
    subtract-on-evict total is bit-identical to the batch frame fold
    at O(1) per row), and the two double divisions replay the
    decimal→double cast and the frame division:
    ``(sum_cents / 100.0) / float(nn)`` with ``nn`` the frame's
    non-null count."""
    n = int(n)

    def load(acc):
        acc["cents"] = buf = deque(
            None if c == _MA_NULL_SLOT else c for c in acc["cents"]
        )
        acc["sum"] = sum(c for c in buf if c is not None)
        acc["nn"] = sum(1 for c in buf if c is not None)

    def save(acc):
        acc["cents"] = [_MA_NULL_SLOT if c is None else c for c in acc["cents"]]

    def step(acc, emit, t_us, v, prev_t):
        buf = acc["cents"]
        acc["cnt"] += 1
        null = math.isnan(v)
        if null:
            buf.append(None)  # a null RECORD keeps its frame slot
        else:
            c = _cents(v)
            buf.append(c)
            acc["sum"] += c
            acc["nn"] += 1
        if len(buf) > n:
            old = buf.popleft()
            if old is not None:
                acc["sum"] -= old
                acc["nn"] -= 1
        if acc["cnt"] >= n:
            nn = acc["nn"]
            emit((
                t_us,
                None if null else v,
                None if nn == 0 else (acc["sum"] / 100.0) / float(nn),
            ))

    return SeriesFold(
        _MA_STATE, (0, [], 0), _VALUE + (("moving_avg", _DOUBLE),), step,
        keep_nulls=True, load=load, save=save,
    )


def _add_move(acc: dict, d: int, sign: int) -> None:
    # cmo/ker running delta sums: Σ positive deltas / Σ −negative deltas
    if d > 0:
        acc["up"] += sign * d
    elif d < 0:
        acc["dn"] -= sign * d


def trailing_indicator_fold(kind: str, n: int) -> SeriesFold:
    """``chandeMomentumOscillator(n:)`` (``cmo``) / ``kaufmansER(n:)``
    (``ker``) over the trailing n+1 cents (n deltas). Both batch
    kernels work over EXACT decimal(18,2) deltas with one double
    division per row, so the integer-cents replay is bit-identical:

    * cmo: up/dn = signed sums of the positive/negative delta cents;
      0.0 on a flat window, else
      ``float(up_c - dn_c) / ((up_c + dn_c) / 100.0)`` — the
      ``((up-dn)*100).cast(double) / (up+dn).cast(double)`` tree.
    * ker: ``num_c = |c_t - c_{t-n}|``, ``den_c = sum |delta|``; 0.0
      on a flat window, else ``(num_c/100.0) / (den_c/100.0)``.

    The delta sums RUN (review r14): integer sums are order-free, so
    add-on-append / subtract-on-evict is bit-identical to the batch
    frame's fresh fold at O(1) per row; ``load`` rebuilds them from
    the <= n+1 buffer once per micro-batch. Emission starts at the
    (n+1)-th accepted point; ``_value`` is rewritten."""
    n = int(n)

    def load(acc):
        acc["cents"] = buf = deque(acc["cents"])
        acc["up"] = acc["dn"] = 0
        for a, b in pairwise(buf):
            _add_move(acc, b - a, 1)

    def step(acc, emit, t_us, v, prev_t):
        buf = acc["cents"]
        acc["cnt"] += 1
        c = _cents(v)
        if buf:
            _add_move(acc, c - buf[-1], 1)
        buf.append(c)
        if len(buf) > n + 1:
            old = buf.popleft()
            _add_move(acc, buf[0] - old, -1)
        if acc["cnt"] >= n + 1:
            up, dn = acc["up"], acc["dn"]
            if up + dn == 0:
                point = 0.0
            elif kind == "cmo":
                point = float(up - dn) / ((up + dn) / 100.0)
            else:  # ker: den = Σ|delta| = up + dn; num = |net|
                point = (abs(buf[-1] - buf[0]) / 100.0) / ((up + dn) / 100.0)
            emit((t_us, point))

    return SeriesFold(_MA_STATE, (0, [], 0), _VALUE, step, load=load)


# -- run tracking, gap fill and elapsed (round 14) -----------------------


def state_tracking_fold(kind: str, pred: Column, unit_s: int = 1) -> SeriesFold:
    """Flux ``stateDuration(fn:)`` (``duration``) / ``stateCount(fn:)``
    (``count``) — the live ALERT-duration panel. ``pred`` is the
    compiled predicate, evaluated as the extra ``__state`` column (a
    stateless projection — the Catalyst predicate never enters
    Python). Run tracking is a FIXED tuple per series (previous
    predicate state, current run's start µs, 1-based run position):
    change detection is the batch ``_state_runs`` null-safe compare (a
    null predicate is its own state value), and the emitted values
    replay the batch expressions —

    * stateDuration: ``(t_us − run_start_us) / unit_us`` double
      division, long cast truncating toward zero (0 at a true run's
      first point); −1 where the predicate is not true.
    * stateCount: the 1-based position within the current run where
      true; −1 otherwise.

    Output keeps ``_value`` and the boolean ``state`` beside the named
    long, the batch column shape. NULL ROWS ARE RECORDS (review r14):
    a null-valued record keeps its row, its (typically null) predicate
    is ITS OWN run state (true→null→true is three runs), and it emits
    with −1."""
    unit_us = int(unit_s) * 1_000_000

    def step(acc, emit, t_us, v, prev_t, p):
        # prev_state: -1 = no rows yet, 0 = false, 1 = true, 2 = null
        s3 = 2 if pd.isna(p) else (1 if bool(p) else 0)
        if s3 != acc["prev_state"]:
            # new run — the batch null-safe change compare
            acc["prev_state"], acc["run_start"], acc["run_pos"] = s3, t_us, 1
        else:
            acc["run_pos"] += 1
        if s3 != 1:
            out = -1
        elif kind == "duration":
            out = int((t_us - acc["run_start"]) / float(unit_us))
        else:
            out = acc["run_pos"]
        emit((t_us, None if math.isnan(v) else v, None if s3 == 2 else bool(s3), out))

    name = "stateDuration" if kind == "duration" else "stateCount"
    return SeriesFold(
        "last_t long, prev_state long, run_start long, run_pos long",
        (0, -1, 0, 0),
        _VALUE + (("state", BooleanType()), (name, LongType())),
        step, keep_nulls=True, extra=(("__state", pred),),
    )


def interpolate_fold(every_s: int) -> SeriesFold:
    """``interpolate.linear(every:)`` — the gap-filled live chart. ONE
    (last_t, last_v) lag tuple per series: each arriving point emits
    its own raw row plus the epoch-aligned every-multiples strictly
    inside the gap to the previous point, linearly interpolated with
    the batch kernel's pinned expression order
    (``pv + (nv − pv) · ((us − pt) / (nt − pt))`` — int64 µs deltas,
    ONE double division). The emitted-row count per gap is gap/every —
    output volume, not state: an overnight gap emits the whole night's
    grid when day-2's first point arrives (exactly the batch
    densification).

    The batch kernel's per-timestamp MAX dedup has no streaming
    counterpart: tied timestamps violate the arrival contract and
    drop as late rows (the documented keep-first-tie divergence —
    MIGRATION.md; distinct single-series ingest never ties)."""
    ev_us = int(every_s) * 1_000_000

    def step(acc, emit, t_us, v, prev_t):
        if prev_t is not None:
            pv = acc["last_v"]
            # aligned marks strictly inside (prev_t, t_us): Python's %
            # IS pmod (non-negative for positive ev), so the floor
            # alignment matches pre-epoch times too
            lo = prev_t - (prev_t % ev_us) + ev_us
            hi = (t_us - 1) - ((t_us - 1) % ev_us)
            span = float(t_us - prev_t)
            for us in range(lo, hi + 1, ev_us):
                emit((us, pv + (v - pv) * (float(us - prev_t) / span)))
        emit((t_us, v))
        acc["last_v"] = v

    return SeriesFold("last_t long, last_v double", (0, 0.0), _VALUE, step)


def elapsed_fold(unit_s: int) -> SeriesFold:
    """Flux ``elapsed([unit:])`` — the gap to the previous record in
    whole units, with no state beyond ``last_t``. Replays the batch
    expression exactly: integer-µs diff, double division by the unit,
    long cast truncating toward zero; the per-series first row drops
    (no predecessor). Output keeps the raw ``_value`` beside the
    elapsed column — the batch shape."""
    unit_us = int(unit_s) * 1_000_000

    def step(acc, emit, t_us, v, prev_t):
        if prev_t is not None:
            emit((t_us, v, int((t_us - prev_t) / float(unit_us))))

    return SeriesFold(
        "last_t long", (0,), _VALUE + (("elapsed", LongType()),), step
    )
