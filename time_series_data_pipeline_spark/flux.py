"""Flux front-end: compile the reference's dashboard query language
onto the engine's scan/window operators.

The reference's USERS don't call an API — they write Flux in Grafana
panels (README.md:211, photo/use-variable.png lines 1-6 verbatim):

    from(bucket: "gas-quality")
      |> range(start: v.timeRangeStart, stop: v.timeRangeStop)
      |> filter(fn: (r) => r["_measurement"] == "gas")
      |> filter(fn: (r) => r["_field"] == "${Resistances}")
      |> aggregateWindow(every: v.windowPeriod, fn: mean, createEmpty: false)
      |> yield(name: "mean")

``compile_flux`` parses exactly this pipeline subset — from / range /
filter (equality, inequality and _value comparisons joined with
and/or) / aggregateWindow (mean, median, min, max, sum, count, first,
last; createEmpty for mean and count) / last / yield — and emits a DataFrame plan over
a bucket store, so a reference user can paste their panel queries
unchanged. Dashboard template variables (``v.windowPeriod``,
``${Resistances}``) resolve from the ``params`` mapping, exactly the
role Grafana fills.

Compilation is TRANSLATION, not interpretation: the output is a plain
Catalyst plan built from `bucket.scan_bucket` (manifest file skipping +
partition pruning + pushed predicates) and the registered window
operators — a compiled Flux query is bit-identical to the hand-written
DataFrame form and inherits every plan property the plan tests pin.

Grammar (the shipped subset — anything else raises with the offending
stage):

    pipeline   := from ( '|>' stage )*
    from       := 'from' '(' 'bucket:' STRING ')'
    stage      := range | filter | map | group | aggregateWindow | last
                | yield
                | derivative | timedMovingAverage | movingAverage
                | increase | stateDuration | pivot | elapsed | histogram
                | sort | limit | keep | drop | fill | rename | timeShift
                | top | bottom | duplicate | set
                | mode | skew | stateCount | chandeMomentumOscillator
                | kaufmansER | doubleEMA | tripleEMA
                | relativeStrengthIndex | sample | toFloat | toInt
                | highestMax | highestAverage | highestCurrent
                | lowestMin | lowestAverage | lowestCurrent
                | histogramQuantile (fused after histogram)
                | tripleExponentialDerivative | kaufmansAMA
                | events.duration | interpolate.linear | reduce
                | timeWeightedAvg
    map        := 'map' '(' 'fn:' '(r)' '=>' '({ r with _value:' arith '})' ')'
    arith      := refs, numeric literals, v.NAME, + - * / ( )  [doubles]
    range      := 'range' '(' 'start:' time [',' 'stop:' time] ')'
    filter     := 'filter' '(' 'fn:' '(r)' '=>' predicate ')'
    predicate  := orExpr ; orExpr := andExpr ('or' andExpr)* ;
                  andExpr := cmp ('and' cmp)*
    cmp        := ref OP literal | ref ('=~'|'!~') /regex/ | '(' orExpr ')'
    ref        := 'r["col"]' | 'r.col'
    time       := RFC3339 string | relative duration (-7d) | v.NAME
    duration   := INT ('s'|'m'|'h'|'d'|'w')

Round 7 (VERDICT r6 item 4) adds the InfluxDB UI's transform stages
the engine already owned operators for — each compiles onto the
registered operator so the compiled form is hash-attested against the
same oracle shape:

* ``derivative(unit: 1s, nonNegative: true)`` → `operators.timeseries
  .rate` (per-point delta/Δt with the counter-reset rule; the subset
  ships unit 1s and nonNegative true — the dashboard counter form —
  and raises otherwise rather than approximating).
* ``timedMovingAverage(period: 1h)`` → the `trailing_1h_mean`
  RANGE-window form (per-point trailing mean over TIME distance). The
  windowed-emission form (``every:`` ≠ per-point) is out of subset and
  raises.
* ``movingAverage(n: 5)`` → a trailing ROW-frame mean with Flux's
  drop-the-first-``n−1``-points convention (row_number ≥ n), exact
  decimal sums.
* ``increase()`` → the CUMULATIVE per-point form (Flux's actual
  semantics: ``difference(nonNegative, keepFirst, initialZero) |>
  cumulativeSum()`` — running sum of reset-aware deltas, the
  per-table first row KEPT with value 0 exactly as upstream
  initialZero does, round 9, ADVICE r8). ``increase() |> last()``
  reduces it to the per-series total a stat panel shows (round 8,
  ADVICE r7: the bare form previously compiled to the total — a
  silent shape change for counter time-series panels).
* ``stddev()`` / ``spread()`` / ``quantile(q:, [method:])`` (round 9
  — completing the Data-Explorer aggregate dropdown): sample standard
  deviation (Flux's default mode), max−min, and the exact_selector
  quantile (the smallest value whose cumulative frequency reaches q,
  SQL percentile_disc — compiled as a per-table cume_dist rank, so
  the key-less ``group()`` merge form raises as a scale trap).
  ``stddev``/``spread`` are also accepted as ``aggregateWindow`` fns;
  ``quantile`` is bare-only (the windowed form needs a Flux lambda,
  outside the subset).
* ``stateDuration(fn: (r) => pred)`` → the `state_duration` run-length
  machinery, with Flux's convention: seconds in the CURRENT run where
  the predicate holds, −1 where it doesn't.
* ``difference([nonNegative:])`` / ``cumulativeSum()`` (round 8) — the
  remaining Data-Explorer numeric transforms: per-table lag delta
  (signed, or the reset-aware counter form) with the first row
  dropped, and the per-table running sum; both rewrite ``_value``
  like Flux and accept a following ``last()``.

These transforms are TERMINAL in the subset (only yield may follow,
plus ``last()`` after the value-series transforms increase /
difference / cumulativeSum); a range/filter after them, or composing
them with another aggregation/transform stage, raises rather than
mis-compiling.

``pivot(rowKey: ["_time"], columnKey: ["_field"], valueColumn:
"_value")`` — the Data-Explorer table/CSV-export view — compiles to a
``groupBy(_time).pivot(_field)`` wide reshape (exactly this arg shape;
anything else raises). Duplicate (time, field) pairs resolve to the
MAX value — the subset's deterministic tie rule, documented rather
than Flux's last-encountered nondeterminism. Like the other
transforms it is terminal (tail stages and yield may follow).

The Data-Explorer TAIL stages close the round-7 grammar: ``sort``,
``limit``, ``keep``, ``drop`` apply to whatever frame precedes them
(raw scan or a terminal stage's output) in user order, with Flux's
PER-TABLE semantics: a frame that still carries ``_field`` sorts and
limits within each series (compiled to a row_number rank filter —
Spark's WindowGroupLimit turns it into a distributed per-key top-N);
a one-table frame (pivot output) sorts/limits globally
(TakeOrderedAndProject). ``limit`` with no pending ``sort`` keeps each
table's first rows in ``_time`` order (Flux's natural table order).
``sort`` without a later ``limit`` raises — an unbounded sort
materializes whole series for nothing but ordering, which the
order-insensitive frame contract cannot even observe. Unknown columns
in sort/keep/drop raise naming the column; once a tail stage appears,
only tail stages and yield may follow.

Round 8 adds the remaining Data-Explorer tail stages: ``fill(column:,
value: X)`` / ``fill(column:, usePrevious: true)`` — the Grafana
null-fill panel option over gap-filled frames (coalesce, resp. a
last-non-null window per table over the bucket spine) — and
``rename(columns: {old: "new"})``; swap/collision rename sets raise.

Round 12d adds ``map()`` to the tail grammar: AFTER an aggregation /
transform (or among tail stages) the ``_value`` rewrite lands on the
OUTPUT frame's value column — the unit-converted aggregate panel
(``aggregateWindow |> map(fn: (r) => ({ r with _value: r._value *
0.001 }))``), composing with the threshold ``filter`` in user order.
The remap follows the postfilter's rules exactly (r._value resolves
onto the fn-/yield-named column; unknown references raise naming the
frame; frames that keep the original ``_value`` beside a named result
column — derivative/movingAverage forms — refuse the ambiguous
rewrite). The streaming compiler ships the same stage through the
same shared definition (``_post_value_map``).

Round 12d also adds ``timeWeightedAvg([unit:])`` — the time-weighted
gauge mean: the integral's exact-decimal trapezoid machinery divided
by the OBSERVED span per table (the registered time_weighted_avg
operator's pinned convention; single-point tables yield NULL; the
``unit:`` cancels algebraically and is validated only).

Round 10 adds the period-comparison stages (VERDICT r8 item 6):

* ``timeShift(duration: d)`` — Grafana's day-over-day overlay. BEFORE
  the terminal stage it is a row-level ``_time`` rewrite (shifted rows
  then window/aggregate exactly as Flux does); AFTER one it is a tail
  stage shifting the output frame's time column (``_time`` /
  ``window_start``). A ``range()`` AFTER a row-level timeShift would
  filter shifted timestamps — order the subset refuses rather than
  re-deriving the user's intent; the shipped ``columns:`` shape is the
  default (or an explicit ``["_time"]`` — this store materializes no
  ``_start``/``_stop`` columns to shift).
* ``elapsed([unit: d])`` — seconds (or any positive duration unit)
  between subsequent records per table, truncated toward zero exactly
  as Flux duration division does; each table's FIRST row is dropped
  (upstream yields no elapsed for it).
* MULTI-STATEMENT scripts — named ``from`` pipelines feeding one final
  ``join(tables: {a:, b:}, on: [...])`` (inner, upstream's default;
  conflicting non-key columns suffixed ``_<label>`` like upstream) or
  ``union(tables: [a, b, ...])`` (identical column sets), optionally
  followed by ``map``/``yield`` — together with ``timeShift`` this is
  the full Grafana period-comparison overlay::

      a = from(bucket: "b") |> range(...) |> aggregateWindow(...)
      b = from(bucket: "b") |> range(...) |> timeShift(duration: 7d)
            |> aggregateWindow(...)
      join(tables: {a: a, b: b}, on: ["window_start", "_field"])
        |> map(fn: (r) => ({ r with _value: r.mean_a - r.mean_b }))

Series keying (round 8, VERDICT r7 item 1; tags round 11): Flux
tables key on ``(_measurement, tag set, _field)``. The compiler
discovers the store's PROMOTED TAG COLUMNS from its schema
(sources/bucket.py ``tag_columns`` — every non-core column is a tag
by the storage contract) and EVERY compiled aggregation/transform
partitions/groups on that full table key — a pipeline with no
``_measurement`` filter over a store holding several measurements
aggregates each measurement's series separately instead of silently
merging same-named fields, and a tagged store's series split per tag
combination exactly as InfluxDB's do. When filters pin key columns to
constants the extra keys are constant-cost (group columns whose
cardinality is 1 after pushdown), and the output frame carries them
exactly as a Flux record does. A whole-stage tag equality
(``filter(fn: (r) => r["host"] == "a")``) pushes into the scan like
the ``_measurement``/``_field`` forms — partition/manifest/row-group
pruning over the promoted column; regex/compound tag predicates stay
residual row filters on the same pushdown-capable columns. The
reference's own store writes zero tags (SURVEY §1.1) and compiles to
the classic two-column key, byte-identical plans. ``exists r["tag"]``
/ ``not exists`` test column presence (a promoted tag column is NULL
where the series lacks the tag — upstream's missing-column
semantics).

``group(columns: [...])`` RE-KEYS the tables (Flux regrouping): the
subset ships any subset of the store's table-key columns
(``_measurement``, ``_field``, promoted tags) — in the ``mode: "by"``
form or its complement ``mode: "except"`` — including ``group()`` /
``group(columns: [])``, the Data-Explorer "merge all series into one
table" form, which compiles aggregations to their key-less global
forms (one row / one row per window over everything). Re-keying a
per-point window transform (derivative, movingAverage, …) onto the
EMPTY key would funnel every raw row through one partition — that
shape raises (outside the subset) rather than compiling a scale-trap;
re-keying them onto a non-empty subset compiles fine. Grouping by a
column the store does not carry raises naming the store's key.

Round 10c adds the technical-indicator / selector / conversion batch
(the remaining Flux universe stages a Grafana dashboard reaches for):

* ``mode()`` / ``skew()`` — completing the aggregate dropdown beyond
  round 9: all tied most-frequent values (NULL when nothing repeats),
  and POPULATION skewness g1 = √n·M3/M2^1.5 from exact decimal power
  sums (round-9-dp shared policy). Both accept the windowed
  ``aggregateWindow(fn:)`` form.
* ``stateCount(fn:)`` — the run-position sibling of stateDuration.
* ``chandeMomentumOscillator(n:)`` / ``kaufmansER(n:)`` — trailing-
  frame indicators, pure Catalyst over exact decimal delta sums.
* ``doubleEMA(n:)`` / ``tripleEMA(n:)`` / ``relativeStrengthIndex(n:)``
  — sequential recurrences on the same sanctioned Arrow per-series
  kernel as exponentialMovingAverage (operators/timeseries.py
  flux_ema_chain / flux_rsi), bit-identical to recursive-CTE oracles.
* ``sample(n:, pos:)`` — deterministic decimation (upstream's random
  default pos: -1 raises).
* ``toFloat()`` / ``toInt()`` — row-level _value casts (toInt
  truncates toward zero, the Go int64 conversion; toString is NOT
  shipped — float formatting differs between engines).
* ``limit(n:, offset:)`` — pagination on the per-table rank machinery.
* ``highestMax/highestAverage/highestCurrent/lowestMin/lowestAverage/
  lowestCurrent(n:)`` — table-level selectors: per-table reduce
  (map-side combinable), then a top-N over one-row-per-table frames.
* ``histogram(bins:) |> histogramQuantile(quantile:)`` — fused into
  the histogram's single aggregation pass (in-row bucket walk +
  linear interpolation; a +Inf winning bucket yields its lower edge).
* ``holtWinters(n:, interval:, seasonality: m)`` (round 11) — the
  forecast panel: upstream's interval normalization (floor, first
  point per slot) + the additive Holt recurrence + n forecast points
  at interval spacing after the last slot. Upstream fits α/β/γ per
  series with a Nelder-Mead SSE search (gonum) whose float trajectory
  no other engine can replay; the subset pins the DOCUMENTED DYADIC
  constants α=0.5, β=0.25, γ=0.25 (the attested holt_linear_final
  fold) so outputs replay bit-for-bit in the recursive-CTE oracles.
  ``seasonality: m > 1`` compiles the additive-SEASONAL triple
  recurrence (classic first-cycle init: l₀ = cycle-1 mean, b₀ = mean
  cross-cycle slope, s = cycle-1 deviations; the seasonal index
  advances per slot; series under two full seasons emit nothing;
  forecast h = l + h·b + s[(h−1) mod m + 1]). ``withFit: true``
  (round 12) emits the PINNED fit convention — the one-step-ahead
  value l_{i−1} + b_{i−1} (+ s[1]) at each slot that has a prior
  state (i ≥ 2 non-seasonal, i ≥ m+1 seasonal) — before the n
  forecasts; upstream's gonum fit trajectory is not cross-engine
  replayable, this fold is (the Grafana forecast-with-fit overlay).
* Round 11b — the contrib / interpolate / remaining-indicator batch:
  ``tripleExponentialDerivative(n:)`` (TRIX — the chained-EMA
  composition's one-lag percent derivative, emission from row 3n−2)
  and ``kaufmansAMA(n:)`` (the published KAMA recurrence with
  upstream's fixed (2, 30) smoothing periods and a PINNED identity
  seed at row n−1 — the holtWinters-constants precedent; the seed
  difference decays geometrically and the pin replays exactly in the
  oracles), both on the sanctioned Arrow per-series kernel class
  (operators/timeseries.py flux_trix / flux_kama);
  ``events.duration(unit:, [columnName:], [stop:])`` — per-record
  duration until the next record, the last record closed by ``stop:``
  or the pipeline's range stop (upstream's ``_stop`` column carries
  exactly that value; an explicit ``stopColumn:`` raises since this
  store materializes none); and ``interpolate.linear(every:)`` — raw
  rows unchanged plus rows at epoch-aligned every-multiples strictly
  inside each table's span, linearly interpolated between the
  bracketing points of the per-timestamp-MAX-deduped series (pivot's
  documented tie rule); as a value-series rewrite it composes with
  ``|> aggregateWindow`` (regularize-then-window) and ``|> last()``.
  The ``import "interpolate"`` /
  ``import "contrib/tomhollingworth/events"`` lines are accepted and
  stripped like the schema import. Also:
  ``timedMovingAverage(every:, period:)`` — the WINDOWED-emission
  form (upstream's ``window |> mean`` composition) compiles onto the
  sliding aggregateWindow machinery, start-labeled windows; and
  ``reduce(fn: (r, accumulator) => ({f: accumulator.f + <poly>, …}),
  identity: {f: <num>, …})`` — the ADDITIVE subset of Flux's custom
  aggregation (each field folds identity + Σ poly(r), poly a product
  of ``r._value`` factors and ≤2-dp numeric literals, ≤3 value
  factors): exactly the map-side-combinable fragment, over exact
  decimal(12,2) sums. Round 12 adds the CROSS-FIELD fold: a record
  where any field references another accumulator field or folds
  non-additively (the docs' incremental-mean idiom) compiles to the
  sanctioned Arrow per-series kernel — rows in table order, each
  field evaluated against the PREVIOUS accumulator, float64 with SQL
  NULL propagation — selected by structure, never as a fallback (a
  fully self-folding-additive record keeps the exact-decimal
  fragment and its strict domain raises).
* ``aggregateWindow(fn:) |> derivative/difference/cumulativeSum/
  increase`` (round 11b) — the DOWNSAMPLE-THEN-RATE idiom
  (``aggregateWindow(every: 1h, fn: last) |> derivative(nonNegative:
  true)``: counter rate from downsampled counters): the windowed
  aggregate runs first, the transform over its (window_start, value)
  series reshaped to the value-series frame. Shipped over SELECTOR
  fns (first/last/min/max — window values stay in the store's
  exact-decimal domain, so the transforms' delta machinery is exactly
  as attested on raw scans); computed aggregates (mean/sum/…) would
  round through the decimal re-cast and raise; tumbling windows only.
* ``contains(value: r["col"], set: [...])`` in the filter grammar
  (round 11b) — the Grafana MULTI-SELECT variable idiom: an IN
  predicate Catalyst pushes into the parquet scan (In() in
  PushedFilters, so field-clustered row groups still skip); a
  ``set: v.NAME`` whole-set variable splices a list param. And
  ``join(method: "left" | "right" | "full")`` — the join-package
  outer forms, 1:1 onto Spark's join types (same one-exchange-per-
  side shape as inner).
* ``aggregateWindow(fn: (column, tables=<-) => tables |> quantile(q:))``
  (round 11b) — the WINDOWED QUANTILE lambda, upstream's documented
  parameterized-fn idiom (the p99-per-hour latency panel): the same
  exact_selector + Flux rank convention as the bare ``quantile()``
  stage, ranked per (window bucket, table key) — one raw-row
  compound-key exchange, the floor for exact-rank semantics. The
  stage splitter is bracket-aware so the lambda's embedded ``|>`` is
  not a stage boundary. Sliding/offset/exact_mean forms raise.
* ``compile_flux_stream`` (round 11b) — the LIVE-PANEL entry point:
  the same dashboard text compiled onto a file-arrival stream over
  the bucket store (watermarked append-mode windows, exactly-once
  emission), with emitted windows bit-identical to the batch
  compiler's. Subset: range/filter/map/timeShift prefix (the latter
  two are stateless row ops — round 12) + one
  ``aggregateWindow(mean/count/sum/min/max/first/last)`` (first/last
  — the live stat-panel gauge, round 12; ``period:``/``offset:`` —
  the SLIDING / alignment-shifted live panel, round 12d) with
  optional post-aggregate ``filter``/``map``/``keep``/``drop``/
  ``rename`` tail stages (the live alert threshold, the
  unit-converted panel, and display shaping — stateless row ops
  over the append-mode output) or the raw record stream,
  and multi-statement scripts with a final ``union()`` (the live
  multi-series panel — exchange-free) or — round 12 — a final
  ``join()`` of exactly two same-``every`` windowed aggregates on the
  window spine (the live overlay / period comparison: a stream-stream
  join on the window STRUCT via Spark's multiple-stateful-operator
  path). Value-series transforms (round 12), the O(1)-state
  smoothing/indicator family (EMA/ETMA/doubleEMA/tripleEMA/RSI/TRIX,
  round 13) and the round-14 bounded-state members — kaufmansAMA /
  movingAverage / chandeMomentumOscillator / kaufmansER on bounded
  cents/value lists, elapsed on one lag, stateDuration/stateCount on
  fixed run tuples, fill(value:) as a stateless tail — run as keyed
  state under a pinned arrival contract; state proportional to the
  stream (rank aggregates), data-rate-dependent buffers (bare
  timedMovingAverage), and non-monotone output (holtWinters — each
  point retracts the previously-emitted forecast) raise, pointing at
  the batch entry point. ``start_flux_task`` runs a trailing-``to(bucket:)`` script
  as the InfluxDB task loop (a ticker stream; per-tick ``now_fn``
  anchoring for relative bounds).
* ``|> to(bucket:)`` (round 11) — the InfluxDB task / continuous-query
  write-back: the pipeline's output frame maps back into the bucket
  schema (window_start → ``_time`` under the engine's start-labeled
  window convention; promoted tags ride along, mirrored into the
  ``tags`` map) and lands through the idempotent dynamic-partition-
  overwrite writer, so re-running the task rewrites exactly its own
  partitions. Final-stage only; writing a bucket into itself raises.
* ``aggregateWindow(period:, offset:)`` — SLIDING windows (period a
  positive multiple of every; each row lands in period/every windows —
  Spark's F.window slide semantics 1:1) and alignment-shifted windows
  (offset normalized into [0, every), negative offsets wrap); and
  ``every: 1mo`` / ``1y`` — CALENDAR buckets via date_trunc (months
  are not a fixed number of seconds), also accepted by
  ``truncateTimeColumn(unit:)``. createEmpty / fn: mode do not compose
  with the sliding/offset/calendar forms (gap_fill is tumbling-only;
  mode's epoch-floor grouping can't explode rows) and raise.
* ``<value-series transform> |> aggregateWindow(fn:)`` — difference /
  increase / cumulativeSum / exponentialMovingAverage / doubleEMA /
  tripleEMA / relativeStrengthIndex / chandeMomentumOscillator /
  kaufmansER feeding a windowed aggregate: the
  counter-to-windowed-totals panel (``difference(nonNegative) |>
  aggregateWindow(every: 1d, fn: sum)`` = bytes per day). The windowed
  aggregate runs over the REWRITTEN series — per-table first rows drop
  BEFORE windowing, Flux's order — and costs one exchange total.
  derivative/elapsed/movingAverage keep the original ``_value`` beside
  a named column, so composing over them is ambiguous and raises.
"""

from __future__ import annotations

import os
import re
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.timeseries import _dec
from .sources import bucket as bkt

_DUR_RE = re.compile(r"^(-?)(\d+)(s|m|h|d|w)$")
_DUR_S = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}

#: aggregateWindow fns → (aggregate expression builder, needs decimal)
_AGG_FNS = (
    "mean", "median", "min", "max", "sum", "count", "first", "last",
    "spread", "stddev", "mode", "skew",
)

#: transforms that REWRITE _value into a (keys, _time, _value) series —
#: the shapes a following last() or aggregateWindow() composes over
#: (derivative/elapsed/movingAverage keep the original _value beside a
#: named column, so composing over them would be ambiguous — they raise)
_VALUE_SERIES = (
    "increase", "difference", "cumsum", "ema", "ema2", "ema3", "rsi",
    "cmo", "ker", "trix", "kama", "interpolate", "etma",
)


class FluxError(ValueError):
    """Unsupported or malformed Flux — always names the offending text."""


def _parse_etma_n(a: dict, params: dict) -> int:
    """Validate ``exponentialTimeMovingAverage(n: <duration>)``
    arguments — ONE definition shared by the batch and streaming
    compilers (review r13, the ``_parse_tma_windowed`` precedent), so
    the duration rule and its guidance can never diverge. Returns the
    decay scale in integer µs."""
    if "n" not in a:
        raise FluxError("exponentialTimeMovingAverage requires n:")
    dur = _resolve(a["n"], params)
    if not (isinstance(dur, str) and _DUR_RE.match(dur)):
        raise FluxError(
            f"exponentialTimeMovingAverage n: bad duration {dur!r} "
            "(calendar anchors 1mo/1y are not a fixed decay scale)"
        )
    n_s = _duration_seconds(dur)
    if n_s <= 0:
        raise FluxError(
            f"exponentialTimeMovingAverage n must be > 0: {dur!r}"
        )
    _no_extra(a, {"n"}, "exponentialTimeMovingAverage")
    return n_s * 1_000_000


def _parse_tma_windowed(a: dict, params: dict, stage: str) -> tuple[int, int | None]:
    """Validate the WINDOWED-EMISSION ``timedMovingAverage(every:,
    period:)`` arguments — ONE definition shared by the batch and
    streaming compilers (review r13), so the subset rule (period a
    positive multiple of every, the sliding constraint) and its error
    wording can never diverge between the two front-ends. Returns
    ``(every_s, period_s | None)`` with period None when it equals
    every (the plain tumbling form)."""
    tma_every = _resolve(a["every"], params)
    tma_period = _resolve(a.get("period", ""), params)
    for nm, v in (("every", tma_every), ("period", tma_period)):
        if (
            not (isinstance(v, str) and _DUR_RE.match(v))
            or _duration_seconds(v) <= 0
        ):
            raise FluxError(f"timedMovingAverage {nm}: bad duration {v!r}")
    _no_extra(a, {"every", "period"}, "timedMovingAverage")
    every_s = _duration_seconds(tma_every)
    period_s = _duration_seconds(tma_period)
    if period_s != every_s and period_s % every_s != 0:
        raise FluxError(
            "timedMovingAverage period: must be a positive "
            f"multiple of every: in the subset; got {stage!r}"
        )
    return every_s, (period_s if period_s != every_s else None)


def _epoch_floor_us(ts_col: str, unit_s: int) -> Column:
    """Epoch-aligned floor of a timestamp column to whole `unit_s`
    spans, in PURE integer µs (a float-division floor is exact only
    while t/unit stays under double half-ulp resolution; t − t % unit
    never drifts). Store times are post-epoch, where % floors. Shared
    by truncateTimeColumn and the non-aggregated window() so the two
    bucketing rules can never desynchronize."""
    unit_us = unit_s * 1_000_000
    us = F.unix_micros(ts_col)
    return us - (us % F.lit(unit_us))


def _window_grouping(every_s, period_s, offset_s):
    """The windowed-aggregate grouping column: a calendar date_trunc
    bucket (every_s = "month"/"year" — already aliased window_start),
    or Spark's F.window struct — the plain tumbling one-arg form when
    period/offset are absent (byte-stable plans for the attested
    queries), else the sliding/offset form (period = windowDuration,
    every = slideDuration, offset = startTime; a sliding window
    EXPLODES each row into period/every buckets exactly as Flux does).
    Returns (column, is_window_struct)."""
    if every_s in ("month", "year"):
        return (
            F.date_trunc(every_s, F.col("_time")).alias("window_start"),
            False,
        )
    if period_s is None and not offset_s:
        return F.window("_time", f"{every_s} seconds").alias("w"), True
    return (
        F.window(
            "_time",
            f"{period_s or every_s} seconds",
            f"{every_s} seconds",
            f"{offset_s} seconds",
        ).alias("w"),
        True,
    )


def _state_runs(df: DataFrame, keys: list[str], pred: Column) -> DataFrame:
    """The run-id frame shared by stateDuration and stateCount: change
    detection via a null-safe lag compare, run ids as the running sum
    of change flags — both windows ride ONE series-key partitioning."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy("_time", "_value")
    chg = (~F.lag(pred).over(w).eqNullSafe(pred)).cast("long")
    return df.select(
        *keys,
        "_time",
        "_value",
        pred.alias("state"),
        F.sum(chg)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("run_id"),
    )


def _duration_seconds(tok: str) -> int:
    m = _DUR_RE.match(tok)
    if not m:
        raise FluxError(f"unsupported duration {tok!r}")
    sign = -1 if m.group(1) else 1
    return sign * int(m.group(2)) * _DUR_S[m.group(3)]


def _resolve(tok: str, params: dict[str, Any]) -> Any:
    """Resolve a Flux value token: quoted string (with ${var} template
    substitution), dashboard variable (v.name), duration, or number."""
    tok = tok.strip()
    if tok.startswith("v."):
        name = tok[2:]
        if name not in params:
            raise FluxError(f"dashboard variable {tok!r} not in params")
        return params[name]
    if (tok.startswith('"') and tok.endswith('"')) or (
        tok.startswith("'") and tok.endswith("'")
    ):
        s = tok[1:-1]

        def _sub(m: re.Match) -> str:
            name = m.group(1)
            if name not in params:
                raise FluxError(f"template variable ${{{name}}} not in params")
            return str(params[name])

        return re.sub(r"\$\{(\w+)\}", _sub, s)
    if _DUR_RE.match(tok) or tok in ("1mo", "1y"):
        # durations stay symbolic until their use site; the calendar
        # anchors (1mo/1y) are valid ONLY where a use site handles them
        # (aggregateWindow every:, truncateTimeColumn unit:) — every
        # other duration site matches _DUR_RE and raises on them
        return tok
    try:
        return int(tok)
    except ValueError:
        pass
    try:
        return float(tok)
    except ValueError:
        pass
    if tok in ("true", "false"):
        return tok == "true"
    raise FluxError(f"unsupported value token {tok!r}")


def _strip_comment(line: str) -> str:
    """Drop a // line comment — but only OUTSIDE string literals, so
    predicates on URLs ("http://...") survive."""
    quote = None
    i = 0
    while i < len(line):
        ch = line[i]
        if quote:
            if ch == quote:
                quote = None
        elif ch in "\"'":
            quote = ch
        elif ch == "/" and line[i : i + 2] == "//":
            return line[:i]
        i += 1
    return line


def _regex_literal_end(body: str, i: int) -> int | None:
    """If ``body[i:]`` starts a ``/regex/`` literal in a position where
    the grammar allows one (the scanner calls this right after ``=~`` /
    ``!~``), return the index ONE PAST the closing unescaped ``/``;
    None when no closing ``/`` exists on the same line. Brackets and
    quotes inside the literal are regex syntax, not structure — the
    depth/quote scanners must skip them (review r11b: an unbalanced
    ``[`` inside a regex otherwise poisons the bracket depth and eats
    every following stage boundary)."""
    j = i + 1
    while j < len(body):
        ch = body[j]
        if ch == "\n":
            return None
        if ch == "\\":
            j += 2
            continue
        if ch == "/":
            return j + 1
        j += 1
    return None


def _split_stages(flux: str, require_from: bool = True) -> list[str]:
    # strip line comments, then split the pipeline on |> (quote-,
    # bracket- AND regex-aware: a "|>" inside a string literal is
    # data; one inside parens belongs to an embedded lambda — the
    # windowed-quantile form `aggregateWindow(fn: (column, tables=<-)
    # => tables |> quantile(q: 0.99))`; and a /regex/ after =~ / !~ is
    # an opaque token whose brackets/quotes are regex syntax)
    body = "\n".join(_strip_comment(l) for l in flux.splitlines())
    stages, part, quote = [], [], None
    depth = 0
    i = 0
    while i < len(body):
        ch = body[i]
        if quote:
            if ch == quote:
                quote = None
            part.append(ch)
        elif ch in "\"'":
            quote = ch
            part.append(ch)
        elif ch == "~" and i > 0 and body[i - 1] in "=!":
            # `=~` / `!~`: the next non-space char may open a /regex/
            part.append(ch)
            j = i + 1
            while j < len(body) and body[j] in " \t":
                part.append(body[j])
                j += 1
            if j < len(body) and body[j] == "/":
                end = _regex_literal_end(body, j)
                if end is not None:
                    part.append(body[j:end])
                    i = end
                    continue
            i = j
            continue
        elif ch in "([{":
            depth += 1
            part.append(ch)
        elif ch in ")]}":
            depth -= 1
            part.append(ch)
        elif ch == "|" and depth == 0 and body[i : i + 2] == "|>":
            stages.append("".join(part))
            part = []
            i += 1
        else:
            part.append(ch)
        i += 1
    stages.append("".join(part))
    stages = [s.strip() for s in stages]
    if require_from and (not stages or not stages[0].startswith("from")):
        raise FluxError("pipeline must start with from(bucket: ...)")
    return stages


def _paren_delta(line: str) -> int:
    """Net bracket depth change of a line, quote- and regex-aware
    (parens inside string literals are data; brackets inside a
    ``=~ /regex/`` literal are regex syntax — review r11b)."""
    depth, quote = 0, None
    i = 0
    while i < len(line):
        ch = line[i]
        if quote:
            if ch == quote:
                quote = None
        elif ch in "\"'":
            quote = ch
        elif ch == "~" and i > 0 and line[i - 1] in "=!":
            j = i + 1
            while j < len(line) and line[j] in " \t":
                j += 1
            if j < len(line) and line[j] == "/":
                end = _regex_literal_end(line, j)
                if end is not None:
                    i = end
                    continue
            i = j
            continue
        elif ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        i += 1
    return depth


_ASSIGN_RE = re.compile(r"^(\w+)\s*=(?!=|~)\s*(.*)$", re.DOTALL)


def _split_statements(body: str) -> list[tuple[str | None, str]]:
    """Split a Flux script into top-level statements: ``name = <pipeline>``
    assignments and bare result expressions. Statement boundaries are
    line-based (the Grafana editor's one-stage-per-line format): a line
    continues the current statement iff it starts with ``|>`` or an
    earlier line left brackets open; anything else begins a new one."""
    stmts: list[tuple[str | None, str]] = []
    cur: list[str] = []
    name: str | None = None
    depth = 0

    def flush() -> None:
        nonlocal cur, name
        if cur:
            stmts.append((name, "\n".join(cur)))
        cur, name = [], None

    for raw in body.splitlines():
        line = _strip_comment(raw)
        if not line.strip():
            continue
        s = line.strip()
        # a line continues the current statement when it starts with
        # |>, when brackets are open, or when the previous line ended
        # with a trailing |> (both pipe styles are legal Flux)
        if (
            depth <= 0
            and cur
            and not s.startswith("|>")
            and not cur[-1].rstrip().endswith("|>")
        ):
            flush()
        if not cur:
            m = _ASSIGN_RE.match(s)
            if m:
                name = m.group(1)
                line = m.group(2)
        cur.append(line)
        depth += _paren_delta(line)
    flush()
    if not stmts:
        raise FluxError("empty Flux script")
    return stmts


def _args(stage: str, name: str) -> dict[str, str]:
    """Parse `name(k1: v1, k2: v2)` into a dict of raw value strings.
    Values never contain commas in the shipped subset except inside
    (r) => predicates, which are extracted separately."""
    m = re.match(rf"^{name}\s*\((.*)\)\s*$", stage, re.DOTALL)
    if not m:
        raise FluxError(f"malformed {name} stage: {stage!r}")
    inner = m.group(1).strip()
    out: dict[str, str] = {}
    if not inner:
        return out
    # split on top-level commas (no nesting in the subset besides fn,
    # list literals, and rename's {old: "new"} map literal)
    depth = 0
    part = []
    parts: list[str] = []
    for ch in inner:
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(part))
            part = []
        else:
            part.append(ch)
    parts.append("".join(part))
    for p in parts:
        k, _, v = p.partition(":")
        out[k.strip()] = v.strip()
    return out


def _split_top_commas(s: str) -> list[str]:
    """Split on commas outside any bracket nesting (record bodies:
    `{ a: <expr>, b: <expr> }` where exprs may hold parentheses)."""
    depth = 0
    parts: list[str] = []
    cur: list[str] = []
    for ch in s:
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return [p for p in parts if p.strip()]


# -- reduce() sequential-fold expression grammar ----------------------
#
# The cross-field accumulator fragment (round 12): per-field arithmetic
# over r._value, accumulator.<field>, and numeric literals with
# + - * / and parentheses — no function calls, no unary minus (write
# `0.0 - x`), numbers in the shared ≤10-int-digit / ≤2-decimal grammar.
# Parsed once at compile time into plain nested tuples:
#   ("num", float) | ("val",) | ("acc", name)
#   | ("add"|"sub"|"mul"|"div", left, right)

_FOLD_TOKEN_RE = re.compile(
    r"""\s*(
        accumulator\.\w+
      | r\._value
      | r\[\s*"_value"\s*\]
      | \d{1,10}(?:\.\d{1,2})?
      | [-+*/()]
    )""",
    re.VERBOSE,
)


def _parse_fold_expr(src: str, acc_names: set[str]) -> tuple:
    """Recursive-descent parse of one accumulator-field expression for
    the reduce() sequential fold. Raises FluxError naming the offending
    token; validates accumulator references against the record's own
    field set."""
    toks: list[str] = []
    pos = 0
    while pos < len(src):
        m = _FOLD_TOKEN_RE.match(src, pos)
        if not m:
            if src[pos:].strip() == "":
                break
            raise FluxError(
                "reduce fold: expressions are arithmetic over r._value, "
                "accumulator.<field> and numeric literals (≤ 10 integer "
                "digits, ≤ 2 decimal places); cannot parse "
                f"{src[pos:].strip()[:30]!r}"
            )
        toks.append(m.group(1))
        pos = m.end()
    i = 0

    def peek() -> str | None:
        return toks[i] if i < len(toks) else None

    def take() -> str:
        nonlocal i
        t = toks[i]
        i += 1
        return t

    def factor() -> tuple:
        t = peek()
        if t is None:
            raise FluxError(f"reduce fold: truncated expression {src!r}")
        if t == "(":
            take()
            node = expr()
            if peek() != ")":
                raise FluxError(f"reduce fold: unbalanced parens in {src!r}")
            take()
            return node
        take()
        if t.startswith("accumulator."):
            name = t.split(".", 1)[1]
            if name not in acc_names:
                raise FluxError(
                    f"reduce fold: unknown accumulator field {name!r} "
                    f"(record fields: {sorted(acc_names)})"
                )
            return ("acc", name)
        if t in ("r._value",) or t.startswith("r["):
            return ("val",)
        if re.fullmatch(r"\d{1,10}(?:\.\d{1,2})?", t):
            return ("num", float(t))
        raise FluxError(
            f"reduce fold: expected a value, accumulator field, literal "
            f"or '(' — got {t!r} in {src!r}"
        )

    def term() -> tuple:
        node = factor()
        while peek() in ("*", "/"):
            op = take()
            node = ("mul" if op == "*" else "div", node, factor())
        return node

    def expr() -> tuple:
        node = term()
        while peek() in ("+", "-"):
            op = take()
            node = ("add" if op == "+" else "sub", node, term())
        return node

    node = expr()
    if i != len(toks):
        raise FluxError(
            f"reduce fold: trailing tokens {toks[i:]} in {src!r} "
            "(unary minus is outside the grammar — write 0.0 - x)"
        )
    return node


def _compile_fold_eval(ast: tuple, name_index: dict[str, int]):
    """Compile a fold AST into a Python evaluator over (acc, v) with
    SQL NULL propagation — x/0 → None, None op x → None — exactly
    DuckDB's DOUBLE semantics, so the recursive-CTE oracle replays the
    fold bit-for-bit. Per-row Python is the point here: this runs
    inside the sanctioned Arrow per-series kernel (sequential
    recurrences), never in a Spark row loop."""
    kind = ast[0]
    if kind == "num":
        c = ast[1]
        return lambda acc, v: c
    if kind == "val":
        return lambda acc, v: v
    if kind == "acc":
        j = name_index[ast[1]]
        return lambda acc, v: acc[j]
    lf = _compile_fold_eval(ast[1], name_index)
    rf = _compile_fold_eval(ast[2], name_index)
    if kind == "div":

        def _div(acc, v):
            a = lf(acc, v)
            b = rf(acc, v)
            if a is None or b is None or b == 0.0:
                return None
            return a / b

        return _div
    import operator

    op = {"add": operator.add, "sub": operator.sub, "mul": operator.mul}[kind]

    def _bin(acc, v):
        a = lf(acc, v)
        b = rf(acc, v)
        if a is None or b is None:
            return None
        return op(a, b)

    return _bin


# -- predicate parser -------------------------------------------------

_TOKEN_RE = re.compile(
    r"""\s*(
        r\[\s*"(?:[^"]+)"\s*\]   # r["col"]
      | r\.\w+                   # r.col
      | ==|!=|<=|>=|=~|!~|<|>
      | and\b|or\b|exists\b|not\b
      | contains\b|value\b|set\b     # contains(value: r[...], set: [...])
      | \(|\)|\[|\]|,|:
      | "(?:[^"]*)"
      | '(?:[^']*)'
      | -?\d+\.\d+|-?\d+
      | v\.\w+
      | /(?:\\.|[^/\\])+/       # /regex/ literal (Grafana =~ filters)
    )""",
    re.VERBOSE,
)


def _tokenize_pred(src: str) -> list[str]:
    out, i = [], 0
    while i < len(src):
        m = _TOKEN_RE.match(src, i)
        if not m:
            if src[i:].strip() == "":
                break
            raise FluxError(f"unsupported predicate syntax at {src[i:]!r}")
        out.append(m.group(1))
        i = m.end()
    return out


def _parse_pred(tokens: list[str], params: dict[str, Any]) -> Column:
    pos = 0

    def peek() -> str | None:
        return tokens[pos] if pos < len(tokens) else None

    def eat(tok: str | None = None) -> str:
        nonlocal pos
        if pos >= len(tokens):
            raise FluxError("unexpected end of predicate")
        t = tokens[pos]
        if tok is not None and t != tok:
            raise FluxError(f"expected {tok!r}, got {t!r}")
        pos += 1
        return t

    def ref_or_fail(t: str) -> Column:
        if t.startswith("r[") :
            return F.col(re.match(r'r\[\s*"([^"]+)"\s*\]', t).group(1))
        if t.startswith("r."):
            return F.col(t[2:])
        raise FluxError(f"comparison must start with r[...] / r.col, got {t!r}")

    def cmp() -> Column:
        if peek() == "(":
            eat("(")
            e = or_expr()
            eat(")")
            return e
        if peek() == "not":
            # Flux unary not — in practice `not exists r.tag` (rows
            # missing the tag); general negation composes recursively
            eat("not")
            return ~cmp()
        if peek() == "exists":
            # Flux `exists r["host"]` — column-presence test: a tagged
            # record carries NULL in a promoted tag column when the
            # series lacks that tag, exactly upstream's missing-column
            # semantics
            eat("exists")
            return ref_or_fail(eat()).isNotNull()
        if peek() == "contains":
            # Flux contains(value: r["col"], set: [...]) — the
            # multi-select dashboard variable idiom (field/tag IN a
            # selection). Compiles to an IN predicate; Catalyst pushes
            # an In() filter into the parquet scan on the promoted
            # columns, so row-group stats still skip. A v.NAME set
            # resolving to a list splices (the Grafana multi-value
            # variable shape).
            eat("contains")
            eat("(")
            if eat() != "value":
                raise FluxError("contains needs value: r[...] first")
            eat(":")
            col = ref_or_fail(eat())
            eat(",")
            if eat() != "set":
                raise FluxError("contains needs set: [...] second")
            eat(":")
            vals: list[Any] = []
            if (peek() or "").startswith("v."):
                # whole-set dashboard variable: set: v.fields with a
                # LIST param — the Grafana multi-value variable shape
                v = _resolve(eat(), params)
                if not isinstance(v, list) or not v:
                    raise FluxError(
                        "contains set: a v.NAME set needs a non-empty "
                        f"list param; got {v!r}"
                    )
                vals.extend(v)
            else:
                eat("[")
                if peek() == "]":
                    raise FluxError("contains set: list is empty")
                while True:
                    v = _resolve(eat(), params)
                    if isinstance(v, list):
                        vals.extend(v)
                    else:
                        vals.append(v)
                    nxt = eat()
                    if nxt == "]":
                        break
                    if nxt != ",":
                        raise FluxError(
                            f"contains set: expected , or ], got {nxt!r}"
                        )
            eat(")")
            return col.isin(*vals)
        left = ref_or_fail(eat())
        op = eat()
        if op in ("=~", "!~"):
            # Grafana regex filters: r["_field"] =~ /^R\d+/ — partial
            # (unanchored) match like Flux's RE2; Spark rlike is Java
            # regex, equivalent for the character-class/anchor subset
            # panels use. ${var} templates resolve inside the literal.
            tok = eat()
            if not (tok.startswith("/") and tok.endswith("/") and len(tok) > 2):
                raise FluxError(f"{op} expects a /regex/ literal, got {tok!r}")
            pattern = re.sub(
                r"\$\{(\w+)\}",
                lambda m: str(_resolve(f"v.{m.group(1)}", params)),
                tok[1:-1].replace(r"\/", "/"),
            )
            matched = left.rlike(pattern)
            return matched if op == "=~" else ~matched
        right = _resolve(eat(), params)
        if op == "==":
            return left == F.lit(right)
        if op == "!=":
            return left != F.lit(right)
        if op == "<":
            return left < F.lit(right)
        if op == "<=":
            return left <= F.lit(right)
        if op == ">":
            return left > F.lit(right)
        if op == ">=":
            return left >= F.lit(right)
        raise FluxError(f"unsupported operator {op!r}")

    def and_expr() -> Column:
        e = cmp()
        while peek() == "and":
            eat("and")
            e = e & cmp()
        return e

    def or_expr() -> Column:
        e = and_expr()
        while peek() == "or":
            eat("or")
            e = e | and_expr()
        return e

    out = or_expr()
    if pos != len(tokens):
        raise FluxError(f"trailing predicate tokens: {tokens[pos:]!r}")
    return out


# -- arithmetic parser (map's value-rewrite expressions) ---------------

_ARITH_TOKEN_RE = re.compile(
    r"""\s*(
        r\[\s*"(?:[^"]+)"\s*\]   # r["col"]
      | r\.\w+                   # r.col
      | \d+\.\d+|\d+             # numeric literal (unary minus is the
                                 # factor() rule's job — a leading -?
                                 # here made "r._value-1" tokenize as
                                 # [r._value, -1] and reject valid
                                 # subtraction, ADVICE r8)
      | math\.\w+                # math.<fn> (the correctly-rounded set)
      | v\.\w+                   # dashboard variable
      | \w+:                     # named-argument label (math.abs(x: ...))
      | (?:if|then|else|and|or)\b   # conditional expression keywords
      | >=|<=|==|!=|>|<          # comparison operators (conditions)
      | [+\-*/(),]
    )""",
    re.VERBOSE,
)

#: map() math functions restricted to operations that are CORRECTLY
#: ROUNDED IEEE in both engines (so oracles replay bit-for-bit):
#: abs/sqrt/floor/ceil/round and the trunc cast. exp/log/pow are libm
#: calls whose last ulp differs between JVM and C runtimes — excluded
#: (raise naming the fn) rather than shipping attestation-hostile math.
def _f_trunc(c: Column) -> Column:
    # truncation toward zero WITHOUT a long round-trip: x − x % 1.0 —
    # NaN/null propagate (a long cast maps NaN to 0 and clamps beyond
    # ±2⁶³), and |x| ≥ 2⁵³ already has no fraction (x % 1.0 == 0)
    return c - c % F.lit(1.0)


def _f_floor(c: Column) -> Column:
    return _f_trunc(c) - F.when(
        (c < 0) & (c % F.lit(1.0) != 0), F.lit(1.0)
    ).otherwise(F.lit(0.0))


def _f_ceil(c: Column) -> Column:
    return _f_trunc(c) + F.when(
        (c > 0) & (c % F.lit(1.0) != 0), F.lit(1.0)
    ).otherwise(F.lit(0.0))


def _f_mmax(a: Column, b: Column) -> Column:
    # Go math.Max propagates NaN from either side; Spark greatest
    # orders NaN above everything and SKIPS nulls — pin Go semantics
    return F.when(F.isnan(a) | F.isnan(b), F.lit(float("nan"))).otherwise(
        F.greatest(a, b)
    )


def _f_mmin(a: Column, b: Column) -> Column:
    return F.when(F.isnan(a) | F.isnan(b), F.lit(float("nan"))).otherwise(
        F.least(a, b)
    )


_MATH_FNS: dict[str, Any] = {
    "abs": F.abs,
    "sqrt": F.sqrt,
    "floor": _f_floor,
    "ceil": _f_ceil,
    "round": lambda c: F.round(c, 0),
    "trunc": _f_trunc,
    "mMax": _f_mmax,
    "mMin": _f_mmin,
}


def _parse_arith(src: str, params: dict[str, Any]) -> Column:
    """Parse the arithmetic subset map() ships: r["col"] / r.col refs,
    numeric literals, dashboard variables, + - * / and parens, with
    ordinary precedence. Everything is computed in doubles (Flux float
    arithmetic), so an oracle replays it bit-for-bit."""
    tokens, i = [], 0
    while i < len(src):
        m = _ARITH_TOKEN_RE.match(src, i)
        if not m:
            if src[i:].strip() == "":
                break
            raise FluxError(f"unsupported map expression syntax at {src[i:]!r}")
        tokens.append(m.group(1))
        i = m.end()
    pos = 0

    def peek() -> str | None:
        return tokens[pos] if pos < len(tokens) else None

    def eat() -> str:
        nonlocal pos
        if pos >= len(tokens):
            raise FluxError("unexpected end of map expression")
        t = tokens[pos]
        pos += 1
        return t

    def factor() -> Column:
        t = eat()
        if t == "(":
            e = expr()
            if eat() != ")":
                raise FluxError("unbalanced parens in map expression")
            return e
        if t == "-":
            return -factor()
        if t.startswith("math."):
            fn_name = t[5:]
            fn = _MATH_FNS.get(fn_name)
            if fn is None:
                raise FluxError(
                    f"map math.{fn_name} is outside the shipped subset "
                    "(only the correctly-rounded IEEE set ships: "
                    f"{sorted(_MATH_FNS)} — exp/log/pow differ in the "
                    "last ulp between engines)"
                )
            if eat() != "(":
                raise FluxError(f"math.{fn_name} requires (args)")
            # Flux math fns take named args (x:, y:) — accepted and
            # ignored (position carries the meaning); bare positional
            # expressions work too
            def _arg(label: str) -> Column:
                if peek() is not None and re.match(r"^\w+:$", peek()):
                    got_label = eat()
                    if got_label != label:
                        raise FluxError(
                            f"math.{fn_name}: argument label "
                            f"{got_label!r} must be {label!r} (positional "
                            "meaning is fixed)"
                        )
                return expr()

            args = [_arg("x:")]
            while peek() == ",":
                eat()
                args.append(_arg("y:"))
            if eat() != ")":
                raise FluxError(f"unbalanced parens in math.{fn_name}()")
            want = 2 if fn_name in ("mMax", "mMin") else 1
            if len(args) != want:
                raise FluxError(
                    f"math.{fn_name} takes {want} argument(s), got {len(args)}"
                )
            return fn(*args)
        if t.startswith("r["):
            return F.col(re.match(r'r\[\s*"([^"]+)"\s*\]', t).group(1)).cast(
                "double"
            )
        if t.startswith("r."):
            return F.col(t[2:]).cast("double")
        if t.startswith("v."):
            val = _resolve(t, params)
            if isinstance(val, bool) or not isinstance(val, (int, float)):
                raise FluxError(
                    f"map expression variable {t!r} must resolve to a "
                    f"number, got {val!r}"
                )
            return F.lit(float(val))
        try:
            return F.lit(float(t))
        except ValueError:
            raise FluxError(f"unsupported map expression token {t!r}")

    def term() -> Column:
        e = factor()
        while peek() in ("*", "/"):
            if eat() == "*":
                e = e * factor()
            else:
                e = e / factor()
        return e

    def arith_expr() -> Column:
        e = term()
        while peek() in ("+", "-"):
            if eat() == "+":
                e = e + term()
            else:
                e = e - term()
        return e

    def cond() -> Column:
        # or_expr := and_expr ('or' and_expr)* ; and_expr := cmp
        # ('and' cmp)* — `and` binds tighter, exactly like Flux and
        # this file's predicate parser. A cmp may be a parenthesized
        # condition: '(' is ambiguous with an arithmetic paren, so the
        # parse CHECKPOINTS and falls back to the arithmetic reading.
        def cmp() -> Column:
            nonlocal pos
            if peek() == "(":
                save = pos
                eat()
                try:
                    inner = cond()
                    if eat() != ")":
                        raise FluxError("unbalanced parens in map condition")
                    return inner
                except FluxError:
                    pos = save  # an arithmetic paren: (a + b) > c
            left = arith_expr()
            op = peek()
            if op not in (">", "<", ">=", "<=", "==", "!="):
                raise FluxError(
                    f"map if-condition needs a comparison, got {op!r}"
                )
            eat()
            right = arith_expr()
            return {
                ">": left > right, "<": left < right,
                ">=": left >= right, "<=": left <= right,
                "==": left == right, "!=": left != right,
            }[op]

        def and_expr() -> Column:
            e = cmp()
            while peek() == "and":
                eat()
                e = e & cmp()
            return e

        e = and_expr()
        while peek() == "or":
            eat()
            e = e | and_expr()
        return e

    def expr() -> Column:
        # Flux conditional expression: if <cond> then <e> else <e> —
        # compiled to F.when/otherwise (lazy in both engines, so only
        # the taken branch's arithmetic evaluates)
        if peek() == "if":
            eat()
            c = cond()
            if eat() != "then":
                raise FluxError("map if-expression needs then")
            a = expr()
            if eat() != "else":
                raise FluxError("map if-expression needs else (Flux "
                                "conditionals are total)")
            b = expr()
            return F.when(c, a).otherwise(b)
        return arith_expr()

    out = expr()
    if pos != len(tokens):
        raise FluxError(f"trailing map expression tokens: {tokens[pos:]!r}")
    return out


def _post_value_map(
    frame: DataFrame,
    valcol: str,
    arith_src: str,
    params: dict[str, Any],
    visible: list[str],
    src_stage: str,
) -> DataFrame:
    """The POST-AGGREGATE ``map()`` (round 12d): rewrite the OUTPUT
    frame's value column in place — the Grafana unit-converted panel
    over a windowed aggregate (``aggregateWindow |> map(fn: (r) =>
    ({ r with _value: r._value * 0.001 }))``). ONE definition shared
    by the batch tail and the streaming live-panel path, so both
    compile the identical rewrite: ``r._value`` references remap onto
    the frame's value column (attested frames name it after the
    fn / yield name), every other reference must exist on the output
    frame, and the rewrite is NULL-preserving (a gap row created by
    createEmpty stays null — the same policy as the pre-aggregate
    map). The value column's type becomes double (Flux float
    arithmetic), exactly what the oracles compute."""
    tokens, i = [], 0
    while i < len(arith_src):
        m = _ARITH_TOKEN_RE.match(arith_src, i)
        if not m:
            if arith_src[i:].strip() == "":
                break
            raise FluxError(
                f"unsupported map expression syntax at {arith_src[i:]!r}"
            )
        tokens.append(m.group(1))
        i = m.end()
    # normalize bracketed reference layouts FIRST (r[ "_value" ] must
    # remap exactly like r["_value"] — the postfilter's formatting-
    # invariance rule), then remap the value reference onto valcol
    new_toks = [
        f'r["{valcol}"]' if t in ('r["_value"]', "r._value") else t
        for t in map(_norm_ref, tokens)
    ]
    refs = [
        t[3:-2] if t.startswith('r["') else t[2:]
        for t in new_toks
        if t.startswith('r["') or re.match(r"^r\.\w+$", t)
    ]
    missing = sorted({c for c in refs if c not in visible})
    if missing:
        raise FluxError(
            f"map after an aggregation stage: unknown column(s) "
            f"{missing}; frame has {visible}: {src_stage!r}"
        )
    mapped = _parse_arith(" ".join(new_toks), params)
    return frame.withColumn(
        valcol,
        F.when(
            F.col(valcol).isNull(), F.lit(None).cast("double")
        ).otherwise(mapped),
    )


def _parse_bins(tok: str, params: dict[str, Any]) -> list[float]:
    """histogram bins: a literal float list, or the upstream generator
    helpers ``linearBins(start:, width:, count:, [infinity:])`` /
    ``logarithmicBins(start:, factor:, count:, [infinity:])`` (both
    default infinity: true, like upstream)."""
    tok = tok.strip()
    if tok.startswith("["):
        if not tok.endswith("]"):
            raise FluxError(f"histogram bins: malformed list {tok!r}")
        vals: list[float] = []
        inner = tok[1:-1].strip()
        for p in inner.split(",") if inner else []:
            v = _resolve(p.strip(), params)
            if isinstance(v, bool) or not isinstance(v, (int, float)):
                raise FluxError(
                    f"histogram bins: expected numbers, got {p.strip()!r}"
                )
            vals.append(float(v))
        if not vals:
            raise FluxError("histogram bins: list is empty")
        if sorted(vals) != vals or len(set(vals)) != len(vals):
            raise FluxError("histogram bins must be strictly increasing")
        return vals
    m = re.match(r"^(linearBins|logarithmicBins)\s*\(", tok)
    if not m:
        raise FluxError(
            "histogram bins: expected a list, linearBins() or "
            f"logarithmicBins(); got {tok!r}"
        )
    kind = m.group(1)
    a = _args(tok, kind)
    step_key = "width" if kind == "linearBins" else "factor"
    for req in ("start", step_key, "count"):
        if req not in a:
            raise FluxError(f"{kind} requires {req}:")
    _no_extra(a, {"start", step_key, "count", "infinity"}, kind)
    start = _resolve(a["start"], params)
    step = _resolve(a[step_key], params)
    count = _resolve(a["count"], params)
    inf = _resolve(a["infinity"], params) if "infinity" in a else True
    for nm, v in (("start", start), (step_key, step)):
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise FluxError(f"{kind} {nm}: expected a number, got {v!r}")
    if not isinstance(count, int) or isinstance(count, bool) or not (
        0 < count <= 512
    ):
        raise FluxError(
            f"{kind} count: positive int (≤ 512 bins) required, got {count!r}"
        )
    if not isinstance(inf, bool):
        raise FluxError(f"{kind} infinity: expected a boolean, got {inf!r}")
    if kind == "linearBins":
        vals = [float(start) + i * float(step) for i in range(count)]
    else:
        if float(start) <= 0 or float(step) <= 1:
            raise FluxError(
                "logarithmicBins needs start > 0 and factor > 1"
            )
        vals = [float(start) * float(step) ** i for i in range(count)]
    if inf:
        vals.append(float("inf"))
    return vals


def _str_list(tok: str, where: str) -> list[str]:
    """Parse a Flux string-list literal: ["a", "b"]."""
    tok = tok.strip()
    if not (tok.startswith("[") and tok.endswith("]")):
        raise FluxError(f"{where}: expected a [\"...\"] list, got {tok!r}")
    inner = tok[1:-1].strip()
    if not inner:
        return []
    out = []
    for part in inner.split(","):
        part = part.strip()
        if not (
            (part.startswith('"') and part.endswith('"'))
            or (part.startswith("'") and part.endswith("'"))
        ):
            raise FluxError(f"{where}: list items must be quoted, got {part!r}")
        out.append(part[1:-1])
    return out


def _str_map(tok: str, where: str) -> dict[str, str]:
    """Parse a Flux record literal of string values: {old: "new", ...}
    (keys bare identifiers or quoted — the ``rename(columns:)`` shape)."""
    tok = tok.strip()
    if not (tok.startswith("{") and tok.endswith("}")):
        raise FluxError(f"{where}: expected a {{old: \"new\"}} record, got {tok!r}")
    inner = tok[1:-1].strip()
    out: dict[str, str] = {}
    if not inner:
        return out
    for part in inner.split(","):
        k, sep, v = part.partition(":")
        k, v = k.strip(), v.strip()
        if not sep or not k or not v:
            raise FluxError(f"{where}: malformed entry {part!r}")
        if (k.startswith('"') and k.endswith('"')) or (
            k.startswith("'") and k.endswith("'")
        ):
            k = k[1:-1]
        elif not re.fullmatch(r"\w+", k):
            raise FluxError(f"{where}: bad key {k!r}")
        if not (
            (v.startswith('"') and v.endswith('"'))
            or (v.startswith("'") and v.endswith("'"))
        ):
            raise FluxError(f"{where}: values must be quoted, got {v!r}")
        if k in out:
            raise FluxError(f"{where}: duplicate key {k!r}")
        out[k] = v[1:-1]
    return out


def _filter_tokens(stage: str) -> list[str]:
    """``filter(fn: (r) => <predicate>)`` → the predicate's tokens."""
    m = re.match(
        r"^filter\s*\(\s*fn\s*:\s*\(\s*r\s*\)\s*=>\s*(.*)\)\s*$",
        stage,
        re.DOTALL,
    )
    if not m:
        raise FluxError(f"malformed filter stage: {stage!r}")
    return _tokenize_pred(m.group(1).strip())


def _resolve_bound(
    tok: str, params: dict[str, Any], now: str | None, where: str
) -> str:
    """Shared range/schema bound resolution: a relative duration
    (-7d) anchors at the explicit ``now`` (wall-clock defaults would
    break replayability); an absolute RFC3339-ish literal normalizes
    its T/Z decorations. ONE implementation for pipelines and schema
    queries — the two sites must never diverge (review r11)."""
    v = _resolve(tok, params)
    if isinstance(v, str) and _DUR_RE.match(v):
        if now is None:
            raise FluxError(
                f"{where}: relative bound {v!r} needs an explicit "
                "now= anchor"
            )
        import datetime

        base = datetime.datetime.fromisoformat(now.replace("Z", "+00:00"))
        out = base + datetime.timedelta(seconds=_duration_seconds(v))
        return out.strftime("%Y-%m-%d %H:%M:%S")
    return str(v).replace("T", " ").replace("Z", "")


def _norm_ref(tok: str) -> str:
    """Collapse the bracketed reference layout ``r[ "col" ]`` to
    ``r["col"]``, so every legal layout validates and remaps alike
    (the formatting-invariance property)."""
    return re.sub(r'^r\[\s*"(.*)"\s*\]$', r'r["\1"]', tok)


def _ref_cols(toks: list[str]) -> list[str]:
    """The column names a normalized token list references."""
    return [
        t[3:-2] if t.startswith('r["') else t[2:]
        for t in toks
        if t.startswith('r["') or t.startswith("r.")
    ]


def _validate_refs(
    toks: list[str], known: set[str], where: str
) -> None:
    """Shared r-reference validation: normalize the bracketed layout
    (formatting-invariance), extract every ``r[...]``/``r.col``
    reference, and raise a FluxError NAMING unknown columns instead of
    leaking a Spark analysis error downstream."""
    missing = sorted(set(_ref_cols([_norm_ref(t) for t in toks])) - known)
    if missing:
        raise FluxError(
            f"{where}: unknown column(s) {missing}; the store's record "
            f"columns are {sorted(known)}"
        )


# ---------------------------------------------------------------------
# Stage parsers shared by the batch compiler (_compile_pipeline) and
# the streaming compiler (_compile_stream_single). Each validates one
# stage's arguments and returns what the batch compiler records for it;
# the streaming compiler adds only its own placement and state rules.
# ---------------------------------------------------------------------

_MAP_FN_RE = re.compile(
    r"^\(\s*r\s*\)\s*=>\s*\(\s*\{\s*r\s+with\s+"
    r"(\w+|\"[^\"]+\")\s*:\s*(.*?)\s*\}\s*\)\s*$",
    re.DOTALL,
)

#: stages that act on raw rows only: after a terminal (aggregation /
#: transform) stage they would silently act on its output instead
_ROW_ONLY_HEADS = (
    "range", "group", "hourSelection", "truncateTimeColumn", "toFloat",
    "toInt",
)

#: the ``n:``-parameterized per-point transforms → their transform kind
_N_TRANSFORMS = {
    "movingAverage": "ma",
    "chandeMomentumOscillator": "cmo",
    "kaufmansER": "ker",
    "exponentialMovingAverage": "ema",
    "doubleEMA": "ema2",
    "tripleEMA": "ema3",
    "relativeStrengthIndex": "rsi",
    "tripleExponentialDerivative": "trix",
    "kaufmansAMA": "kama",
}

#: the per-point transforms _parse_transform reads (both compilers)
_SHARED_TRANSFORMS = (
    *_N_TRANSFORMS, "exponentialTimeMovingAverage", "derivative",
    "difference", "cumulativeSum", "increase", "elapsed", "stateDuration",
    "stateCount", "interpolate.linear",
)


def _check_stage_order(
    head: str,
    stage: str,
    terminal: bool,
    time_rewritten: bool,
    row_only: tuple[str, ...] = _ROW_ONLY_HEADS,
    subset: str = "the shipped subset",
) -> None:
    """The stage-order rules both compilers enforce: a raw-row stage
    (``row_only``) after a terminal stage, and ``range()`` after a
    row-level ``_time`` rewrite — the scan's pushed bounds filter
    STORED timestamps, so after timeShift/truncateTimeColumn they would
    filter rewritten ones. Both raise rather than mis-compile."""
    if terminal and head in row_only:
        raise FluxError(
            f"{head}() after an aggregation/transform stage is outside "
            f"{subset} (it would act on raw rows): {stage!r}"
        )
    if head == "range" and time_rewritten:
        raise FluxError(
            "range() after a time-rewriting stage (timeShift/"
            "truncateTimeColumn) is outside the shipped subset (the "
            f"pushed bounds would filter shifted timestamps): {stage!r}"
        )


def _no_extra(a: dict[str, str], allowed: set[str], where: str) -> None:
    extra = set(a) - allowed
    if extra:
        raise FluxError(f"{where}: unsupported args {sorted(extra)}")


def _dur_arg(
    a: dict[str, str],
    key: str,
    params: dict[str, Any],
    where: str,
    default: str | None = None,
    positive: bool = True,
) -> int:
    """A fixed-duration argument in seconds (``default`` when absent)."""
    v = _resolve(a[key], params) if key in a else default
    if not (isinstance(v, str) and _DUR_RE.match(v)):
        raise FluxError(f"{where} {key}: bad duration {v!r}")
    secs = _duration_seconds(v)
    if positive and secs <= 0:
        raise FluxError(f"{where} {key} must be > 0: {v!r}")
    return secs


def _int_arg(
    a: dict[str, str], key: str, params: dict[str, Any], where: str
) -> int:
    """A positive int argument (absent counts as invalid)."""
    n = _resolve(a[key], params) if key in a else None
    if not isinstance(n, int) or isinstance(n, bool) or n < 1:
        raise FluxError(f"{where} {key}: positive int required, got {n!r}")
    return n


def _bool_arg(
    a: dict[str, str], key: str, params: dict[str, Any], where: str
) -> bool:
    """A boolean argument, false when absent."""
    v = _resolve(a[key], params) if key in a else False
    if not isinstance(v, bool):
        raise FluxError(f"{where} {key}: expected a boolean, got {v!r}")
    return v


def _shift_time(col: str, seconds: int) -> Column:
    """A timestamp column moved by whole seconds, in integer µs."""
    return F.timestamp_micros(
        F.unix_micros(col) + F.lit(seconds * 1_000_000)
    )


def _parse_range(
    stage: str,
    params: dict[str, Any],
    now: str | None,
    start: str | None,
    stop: str | None,
) -> tuple[str | None, str | None]:
    """``range(start:, stop:)`` → the scan bounds; a bound the stage
    omits keeps its previous value."""
    a = _args(stage, "range")
    if "start" in a:
        start = _resolve_bound(a["start"], params, now, "range")
    if "stop" in a:
        stop = _resolve_bound(a["stop"], params, now, "range")
    return start, stop


def _row_filter(
    toks: list[str], natural_key: list[str], params: dict[str, Any]
) -> Column:
    """A pre-aggregate (raw-row) filter predicate. References validate
    against the STORE's record columns first: a predicate on a column
    the store does not carry raises a FluxError naming it, not a Spark
    analysis error downstream."""
    _validate_refs(
        toks, {*natural_key, "_time", "_value", "tags", "_date"}, "filter"
    )
    return _parse_pred(toks, params)


def _parse_map(stage: str) -> str:
    """``map(fn: (r) => ({ r with _value: <arith> }))`` → the arith
    source. The subset ships the _value-rewrite record-extension form
    only (rewriting _time/_field would change table keys and window
    semantics — raise rather than mis-compile)."""
    a = _args(stage, "map")
    if "fn" not in a:
        raise FluxError("map requires fn: (r) => ({ r with ... })")
    _no_extra(a, {"fn"}, "map")
    m = _MAP_FN_RE.match(a["fn"].strip())
    if not m:
        raise FluxError(
            "map ships only fn: (r) => ({ r with _value: <arith> })"
            f"; got {a['fn']!r}"
        )
    target = m.group(1).strip('"')
    if target != "_value":
        raise FluxError(
            f"map ships only the _value rewrite; got {target!r} "
            "(rewriting keys/time would change table semantics)"
        )
    return m.group(2)


def _row_map(src: str, params: dict[str, Any]) -> Column:
    """The pre-aggregate ``_value`` rewrite, NULL-preserving:
    arithmetic already propagates null, but greatest/least and
    when/otherwise (math.mMax, if/then/else) would turn a NULL _value
    into a non-null constant BEFORE the shared null policy filters it —
    diverging from the oracles' WHERE value IS NOT NULL and
    over-counting n. A null input stays null through map."""
    mapped = _parse_arith(src, params)
    return F.when(
        F.col("_value").isNull(), F.lit(None).cast("double")
    ).otherwise(mapped)


def _parse_time_shift(stage: str, params: dict[str, Any]) -> int:
    """``timeShift(duration:, [columns:])`` → the shift in seconds.
    The shipped ``columns:`` shape is the default (or an explicit
    ``["_time"]`` — this store materializes no ``_start``/``_stop``
    columns to shift)."""
    a = _args(stage, "timeShift")
    if "duration" not in a:
        raise FluxError("timeShift requires duration:")
    shift_s = _dur_arg(a, "duration", params, "timeShift", positive=False)
    if "columns" in a and _str_list(
        a["columns"], "timeShift columns"
    ) not in (["_time"], ["_start", "_stop", "_time"]):
        raise FluxError(
            "timeShift ships the default columns: — every of "
            "_start/_stop/_time present in the frame shifts together; "
            f"got {stage!r}"
        )
    _no_extra(a, {"duration", "columns"}, "timeShift")
    return shift_s


def _parse_quantile(stage: str, params: dict[str, Any], where: str) -> float:
    """``quantile(q:, [method:])`` → q. Compiled as the EXACT selector
    (Flux's exact_selector); the default estimate_tdigest asks for an
    estimate, which an exact answer satisfies, so both compile;
    exact_mean has DIFFERENT defined semantics and raises."""
    a = _args(stage, "quantile")
    if "q" not in a:
        raise FluxError(f"{where} requires q:")
    qv = _resolve(a["q"], params)
    if isinstance(qv, bool) or not isinstance(qv, (int, float)) or not (
        0 < float(qv) <= 1
    ):
        raise FluxError(f"quantile q: expected a number in (0, 1], got {qv!r}")
    method = _resolve(a["method"], params) if "method" in a else "exact_selector"
    if method not in ("exact_selector", "estimate_tdigest"):
        raise FluxError(
            "quantile ships the exact_selector method (also answering "
            f"estimate_tdigest exactly); got method {method!r}"
        )
    _no_extra(a, {"q", "method"}, "quantile")
    return float(qv)


def _parse_aggregate_window(
    stage: str, params: dict[str, Any]
) -> tuple[tuple, str]:
    """``aggregateWindow(...)`` → ``((every_s, fn, create_empty, q,
    period_s, offset_s), time_src)``. ``every_s`` is "month"/"year"
    for the calendar strides ``1mo``/``1y`` (date_trunc buckets — only
    the 1-unit anchors ship); ``q`` is the quantile of the windowed
    quantile lambda; ``period_s`` is None unless the window slides
    (period a positive multiple of every — Spark's F.window slide
    semantics 1:1); ``offset_s`` is normalized into [0, every).
    createEmpty / fn: mode|quantile do not compose with the sliding,
    offset or calendar forms (gap_fill is tumbling-only; mode's
    epoch-floor grouping can't explode rows).

    ``time_src`` is the window label source: "_start" is this engine's
    pinned convention; "_stop" is UPSTREAM'S DEFAULT (the label becomes
    the window end), so a pasted dashboard query with an explicit
    timeSrc: "_stop" replays. Calendar windows raise on it (a month's
    end is not a fixed shift); "_time" (the last raw timestamp) is not
    a label this order-insensitive frame contract can produce."""
    a = _args(stage, "aggregateWindow")
    every = _resolve(a.get("every", ""), params)
    calendar = None
    if isinstance(every, str) and every in ("1mo", "1y"):
        calendar = "month" if every == "1mo" else "year"
    elif not (isinstance(every, str) and _DUR_RE.match(every)):
        raise FluxError(f"aggregateWindow every: bad duration {every!r}")
    fn = a.get("fn", "mean").strip()
    q = None
    lm = re.match(
        r"^\(\s*column\s*,\s*tables\s*=\s*<-\s*\)\s*=>\s*tables\s*"
        r"\|>\s*(quantile\s*\(.*\))\s*$",
        fn,
        re.DOTALL,
    )
    if lm:
        # the WINDOWED QUANTILE lambda (round 11b) — upstream's
        # documented idiom for parameterized aggregateWindow fns: the
        # p99-per-window latency panel, same semantics and rank
        # convention as the bare quantile() stage
        q = _parse_quantile(
            lm.group(1).strip(), params, "aggregateWindow quantile"
        )
        fn = "quantile"
    elif fn not in _AGG_FNS:
        raise FluxError(f"unsupported aggregateWindow fn {fn!r}")
    ce_raw = _resolve(a.get("createEmpty", "false"), params)
    # explicit boolean mapping: bool("false") is True, so a
    # quoted/template-substituted "false" must not gap-fill
    if isinstance(ce_raw, bool):
        create_empty = ce_raw
    elif isinstance(ce_raw, str) and ce_raw.lower() in ("true", "false"):
        create_empty = ce_raw.lower() == "true"
    else:
        raise FluxError(f"createEmpty: expected a boolean, got {ce_raw!r}")
    compose_err = (
        "aggregateWindow: period:/offset: do not compose with calendar "
        "every: (1mo/1y) in the subset"
    )
    if calendar is not None and "period" in a:
        # refused before the value parses: a calendar period (2mo) is
        # not even a duration token
        raise FluxError(compose_err)
    period_s = (
        _dur_arg(a, "period", params, "aggregateWindow", positive=False)
        if "period" in a
        else None
    )
    offset_s = (
        _dur_arg(a, "offset", params, "aggregateWindow", positive=False)
        if "offset" in a
        else 0
    )
    time_src = "_start"
    if "timeSrc" in a:
        time_src = _resolve(a["timeSrc"], params)
        if time_src not in ("_start", "_stop"):
            raise FluxError(
                'aggregateWindow timeSrc: ships "_start" (the '
                'engine convention) or "_stop" (upstream\'s '
                f"default label); got {time_src!r}"
            )
    _no_extra(
        a,
        {"every", "fn", "createEmpty", "period", "offset", "timeSrc"},
        "aggregateWindow",
    )
    if calendar is not None:
        if offset_s:
            raise FluxError(compose_err)
        if time_src == "_stop":
            raise FluxError(
                'timeSrc: "_stop" with calendar every: (1mo/1y) '
                "is outside the subset (a month's end is not a "
                "fixed shift)"
            )
        if create_empty:
            raise FluxError(
                "createEmpty with calendar windows is outside "
                "the shipped subset"
            )
        return (calendar, fn, False, q, None, 0), time_src
    every_s = _duration_seconds(every)
    if every_s <= 0:
        raise FluxError(f"aggregateWindow every must be > 0: {every!r}")
    if period_s is not None and period_s != every_s:
        if period_s <= 0 or period_s % every_s != 0:
            raise FluxError(
                "aggregateWindow period: must be a positive "
                f"multiple of every: in the subset; got {stage!r}"
            )
        if create_empty:
            raise FluxError(
                "createEmpty with sliding windows (period != "
                "every) is outside the shipped subset"
            )
        if fn in ("mode", "quantile"):
            raise FluxError(
                f"aggregateWindow fn: {fn} with period != every "
                "is outside the shipped subset"
            )
    else:
        period_s = None
    offset_s %= every_s
    if offset_s and (create_empty or fn in ("mode", "quantile")):
        raise FluxError(
            "aggregateWindow offset: composes with the plain "
            "aggregate fns only in the subset"
        )
    return (every_s, fn, create_empty, q, period_s, offset_s), time_src


def _parse_timed_moving_average(
    stage: str, params: dict[str, Any]
) -> tuple[tuple | None, tuple | None]:
    """``timedMovingAverage`` → ``(agg, None)`` for the
    WINDOWED-EMISSION form (``every:``, ``period:`` — upstream defines
    it as window(every:, period:) |> mean(), exactly the sliding
    aggregateWindow(mean) machinery, start-labeled windows), or
    ``(None, ("tma", period_s))`` for the bare trailing-frame form."""
    a = _args(stage, "timedMovingAverage")
    if "every" in a:
        every_s, period_s = _parse_tma_windowed(a, params, stage)
        return (every_s, "mean", False, None, period_s, 0), None
    period_s = _dur_arg(a, "period", params, "timedMovingAverage")
    _no_extra(a, {"period"}, "timedMovingAverage")
    return None, ("tma", period_s)


def _parse_state_pred(a: dict[str, str], head: str, params: dict[str, Any]) -> Column:
    m = re.match(r"^\(\s*r\s*\)\s*=>\s*(.*)$", a["fn"].strip(), re.DOTALL)
    if not m:
        raise FluxError(f"malformed {head} fn: {a['fn']!r}")
    return _parse_pred(_tokenize_pred(m.group(1).strip()), params)


def _parse_transform(head: str, stage: str, params: dict[str, Any]) -> tuple:
    """One of ``_SHARED_TRANSFORMS`` → the batch transform tuple:

    * the ``n:`` family (``_N_TRANSFORMS``) → ``(kind, n)``;
    * exponentialTimeMovingAverage → ``("etma", n_us)``;
    * derivative([unit:], [nonNegative:]) → ``("derivative", unit_s,
      non_negative)`` — per pair Δv ÷ (Δt/unit); nonNegative is the
      counter form (a decrease assumes the previous value was 0);
    * difference([nonNegative:], [keepFirst:], [initialZero:]) →
      ``("difference", nn, keep_first, initial_zero)`` — per-table lag
      delta, first row dropped unless kept (NULL, or 0 with
      initialZero — what increase() does internally);
    * cumulativeSum() → ``("cumsum",)``; increase() → ``("increase",)``;
    * elapsed([unit:]) → ``("elapsed", unit_s)``;
    * stateDuration(fn:, [unit:]) → ``("state_duration", pred,
      unit_s)``; stateCount(fn:) → ``("state_count", pred)``;
    * interpolate.linear(every:) → ``("interpolate", every_s)``."""
    a = _args(stage, head)
    if head in _N_TRANSFORMS:
        n = _int_arg(a, "n", params, head)
        if head == "kaufmansAMA":
            if "column" in a and _resolve(a["column"], params) != "_value":
                raise FluxError('kaufmansAMA ships column: "_value" only')
            _no_extra(a, {"n", "column"}, head)
        else:
            _no_extra(a, {"n"}, head)
        return (_N_TRANSFORMS[head], n)
    if head == "exponentialTimeMovingAverage":
        return ("etma", _parse_etma_n(a, params))
    if head == "derivative":
        unit_s = _dur_arg(a, "unit", params, head, default="1s")
        nn = _bool_arg(a, "nonNegative", params, head)
        _no_extra(a, {"unit", "nonNegative"}, head)
        return ("derivative", unit_s, nn)
    if head == "difference":
        nn = _bool_arg(a, "nonNegative", params, head)
        keep_first = _bool_arg(a, "keepFirst", params, head)
        initial_zero = _bool_arg(a, "initialZero", params, head)
        if initial_zero and not keep_first:
            raise FluxError(
                "difference initialZero: true applies to the KEPT "
                "first row — set keepFirst: true (upstream drops "
                "the first row otherwise and the zero never lands)"
            )
        _no_extra(a, {"nonNegative", "keepFirst", "initialZero"}, head)
        return ("difference", nn, keep_first, initial_zero)
    if head == "cumulativeSum":
        cols = (
            _str_list(a["columns"], "cumulativeSum columns")
            if "columns" in a
            else ["_value"]
        )
        if set(a) - {"columns"} or cols != ["_value"]:
            raise FluxError(
                "cumulativeSum ships only columns: [\"_value\"] "
                f"(the default); got {stage!r}"
            )
        return ("cumsum",)
    if head == "increase":
        if a:
            raise FluxError(
                f"increase() takes no arguments in the subset: {stage!r}"
            )
        return ("increase",)
    if head == "elapsed":
        unit_s = _dur_arg(a, "unit", params, head, default="1s")
        _no_extra(a, {"unit"}, head)
        return ("elapsed", unit_s)
    if head == "stateDuration":
        if "fn" not in a:
            raise FluxError("stateDuration requires fn: (r) => predicate")
        unit_s = _dur_arg(a, "unit", params, head, default="1s")
        _no_extra(a, {"fn", "unit"}, head)
        return ("state_duration", _parse_state_pred(a, head, params), unit_s)
    if head == "stateCount":
        if "fn" not in a:
            raise FluxError("stateCount requires fn: (r) => predicate")
        _no_extra(a, {"fn"}, head)
        return ("state_count", _parse_state_pred(a, head, params))
    # interpolate.linear
    if "every" not in a:
        raise FluxError("interpolate.linear requires every:")
    ev = _resolve(a["every"], params)
    if (
        not (isinstance(ev, str) and _DUR_RE.match(ev))
        or _duration_seconds(ev) <= 0
    ):
        raise FluxError(f"interpolate.linear every: bad duration {ev!r}")
    _no_extra(a, {"every"}, head)
    return ("interpolate", _duration_seconds(ev))


def _parse_fill(stage: str, params: dict[str, Any]) -> tuple[str, str, Any]:
    """``fill(column:, value: X)`` / ``fill(column:, usePrevious:
    true)`` → ``(column, "value" | "previous", value)`` — the Grafana
    null-fill panel option; exactly one fill mode."""
    a = _args(stage, "fill")
    col = _resolve(a["column"], params) if "column" in a else "_value"
    if not isinstance(col, str):
        raise FluxError(f"fill column: expected a string, got {col!r}")
    _no_extra(a, {"column", "value", "usePrevious"}, "fill")
    up = _bool_arg(a, "usePrevious", params, "fill")
    if ("value" in a) == up:
        raise FluxError(
            "fill needs exactly one of value: or usePrevious: true"
        )
    if up:
        return col, "previous", None
    return col, "value", _resolve(a["value"], params)


def _parse_columns(head: str, stage: str) -> list[str]:
    """``keep``/``drop(columns: [...])`` → the (non-empty) column list."""
    a = _args(stage, head)
    if "columns" not in a:
        raise FluxError(f"{head} requires columns:")
    cols = _str_list(a["columns"], f"{head} columns")
    if not cols:
        raise FluxError(f"{head}: columns list is empty")
    _no_extra(a, {"columns"}, head)
    return cols


def _parse_rename(stage: str) -> dict[str, str]:
    """``rename(columns: {old: "new"})`` → the (non-empty) mapping."""
    a = _args(stage, "rename")
    if "columns" not in a:
        raise FluxError("rename requires columns: {old: \"new\"}")
    _no_extra(a, {"columns"}, "rename")
    mapping = _str_map(a["columns"], "rename columns")
    if not mapping:
        raise FluxError("rename: columns record is empty")
    return mapping


def _parse_group(
    stage: str, params: dict[str, Any], natural_key: list[str]
) -> list[str]:
    """``group(columns: [...], [mode:])`` → the new table key, in the
    store's canonical key order (deterministic output columns). The
    subset ships any subset of the store's table-key columns
    (_measurement, _field, promoted tags) — including the empty key
    (``group()``: merge all series into one table) — in the ``by`` form
    or its ``except`` complement, and raises on anything else."""
    a = _args(stage, "group")
    cols = _str_list(a.get("columns", "[]"), "group columns")
    mode = _resolve(a["mode"], params) if "mode" in a else "by"
    if (
        set(a) - {"columns", "mode"}
        or mode not in ("by", "except")
        or [c for c in cols if c not in natural_key]
        or len(cols) != len(set(cols))
    ):
        raise FluxError(
            "group ships mode: \"by\"/\"except\" over a subset of "
            f"the store's table key columns {natural_key} "
            f"(incl. the empty list — merge all series); got {stage!r}"
        )
    if mode == "except":
        return [c for c in natural_key if c not in cols]
    return [c for c in natural_key if c in cols]


def _parse_yield(stage: str, params: dict[str, Any], name: Any) -> Any:
    """``yield([name:])`` → the result name (``name`` when unnamed)."""
    a = _args(stage, "yield")
    return _resolve(a["name"], params) if "name" in a else name


def _apply_row_ops(df: DataFrame, row_ops: list[tuple[str, Any]]) -> DataFrame:
    """Apply the residual row-level stages to the scanned frame in USER
    ORDER — a _value filter after a map sees mapped values, and a
    shifted or truncated ``_time`` feeds window bucketing exactly as
    Flux's rewrite-then-aggregate order demands."""
    for kind, c in row_ops:
        if kind == "filter":
            df = df.filter(c)
        elif kind == "timeshift":
            df = df.withColumn("_time", _shift_time("_time", c))
        elif kind == "truncate":
            df = df.withColumn(
                "_time", F.timestamp_micros(_epoch_floor_us("_time", c))
            )
        elif kind == "map_time":
            # calendar truncation: an in-plan _time rewrite
            df = df.withColumn("_time", c)
        else:
            df = df.withColumn("_value", c)
    return df


def _tail_op(
    out: DataFrame,
    op: tuple[str, Any, str],
    valcol: str | None,
    params: dict[str, Any],
    table_key: list[str],
) -> DataFrame:
    """Apply one tail stage ``(kind, arg, stage)`` — filter / map /
    fill / keep / drop / rename / duplicate / set / timeshift — to an
    output frame. ONE definition for the batch tail and the streaming
    post-aggregate stages, so a pasted panel text shapes its frame (or
    raises) identically on both paths. ``valcol`` is the column
    ``r._value`` resolves onto in filter/map (aggregated frames name
    it after the fn or the yield name); ``table_key`` holds the
    columns fill(usePrevious:) partitions on where the frame still
    carries them. Unknown columns raise naming the frame; a streaming
    join input's window struct ``__w`` is never listed and always
    kept."""
    kind, arg, stage = op
    visible = [c for c in out.columns if c != "__w"]
    if kind == "filter":
        # row-wise predicate over the OUTPUT frame (the Grafana
        # alert/threshold shape): remap r._value onto the value column,
        # validate every reference, then a plain row filter
        toks = [
            f'r["{valcol}"]' if t in ('r["_value"]', "r._value") else t
            for t in map(_norm_ref, arg)
        ]
        missing = sorted({c for c in _ref_cols(toks) if c not in visible})
        if missing:
            raise FluxError(
                f"filter: unknown column(s) {missing}; frame has "
                f"{visible}: {stage!r}"
            )
        return out.filter(_parse_pred(toks, params))
    if kind == "map":
        return _post_value_map(out, valcol, arg, params, visible, stage)
    if kind == "set":
        return out.withColumn(arg[0], F.lit(arg[1]))
    if kind == "timeshift":
        # shift the frame's time column(s): aggregated frames carry
        # window_start, raw/transform frames _time, and a window()
        # frame _start/_stop bounds that MUST move with _time
        # (upstream's default timeShift columns)
        tcols = [
            c
            for c in ("_start", "_stop", "_time", "window_start")
            if c in out.columns
        ]
        if not tcols:
            raise FluxError(
                "timeShift needs a _time/window_start column in "
                f"the frame; frame has {out.columns}"
            )
        for c in tcols:
            out = out.withColumn(c, _shift_time(c, arg))
        return out
    named = arg if kind in ("keep", "drop", "rename") else [arg[0]]
    missing = [c for c in named if c not in visible]
    if missing:
        raise FluxError(
            f"{kind}: unknown column(s) {missing}; frame has {visible}: "
            f"{stage!r}"
        )
    if kind == "keep":
        # user-listed column order
        return out.select(*[c for c in out.columns if c == "__w"], *arg)
    if kind == "drop":
        return out.drop(*arg)
    if kind == "duplicate":
        # upstream overwrites an existing `as` target — so does
        # withColumn
        return out.withColumn(arg[1], F.col(arg[0]))
    if kind == "rename":
        vals = list(arg.values())
        clash = sorted(
            {new for new in vals if new in visible or vals.count(new) > 1}
        )
        if clash:
            # chained withColumnRenamed on a swap/collision set would
            # silently rename twice — raise instead
            raise FluxError(
                f"rename: target column(s) {clash} already exist or "
                f"collide: {stage!r}"
            )
        for old, new in arg.items():
            out = out.withColumnRenamed(old, new)
        return out
    # fill
    col, mode, value = arg
    if mode == "value":
        return out.withColumn(col, F.coalesce(F.col(col), F.lit(value)))
    # usePrevious: last non-null per table in table order. The frame
    # is an aggregated/gap-filled one (or a raw scan), so the window
    # runs over bucket-spine-sized (or pruned) rows per series —
    # bounded by range/step, not raw volume.
    from pyspark.sql import Window

    ordc = next(
        (c for c in ("_time", "window_start") if c in out.columns), None
    )
    if ordc is None:
        raise FluxError(
            "fill(usePrevious) needs a _time/window_start column to "
            "define the table order"
        )
    w = (
        Window.partitionBy(*[c for c in table_key if c in out.columns])
        .orderBy(ordc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return out.withColumn(col, F.last(col, ignorenulls=True).over(w))


def _parse_union(stage: str, known: Any) -> list[str]:
    """``union(tables: [a, b, ...])`` → the referenced names (at least
    two, each bound in ``known``)."""
    a = _args(stage, "union")
    if "tables" not in a:
        raise FluxError("union requires tables: [a, b, ...]")
    _no_extra(a, {"tables"}, "union")
    toks = a["tables"].strip()
    if not re.match(r"^\[\s*\w+(?:\s*,\s*\w+)*\s*\]$", toks):
        raise FluxError(
            f"union tables: expected [name, name, ...]; got {toks!r}"
        )
    refs = [t.strip() for t in toks[1:-1].split(",")]
    if len(refs) < 2:
        raise FluxError("union needs at least two tables")
    for ref in refs:
        if ref not in known:
            raise FluxError(
                f"union references unknown pipeline {ref!r} "
                f"(defined: {sorted(known)})"
            )
    return refs


def _union_frames(refs: list[str], frames: list[DataFrame]) -> DataFrame:
    """Bag-concat identical frames, aligned by name (exchange-free)."""
    cols0 = set(frames[0].columns)
    for ref, fr_ in zip(refs[1:], frames[1:]):
        if set(fr_.columns) != cols0:
            raise FluxError(
                f"union: pipeline {ref!r} columns "
                f"{sorted(fr_.columns)} differ from {refs[0]!r} "
                f"columns {sorted(cols0)} — the subset unions "
                "identical frames only"
            )
    out = frames[0]
    for fr_ in frames[1:]:
        out = out.unionByName(fr_)
    return out


def _parse_join(
    stage: str, params: dict[str, Any], known: Any
) -> tuple[str, str, str, str, list[str], str]:
    """``join(tables: {a: x, b: y}, on: [...], [method:])`` → ``(label
    a, ref a, label b, ref b, on, method)``. method: — Flux's universe
    join ships inner (the default); the `join` package adds
    left/right/full (missing side → null columns), 1:1 onto Spark's
    join types."""
    a = _args(stage, "join")
    if "tables" not in a or "on" not in a:
        raise FluxError(
            "join requires tables: {a: <pipeline>, b: <pipeline>} "
            "and an explicit on: [columns]"
        )
    method = _resolve(a["method"], params) if "method" in a else "inner"
    if method not in ("inner", "left", "right", "full"):
        raise FluxError(
            'join ships method: "inner" | "left" | "right" | '
            f'"full"; got {method!r}'
        )
    _no_extra(a, {"tables", "on", "method"}, "join")
    m = re.match(
        r"^\{\s*(\w+)\s*:\s*(\w+)\s*,\s*(\w+)\s*:\s*(\w+)\s*\}$",
        a["tables"].strip(),
    )
    if not m:
        raise FluxError(
            "join ships exactly two named tables "
            f"{{a: <pipeline>, b: <pipeline>}}; got {a['tables']!r}"
        )
    la, ra, lb, rb = m.groups()
    if la == lb:
        raise FluxError(f"join table labels collide: {la!r}")
    for ref in (ra, rb):
        if ref not in known:
            raise FluxError(
                f"join references unknown pipeline {ref!r} "
                f"(defined: {sorted(known)})"
            )
    on = _str_list(a["on"], "join on")
    if not on:
        raise FluxError("join on: column list is empty")
    return la, ra, lb, rb, on, method


def _join_frames(
    dfa: DataFrame, dfb: DataFrame, la: str, lb: str, on: list[str], how: str
) -> DataFrame:
    """Join two frames on ``on``; conflicting non-key columns get the
    ``_<label>`` suffix, exactly as upstream join does."""
    for label, d in ((la, dfa), (lb, dfb)):
        missing = [c for c in on if c not in d.columns]
        if missing:
            raise FluxError(
                f"join on column(s) {missing} missing from table "
                f"{label!r} (frame has {d.columns})"
            )
    for c in sorted((set(dfa.columns) & set(dfb.columns)) - set(on)):
        dfa = dfa.withColumnRenamed(c, f"{c}_{la}")
        dfb = dfb.withColumnRenamed(c, f"{c}_{lb}")
    return dfa.join(dfb, on=on, how=how)


def _compile_schema_query(
    spark: SparkSession,
    body: str,
    bucket_paths: dict[str, str],
    params: dict[str, Any],
    now: str | None = None,
) -> DataFrame:
    """Compile a Grafana variable query — the full upstream schema
    family: ``fieldKeys`` / ``measurements`` / ``tagKeys`` /
    ``tagValues(tag:)`` plus the measurement-scoped sugar
    ``measurementFieldKeys`` / ``measurementTagKeys`` /
    ``measurementTagValues`` (``measurement:`` required) — each
    returning the distinct key set as a one-column ``_value`` frame
    (the column Grafana reads dropdown options from). All accept
    ``start:``/``stop:`` bounds (explicit only — upstream defaults
    start to wall-clock −30d, which would break replayability; same
    rule as range()); the plain forms accept ``predicate: (r) => …``,
    the Grafana filtered-dropdown shape, validated against the store's
    record columns.

    Scale shape: ``measurements`` reads only the partition column
    (`_measurement` is a directory name — the scan's ReadSchema is
    empty, no parquet pages); ``fieldKeys`` is a single-column
    dictionary-encoded scan (and the field-clustered layout keeps it
    one tiny column chunk per file); ``measurement``/bounds prune
    partitions exactly like a pipeline's from |> range |> filter
    prefix; ``tagValues`` on a promoted tag is one dictionary-encoded
    column scan; ``tagKeys`` explodes the tag map's keys (promoted
    keys are driver-side metadata on an unfiltered store, an in-row
    stack over the pruned scan under filters). An optional trailing
    ``yield`` is accepted; any other piped stage raises (variable
    queries are standalone)."""
    from .sources import bucket as bkt

    stages = _split_stages(body, require_from=False)
    for extra_stage in stages[1:]:
        if extra_stage.split("(", 1)[0].strip() != "yield":
            raise FluxError(
                f"schema queries take no pipeline stages: {extra_stage!r}"
            )
    m = re.match(
        r"^schema\.(fieldKeys|measurements|tagKeys|tagValues|"
        r"measurementFieldKeys|measurementTagKeys|measurementTagValues)"
        r"\s*\((.*)\)\s*$",
        stages[0].strip(),
        re.DOTALL,
    )
    if not m:
        raise FluxError(f"unsupported schema query: {stages[0]!r}")
    fn, inner = m.group(1), m.group(2)
    a = _args(f"schema.{fn}({inner})", re.escape(f"schema.{fn}"))
    if "bucket" not in a:
        raise FluxError(f"schema.{fn} requires bucket:")
    # upstream schema.* signatures: every function takes start:/stop:
    # (upstream DEFAULTS start to -30d off the wall clock — the subset
    # takes explicit bounds only, same replayability rule as range());
    # the plain forms take predicate: (the Grafana filtered-dropdown
    # shape); the measurement* forms take measurement: sugar instead.
    allowed = {"bucket", "start", "stop"}
    if fn in ("fieldKeys", "tagKeys", "tagValues"):
        allowed.add("predicate")
    if fn in (
        "measurementFieldKeys", "measurementTagKeys", "measurementTagValues"
    ):
        allowed.add("measurement")
        if "measurement" not in a:
            raise FluxError(f"schema.{fn} requires measurement:")
    if fn in ("tagValues", "measurementTagValues"):
        allowed.add("tag")
    _no_extra(a, allowed, f"schema.{fn}")
    bucket_name = _resolve(a["bucket"], params)
    if bucket_name not in bucket_paths:
        raise FluxError(f"unknown bucket {bucket_name!r}")
    df = bkt.read_bucket(spark, bucket_paths[bucket_name])

    measurement = None
    if "measurement" in a:
        measurement = _resolve(a["measurement"], params)
        if not isinstance(measurement, str):
            raise FluxError(
                f"schema.{fn} measurement: expected a string, got "
                f"{measurement!r}"
            )

    # measurement + time bounds push into the scan exactly like a
    # pipeline's from |> range |> filter prefix (partition pruning)
    df = bkt.scan(
        df,
        measurement=measurement,
        start=(
            _resolve_bound(a["start"], params, now, f"schema.{fn} start")
            if "start" in a
            else None
        ),
        stop=(
            _resolve_bound(a["stop"], params, now, f"schema.{fn} stop")
            if "stop" in a
            else None
        ),
    )
    if "predicate" in a:
        pm = re.match(
            r"^\(\s*r\s*\)\s*=>\s*(.*)$", a["predicate"].strip(), re.DOTALL
        )
        if not pm:
            raise FluxError(
                f"schema.{fn} predicate: expected (r) => <predicate>; got "
                f"{a['predicate']!r}"
            )
        toks = _tokenize_pred(pm.group(1).strip())
        _validate_refs(
            toks,
            set(df.columns) | set(bkt.BUCKET_COLS),
            f"schema.{fn} predicate",
        )
        df = df.filter(_parse_pred(toks, params))
    if fn == "measurements":
        out = df.select(F.col("_measurement").alias("_value"))
    elif fn in ("fieldKeys", "measurementFieldKeys"):
        out = df.select(F.col("_field").alias("_value"))
    elif fn in ("tagValues", "measurementTagValues"):
        if "tag" not in a:
            raise FluxError(f"schema.{fn} requires tag:")
        tag = _resolve(a["tag"], params)
        if not isinstance(tag, str):
            raise FluxError(f"schema.{fn} tag: expected a string, got {tag!r}")
        if tag in bkt.tag_columns(df):
            # promoted tag column: a single dictionary-encoded column
            # scan with partial (map-side) distinct — never a map
            # traversal over every row
            out = df.select(F.col(tag).alias("_value")).filter(
                F.col("_value").isNotNull()
            )
        else:
            out = df.select(
                F.element_at(F.col("tags"), F.lit(tag)).alias("_value")
            ).filter(F.col("_value").isNotNull())
    else:  # tagKeys / measurementTagKeys — on an UNfiltered store the
        # promoted tag columns are schema metadata (a driver-side
        # constant list, no scan); under measurement/predicate/range
        # filters a promoted key is listed only when the filtered
        # frame holds a non-null value for it (upstream: keys of the
        # MATCHING series) — one in-row stack over the already-pruned
        # scan. The map explode covers stores with map-only tags; the
        # reference's own store writes zero tags (SURVEY §1.1) and
        # returns the empty set.
        promoted = bkt.tag_columns(df)
        out = df.select(
            F.explode(F.map_keys(F.col("tags"))).alias("_value")
        )
        if promoted:
            filtered = bool(
                {"predicate", "start", "stop", "measurement"} & set(a)
            )
            if filtered:
                pairs = ", ".join(f"'{c}', `{c}`" for c in promoted)
                out = out.unionByName(
                    df.selectExpr(
                        f"stack({len(promoted)}, {pairs}) AS (_value, __v)"
                    )
                    .filter(F.col("__v").isNotNull())
                    .select("_value")
                )
            else:
                out = out.unionByName(
                    spark.createDataFrame(
                        [(c,) for c in promoted], "_value string"
                    )
                )
    return out.distinct()


def compile_flux(
    spark: SparkSession,
    flux: str,
    bucket_paths: dict[str, str],
    params: dict[str, Any] | None = None,
    now: str | None = None,
) -> DataFrame:
    """Compile a Flux pipeline (the reference's dashboard subset) into a
    DataFrame over the named bucket stores.

    ``bucket_paths`` maps Flux bucket names to store paths (the
    InfluxDB "bucket" is our partitioned parquet store);``params``
    resolves dashboard variables (``v.windowPeriod`` → "5m",
    ``${Resistances}`` → a field label). Relative range bounds (-7d)
    are anchored at ``now`` (RFC3339; required only when used —
    wall-clock defaults would break replayability)."""
    params = dict(params or {})
    # Grafana VARIABLE queries (the dropdowns dashboards are built on —
    # the reference's ${Resistances} variable is defined by exactly
    # this shape): `import "influxdata/influxdb/schema"` followed by a
    # schema.* call. Handled before the pipeline grammar.
    body = _strip_imports(flux)
    if re.match(r"^\s*schema\.", body.lstrip()):
        return _compile_schema_query(spark, body, bucket_paths, params, now)
    stmts = _split_statements(body)
    if len(stmts) == 1 and stmts[0][0] is None:
        pipe, to_path, src_path = _strip_to(stmts[0][1], bucket_paths, params)
        out = _compile_pipeline(spark, pipe, bucket_paths, params, now)
        if to_path is not None:
            return _write_to_bucket(spark, out, to_path, src_path)
        return out
    # MULTI-STATEMENT form (round 10): named from-pipelines feeding one
    # final join()/union() — the Grafana period-comparison overlay
    # (`a = from |> … |> timeShift |> …; join(tables: {a:, b:}, …)`).
    # Round 12 adds NESTED combiners: an assignment may bind a
    # combiner of earlier names, so the final expression can join a
    # union (or union joins) — still exactly ONE unnamed result.
    env: dict[str, DataFrame] = {}
    final: str | None = None
    for nm, text in stmts:
        if nm is not None:
            body_ = text.lstrip()
            head = body_.split("(", 1)[0].strip()
            if body_.startswith("from"):
                env[nm] = _compile_pipeline(
                    spark, text, bucket_paths, params, now
                )
            elif head in ("join", "union", "cov", "pearsonr"):
                # NESTED combiners (round 12, VERDICT r11 item 5): a
                # named pipeline may BE a combiner result — the
                # three-series overlay math a dashboard composes
                # (join of a union, union of two joins). References
                # must already be bound (top-down evaluation, no
                # forward references), so depth is the script's own
                # assignment order. Scale shape: the nesting adds NO
                # exchange of its own — each constituent combiner
                # costs exactly the exchanges it costs standalone
                # (union stays a bag concat; join shuffles on its on:
                # key) — plan-pinned in tests/test_plans.py.
                env[nm] = _compile_combiner(spark, text, env, params)
            else:
                raise FluxError(
                    f"assignment {nm!r} must bind a from() pipeline or "
                    "a join()/union()/cov()/pearsonr() combiner of "
                    f"earlier names; got {body_[:40]!r}"
                )
        else:
            if final is not None:
                raise FluxError(
                    "the subset ships exactly ONE result expression "
                    "(join/union) after the named pipelines"
                )
            final = text
    if final is None:
        raise FluxError(
            "multi-statement Flux needs a final join()/union()/"
            "pearsonr() result expression (a dangling assignment "
            "yields nothing)"
        )
    return _compile_combiner(spark, final, env, params)


def _strip_imports(flux: str) -> str:
    """Drop the shipped stage namespaces' import lines (schema.*
    variable queries, interpolate.linear, events.duration) — grammar
    noise once the stage itself is recognized. ONE implementation for
    every entry point (compile_flux / compile_flux_stream /
    start_flux_task — review r11b: the task entry point forgot the
    strip and rejected any script with an import header)."""
    return re.sub(
        r'^\s*import\s+"(influxdata/influxdb/schema|interpolate|'
        r'contrib/tomhollingworth/events)"\s*$',
        "",
        flux,
        flags=re.MULTILINE,
    )


def _plain_agg_expr(fn: str) -> Column:
    """The nine incremental (map-side-combinable) aggregate value
    expressions, shared VERBATIM by the batch window path and
    ``compile_flux_stream`` — one definition, so the pinned
    streaming==batch equality cannot drift (review r11b; bit-exact
    for all but stddev's order-sensitive moment merge).

    ``first``/``last`` (round 12 — the live stat-panel gauge) are the
    selector pair: a (time, value) extremum struct folded by
    min_by/max_by, whose merge is an associative max — exactly as
    incremental as min/max, so streaming append mode runs them with
    bounded per-window state."""
    if fn == "mean":
        return F.sum(_dec("_value")).cast("double") / F.count(F.lit(1))
    if fn == "sum":
        return F.sum(_dec("_value")).cast("double")
    if fn == "count":
        return F.count(F.lit(1)).cast("long")
    if fn == "min":
        return F.min("_value")
    if fn == "max":
        return F.max("_value")
    if fn == "first":  # earliest _time wins, value tie-break
        return F.min_by("_value", F.struct(F.col("_time"), F.col("_value")))
    if fn == "last":  # greatest _time wins, value tie-break
        return F.max_by("_value", F.struct(F.col("_time"), F.col("_value")))
    if fn == "stddev":
        # Flux stddev() default mode "sample" — central-moment merge
        # aggregation (map-side combinable, bounded state); NULL for a
        # single-point window, exactly as Flux yields no value.
        # Round 12d: joined the shared set so the live variability
        # panel streams; the moment MERGE ORDER differs between
        # partition layouts, so cross-path equality is to float
        # tolerance, not bit-exact (the one non-bit-exact member —
        # documented in the streaming==batch test)
        return F.stddev_samp("_value")
    if fn == "spread":
        # max − min — two map-side-combinable extrema, exact on the
        # store's doubles (round 12d: streams with the selector pair)
        return F.max("_value") - F.min("_value")
    raise FluxError(f"no incremental aggregate expression for {fn!r}")


def compile_flux_stream(
    spark: SparkSession,
    flux: str,
    bucket_paths: dict[str, str],
    params: dict[str, Any] | None = None,
    now: str | None = None,
    watermark: str = "1 day",
) -> DataFrame:
    """The LIVE-PANEL form of ``compile_flux`` (round 11b): the same
    dashboard text compiled onto a FILE-ARRIVAL STREAM over the bucket
    store — a Grafana panel's auto-refresh loop as ONE Structured
    Streaming query instead of repeated batch queries. New files landed
    by the ingest stream (``start_bucket_ingest`` / the idempotent
    writers) are picked up incrementally; windowed aggregates emit
    exactly once per window in append mode when the ``watermark``
    passes the window end (the reference's unit of arrival is a whole
    day file, so the 1-day default finalizes yesterday's windows on
    today's arrival).

    Every stage parses with the batch compiler's own parser, so a text
    this entry point accepts also compiles under ``compile_flux``, and
    a malformed stage raises the same FluxError on both paths; only the
    streaming rules below refuse more.

    STREAMING subset — the dashboard pipeline shapes Structured
    Streaming can run incrementally: ``from |> range |> filter* |>
    aggregateWindow(every:, fn: mean/count/sum/min/max/first/last/
    stddev/spread[, period:][, offset:][, createEmpty: false])
    [|> filter(...)] [|> yield]``, or the same prefix with NO
    aggregation (a raw live-table panel). ``period:``/``offset:`` (round 12d) are the
    SLIDING and alignment-shifted live panels — the batch compiler's
    own ``F.window(period, every, startTime)`` struct under the
    watermark, finalized per overlapping window in append mode.
    Post-aggregate ``keep``/``drop``/``rename`` (round 12d) are the
    display-shaping projections; their PRE-aggregate forms raise
    (re-keying is ``group()``'s job). The
    post-aggregate ``filter`` (round 12c) is the LIVE ALERT — the
    Grafana threshold panel as a stateless row filter over the
    append-mode aggregate output, with the batch postfilter's own
    r._value→value-column remap. ``fn: last`` is the live
    stat-panel GAUGE (round 12 — the reference dashboard's two gauge
    panels): the windowed latest record as an append-mode max_by
    selector under the watermark. The VALUE-SERIES transforms
    ``derivative/difference/cumulativeSum/increase`` (round 12) stream
    as keyed state — one (last time, last value, accumulators) tuple
    per series — under a pinned arrival contract (strictly-increasing
    per-series event time across micro-batches; late rows drop, the
    batch compiler is the replay path), bit-identical to the batch
    forms; a transform is the TERMINAL stage of its pipeline. The
    EMA-class smoothers and indicators ``exponentialMovingAverage`` /
    ``exponentialTimeMovingAverage`` / ``doubleEMA`` / ``tripleEMA`` /
    ``relativeStrengthIndex`` / ``tripleExponentialDerivative``
    (round 13) stream the same way — a FIXED per-series state tuple
    (chained fold slots + one lag value), emitting the batch kernels'
    exact expression trees under the same arrival contract — and
    ``timedMovingAverage(every:, period:)`` (round 13) rewrites onto
    the sliding-aggregateWindow path it is upstream sugar for (the
    bare trailing-frame form raises naming the batch path), and the
    round-14 bounded-state members stream: ``kaufmansAMA`` /
    ``movingAverage`` / ``chandeMomentumOscillator`` / ``kaufmansER``
    on BOUNDED-list state (trailing n or n+1 values — O(1) in the
    stream length), ``elapsed`` and ``interpolate.linear`` on one lag
    (the gap-filled live chart: in-gap marks are emitted VOLUME, not
    state), ``stateDuration`` / ``stateCount`` on a fixed run tuple
    (predicate pre-compiled to a Catalyst projection), and
    ``fill(value:)`` as a stateless tail. CALENDAR windows
    (``every: 1mo/1y``, round 15) stream in the plain tumbling form:
    the watermark rides the ``date_trunc``'d calendar key itself, so
    append mode finalizes a month once data ≥ delay past the next
    month's start arrives — the watermark delay must be positive
    (with 0 a bucket would finalize on its own first record); the
    sliding/shifted/``timeSrc: "_stop"`` calendar compositions keep
    the batch compiler's rejections, and the calendar join overlay
    raises (the streaming join pairs state on the fixed-window
    struct) while union composes.
    Everything else raises naming the stage — state proportional to
    the stream (rank aggregates' value multisets), data-rate-dependent
    buffers (bare ``timedMovingAverage(period:)``), non-monotone
    output (``holtWinters`` — each arriving point retracts the
    previously-emitted forecast), and post-aggregate compositions are
    a batch query's job (run ``compile_flux`` on the store instead).

    MULTI-STATEMENT live panels: named pipelines feeding one final
    ``union(tables: [...])`` (exchange-free; each side keeps its own
    watermarked window state) or — round 12 — one final
    ``join(tables: {a:, b:}, on: ["window_start", ...])`` of exactly
    two WINDOWED aggregates with the same ``every`` — and (round 12d)
    a join input may itself BE a ``union`` assignment of same-spec
    windowed aggregates (the nested three-series overlay, live): Spark's
    multiple-stateful-operator support joins the two append-mode
    window states on the window struct itself, so the overlay panel
    (error rate vs click rate, period comparison) runs live. Raw-frame
    stream-stream joins (which need per-side time-range conditions)
    stay a batch query's job and raise naming it.

    The aggregate expressions are the BATCH compiler's own (exact
    decimal sums, one double division), and tumbling ``F.window``
    starts equal the batch path's epoch floor — so an emitted window
    is bit-identical to the batch result for the same range (pinned in
    tests/test_flux.py streaming==batch equality).
    """
    params = dict(params or {})
    body = _strip_imports(flux)
    stmts = _split_statements(body)
    if len(stmts) == 1 and stmts[0][0] is None:
        out, _every = _compile_stream_single(
            spark, stmts[0][1], bucket_paths, params, now, watermark
        )
        return out
    # MULTI-STATEMENT live panel: named pipelines feeding one final
    # union() or windowed join().
    texts: dict[str, str] = {}
    final: str | None = None
    for nm, text in stmts:
        if nm is not None:
            texts[nm] = text
        elif final is not None:
            raise FluxError(
                "the subset ships exactly ONE result expression "
                "(union/join) after the named pipelines"
            )
        else:
            final = text
    if final is None:
        raise FluxError(
            "multi-statement streaming Flux needs a final union()/join() "
            "result expression"
        )
    fstages = _split_stages(final, require_from=False)
    fhead = fstages[0].split("(", 1)[0].strip()
    if fhead not in ("union", "join"):
        raise FluxError(
            f"{fhead}() is outside the STREAMING combiner subset "
            "(union, or a windowed join on window_start — anything else "
            "is a batch query's job: run compile_flux instead)"
        )
    if len(fstages) > 1:
        raise FluxError(
            f"stages after the streaming {fhead}() are outside the "
            f"subset: {fstages[1]!r}"
        )

    def _single(ref: str, keep_window: bool = False):
        return _compile_stream_single(
            spark, texts[ref], bucket_paths, params, now, watermark,
            keep_window=keep_window,
        )

    if fhead == "union":
        refs = _parse_union(fstages[0], texts)
        return _union_frames(refs, [_single(r)[0] for r in refs])
    # the LIVE OVERLAY (round 12): exactly two WINDOWED aggregate
    # streams joined on the window spine — Spark joins the two
    # append-mode window states on the window STRUCT (the
    # multiple-stateful-operators path), so finalized windows pair
    # exactly once. Scale shape: state per side is (window, key)
    # partial aggregates — the same state the union form keeps — plus
    # the join's window-keyed buffers, all pruned as the watermark
    # passes; nothing buffers raw rows.
    la, ra, lb, rb, on, method = _parse_join(fstages[0], params, texts)
    if method != "inner":
        raise FluxError(
            "streaming join ships method: \"inner\" only (outer "
            "emission timing under two watermarked states is a "
            "batch query's job)"
        )
    if "window_start" not in on:
        raise FluxError(
            'streaming join on: must include "window_start" — the '
            "live overlay joins finalized windows (a raw-frame "
            "stream-stream join is a batch query's job: run "
            "compile_flux instead)"
        )

    def _join_side(ref: str):
        # round 12d: a join input may BE a union assignment (the
        # streaming nested overlay — the batch nested combiner's live
        # form: two windowed series unioned, the union joined against
        # a third). The union is STATELESS, so Spark's
        # multiple-stateful-operator path joins the concatenated
        # append-mode window states exactly as it joins a single one;
        # one nesting level only, and every member must be a windowed
        # aggregate with the IDENTICAL window spec (the union's
        # watermark is the min of its members' — equal specs keep
        # finalization aligned).
        text = texts[ref].lstrip()
        if not text.startswith("union"):
            return _single(ref, keep_window=True)
        ustages = _split_stages(text, require_from=False)
        if len(ustages) > 1:
            raise FluxError(
                f"stages after the nested union in {ref!r} are "
                f"outside the subset: {ustages[1]!r}"
            )
        urefs = _parse_union(ustages[0], texts)
        for un in urefs:
            if texts[un].lstrip().startswith("union"):
                raise FluxError(
                    "nested unions nest ONE level in the streaming "
                    f"subset ({un!r} is itself a union)"
                )
        members = [_single(un, keep_window=True) for un in urefs]
        specs = {sp for _f, sp in members}
        if None in specs or len(specs) != 1:
            raise FluxError(
                f"nested union {ref!r}: every member must be a "
                "windowed aggregate with the IDENTICAL (every, "
                f"period, offset) spec; got {sorted(map(str, specs))}"
            )
        return _union_frames(urefs, [f for f, _sp in members]), specs.pop()

    dfa, ea = _join_side(ra)
    dfb, eb = _join_side(rb)
    for label, ref, ev in ((la, ra, ea), (lb, rb, eb)):
        if ev is None:
            raise FluxError(
                f"streaming join input {ref!r} ({label}) has no "
                "aggregateWindow — the live overlay joins WINDOWED "
                "aggregates only"
            )
    if ea != eb:
        # the spec triple (every, period, offset) — mismatched
        # sliding/offset forms produce window structs that never
        # pair, so refuse up front rather than emit an empty join
        raise FluxError(
            f"streaming join window specs differ ({ea} vs {eb}; "
            "(every, period, offset) seconds) — windows must align "
            "to pair"
        )
    # the join keys on the window STRUCT itself (the event-time
    # watermark rides through it) plus the other on: columns
    joined = _join_frames(
        dfa, dfb, la, lb, ["__w", *[c for c in on if c != "window_start"]],
        "inner",
    )
    rest = [c for c in joined.columns if c != "__w"]
    return joined.select(F.col("__w.start").alias("window_start"), *rest)


#: the streaming aggregateWindow fns: incremental, map-side-combinable
#: state (median/quantile/mode buffer every window value — rank
#: aggregates have no bounded merge form)
_STREAM_AGG_FNS = (
    "mean", "count", "sum", "min", "max", "first", "last", "stddev",
    "spread",
)

#: stages a live pipeline runs only BEFORE its aggregateWindow: a
#: second window, or a keyed-state transform over finalized windows
_STREAM_PRE_AGG = ("aggregateWindow", "timedMovingAverage", *_SHARED_TRANSFORMS)


def _compile_stream_single(
    spark: SparkSession,
    body: str,
    bucket_paths: dict[str, str],
    params: dict[str, Any],
    now: str | None,
    watermark: str,
    keep_window: bool = False,
) -> tuple[DataFrame, tuple[int, int | None, int] | None]:
    """Compile ONE streaming from-pipeline (the single-statement body
    of ``compile_flux_stream``); returns (frame, window spec) where
    the spec is ``(every_s, period_s|None, offset_s)`` for a windowed
    aggregate and ``None`` for raw/value-series frames — the join path
    compares full specs so mismatched sliding/offset forms refuse to
    pair.
    ``keep_window`` keeps the aggregate's window STRUCT as ``__w``
    instead of projecting ``window_start`` — the streaming join needs
    the struct itself as the join key (Spark's multiple-stateful-
    operator window join propagates the event-time watermark through
    it).

    Every stage parses through the batch compiler's own parsers; what
    stays here is streaming-only: the incremental fn set, no
    createEmpty, no fill(usePrevious:), the pre-/post-aggregate
    placement rules, the terminal keyed-state rule and calendar
    watermarks."""
    from .streaming import stateful as sf

    stages = _split_stages(body)
    fr = _args(stages[0], "from")
    if "bucket" not in fr:
        raise FluxError("from() requires bucket:")
    bucket_name = _resolve(fr["bucket"], params)
    if bucket_name not in bucket_paths:
        raise FluxError(f"unknown bucket {bucket_name!r}")
    path = bucket_paths[bucket_name]

    store_tag_cols = bkt._store_tag_cols(spark, path)
    natural_key = ["_measurement", "_field", *store_tag_cols]
    # the stream source needs an explicit schema — the store's own
    # (one batch-side footer read; the partition _date column rides in)
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)

    start = stop = None
    # filters / map rewrites / time shifts apply IN SCRIPT ORDER — all
    # stateless row ops, so they stream trivially (a filter after map
    # must see the rewritten value, exactly as in batch)
    row_ops: list[tuple[str, Any]] = []
    agg = None  # the batch parser's aggregateWindow tuple
    agg_timesrc = "_start"
    vs = None  # the terminal keyed-state stage: a stateful.SeriesFold
    key_cols = list(natural_key)  # group() re-keys (round 12)
    # post-aggregate tail stages, in user order: stateless row ops over
    # the append-mode aggregate output (Spark allows projections and
    # filters after a streaming aggregation) — the live alert
    # threshold, the unit-converted panel, display shaping
    post_stages: list[tuple[str, Any, str]] = []
    yield_name = None
    time_shifted = False
    for stage in stages[1:]:
        head = stage.split("(", 1)[0].strip()
        if vs is not None and head != "yield":
            # the value-series transform is the terminal STATEFUL
            # stage of a live pipeline — chaining more state (a window
            # aggregate) or more row ops behind it is a batch query's
            # job (run compile_flux on the store)
            raise FluxError(
                f"{head}() after a value-series transform is outside "
                "the STREAMING subset (the transform is the terminal "
                "stage; compose further with compile_flux on the store)"
            )
        _check_stage_order(
            head, stage, agg is not None, time_shifted,
            ("range", "group", "timeShift"), "the STREAMING subset",
        )
        if agg is not None and head in _STREAM_PRE_AGG:
            raise FluxError(
                f"{head}() after aggregateWindow is outside the "
                "STREAMING subset (transforming or re-windowing "
                "finalized windows is a batch query's job: run "
                "compile_flux on the store)"
            )
        if agg is None and head in ("fill", "keep", "drop", "rename"):
            raise FluxError(
                f"{head}() before aggregateWindow is outside the "
                "STREAMING subset (the raw live frame has a fixed "
                "shape: re-keying is group()'s job, and gaps fill in "
                "the aggregated panel)"
            )
        if head == "range":
            start, stop = _parse_range(stage, params, now, start, stop)
        elif head == "filter":
            toks = _filter_tokens(stage)
            if agg is not None:
                # the LIVE ALERT (round 12c): the batch postfilter's
                # r._value remap onto the aggregate's value column
                post_stages.append(("filter", toks, stage))
            else:
                row_ops.append(
                    ("filter", _row_filter(toks, natural_key, params))
                )
        elif head == "map":
            src = _parse_map(stage)
            if agg is not None:
                # the live unit-converted panel (round 12d)
                post_stages.append(("map", src, stage))
            else:
                row_ops.append(("map", _row_map(src, params)))
        elif head == "timeShift":
            # the period-comparison shift: pure timestamp arithmetic
            # per row, so the live overlay can join today's windows
            # against yesterday's shifted series
            row_ops.append(("timeshift", _parse_time_shift(stage, params)))
            time_shifted = True
        elif head == "aggregateWindow":
            # period:/offset: (round 12d) — Spark's streaming
            # aggregation takes the batch path's F.window(period,
            # every, startTime) struct and append mode finalizes each
            # window as the watermark passes its end; calendar strides
            # (round 15) stream too, assembled below
            agg, agg_timesrc = _parse_aggregate_window(stage, params)
            if agg[1] not in _STREAM_AGG_FNS:
                raise FluxError(
                    f"aggregateWindow fn: {agg[1]!r} is outside the "
                    "STREAMING subset (mean/count/sum/min/max/first/"
                    "last/stddev/spread — incremental, "
                    "map-side-combinable state)"
                )
            if agg[2]:
                raise FluxError(
                    "createEmpty: true is outside the streaming subset "
                    "(append mode emits observed windows)"
                )
        elif head == "timedMovingAverage":
            # round 13: the WINDOWED-EMISSION form is the sliding
            # aggregateWindow(mean) above. The bare trailing-frame form
            # buffers a TIME window of values whose size is
            # data-rate-dependent — outside the O(1)-in-stream-length
            # state contract.
            agg, tma = _parse_timed_moving_average(stage, params)
            if tma is not None:
                raise FluxError(
                    "bare timedMovingAverage(period:) is outside the "
                    "STREAMING subset (its trailing TIME window "
                    "buffers a data-rate-dependent number of values — "
                    "unbounded by any dashboard constant) — stream the "
                    "windowed-emission form timedMovingAverage(every:, "
                    "period:) or run compile_flux on the store"
                )
        elif head in _SHARED_TRANSFORMS:
            vs = _series_fold(_parse_transform(head, stage, params))
        elif head == "fill":
            fill = _parse_fill(stage, params)
            if fill[1] == "previous":
                # carrying the previous emitted value needs keyed state
                # OVER the aggregate output — a second arbitrary-
                # stateful operator downstream of a streaming
                # aggregation, which Spark does not support
                raise FluxError(
                    "fill(usePrevious: true) is outside the STREAMING "
                    "subset: carrying the previous emitted value is "
                    "keyed state over the aggregate output (not a "
                    "stateless tail) — run compile_flux on the store "
                    "for the carried-forward panel"
                )
            post_stages.append(("fill", fill, stage))
        elif head in ("keep", "drop"):
            post_stages.append((head, _parse_columns(head, stage), stage))
        elif head == "rename":
            post_stages.append(("rename", _parse_rename(stage), stage))
        elif head == "group":
            # round 12: the dashboard RE-KEY before a windowed
            # aggregate; the empty key merges all series (a
            # partial-aggregated global window, safe)
            key_cols = _parse_group(stage, params, natural_key)
        elif head == "yield":
            yield_name = _parse_yield(stage, params, yield_name)
        elif head == "to":
            raise FluxError(
                "to(bucket:) in a streaming pipeline is the TASK loop — "
                "run it with start_flux_task (compile_flux_stream returns "
                "the live frame for a panel sink)"
            )
        elif head == "holtWinters":
            # round 14 (the written rejection): the Holt recurrence
            # state is bounded, but the n forecast rows hang off the
            # stream's LAST slot, so every arriving point RETRACTS every
            # previously-emitted forecast row — append mode cannot
            # retract, and update/complete would re-emit the whole
            # forecast per micro-batch, which is exactly a batch replay
            raise FluxError(
                "holtWinters() is outside the STREAMING subset: the "
                "forecast is anchored to the stream's LAST slot, so "
                "each arriving point retracts previously-emitted "
                "forecast rows (its recurrence state is bounded — the "
                "output is what append mode cannot express). Run "
                "compile_flux on the store, or start_flux_task for "
                "the per-tick re-forecast loop."
            )
        elif head in ("last", "first"):
            # a BARE selector is an unwindowed aggregate, which append
            # mode cannot finalize (no watermark ever passes an
            # unbounded group)
            raise FluxError(
                f"bare {head}() is outside the STREAMING subset — the "
                f"live gauge is aggregateWindow(every:, fn: {head}) "
                "(append-mode selector state under the watermark; the "
                "panel reads the latest emitted window)"
            )
        else:
            raise FluxError(
                f"{head}() is outside the STREAMING subset (per-point "
                "transforms/selectors need the whole series per trigger "
                "— run compile_flux on the store instead)"
            )

    out = _apply_row_ops(bkt.scan(stream, start=start, stop=stop), row_ops)
    if vs is not None:
        if not key_cols:
            # the batch compiler's own rule: a key-less per-point
            # transform funnels every row through one state partition
            raise FluxError(
                "group() (merge all series) before a value-series "
                "transform is outside the subset: the per-point "
                "transform would run in one state partition"
            )
        # the fold owns its input: the null prefilter (or, for the
        # record-keeping kinds, none) and any predicate column, which
        # is evaluated on the FULL raw frame (it may reference
        # promoted tags outside the series key)
        return sf._fold_series(out, key_cols, vs, yield_name), None
    if agg is None:
        # the raw live-table panel: the filtered record stream
        return out.select(*key_cols, "_time", "_value"), None
    every_s, fn, _create_empty, _q, period_s, offset_s = agg
    name = yield_name or fn
    # the value expression is the batch compiler's own (_plain_agg_expr
    # — ONE definition), so emitted windows replay bit-identically
    exprs = [_plain_agg_expr(fn).alias(name)]
    if fn != "count":
        exprs.append(F.count(F.lit(1)).alias("n"))
    # the shared null policy: aggregates skip null values, and n counts
    # exactly the rows the aggregate saw — identical to the batch path.
    # The window column is the batch compiler's own (_window_grouping
    # — ONE definition covering tumbling/sliding/offset/calendar), so a
    # live sliding panel's windows match the batch replay exactly.
    value_cols = [name, "n"] if fn != "count" else [name]
    if every_s in ("month", "year"):
        # CALENDAR live panel (round 15, VERDICT r14 item 4): a
        # month/year is not a fixed stride, so F.window can't bucket
        # it — instead the WATERMARK RIDES THE CALENDAR KEY ITSELF:
        # date_trunc(every, _time) is an event-time column like any
        # other, Spark accepts it as both watermark carrier and group
        # key, and append mode finalizes bucket M once the watermark
        # (max(key) − delay) passes M's start — i.e. when the first
        # record ≥ delay past the NEXT bucket's start arrives. The
        # final bucket stays open, exactly like a fixed window whose
        # end the watermark never passes. Emitted buckets replay the
        # batch date_trunc form bit-identically (same _plain_agg_expr,
        # same date_trunc boundary).
        if keep_window:
            # the streaming join pairs on the F.window STRUCT (which
            # carries the event-time watermark through Spark's
            # multiple-stateful-operator path); a bare calendar key
            # gives it nothing to pair state on
            raise FluxError(
                "a calendar-windowed aggregate (every: 1mo/1y) as a "
                "streaming join input is outside the subset (the join "
                "pairs on the fixed-window struct); union composes"
            )
        if not any(
            float(v) > 0.0 for v in re.findall(r"\d+(?:\.\d+)?", watermark)
        ):
            # delay 0 would put the watermark AT each bucket's own key
            # on its first record — finalizing the bucket immediately
            # and dropping the rest of the month as late rows
            raise FluxError(
                "calendar windows (every: 1mo/1y) need a positive "
                f"watermark delay; got {watermark!r} — with 0 a bucket "
                "finalizes on its own first record and the rest of the "
                "month drops as late data"
            )
        # the calendar bucket column is the batch compiler's own
        # (_window_grouping — ONE definition), appended as a named
        # column so withWatermark can ride it
        cal_col, _is_struct = _window_grouping(every_s, None, 0)
        agged = (
            out.filter(F.col("_value").isNotNull())
            .select("*", cal_col)
            .withWatermark("window_start", watermark)
            .groupBy("window_start", *key_cols)
            .agg(*exprs)
        )
        base = agged.select("window_start", *key_cols, *value_cols)
    else:
        win_col, _is_struct = _window_grouping(every_s, period_s, offset_s)
        agged = (
            out.filter(F.col("_value").isNotNull())
            .withWatermark("_time", watermark)
            .groupBy(win_col, *key_cols)
            .agg(*exprs)
        )
        # the window struct AND its projected start ride together so a
        # post-aggregate alert filter can reference window_start on
        # either the panel frame or a join input; the unused one drops
        # below
        base = agged.select(
            F.col("w").alias("__w"),
            F.col("w.start").alias("window_start"),
            *key_cols,
            *value_cols,
        )
    if agg_timesrc == "_stop":
        if keep_window:
            # the join pairs on the window STRUCT and projects its own
            # start label — a stop-labeled input's label never surfaces
            raise FluxError(
                'timeSrc: "_stop" on a streaming join input is outside '
                "the subset (the join projects start labels)"
            )
        # upstream's default labeling: the window end — a stateless
        # projection over the append-mode output, same as batch
        base = base.withColumn(
            "window_start", _shift_time("window_start", period_s or every_s)
        )
    # the batch tail's own per-op definition; r._value resolves onto
    # the aggregate's value column
    for op in post_stages:
        base = _tail_op(base, op, name, params, natural_key)
    if keep_window:
        # the streaming join keys on the window STRUCT itself — the
        # event-time watermark rides through it (Spark's multiple-
        # stateful-operator window join)
        return base.drop("window_start"), (every_s, period_s, offset_s)
    return base.drop("__w"), (every_s, period_s, offset_s)


def _series_fold(transform: tuple):
    """The keyed-state form (a ``stateful.SeriesFold``) of a parsed
    per-point transform. Each streams under a pinned arrival contract
    (strictly-increasing per-series event time across micro-batches;
    late rows drop — the batch compiler on the store is the replay
    path), with state O(1) in the stream length: one (last time, last
    value, accumulators) tuple for derivative / difference /
    cumulativeSum / increase (round 12); fixed chained-fold slots for
    the EMA family (round 13); bounded trailing-value lists for
    kaufmansAMA / movingAverage / chandeMomentumOscillator /
    kaufmansER, one lag for elapsed and interpolate.linear, and a
    fixed run tuple for stateDuration / stateCount, whose predicate is
    a Catalyst projection applied before the fold (round 14). Emitted
    values replay the batch expressions bit-for-bit."""
    from .streaming import stateful as sf

    kind = transform[0]
    if kind == "derivative":
        return sf.transform_fold("derivative", transform[1], transform[2])
    if kind == "difference":
        if transform[2]:
            raise FluxError(
                "difference(keepFirst: true) is outside the STREAMING "
                "subset (run compile_flux on the store)"
            )
        return sf.transform_fold("difference", non_negative=transform[1])
    if kind in ("cumsum", "increase"):
        return sf.transform_fold(kind)
    if kind == "ma":
        return sf.moving_average_fold(transform[1])
    if kind in ("cmo", "ker"):
        return sf.trailing_indicator_fold(kind, transform[1])
    if kind == "kama":
        return sf.kama_fold(transform[1])
    if kind == "state_duration":
        return sf.state_tracking_fold("duration", transform[1], transform[2])
    if kind == "state_count":
        return sf.state_tracking_fold("count", transform[1])
    if kind == "interpolate":
        return sf.interpolate_fold(transform[1])
    if kind == "elapsed":
        return sf.elapsed_fold(transform[1])
    # ema / ema2 / ema3 / rsi / trix / etma
    return sf.smoothing_fold(
        {"ema2": "dema", "ema3": "tema"}.get(kind, kind), transform[1]
    )


def start_flux_task(
    spark: SparkSession,
    flux: str,
    bucket_paths: dict[str, str],
    checkpoint: str,
    params: dict[str, Any] | None = None,
    now: str | None = None,
    now_fn=None,
    tick_seconds: int = 60,
    available_now: bool = True,
):
    """The InfluxDB TASK object (round 11b): a Flux script ending in
    ``|> to(bucket:)``, re-executed on a schedule — upstream's task
    scheduler is exactly a cron re-run of the script with
    last-write-wins, and this runs it as ONE long-lived Structured
    Streaming ticker instead of an external cron (the
    ``start_rollup_maintenance`` pattern, generalized to any compiled
    Flux text). Each tick recompiles and re-executes the pipeline and
    lands the result through the IDEMPOTENT dynamic-partition-
    overwrite writer (``_write_to_bucket``) — a replayed or crashed
    tick rewrites exactly the same partitions, so the loop is
    exactly-once in effect without any sink-side dedup state.

    ``now_fn`` — a zero-arg callable returning the RFC3339 anchor for
    RELATIVE range bounds (``range(start: -1d)``), resolved PER TICK:
    the task idiom upstream writes as ``-task.every``. The
    replayability rule stands: with neither ``now`` nor ``now_fn``,
    relative bounds raise (wall-clock never enters silently).
    ``available_now=True`` runs one tick and stops (the test/backfill
    trigger); ``False`` ticks every ``tick_seconds``.

    Scale: each tick costs one compiled pipeline over the pruned scan
    — bound the recomputed range with a relative ``range(start:)`` so
    a tick touches only recent partitions (the §20 maintenance-floor
    discipline), and size ``tick_seconds`` to the dashboard's
    freshness SLA, not lower.
    """
    params = dict(params or {})
    # validate the WHOLE script once at start (fail fast, not at tick
    # 1): must be a single pipeline with a trailing to(), and the
    # pipeline must compile — with the per-tick anchor source when one
    # is given, so a relative-bounds script without any anchor still
    # raises here by design (review r11b: the check previously skipped
    # whenever an anchor existed, deferring a malformed script's error
    # to an async StreamingQueryException at tick 1)
    pipe, to_path, src_path = _strip_to(
        _strip_imports(flux), bucket_paths, params
    )
    if to_path is None:
        raise FluxError(
            "start_flux_task needs a script ending in |> to(bucket:) — "
            "for a sink-less live panel use compile_flux_stream"
        )
    _compile_pipeline(
        spark, pipe, bucket_paths, dict(params),
        now_fn() if now_fn is not None else now,
    )

    def _tick(batch_df: DataFrame, epoch_id: int) -> None:
        anchor = now_fn() if now_fn is not None else now
        out = _compile_pipeline(spark, pipe, bucket_paths, dict(params), anchor)
        _write_to_bucket(spark, out, to_path, src_path)

    ticker = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
    )
    writer = (
        ticker.writeStream.foreachBatch(_tick)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{tick_seconds} seconds")
    return writer.start()


def _strip_to(
    body: str, bucket_paths: dict[str, str], params: dict[str, Any]
) -> tuple[str, str | None, str | None]:
    """Detach a trailing ``|> to(bucket:)`` stage (round 11): returns
    (pipeline-without-to, target store path or None, source store
    path). ``to()`` anywhere but the tail is rejected by the pipeline
    compiler's stage loop; writing a bucket into itself is refused
    here (the scan would race its own dynamic-partition overwrite)."""
    stages = _split_stages(body)
    if stages[-1].split("(", 1)[0].strip() != "to":
        return body, None, None
    a = _args(stages[-1], "to")
    if "bucket" not in a:
        raise FluxError("to() requires bucket:")
    _no_extra(a, {"bucket"}, "to")
    target = _resolve(a["bucket"], params)
    if target not in bucket_paths:
        raise FluxError(f"to(): unknown bucket {target!r}")
    fr = _args(stages[0], "from")
    src = (
        bucket_paths.get(_resolve(fr["bucket"], params))
        if "bucket" in fr
        else None
    )
    to_path = bucket_paths[target]
    if src is not None and os.path.abspath(src) == os.path.abspath(to_path):
        raise FluxError(
            "to(): writing a bucket into itself is outside the subset "
            "(the scan would race its own partition overwrite)"
        )
    return "\n|> ".join(stages[:-1]), to_path, src


def _write_to_bucket(
    spark: SparkSession, out: DataFrame, path: str, src_path: str | None
) -> DataFrame:
    """Execute a compiled pipeline's ``to(bucket:)`` write-back — the
    InfluxDB task / continuous-query loop (query → write to a
    downsample bucket) in the store's own layout discipline: the
    output frame is mapped back into the bucket schema (the engine's
    aggregateWindow frames label windows by START time — that
    convention carries into the written ``_time``; promoted tag
    columns ride along and are mirrored into the ``tags`` map) and
    written with the idempotent dynamic-partition overwrite
    ``write_bucket`` path, so re-running the task rewrites exactly the
    partitions it produces (sources/bucket.py write_bucket). Returns
    the written rows — Flux's ``to()`` passes its tables through."""
    tcol = next(
        (c for c in ("_time", "window_start") if c in out.columns), None
    )
    if tcol is None:
        raise FluxError(
            f"to(): frame has no _time/window_start column; has {out.columns}"
        )
    missing = [c for c in ("_measurement", "_field") if c not in out.columns]
    if missing:
        raise FluxError(
            f"to(): frame lacks bucket key column(s) {missing} — re-keyed "
            "by group()? The bucket schema needs the full series key"
        )
    tag_cols = [
        c
        for c, t in out.dtypes
        if t == "string"
        and c not in ("_measurement", "_field")
    ]
    value_cands = [
        c
        for c, t in out.dtypes
        if c not in (tcol, "_measurement", "_field", "n", "tags", "_date")
        and c not in tag_cols
        and t in ("double", "float", "bigint", "int")
    ]
    if len(value_cands) != 1:
        raise FluxError(
            f"to(): cannot identify ONE value column (candidates "
            f"{value_cands}; frame has {out.columns})"
        )
    tags_map = (
        F.create_map(
            *[x for c in tag_cols for x in (F.lit(c), F.col(c))]
        )
        if tag_cols
        else F.create_map().cast("map<string,string>")
    )
    long_df = out.select(
        F.col(tcol).alias("_time"),
        "_measurement",
        "_field",
        F.col(value_cands[0]).cast("double").alias("_value"),
        *tag_cols,
        tags_map.alias("tags"),
    )
    # materialize ONCE: the write is an action and the returned
    # pass-through frame gets consumed by the caller — without the
    # checkpoint the full pipeline (scan + shuffle) would execute
    # twice per invocation, and a source change between the two runs
    # could make the returned rows diverge from the written ones
    # (review r11)
    long_df = long_df.localCheckpoint(eager=True)
    bkt.write_bucket(long_df, path, mode="overwrite")
    return long_df


def _compile_pipeline(
    spark: SparkSession,
    body: str,
    bucket_paths: dict[str, str],
    params: dict[str, Any],
    now: str | None,
) -> DataFrame:
    """Compile ONE `from |> …` pipeline (the single-statement grammar)."""
    stages = _split_stages(body)
    fr = _args(stages[0], "from")
    if "bucket" not in fr:
        raise FluxError("from() requires bucket:")
    bucket_name = _resolve(fr["bucket"], params)
    if bucket_name not in bucket_paths:
        raise FluxError(f"unknown bucket {bucket_name!r}")
    path = bucket_paths[bucket_name]

    # Tag-dimension discovery (round 11): the store's promoted tag
    # columns (sources/bucket.py ``tag_columns``) extend the Flux
    # table key — InfluxDB's series key is (_measurement, tag set,
    # _field), and every aggregation/transform below partitions on
    # it. The schema read lists the store's files — a real driver
    # cost at large partition counts — so it is cached per (session,
    # store): a store's TAG SET is its schema identity (changing it
    # is a new store version, like any table-format schema change); a
    # production deployment resolves this from the catalog. Untagged
    # stores yield the classic two-column key, byte-identical plans.
    store_tag_cols = bkt._store_tag_cols(spark, path)
    natural_key = ["_measurement", "_field", *store_tag_cols]

    start = stop = None
    measurement = field = None
    # pure tag-equality predicates pushed into the scan (partition/
    # file/row-group pruning on the promoted columns)
    tag_eqs: dict[str, str] = {}
    # residual row-level stages in USER ORDER: ("filter", pred) and
    # ("map", value_expr) interleave — a _value filter after a map sees
    # mapped values. (_measurement/_field equality pushdown commutes
    # with _value maps, so extraction stays order-free.)
    row_ops: list[tuple[str, Column]] = []
    agg = None  # _parse_aggregate_window's tuple
    agg_timesrc = "_start"  # aggregateWindow timeSrc: (round 12d)
    take_last = False
    # aggregateWindow |> <value-series transform> (the downsample-then-
    # rate idiom): the transform runs over the windowed aggregate's
    # output series instead of the raw scan
    transform_post_agg = False
    transform = None  # ("derivative",) | ("tma", period_s) | ("increase",) | ("state_duration", Column)
    # tail stages in user order: sort/limit/tail run in _finish, the
    # rest through the shared _tail_op
    post_ops: list[tuple] = []
    yield_name = None
    # Flux table key: (_measurement, _field, promoted tags) — the
    # natural_key above. A group() stage re-keys; None = the natural
    # key (no regrouping requested).
    group_cols: list[str] | None = None

    _TERMINAL_HEADS = (
        *_SHARED_TRANSFORMS, "aggregateWindow", "timedMovingAverage",
        "last", "first", "mean", "count", "sum", "min", "max", "median",
        "pivot", "spread", "stddev", "quantile", "histogram", "unique",
        "distinct", "window", "integral", "timeWeightedAvg", "mode",
        "skew", "sample", "highestMax", "highestAverage", "highestCurrent",
        "lowestMin", "lowestAverage", "lowestCurrent", "histogramQuantile",
        "columns", "keyValues", "holtWinters", "events.duration", "reduce",
    )
    _TAIL_HEADS = ("sort", "limit", "keep", "drop", "fill", "rename",
                   "timeShift", "top", "bottom", "duplicate", "set",
                   "tail", "filter", "map")
    time_shifted = False  # a row-level timeShift has rewritten _time
    for stage in stages[1:]:
        head = stage.split("(", 1)[0].strip()
        terminal_seen = agg is not None or take_last or transform is not None
        if post_ops and head not in _TAIL_HEADS and head != "yield":
            # once the Data-Explorer tail starts, only more tail stages
            # (and yield) follow — a filter/aggregate over a sorted or
            # truncated frame would need the subset to model row order,
            # which it deliberately does not
            raise FluxError(
                f"{head}() after a sort/limit/keep/drop tail is outside "
                f"the shipped subset: {stage!r}"
            )
        # stage ORDER is semantics: range/filter after an aggregation
        # stage would apply to raw rows, and aggregateWindow|>last would
        # silently drop last() — the shipped subset supports row-level
        # stages strictly BEFORE one terminal aggregation/transform
        # stage, and raises on anything else rather than mis-compiling
        _check_stage_order(head, stage, terminal_seen, time_shifted)
        if head in _TERMINAL_HEADS and terminal_seen:
            if (
                head == "histogramQuantile"
                and transform is not None
                and transform[0] == "histogram"
            ):
                # histogram(bins:) |> histogramQuantile(quantile:) — the
                # Grafana heatmap-to-percentile panel. Fused into ONE
                # aggregation: the quantile interpolates over the same
                # B conditional counts the histogram pass computes, so
                # no second shuffle exists. Standalone histogramQuantile
                # (over a pre-built histogram table) stays out of subset
                # — this store has no histogram tables to scan.
                a = _args(stage, "histogramQuantile")
                if "quantile" not in a:
                    raise FluxError("histogramQuantile requires quantile:")
                qv = _resolve(a["quantile"], params)
                if isinstance(qv, bool) or not isinstance(qv, (int, float)) or not (
                    0 < float(qv) <= 1
                ):
                    raise FluxError(
                        f"histogramQuantile quantile: expected a number in "
                        f"(0, 1], got {qv!r}"
                    )
                minv = _resolve(a["minValue"], params) if "minValue" in a else 0.0
                if isinstance(minv, bool) or not isinstance(minv, (int, float)):
                    raise FluxError(
                        f"histogramQuantile minValue: expected a number, "
                        f"got {minv!r}"
                    )
                if "onNonmonotonic" in a and _resolve(
                    a["onNonmonotonic"], params
                ) != "error":
                    # the fused histogram is cumulative by construction —
                    # only upstream's default error mode is meaningful
                    raise FluxError(
                        'histogramQuantile ships onNonmonotonic: "error" '
                        f"only; got {stage!r}"
                    )
                for fixed, want in (
                    ("countColumn", "_value"),
                    ("upperBoundColumn", transform[2]),
                    ("valueColumn", "_value"),
                ):
                    if fixed in a and _resolve(a[fixed], params) != want:
                        raise FluxError(
                            f"histogramQuantile {fixed}: must match the "
                            f"fused histogram ({want!r}); got {stage!r}"
                        )
                _no_extra(a, {
                    "quantile", "minValue", "onNonmonotonic",
                    "countColumn", "upperBoundColumn", "valueColumn",
                }, "histogramQuantile")
                transform = (
                    "histogram_quantile", transform[1], float(qv), float(minv)
                )
                continue
            if (
                head == "last"
                and transform is not None
                and transform[0] in _VALUE_SERIES
                and agg is None
                and not take_last
            ):
                # <value-series transform> |> last(): Flux's stat-panel
                # reduction — the rewritten series' final point per table
                if _args(stage, "last"):
                    raise FluxError(
                        f"last() takes no arguments in the subset: {stage!r}"
                    )
                take_last = True
                continue
            if (
                head
                in ("derivative", "difference", "cumulativeSum", "increase")
                and agg is not None
                and transform is None
                and not take_last
            ):
                # <aggregateWindow> |> <value-series transform> — the
                # DOWNSAMPLE-THEN-RATE dashboard idiom
                # (aggregateWindow(fn: last) |> derivative(nonNegative:
                # true): counter rate from downsampled counters; fn:
                # max |> difference(): per-window deltas). Shipped over
                # SELECTOR aggregates (first/last/min/max — window
                # values drawn from the store's exact-decimal domain,
                # so the transforms' delta machinery stays exact); a
                # COMPUTED aggregate (mean/sum/median/...) re-cast to
                # decimal would silently round — raises naming the
                # reason. Tumbling windows only; execution runs the
                # windowed aggregate FIRST, then the transform over the
                # (window_start, value) series reshaped to the
                # value-series frame.
                if agg[1] not in ("first", "last", "min", "max"):
                    raise FluxError(
                        f"aggregateWindow(fn: {agg[1]}) |> {head}(): the "
                        "composition ships over selector fns (first/last/"
                        "min/max), whose window values stay in the store's "
                        "exact-decimal domain; a computed aggregate would "
                        "round — compose in DataFrame land instead"
                    )
                if not isinstance(agg[0], int) or agg[2] or agg[4] is not None:
                    raise FluxError(
                        f"aggregateWindow |> {head}(): tumbling windows "
                        "only (no createEmpty/sliding/calendar) in the "
                        "shipped subset"
                    )
                if agg_timesrc == "_stop":
                    # the transform would consume stop-labeled times —
                    # its emitted timestamps and the label convention
                    # interleave ambiguously; compose in DataFrame land
                    raise FluxError(
                        f'timeSrc: "_stop" before {head}() is outside '
                        "the shipped subset (the transform consumes the "
                        "window labels)"
                    )
                transform_post_agg = True
                # fall through to the transform's own parse branch
            elif (
                head == "aggregateWindow"
                and transform is not None
                and transform[0] in _VALUE_SERIES
                and agg is None
                and not take_last
            ):
                # <value-series transform> |> aggregateWindow(...) —
                # the counter-to-windowed-totals dashboard composition
                # (difference |> aggregateWindow(sum), rsi |>
                # aggregateWindow(mean), ...): fall through to the
                # aggregateWindow parse; execution runs the windowed
                # aggregate over the transform's rewritten series.
                # (createEmpty gap-fills the composed series the same
                # way — the spine covers the series' own time range.)
                pass
            elif (
                head in (
                    "mean", "count", "sum", "min", "max", "median",
                    "first", "last", "spread", "stddev",
                )
                and transform is not None
                and transform[0] == "window"
                and agg is None
                and not take_last
            ):
                # the LEGACY pre-aggregateWindow idiom (round 12d —
                # InfluxDB 2.0's Data Explorer generated exactly this):
                # window(every:) |> <agg>() [|> window(every: inf)].
                # ORDERING INVARIANT (ADVICE r12 probe): an interposed
                # tail stage — window |> filter/map/timeShift |> mean —
                # can NEVER reach this rewrite: once post_ops is
                # non-empty the tail guard at the top of the stage loop
                # (`post_ops and head not in _TAIL_HEADS`) raises
                # before this branch is evaluated, so a recorded
                # post-stage cannot be silently reordered past the
                # rewritten aggregate (pinned in
                # test_legacy_window_aggregate_idiom).
                # The first two stages rewrite to the windowed
                # aggregate — aggregateWindow IS upstream's sugar for
                # this composition, with the same createEmpty: false
                # behavior the legacy form has (windows with no data
                # don't exist); the trailing un-window merge is a
                # no-op on this engine's merged-frame contract,
                # validated in the window branch below
                if _args(stage, head):
                    raise FluxError(
                        f"bare {head}() takes no arguments in the subset"
                    )
                agg = (transform[1], head, False, None, None, 0)
                transform = None
                continue
            elif head == "window" and agg is not None and transform is None:
                # possibly the legacy un-window merge — fall through
                # to the window branch, which accepts every: inf only
                pass
            else:
                raise FluxError(
                    f"second aggregation/transform stage {head!r} is outside "
                    "the shipped subset (compose in DataFrame land instead)"
                )
        if head == "range":
            start, stop = _parse_range(stage, params, now, start, stop)
        elif head == "filter":
            toks = _filter_tokens(stage)
            if terminal_seen or post_ops:
                # POST-stage filter — the Grafana alert/threshold shape
                # (aggregateWindow |> filter(fn: (r) => r._value > X)):
                # a row-wise predicate over the OUTPUT frame, applied in
                # user order among the tail stages. Column references
                # resolve against the output frame at build time, with
                # r._value mapped onto the aggregate's value column
                # (this subset's attested frames name it after the fn).
                post_ops.append(("filter", toks, stage))
                continue

            def _pure_eq(col: str):
                # `r["col"] == lit` / `r.col == lit` as the WHOLE stage
                # — the form scan_bucket can turn into partition/file
                # pruning; anything else stays a residual row filter
                if len(toks) == 3 and toks[1] == "==" and toks[0] in (
                    f'r["{col}"]', f"r.{col}"
                ):
                    return _resolve(toks[2], params)
                return None

            m_eq, f_eq = _pure_eq("_measurement"), _pure_eq("_field")
            tag_hit = None
            for tc in store_tag_cols:
                v = _pure_eq(tc)
                if v is not None:
                    tag_hit = (tc, v)
                    break
            if m_eq is not None and measurement is None:
                measurement = m_eq
            elif f_eq is not None and field is None:
                field = f_eq
            elif tag_hit is not None and tag_hit[0] not in tag_eqs:
                # tag equality → scan pushdown: commutes with _value
                # maps/time rewrites exactly like the _measurement/
                # _field extraction (stored tag values are untouched
                # by every row-level stage)
                tag_eqs[tag_hit[0]] = str(tag_hit[1])
            else:
                # residual row predicate (regex/range/compound tag or
                # value conditions)
                row_ops.append(
                    ("filter", _row_filter(toks, natural_key, params))
                )
        elif head == "map":
            # map(fn: (r) => ({ r with _value: <arith> })) — the Data
            # Explorer's unit-conversion / custom-function transform
            src = _parse_map(stage)
            if terminal_seen or post_ops:
                # round 12d: POST-AGGREGATE map — the tail rewrite of
                # the output frame's value column (unit conversion on
                # an aggregated panel: aggregateWindow |> map), applied
                # in user order among the tail stages via the shared
                # _post_value_map (the streaming live panel compiles
                # the identical rewrite)
                post_ops.append(("map", src, stage))
                continue
            row_ops.append(("map", _row_map(src, params)))
        elif head == "aggregateWindow":
            agg, agg_timesrc = _parse_aggregate_window(stage, params)
        elif head == "last":
            if _args(stage, "last"):
                # last(column: "tags") would silently compile as last on
                # _value — a miscompilation; raise like the bare aggregates
                raise FluxError(
                    f"last() takes no arguments in the subset: {stage!r}"
                )
            take_last = True
        elif head in _SHARED_TRANSFORMS:
            transform = _parse_transform(head, stage, params)
        elif head == "timedMovingAverage":
            # validation shared with the streaming compiler: the
            # windowed-emission form compiles to the sliding
            # aggregateWindow(mean) agg tuple and inherits the sliding
            # path's plan (each row lands in period/every windows, one
            # exchange); the bare form is the trailing RANGE-frame mean
            tma_agg, tma = _parse_timed_moving_average(stage, params)
            if tma_agg is not None:
                agg = tma_agg
            else:
                transform = tma
        elif head == "pivot":
            a = _args(stage, "pivot")
            rk = _str_list(a.get("rowKey", ""), "pivot rowKey")
            ck = _str_list(a.get("columnKey", ""), "pivot columnKey")
            vc = _resolve(a.get("valueColumn", '""'), params)
            if (
                rk != ["_time"]
                or vc != "_value"
                or len(ck) != 1
                or (ck[0] != "_field" and ck[0] not in store_tag_cols)
            ):
                # the Data-Explorer default — and, round 12d, its
                # one-column-per-TAG sibling (columnKey: ["host"], the
                # per-host overlay table) — are the pivot shapes the
                # subset ships; anything else raises rather than
                # mis-compiling a different reshape
                raise FluxError(
                    'pivot ships rowKey: ["_time"], valueColumn: '
                    '"_value", columnKey: ["_field"] or one promoted '
                    f"tag column {store_tag_cols} (the Data-Explorer "
                    f"table views); got {stage!r}"
                )
            _no_extra(a, {"rowKey", "columnKey", "valueColumn"}, "pivot")
            transform = ("pivot", ck[0])
        elif head == "histogram":
            # histogram(bins: [...]) — Flux's CUMULATIVE histogram: one
            # row per upper bound `le` per table, _value = float count
            # of rows with value ≤ le. bins: a literal list or
            # linearBins(start:, width:, count:, [infinity:]) /
            # logarithmicBins(start:, factor:, count:, [infinity:]).
            a = _args(stage, "histogram")
            if "bins" not in a:
                raise FluxError("histogram requires bins:")
            col = _resolve(a["column"], params) if "column" in a else "_value"
            ub = (
                _resolve(a["upperBoundColumn"], params)
                if "upperBoundColumn" in a
                else "le"
            )
            norm = (
                _resolve(a["normalize"], params) if "normalize" in a else False
            )
            if col != "_value" or not isinstance(ub, str) or not isinstance(
                norm, bool
            ):
                raise FluxError(
                    "histogram ships column: \"_value\" and a boolean "
                    f"normalize: only; got {stage!r}"
                )
            _no_extra(
                a, {"bins", "column", "upperBoundColumn", "normalize"}, "histogram"
            )
            bounds = _parse_bins(a["bins"], params)
            transform = ("histogram", bounds, ub, norm)
        elif head in (
            "mean", "count", "sum", "min", "max", "median", "first",
            "spread", "stddev",
        ):
            # bare aggregate: one row per series over the scanned range
            # (the Flux per-table fold) — reuse the windowed machinery
            # with a single unbounded "window" by marking every_s=None
            a = _args(stage, head)
            if a:
                raise FluxError(f"bare {head}() takes no arguments in the subset")
            agg = (None, head, False, None, None, 0)
        elif head == "quantile":
            # quantile(q:, [method: "exact_selector"]) — the smallest
            # data point with cumulative frequency ≥ q (SQL
            # percentile_disc, Flux's exact_selector method)
            agg = (None, "quantile", False, _parse_quantile(stage, params, "quantile"), None, 0)
        elif head == "timeShift":
            # Grafana's period-comparison overlay: add duration to the
            # time column. Row-level before the terminal stage (Flux
            # shifts THEN windows), tail stage after it (shift the
            # aggregated frame's window_start/_time).
            shift_s = _parse_time_shift(stage, params)
            if terminal_seen or post_ops:
                post_ops.append(("timeshift", shift_s, stage))
            else:
                row_ops.append(("timeshift", shift_s))
                time_shifted = True
        elif head in ("toFloat", "toInt"):
            # type-conversion row stages. toInt() truncates toward zero
            # (Go's int64(float) conversion — Spark's double→long cast
            # does the same; SQL oracles must spell CAST(trunc(v) AS
            # BIGINT) because DuckDB's bare cast ROUNDS). Row-level, so
            # they compose with any terminal stage; toString() is NOT
            # shipped — float→string formatting differs between
            # engines (Go shortest-round-trip vs Java Double.toString),
            # so it would be an attestation-hostile miscompile.
            if _args(stage, head):
                raise FluxError(f"{head}() takes no arguments: {stage!r}")
            row_ops.append(
                (
                    "map",
                    F.col("_value").cast(
                        "double" if head == "toFloat" else "long"
                    ),
                )
            )
        elif head == "sample":
            # sample(n:, pos:) — keep every n-th record per table
            # starting at 0-based offset pos. Upstream's default
            # pos: -1 picks the offset RANDOMLY — nondeterministic, so
            # the subset requires an explicit pos in [0, n).
            a = _args(stage, "sample")
            n = _resolve(a["n"], params) if "n" in a else None
            if not isinstance(n, int) or isinstance(n, bool) or n < 2:
                raise FluxError(f"sample n: int >= 2 required, got {n!r}")
            pos = _resolve(a["pos"], params) if "pos" in a else None
            if (
                not isinstance(pos, int)
                or isinstance(pos, bool)
                or not (0 <= pos < n)
            ):
                raise FluxError(
                    "sample ships a deterministic pos: in [0, n) only "
                    f"(upstream's default pos: -1 samples randomly); got {stage!r}"
                )
            _no_extra(a, {"n", "pos"}, "sample")
            transform = ("sample", n, pos)
        elif head == "holtWinters":
            # holtWinters(n:, interval:, [seasonality: m]) — the
            # Grafana forecast panel. Upstream's STRUCTURE is
            # preserved exactly — timestamps floored to interval
            # multiples with the FIRST point per slot kept, the
            # additive recurrence folded over the slot series, n
            # forecast points emitted at interval spacing after the
            # last slot — but upstream fits α/β/γ per series with a
            # Nelder-Mead SSE search (gonum), whose float trajectory
            # is not reproducible across engines; the subset pins the
            # DOCUMENTED DYADIC constants α=0.5, β=0.25, γ=0.25 (the
            # engine's attested holt_linear_final fold) so every
            # output value is bit-replayable by the SQL oracle.
            # seasonality: m > 1 compiles the additive-seasonal
            # triple recurrence (classic first-cycle init; series
            # shorter than two seasons emit nothing); withFit: true
            # emits the pinned one-step-ahead fit convention before
            # the forecasts (see the execution branch).
            a = _args(stage, "holtWinters")
            hw_n = _int_arg(a, "n", params, "holtWinters")
            hw_int_s = _dur_arg(a, "interval", params, "holtWinters")
            hw_m = (
                _resolve(a["seasonality"], params) if "seasonality" in a else 0
            )
            if not isinstance(hw_m, int) or isinstance(hw_m, bool) or hw_m < 0:
                raise FluxError(
                    "holtWinters seasonality: non-negative int (points per "
                    f"season) required, got {hw_m!r}"
                )
            if hw_m == 1:
                raise FluxError(
                    "holtWinters seasonality: 1 is degenerate (every point "
                    "its own season) — use 0 for the non-seasonal form"
                )
            hw_fit = _bool_arg(a, "withFit", params, "holtWinters")
            if "column" in a and _resolve(a["column"], params) != "_value":
                raise FluxError('holtWinters ships column: "_value" only')
            if "timeColumn" in a and _resolve(a["timeColumn"], params) != "_time":
                raise FluxError('holtWinters ships timeColumn: "_time" only')
            _no_extra(a, {
                "n", "interval", "seasonality", "withFit", "column",
                "timeColumn",
            }, "holtWinters")
            transform = ("holt_winters", hw_n, hw_int_s, hw_m, hw_fit)
        elif head == "reduce":
            # reduce(fn: (r, accumulator) => ({ f: <expr>, ... }),
            # identity: {f: <num>, ...}) — TWO compiled fragments,
            # selected by the record's STRUCTURE (never as an error
            # fallback):
            #
            # * ADDITIVE (the default whenever EVERY field folds
            #   ITSELF additively — f: accumulator.f + <poly>):
            #   identity + Σ poly(r) per field, poly a product of
            #   r._value factors and numeric literals (≤ 3 value
            #   factors — the exact-decimal cube cap, skew's rule;
            #   ≤ 2 decimal places so every literal is exact in
            #   decimal(12,2)). This is the map-side-combinable
            #   fragment — sums, counts, sums of squares/cubes,
            #   weighted counts. Its strict domain raises (division
            #   factor, wide literal — review r11b) are kept: a
            #   structurally-additive record IS the additive fragment.
            #
            # * SEQUENTIAL FOLD (round 12, VERDICT r11 item 3): a
            #   record where any field references another accumulator
            #   field or folds non-additively (the Flux docs'
            #   incremental-mean idiom) is an order-dependent per-row
            #   fold — compiled onto the sanctioned Arrow per-series
            #   kernel class (operators/timeseries.py flux_ema
            #   pattern). Flux record-constructor semantics: every
            #   field expression evaluates against the PREVIOUS
            #   accumulator, then the record swaps. Rows fold in
            #   table order (_time, _value); arithmetic is float64
            #   with SQL NULL propagation (x/0 → NULL, NULL op x →
            #   NULL — DuckDB's own rule) so the recursive-CTE oracle
            #   replays the fold bit-identically.
            a = _args(stage, "reduce")
            for req in ("fn", "identity"):
                if req not in a:
                    raise FluxError(f"reduce requires {req}:")
            _no_extra(a, {"fn", "identity"}, "reduce")
            m = re.match(
                r"^\(\s*r\s*,\s*accumulator\s*\)\s*=>\s*"
                r"\(\s*\{\s*(.*?)\s*\}\s*\)\s*$",
                a["fn"].strip(),
                re.DOTALL,
            )
            if not m:
                raise FluxError(
                    "reduce ships fn: (r, accumulator) => ({ field: "
                    "<expr over r._value / accumulator.*>, ... }); got "
                    f"{a['fn']!r}"
                )
            # ≤ 10 integer digits AND ≤ 2 decimal places: every literal
            # is exactly representable in decimal(12,2) — a wider one
            # would silently cast to NULL under non-ANSI Spark and null
            # the whole accumulator field (review r11b), so it raises
            # at compile time instead (the fold path keeps the same
            # literal grammar for one shared rule)
            num_re = r"-?\d{1,10}(?:\.\d{1,2})?"
            entries: list[tuple[str, str]] = []
            for entry in _split_top_commas(m.group(1)):
                nm_part, _, expr = entry.partition(":")
                fname, expr = nm_part.strip().strip('"'), expr.strip()
                if not re.fullmatch(r"\w+", fname):
                    raise FluxError(
                        f"reduce: bad accumulator field name {fname!r}"
                    )
                entries.append((fname, expr))
            if not entries:
                raise FluxError("reduce: empty accumulator record")
            if len({f for f, _ in entries}) != len(entries):
                raise FluxError("reduce: duplicate accumulator field")

            def _additive_poly(fname: str, expr: str) -> str | None:
                pm = re.match(
                    r"^accumulator\.(\w+)\s*\+\s*(.*)$", expr, re.DOTALL
                )
                if (
                    pm
                    and pm.group(1) == fname
                    and "accumulator" not in pm.group(2)
                ):
                    return pm.group(2)
                sm = re.match(
                    r"^(.*?)\s*\+\s*accumulator\.(\w+)\s*$",
                    expr,
                    re.DOTALL,
                )
                if (
                    sm
                    and sm.group(2) == fname
                    and "accumulator" not in sm.group(1)
                ):
                    return sm.group(1)
                return None

            shaped = [(f, e, _additive_poly(f, e)) for f, e in entries]
            if all(p is not None for _, _, p in shaped):
                rd_fields: list[tuple[str, list[tuple[str, ...]]]] = []
                for fname, expr, poly_src in shaped:
                    factors: list[tuple[str, ...]] = []
                    nval = 0
                    for fac in poly_src.split("*"):
                        fac = fac.strip()
                        if fac in ("r._value", 'r["_value"]'):
                            factors.append(("val",))
                            nval += 1
                        elif re.fullmatch(num_re, fac):
                            factors.append(("lit", fac))
                        else:
                            raise FluxError(
                                "reduce: poly factors are r._value or a "
                                "numeric literal (≤ 10 integer digits, ≤ 2 "
                                "decimal places — the decimal(12,2) domain); "
                                f"got {fac!r}"
                            )
                    if nval > 3:
                        raise FluxError(
                            "reduce: at most 3 r._value factors per term "
                            "(the exact-decimal 38-digit cap)"
                        )
                    rd_fields.append((fname, factors))
                reduce_kind = "reduce"
            else:
                acc_names = {f for f, _ in entries}
                rd_fields = [
                    (f, _parse_fold_expr(e, acc_names)) for f, e in entries
                ]
                reduce_kind = "reduce_fold"
            im = re.match(r"^\{\s*(.*?)\s*\}$", a["identity"].strip(), re.DOTALL)
            if not im:
                raise FluxError(
                    f"reduce identity: expected {{f: <num>, ...}}; got "
                    f"{a['identity']!r}"
                )
            rd_identity: dict[str, str] = {}
            for entry in _split_top_commas(im.group(1)):
                nm_part, _, val = entry.partition(":")
                iname, val = nm_part.strip().strip('"'), val.strip()
                if not re.fullmatch(num_re, val):
                    raise FluxError(
                        "reduce identity: values are numeric literals "
                        "(≤ 10 integer digits, ≤ 2 decimal places — the "
                        f"decimal(12,2) domain); got {val!r}"
                    )
                if iname in rd_identity:
                    raise FluxError(
                        f"reduce identity: duplicate field {iname!r}"
                    )
                rd_identity[iname] = val
            if set(rd_identity) != {f for f, _ in rd_fields}:
                raise FluxError(
                    "reduce: identity fields must match the fn record "
                    f"fields exactly; got {sorted(rd_identity)} vs "
                    f"{sorted(f for f, _ in rd_fields)}"
                )
            transform = (reduce_kind, rd_fields, rd_identity)
        elif head == "events.duration":
            # contrib/tomhollingworth/events.duration() — per-record
            # duration until the NEXT record; the last record closes
            # against stop: (explicit, or the pipeline's range stop).
            # Upstream's stopColumn default reads the table's _stop
            # column, which this store does not materialize — the
            # subset maps that default onto the range stop (the same
            # value upstream's _stop carries) and raises on an explicit
            # stopColumn.
            a = _args(stage, "events.duration")
            ev_unit_s = 1
            if "unit" in a:
                u = _resolve(a["unit"], params)
                if (
                    not (isinstance(u, str) and _DUR_RE.match(u))
                    or _duration_seconds(u) <= 0
                ):
                    raise FluxError(f"events.duration unit: bad duration {u!r}")
                ev_unit_s = _duration_seconds(u)
            ev_col = "duration"
            if "columnName" in a:
                ev_col = _resolve(a["columnName"], params)
                if not isinstance(ev_col, str) or not re.match(r"^\w+$", ev_col):
                    raise FluxError(
                        f"events.duration columnName: expected an "
                        f"identifier, got {ev_col!r}"
                    )
            ev_stop = (
                _resolve_bound(a["stop"], params, now, "events.duration stop")
                if "stop" in a
                else None
            )
            if "timeColumn" in a and _resolve(a["timeColumn"], params) != "_time":
                raise FluxError('events.duration ships timeColumn: "_time" only')
            if "stopColumn" in a:
                raise FluxError(
                    "events.duration stopColumn: this store materializes "
                    "no _stop column — pass stop: explicitly (or set "
                    "range(stop:))"
                )
            _no_extra(
                a, {"unit", "columnName", "stop", "timeColumn"}, "events.duration"
            )
            transform = ("events_duration", ev_unit_s, ev_stop, ev_col)
        elif head in (
            "highestMax", "highestAverage", "highestCurrent",
            "lowestMin", "lowestAverage", "lowestCurrent",
        ):
            # the table-level selector family: reduce each table to one
            # record (its max/min record, its mean, or its latest
            # record), then keep the n highest/lowest tables by value.
            # The per-table reduce is a map-side-combinable aggregate;
            # the cross-table top-N runs over one-row-per-table frames
            # (TakeOrderedAndProject — never a raw-row sort).
            # Grouping note: upstream's groupColumns: [] DEFAULT merges
            # every table first (one global record); the compiled form
            # keys on the current table key — the Grafana "top N
            # series" shape — and `group() |> highestMax(n:)`
            # reproduces the upstream merge-first default exactly
            # (key-less extrema are allowed: a global partial agg).
            a = _args(stage, head)
            n = _int_arg(a, "n", params, head)
            if "column" in a and _resolve(a["column"], params) != "_value":
                raise FluxError(f'{head} ships column: "_value" only')
            if "groupColumns" in a:
                raise FluxError(
                    f"{head} groupColumns: (re-keyed selection) is outside "
                    "the shipped subset — group() first instead"
                )
            _no_extra(a, {"n", "column"}, head)
            transform = ("extrema", head, n)
        elif head == "columns":
            # columns([column:]) — each table's record labels, one row
            # per label in the named output column. This store's
            # records carry exactly the four standard columns (tags
            # are empty by reference semantics, SURVEY §1.1), so the
            # labels are compile-time constants exploded over the
            # DISTINCT table keys — a keys-only aggregate, never a
            # raw-row pass.
            a = _args(stage, "columns")
            outcol = _resolve(a["column"], params) if "column" in a else "_value"
            if not isinstance(outcol, str) or not re.match(r"^\w+$", outcol):
                raise FluxError(
                    f"columns column: expected an identifier, got {outcol!r}"
                )
            _no_extra(a, {"column"}, "columns")
            transform = ("columns", outcol)
        elif head == "keyValues":
            # keyValues(keyColumns:) — the generic Grafana variable
            # query: one (_key, _value) row per requested key column
            # per table. Over this store's two-column table key each
            # table contributes exactly its own key values — a
            # distinct-keys aggregate stacked in-row, never a raw pass.
            a = _args(stage, "keyValues")
            if "keyColumns" not in a:
                raise FluxError("keyValues requires keyColumns:")
            kv_cols = _str_list(a["keyColumns"], "keyValues keyColumns")
            bad = [c for c in kv_cols if c not in natural_key]
            if not kv_cols or bad:
                raise FluxError(
                    "keyValues ships keyColumns: over the store's table "
                    f"key columns {natural_key}; got {stage!r}"
                )
            if len(kv_cols) != len(set(kv_cols)):
                raise FluxError(
                    f"keyValues keyColumns: lists a column twice: {stage!r}"
                )
            _no_extra(a, {"keyColumns"}, "keyValues")
            transform = ("key_values", kv_cols)
        elif head == "mode":
            # bare mode(): all most-frequent values per table (several
            # rows when tied), or one NULL row when every value is
            # unique — upstream's convention
            if _args(stage, "mode"):
                raise FluxError(f"mode() takes no arguments in the subset: {stage!r}")
            agg = (None, "mode", False, None, None, 0)
        elif head == "skew":
            if _args(stage, "skew"):
                raise FluxError(f"skew() takes no arguments in the subset: {stage!r}")
            agg = (None, "skew", False, None, None, 0)
        elif head == "hourSelection":
            # hourSelection(start:, stop:) — keep rows whose hour of day
            # (UTC, the store's clock — the reference stores naive UTC
            # timestamps, SURVEY §1.1) falls in [start, stop] inclusive;
            # start > stop wraps around midnight (upstream's overnight
            # form). A row-level filter, so it composes with any
            # terminal stage and pushes into the scan like filter().
            a = _args(stage, "hourSelection")
            if "start" not in a or "stop" not in a:
                raise FluxError("hourSelection requires start: and stop:")
            hs = _resolve(a["start"], params)
            he = _resolve(a["stop"], params)
            for v in (hs, he):
                if not isinstance(v, int) or isinstance(v, bool) or not (
                    0 <= v <= 23
                ):
                    raise FluxError(
                        f"hourSelection start/stop: hour in [0, 23] "
                        f"required, got {v!r}"
                    )
            if "timeColumn" in a and _resolve(a["timeColumn"], params) != "_time":
                raise FluxError(
                    'hourSelection ships timeColumn: "_time" only'
                )
            _no_extra(a, {"start", "stop", "timeColumn"}, "hourSelection")
            h = F.hour("_time")
            cond = (
                (h >= hs) & (h <= he) if hs <= he else (h >= hs) | (h <= he)
            )
            row_ops.append(("filter", cond))
        elif head == "truncateTimeColumn":
            # truncateTimeColumn(unit:) — floor _time to the unit
            # boundary (epoch-aligned, Flux's truncation). Row-level:
            # a following aggregate windows the truncated times, the
            # order Flux applies. Like timeShift, a later range()
            # would push bounds against REWRITTEN times — refuse.
            a = _args(stage, "truncateTimeColumn")
            if "unit" not in a:
                raise FluxError("truncateTimeColumn requires unit:")
            unit = _resolve(a["unit"], params)
            if isinstance(unit, str) and unit in ("1mo", "1y"):
                # calendar truncation: month/year boundaries via
                # date_trunc (not a fixed-seconds epoch floor)
                _no_extra(a, {"unit"}, "truncateTimeColumn")
                row_ops.append(
                    (
                        "map_time",
                        F.date_trunc(
                            "month" if unit == "1mo" else "year",
                            F.col("_time"),
                        ),
                    )
                )
                time_shifted = True
                continue
            unit_s = _dur_arg(a, "unit", params, "truncateTimeColumn")
            _no_extra(a, {"unit"}, "truncateTimeColumn")
            row_ops.append(("truncate", unit_s))
            time_shifted = True
        elif head == "unique":
            # unique(column:) — each table's FIRST row (table order:
            # the compiler's universal (_time, _value) tiebreak) per
            # distinct value of the column. Compiled as a row_number
            # window partitioned by (table key, column) — distributed
            # by value, never a single-partition sort.
            a = _args(stage, "unique")
            col = _resolve(a["column"], params) if "column" in a else "_value"
            if not isinstance(col, str):
                raise FluxError(f"unique column: expected a string, got {col!r}")
            _no_extra(a, {"column"}, "unique")
            transform = ("unique", col)
        elif head == "distinct":
            # distinct(column:) — the distinct values of the column per
            # table, returned in _value (upstream drops every other
            # non-key column). A hash-distinct: map-side combinable.
            a = _args(stage, "distinct")
            col = _resolve(a["column"], params) if "column" in a else "_value"
            if not isinstance(col, str):
                raise FluxError(
                    f"distinct column: expected a string, got {col!r}"
                )
            _no_extra(a, {"column"}, "distinct")
            transform = ("distinct", col)
        elif head == "window":
            # window(every:) NON-aggregated: assign each raw row its
            # tumbling-window bounds as _start/_stop columns (the
            # re-keyed Flux tables materialized as columns — this store
            # carries window identity in columns, SURVEY §1.1). A
            # narrow map — no shuffle. window |> <agg> [|> window(inf)]
            # — the LEGACY Data-Explorer idiom — rewrites to the
            # windowed aggregate in the terminal gate above (round 12d).
            a = _args(stage, "window")
            if "every" not in a:
                raise FluxError("window requires every:")
            every = _resolve(a["every"], params)
            if every == "inf" or (
                isinstance(every, float) and every == float("inf")
            ):
                # the legacy un-window merge closing the window |> agg
                # idiom (round 12d): upstream merges the per-window
                # tables back into one — a no-op here, where frames
                # are merged by contract (``inf`` resolves to the float
                # through the literal parser, hence both forms)
                if set(a) - {"every"}:
                    raise FluxError(
                        "window(every: inf): unsupported args "
                        f"{sorted(set(a) - {'every'})}"
                    )
                if agg is None or transform is not None or take_last:
                    raise FluxError(
                        "window(every: inf) (the legacy un-window merge) "
                        "requires a preceding window(every:) |> "
                        "<aggregate> — nothing to merge here"
                    )
                continue
            if agg is not None or take_last or transform is not None:
                # a finite re-window over aggregated output would need
                # the subset to model per-window table identity — only
                # the legacy un-window merge (every: inf) follows an
                # aggregate
                raise FluxError(
                    "window(every:) after an aggregation is outside the "
                    "subset (only the legacy un-window merge "
                    f"window(every: inf) follows it): {stage!r}"
                )
            every_w = _dur_arg(a, "every", params, "window")
            extra = set(a) - {"every"}
            if extra:
                raise FluxError(
                    f"window: unsupported args {sorted(extra)} (period/"
                    "offset re-windowing is outside the shipped subset)"
                )
            transform = ("window", every_w)
        elif head == "integral":
            # integral(unit:) — area under the curve per table by the
            # trapezoidal rule over subsequent non-null points (the
            # upstream definition), divided into `unit` spans. One lag
            # window + one map-side-combinable sum per table.
            a = _args(stage, "integral")
            unit_s = _dur_arg(a, "unit", params, "integral", default="1s")
            if "interpolate" in a:
                raise FluxError(
                    "integral interpolate: (gap interpolation) is outside "
                    "the shipped subset"
                )
            _no_extra(a, {"unit"}, "integral")
            transform = ("integral", unit_s)
        elif head == "timeWeightedAvg":
            # timeWeightedAvg(unit:) (round 12d) — the time-weighted
            # mean of an irregular gauge per table: the trapezoid
            # integral divided by the time span, so the unit: cancels
            # algebraically (upstream divides integral(unit) by
            # range/unit — accepted, validated, and irrelevant to the
            # value). PINNED CONVENTION: the OBSERVED span (first..last
            # point; single-point/zero-span tables yield NULL) — the
            # same convention the registered time_weighted_avg
            # operator attests — not upstream's boundary
            # interpolation to [range start, range stop), which this
            # subset's order-insensitive frame contract cannot
            # replicate without resolved range context in the stage.
            a = _args(stage, "timeWeightedAvg")
            _dur_arg(a, "unit", params, "timeWeightedAvg", default="1s")
            _no_extra(a, {"unit"}, "timeWeightedAvg")
            transform = ("twa",)
        elif head in ("top", "bottom"):
            # Flux top(n:, [columns:]) / bottom: the Data-Explorer
            # per-series extrema buttons — exactly sort(desc/asc) |>
            # limit(n), so they compile onto the same per-table rank
            # machinery (WindowGroupLimit distributed top-N; a
            # one-table frame becomes TakeOrderedAndProject)
            a = _args(stage, head)
            n = _int_arg(a, "n", params, head)
            cols = _str_list(a.get("columns", '["_value"]'), f"{head} columns")
            if not cols:
                raise FluxError(f"{head}: columns list is empty")
            _no_extra(a, {"n", "columns"}, head)
            post_ops.append(("sort", cols, head == "top"))
            post_ops.append(("limit", n))
        elif head == "sort":
            a = _args(stage, "sort")
            cols = _str_list(a.get("columns", '["_value"]'), "sort columns")
            if not cols:
                raise FluxError("sort: columns list is empty")
            desc = _bool_arg(a, "desc", params, "sort")
            _no_extra(a, {"columns", "desc"}, "sort")
            post_ops.append(("sort", cols, desc))
        elif head == "limit":
            a = _args(stage, "limit")
            n = _int_arg(a, "n", params, "limit")
            off = _resolve(a["offset"], params) if "offset" in a else 0
            if not isinstance(off, int) or isinstance(off, bool) or off < 0:
                raise FluxError(
                    f"limit offset: non-negative int required, got {off!r}"
                )
            _no_extra(a, {"n", "offset"}, "limit")
            post_ops.append(("limit", n, off))
        elif head == "tail":
            # tail(n:) — each table's LAST n rows in table order (the
            # "latest N readings" panel): the mirror of a bare limit,
            # compiled to the same distributed per-table rank machinery
            # over the REVERSED order
            a = _args(stage, "tail")
            n = _int_arg(a, "n", params, "tail")
            if "offset" in a:
                raise FluxError(
                    "tail offset: is outside the shipped subset"
                )
            _no_extra(a, {"n"}, "tail")
            post_ops.append(("tail", n))
        elif head in ("keep", "drop"):
            post_ops.append((head, _parse_columns(head, stage), stage))
        elif head == "fill":
            post_ops.append(("fill", _parse_fill(stage, params), stage))
        elif head == "rename":
            post_ops.append(("rename", _parse_rename(stage), stage))
        elif head == "duplicate":
            # duplicate(column:, as:) — copy a column under a new name
            # (upstream overwrites an existing `as` column)
            a = _args(stage, "duplicate")
            if "column" not in a or "as" not in a:
                raise FluxError("duplicate requires column: and as:")
            col = _resolve(a["column"], params)
            new = _resolve(a["as"], params)
            if not (isinstance(col, str) and isinstance(new, str)):
                raise FluxError(
                    f"duplicate column:/as: expect strings; got {stage!r}"
                )
            _no_extra(a, {"column", "as"}, "duplicate")
            post_ops.append(("duplicate", (col, new), stage))
        elif head == "set":
            # set(key:, value:) — assign a string constant column
            # (Flux set values are always strings)
            a = _args(stage, "set")
            if "key" not in a or "value" not in a:
                raise FluxError("set requires key: and value:")
            k = _resolve(a["key"], params)
            v = _resolve(a["value"], params)
            if not (isinstance(k, str) and isinstance(v, str)):
                raise FluxError(f"set key:/value: expect strings; got {stage!r}")
            _no_extra(a, {"key", "value"}, "set")
            post_ops.append(("set", (k, v), stage))
        elif head == "group":
            # Flux regrouping: re-key the tables. Grafana's inserted
            # group(columns: ["_field"]) re-keys on _field alone: same
            # values as the natural key when the filter pins
            # _measurement, minus the _measurement output column.
            group_cols = _parse_group(stage, params, natural_key)
        elif head == "yield":
            yield_name = _parse_yield(stage, params, yield_name)
        elif head == "to":
            # _strip_to detaches a TRAILING to(); reaching the loop
            # means it sits mid-pipeline — stages after the write
            # would act on the pass-through frame, outside the subset
            raise FluxError(
                "to() ships only as the final stage of the pipeline"
            )
        else:
            raise FluxError(f"unsupported stage {head!r}")

    # a sort with no later bound materializes the whole (or per-series
    # whole) frame — outside the subset; sort |> limit compiles to a
    # distributed top-N (TakeOrderedAndProject on a one-table frame,
    # WindowGroupLimit per series)
    last_sort = max(
        (i for i, op in enumerate(post_ops) if op[0] == "sort"), default=None
    )
    if last_sort is not None and not any(
        op[0] == "limit" for op in post_ops[last_sort + 1 :]
    ):
        raise FluxError(
            "sort without a following limit is outside the subset "
            "(unbounded sort)"
        )

    def _value_col(out: DataFrame, kind: str, arg: Any, stage: str) -> str:
        # the column r._value resolves onto in a tail filter/map:
        # _value itself, else the frame's named value column
        # (aggregated frames name it after the fn — the attested shape)
        if kind == "filter":
            mentions = any(
                _norm_ref(t) in ('r["_value"]', "r._value") for t in arg
            )
        else:
            mentions = bool(re.search(r'r\[\s*"_value"\s*\]|r\._value\b', arg))
        if mentions and transform is not None and transform[0] in (
            "derivative", "tma", "ma",
        ):
            # these attested frames KEEP the original _value beside the
            # named result column, while upstream REWRITES _value — a
            # filter/map on r._value here would silently act on the
            # wrong series; demand the named column instead (elapsed/
            # stateDuration/stateCount keep _value upstream too, so
            # they pass through unguarded)
            raise FluxError(
                f"{kind} on _value after {transform[0]} is ambiguous in "
                "this subset (the frame keeps the original _value beside "
                "the named result column — upstream rewrites _value): "
                f"reference the result column explicitly: {stage!r}"
            )
        if "_value" in out.columns:
            return "_value"
        kind_t = transform[0] if transform is not None else None
        cand = [
            c
            for c in (
                yield_name,
                agg[1] if agg is not None else None,
                # transforms that rewrite _value upstream but emit a
                # NAMED column here (and drop _value entirely — no
                # ambiguity)
                "integral" if kind_t == "integral" else None,
                "time_weighted_avg" if kind_t == "twa" else None,
                "last_value",
            )
            if c and c in out.columns
        ]
        if not cand:
            raise FluxError(
                f"{kind} after this stage needs a value column; frame "
                f"has {out.columns}: {stage!r}"
            )
        return cand[0]

    def _finish(out: DataFrame) -> DataFrame:
        # Flux sort/limit are PER TABLE: tables key on
        # (_measurement, _field), so the rank filter partitions by
        # every group-key column the frame still carries; a one-table
        # frame (pivot output) sorts/limits globally. A limit with no
        # pending sort keeps each table's first rows in _time order
        # (Flux's natural table order). Determinism: the orderBy is
        # always extended with the (_time, _value) tiebreak the rest
        # of the compiler uses, so tied sort keys never select
        # arbitrary rows.
        from pyspark.sql import Window

        if agg_timesrc == "_stop" and "window_start" in out.columns:
            # timeSrc: "_stop" (round 12d) — upstream's default window
            # labeling: shift the label to the window end BEFORE the
            # tail stages (Flux assigns _time from timeSrc at the
            # aggregation itself, so post-stage references see stop
            # labels). The window DURATION is period (sliding) or
            # every; agg[0] is int seconds here — calendar and
            # post-agg-transform forms raised at parse.
            out = out.withColumn(
                "window_start",
                _shift_time("window_start", int(agg[4] or agg[0])),
            )

        pending_sort: tuple | None = None
        sorted_limit_applied = False

        def sort_cols(op):
            _, cols, desc = op
            return [F.col(c).desc() if desc else F.col(c).asc() for c in cols], cols

        for op in post_ops:
            if op[0] == "sort":
                missing = [c for c in op[1] if c not in out.columns]
                if missing:
                    raise FluxError(
                        f"sort: unknown column(s) {missing}; frame has "
                        f"{out.columns}"
                    )
                pending_sort = op
            elif op[0] == "limit":
                n = op[1]
                off = op[2] if len(op) > 2 else 0
                group_keys = [
                    c for c in natural_key if c in out.columns
                ]
                if pending_sort is not None:
                    gone = [c for c in pending_sort[1] if c not in out.columns]
                    if gone:
                        raise FluxError(
                            f"limit: sort column(s) {gone} were dropped "
                            "before the limit applied"
                        )
                    order, named = sort_cols(pending_sort)
                elif sorted_limit_applied:
                    # a second bare limit after a sorted limit would
                    # silently re-order by _time — Flux keeps the
                    # sorted order; raise rather than mis-compile
                    raise FluxError(
                        "limit after a sorted limit is outside the subset "
                        "(the sorted order is not retained)"
                    )
                elif "_time" in out.columns:
                    order, named = [F.col("_time").asc()], ["_time"]
                else:
                    raise FluxError(
                        "limit without sort needs a _time column to define "
                        "the table order"
                    )
                # deterministic tiebreak: extend with (_time, _value)
                order = order + [
                    F.col(c).asc()
                    for c in ("_time", "_value")
                    if c in out.columns and c not in named
                ]
                if group_keys:
                    w = Window.partitionBy(*group_keys).orderBy(*order)
                    out = (
                        out.withColumn("__rn", F.row_number().over(w))
                        .filter(
                            (F.col("__rn") > off) & (F.col("__rn") <= off + n)
                        )
                        .drop("__rn")
                    )
                else:
                    # offset composes with the distributed top-(off+n):
                    # GlobalLimit(off+n) then skip off — never a full sort
                    out = out.orderBy(*order).offset(off).limit(n)
                if pending_sort is not None:
                    sorted_limit_applied = True
                pending_sort = None
            elif op[0] == "tail":
                n = op[1]
                if pending_sort is not None or sorted_limit_applied:
                    # tail's contract is the LAST rows in TABLE order;
                    # over a user-sorted frame "last" would mean the
                    # sort's bottom — raise rather than pick silently
                    raise FluxError(
                        "tail after sort is outside the shipped subset "
                        "(tail keeps the last rows in table order; use "
                        "sort |> limit for sorted extrema)"
                    )
                ordc = next(
                    (c for c in ("_time", "window_start") if c in out.columns),
                    None,
                )
                if ordc is None:
                    raise FluxError(
                        "tail needs a _time/window_start column to define "
                        "the table order"
                    )
                order = [F.col(ordc).desc()] + [
                    F.col(c).desc()
                    for c in ("_value",)
                    if c in out.columns and c != ordc
                ]
                group_keys = [
                    c for c in natural_key if c in out.columns
                ]
                if group_keys:
                    w = Window.partitionBy(*group_keys).orderBy(*order)
                    out = (
                        out.withColumn("__rn", F.row_number().over(w))
                        .filter(F.col("__rn") <= n)
                        .drop("__rn")
                    )
                else:
                    # one-table frame: TakeOrderedAndProject — a
                    # distributed top-N, never a single-partition sort
                    out = out.orderBy(*order).limit(n)
            else:
                out = _tail_op(
                    out,
                    op,
                    _value_col(out, *op) if op[0] in ("filter", "map") else None,
                    params,
                    natural_key,
                )
        return out

    df = _apply_row_ops(
        bkt.scan_bucket(
            spark,
            path,
            measurement=measurement,
            field=field,
            start=start,
            stop=stop,
            tags=tag_eqs or None,
        ),
        row_ops,
    )

    # the Flux table key every aggregation/transform partitions on:
    # (_measurement, _field, tags...) unless a group() stage re-keyed
    # the tables
    keys = group_cols if group_cols is not None else list(natural_key)

    def _agg_over(frame: DataFrame, raw: bool = False) -> DataFrame:
        # The aggregateWindow / bare-aggregate execution, generic over
        # its source frame: the scan (plain pipelines) or a value-series
        # transform's output (difference |> aggregateWindow — the
        # counter-to-hourly-totals composition). raw=True returns the
        # bare aggregate frame (fn-named value column, no tail stages,
        # no yield rename) — the downsample-then-rate composition's
        # input, where tails and yield apply to the TRANSFORM's output.
        every_s, fn, create_empty, agg_q, period_s, offset_s = agg
        if create_empty:
            # gap_fill's spine carries both the windowed mean and the
            # event count, so the two dashboard shapes that want empty
            # buckets rendered — a line panel (mean, NULL in gaps) and
            # a zero-filled count panel — compile off one operator
            if fn not in ("mean", "count"):
                raise FluxError(
                    "createEmpty is shipped for fn: mean and count only"
                )
            from .operators import timeseries as ts_ops

            filled = ts_ops.gap_fill(
                frame, "_time", "_value", f"{every_s} seconds", every_s, keys
            )
            if fn == "count":
                out = filled.select(
                    F.col("bucket").alias("window_start"),
                    *keys,
                    F.col("n_events").cast("long").alias(yield_name or "count"),
                )
            else:
                out = filled.select(
                    F.col("bucket").alias("window_start"),
                    *keys,
                    F.col("avg_value").alias(yield_name or "mean"),
                    F.col("n_events").alias("n"),
                )
            return _finish(out)
        name = fn if raw else (yield_name or fn)
        if fn == "quantile":
            # exact_selector with UPSTREAM Flux's rank convention
            # (ADVICE r9): Flux's getQuantileIndex picks the sorted
            # index round(q·n) − 1 (half away from zero, clamped at 0)
            # — i.e. 1-based rank max(round(q·n), 1) — which diverges
            # from SQL percentile_disc (rank ceil(q·n)) whenever
            # frac(q·n) ∈ (0, 0.5): n=5, q=0.25 → Flux's 1st smallest,
            # percentile_disc's 2nd. Spark's F.round is HALF_UP on the
            # identical IEEE product q·n, so the rank matches Go's
            # math.Round bit-for-bit. Rank order needs each table's
            # rows on one partition — the same per-table locality every
            # per-point transform (derivative, movingAverage, …)
            # already assumes; the key-less group() merge form would
            # funnel ALL raw rows through a single partition and raises
            # instead (scale trap, not a subset gap — same rule as
            # group() |> derivative()).
            if not keys and every_s is None:
                raise FluxError(
                    "group() |> quantile() would sort every raw row on "
                    "one partition — outside the shipped subset"
                )
            from pyspark.sql import Window

            src = frame.filter(F.col("_value").isNotNull())
            if every_s is None:
                g = list(keys)
                base = src
            else:
                # the WINDOWED form (the p99-per-window panel): the
                # rank runs per (window bucket, table key) — raw rows
                # shuffle once on that compound key (an exact rank has
                # no map-side partial form), and the key-less group()
                # windowed form stays distributed keyed on the bucket
                bucket = (
                    F.date_trunc(every_s, F.col("_time"))
                    if every_s in ("month", "year")
                    else F.timestamp_micros(_epoch_floor_us("_time", every_s))
                )
                base = src.select(
                    bucket.alias("window_start"), *keys, "_value"
                )
                g = ["window_start", *keys]
            wq = Window.partitionBy(*g).orderBy("_value")
            wk = Window.partitionBy(*g)
            ranked = base.select(
                *g,
                "_value",
                F.row_number().over(wq).alias("__rn"),
                F.count(F.lit(1)).over(wk).alias("__n"),
            )
            target = F.greatest(
                F.round(F.lit(float(agg_q)) * F.col("__n")).cast("long"),
                F.lit(1).cast("long"),
            )
            out = ranked.filter(F.col("__rn") == target).select(
                *g, F.col("_value").alias(name), F.col("__n").alias("n")
            )
            return _finish(out)
        if fn == "mode":
            # upstream mode(): every most-frequent value per table (one
            # row per tied mode), or a single NULL row when no value
            # repeats. Two hash aggregations over (table, value) — the
            # per-value counts are map-side combinable and the max-count
            # window runs over DISTINCT VALUES per table, never raw
            # rows. The key-less group() bare form would rank every
            # distinct value of the whole store on one partition —
            # raises as a scale trap (same rule as group()|>quantile());
            # the WINDOWED key-less form keys on window_start and stays
            # distributed.
            from pyspark.sql import Window

            if not keys and every_s is None:
                raise FluxError(
                    "group() |> mode() would rank every distinct value on "
                    "one partition — outside the shipped subset"
                )
            src = frame.filter(F.col("_value").isNotNull())
            if every_s is None:
                g = list(keys)
                base = src
            else:
                bucket = (
                    F.date_trunc(every_s, F.col("_time"))
                    if every_s in ("month", "year")
                    else F.timestamp_micros(_epoch_floor_us("_time", every_s))
                )
                base = src.select(
                    bucket.alias("window_start"),
                    *keys,
                    "_value",
                )
                g = ["window_start", *keys]
            counts = base.groupBy(*g, "_value").agg(
                F.count(F.lit(1)).alias("__c")
            )
            wk = Window.partitionBy(*g)
            out = (
                counts.withColumn("__mc", F.max("__c").over(wk))
                .filter(F.col("__c") == F.col("__mc"))
                .select(
                    *g,
                    F.when(F.col("__mc") > 1, F.col("_value")).alias(name),
                )
                .distinct()
            )
            return _finish(out)
        if fn == "skew":
            # Flux skew() is the POPULATION skewness g1 = √n·M3/M2^1.5
            # (M2/M3 = central moment sums) — NOT SQL's sample-corrected
            # skewness. Compiled from EXACT decimal power sums
            # (Σv, Σv², Σv³ — associative, deterministic across
            # partition orders, map-side combinable) with the moment
            # algebra evaluated in ONE fixed double expression order,
            # m2^1.5 spelled m2·√m2 (sqrt is correctly rounded IEEE in
            # both engines; pow is not), and the shared round-9 policy
            # (pearsonr's) absorbing the decimal→double conversion's
            # last-ulp engine differences. Zero variance (constant or
            # single-point table) yields NULL — documented, where
            # upstream's 0/0 is NaN.
            src = frame.filter(F.col("_value").isNotNull())
            # decimal(12,2), not the shared (18,2): the CUBE must stay
            # inside both engines' 38-digit decimal cap (DuckDB errors
            # on a product wider than 38). try_cast nulls an
            # out-of-domain value (|v| >= 1e10) under any ANSI setting,
            # and the __nc/n count mismatch turns the whole table's
            # skew NULL — never a silently-wrong moment computed over a
            # different population than n reports.
            d = F.col("_value").try_cast("decimal(12,2)")
            aggs = [
                F.sum(d).alias("__s1"),
                F.sum(d * d).alias("__s2"),
                F.sum(d * d * d).alias("__s3"),
                F.count(d).alias("__nc"),
                F.count(F.lit(1)).alias("n"),
            ]
            if every_s is None:
                grouped = src.groupBy(*keys).agg(*aggs)
                lead: list[str] = list(keys)
            else:
                gcol, is_struct = _window_grouping(every_s, period_s, offset_s)
                grouped = (
                    src.groupBy(gcol, *keys)
                    .agg(*aggs)
                    .select(
                        (
                            F.col("w.start").alias("window_start")
                            if is_struct
                            else F.col("window_start")
                        ),
                        *keys,
                        "__s1", "__s2", "__s3", "__nc", "n",
                    )
                )
                lead = ["window_start", *keys]
            nD = F.col("n").cast("double")
            a1 = F.col("__s1").cast("double")
            a2 = F.col("__s2").cast("double")
            a3 = F.col("__s3").cast("double")
            m2 = a2 - a1 * a1 / nD
            m3 = (
                a3
                - F.lit(3.0) * a1 * a2 / nD
                + F.lit(2.0) * a1 * a1 * a1 / (nD * nD)
            )
            skew_expr = F.round(
                F.sqrt(nD) * m3 / (m2 * F.sqrt(m2)), 9
            )
            out = grouped.select(
                *lead,
                F.when(
                    (m2 <= 0) | (F.col("__nc") != F.col("n")),
                    F.lit(None).cast("double"),
                )
                .otherwise(skew_expr)
                .alias(name),
                "n",
            )
            return _finish(out)
        if fn in (
            "mean", "sum", "count", "min", "max", "first", "last",
            "stddev", "spread",
        ):
            # the nine incremental fns share ONE expression definition
            # with compile_flux_stream (_plain_agg_expr) — the pinned
            # streaming==batch equality hangs on it (bit-exact for all
            # but stddev, whose moment merge is order-sensitive in the
            # last ulp)
            expr = _plain_agg_expr(fn)
        elif fn == "median":
            expr = F.median("_value")
        else:
            # structural backstop (VERDICT r8): an accepted-set name
            # with no expression branch must raise, never silently
            # compile to some other aggregate
            raise FluxError(f"aggregate fn {fn!r} has no compiled form")
        # shared null policy (ADVICE r9): Flux aggregates skip null
        # values of the aggregated column, and the value-series
        # transforms + quantile already filter them — the groupBy
        # source does too, so `n` counts exactly the rows the
        # aggregate saw (a null-carrying table would otherwise skew
        # mean's sum/count split and over-count n for stddev/extrema)
        src = frame.filter(F.col("_value").isNotNull())
        if every_s is None:
            # bare aggregate: one row per table over the whole range
            # (keys == [] — the group() merge form — folds everything
            # to ONE row: a partial-aggregated global agg, no shuffle
            # wider than the partial results)
            out = src.groupBy(*keys).agg(
                expr.alias(name), F.count(F.lit(1)).alias("n")
            )
        else:
            gcol, is_struct = _window_grouping(every_s, period_s, offset_s)
            out = src.groupBy(gcol, *keys).agg(
                expr.alias(name), F.count(F.lit(1)).alias("n")
            ).select(
                (
                    F.col("w.start").alias("window_start")
                    if is_struct
                    else F.col("window_start")
                ),
                *keys,
                name,
                "n",
            )
        if fn == "count":
            out = out.drop("n")
        return out if raw else _finish(out)


    if transform is not None:
        from pyspark.sql import Window

        kind = transform[0]
        if transform_post_agg:
            # the downsample-then-rate composition: the windowed
            # SELECTOR aggregate runs first (raw frame — no tails, no
            # yield), then its (window_start, value) series reshapes to
            # the value-series frame (_time, _value) and the transform
            # branches below run over it unchanged — the selector
            # output stays in the store's exact-decimal domain, so the
            # transforms' delta machinery is exactly as attested on raw
            # scans. One window-key exchange for the aggregate; the
            # per-table transform window reuses that partitioning.
            base = _agg_over(df, raw=True)
            df = (
                base.withColumnRenamed("window_start", "_time")
                .withColumnRenamed(agg[1], "_value")
                .drop("n")
            )
            agg = None  # consumed — the increase/difference branches
            # below must not re-aggregate
        if kind == "histogram":
            # Flux's CUMULATIVE histogram: B map-side-combinable
            # conditional-count aggregates in ONE groupBy pass (a
            # single tiny exchange on the table key — or the key-less
            # group() merge form, equally safe: partial aggregation,
            # never a raw-row window), then an in-row stack to the
            # long (le, _value) frame Grafana's heatmap panel reads.
            import math as _math

            bounds, ub, norm = transform[1], transform[2], transform[3]
            if not re.match(r"^\w+$", ub):
                raise FluxError(
                    f"histogram upperBoundColumn must be an identifier; "
                    f"got {ub!r}"
                )
            src = df.filter(F.col("_value").isNotNull())
            aggs = [
                F.sum(
                    F.when(F.col("_value") <= F.lit(b), F.lit(1)).otherwise(
                        F.lit(0)
                    )
                )
                .cast("double")
                .alias(f"__h{i}")
                for i, b in enumerate(bounds)
            ]
            if norm:
                # normalize: true — each cumulative count ÷ the table's
                # total record count (upstream's proportion form; values
                # above every bound keep the top proportion < 1). One
                # extra count cell in the SAME aggregation pass, one
                # IEEE division per bound.
                aggs.append(F.count(F.lit(1)).cast("double").alias("__tot"))
            g = src.groupBy(*keys).agg(*aggs)
            if norm:
                g = g.select(
                    *keys,
                    *[
                        (F.col(f"__h{i}") / F.col("__tot")).alias(f"__h{i}")
                        for i in range(len(bounds))
                    ],
                )
            pairs = ", ".join(
                (
                    "CAST('Infinity' AS DOUBLE)"
                    if _math.isinf(b)
                    else f"{b!r}D"
                )
                + f", __h{i}"
                for i, b in enumerate(bounds)
            )
            out = g.selectExpr(
                *keys,
                f"stack({len(bounds)}, {pairs}) AS ({ub}, _value)",
            )
            if yield_name:
                out = out.withColumnRenamed("_value", yield_name)
            return _finish(out)
        if kind == "histogram_quantile":
            # fused histogram |> histogramQuantile: the SAME B
            # conditional-count aggregates the histogram pass computes
            # (one tiny exchange on the table key — or the key-less
            # merge form, equally partial-aggregated), then an in-row
            # first-bucket walk + linear interpolation. Upstream rules:
            # the first upper bound whose cumulative count reaches
            # q·total wins; its lower edge is the previous bound (or
            # minValue for the first); a +Inf winning bucket yields its
            # lower edge verbatim. The interpolation expression is
            # written in exactly the order the SQL oracle replays
            # (lower + (upper − lower) · (rank − lc) / (count − lc)),
            # so outputs are bit-identical. The selected bucket always
            # has count > previous count (monotone cumulative counts),
            # so the denominator is never 0 while total > 0; an
            # all-above-bounds table (total = 0) yields NULL.
            import math as _math

            bounds, qv, minv = transform[1], transform[2], transform[3]
            src = df.filter(F.col("_value").isNotNull())
            aggs = [
                F.sum(
                    F.when(F.col("_value") <= F.lit(b), F.lit(1)).otherwise(
                        F.lit(0)
                    )
                )
                .cast("double")
                .alias(f"__h{i}")
                for i, b in enumerate(bounds)
            ]
            g = src.groupBy(*keys).agg(*aggs)
            total = F.col(f"__h{len(bounds) - 1}")
            rank = F.lit(qv) * total
            expr = F.lit(None).cast("double")
            for i in reversed(range(len(bounds))):
                lower = (
                    F.lit(minv) if i == 0 else F.lit(float(bounds[i - 1]))
                )
                lcount = F.lit(0.0) if i == 0 else F.col(f"__h{i - 1}")
                if _math.isinf(bounds[i]):
                    val_i = lower
                else:
                    val_i = lower + (F.lit(float(bounds[i])) - lower) * (
                        rank - lcount
                    ) / (F.col(f"__h{i}") - lcount)
                expr = F.when(F.col(f"__h{i}") >= rank, val_i).otherwise(expr)
            out = g.select(
                *keys,
                F.when(total <= 0, F.lit(None).cast("double"))
                .otherwise(expr)
                .alias(yield_name or "_value"),
            )
            return _finish(out)
        if not keys and kind not in (
            "pivot", "distinct", "window", "unique", "extrema",
            "histogram_quantile", "columns", "key_values", "reduce",
        ):
            # a per-point window transform over the merged-one-table key
            # is a single-partition window over raw rows — a scale trap,
            # not a plan; raise rather than compile it. distinct/window
            # stay distributed key-less (hash-distinct / narrow map),
            # unique partitions by the deduped VALUE, and extrema /
            # histogram_quantile / reduce are partial-aggregations
            # (safe global — review r11b: the guard previously raised
            # on group() |> reduce() although its own branch documents
            # the key-less merge form as safe).
            raise FluxError(
                f"group() (merge all series) before {kind} is outside the "
                "subset: the per-point transform would run in one partition"
            )
        if kind == "columns":
            if not keys:
                raise FluxError(
                    "group() |> columns() is outside the shipped subset "
                    "(merge all series first, then ask for labels?)"
                )
            outcol = transform[1]
            if outcol in keys:
                # the exploded label column would sit beside a
                # same-named key column — every later reference turns
                # AMBIGUOUS_REFERENCE; raise at compile time instead
                raise FluxError(
                    f"columns column: {outcol!r} collides with a table "
                    f"key column; pick another name"
                )
            labels = F.array(
                *[
                    F.lit(c)
                    for c in (
                        "_measurement",
                        "_field",
                        *store_tag_cols,
                        "_time",
                        "_value",
                    )
                ]
            )
            out = (
                df.select(*keys)
                .distinct()
                .select(*keys, F.explode(labels).alias(outcol))
            )
            return _finish(out)
        if kind == "key_values":
            if not keys:
                raise FluxError(
                    "group() |> keyValues() is outside the shipped subset "
                    "(the merged table has no key columns to list)"
                )
            kv_cols = transform[1]
            gone = [c for c in kv_cols if c not in keys]
            if gone:
                # after a group() re-key the dropped key columns are
                # ordinary value columns; listing their per-table
                # distinct values is outside the subset — raise rather
                # than silently listing a subset of the request
                raise FluxError(
                    f"keyValues: column(s) {gone} are not in the current "
                    f"table key {keys} (re-keyed by group()?)"
                )
            base = df.select(*keys).distinct()
            pairs = ", ".join(f"'{c}', {c}" for c in kv_cols)
            out = base.selectExpr(
                *keys, f"stack({len(kv_cols)}, {pairs}) AS (_key, _value)"
            )
            return _finish(out)
        if kind == "unique":
            # first row per (table, value): row_number over a window
            # partitioned by the VALUE too — distributed by value even
            # in the key-less group() form, never one partition
            col = transform[1]
            if col not in df.columns:
                raise FluxError(
                    f"unique: unknown column {col!r}; frame has {df.columns}"
                )
            wu = Window.partitionBy(*keys, col).orderBy("_time", "_value")
            # the deduplicated column stays in the output even when it
            # is not part of the logical frame's standard columns (e.g.
            # group() |> unique(column: "_field") must say WHICH field
            # each kept row belongs to)
            out_cols = [
                *keys,
                *([col] if col not in (*keys, "_time", "_value") else []),
                "_time",
                "_value",
            ]
            out = (
                df.withColumn("__rn", F.row_number().over(wu))
                .filter(F.col("__rn") == 1)
                .select(*out_cols)
            )
            if yield_name:
                out = out.withColumnRenamed("_value", yield_name)
            return _finish(out)
        if kind == "distinct":
            # hash-distinct: partial (map-side) dedup, one exchange on
            # (keys, value); output is keys + _value per upstream
            col = transform[1]
            if col not in df.columns:
                raise FluxError(
                    f"distinct: unknown column {col!r}; frame has "
                    f"{df.columns}"
                )
            out = df.select(*keys, F.col(col).alias("_value")).distinct()
            if yield_name:
                out = out.withColumnRenamed("_value", yield_name)
            return _finish(out)
        if kind == "window":
            # narrow map: epoch-aligned tumbling bounds as columns
            every_us = transform[1] * 1_000_000
            start_us = _epoch_floor_us("_time", transform[1])
            out = df.select(
                *keys,
                F.timestamp_micros(start_us).alias("_start"),
                F.timestamp_micros(start_us + F.lit(every_us)).alias("_stop"),
                "_time",
                "_value",
            )
            if yield_name:
                out = out.withColumnRenamed("_value", yield_name)
            return _finish(out)
        if kind in ("integral", "twa"):
            # ONE trapezoid definition for both consumers (review 12d):
            # Σ (vᵢ + vᵢ₋₁)·Δtᵢ over exact decimals (associative →
            # deterministic across partition orders) per table — the
            # lag window + a map-side-combinable sum; single-point
            # tables yield NULL (no segment), matching the SQL
            # SUM-of-empty. integral divides the area into `unit`
            # spans; twa divides by the OBSERVED span (zero-span →
            # NULL), with the registered oracle family's double-op
            # order: trap(double) / (2.0 * span(double)).
            src = df.filter(F.col("_value").isNotNull())
            w = Window.partitionBy(*keys).orderBy("_time", "_value")
            y = _dec("_value")
            seg = (y + F.lag(y).over(w)) * (
                F.unix_micros("_time") - F.lag(F.unix_micros("_time")).over(w)
            ).cast("decimal(18,0)")
            grouped = (
                src.select(
                    *keys,
                    F.unix_micros("_time").alias("__us"),
                    seg.alias("__seg"),
                )
                .groupBy(*keys)
                .agg(
                    F.sum("__seg").alias("__a"),
                    (F.max("__us") - F.min("__us")).alias("__span"),
                    F.count(F.lit(1)).alias("n"),
                )
            )
            if kind == "integral":
                unit_s = transform[1]
                value = (
                    F.col("__a").cast("double")
                    / F.lit(2.0 * unit_s * 1_000_000.0)
                ).alias(yield_name or "integral")
            else:
                value = F.when(
                    F.col("__span") > 0,
                    F.col("__a").cast("double")
                    / (F.lit(2.0) * F.col("__span").cast("double")),
                ).alias(yield_name or "time_weighted_avg")
            return _finish(grouped.select(*keys, value, "n"))
        if kind in ("ema", "ema2", "ema3", "rsi", "trix", "kama", "etma"):
            from .operators.timeseries import (
                flux_ema,
                flux_ema_chain,
                flux_etma,
                flux_kama,
                flux_rsi,
                flux_trix,
            )

            src = df.filter(F.col("_value").isNotNull())
            if kind == "ema":
                series = flux_ema(src, "_time", "_value", keys, transform[1])
            elif kind == "etma":
                series = flux_etma(src, "_time", "_value", keys, transform[1])
            elif kind == "rsi":
                series = flux_rsi(src, "_time", "_value", keys, transform[1])
            elif kind == "trix":
                series = flux_trix(src, "_time", "_value", keys, transform[1])
            elif kind == "kama":
                series = flux_kama(src, "_time", "_value", keys, transform[1])
            else:
                series = flux_ema_chain(
                    src, "_time", "_value", keys, transform[1],
                    level=2 if kind == "ema2" else 3,
                )
            if agg is not None:
                # <kernel transform> |> aggregateWindow: the windowed
                # aggregate runs over the rewritten series
                return _agg_over(series.drop("__seq"))
            if take_last:
                # the fold's true final element: max_by(__seq), not
                # max_by((_time, _value)) — on a tied final timestamp
                # the greatest EMA value need not be the last one
                out = series.groupBy(*keys).agg(
                    F.max_by("_time", "__seq").alias("last_ts"),
                    F.max_by("_value", "__seq").alias("last_value"),
                )
                if yield_name:
                    out = out.withColumnRenamed("last_value", yield_name)
                return _finish(out)
            series = series.drop("__seq")
            if yield_name:
                series = series.withColumnRenamed("_value", yield_name)
            return _finish(series)
        if kind == "derivative":
            # ONE implementation for every (unit, nonNegative) combo —
            # Δv ÷ (Δt/unit) per pair, reset-aware when nonNegative
            # (a decrease assumes the previous value should have been
            # 0, the `rate` rule) — so switching unit: rescales values
            # and NEVER changes pairing or null semantics. Shared null
            # policy: null _value filtered before the lag (pairs skip
            # nulls), uniform with every other value-series transform;
            # try_divide nulls the zero-Δt duplicate pairs and the lag
            # nulls the first row — both filtered (Flux drops the
            # per-table first row; round 8, ADVICE r7). On the store's
            # null-free frames the (1s, nonNegative) counter form is
            # the same IEEE tree as operators.timeseries.rate
            # (value-pinned in tests). One series-key window shuffle.
            unit_s, nonneg = transform[1], transform[2]
            w = Window.partitionBy(*keys).orderBy("_time", "_value")
            src = df.filter(F.col("_value").isNotNull())
            prev_v = F.lag("_value").over(w)
            delta = (
                F.when(F.col("_value") >= prev_v, F.col("_value") - prev_v)
                .otherwise(F.col("_value"))
                if nonneg
                else F.col("_value") - prev_v
            )
            denom = (
                F.unix_micros("_time") - F.lag(F.unix_micros("_time")).over(w)
            ) / F.lit(unit_s * 1_000_000.0)
            out = src.select(
                *keys,
                "_time",
                "_value",
                F.try_divide(delta, denom).alias(yield_name or "derivative"),
            ).filter(F.col(yield_name or "derivative").isNotNull())
            return _finish(out)
        if kind == "sample":
            # every n-th record per table (deterministic pos) — one
            # row_number window on the series key, the same per-table
            # locality every per-point transform assumes. A SELECTOR,
            # not an aggregate: it indexes RAW records (null _value
            # rows count toward positions, exactly like limit()/tail()
            # and upstream sample) — the shared null policy applies to
            # value arithmetic, not record selection.
            n, pos = transform[1], transform[2]
            w = Window.partitionBy(*keys).orderBy("_time", "_value")
            out = (
                df.select(
                    *keys, "_time", "_value",
                    F.row_number().over(w).alias("__rn"),
                )
                .filter((F.col("__rn") - 1) % n == pos)
                .drop("__rn")
            )
            if yield_name:
                out = out.withColumnRenamed("_value", yield_name)
            return _finish(out)
        if kind in ("cmo", "ker"):
            # the trailing-frame technical indicators — pure Catalyst:
            # deltas via one lag, then a ROWS (−(n−1), 0) frame over
            # EXACT decimals (sliding-frame sums replay identically in
            # DuckDB's segment tree because integer-backed decimals are
            # associative), ONE double division per row at the end.
            # Flux emits nothing until n deltas exist → rows 1..n drop.
            # A zero denominator (flat window) yields 0 — pinned
            # explicitly on BOTH sides because IEEE 0/0 is engine-
            # dependent (DuckDB returns NULL, Spark NaN).
            n = transform[1]
            wo = Window.partitionBy(*keys).orderBy("_time", "_value")
            src = df.filter(F.col("_value").isNotNull())
            y = _dec("_value")
            zero = F.lit(0).cast("decimal(18,2)")
            if kind == "cmo":
                d = y - F.lag(y).over(wo)
                base = src.select(
                    *keys, "_time", "_value", d.alias("__d"),
                    F.row_number().over(wo).alias("__rn"),
                )
                wf = (
                    Window.partitionBy(*keys)
                    .orderBy("_time", "_value")
                    .rowsBetween(-(n - 1), 0)
                )
                up = F.sum(
                    F.when(F.col("__d") > 0, F.col("__d")).otherwise(zero)
                ).over(wf)
                dn = F.sum(
                    F.when(F.col("__d") < 0, -F.col("__d")).otherwise(zero)
                ).over(wf)
                point = F.when((up + dn) == 0, F.lit(0.0)).otherwise(
                    ((up - dn) * 100).cast("double")
                    / (up + dn).cast("double")
                )
            else:
                # Kaufman's Efficiency Ratio: |net move over n deltas|
                # ÷ Σ|per-step move| — 1.0 on a straight trend, → 0 on
                # churn; the telescoping inequality caps it at 1.
                d = F.abs(y - F.lag(y).over(wo))
                base = src.select(
                    *keys, "_time", "_value",
                    F.abs(y - F.lag(y, n).over(wo)).alias("__num"),
                    d.alias("__d"),
                    F.row_number().over(wo).alias("__rn"),
                )
                wf = (
                    Window.partitionBy(*keys)
                    .orderBy("_time", "_value")
                    .rowsBetween(-(n - 1), 0)
                )
                den = F.sum(F.col("__d")).over(wf)
                point = F.when(den == 0, F.lit(0.0)).otherwise(
                    F.col("__num").cast("double") / den.cast("double")
                )
            series = base.select(
                *keys, "_time", point.alias("_value"), "__rn"
            ).filter(F.col("__rn") >= n + 1)
            if agg is not None:
                return _agg_over(series.drop("__rn"))
            if take_last:
                # the fold's true final element via max_by(__rn) — a
                # (_time, _value) max_by could pick the wrong row on a
                # tied final timestamp (the rewritten indicator value
                # need not order like the table order; same rule as the
                # EMA kernel's __seq)
                out = series.groupBy(*keys).agg(
                    F.max_by("_time", "__rn").alias("last_ts"),
                    F.max_by("_value", "__rn").alias("last_value"),
                )
                if yield_name:
                    out = out.withColumnRenamed("last_value", yield_name)
                return _finish(out)
            series = series.drop("__rn")
            if yield_name:
                series = series.withColumnRenamed("_value", yield_name)
            return _finish(series)
        if kind == "holt_winters":
            # Interval-normalize (floor to interval, FIRST point per
            # slot — upstream's rule), fold the additive Holt
            # recurrence per table as a JVM struct-accumulator over the
            # sorted slot array (the attested holt_linear_final
            # pattern: every smoothing constant dyadic, one fixed
            # expression order, bit-identical to the recursive-CTE
            # oracle), then emit n forecast rows l + i·b at interval
            # spacing after the last slot. The per-table array is
            # bounded by range/interval (slots, not raw rows) — the
            # same attestation/diagnostic tier as holt_linear_final;
            # the slot-first aggregation is map-side combinable.
            hw_n, hw_int_s, hw_m = transform[1], transform[2], transform[3]
            hw_fit = transform[4]
            # withFit: true (round 12) — the fit-emission convention is
            # PINNED (the holtWinters-constants / KAMA-seed precedent):
            # the fitted value at slot i is the ONE-STEP-AHEAD forecast
            # the recurrence held before consuming x_i — l_{i−1} +
            # b_{i−1} (+ s[1], the about-to-be-consumed seasonal index)
            # — emitted at the slot's own timestamp for every slot that
            # has a prior state (i ≥ 2 non-seasonal, i ≥ m+1 seasonal),
            # followed by the n forecasts. Upstream emits its gonum
            # fit trajectory, which is not cross-engine replayable; the
            # pinned fold is, and the recursive-CTE oracle re-emits the
            # same per-slot values bit-for-bit.
            unit_us = hw_int_s * 1_000_000
            src = df.filter(F.col("_value").isNotNull())
            per_slot = src.groupBy(
                *keys,
                F.timestamp_micros(_epoch_floor_us("_time", hw_int_s)).alias(
                    "__slot"
                ),
            ).agg(
                F.min_by(
                    "_value", F.struct(F.col("_time"), F.col("_value"))
                ).alias("__x")
            )
            g = per_slot.groupBy(*keys).agg(
                F.max("__slot").alias("__last"),
                F.sort_array(
                    F.collect_list(F.struct("__slot", "__x"))
                ).alias("__s"),
            )
            xs = F.transform(F.col("__s"), lambda s: s["__x"].cast("double"))

            if hw_m:
                # SEASONAL additive form: classic init over the first
                # season (l₀ = mean of cycle 1, b₀ = mean cross-cycle
                # slope Σ(x_{m+i}−x_i)/m², s_i = x_i − l₀), then the
                # triple recurrence with the same dyadic constants
                # (γ = 0.25); the seasonal index advances per SLOT in
                # the table's slot sequence. Series shorter than TWO
                # full seasons emit nothing (the init needs both
                # cycles). Forecast h = l + h·b + s[(h−1) mod m + 1]
                # over the final season window. Every expression is
                # spelled in the exact order the list-carrying
                # recursive-CTE oracle replays (the doubleEMA oracle
                # technique), so outputs are bit-identical.
                m = hw_m
                g = g.filter(F.size(F.col("__s")) >= 2 * m)
                head = F.slice(xs, 1, m)
                l0 = F.aggregate(
                    F.slice(head, 2, m - 1),
                    F.element_at(head, 1),
                    lambda a, x: a + x,
                ) / F.lit(float(m))
                diffs = F.transform(
                    F.sequence(F.lit(1), F.lit(m)),
                    lambda i: F.element_at(xs, i + m) - F.element_at(xs, i),
                )
                b0 = F.aggregate(
                    F.slice(diffs, 2, m - 1),
                    F.element_at(diffs, 1),
                    lambda a, x: a + x,
                ) / F.lit(float(m * m))
                s0 = F.transform(head, lambda x: x - l0)

                def _hws_step(acc, x):
                    s_old = F.element_at(acc["s"], 1)
                    l_new = F.lit(0.5) * (x - s_old) + F.lit(0.5) * (
                        acc["l"] + acc["b"]
                    )
                    b_new = (
                        F.lit(0.25) * (l_new - acc["l"])
                        + F.lit(0.75) * acc["b"]
                    )
                    s_new = F.lit(0.25) * (x - l_new) + F.lit(0.75) * s_old
                    fields = [
                        l_new.alias("l"),
                        b_new.alias("b"),
                        F.concat(
                            F.slice(acc["s"], 2, m - 1), F.array(s_new)
                        ).alias("s"),
                    ]
                    if hw_fit:
                        # the one-step-ahead value BEFORE consuming x
                        fields.append(
                            F.concat(
                                acc["fits"],
                                F.array(acc["l"] + acc["b"] + s_old),
                            ).alias("fits")
                        )
                    return F.struct(*fields)

                init_fields = [l0.alias("l"), b0.alias("b"), s0.alias("s")]
                if hw_fit:
                    init_fields.append(
                        F.array().cast("array<double>").alias("fits")
                    )
                hw = F.aggregate(
                    F.slice(
                        xs, m + 1, F.greatest(F.size(xs) - m, F.lit(0))
                    ),
                    F.struct(*init_fields),
                    _hws_step,
                )
                value_of = lambda i: (  # noqa: E731
                    hw["l"]
                    + i.cast("double") * hw["b"]
                    + F.element_at(
                        hw["s"], ((i - F.lit(1)) % F.lit(m) + F.lit(1)).cast("int")
                    )
                )
            else:

                def _hw_step(acc, x):
                    l_new = F.lit(0.5) * x + F.lit(0.5) * (acc["l"] + acc["b"])
                    b_new = F.lit(0.25) * (l_new - acc["l"]) + F.lit(0.75) * acc["b"]
                    fields = [l_new.alias("l"), b_new.alias("b")]
                    if hw_fit:
                        fields.append(
                            F.concat(
                                acc["fits"], F.array(acc["l"] + acc["b"])
                            ).alias("fits")
                        )
                    return F.struct(*fields)

                init_fields = [
                    F.element_at(xs, 1).alias("l"), F.lit(0.0).alias("b")
                ]
                if hw_fit:
                    init_fields.append(
                        F.array().cast("array<double>").alias("fits")
                    )
                hw = F.aggregate(
                    F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
                    F.struct(*init_fields),
                    _hw_step,
                )
                value_of = lambda i: hw["l"] + i.cast("double") * hw["b"]  # noqa: E731

            fc = F.transform(
                F.sequence(F.lit(1), F.lit(hw_n)),
                lambda i: F.struct(
                    F.timestamp_micros(
                        F.unix_micros("__last")
                        + i.cast("long") * F.lit(unit_us)
                    ).alias("_time"),
                    value_of(i).alias("_value"),
                ),
            )
            if hw_fit:
                # fitted rows at the input slots' own timestamps: slot
                # i ≥ skip+1 pairs with fits[i − skip] (the fold pushed
                # one fit per consumed slot, in slot order)
                skip = hw_m if hw_m else 1
                slot_times = F.transform(
                    F.col("__s"), lambda s: s["__slot"]
                )
                fit_rows = F.zip_with(
                    F.slice(
                        slot_times,
                        skip + 1,
                        F.greatest(F.size(xs) - skip, F.lit(0)),
                    ),
                    hw["fits"],
                    lambda t, v: F.struct(
                        t.alias("_time"), v.alias("_value")
                    ),
                )
                fc = F.concat(fit_rows, fc)
            out = g.select(*keys, F.explode(fc).alias("__f")).select(
                *keys,
                F.col("__f._time").alias("_time"),
                F.col("__f._value").alias("_value"),
            )
            if yield_name:
                out = out.withColumnRenamed("_value", yield_name)
            return _finish(out)
        if kind == "extrema":
            which, n = transform[1], transform[2]
            src = df.filter(F.col("_value").isNotNull())
            if which in ("highestMax", "lowestMin"):
                # the extremum RECORD per table; value ties resolve to
                # the LATER timestamp for both directions (the
                # documented deterministic tie rule) — min_by/max_by
                # over an ordering struct whose time component is
                # negated on the min side, map-side combinable
                rec = F.struct(F.col("_time"), F.col("_value"))
                s = (
                    F.max_by(
                        rec,
                        F.struct(F.col("_value"), F.unix_micros("_time")),
                    )
                    if which == "highestMax"
                    else F.min_by(
                        rec,
                        F.struct(F.col("_value"), -F.unix_micros("_time")),
                    )
                )
                per = src.groupBy(*keys).agg(s.alias("__m")).select(
                    *keys,
                    F.col("__m._time").alias("_time"),
                    F.col("__m._value").alias("_value"),
                )
            elif which in ("highestAverage", "lowestAverage"):
                per = src.groupBy(*keys).agg(
                    (F.sum(_dec("_value")).cast("double") / F.count(F.lit(1)))
                    .alias("_value")
                )
            else:  # highestCurrent / lowestCurrent: the latest record
                per = src.groupBy(*keys).agg(
                    F.max(F.struct(F.col("_time"), F.col("_value")))
                    .alias("__m")
                ).select(
                    *keys,
                    F.col("__m._time").alias("_time"),
                    F.col("__m._value").alias("_value"),
                )
            desc = which.startswith("highest")
            order = [
                F.col("_value").desc() if desc else F.col("_value").asc()
            ] + [F.col(k).asc() for k in keys]
            out = per.orderBy(*order).limit(n)
            if yield_name:
                out = out.withColumnRenamed("_value", yield_name)
            return _finish(out)
        if kind == "state_count":
            # stateCount: run ids via the same change detection as
            # stateDuration; the value is the 1-based position within
            # the current TRUE run, −1 where the predicate is false
            pred = transform[1]
            runs = _state_runs(df, keys, pred)
            wr = Window.partitionBy(*keys, "run_id").orderBy("_time", "_value")
            cnt = F.row_number().over(wr).cast("long")
            return _finish(runs.select(
                *keys,
                "_time",
                "_value",
                "state",
                F.when(F.col("state"), cnt)
                .otherwise(F.lit(-1).cast("long"))
                .alias(yield_name or "stateCount"),
            ))
        if kind == "tma":
            # mirror the attested trailing_1h_mean form: TIME-distance
            # RANGE frame over integer epoch µs, exact decimal sums
            period_s = transform[1]
            w = (
                Window.partitionBy(*keys)
                .orderBy(F.unix_micros("_time"))
                .rangeBetween(-(period_s * 1_000_000 - 1), 0)
            )
            return _finish(df.select(
                *keys,
                "_time",
                "_value",
                (
                    F.sum(_dec("_value")).over(w).cast("double")
                    / F.count("_value").over(w).cast("double")
                ).alias(yield_name or "trailing_mean"),
            ))
        if kind == "ma":
            # Flux movingAverage(n): trailing ROW frame, and the first
            # n−1 points of each series are DROPPED (Flux emits nothing
            # until a full window exists); (_time, _value) tiebreak
            # makes the row frame deterministic on tied timestamps
            n = transform[1]
            wo = Window.partitionBy(*keys).orderBy("_time", "_value")
            w = wo.rowsBetween(-(n - 1), 0)
            return _finish(
                df.select(
                    *keys,
                    "_time",
                    "_value",
                    (
                        F.sum(_dec("_value")).over(w).cast("double")
                        / F.count("_value").over(w).cast("double")
                    ).alias(yield_name or "moving_avg"),
                    F.row_number().over(wo).alias("__rn"),
                )
                .filter(F.col("__rn") >= n)
                .drop("__rn")
            )
        if kind == "pivot":
            # the Data-Explorer table view: one row per (residual
            # table key, _time) — the pivoted column (_field, or a
            # promoted tag: the per-host overlay table, round 12d)
            # leaves the key and becomes columns (Spark infers + SORTS
            # the distinct pivot values — deterministic column order);
            # duplicate cells resolve to MAX (the documented tie rule)
            if group_cols is not None:
                raise FluxError(
                    "pivot after group() is outside the subset (the "
                    "Data-Explorer emits pivot over the natural table key)"
                )
            pcol = transform[1]
            return _finish(
                df.groupBy(
                    *[c for c in natural_key if c != pcol], "_time"
                )
                .pivot(pcol)
                .agg(F.max("_value"))
            )
        if kind == "elapsed":
            # per-table gap between subsequent records in whole units —
            # the long cast truncates toward zero on the non-negative
            # µs diff, exactly Flux's integer duration division; the
            # first row of each table is dropped (no predecessor), and
            # null values are excluded first (shared null policy)
            unit_us = transform[1] * 1_000_000
            w = Window.partitionBy(*keys).orderBy("_time", "_value")
            src = df.filter(F.col("_value").isNotNull())
            out = (
                src.select(
                    *keys,
                    "_time",
                    "_value",
                    F.lag(F.unix_micros("_time")).over(w).alias("__prev_us"),
                )
                .filter(F.col("__prev_us").isNotNull())
                .select(
                    *keys,
                    "_time",
                    "_value",
                    (
                        (F.unix_micros("_time") - F.col("__prev_us"))
                        / F.lit(unit_us)
                    )
                    .cast("long")
                    .alias(yield_name or "elapsed"),
                )
            )
            return _finish(out)
        if kind == "events_duration":
            # per-record duration until the NEXT record (one lead
            # window on the table key); the last record closes against
            # the stop bound. Same truncation convention as elapsed():
            # integer-µs diff, double-divided by the unit, long cast
            # (toward zero on the non-negative diff). EVERY record
            # keeps its row — unlike elapsed(), which drops the first —
            # and upstream events.duration is RECORD-based, so
            # null-_value records keep their rows and their durations
            # too (the sample()/limit() record-selection rule, review
            # r11b: the value-null policy governs value arithmetic, and
            # duration is time arithmetic). Null ordering on a tied
            # timestamp is nulls-first, the engine's asc default —
            # pinned in the oracle with NULLS FIRST.
            unit_us = transform[1] * 1_000_000
            eff_stop = transform[2] if transform[2] is not None else stop
            if eff_stop is None:
                raise FluxError(
                    "events.duration needs a stop bound: pass stop: or "
                    "set range(stop:)"
                )
            w = Window.partitionBy(*keys).orderBy("_time", "_value")
            src = df
            stop_us = F.unix_micros(F.to_timestamp(F.lit(eff_stop)))
            nxt_us = F.lead(F.unix_micros("_time")).over(w)
            out = src.select(
                *keys,
                "_time",
                "_value",
                (
                    (F.coalesce(nxt_us, stop_us) - F.unix_micros("_time"))
                    / F.lit(unit_us)
                )
                .cast("long")
                .alias(yield_name or transform[3]),
            )
            return _finish(out)
        if kind == "interpolate":
            # interpolate.linear(every:): per table, insert rows at
            # epoch-aligned every-multiples strictly inside the series'
            # (min, max) span that have no raw row at that exact
            # timestamp, linearly interpolated between the bracketing
            # raw points; raw rows pass through unchanged. When several
            # raw rows share a timestamp the interpolation inputs take
            # the MAX value (pivot's documented tie rule — upstream
            # assumes unique times per table).
            #
            # PAIR-EXPLODE plan (round 11b review): dedup and the
            # consecutive-point pairing are two window passes over ONE
            # hash exchange on the table key (the first pass's
            # (time asc, value desc) sort makes first-per-timestamp ≡
            # per-timestamp MAX; the second reuses the partitioning);
            # each pair then EXPLODES exactly the aligned marks
            # strictly between its endpoints — no grid/bounds
            # aggregate, no anti-join (a mark strictly inside a
            # consecutive pair cannot collide with any raw timestamp).
            # The naive grid-union-window form costs 4 exchanges; this
            # is the same output in 1 + the pruned rescan for the
            # pass-through rows.
            ev_us = transform[1] * 1_000_000
            lit_ev = F.lit(ev_us).cast("long")
            src = df.filter(F.col("_value").isNotNull()).select(
                *keys, "_time", "_value"
            )
            t_us = F.unix_micros("_time")
            wd = Window.partitionBy(*keys).orderBy(
                "_time", F.col("_value").desc()
            )
            dd = src.select(
                *keys, "_time", "_value", F.lag(t_us).over(wd).alias("__lt")
            )
            uniq = dd.filter(
                F.col("__lt").isNull() | (F.col("__lt") != t_us)
            ).drop("__lt")
            w2 = Window.partitionBy(*keys).orderBy("_time")
            pairs = uniq.select(
                *keys,
                t_us.alias("__t"),
                F.col("_value").alias("__v"),
                F.lag(t_us).over(w2).alias("__pt"),
                F.lag("_value").over(w2).alias("__pv"),
            ).filter(F.col("__pt").isNotNull())
            # aligned marks strictly inside (__pt, __t):
            # floor_al(__pt) + ev .. floor_al(__t − 1); pmod keeps the
            # floor alignment correct for pre-epoch (negative µs) times
            lo = F.col("__pt") - F.pmod(F.col("__pt"), lit_ev) + lit_ev
            hi = (F.col("__t") - 1) - F.pmod(F.col("__t") - 1, lit_ev)
            # pinned expression order (the oracle replays it verbatim):
            # pv + (nv − pv) · ((t − pt) / (nt − pt)), deltas exact in
            # int64 µs then cast to double for ONE division
            filled = (
                pairs.select(
                    *keys, "__pt", "__pv", "__t", "__v",
                    lo.alias("__lo"), hi.alias("__hi"),
                )
                .filter(F.col("__lo") <= F.col("__hi"))
                .select(
                    *keys, "__pt", "__pv", "__t", "__v",
                    F.explode(
                        F.sequence(F.col("__lo"), F.col("__hi"), lit_ev)
                    ).alias("__us"),
                )
                .select(
                    *keys,
                    F.timestamp_micros("__us").alias("_time"),
                    (
                        F.col("__pv")
                        + (F.col("__v") - F.col("__pv"))
                        * (
                            (F.col("__us") - F.col("__pt")).cast("double")
                            / (F.col("__t") - F.col("__pt")).cast("double")
                        )
                    ).alias("_value"),
                )
            )
            out = src.unionByName(filled)
            if agg is not None:
                # interpolate.linear |> aggregateWindow — the
                # regularize-then-window panel chain: the windowed
                # aggregate runs over the densified series (raw +
                # inserted rows), exactly Flux's composition order
                return _agg_over(out)
            if take_last:
                from .operators.timeseries import last_value_per_group

                res = last_value_per_group(out, "_time", "_value", keys)
                if yield_name:
                    res = res.withColumnRenamed("last_value", yield_name)
                return _finish(res)
            if yield_name:
                out = out.withColumnRenamed("_value", yield_name)
            return _finish(out)
        if kind == "reduce":
            # the additive fold: identity + Σ poly(r) per accumulator
            # field over EXACT decimals (skew's decimal(12,2) domain —
            # sums/products associative, deterministic across partition
            # orders, map-side combinable; try_cast nulls out-of-domain
            # values ≥ 1e10 instead of silently overflowing), ONE
            # double conversion per field at the end. One tiny exchange
            # on the table key — or the key-less group() merge form,
            # equally safe (partial aggregation).
            rd_fields, rd_identity = transform[1], transform[2]
            src = df.filter(F.col("_value").isNotNull())
            d = F.col("_value").try_cast("decimal(12,2)")
            aggs = []
            for fname, factors in rd_fields:
                term = None
                for fac in factors:
                    c = (
                        d
                        if fac[0] == "val"
                        else F.lit(fac[1]).cast("decimal(12,2)")
                    )
                    term = c if term is None else term * c
                aggs.append(F.sum(term).alias(f"__{fname}"))
            out = (
                src.groupBy(*keys)
                .agg(*aggs)
                .select(
                    *keys,
                    *[
                        (
                            F.lit(rd_identity[fname]).cast("decimal(12,2)")
                            + F.col(f"__{fname}")
                        )
                        .cast("double")
                        .alias(fname)
                        for fname, _ in rd_fields
                    ],
                )
            )
            return _finish(out)
        if kind == "reduce_fold":
            # the CROSS-FIELD fold (round 12): Flux record-constructor
            # semantics — every field expression evaluates against the
            # PREVIOUS accumulator, rows consumed in table order
            # (_time, _value) — on the sanctioned Arrow per-series
            # kernel class (operators/timeseries.py flux_ema pattern):
            # one applyInPandas per table key, narrowed to
            # (keys, _time, _value) before the exchange, float64 ops
            # with SQL NULL propagation matching the recursive-CTE
            # oracle bit-for-bit. Scale shape: one exchange of NARROWED
            # raw rows on the table key; the fold is inherently
            # sequential per series (the same semantic floor as every
            # recurrence kernel), emits ONE row per table.
            rd_fields, rd_identity = transform[1], transform[2]
            if not keys:
                raise FluxError(
                    "group() |> reduce with a cross-field accumulator "
                    "is a single global sequential fold — outside the "
                    "subset (keep a table key, or use the additive "
                    "form, which merges safely key-less)"
                )
            from pyspark.sql.types import DoubleType, StructField, StructType

            name_index = {f: j for j, (f, _) in enumerate(rd_fields)}
            evals = [
                _compile_fold_eval(ast, name_index) for _, ast in rd_fields
            ]
            fnames = [f for f, _ in rd_fields]
            ident = [float(rd_identity[f]) for f in fnames]
            src = df.filter(F.col("_value").isNotNull())
            narrowed = src.select(*keys, "_time", "_value")
            out_schema = StructType(
                [fld for fld in narrowed.schema.fields if fld.name in keys]
                + [StructField(f, DoubleType()) for f in fnames]
            )
            key_cols = list(keys)

            def _fold(pdf):
                import pandas as pd

                pdf = pdf.sort_values(
                    ["_time", "_value"], kind="mergesort"
                )
                acc = list(ident)
                for v in pdf["_value"].to_numpy():
                    v = float(v)
                    acc = [ev(acc, v) for ev in evals]
                row = {k: pdf.iloc[0][k] for k in key_cols}
                row.update({f: acc[j] for j, f in enumerate(fnames)})
                return pd.DataFrame([row])

            out = narrowed.groupBy(*keys).applyInPandas(
                _fold, schema=out_schema
            )
            return _finish(out)
        if kind in ("increase", "difference", "cumsum"):
            # The VALUE-SERIES transforms: each rewrites _value per
            # table exactly as Flux does, so a following last() — or
            # the tail stages — compose on the Flux-shaped frame.
            # * increase() = difference(nonNegative, keepFirst,
            #   initialZero) |> cumulativeSum(): per-point running sum
            #   of reset-aware deltas, first row of each table kept
            #   with _value 0 (upstream initialZero — ADVICE r8).
            # * difference(): the per-table lag delta (signed, or the
            #   reset-aware nonNegative form), first row dropped.
            # * cumulativeSum(): the per-table running sum, every row
            #   kept.
            # Null values are excluded before the window — one declared
            # policy, shared with the oracles.
            w = Window.partitionBy(*keys).orderBy("_time", "_value")
            y = _dec("_value")
            src = df.filter(F.col("_value").isNotNull())
            if kind == "cumsum":
                series = src.select(
                    *keys,
                    "_time",
                    F.sum(y)
                    .over(
                        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                    )
                    .cast("double")
                    .alias("_value"),
                )
            else:
                prev = F.lag(y).over(w)
                if kind == "difference" and transform[1] is False:
                    delta = y - prev  # NULL on the first row
                else:
                    # reset-aware delta; explicit NULL on the first row
                    # (`y >= NULL` is NULL, so a bare otherwise(y) would
                    # silently contribute the first raw VALUE)
                    delta = F.when(
                        prev.isNull(), F.lit(None).cast("decimal(18,2)")
                    ).otherwise(F.when(y >= prev, y - prev).otherwise(y))
                point = (
                    delta
                    if kind == "difference"
                    else F.sum(delta).over(
                        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                    )
                )
                if kind == "increase":
                    # upstream Flux defines increase() as
                    # difference(nonNegative, keepFirst, initialZero)
                    # |> cumulativeSum(): each table's FIRST row is
                    # kept with _value 0 (ADVICE r8 — the old form
                    # dropped it, one fewer row per series than real
                    # InfluxDB). difference() alone still drops it,
                    # matching upstream difference() semantics.
                    series = src.select(
                        *keys,
                        "_time",
                        F.coalesce(point, F.lit(0))
                        .cast("double")
                        .alias("_value"),
                    )
                elif kind == "difference" and transform[2]:
                    # keepFirst: true (round 12d) — the row-count-
                    # preserving form: each table's first row stays
                    # with a NULL delta, or 0 under initialZero
                    # (exactly increase()'s internal convention)
                    first_val = (
                        F.lit(0.0)
                        if transform[3]
                        else F.lit(None).cast("double")
                    )
                    series = src.select(
                        *keys,
                        "_time",
                        F.when(prev.isNull(), first_val)
                        .otherwise(point.cast("double"))
                        .alias("_value"),
                    )
                else:
                    series = (
                        src.select(
                            *keys,
                            "_time",
                            prev.alias("__prev"),
                            point.cast("double").alias("_value"),
                        )
                        .filter(F.col("__prev").isNotNull())
                        .drop("__prev")
                    )
            if agg is not None:
                # difference()/increase()/cumulativeSum() |>
                # aggregateWindow: the counter-to-windowed-totals panel
                return _agg_over(series)
            if take_last:
                from .operators.timeseries import last_value_per_group

                out = last_value_per_group(series, "_time", "_value", keys)
                if yield_name:
                    out = out.withColumnRenamed("last_value", yield_name)
                return _finish(out)
            if yield_name:
                series = series.withColumnRenamed("_value", yield_name)
            return _finish(series)
        # state_duration: run ids via change detection, duration against
        # the run's first timestamp in whole `unit` multiples (the long
        # cast truncates toward zero — Flux duration division); Flux
        # convention — −1 where the predicate is false, 0 at each
        # true-run's first point
        pred, sd_unit_s = transform[1], transform[2]
        runs = _state_runs(df, keys, pred)
        wr = Window.partitionBy(*keys, "run_id")
        dur = (
            (F.unix_micros("_time") - F.min(F.unix_micros("_time")).over(wr))
            / F.lit(sd_unit_s * 1_000_000)
        ).cast("long")
        return _finish(runs.select(
            *keys,
            "_time",
            "_value",
            "state",
            F.when(F.col("state"), dur)
            .otherwise(F.lit(-1).cast("long"))
            .alias(yield_name or "stateDuration"),
        ))

    if agg is not None and transform is None:
        return _agg_over(df)

    if take_last:
        # upstream last() selects the last record with a NON-NULL
        # _value — same null policy as the aggregates above
        df = df.filter(F.col("_value").isNotNull())
        if keys:
            from .operators.timeseries import last_value_per_group

            out = last_value_per_group(df, "_time", "_value", keys)
        else:
            # group() |> last(): one latest reading over everything —
            # a max_by aggregation (map-side combinable), never a
            # single-partition window over raw rows
            out = df.agg(
                F.max(F.struct(F.col("_time"), F.col("_value"))).alias("__m")
            ).select(
                F.col("__m._time").alias("last_ts"),
                F.col("__m._value").alias("last_value"),
            )
        if yield_name:
            out = out.withColumnRenamed("last_value", yield_name)
        return _finish(out)

    return _finish(df)


def _compile_combiner(
    spark: SparkSession,
    text: str,
    env: dict[str, DataFrame],
    params: dict[str, Any],
) -> DataFrame:
    """The multi-statement result expression: ``join(tables: {a:, b:},
    on: [...])`` (inner — Flux's default; conflicting non-key columns
    suffixed ``_<label>`` exactly as upstream join does) or
    ``union(tables: [a, b, ...])`` (identical column sets, aligned by
    name), optionally followed by ``map`` (the ``_value``-rewrite form
    — the overlay delta computation) and ``yield``.

    Scale shape: join shuffles both sides on the ``on:`` key — for the
    dashboard overlay both inputs are already window-aggregated
    (bucket-spine-sized), and for raw-frame joins the key carries
    ``_time`` + table key, so the exchange is the same per-key
    hash-partitioning every window transform already pays; union is
    exchange-free (a bag concat of partitions)."""
    stages = _split_stages(text, require_from=False)
    head = stages[0].split("(", 1)[0].strip()
    if head == "join":
        la, ra, lb, rb, on, method = _parse_join(stages[0], params, env)
        out = _join_frames(env[ra], env[rb], la, lb, on, method)
    elif head == "union":
        refs = _parse_union(stages[0], env)
        out = _union_frames(refs, [env[r] for r in refs])
    elif head in ("pearsonr", "cov"):
        # cov(x:, y:, on:, [pearsonr:]) and its alias pearsonr(x:, y:,
        # on:) ≡ cov(..., pearsonr: true): align the two pipelines on
        # the time key, then one sample covariance — or Pearson
        # correlation — per (x-series, y-series) pair, keyed by the
        # suffixed logical table keys. Value column per input:
        # "_value" if present, else the single numeric non-key column
        # (an aggregateWindow/yield frame) — ambiguity raises. Scale:
        # the join exchanges both (window-aggregated or raw) frames on
        # the time key; the statistic is a map-side-combinable moment
        # aggregate per pair key. Duplicate timestamps WITHIN a series
        # multiply join pairs and weight the statistic accordingly —
        # the same many-to-many behavior upstream's join-based cov
        # exhibits; aligned (aggregateWindow) inputs, the dashboard
        # form, are unique by construction.
        a = _args(stages[0], head)
        if "x" not in a or "y" not in a or "on" not in a:
            raise FluxError(
                f"{head} requires x: <pipeline>, y: <pipeline> and "
                "on: [time column]"
            )
        _no_extra(
            a, {"x", "y", "on"} | ({"pearsonr"} if head == "cov" else set()), head
        )
        as_corr = head == "pearsonr" or _bool_arg(a, "pearsonr", params, "cov")
        on = _str_list(a["on"], f"{head} on")
        if on not in (["_time"], ["window_start"]):
            raise FluxError(
                f'{head} ships on: ["_time"] or ["window_start"] '
                f"(the series alignment keys); got {on!r}"
            )

        def _narrow(label: str) -> tuple[DataFrame, list[str]]:
            ref = a[label].strip()
            if ref not in env:
                raise FluxError(
                    f"{head} references unknown pipeline {ref!r} "
                    f"(defined: {sorted(env)})"
                )
            d = env[ref]
            if on[0] not in d.columns:
                raise FluxError(
                    f"{head} on column {on[0]!r} missing from "
                    f"{label}: {ref!r} (frame has {d.columns})"
                )
            # every string-typed record column is a logical table-key
            # column (promoted tags included) — the pair statistic keys
            # on the full series identity of each side
            keys_l = [
                c
                for c, t in d.dtypes
                if t == "string" and c not in (*on, "tags", "_date")
            ]
            vcands = (
                ["_value"]
                if "_value" in d.columns
                else [
                    c
                    for c, t in d.dtypes
                    if c not in (*keys_l, *on, "n", "tags", "_date")
                    and t in ("double", "float", "bigint", "int")
                ]
            )
            if len(vcands) != 1:
                raise FluxError(
                    f"{head}: cannot identify ONE value column in "
                    f"{label}: {ref!r} (candidates {vcands}; frame has "
                    f"{d.columns})"
                )
            out_keys = [f"{c}_{label}" for c in keys_l]
            return (
                d.select(
                    *[
                        F.col(c).alias(f"{c}_{label}")
                        for c in keys_l
                    ],
                    *on,
                    F.col(vcands[0]).alias(f"__v_{label}"),
                ),
                out_keys,
            )

        dx, kx = _narrow("x")
        dy, ky = _narrow("y")
        stat = (
            F.corr("__v_x", "__v_y")
            if as_corr
            else F.covar_samp("__v_x", "__v_y")
        )
        out = (
            dx.join(dy, on=on, how="inner")
            .groupBy(*kx, *ky)
            .agg(stat.alias("_value"))
        )
    else:
        raise FluxError(
            "multi-statement result must be join(), union(), cov() or "
            f"pearsonr(); got {head!r}"
        )
    for stage in stages[1:]:
        shead = stage.split("(", 1)[0].strip()
        if shead == "map":
            expr_src = _parse_map(stage)
            for t1, t2 in re.findall(
                r'r\.(\w+)|r\[\s*"([^"]+)"\s*\]', expr_src
            ):
                c = t1 or t2
                if c not in out.columns:
                    raise FluxError(
                        f"map references unknown column {c!r}; frame "
                        f"has {out.columns}"
                    )
            out = out.withColumn("_value", _parse_arith(expr_src, params))
        elif shead == "yield":
            a = _args(stage, "yield")
            if "name" in a and "_value" in out.columns:
                out = out.withColumnRenamed(
                    "_value", _resolve(a["name"], params)
                )
        else:
            raise FluxError(
                f"stage {shead!r} after join/union is outside the shipped "
                "subset (map and yield only)"
            )
    return out
