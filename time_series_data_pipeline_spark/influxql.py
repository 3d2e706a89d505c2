"""InfluxQL front-end: ``SELECT``/``SHOW`` statements compiled onto the
bucket store.

Why this exists: the reference writes to InfluxDB (dags/ETL.py:86-99 —
the ``influxdb_client`` write path), and that server exposes TWO query
languages. ``flux.py`` compiles the first; this module compiles the
second — InfluxQL, the 1.x language that Grafana's InfluxQL datasource
and most pre-Flux dashboards speak, and the language InfluxDB 3.x keeps
now that Flux is deprecated upstream. A reference user switching to
this engine can paste either language and get hash-identical answers
off the same store.

Semantics follow the PUBLIC InfluxQL spec
(docs.influxdata.com/influxdb/v1/query_language/): epoch-aligned
``GROUP BY time()`` boundaries (shifted by the optional offset
argument), aggregates that skip null field values, ``fill()`` applied
per existing series, selector functions that carry the selected point's
own timestamp when no time grouping is present, and per-series
``LIMIT`` / series-level ``SLIMIT``. Where upstream behavior is
underspecified (selector tie-breaks, top/bottom ordering among equal
values) this module pins a deterministic rule, documented at the use
site, and every registered query's DuckDB oracle pins the same rule —
the driver's value-hash gate holds either way.

Architecture (Spark-first, NOT a port of InfluxDB's iterator engine): a
recursive-descent parser produces a small statement description, and
the compiler lowers it onto ONE declarative DataFrame plan over
``sources.bucket.scan_bucket`` — the same 3-tier-pruned scan the Flux
path uses, so measurement/field/tag/time predicates reach the parquet
layer identically. The payoff over the Flux path: a multi-aggregate
``SELECT mean(f), max(f), count(f)`` compiles to ONE scan + ONE shuffle
via conditional aggregation, where chained Flux pipelines need an
``aggregateWindow`` each plus joins to recombine.

Everything outside the shipped subset raises :class:`InfluxQLError`
naming the construct — never a silent miscompile (the flux.py
discipline; VERDICT r8 backstop rule).
"""

from __future__ import annotations

import datetime as _dt
import re
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .flux import _window_grouping
from .operators.timeseries import _dec
from .sources import bucket as bkt


class InfluxQLError(ValueError):
    """Unsupported or malformed InfluxQL — always names the offending
    construct and, where one exists, the in-subset alternative."""


# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
      \s*(
        '(?:[^'\\]|\\.)*'            # single-quoted string literal
      | "(?:[^"\\]|\\.)*"            # double-quoted identifier
      | [0-9]+(?:\.[0-9]+)?[a-zA-Zµ]*  # number, possibly a duration (5m)
      | <> | != | <= | >= | =~ | !~  # two-char operators
      | [A-Za-z_][A-Za-z0-9_]*       # bare identifier / keyword
      | [(),;*=<>+\-./]              # single-char tokens
      )
    """,
    re.VERBOSE,
)

#: a /regex/ literal — lexed ONLY immediately after =~ / !~ (the one
#: place InfluxQL allows it), so `/` elsewhere stays the division /
#: path-separator single-char token (mean("v") / 2 must not swallow
#: the rest of the statement as a regex body)
_REGEX_LIT_RE = re.compile(r"\s*(/(?:[^/\\]|\\.)+/)")

#: InfluxQL duration units → seconds (the sub-second units ns/u/ms are
#: outside the subset: the store's micro-resolution windows below 1s
#: are not a dashboard shape; they raise naming the unit)
_DUR_UNIT_S = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}
_IQL_DUR_RE = re.compile(r"^(\d+)(ns|u|µ|ms|s|m|h|d|w)$")


def _parse_duration_s(tok: str, where: str) -> int:
    """ONE definition of the InfluxQL duration-literal rule for every
    use site (GROUP BY time interval/offset, derivative/integral/
    elapsed units, RESAMPLE EVERY, now() offsets) — a parse that
    accepted different unit sets at different sites would be a grammar
    fork."""
    m = _IQL_DUR_RE.match(tok)
    if not m:
        raise InfluxQLError(f"{where}: bad duration {tok!r}")
    if m.group(2) not in _DUR_UNIT_S:
        raise InfluxQLError(
            f"{where}: sub-second unit {m.group(2)!r} is outside the "
            "subset (s/m/h/d/w)"
        )
    return int(m.group(1)) * _DUR_UNIT_S[m.group(2)]


def _int_arg(cur: "_Cursor", what: str) -> int:
    tok = cur.next()
    try:
        return int(tok)
    except ValueError:
        raise InfluxQLError(
            f"{what} expects an integer, got {tok!r}"
        ) from None


def _tokenize(text: str) -> list[str]:
    toks: list[str] = []
    pos = 0
    text = text.strip().rstrip(";")
    while pos < len(text):
        if toks and toks[-1] in ("=~", "!~"):
            m = _REGEX_LIT_RE.match(text, pos)
            if m:
                toks.append(m.group(1))
                pos = m.end()
                continue
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise InfluxQLError(
                f"cannot tokenize InfluxQL at: {text[pos:pos + 30]!r}"
            )
        toks.append(m.group(1))
        pos = m.end()
    return toks


class _Cursor:
    """Token cursor with keyword-insensitive matching."""

    def __init__(self, toks: list[str]):
        self.toks = toks
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def peek_kw(self) -> str | None:
        t = self.peek()
        return t.upper() if t is not None else None

    def next(self) -> str:
        t = self.peek()
        if t is None:
            raise InfluxQLError("unexpected end of InfluxQL statement")
        self.i += 1
        return t

    def accept_kw(self, *kws: str) -> str | None:
        t = self.peek()
        if t is not None and t.upper() in kws:
            self.i += 1
            return t.upper()
        return None

    def expect(self, tok: str) -> None:
        t = self.next()
        if t.upper() != tok.upper():
            raise InfluxQLError(f"expected {tok!r}, got {t!r}")

    def done(self) -> bool:
        return self.i >= len(self.toks)


_IDENT_BAD = re.compile(r"[`'\"\\\x00-\x1f]")


def _ident(tok: str) -> str:
    """An identifier token: strip double quotes if present. Quoted
    identifiers may carry spaces/dots/dashes, but backticks, quotes,
    backslashes, and control characters raise — identifier names flow
    into generated ``selectExpr``/``stack()`` SQL, and an unescapable
    character there would surface as an opaque ParseException (or
    worse, splice into the plan) instead of a named refusal (review
    15b)."""
    name = tok[1:-1] if tok.startswith('"') and tok.endswith('"') else tok
    if _IDENT_BAD.search(name):
        raise InfluxQLError(
            f"identifier {name!r} is outside the subset (backticks, "
            "quotes, backslashes, and control characters do not "
            "compose with generated SQL)"
        )
    return name


def _is_string(tok: str) -> bool:
    return tok.startswith("'") and tok.endswith("'")


def _string(tok: str) -> str:
    return tok[1:-1]


# ---------------------------------------------------------------------------
# parsed statement shapes
# ---------------------------------------------------------------------------

#: aggregate fns sharing the conditional-aggregation path; the value
#: expressions mirror flux.py's exact-decimal idioms so both languages
#: hash identically against the same DuckDB oracle forms
_PLAIN_AGGS = (
    "count", "sum", "mean", "median", "min", "max", "first", "last",
    "spread", "stddev",
)
#: transform fns over a GROUP BY time() aggregate (the Grafana rate /
#: smoothing panel shapes)
_TRANSFORMS = (
    "derivative", "difference", "non_negative_difference",
    "cumulative_sum", "moving_average",
)
#: fns recognized but outside the subset — each raise names its
#: in-engine alternative
_KNOWN_UNSUPPORTED = {
    "stddev_pop": "stddev (InfluxQL stddev is the sample form)",
    "holt_winters": "compile_flux holtWinters on the store",
    "sample": "deterministic_sample (operators/sampling.py)",
}


class _Item:
    """One SELECT-list item."""

    def __init__(self, kind: str, fn: str | None, field: str | None,
                 alias: str | None, arg: float | None = None,
                 inner: "_Item | None" = None, unit_s: int | None = None):
        self.kind = kind      # raw | agg | percentile | count_distinct
        #                     # | top | bottom | transform | mode
        #                     # | integral | elapsed
        self.fn = fn
        self.field = field
        self.alias = alias
        self.arg = arg        # percentile p / top-bottom N / moving_average N
        self.inner = inner    # transform's inner aggregate item
        self.unit_s = unit_s  # derivative unit in seconds
        #: post-aggregation scalar arithmetic — the Grafana unit
        #: conversion tail (mean("v") * 8, / 1000, + offset): a list of
        #: (op, number) applied left-to-right to the aggregate output
        #: (identical double-op order in the oracle → deterministic)
        self.post_ops: list[tuple[str, float]] = []

    @property
    def out_name(self) -> str:
        if self.alias:
            return self.alias
        if self.kind == "raw":
            return self.field  # type: ignore[return-value]
        if self.kind == "count_distinct":
            return "count"
        if self.kind == "transform":
            return self.fn  # type: ignore[return-value]
        return self.fn  # type: ignore[return-value]


def _parse_select_item(cur: _Cursor) -> _Item:
    tok = cur.next()
    low = tok.lower()
    if tok == "*":
        raise InfluxQLError(
            "SELECT * is outside the subset on the long-model store — "
            "name the field(s): SELECT \"<field>\" or an aggregate"
        )
    if cur.peek() == "(" and not tok.startswith('"'):
        if low in _KNOWN_UNSUPPORTED:
            raise InfluxQLError(
                f"{low}() is outside the InfluxQL subset — use "
                f"{_KNOWN_UNSUPPORTED[low]}"
            )
        cur.expect("(")
        if low in _TRANSFORMS:
            inner = _parse_select_item(cur)
            if inner.kind != "agg":
                raise InfluxQLError(
                    f"{low}() ships over a GROUP BY time() aggregate "
                    "(the Grafana panel form, e.g. "
                    f"{low}(mean(\"f\"), 1h)); raw-field transforms are "
                    "the Flux path (flux.py difference/derivative)"
                )
            arg: float | None = None
            unit_s: int | None = None
            if cur.accept_kw(","):
                t = cur.next()
                if low == "moving_average":
                    if not t.isdigit() or int(t) < 2:
                        raise InfluxQLError(
                            f"moving_average N must be an integer >= 2: {t!r}"
                        )
                    arg = float(t)
                elif low == "derivative":
                    unit_s = _parse_duration_s(t, "derivative unit")
                else:
                    raise InfluxQLError(
                        f"{low}() takes no second argument: {t!r}"
                    )
            cur.expect(")")
            if low == "moving_average" and arg is None:
                raise InfluxQLError("moving_average requires (agg, N)")
            item = _Item("transform", low, inner.field, None,
                         arg=arg, inner=inner, unit_s=unit_s)
            return _maybe_alias(cur, item)
        if low == "count" and cur.peek_kw() == "DISTINCT":
            cur.next()
            cur.expect("(")
            fld = _ident(cur.next())
            cur.expect(")")
            cur.expect(")")
            return _maybe_alias(cur, _Item("count_distinct", None, fld, None))
        if low == "distinct":
            raise InfluxQLError(
                "bare distinct() is outside the subset — COUNT(DISTINCT"
                "(\"f\")) aggregates, or the Flux path (distinct())"
            )
        if low == "percentile":
            fld = _ident(cur.next())
            cur.expect(",")
            ptok = cur.next()
            try:
                p = float(ptok)
            except ValueError:
                raise InfluxQLError(
                    f"percentile N expects a number, got {ptok!r}"
                ) from None
            cur.expect(")")
            if not 0 < p <= 100:
                raise InfluxQLError(f"percentile N must be in (0, 100]: {p}")
            return _maybe_alias(cur, _Item("percentile", low, fld, None, arg=p))
        if low in ("top", "bottom"):
            fld = _ident(cur.next())
            cur.expect(",")
            n = cur.next()
            cur.expect(")")
            if not n.isdigit() or int(n) < 1:
                raise InfluxQLError(f"{low} N must be a positive integer: {n!r}")
            return _maybe_alias(cur, _Item(low, low, fld, None, arg=float(n)))
        if low in ("integral", "elapsed"):
            fld = _ident(cur.next())
            unit_s = 1
            if cur.accept_kw(","):
                unit_s = _parse_duration_s(cur.next(), f"{low} unit")
            cur.expect(")")
            return _maybe_alias(
                cur, _Item(low, low, fld, None, unit_s=unit_s)
            )
        if low == "mode":
            fld = _ident(cur.next())
            cur.expect(")")
            return _maybe_alias(cur, _Item("mode", low, fld, None))
        if low in _PLAIN_AGGS:
            fld = _ident(cur.next())
            cur.expect(")")
            return _maybe_alias(cur, _Item("agg", low, fld, None))
        raise InfluxQLError(f"unsupported InfluxQL function {tok!r}")
    # raw field projection
    return _maybe_alias(cur, _Item("raw", None, _ident(tok), None))


def _maybe_alias(cur: _Cursor, item: _Item) -> _Item:
    # scalar arithmetic tail BEFORE the alias: mean("v") * 8 AS mbits.
    # Ships on plain aggregates only — the output of rank/point
    # selectors is a picked member value, and scaling it silently
    # would blur "actual point" semantics (raise names the boundary).
    while cur.peek() in ("*", "/", "+", "-"):
        op = cur.next()
        num_tok = cur.next()
        try:
            num = float(num_tok)
        except ValueError:
            raise InfluxQLError(
                f"aggregate arithmetic ships <agg> {op} <number> "
                f"chains only; got {num_tok!r} (cross-item arithmetic "
                "like mean(a)/mean(b) is outside the subset)"
            ) from None
        if item.kind not in ("agg", "count_distinct"):
            raise InfluxQLError(
                f"arithmetic on a {item.kind} item is outside the "
                "subset (plain aggregates only — a scaled selector "
                "would no longer be an actual point value)"
            )
        item.post_ops.append((op, num))
    if cur.accept_kw("AS"):
        item.alias = _ident(cur.next())
    return item


class _Where:
    def __init__(self) -> None:
        self.time_lo: tuple[str, bool] | None = None  # (ts, inclusive)
        self.time_hi: tuple[str, bool] | None = None
        self.tag_neq: list[tuple[str, str]] = []
        #: tag = / OR group / =~ alternation — ALL equality-shaped tag
        #: predicates AND-merge here by set intersection (singletons
        #: collapse to the equality pushdown tier at the scan)
        self.tag_in: dict[str, list[str]] = {}
        self.tag_not_in: dict[str, list[str]] = {}  # !~ alternation
        self.field_preds: list[tuple[str, str, float]] = []


#: the Grafana multi-select regex: both anchors + a plain-literal
#: alternation — ^(v1|v2|...)$ (parens optional for one value). Any
#: other pattern raises: general regex semantics differ between engines
#: (Java vs RE2 vs PCRE), so only the exactly-enumerable form is
#: replayable cross-engine.
_MULTISELECT_RE = re.compile(r"^\^\(?([^^$()|]+(?:\|[^^$()|]+)*)\)?\$$")


def _regex_values(pattern: str, where: str) -> list[str]:
    m = _MULTISELECT_RE.match(pattern)
    if not m or any(
        ch in m.group(1) for ch in ".*+?[]{}\\"
    ):
        raise InfluxQLError(
            f"{where}: regex ships the Grafana multi-select form only — "
            "an anchored literal alternation like /^(v1|v2)$/ "
            f"(general regex is engine-dependent); got /{pattern}/"
        )
    return m.group(1).split("|")


def _parse_or_group(cur: _Cursor) -> tuple[str, list[str]]:
    """A parenthesized disjunction — the OTHER Grafana multi-select
    shape: ("host" = 'h1' OR "host" = 'h2'). Every disjunct must be an
    equality on the SAME tag (a mixed-column or non-equality OR has no
    single-scan predicate form — raise naming it)."""
    name: str | None = None
    vals: list[str] = []
    while True:
        lhs = cur.next()
        n = _ident(lhs)
        op = cur.next()
        rhs = cur.next()
        if op != "=" or not _is_string(rhs):
            raise InfluxQLError(
                "OR groups ship tag EQUALITY disjuncts only "
                f"(got {n!r} {op} {rhs!r})"
            )
        if name is None:
            name = n
        elif n != name:
            raise InfluxQLError(
                f"OR group mixes tags {name!r} and {n!r} — one tag per "
                "group (the multi-select shape); cross-tag OR needs two "
                "queries"
            )
        vals.append(_string(rhs))
        kw = cur.next().upper()
        if kw == ")":
            return name, vals
        if kw != "OR":
            raise InfluxQLError(
                f"expected OR or ) in the disjunction group, got {kw!r}"
            )


def _parse_time_literal(tok: str, cur: _Cursor, now: str | None) -> str:
    """A WHERE-clause time operand: an RFC3339-ish string literal, or
    ``now()`` with an optional ``±duration``; returns the normalized
    ``YYYY-MM-DD HH:MM:SS[.ffffff]`` form."""
    if _is_string(tok):
        s = _string(tok).replace("T", " ").replace("Z", "")
        try:
            parsed = _dt.datetime.fromisoformat(s)
        except ValueError:
            raise InfluxQLError(f"bad time literal {tok!r}") from None
        if parsed.tzinfo is not None:
            # a numeric UTC offset would flow downstream as a naive
            # string with the offset silently dropped (wrong scan
            # bounds) or crash the spine arithmetic — raise instead
            # (review 15b); Z is the one accepted decoration
            raise InfluxQLError(
                f"time literal {tok!r} carries a UTC offset — the "
                "subset ships naive-UTC literals (trailing Z allowed); "
                "convert the bound to UTC"
            )
        return s
    if tok.lower() == "now":
        cur.expect("(")
        cur.expect(")")
        if now is None:
            raise InfluxQLError(
                "now() needs an explicit now= anchor (wall-clock "
                "defaults would break replayability — the flux.py rule)"
            )
        base = _dt.datetime.fromisoformat(now.replace("Z", "+00:00"))
        base = base.replace(tzinfo=None)
        sign = cur.accept_kw("+", "-")
        if sign:
            delta = _dt.timedelta(
                seconds=_parse_duration_s(cur.next(), "now() offset")
            )
            base = base + delta if sign == "+" else base - delta
        return base.strftime("%Y-%m-%d %H:%M:%S")
    raise InfluxQLError(
        f"unsupported time operand {tok!r} (string literal or now() "
        "± duration; bare epoch integers are outside the subset)"
    )


def _merge_tag_in(w: "_Where", name: str, vals: list[str]) -> None:
    """AND-merge a multi-select value set into the WHERE state: a
    second set on the SAME tag INTERSECTS (review 15b — the set-union
    form silently widened the filter). An empty intersection stays
    recorded: the query legitimately matches nothing."""
    if name in w.tag_in:
        w.tag_in[name] = sorted(set(w.tag_in[name]) & set(vals))
    else:
        w.tag_in[name] = sorted(set(vals))


def _parse_where(cur: _Cursor, now: str | None) -> _Where:
    w = _Where()
    while True:
        lhs = cur.next()
        if lhs == "(":
            name, vals = _parse_or_group(cur)
            _merge_tag_in(w, name, vals)
            kw = cur.accept_kw("AND", "OR")
            if kw == "OR":
                raise InfluxQLError(
                    "OR between WHERE groups is outside the subset "
                    "(one parenthesized multi-select group per tag, "
                    "AND-joined)"
                )
            if kw is None:
                return w
            continue
        if lhs == ")":
            raise InfluxQLError("unbalanced ) in WHERE")
        name = _ident(lhs)
        op = cur.next()
        if op in ("=~", "!~"):
            rx = cur.next()
            if not (rx.startswith("/") and rx.endswith("/")):
                raise InfluxQLError(
                    f"{op} expects a /regex/ literal, got {rx!r}"
                )
            vals = _regex_values(rx[1:-1], f"{name} {op}")
            if op == "=~":
                _merge_tag_in(w, name, vals)
            else:
                # !~ negations on one tag compose by union: NOT in A
                # AND NOT in B == NOT in (A ∪ B)
                w.tag_not_in[name] = sorted(
                    set(w.tag_not_in.get(name, [])) | set(vals)
                )
            kw = cur.accept_kw("AND", "OR")
            if kw == "OR":
                raise InfluxQLError(
                    "OR in WHERE is outside the subset (AND-conjunctions "
                    "only; a multi-select is one =~ alternation or one "
                    "parenthesized OR group per tag)"
                )
            if kw is None:
                return w
            continue
        if op not in ("=", "<>", "!=", "<", "<=", ">", ">="):
            raise InfluxQLError(f"unsupported WHERE operator {op!r}")
        rhs = cur.next()
        if name == "time":
            ts = _parse_time_literal(rhs, cur, now)
            if op in (">", ">="):
                if w.time_lo is not None:
                    raise InfluxQLError("duplicate lower time bound")
                w.time_lo = (ts, op == ">=")
            elif op in ("<", "<="):
                if w.time_hi is not None:
                    raise InfluxQLError("duplicate upper time bound")
                w.time_hi = (ts, op == "<=")
            else:
                raise InfluxQLError(
                    "time = <t> is outside the subset (use a >= / < pair)"
                )
        elif _is_string(rhs):
            # tag predicate (single-quoted literal — the InfluxQL rule:
            # tag values are always strings). Equality merges through
            # the same intersection rule as the multi-select shapes, so
            # "host"='a' AND "host"='b' compiles to the EMPTY set
            # (review 15b — the dict write silently kept only 'b')
            if op == "=":
                _merge_tag_in(w, name, [_string(rhs)])
            elif op in ("<>", "!="):
                w.tag_neq.append((name, _string(rhs)))
            else:
                raise InfluxQLError(
                    f"tag predicates ship =/<>: got {op!r} on {name!r}"
                )
        else:
            try:
                num = float(rhs)
            except ValueError:
                raise InfluxQLError(
                    f"unsupported WHERE operand {rhs!r}"
                ) from None
            if op in ("=", "<>", "!="):
                raise InfluxQLError(
                    "field equality predicates are outside the subset "
                    "(range comparisons only — float equality is not a "
                    "dashboard shape)"
                )
            w.field_preds.append((name, op, num))
        kw = cur.accept_kw("AND", "OR")
        if kw == "OR":
            raise InfluxQLError(
                "OR in WHERE is outside the subset (AND-conjunctions "
                "only; an OR of tag values needs two queries or the "
                "Flux path's contains())"
            )
        if kw is None:
            return w


class _GroupBy:
    def __init__(self) -> None:
        self.every_s: int | None = None
        self.offset_s: int = 0
        self.dims: list[str] = []
        self.star = False
        self.fill: str | float = "null"  # InfluxQL default
        self.fill_set = False  # an explicit fill() clause appeared


def _parse_group_by(cur: _Cursor) -> _GroupBy:
    g = _GroupBy()
    while True:
        tok = cur.next()
        if tok.lower() == "time":
            cur.expect("(")
            g.every_s = _parse_duration_s(cur.next(), "GROUP BY time()")
            if g.every_s <= 0:
                raise InfluxQLError("GROUP BY time() interval must be > 0")
            if cur.accept_kw(","):
                o = cur.next()
                neg = False
                if o == "-":
                    neg, o = True, cur.next()
                g.offset_s = _parse_duration_s(o, "GROUP BY time() offset")
                if neg:
                    g.offset_s = -g.offset_s
                g.offset_s %= g.every_s
            cur.expect(")")
        elif tok == "*":
            g.star = True
        else:
            g.dims.append(_ident(tok))
        if not cur.accept_kw(","):
            break
    if cur.peek() is not None and cur.peek().lower() == "fill":
        cur.next()
        g.fill_set = True
        cur.expect("(")
        ftok = cur.next()
        fl = ftok.lower()
        if fl in ("null", "none", "previous"):
            g.fill = fl
        elif fl == "linear":
            raise InfluxQLError(
                "fill(linear) is outside the subset — fill(previous)/"
                "fill(<number>), or the Flux path's interpolate.linear"
            )
        else:
            try:
                g.fill = float(ftok)
            except ValueError:
                raise InfluxQLError(f"bad fill argument {ftok!r}") from None
        cur.expect(")")
    return g


class _Stmt:
    def __init__(self) -> None:
        self.items: list[_Item] = []
        self.measurement: str = ""
        self.into: str | None = None  # INTO target measurement (CQ body)
        self.sub: "_Stmt | None" = None  # FROM (SELECT ...) subquery
        self.where = _Where()
        self.group = _GroupBy()
        self.order_desc = False
        self.limit: int | None = None
        self.offset: int = 0
        self.slimit: int | None = None
        self.soffset: int = 0


def _parse_select(
    cur: _Cursor, now: str | None, nested: bool = False
) -> _Stmt:
    st = _Stmt()
    while True:
        st.items.append(_parse_select_item(cur))
        if not cur.accept_kw(","):
            break
    if cur.accept_kw("INTO"):
        itok = cur.next()
        if _is_string(itok) or cur.peek() == ".":
            raise InfluxQLError(
                "INTO takes a bare target measurement (the target "
                "bucket is the compile call's into_path argument)"
            )
        st.into = _ident(itok)
    cur.expect("FROM")
    if cur.peek() == "(":
        # FROM (SELECT ...) — the downsample-then-aggregate idiom;
        # one level (upstream allows deeper nesting; a sub-subquery
        # raises naming the depth)
        cur.next()
        cur.expect("SELECT")
        st.sub = _parse_select(cur, now, nested=True)
        if st.sub.sub is not None:
            raise InfluxQLError(
                "subqueries nest ONE level in the subset (inner "
                "SELECT has its own FROM (SELECT ...))"
            )
        cur.expect(")")
        st.measurement = ""
    else:
        mtok = cur.next()
        if cur.peek() == ".":
            raise InfluxQLError(
                'qualified FROM ("db"."rp"."m") is outside the subset — '
                "the bucket is the compile call's bucket_path argument; "
                "name the bare measurement"
            )
        if _is_string(mtok):
            raise InfluxQLError(
                "FROM takes an identifier (double-quoted or bare), not a "
                "string literal"
            )
        st.measurement = _ident(mtok)
    if cur.accept_kw("WHERE"):
        st.where = _parse_where(cur, now)
    if cur.accept_kw("GROUP"):
        cur.expect("BY")
        st.group = _parse_group_by(cur)
    if cur.accept_kw("ORDER"):
        cur.expect("BY")
        col = _ident(cur.next())
        if col != "time":
            raise InfluxQLError(
                f"ORDER BY {col!r} — InfluxQL orders by time only"
            )
        d = cur.accept_kw("ASC", "DESC")
        st.order_desc = d == "DESC"
    if cur.accept_kw("LIMIT"):
        st.limit = _int_arg(cur, "LIMIT")
    if cur.accept_kw("OFFSET"):
        st.offset = _int_arg(cur, "OFFSET")
    if cur.accept_kw("SLIMIT"):
        st.slimit = _int_arg(cur, "SLIMIT")
    if cur.accept_kw("SOFFSET"):
        st.soffset = _int_arg(cur, "SOFFSET")
    if cur.peek_kw() == "TZ":
        raise InfluxQLError(
            "tz() is outside the subset — the store and every window "
            "boundary are UTC (the engine's replayability rule); shift "
            "display timezones in the client"
        )
    if not nested and not cur.done():
        raise InfluxQLError(
            f"trailing tokens after statement: {cur.toks[cur.i:][:6]}"
        )
    return st


# ---------------------------------------------------------------------------
# compiler
# ---------------------------------------------------------------------------


def _agg_expr(fn: str, guard: Column, scale: int = 2) -> Column:
    """The conditional-aggregation expression for one item: ``guard``
    pins the item's field, so N items share one groupBy. The value
    idioms mirror flux.py's ``_plain_agg_expr`` exactly (decimal-cents
    sum for mean/sum, struct-folded selectors with the same value
    tie-break) so InfluxQL and Flux answers hash identically.

    ``scale`` is the exact-decimal scale for mean/sum: 2 over the raw
    store (the ≤2-dp money contract), 10 over a SUBQUERY source —
    inner aggregates are arbitrary doubles, so both engines cast the
    same double to DECIMAL(38,10) (identical truncation) and the sum
    stays associative → deterministic cross-engine, documented as the
    subquery determinism rule (vs upstream's order-dependent double
    sum, which no engine pair replays bit-identically)."""
    v = F.when(guard, F.col("_value"))
    # scale 2 → the store idiom decimal(18,2); scale 10 → the subquery
    # rule's documented DECIMAL(38,10) — 28 integer digits, so inner
    # sums up to 1e28 cannot overflow-to-null the way decimal(18,10)'s
    # 8 integer digits would (review 15b: an overflowed numerator row
    # dropped from the sum while count still counted it)
    dec = (
        _dec("_value", scale)
        if scale == 2
        else F.col("_value").cast("decimal(38,10)")
    )
    if fn == "mean":
        return F.sum(F.when(guard, dec)).cast("double") / F.count(v)
    if fn == "sum":
        return F.sum(F.when(guard, dec)).cast("double")
    if fn == "count":
        return F.count(v).cast("long")
    if fn == "min":
        return F.min(v)
    if fn == "max":
        return F.max(v)
    if fn == "first":
        # earliest _time wins, larger value on a time tie — the
        # flux.py min_by(struct) rule, expressed as a struct extremum
        # so the guard can null out other fields' rows
        return F.min(
            F.when(guard, F.struct(F.col("_time"), F.col("_value")))
        ).getField("_value")
    if fn == "last":
        return F.max(
            F.when(guard, F.struct(F.col("_time"), F.col("_value")))
        ).getField("_value")
    if fn == "spread":
        return F.max(v) - F.min(v)
    if fn == "stddev":
        return F.stddev_samp(v)
    if fn == "median":
        return F.median(v)
    raise InfluxQLError(f"no aggregate expression for {fn!r}")


def _resolve_dims(g: _GroupBy, tag_cols: list[str]) -> list[str]:
    if g.star:
        if g.dims:
            raise InfluxQLError("GROUP BY * does not combine with named tags")
        return sorted(tag_cols)
    for d in g.dims:
        if d not in tag_cols:
            raise InfluxQLError(
                f"GROUP BY {d!r}: not a tag of this store (tags: "
                f"{sorted(tag_cols)}; fields group via separate queries)"
            )
    return list(g.dims)


def _floor_bucket(ts: str, every_s: int, offset_s: int) -> _dt.datetime:
    """The epoch-aligned bucket start containing ``ts`` — InfluxQL's
    preset round-number boundaries, shifted by the GROUP BY offset."""
    t = _dt.datetime.fromisoformat(ts)
    epoch = _dt.datetime(1970, 1, 1)
    secs = (t - epoch).total_seconds()
    import math

    k = math.floor((secs - offset_s) / every_s)
    return epoch + _dt.timedelta(seconds=k * every_s + offset_s)


def compile_influxql(
    spark: SparkSession,
    statement: str,
    bucket_path: str,
    now: str | None = None,
    into_path: str | None = None,
) -> DataFrame:
    """Compile one InfluxQL statement against a bucket store at
    ``bucket_path`` (the ``sources.bucket`` layout) and return the
    result DataFrame.

    ``SELECT`` output shape: a ``time`` timestamp column (bucket start
    under ``GROUP BY time()``; the selected point's own timestamp for
    bare selectors / raw projections; the epoch for bare aggregates —
    upstream's row timestamp for an un-windowed aggregate), the GROUP
    BY tag columns, then one column per select item named by the
    function (or its ``AS`` alias). ``SHOW`` statements return the
    upstream meta-query shapes (``name`` / ``fieldKey``+``fieldType`` /
    ``tagKey`` / ``key``+``value``).
    """
    toks = _tokenize(statement)
    if not toks:
        raise InfluxQLError("empty InfluxQL statement")
    head = toks[0].upper()
    if head == "SHOW":
        return _compile_show(spark, _Cursor(toks), bucket_path, now)
    if head != "SELECT":
        raise InfluxQLError(
            f"unsupported InfluxQL statement {toks[0]!r} (SELECT and "
            "the SHOW meta-queries ship; writes/DDL are the ingest "
            "pipeline's job)"
        )
    cur = _Cursor(toks)
    cur.next()
    st = _parse_select(cur, now)
    if st.into is not None:
        return _compile_into(spark, st, bucket_path, into_path)
    return _compile_select(spark, st, bucket_path)


def _check_into_shape(
    st: _Stmt, bucket_path: str, into_path: str | None
) -> None:
    """The INTO shape rules, shared by the one-shot compile and the
    CQ scheduler's fail-fast validation (which must check WITHOUT
    executing the write)."""
    if into_path is None:
        raise InfluxQLError(
            "INTO needs into_path= (the target bucket store) on the "
            "compile call"
        )
    import os as _os

    if _os.path.abspath(into_path) == _os.path.abspath(bucket_path):
        raise InfluxQLError(
            "INTO: writing a bucket into itself is outside the subset "
            "(the scan would race its own partition overwrite)"
        )
    if st.group.every_s is None:
        raise InfluxQLError(
            "INTO needs GROUP BY time() (the continuous-query shape; "
            "a raw copy is the ingest pipeline's job)"
        )
    if st.group.fill_set and st.group.fill != "none":
        raise InfluxQLError(
            "INTO composes with fill(none) only — null gap rows are "
            f"not points to write; got fill({st.group.fill})"
        )
    if st.limit is not None or st.slimit is not None:
        raise InfluxQLError(
            "INTO with LIMIT/SLIMIT is outside the subset (a truncated "
            "rollup is not idempotent)"
        )
    bad = [it.kind for it in st.items if it.kind not in ("agg", "count_distinct")]
    if bad:
        raise InfluxQLError(
            f"INTO ships plain aggregates only (got {sorted(set(bad))})"
        )


def _compile_into(
    spark: SparkSession, st: _Stmt, bucket_path: str, into_path: str | None
) -> DataFrame:
    """``SELECT <aggs> INTO <measurement> FROM ...`` — the continuous-
    query body, InfluxQL's downsampling loop (the Flux ``to(bucket:)``
    twin, sharing its write discipline): the aggregated result melts
    back into the long bucket schema — one (``_field``, ``_value``)
    row per select item (a MULTI-field rollup in one statement, which
    the Flux form needs one pipeline per field for), GROUP BY tags
    promoted + mirrored into the ``tags`` map, window starts as
    ``_time`` — and lands through the idempotent dynamic-partition-
    overwrite ``write_bucket`` path, so re-running the CQ rewrites
    exactly the partitions it produces. Returns the written rows
    (upstream INTO reports what it wrote).

    Shape rules (each raise names itself): GROUP BY time() required
    (a CQ without buckets is a copy job), fill(none) only (null gap
    rows are not points), plain aggregates only, no LIMIT/SLIMIT (a
    truncated rollup is not idempotent), and the target store must
    differ from the source (the scan would race its own overwrite)."""
    _check_into_shape(st, bucket_path, into_path)
    # an unspecified fill normalizes to none for the write: upstream
    # CQs write observed points only — a default-null spine row is
    # not a point
    st.group.fill = "none"
    target = st.into
    st.into = None
    out = _compile_select(spark, st, bucket_path)
    names = [it.out_name for it in st.items]
    dims = [c for c in out.columns if c not in ("time", *names)]
    tags_map = (
        F.create_map(*[x for d in dims for x in (F.lit(d), F.col(d))])
        if dims
        else F.create_map().cast("map<string,string>")
    )
    stack_args = ", ".join(f"'{n}', CAST(`{n}` AS DOUBLE)" for n in names)
    long_df = out.selectExpr(
        "time AS _time",
        *[f"`{d}`" for d in dims],
        f"stack({len(names)}, {stack_args}) AS (_field, _value)",
    ).select(
        "_time",
        F.lit(target).alias("_measurement"),
        "_field",
        "_value",
        *dims,
        tags_map.alias("tags"),
    )
    # materialize once: the write is an action and the returned
    # pass-through frame gets consumed by the caller (the flux.py
    # _write_to_bucket rule — without the checkpoint the pipeline
    # would execute twice and could diverge between runs)
    long_df = long_df.localCheckpoint(eager=True)
    bkt.write_bucket(long_df, into_path, mode="overwrite")
    return long_df


def _apply_field_preds(
    out: DataFrame, w: _Where, fields: list[str]
) -> DataFrame:
    """Numeric field-range predicates — ONE definition for the scan
    and subquery sources: allowed only when the query references
    exactly that one field (a cross-field points predicate is a pivot
    query — the Flux path)."""
    for name, op, num in w.field_preds:
        if len(fields) != 1 or name != fields[0]:
            raise InfluxQLError(
                f"field predicate on {name!r}: ships when the query "
                "references exactly that one field (a cross-field "
                "points predicate is a pivot query — the Flux path)"
            )
        col = F.col("_value")
        out = out.filter(
            col > num if op == ">" else
            col >= num if op == ">=" else
            col < num if op == "<" else
            col <= num
        )
    return out


def _scan(
    spark: SparkSession, st: _Stmt, bucket_path: str, fields: list[str]
) -> tuple[DataFrame, list[str]]:
    """The pruned scan for a statement: measurement + time range + tag
    equalities ride ``scan_bucket``'s pushdown tiers; a single
    referenced field additionally rides the manifest's file skipping.
    Exact (>-strict / <=-inclusive) bounds re-apply as row filters over
    the superset scan. Returns (frame, tag columns)."""
    w = st.where
    start = w.time_lo[0] if w.time_lo else None
    stop = None
    if w.time_hi:
        ts, incl = w.time_hi
        if incl:
            # scan stop is exclusive; widen by 1s then re-filter exact
            stop = (
                _dt.datetime.fromisoformat(ts) + _dt.timedelta(seconds=1)
            ).strftime("%Y-%m-%d %H:%M:%S")
        else:
            stop = ts
    tag_cols = bkt._store_tag_cols(spark, bucket_path)
    # single-value sets (plain equality, or a multi-select collapsed
    # by the AND-intersection merge) ride the strongest pushdown tier
    # (scan_bucket tags=); an EMPTY intersection ("host"='a' AND
    # "host"='b') compiles to a constant-false filter — the correct
    # empty result, never a silently widened one
    tag_eq: dict[str, str] = {}
    tag_in = {}
    empty_and = False
    for k, vals in w.tag_in.items():
        if len(vals) == 1:
            tag_eq[k] = vals[0]
        elif not vals:
            empty_and = True
        else:
            tag_in[k] = vals
    for k in set(tag_eq) | {k for k, _ in w.tag_neq} | set(tag_in) | set(
        w.tag_not_in
    ):
        if k not in tag_cols:
            raise InfluxQLError(
                f"WHERE tag {k!r}: not a tag of this store (tags: "
                f"{sorted(tag_cols)}; numeric field predicates compare "
                "against unquoted numbers)"
            )
    out = bkt.scan_bucket(
        spark,
        bucket_path,
        measurement=st.measurement,
        field=fields[0] if len(fields) == 1 else None,
        start=start,
        stop=stop,
        tags=tag_eq or None,
    )
    if empty_and:
        out = out.filter(F.lit(False))
    if len(fields) > 1:
        out = out.filter(F.col("_field").isin(fields))
    if w.time_lo and not w.time_lo[1]:
        out = out.filter(F.col("_time") > w.time_lo[0])
    if w.time_hi and w.time_hi[1]:
        out = out.filter(F.col("_time") <= w.time_hi[0])
    for k, val in w.tag_neq:
        out = out.filter(F.col(k) != val)
    for k, vals in tag_in.items():
        # promoted-column isin → a parquet In filter, same pushdown
        # tier as equality (row-group skipping over the series sort)
        out = out.filter(F.col(k).isin(vals))
    for k, vals in w.tag_not_in.items():
        out = out.filter(~F.col(k).isin(vals))
    out = _apply_field_preds(out, w, fields)
    return out, tag_cols


def _subquery_source(
    inner: DataFrame, st: _Stmt, fields: list[str]
) -> tuple[DataFrame, list[str]]:
    """The outer statement's source frame for ``FROM (SELECT ...)``:
    the inner result melts back into the long model — ``_time`` =
    inner time, one (``_field``, ``_value``) row per inner item column
    (``stack``, a zero-shuffle row expansion), inner GROUP BY tags
    carried as promoted columns. The outer pipeline then runs
    UNCHANGED over it: outer aggregates bucket the inner's emitted
    times (the downsample-then-aggregate idiom), outer WHERE re-filters
    time/tags/values as plain filters (the source is the inner plan,
    not a parquet scan — there is nothing to push down to; the inner's
    own WHERE already did the pruning)."""
    sub_names = [it.out_name for it in st.sub.items]  # type: ignore[union-attr]
    dims = [c for c in inner.columns if c != "time" and c not in sub_names]
    missing = [f for f in fields if f not in sub_names]
    if missing:
        raise InfluxQLError(
            f"outer SELECT references {missing} — the subquery emits "
            f"columns {sub_names} (reference an inner item name or its "
            "AS alias)"
        )
    stack_args = ", ".join(
        f"'{n}', CAST(`{n}` AS DOUBLE)" for n in sub_names
    )
    out = inner.selectExpr(
        "time AS _time",
        *[f"`{d}`" for d in dims],
        f"stack({len(sub_names)}, {stack_args}) AS (_field, _value)",
    )
    w = st.where
    for k in (
        {k for k, _ in w.tag_neq} | set(w.tag_in) | set(w.tag_not_in)
    ):
        if k not in dims:
            raise InfluxQLError(
                f"outer WHERE tag {k!r}: the subquery carries tags "
                f"{sorted(dims)} (inner GROUP BY tags only)"
            )
    if w.time_lo:
        ts, incl = w.time_lo
        out = out.filter(
            F.col("_time") >= ts if incl else F.col("_time") > ts
        )
    if w.time_hi:
        ts, incl = w.time_hi
        out = out.filter(
            F.col("_time") <= ts if incl else F.col("_time") < ts
        )
    for k, val in w.tag_neq:
        out = out.filter(F.col(k) != val)
    for k, vals in w.tag_in.items():
        out = out.filter(
            F.col(k).isin(vals) if vals else F.lit(False)
        )
    for k, vals in w.tag_not_in.items():
        out = out.filter(~F.col(k).isin(vals))
    out = _apply_field_preds(out, w, fields)
    if len(fields) >= 1:
        out = out.filter(F.col("_field").isin(fields))
    return out, dims


def _series_limits(
    out: DataFrame,
    dims: list[str],
    st: _Stmt,
    time_col: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """LIMIT/OFFSET per series + SLIMIT/SOFFSET over series, the
    upstream semantics: LIMIT counts points within each GROUP BY
    series (global when no tags are grouped); SLIMIT keeps N series in
    lexicographic series-key order (upstream's own series ordering).

    ``tiebreak`` names extra ordering columns behind ``time`` for
    point-level paths where timestamps can collide (raw projections,
    selectors) — LIMIT over a nondeterministic order would flap the
    value hash."""
    if st.slimit is not None or st.soffset:
        if not dims:
            raise InfluxQLError(
                "SLIMIT/SOFFSET need GROUP BY tag series (no series "
                "dimension to limit)"
            )
        sw = Window.orderBy(*[F.col(d) for d in dims])
        out = (
            out.withColumn("__srank", F.dense_rank().over(sw))
            .filter(
                (F.col("__srank") > st.soffset)
                & (
                    F.col("__srank") <= st.soffset + st.slimit
                    if st.slimit is not None
                    else F.lit(True)
                )
            )
            .drop("__srank")
        )
    if st.limit is not None or st.offset:
        order = [
            F.col(time_col).desc() if st.order_desc else F.col(time_col)
        ] + [F.col(c) for c in (tiebreak or [])]
        lw = (
            Window.partitionBy(*[F.col(d) for d in dims]).orderBy(*order)
            if dims
            else Window.orderBy(*order)
        )
        hi = (st.offset + st.limit) if st.limit is not None else None
        out = out.withColumn("__rn", F.row_number().over(lw)).filter(
            (F.col("__rn") > st.offset)
            & (F.col("__rn") <= hi if hi is not None else F.lit(True))
        ).drop("__rn")
    return out


def _compile_select(
    spark: SparkSession, st: _Stmt, bucket_path: str
) -> DataFrame:
    kinds = {it.kind for it in st.items}
    fields = sorted({it.field for it in st.items if it.field})
    if not fields:
        raise InfluxQLError("SELECT references no field")
    names = [it.out_name for it in st.items]
    if len(set(names)) != len(names):
        raise InfluxQLError(
            f"duplicate output column names {names}: alias them apart "
            "with AS (upstream's mean_1 auto-suffix is not replayable "
            "schema)"
        )
    if st.sub is not None:
        inner = _compile_select(spark, st.sub, bucket_path)
        src, tag_cols = _subquery_source(inner, st, fields)
        scale = 10
    else:
        src, tag_cols = _scan(spark, st, bucket_path, fields)
        scale = 2
    dims = _resolve_dims(st.group, tag_cols)
    g = st.group

    if kinds == {"raw"}:
        if g.every_s is not None:
            raise InfluxQLError(
                "GROUP BY time() needs an aggregate function in SELECT"
            )
        if len(st.items) != 1:
            raise InfluxQLError(
                "one raw field per SELECT in the subset (multi-field "
                "rows are a pivot — the Flux path's pivot())"
            )
        it = st.items[0]
        out = src.filter(F.col("_value").isNotNull()).select(
            F.col("_time").alias("time"),
            *dims,
            F.col("_value").alias(it.out_name),
        )
        return _series_limits(out, dims, st, "time", tiebreak=[it.out_name])
    if "raw" in kinds:
        raise InfluxQLError(
            "mixing raw fields and aggregates in one SELECT is outside "
            "the subset"
        )
    if kinds & {"top", "bottom"}:
        return _compile_top_bottom(src, st, dims)
    for solo, compiler in (
        ("percentile", _compile_percentile),
        ("mode", _compile_mode),
        ("integral", _compile_integral),
        ("elapsed", _compile_elapsed),
    ):
        if kinds == {solo}:
            return compiler(src, st, dims)
        if solo in kinds:
            raise InfluxQLError(
                f"{solo}() does not combine with other select items in "
                "the subset (it runs alone)"
            )
    if "transform" in kinds:
        if len(st.items) != 1:
            raise InfluxQLError(
                "a transform (derivative/difference/...) runs alone in "
                "its SELECT in the subset"
            )
        return _compile_transform(src, st, dims, scale)

    # plain / count-distinct aggregates — ONE conditional-aggregation
    # pass: every item shares the single groupBy shuffle
    exprs = []
    for it in st.items:
        guard = F.col("_field") == it.field
        if it.kind == "count_distinct":
            e: Column = F.count_distinct(
                F.when(guard, F.col("_value"))
            ).cast("long")
        else:
            e = _agg_expr(it.fn, guard, scale)
        for op, num in it.post_ops:
            if op == "*":
                e = e * F.lit(num)
            elif op == "/":
                e = e / F.lit(num)
            elif op == "+":
                e = e + F.lit(num)
            else:
                e = e - F.lit(num)
        exprs.append(e.alias(it.out_name))
    src = src.filter(F.col("_value").isNotNull())

    if g.every_s is None:
        # bare aggregate: one row per series; upstream stamps the
        # un-windowed aggregate row at the epoch
        bare_selectors = [
            it for it in st.items
            if it.kind == "agg" and it.fn in ("first", "last", "min", "max")
        ]
        if (
            bare_selectors
            and len(st.items) == 1
            and not st.items[0].post_ops
        ):
            # an arithmetic tail falls through to the aggregate path:
            # a scaled extremum is no longer an actual point, so it
            # takes the epoch-stamped aggregate row, never a silently
            # unscaled point (review 15b)
            return _compile_bare_selector(src, st, dims)
        out = src.groupBy(*dims).agg(*exprs).select(
            F.lit("1970-01-01 00:00:00").cast("timestamp").alias("time"),
            *dims,
            *names,
        )
        return _series_limits(out, dims, st, "time")

    gcol, _ = _window_grouping(g.every_s, None, g.offset_s)
    agg = (
        src.groupBy(gcol, *dims)
        .agg(*exprs)
        .select(F.col("w.start").alias("time"), *dims, *names)
    )
    out = _apply_fill(spark, agg, st, dims, names)
    return _series_limits(out, dims, st, "time")


def _compile_bare_selector(
    src: DataFrame, st: _Stmt, dims: list[str]
) -> DataFrame:
    """A single selector with no time grouping returns the SELECTED
    POINT — value and its own timestamp (upstream: ``SELECT max(v)``
    yields the max point's time). Tie rule (pinned, oracle-mirrored):
    among equal values the earliest point wins; first/last break value
    ties high (the flux.py struct rule)."""
    it = st.items[0]
    fn = it.fn
    order = {
        "max": [F.col("_value").desc(), F.col("_time").asc()],
        "min": [F.col("_value").asc(), F.col("_time").asc()],
        "first": [F.col("_time").asc(), F.col("_value").desc()],
        "last": [F.col("_time").desc(), F.col("_value").desc()],
    }[fn]
    w = (
        Window.partitionBy(*[F.col(d) for d in dims]).orderBy(*order)
        if dims
        else Window.orderBy(*order)
    )
    out = (
        src.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("_time").alias("time"), *dims,
            F.col("_value").alias(it.out_name),
        )
    )
    return _series_limits(out, dims, st, "time")


def _compile_top_bottom(
    src: DataFrame, st: _Stmt, dims: list[str]
) -> DataFrame:
    """``top(f, N)`` / ``bottom(f, N)``: the N extreme POINTS per
    series over the queried range, carrying their own timestamps
    (upstream keeps point times for top/bottom always). Deterministic
    order (oracle-mirrored): value desc (asc for bottom), then time
    asc. GROUP BY time() does not compose in the subset."""
    if len(st.items) != 1:
        raise InfluxQLError("top()/bottom() runs alone in its SELECT")
    if st.group.every_s is not None:
        raise InfluxQLError(
            "top()/bottom() with GROUP BY time() is outside the subset "
            "— per-window extremes are max/min per bucket"
        )
    it = st.items[0]
    n = int(it.arg)  # type: ignore[arg-type]
    src = src.filter(F.col("_value").isNotNull())
    order = (
        [F.col("_value").desc(), F.col("_time").asc()]
        if it.kind == "top"
        else [F.col("_value").asc(), F.col("_time").asc()]
    )
    w = (
        Window.partitionBy(*[F.col(d) for d in dims]).orderBy(*order)
        if dims
        else Window.orderBy(*order)
    )
    out = (
        src.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .select(
            F.col("_time").alias("time"), *dims,
            F.col("_value").alias(it.out_name),
        )
    )
    return _series_limits(out, dims, st, "time")


def _compile_percentile(
    src: DataFrame, st: _Stmt, dims: list[str]
) -> DataFrame:
    """``percentile(f, N)``: the nearest-rank percentile — an ACTUAL
    member value (upstream returns a real point, never an
    interpolation): sorted ascending, index ``max(1, ceil(N/100 *
    count))`` (ties broken by time asc — pinned, oracle-mirrored).
    Composes with GROUP BY time() (bucket timestamps) or runs bare
    (epoch timestamp, the un-windowed aggregate rule). Rank aggregates
    emit OBSERVED buckets only — an explicit fill() raises (review
    15b: it was previously ignored silently), and the default-null
    spine does not apply (a rank over an empty bucket has no member
    to return)."""
    it = st.items[0]
    p = it.arg  # type: ignore[assignment]
    g = st.group
    if g.fill_set:
        raise InfluxQLError(
            "percentile() emits observed buckets only — fill() does "
            "not compose (a rank over an empty bucket has no member)"
        )
    src = src.filter(F.col("_value").isNotNull())
    if g.every_s is not None:
        gcol, _ = _window_grouping(g.every_s, None, g.offset_s)
        keyed = src.select(
            gcol, *dims, "_time", "_value"
        ).select(F.col("w.start").alias("time"), *dims, "_time", "_value")
        part = ["time", *dims]
    else:
        keyed = src.select(
            F.lit("1970-01-01 00:00:00").cast("timestamp").alias("time"),
            *dims, "_time", "_value",
        )
        part = ["time", *dims]
    w = Window.partitionBy(*[F.col(c) for c in part]).orderBy(
        F.col("_value").asc(), F.col("_time").asc()
    )
    cw = Window.partitionBy(*[F.col(c) for c in part])
    out = (
        keyed.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(cw))
        .filter(
            # ceil(p·n / 100), p·n first: 10·30/100 = 3.0 exactly,
            # where (10/100)·30 = 3.0000000000000004 in doubles and
            # ceil'd to 4 — off-by-one on every exactly-divisible
            # (p, n) pair (review 15b); the oracle pins the same order
            F.col("__rn")
            == F.greatest(
                F.lit(1), F.ceil(F.lit(p) * F.col("__n") / 100.0)
            )
        )
        .select("time", *dims, F.col("_value").alias(it.out_name))
    )
    return _series_limits(out, dims, st, "time")


def _compile_mode(
    src: DataFrame, st: _Stmt, dims: list[str]
) -> DataFrame:
    """``mode(f)``: the most frequent value — two hash aggregations
    (per-value counts, then a max-count selection over DISTINCT VALUES
    per group, never raw rows — the flux.py mode plan shape). Pinned
    tie rule (the public docs leave ties unspecified): the SMALLEST
    value among the most frequent wins, which also covers the
    all-unique case deterministically. Composes with GROUP BY time()
    and tags; like percentile, it emits OBSERVED buckets only — an
    explicit fill() raises."""
    it = st.items[0]
    g = st.group
    if g.fill_set:
        raise InfluxQLError(
            "mode() emits observed buckets only — fill() does not "
            "compose (an empty bucket has no most-frequent member)"
        )
    src = src.filter(F.col("_value").isNotNull())
    if g.every_s is not None:
        gcol, _ = _window_grouping(g.every_s, None, g.offset_s)
        keyed = src.select(gcol, *dims, "_value").select(
            F.col("w.start").alias("time"), *dims, "_value"
        )
    else:
        keyed = src.select(
            F.lit("1970-01-01 00:00:00").cast("timestamp").alias("time"),
            *dims,
            "_value",
        )
    counts = keyed.groupBy("time", *dims, "_value").agg(
        F.count(F.lit(1)).alias("__c")
    )
    out = counts.groupBy("time", *dims).agg(
        F.max_by(
            "_value", F.struct(F.col("__c"), -F.col("_value"))
        ).alias(it.out_name)
    )
    return _series_limits(out, dims, st, "time")


def _compile_integral(
    src: DataFrame, st: _Stmt, dims: list[str]
) -> DataFrame:
    """``integral(f, unit)``: trapezoidal area under the series, in
    value·unit — EXACTLY the flux.py integral expression (exact-decimal
    segment areas summed map-side-combinably, one double division at
    the end), so the two languages hash identically. Bare form only
    (one row per series, the epoch timestamp); per-bucket integrals
    don't ship — a trapezoid crossing a bucket boundary has no
    uninterpolated attribution, the same reason flux.py windows don't
    compose with it."""
    it = st.items[0]
    if st.group.every_s is not None:
        raise InfluxQLError(
            "integral() with GROUP BY time() is outside the subset "
            "(boundary trapezoids have no uninterpolated attribution) "
            "— integrate per query range"
        )
    unit_s = it.unit_s or 1
    src = src.filter(F.col("_value").isNotNull())
    # the series partition always includes _field (the frame is
    # single-field by construction, but partitioning on it keeps the
    # lag window distributed instead of a keyless global sort)
    w = Window.partitionBy("_field", *[F.col(d) for d in dims]).orderBy(
        "_time", "_value"
    )
    y = _dec("_value")
    seg = (y + F.lag(y).over(w)) * (
        F.unix_micros("_time") - F.lag(F.unix_micros("_time")).over(w)
    ).cast("decimal(18,0)")
    out = (
        src.select("_field", *dims, seg.alias("__seg"))
        .groupBy("_field", *dims)
        .agg(F.sum("__seg").alias("__a"))
        .select(
            F.lit("1970-01-01 00:00:00").cast("timestamp").alias("time"),
            *dims,
            (
                F.col("__a").cast("double")
                / F.lit(2.0 * unit_s * 1_000_000.0)
            ).alias(it.out_name),
        )
    )
    return _series_limits(out, dims, st, "time")


def _compile_elapsed(
    src: DataFrame, st: _Stmt, dims: list[str]
) -> DataFrame:
    """``elapsed(f, unit)``: the gap between subsequent points of the
    field, as an INTEGER count of ``unit`` (truncated — upstream), one
    row per point after the first, stamped with the LATER point's
    time. A raw transform: per-series lag over (time, value) order —
    the deterministic tie rule the flux.py elapsed oracle pins."""
    it = st.items[0]
    if st.group.every_s is not None:
        raise InfluxQLError(
            "elapsed() is a raw transform — GROUP BY time() does not "
            "compose (bucket an aggregate instead)"
        )
    unit_us = (it.unit_s or 1) * 1_000_000
    src = src.filter(F.col("_value").isNotNull())
    w = Window.partitionBy("_field", *[F.col(d) for d in dims]).orderBy(
        "_time", "_value"
    )
    gap = (
        (F.unix_micros("_time") - F.lag(F.unix_micros("_time")).over(w))
        / F.lit(unit_us)
    ).cast("long")
    out = (
        src.select(F.col("_time").alias("time"), *dims, gap.alias(it.out_name))
        .filter(F.col(it.out_name).isNotNull())
    )
    return _series_limits(out, dims, st, "time", tiebreak=[it.out_name])


def _compile_transform(
    src: DataFrame, st: _Stmt, dims: list[str], scale: int = 2
) -> DataFrame:
    """derivative/difference/non_negative_difference/cumulative_sum/
    moving_average over a GROUP BY time() aggregate — the Grafana rate
    and smoothing panels. The inner aggregate computes per bucket
    first; the transform is a per-series window over bucket order:

    - ``difference``: Δvalue between consecutive buckets (first bucket
      emits nothing — upstream).
    - ``derivative(agg, unit)``: Δvalue ÷ (Δt/unit); unit defaults to
      the GROUP BY interval (upstream's aggregated-derivative rule),
      and Δt is the ACTUAL bucket gap, so fill(none) holes divide by
      the true elapsed time.
    - ``cumulative_sum``: running sum over buckets.
    - ``moving_average(agg, N)``: mean of the trailing N buckets,
      emitted only once N buckets exist (upstream).

    fill() other than none does not compose (the fill value would leak
    into the arithmetic) — raise, naming fill(none)."""
    it = st.items[0]
    inner = it.inner
    g = st.group
    if g.every_s is None:
        raise InfluxQLError(
            f"{it.fn}() over an aggregate needs GROUP BY time()"
        )
    if g.fill_set and g.fill != "none":
        raise InfluxQLError(
            f"{it.fn}() composes with fill(none) only (a fill value "
            "would leak into the transform arithmetic); got "
            f"fill({g.fill})"
        )
    if inner.post_ops:
        raise InfluxQLError(
            f"arithmetic inside {it.fn}() is outside the subset — "
            "scale the transform's input field upstream or its output "
            "in the client"
        )
    src = src.filter(F.col("_value").isNotNull())
    gcol, _ = _window_grouping(g.every_s, None, g.offset_s)
    guard = F.col("_field") == inner.field
    agg = (
        src.groupBy(gcol, *dims)
        .agg(_agg_expr(inner.fn, guard, scale).alias("__v"))
        .select(F.col("w.start").alias("time"), *dims, "__v")
    )
    w = (
        Window.partitionBy(*[F.col(d) for d in dims]).orderBy("time")
        if dims
        else Window.orderBy("time")
    )
    name = it.out_name
    if it.fn == "cumulative_sum":
        out = agg.select(
            "time", *dims,
            F.sum("__v").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).alias(name),
        )
    elif it.fn == "moving_average":
        n = int(it.arg)  # type: ignore[arg-type]
        frame = w.rowsBetween(-(n - 1), Window.currentRow)
        out = (
            agg.withColumn("__ma", F.avg("__v").over(frame))
            .withColumn("__k", F.count(F.lit(1)).over(frame))
            .filter(F.col("__k") == n)
            .select("time", *dims, F.col("__ma").alias(name))
        )
    else:
        prev_v = F.lag("__v").over(w)
        prev_t = F.lag("time").over(w)
        delta = F.col("__v") - prev_v
        if it.fn == "derivative":
            unit_s = it.unit_s if it.unit_s is not None else g.every_s
            dt_s = (
                F.unix_micros(F.col("time")) - F.unix_micros(prev_t)
            ) / 1_000_000.0
            expr = delta / dt_s * F.lit(float(unit_s))
        else:
            expr = delta
        out = (
            agg.withColumn("__d", expr)
            .filter(F.col("__d").isNotNull())
            .select("time", *dims, F.col("__d").alias(name))
        )
        if it.fn == "non_negative_difference":
            out = out.filter(F.col(name) >= 0)
    return _series_limits(out, dims, st, "time")


def _apply_fill(
    spark: SparkSession,
    agg: DataFrame,
    st: _Stmt,
    dims: list[str],
    names: list[str],
) -> DataFrame:
    """InfluxQL fill over a GROUP BY time() result. ``fill(none)``
    keeps observed buckets only (the groupBy output as-is). Every
    other fill materializes the FULL bucket spine of the WHERE range —
    first bucket = the epoch-aligned boundary containing the lower
    bound, last bucket = the boundary below the upper bound — per
    EXISTING series (upstream fills series present in the results,
    never invents series), then:

    - ``fill(null)`` (the default): empty buckets with null values,
    - ``fill(<number>)``: the number in every value column,
    - ``fill(previous)``: the series' previous emitted value carried
      forward (buckets before the first observation stay null —
      upstream).

    The spine is ``sequence(first, last, every)`` exploded from one
    row — range/every entries, independent of input volume — crossed
    with the observed series set (bounded by the tag-combination
    count), the gap_fill shape of operators/timeseries.py; the
    spine⋈agg join strategy stays with the planner (no forced
    broadcast — the operator's output is spine × series, the same
    order as the joined side; VERDICT r5 item 3 rule)."""
    g = st.group
    if g.fill == "none":
        return agg
    w = st.where
    if not w.time_lo or not w.time_hi:
        raise InfluxQLError(
            "GROUP BY time() with fill needs BOTH time bounds in WHERE "
            "(the spine of buckets to fill is the queried range); add "
            "an upper bound or use fill(none)"
        )
    lo, lo_incl = w.time_lo
    hi, hi_incl = w.time_hi
    start = _dt.datetime.fromisoformat(lo)
    if not lo_incl:
        start += _dt.timedelta(microseconds=1)
    stop = _dt.datetime.fromisoformat(hi)
    if hi_incl:
        stop += _dt.timedelta(microseconds=1)
    first = _floor_bucket(start.isoformat(sep=" "), g.every_s, g.offset_s)
    last = _floor_bucket(
        (stop - _dt.timedelta(microseconds=1)).isoformat(sep=" "),
        g.every_s,
        g.offset_s,
    )
    if last < first:
        return agg
    spine = spark.range(1).select(
        F.explode(
            F.expr(
                f"sequence(timestamp'{first.isoformat(sep=' ')}', "
                f"timestamp'{last.isoformat(sep=' ')}', "
                f"interval {g.every_s} second)"
            )
        ).alias("time")
    )
    if dims:
        series = agg.select(*dims).distinct()
        grid = spine.crossJoin(series)
    else:
        # upstream fills EXISTING series only: a query whose aggregate
        # produced no rows returns nothing, never a spine of fill
        # values — the one-row marker keeps empty-in → empty-out
        marker = (
            agg.groupBy()
            .agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") > 0)
            .select(F.lit(1).alias("__one"))
        )
        grid = spine.crossJoin(marker).drop("__one")
    out = grid.join(agg, ["time", *dims], "left")
    if isinstance(g.fill, float):
        out = out.select(
            "time", *dims,
            *[F.coalesce(F.col(n), F.lit(g.fill)).alias(n) for n in names],
        )
    elif g.fill == "previous":
        pw = (
            Window.partitionBy(*[F.col(d) for d in dims])
            .orderBy("time")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            if dims
            else Window.orderBy("time").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        out = out.select(
            "time", *dims,
            *[
                F.last(F.col(n), ignorenulls=True).over(pw).alias(n)
                for n in names
            ],
        )
    # fill(null): the left join already left the gaps null
    return out


# ---------------------------------------------------------------------------
# SHOW meta-queries (the Grafana InfluxQL variable dropdowns)
# ---------------------------------------------------------------------------


def _show_cardinality(
    spark: SparkSession,
    df: DataFrame,
    what: str,
    key: str | None,
    card: str,
) -> DataFrame:
    """The ``SHOW ... CARDINALITY`` monitors — series cardinality is
    THE InfluxDB operational scaling concern, so the estimated default
    compiles to ``approx_count_distinct`` (HLL++, register-max merge —
    order-insensitive, deterministic for a fixed multiset, one
    map-side-combinable pass that survives any store size) and the
    ``EXACT`` form to ``count_distinct`` (a full distinct shuffle —
    the honest cost, reach for it only when the estimate isn't
    enough, exactly upstream's split). Series key = measurement + tag
    set (the upstream 1.x definition; fields are counted by FIELD KEY
    CARDINALITY). Output: one row, ``count`` BIGINT."""
    if what == "SERIES":
        tag_cols = bkt.tag_columns(df)
        target = F.concat_ws(
            "\x1f", F.col("_measurement"), *[F.col(t) for t in tag_cols]
        )
    elif what == "MEASUREMENT":
        target = F.col("_measurement")
    elif what == "FIELD":
        target = F.col("_field")
    elif what == "TAG" and key is not None:
        tag_cols = bkt.tag_columns(df)
        if key not in tag_cols:
            raise InfluxQLError(
                f"SHOW TAG VALUES CARDINALITY: {key!r} is not a tag of "
                f"this store (tags: {sorted(tag_cols)})"
            )
        target = F.col(key)
    else:  # TAG KEY CARDINALITY — the tag-key count is schema, not data
        n = len(bkt.tag_columns(df))
        return spark.createDataFrame([(n,)], "count bigint")
    expr = (
        F.count_distinct(target)
        if card == "exact"
        else F.approx_count_distinct(target)
    )
    return df.groupBy().agg(expr.cast("long").alias("count"))


def _compile_show(
    spark: SparkSession, cur: _Cursor, bucket_path: str, now: str | None
) -> DataFrame:
    """``SHOW MEASUREMENTS`` / ``SHOW FIELD KEYS`` / ``SHOW TAG KEYS``
    / ``SHOW TAG VALUES WITH KEY = "k"`` — the InfluxQL faces of the
    schema family flux.py serves as ``schema.*`` (same upstream
    output shapes: ``name``; ``fieldKey``+``fieldType``; ``tagKey``;
    ``key``+``value``). Optional ``FROM <m>`` scopes to a measurement;
    an optional WHERE time range prunes the scan like any query."""
    cur.expect("SHOW")
    what = cur.next().upper()
    if what == "MEASUREMENTS":
        if not cur.done():
            raise InfluxQLError(
                "SHOW MEASUREMENTS takes no clauses in the subset"
            )
        return (
            bkt.read_bucket(spark, bucket_path)
            .select(F.col("_measurement").alias("name"))
            .distinct()
        )
    if what not in ("FIELD", "TAG", "SERIES", "MEASUREMENT"):
        raise InfluxQLError(
            f"SHOW {what} is outside the subset (MEASUREMENTS / FIELD "
            "KEYS / TAG KEYS / TAG VALUES / the CARDINALITY family)"
        )
    measurement = None
    key = None
    card: str | None = None  # None | "exact" | "approx"
    if what in ("SERIES", "MEASUREMENT"):
        # SHOW SERIES|MEASUREMENT [EXACT] CARDINALITY — the
        # cardinality monitors; bare SHOW SERIES (the full series
        # dump) stays outside the subset
        if cur.done():
            raise InfluxQLError(
                f"bare SHOW {what} is outside the subset — the "
                f"CARDINALITY monitors ship (SHOW {what} [EXACT] "
                "CARDINALITY)"
            )
        card = "exact" if cur.accept_kw("EXACT") else "approx"
        cur.expect("CARDINALITY")
        second = "CARDINALITY"
    else:
        second = cur.next().upper()
        if what == "TAG" and second == "VALUES":
            pass
        elif second == "KEY":
            card = "exact" if cur.accept_kw("EXACT") else "approx"
            cur.expect("CARDINALITY")
        elif second != "KEYS":
            raise InfluxQLError(
                f"SHOW {what} {second} is not an InfluxQL form"
            )
    if what == "TAG" and second == "VALUES" and cur.peek_kw() in (
        "EXACT", "CARDINALITY",
    ):
        card = "exact" if cur.accept_kw("EXACT") else "approx"
        cur.expect("CARDINALITY")
    if cur.accept_kw("FROM"):
        measurement = _ident(cur.next())
    if what == "TAG" and second == "VALUES":
        cur.expect("WITH")
        cur.expect("KEY")
        cur.expect("=")
        key = _ident(cur.next())
    where = _Where()
    if cur.accept_kw("WHERE"):
        where = _parse_where(cur, now)
        if (
            where.tag_in
            or where.tag_not_in
            or where.tag_neq
            or where.field_preds
        ):
            raise InfluxQLError(
                "SHOW ... WHERE ships time bounds only in the subset"
            )
    if not cur.done():
        raise InfluxQLError(
            f"trailing tokens after SHOW: {cur.toks[cur.i:][:6]}"
        )
    # same operator-exactness discipline as _scan (review 15b: the
    # bounds were passed raw, so <= behaved exclusive and > inclusive):
    # scan with the widened superset, re-apply the exact predicate
    start = where.time_lo[0] if where.time_lo else None
    stop = None
    if where.time_hi:
        ts, incl = where.time_hi
        stop = (
            (
                _dt.datetime.fromisoformat(ts) + _dt.timedelta(seconds=1)
            ).strftime("%Y-%m-%d %H:%M:%S")
            if incl
            else ts
        )
    df = bkt.scan_bucket(
        spark, bucket_path, measurement=measurement, start=start, stop=stop
    )
    if where.time_lo and not where.time_lo[1]:
        df = df.filter(F.col("_time") > where.time_lo[0])
    if where.time_hi and where.time_hi[1]:
        df = df.filter(F.col("_time") <= where.time_hi[0])
    if card is not None:
        return _show_cardinality(spark, df, what, key, card)
    if what == "FIELD":
        # the store's value column is a double — upstream reports the
        # shard's concrete field type the same way
        return (
            df.select(F.col("_field").alias("fieldKey"))
            .distinct()
            .withColumn("fieldType", F.lit("float"))
        )
    tag_cols = bkt.tag_columns(df)
    if second == "KEYS":
        if not tag_cols:
            return spark.createDataFrame([], "tagKey string")
        return spark.createDataFrame(
            [(t,) for t in sorted(tag_cols)], "tagKey string"
        )
    if key not in tag_cols:
        raise InfluxQLError(
            f"SHOW TAG VALUES: {key!r} is not a tag of this store "
            f"(tags: {sorted(tag_cols)})"
        )
    return (
        df.select(F.col(key).alias("value"))
        .distinct()
        .select(F.lit(key).alias("key"), "value")
    )


# ---------------------------------------------------------------------------
# CREATE CONTINUOUS QUERY — the CQ scheduler face
# ---------------------------------------------------------------------------

_CQ_RE = re.compile(
    r"""^\s*CREATE\s+CONTINUOUS\s+QUERY\s+
        (?P<name>"[^"]+"|\w+)\s+ON\s+(?P<db>"[^"]+"|\w+)\s+
        (?:RESAMPLE\s+(?:EVERY\s+(?P<every>\S+)\s*)?
           (?:FOR\s+(?P<for>\S+)\s*)?)?
        BEGIN\s+(?P<body>.*?)\s+END\s*;?\s*$""",
    re.IGNORECASE | re.DOTALL | re.VERBOSE,
)


def start_influxql_cq(
    spark: SparkSession,
    statement: str,
    bucket_path: str,
    into_path: str,
    checkpoint: str,
    now: str | None = None,
    now_fn=None,
    tick_seconds: int = 60,
    available_now: bool = True,
):
    """``CREATE CONTINUOUS QUERY <name> ON <db> [RESAMPLE EVERY <i>]
    BEGIN SELECT ... INTO ... GROUP BY time(...) END`` — InfluxDB's
    downsampling scheduler, run exactly like ``flux.start_flux_task``:
    one long-lived Structured Streaming ticker whose every tick
    re-parses and re-executes the inner SELECT-INTO body through the
    idempotent dynamic-partition-overwrite writer, so a replayed or
    crashed tick rewrites exactly the same partitions (exactly-once in
    effect, no sink-side dedup state). A bare ``SELECT ... INTO``
    statement is accepted too (the task body without the DDL wrapper).

    ``RESAMPLE EVERY <interval>`` sets the tick cadence (overriding
    ``tick_seconds``); ``RESAMPLE FOR`` raises — the recompute window
    is the inner statement's own WHERE range, which is where upstream
    CQs express it too (write ``time >= now() - 2h`` and pass
    ``now_fn`` for the per-tick anchor; the replayability rule: with
    neither ``now`` nor ``now_fn``, a now()-relative body raises at
    start, never silently at tick 1). ``available_now=True`` runs one
    tick and stops (the test/backfill trigger).

    Scale: each tick is one compiled pipeline over the pruned scan —
    bound the WHERE range so a tick touches only recent partitions
    (the maintenance-floor discipline), and size the cadence to the
    dashboard's freshness SLA."""
    m = _CQ_RE.match(statement)
    if m:
        body = m.group("body")
        if m.group("for"):
            raise InfluxQLError(
                "RESAMPLE FOR is outside the subset — the recompute "
                "window is the inner statement's WHERE range (write "
                "time >= now() - <for> and pass now_fn)"
            )
        if m.group("every"):
            tick_seconds = _parse_duration_s(
                m.group("every"), "RESAMPLE EVERY"
            )
    elif re.match(r"^\s*CREATE\b", statement, re.IGNORECASE):
        raise InfluxQLError(
            "malformed CREATE CONTINUOUS QUERY — expected CREATE "
            'CONTINUOUS QUERY <name> ON <db> [RESAMPLE EVERY <i>] '
            "BEGIN <select-into> END"
        )
    else:
        body = statement

    def _parse_body(anchor: str | None) -> _Stmt:
        toks = _tokenize(body)
        cur = _Cursor(toks)
        cur.expect("SELECT")
        return _parse_select(cur, anchor)

    # fail fast at start (the start_flux_task rule): the body must
    # parse with the per-tick anchor source and pass the INTO shape
    # checks — a malformed script errors HERE, not as an async
    # StreamingQueryException at tick 1
    st0 = _parse_body(now_fn() if now_fn is not None else now)
    if st0.into is None:
        raise InfluxQLError(
            "the continuous-query body needs INTO — for a read-only "
            "live panel use the Flux streaming path "
            "(compile_flux_stream)"
        )
    _check_into_shape(st0, bucket_path, into_path)

    def _tick(batch_df: DataFrame, epoch_id: int) -> None:
        anchor = now_fn() if now_fn is not None else now
        st = _parse_body(anchor)
        _compile_into(spark, st, bucket_path, into_path)

    ticker = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
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
