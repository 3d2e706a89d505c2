"""The benchmark's workloads: one client, closed loop, seeded op sequence.

A workload sets up its stores, runs one untimed warm-up pass of every op
template, then serves ops. Each op is prepared outside its timed span
(parameters drawn, input files staged) and its output is kept, so the
correctness check runs after the timed phase.

``dashboard`` reads a store built once; ``live`` writes the same kind of
store beside reads, so a cache that serves a stale relation fails there;
``curation`` runs the executor-heavy document operators on a new corpus
shard per op. ``arrivals`` alternates a ``live`` op and a ``curation`` op
in one run (see :class:`Arrivals`).
"""

from __future__ import annotations

import datetime as dt
import math
import os
import time

from . import gen, panels, trace
from .stats import median

#: corpus shape: 13 day files of one wide row per 2 minutes; the live
#: workload starts from the first LIVE_DAYS of them and lands one per op
DAYS = 13
LIVE_DAYS = 2
ROWS = 720
POINTS_PER_DAY = ROWS * len(gen.FIELDS)
#: documents per curation shard; an op's cost is set by the number of
#: Spark jobs in its four queries far more than by the shard's size
SHARD_DOCS = 400


class Recorder:
    """Call timings and layer values of one run, kept in memory."""

    def __init__(self, spark, tracing: bool):
        self.spark = spark
        self.tracing = tracing
        self.calls: dict[str, list[float]] = {}
        self.values: dict[str, tuple[float, str, str]] = {}

    def group(self, label: str) -> None:
        """Tag the jobs that follow with ``label`` (traced runs only)."""
        if self.tracing:
            self.spark.sparkContext.setJobGroup(label, label)

    def timed(self, name: str, fn, *args, **kwargs):
        t = time.monotonic()
        try:
            return fn(*args, **kwargs)
        finally:
            self.calls.setdefault(name, []).append(time.monotonic() - t)

    def add(self, name: str, seconds: float) -> None:
        """Add ``seconds`` to a set-up value (a workload made of two adds
        both halves)."""
        prev = self.values.get(name, (0.0,))[0]
        self.values[name] = (prev + seconds, "s", "once per run")

    def call_p50(self, name: str, base: str = "median over calls") -> tuple | None:
        """Median duration of the calls named ``name``; None when there
        was no such call."""
        calls = self.calls.get(name)
        return (median(calls), "s", base) if calls else None


def _count_files(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix) and not f.startswith("."):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def measured(values: dict) -> dict:
    """``values`` without the layers that were not measured (None)."""
    return {k: v for k, v in values.items() if v is not None}


def _day(index: int) -> dt.date:
    return gen.FIRST_DAY + dt.timedelta(days=index)


class Dashboard:
    """Panel refreshes over a read-only 13-day bucket."""

    name = "dashboard"
    unit = "panels"
    #: a run serves whole cycles of the op sequence
    cycle = len(panels.TEMPLATES)
    #: two cycles: the medians and sums of a run rest on two refreshes of
    #: each template, not on one
    min_ops = 2 * cycle

    def __init__(self, spark, rec: Recorder, root: str, seed: int):
        self.spark, self.rec, self.seed = spark, rec, seed
        self.csv = os.path.join(root, "csv")
        self.bucket = os.path.join(root, "bucket")

    def setup(self) -> None:
        from time_series_data_pipeline_spark.sources import bucket as bkt
        from time_series_data_pipeline_spark.sources import gas_csv

        rec = self.rec
        t = time.monotonic()
        os.makedirs(self.csv)
        for d in range(DAYS):
            gen.write_gas_day(self.csv, self.seed, d, ROWS)
        rec.add("setup.generate_s", time.monotonic() - t)

        t = time.monotonic()
        rec.group("setup:build")
        long_df = bkt.to_long(
            gas_csv.ingest_wide(self.spark, self.csv), panels.MEASUREMENT,
            value_cols=list(gas_csv.VALUE_COLS), field_labels=gas_csv.FIELD_LABELS,
        )
        bkt.write_bucket(long_df, self.bucket)
        bkt.refresh_bucket_manifest(self.spark, self.bucket)
        rec.add("sources.bucket.build_s", time.monotonic() - t)
        self.files_in_bucket = _count_files(self.bucket)[0] - _count_files(
            os.path.join(self.bucket, bkt.MANIFEST_SUBDIR))[0]

        # the first cycle of the op sequence, untimed: every template in
        # the window and range length it is timed with, so the first timed
        # cycle does not pay for a plan or scan size seen for the first time
        t = time.monotonic()
        self.ops = gen.panel_ops(self.seed, DAYS, panels.SHAPES)
        for i in range(self.cycle):
            rec.group(f"setup:warmup:{i}")
            self._panel(next(self.ops))[0].collect()
        rec.add("setup.warmup_s", time.monotonic() - t)
        rec.calls.clear()

    def _panel(self, op):
        from time_series_data_pipeline_spark.flux import compile_flux
        from time_series_data_pipeline_spark.influxql import compile_influxql

        template, p = op
        text, params, sql = panels.TEMPLATES[template](p)
        if template.startswith("flux"):
            df = self.rec.timed("flux.compile_s", compile_flux, self.spark, text,
                                {panels.BUCKET: self.bucket}, params=params)
        else:
            df = self.rec.timed("influxql.compile_s", compile_influxql,
                                self.spark, text, self.bucket)
        return df, sql

    def prepare(self, i: int):
        return next(self.ops)

    def run(self, i: int, op):
        self.rec.group(f"op:{i}:compile")
        df, sql = self._panel(op)
        self.rec.group(f"op:{i}:collect")
        rows = self.rec.timed("spark.collect_s", df.collect)
        return {"df": df, "columns": list(df.columns), "rows": [tuple(r) for r in rows],
                "sql": sql, "result_rows": len(rows)}

    def work(self, op, out) -> int:
        return 1

    def after(self, i: int, op, out) -> None:
        """Trace-only read-side counts, outside the op's span."""
        if self.rec.tracing:
            out["files_scanned"] = len(out["df"].inputFiles())
        del out["df"]

    def check(self, ops, outs) -> list[str | None]:
        from .oracle import compare_rows, duck_gas

        con = duck_gas(self.csv)
        return [compare_rows(out["columns"], out["rows"], con, out["sql"]) for out in outs]

    def layers(self, outs, per_op) -> dict:
        rec = self.rec
        out = {
            "flux.compile_s": rec.call_p50("flux.compile_s"),
            "influxql.compile_s": rec.call_p50("influxql.compile_s"),
            "spark.collect_s": rec.call_p50("spark.collect_s"),
        }
        scanned = [o["files_scanned"] for o in outs]
        out["sources.manifest.files_scanned_per_op"] = (median(scanned), "files", "median over ops")
        out["sources.manifest.prune_ratio"] = (
            median(scanned) / self.files_in_bucket, "ratio",
            f"files scanned / {self.files_in_bucket} data files in the bucket")
        ratios = [p["input_rows"] / max(1, o["result_rows"]) for p, o in zip(per_op, outs)]
        out["sources.bucket.rows_scanned_per_result_row"] = (
            median(ratios), "ratio", "input rows / result rows, median over ops")
        return measured(out)


class Live:
    """One day file lands per op; the streams drain and a batch probe
    must see the whole day."""

    name = "live"
    unit = "points"
    cycle = 1
    min_ops = 2
    STREAMS = ("ingest", "rollup", "window", "panel")

    WINDOW_PANEL = """
        from(bucket: "gas-quality")
          |> range(start: "2016-10-01T00:00:00Z")
          |> filter(fn: (r) => r["_measurement"] == "gas")
          |> filter(fn: (r) => r["_field"] == "R3 (MOhm)")
          |> aggregateWindow(every: 15m, fn: mean)
        """
    STATE_PANEL = """
        from(bucket: "gas-quality")
          |> filter(fn: (r) => r["_measurement"] == "gas")
          |> filter(fn: (r) => r["_field"] == "R5 (MOhm)")
          |> kaufmansAMA(n: 10)
        """

    def __init__(self, spark, rec: Recorder, root: str, seed: int):
        self.spark, self.rec, self.seed = spark, rec, seed
        self.watch = os.path.join(root, "watch")
        self.stage = os.path.join(root, "stage")
        self.bucket = os.path.join(root, "bucket")
        self.rollup = os.path.join(root, "rollup")
        self.ckpt = os.path.join(root, "checkpoints")
        self.progress: dict[str, list[list[dict]]] = {s: [] for s in self.STREAMS}

    def _drain(self, stream: str) -> None:
        from time_series_data_pipeline_spark.flux import compile_flux_stream
        from time_series_data_pipeline_spark.streaming import ingest

        rec = self.rec
        ck = os.path.join(self.ckpt, stream)
        t = time.monotonic()
        if stream == "ingest":
            q = ingest.start_bucket_ingest(self.spark, self.watch, self.bucket, ck)
        elif stream == "rollup":
            q = ingest.start_rollup_maintenance(
                self.spark, self.bucket, self.rollup, ck, maintain_manifest=True)
        else:
            text = self.WINDOW_PANEL if stream == "window" else self.STATE_PANEL
            df = rec.timed("flux.stream_compile_s", compile_flux_stream, self.spark,
                           text, {panels.BUCKET: self.bucket})
            q = (df.writeStream.format("noop").outputMode("append")
                 .option("checkpointLocation", ck).trigger(availableNow=True).start())
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"{stream} stream failed: {q.exception()}")
        rec.calls.setdefault(f"drain.{stream}", []).append(time.monotonic() - t)
        if rec.tracing:
            self.progress[stream].append(trace.progress_dicts(q))

    def _probe(self, day: dt.date):
        """Points of ``day`` visible through a batch Flux panel, and the
        day's rows in the hourly rollup."""
        from pyspark.sql import functions as F

        from time_series_data_pipeline_spark.flux import compile_flux

        text = f"""
            from(bucket: "{panels.BUCKET}")
              |> range(start: "{day}T00:00:00Z", stop: "{day + dt.timedelta(days=1)}T00:00:00Z")
              |> filter(fn: (r) => r["_measurement"] == "{panels.MEASUREMENT}")
              |> count()
            """
        df = self.rec.timed("flux.compile_s", compile_flux, self.spark, text,
                            {panels.BUCKET: self.bucket})
        rows = df.collect()
        rollup_rows = (self.spark.read.parquet(self.rollup)
                       .filter(F.col("_date") == str(day)).count())
        return sum(r["count"] for r in rows), rollup_rows, len(rows)

    def setup(self) -> None:
        rec = self.rec
        t = time.monotonic()
        for d in (self.watch, self.stage, self.ckpt):
            os.makedirs(d)
        for d in range(LIVE_DAYS):
            gen.write_gas_day(self.watch, self.seed, d, ROWS)
        rec.add("setup.generate_s", time.monotonic() - t)

        t = time.monotonic()
        rec.group("setup:build")
        self._drain("ingest")
        self._drain("rollup")
        rec.add("sources.bucket.build_s", time.monotonic() - t)

        # one untimed op, whose first panel drains also create the panels'
        # checkpoints: the first op after a fresh start is the slowest by
        # far (incremental manifest refresh, a second micro-batch per
        # stream, Python workers)
        t = time.monotonic()
        self.run(-1, self.prepare(-1))
        rec.add("setup.warmup_s", time.monotonic() - t)
        rec.calls.clear()
        self.progress = {s: [] for s in self.STREAMS}

    def prepare(self, i: int):
        """Stage the op's day file outside the watched directory (op -1 is
        the warm-up)."""
        index = LIVE_DAYS + 1 + i
        path = gen.write_gas_day(self.stage, self.seed, index, ROWS)
        return {"day": _day(index), "path": path}

    def run(self, i: int, op):
        os.rename(op["path"], os.path.join(self.watch, os.path.basename(op["path"])))
        self.rec.group(f"op:{i}:drain")
        for stream in self.STREAMS:
            self._drain(stream)
        self.rec.group(f"op:{i}:probe")
        points, rollup_rows, n = self.rec.timed("flux.probe_s", self._probe, op["day"])
        return {"points": points, "rollup_rows": rollup_rows, "result_rows": n}

    def work(self, op, out) -> int:
        return POINTS_PER_DAY

    def after(self, i: int, op, out) -> None:
        """Trace-only write-side sizes of the landed day, outside the span."""
        if self.rec.tracing:
            day = f"_date={op['day']}"
            out["files"], out["bytes"] = _count_files(
                os.path.join(self.bucket, f"_measurement={panels.MEASUREMENT}", day))
            out["rollup_bytes"] = _count_files(
                os.path.join(self.rollup, f"_measurement={panels.MEASUREMENT}", day))[1]

    def expected(self, op) -> tuple[int, int]:
        """Exact points and hourly rollup rows of the op's day."""
        index = (op["day"] - gen.FIRST_DAY).days
        frame = gen.gas_day(self.seed, index, ROWS)
        hours = len({math.floor(s / 3600) for s in frame["Time (s)"] if s < 86400})
        return len(frame) * len(gen.FIELDS), hours * len(gen.FIELDS)

    def check(self, ops, outs) -> list[str | None]:
        res = []
        for op, out in zip(ops, outs):
            want = self.expected(op)
            got = (out["points"], out["rollup_rows"])
            res.append(None if got == want else f"{op['day']}: (points, rollup rows) {got} != {want}")
        return res

    def layers(self, outs, per_op) -> dict:
        rec = self.rec

        def drain(name):
            return rec.call_p50(f"drain.{name}", "start through awaitTermination, median over ops")

        out = {
            "flux.compile_s": rec.call_p50("flux.compile_s", "probe compile_flux, median over calls"),
            "flux.stream_compile_s": rec.call_p50("flux.stream_compile_s"),
            "flux.probe_s": rec.call_p50("flux.probe_s"),
            "streaming.ingest.drain_s": drain("ingest"),
            "streaming.ingest.rollup_drain_s": drain("rollup"),
            "streaming.stateful.panel_drain_s": drain("panel"),
            "sources.bucket.files_written_per_op": (
                median([o["files"] for o in outs]), "files", "landed day, median over ops"),
            "sources.bucket.bytes_per_point": (
                median([o["bytes"] / POINTS_PER_DAY for o in outs]), "bytes",
                f"landed day bytes / {POINTS_PER_DAY} points, median over ops"),
            "sources.bucket.rollup_bytes_rewritten_per_op": (
                median([o["rollup_bytes"] for o in outs]), "bytes", "landed day's rollup partition, median over ops"),
        }
        for stream in self.STREAMS:
            out.update(trace.stream_layer(stream, self.progress[stream]))
        out.update(trace.state_layer(self.progress["panel"], self.progress["window"]))
        return measured(out)


class Curation:
    """One new document shard per op through the four curation queries."""

    name = "curation"
    unit = "docs"
    cycle = 1
    min_ops = 2
    #: registered query -> per-layer metric of its call plus collect
    QUERIES = {
        "curation_pipeline": "operators.curation.cascade_s",
        "ngram_jaccard_pairs": "operators.dedup.jaccard_pairs_s",
        "embedding_lsh_ann": "operators.similarity.lsh_ann_s",
        "hybrid_search_rrf": "operators.search.hybrid_s",
    }

    def __init__(self, spark, rec: Recorder, root: str, seed: int):
        self.spark, self.rec, self.seed = spark, rec, seed
        self.shards = os.path.join(root, "shards")

    def setup(self) -> None:
        os.makedirs(self.shards)
        # one untimed op on shard 0: the first run of each query loads its
        # code paths and starts the Arrow workers
        t = time.monotonic()
        self.run(-1, self.prepare(-1))
        self.rec.add("setup.warmup_s", time.monotonic() - t)
        self.rec.calls.clear()

    def prepare(self, i: int):
        """Write the op's shard (op -1, the warm-up, gets shard 0); each
        op reads a shard of its own, so the stores built per corpus
        version miss on every op."""
        path, near = gen.write_shard(self.shards, self.seed, i + 1, SHARD_DOCS)
        return {"path": path, "near": near}

    def run(self, i: int, op):
        from time_series_data_pipeline_spark.queries import QUERIES

        def materialise(query):
            # the call itself runs jobs: it builds the shard's stores
            df = QUERIES[query](self.spark, op["path"])
            return df.columns, df.collect()

        out = {"result_rows": 0}
        for query, metric in self.QUERIES.items():
            self.rec.group(f"op:{i}:{query}")
            columns, rows = self.rec.timed(metric, materialise, query)
            out[query] = (list(columns), [tuple(r) for r in rows])
            out["result_rows"] += len(rows)
        return out

    def work(self, op, out) -> int:
        return SHARD_DOCS

    def after(self, i: int, op, out) -> None:
        """The two quality ratios' counts, outside the op's span."""
        cols, rows = out["ngram_jaccard_pairs"]
        a, b = cols.index("id_a"), cols.index("id_b")
        pairs = {(r[a], r[b]) for r in rows}
        out["near_found"] = sum(p in pairs for p in op["near"])
        out["near_planted"] = len(op["near"])
        cols, rows = out["curation_pipeline"]
        out["kept"] = sum(bool(r[cols.index("keep")]) for r in rows)

    def check(self, ops, outs) -> list[str | None]:
        """Each query against the registry's own DuckDB oracle on the
        shard. ``embedding_lsh_ann`` is rows-only: its pairs must be the
        pairs of its verified partner ``lsh_ann_verify`` (same planes,
        banding and threshold; the partner's cosine is computed by
        another kernel, so only the pairs are compared)."""
        from time_series_data_pipeline_spark.queries import ORACLE

        from .oracle import compare_rows, duck_tables

        res = []
        for op, out in zip(ops, outs):
            con = duck_tables(op["path"], ("documents", "embeddings"))
            bad = []
            for query in ("curation_pipeline", "ngram_jaccard_pairs", "hybrid_search_rrf"):
                verdict = compare_rows(*out[query], con, ORACLE[query])
                if verdict:
                    bad.append(f"{query}: {verdict}")
            cols, rows = out["embedding_lsh_ann"]
            ids = [cols.index("id_a"), cols.index("id_b")]
            verdict = compare_rows(
                ["id_a", "id_b"], [tuple(r[k] for k in ids) for r in rows], con,
                f"SELECT id_a, id_b FROM ({ORACLE['lsh_ann_verify']})")
            if verdict:
                bad.append(f"embedding_lsh_ann vs lsh_ann_verify: {verdict}")
            con.close()
            res.append(f"{op['path']}: {'; '.join(bad)}" if bad else None)
        return res

    def layers(self, outs, per_op) -> dict:
        out = {metric: self.rec.call_p50(metric, "call plus collect, median over ops")
               for metric in self.QUERIES.values()}
        planted = sum(o["near_planted"] for o in outs)
        out["operators.dedup.planted_pairs_found_ratio"] = (
            sum(o["near_found"] for o in outs) / planted, "ratio",
            f"planted near-duplicate pairs in ngram_jaccard_pairs / {planted} planted")
        out["operators.curation.kept_ratio"] = (
            sum(o["kept"] for o in outs) / (SHARD_DOCS * len(outs)), "ratio",
            "documents curation_pipeline keeps / documents")
        return measured(out)


class Arrivals:
    """``live`` and ``curation`` in one run: even ops land a day file,
    odd ops curate a new document shard.

    Both are arrivals of new data that must be processed before it can
    be read, and their ops take about as long, so the median op stays
    between the two kinds. One run of this workload costs one session
    start and one cold JVM fewer than a run of each.
    """

    name = "arrivals"
    unit = "arrivals"
    cycle = 2
    min_ops = 2

    def __init__(self, spark, rec: Recorder, root: str, seed: int):
        self.kinds = {"day": Live(spark, rec, os.path.join(root, "live"), seed),
                      "shard": Curation(spark, rec, os.path.join(root, "curation"), seed)}

    def setup(self) -> None:
        for part in self.kinds.values():
            part.setup()

    def prepare(self, i: int):
        kind = "day" if i % 2 == 0 else "shard"
        return kind, self.kinds[kind].prepare(i // 2)

    def run(self, i: int, op):
        kind, sub = op
        out = self.kinds[kind].run(i, sub)
        out["kind"] = kind
        return out

    def work(self, op, out) -> int:
        return 1

    def after(self, i: int, op, out) -> None:
        self.kinds[op[0]].after(i, op[1], out)

    def check(self, ops, outs) -> list[str | None]:
        res = [None] * len(ops)
        for kind, part in self.kinds.items():
            keep = [k for k, op in enumerate(ops) if op[0] == kind]
            verdicts = part.check([ops[k][1] for k in keep], [outs[k] for k in keep])
            for k, v in zip(keep, verdicts):
                res[k] = v
        return res

    def layers(self, outs, per_op) -> dict:
        out = {}
        for kind, part in self.kinds.items():
            keep = [k for k, o in enumerate(outs) if o["kind"] == kind]
            if keep:
                out.update(part.layers([outs[k] for k in keep], [per_op[k] for k in keep]))
        return out


WORKLOADS = {w.name: w for w in (Dashboard, Live, Curation, Arrivals)}
