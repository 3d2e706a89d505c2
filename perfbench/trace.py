"""Traced-run telemetry: Spark's event log and streaming progress, rolled
up per op.

Only a run with ``--trace 1`` turns these on. It enables an uncompressed,
non-rolling event log inside the run directory, tags every op phase with
``setJobGroup("op:<index>:<phase>")`` and keeps each drained stream's
``recentProgress`` in memory. Nothing here runs inside the program: it
reads what Spark already records.
"""

from __future__ import annotations

import json
import os

from .stats import median

#: micro-batch phases reported per stream, as named in ``durationMs``
PHASES = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def event_log_conf(directory: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(directory),
    }


def progress_dicts(query) -> list[dict]:
    """``StreamingQuery.recentProgress`` as plain dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


def _read_events(directory: str):
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        if os.path.isfile(path) and not name.endswith(".inprogress"):
            with open(path) as f:
                for line in f:
                    yield json.loads(line)


def _covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if a >= b:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def rollup_event_log(directory: str, windows: list[tuple[int, int, int]]) -> list[dict]:
    """Per-op Spark execution totals.

    ``windows`` holds (op index, start ms, end ms) in wall-clock epoch
    milliseconds. A job belongs to the op its ``spark.jobGroup.id`` names;
    a job without an op group (a streaming micro-batch runs on the
    stream's own thread) belongs to the op whose window holds its
    submission time. A task belongs to the op of the job that ran its
    stage.
    """

    def op_at(ms: int) -> int | None:
        for i, lo, hi in windows:
            if lo <= ms <= hi:
                return i
        return None

    per = {i: {"jobs": 0, "stages": set(), "tasks": 0, "cpu_ns": 0, "run_ms": 0,
               "gc_ms": 0, "in_bytes": 0, "in_rows": 0, "shuffle_w": 0,
               "spill": 0, "intervals": []} for i, _, _ in windows}
    stage_op: dict[int, int | None] = {}
    for ev in _read_events(directory):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if group.startswith("op:"):
                op = int(group.split(":")[1])
            else:
                op = op_at(ev["Submission Time"])
            if op in per:
                per[op]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                # a stage listed again by a later job is skipped there
                stage_op.setdefault(sid, op)
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if op not in per or not m:
                continue
            acc = per[op]
            info = ev["Task Info"]
            acc["stages"].add(ev["Stage ID"])
            acc["tasks"] += 1
            acc["cpu_ns"] += m["Executor CPU Time"]
            acc["run_ms"] += m["Executor Run Time"]
            acc["gc_ms"] += m["JVM GC Time"]
            acc["in_bytes"] += m["Input Metrics"]["Bytes Read"]
            acc["in_rows"] += m["Input Metrics"]["Records Read"]
            acc["shuffle_w"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            acc["spill"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            acc["intervals"].append((info["Launch Time"], info["Finish Time"]))
    out = []
    for i, lo, hi in windows:
        acc = per[i]
        out.append(
            {
                "jobs": acc["jobs"],
                "stages": len(acc["stages"]),
                "tasks": acc["tasks"],
                "executor_cpu_s": acc["cpu_ns"] / 1e9,
                "executor_run_s": acc["run_ms"] / 1e3,
                "gc_s": acc["gc_ms"] / 1e3,
                "input_bytes": acc["in_bytes"],
                "input_rows": acc["in_rows"],
                "shuffle_write_bytes": acc["shuffle_w"],
                "spill_bytes": acc["spill"],
                "driver_gap_s": (hi - lo - _covered_ms(acc["intervals"], lo, hi)) / 1e3,
            }
        )
    return out


def spark_layer(per_op: list[dict], result_rows: list[int]) -> dict[str, tuple]:
    """Medians over ops of the event-log totals, as named metrics."""
    names = {
        "jobs": ("spark.jobs_per_op", "count"),
        "stages": ("spark.stages_per_op", "count"),
        "tasks": ("spark.tasks_per_op", "count"),
        "executor_cpu_s": ("spark.executor_cpu_s_per_op", "s"),
        "executor_run_s": ("spark.executor_run_s_per_op", "s"),
        "gc_s": ("spark.gc_s_per_op", "s"),
        "driver_gap_s": ("spark.driver_gap_s_per_op", "s"),
        "input_bytes": ("spark.input_bytes_per_op", "bytes"),
        "input_rows": ("spark.input_rows_per_op", "rows"),
        "shuffle_write_bytes": ("spark.shuffle_write_bytes_per_op", "bytes"),
        "spill_bytes": ("spark.spill_bytes_per_op", "bytes"),
    }
    out = {}
    for key, (name, unit) in names.items():
        out[name] = (median([op[key] for op in per_op]), unit, "median over ops")
    out["spark.result_rows_per_op"] = (median(result_rows), "rows", "median over ops")
    return out


def stream_layer(stream: str, drains: list[list[dict]]) -> dict[str, tuple]:
    """Micro-batch phase times of one stream: per op, the phases summed
    over the batches its drain ran; then the median over ops."""
    out = {}
    for phase in PHASES:
        per_op = [sum(b.get("durationMs", {}).get(phase, 0) for b in d) for d in drains]
        out[f"stream.{stream}.{phase}_ms"] = (
            median(per_op), "ms", "median over ops of the drain's batches, summed"
        )
    return out


def state_layer(panel: list[list[dict]], window: list[list[dict]]) -> dict[str, tuple | None]:
    """Keyed-state size and commit time of the stateful panel, and the
    windowed panel's late rows, from the last batch of each drain; None
    for a value no drain reported."""

    def op_values(drains, field, total=False):
        vals = []
        for d in drains:
            batches = [b for b in d if b.get("stateOperators")]
            if not batches:
                continue
            if total:
                vals.append(sum(op.get(field, 0) for b in batches for op in b["stateOperators"]))
            else:
                vals.append(sum(op.get(field, 0) for op in batches[-1]["stateOperators"]))
        return median(vals) if vals else None

    def metric(drains, field, unit, base, total=False):
        v = op_values(drains, field, total)
        return None if v is None else (v, unit, base)

    return {
        "stream.panel.state_rows": metric(panel, "numRowsTotal", "rows", "after each drain, median over ops"),
        "stream.panel.state_bytes": metric(panel, "memoryUsedBytes", "bytes", "after each drain, median over ops"),
        "stream.panel.state_commit_ms": metric(panel, "commitTimeMs", "ms", "per drain, median over ops", True),
        "stream.window.late_rows_dropped": metric(
            window, "numRowsDroppedByWatermark", "rows", "per drain, median over ops", True),
    }
