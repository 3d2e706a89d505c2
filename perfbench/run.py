"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Each invocation is one run of one workload. This process makes a fresh
run directory under ``.perfbench/`` in the checkout, starts the run in a
child process whose ``TMPDIR``, ``SPARK_LOCAL_DIRS``, JVM temp dir, Spark
warehouse, stores and checkpoints all live in that directory, waits for
the child and every process it started, and deletes the directory. No
run can reuse a store an earlier run built.

The child prints one line per metric, with its unit and base, and as its
last line the JSON result: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics untraced, the per-layer metrics with
``--trace 1``). It exits non-zero, without a result, when the program
cannot be imported or set up.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procstat, stats, trace  # noqa: E402

RUNS = os.path.join(ROOT, ".perfbench")
#: a run, set-up included, that has not ended after this long is stopped
#: and fails
DEADLINE_S = 170
#: driver JVM heap. The session's default (24g) lets the heap grow as far
#: as the machine allows, and how far it grew, and with it peak RSS,
#: varied by over 1.4x between runs of the same inputs; the benchmark's
#: inputs need far less than 2g
DRIVER_MEM = "2g"

UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "work_per_s": "1/s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
}


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--child", help=argparse.SUPPRESS)
    ap.add_argument("--t0", type=float, help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def _session_members(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``."""
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = procstat.stat(int(name))
            # proc(5): state is field 3, session id field 6
            if st is not None and int(st[3]) == sid and st[0] != "Z":
                pids.append(int(name))
    return pids


def _stop_session(sid: int) -> None:
    """Terminate every process left in the child's session and wait until
    none remains."""
    for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        members = _session_members(sid)
        if not members:
            return
        for pid in members:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait_s
        while _session_members(sid) and time.monotonic() < end:
            time.sleep(0.1)


def parent(args) -> int:
    run_dir = os.path.join(RUNS, f"{args.workload}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TZ="UTC",
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    cmd = [
        sys.executable, os.path.abspath(__file__),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--child", run_dir, "--t0", repr(time.monotonic()),
    ]
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, start_new_session=True)
    try:
        rc = proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"run exceeded {DEADLINE_S} s; stopped", file=sys.stderr)
        rc = 1
    finally:
        _stop_session(proc.pid)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS)
        except OSError:
            pass
    return rc


def _fmt(name, value, unit, base) -> str:
    return f"{name:48s} {value:>16.6g} {unit:8s} {base}"


def child(args) -> int:
    from perfbench import workloads
    from time_series_data_pipeline_spark.session import get_spark

    run_dir = args.child
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    events = os.path.join(run_dir, "events")
    if args.trace:
        os.makedirs(events)
        conf.update(trace.event_log_conf(events))
    me = os.getpid()
    lat, cpu, work, ops, outs, errors = [], [], [], [], [], []
    with procstat.RssSampler(me) as rss:
        t = time.monotonic()
        spark = get_spark(extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        rec = workloads.Recorder(spark, bool(args.trace))
        rec.values["session.start_s"] = (time.monotonic() - t, "s", "get_spark call")
        wl = workloads.WORKLOADS[args.workload](spark, rec, os.path.join(run_dir, "data"), args.seed)
        wl.setup()
        setup_s = time.monotonic() - args.t0
        start = time.monotonic()
        i = 0
        while i < wl.min_ops or i % wl.cycle or time.monotonic() - start < args.seconds:
            op = wl.prepare(i)
            c0, w0, t = procstat.cpu_seconds(me), time.time(), time.monotonic()
            try:
                out = wl.run(i, op)
            except Exception as exc:  # a failed op is counted, the run goes on
                out = None
                errors.append(f"op {i}: {exc!r}"[:500])
            lat.append(time.monotonic() - t)
            w1 = time.time()
            cpu.append(procstat.cpu_seconds(me) - c0)
            if out is not None:
                out["window"] = (i, int(w0 * 1000), int(w1 * 1000))
                wl.after(i, op, out)
                ops.append(op)
                outs.append(out)
                work.append(wl.work(op, out))
            i += 1
    for verdict in wl.check(ops, outs):
        if verdict is not None:
            errors.append(f"check: {verdict}"[:500])
    spark.stop()

    attempted = len(lat)
    failed = attempted - len(outs) + sum(e.startswith("check:") for e in errors)
    for e in errors:
        print("FAILED", e)
    print(f"workload {args.workload}, seed {args.seed}: {attempted} ops attempted, "
          f"{failed} failed, {args.seconds:g} s run")
    print("op latencies (s):", " ".join(f"{x:.4f}" for x in lat))
    tail_s, tail_name = stats.tail(lat)
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": stats.median(lat),
        "op_tail_s": tail_s,
        "work_per_s": sum(work) / sum(lat),
        "cpu_s_per_op": sum(cpu) / attempted,
        "peak_rss_mb": rss.peak / 2**20,
    }
    if args.trace:
        metrics = _per_layer(args, rec, wl, outs, events, e2e)
    else:
        bases = {
            "setup_s": "process start to first timed op, once per run",
            "op_p50_s": "median op latency",
            "op_tail_s": tail_name,
            "work_per_s": f"{wl.unit} / summed op time",
            "cpu_s_per_op": "process-tree CPU during ops / ops",
            "peak_rss_mb": "peak summed RSS of the process tree over set-up and ops",
        }
        for k, v in e2e.items():
            print(_fmt(k, v, UNITS[k], bases[k]))
        for name, (v, unit, base) in rec.values.items():
            print(_fmt(name, v, unit, f"{base} (set-up part)"))
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
        _remember(args.workload, e2e["op_p50_s"])
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _code_digest() -> str:
    """Digest of the program's and the benchmark's Python sources."""
    paths = sorted(
        os.path.join(d, f)
        for top in ("time_series_data_pipeline_spark", "perfbench")
        for d, _, files in os.walk(os.path.join(ROOT, top))
        for f in files if f.endswith(".py")
    )
    h = hashlib.sha256()
    for path in paths:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _history(workload: str) -> str:
    """Untraced op medians of ``workload``, kept per code digest so the
    traced run's overhead line only compares runs of the same code."""
    return os.path.join(ROOT, ".perfbench-history", _code_digest(), f"{workload}.jsonl")


def _remember(workload: str, op_p50_s: float) -> None:
    path = _history(workload)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps({"op_p50_s": op_p50_s}) + "\n")


def _per_layer(args, rec, wl, outs, events, e2e) -> dict:
    """Print every declared per-layer metric, or why it is absent, and
    return them all.

    The result line must hold every declared per-layer metric, so a layer
    this workload never calls is reported as 0: no time spent in it,
    nothing counted. The printed line marks such a value as absent.
    """
    values = dict(rec.values)
    if outs:  # every layer value is a median over successful ops
        per_op = trace.rollup_event_log(events, [o["window"] for o in outs])
        values.update(trace.spark_layer(per_op, [o["result_rows"] for o in outs]))
        values.update(wl.layers(outs, per_op))
    values["trace.op_p50_s"] = (e2e["op_p50_s"], "s", "median op latency of this traced run")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer"]
    metrics = {}
    for m in declared:
        name = m["name"]
        if name in values:
            v, unit, base = values[name]
            print(_fmt(name, v, unit, base))
            metrics[name] = {"value": v, "unit": m["unit"]}
        else:
            reason = ("no op succeeded" if not outs else
                      f"the {args.workload} workload does not exercise this layer")
            print(f"{name:48s} {'absent':>16s} {m['unit']:8s} {reason}; 0 in the result line")
            metrics[name] = {"value": 0, "unit": m["unit"]}

    hist = []
    if os.path.exists(_history(args.workload)):
        with open(_history(args.workload)) as f:
            hist = [json.loads(line)["op_p50_s"] for line in f]
    if hist:
        base = stats.median(hist)
        print(f"tracing overhead: traced op_p50_s {e2e['op_p50_s']:.4f} s - untraced "
              f"{base:.4f} s (median of {len(hist)} untraced runs of the same code "
              f"in this checkout) = {e2e['op_p50_s'] - base:+.4f} s")
    else:
        print("tracing overhead: no untraced run of this code and workload in this "
              "checkout; compare trace.op_p50_s with an untraced op_p50_s")
    return metrics


def main(argv=None) -> int:
    args = _args(argv)
    if args.child:
        return child(args)
    return parent(args)


if __name__ == "__main__":
    sys.exit(main())
