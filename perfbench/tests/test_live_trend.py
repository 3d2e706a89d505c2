"""Live op latency has no trend over op index, though the bucket grows by
one day per op. Runs the live workload end to end (about two minutes)."""

import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def slope(ys: list[float]) -> float:
    """Least-squares slope of ``ys`` over their index."""
    n = len(ys)
    mx, my = (n - 1) / 2, sum(ys) / n
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / sum((i - mx) ** 2 for i in range(n))


def test_slope_helper():
    assert slope([1.0, 2.0, 3.0]) == 1.0
    assert slope([2.0, 2.0, 2.0, 2.0]) == 0.0


def test_live_latency_has_no_trend():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "live", "--seed", "5",
         "--seconds", "60", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = re.search(r"^op latencies \(s\): (.*)$", proc.stdout, re.M).group(1)
    lat = [float(x) for x in line.split()]
    assert len(lat) >= 5
    s = slope(lat)
    med = sorted(lat)[len(lat) // 2]
    print(f"live latency slope {s:+.4f} s/op over {len(lat)} ops, median {med:.4f} s: {lat}")
    # the bucket grew by len(lat) days; the drift this explains stays small
    assert abs(s) * (len(lat) - 1) < 0.25 * med
