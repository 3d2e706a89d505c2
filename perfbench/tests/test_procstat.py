"""Process-tree accounting counts work done in child processes."""

import os
import subprocess
import sys
import time

from perfbench import procstat

BUSY = "import time\nend = time.process_time() + {s}\nwhile time.process_time() < end: pass\n"
HOLD = "b = bytearray({n}); b[::4096] = b'x' * len(b[::4096]); import time; time.sleep({s})\n"


def test_busy_child_cpu_is_counted():
    me = os.getpid()
    before = procstat.cpu_seconds(me)
    subprocess.run([sys.executable, "-c", BUSY.format(s=0.6)], check=True, timeout=60)
    assert procstat.cpu_seconds(me) - before >= 0.5


def test_busy_grandchild_cpu_is_counted():
    me = os.getpid()
    inner = f"import subprocess, sys; subprocess.run([sys.executable, '-c', {BUSY.format(s=0.6)!r}])"
    before = procstat.cpu_seconds(me)
    subprocess.run([sys.executable, "-c", inner], check=True, timeout=60)
    assert procstat.cpu_seconds(me) - before >= 0.5


def test_live_child_is_in_the_tree_and_its_rss_counted():
    me = os.getpid()
    base = procstat.rss_bytes(me)
    n = 200 * 2**20
    child = subprocess.Popen([sys.executable, "-c", HOLD.format(n=n, s=3)])
    try:
        with procstat.RssSampler(me, interval_s=0.05) as rss:
            deadline = time.monotonic() + 20
            while rss.peak < base + n * 0.9 and time.monotonic() < deadline:
                time.sleep(0.1)
        assert child.pid in procstat.tree(me)
        assert rss.peak >= base + n * 0.9
    finally:
        child.kill()
        child.wait(timeout=10)


def test_forked_child_sharing_its_parents_memory_counts_once():
    me = os.getpid()
    own = procstat.rss_bytes(me)
    pid = os.fork()
    if pid == 0:
        time.sleep(2)
        os._exit(0)
    try:
        time.sleep(0.2)
        assert pid in procstat.tree(me)
        assert procstat.rss_bytes(me) < 1.5 * own
    finally:
        os.waitpid(pid, 0)
