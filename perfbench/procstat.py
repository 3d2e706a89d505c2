"""Process-tree CPU and memory from ``/proc`` (no psutil).

The tree is this process and every descendant: for a PySpark driver that
is the driver Python, the JVM it launched and the JVM's Python workers.
CPU of a process tree is ``utime + stime + cutime + cstime`` summed over
the live members; the ``c*`` terms carry children that already exited
and were reaped inside the tree, so a worker that ends between two reads
is still counted once.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (state
    first), or None when the process has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def _snapshot() -> dict[int, list[str]]:
    """``stat`` fields of every live process, read in one pass."""
    snap = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = stat(int(name))
            if st is not None:
                snap[int(name)] = st
    return snap


def _tree(snap: dict[int, list[str]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, st in snap.items():
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    return _tree(_snapshot(), root)


def cpu_seconds(root: int) -> float:
    """CPU seconds used so far by the tree under ``root``."""
    snap = _snapshot()
    # fields 14-17 of proc(5): utime stime cutime cstime
    ticks = sum(int(v) for pid in _tree(snap, root) if pid in snap for v in snap[pid][11:15])
    return ticks / _TICK


def rss_bytes(root: int) -> int:
    """Summed resident set size of the tree under ``root``.

    A process whose virtual size equals its parent's still shares or
    copies the parent's memory and counts once: the JVM starts every shell
    command (Hadoop's local file system runs ``chmod`` and the like when
    the native library is missing) through a vfork child that reports the
    JVM's whole RSS until it execs, and a Python worker forked by the
    PySpark daemon shares the daemon's pages until it diverges.
    """
    snap = _snapshot()
    total = 0
    for pid in _tree(snap, root):
        st = snap.get(pid)
        if st is None:
            continue
        parent = snap.get(int(st[1]))
        # proc(5) field 23 is vsize (bytes), field 24 rss (pages)
        if pid != root and parent is not None and st[20] == parent[20]:
            continue
        total += int(st[21]) * _PAGE
    return total


class RssSampler:
    """Background thread that tracks the peak summed RSS of a tree."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
