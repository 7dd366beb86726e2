"""Process-tree CPU and RSS from /proc (Linux).

The job's work runs in three kinds of process: the Python driver, the
JVM it launches, and the Python UDF workers the JVM forks. Their sum is
what a user pays for.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    # fields after the parenthesised command name (which may hold spaces)
    return s[s.rindex(")") + 2:].split()


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree(root: int) -> list[int]:
    """root and all of its live descendants."""
    return [pid for pid, _ in _tree(root)]


def _tree(root: int) -> list[tuple[int, int]]:
    """(pid, parent pid) for root and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [(root, 0)]
    while todo:
        pid, ppid = todo.pop()
        out.append((pid, ppid))
        todo.extend((c, pid) for c in children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU of the tree, including reaped children."""
    total = 0
    for pid in tree(root):
        try:
            f = _stat(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 (1-based)
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


def rss_mb(root: int) -> float:
    """Summed resident set size of the tree in MiB.

    A child of the JVM that still runs the JVM's own executable is the
    vfork()ed launcher of a helper command about to exec: it shares the
    JVM's memory, so counting it would double the JVM."""
    total = 0
    for pid, ppid in _tree(root):
        exe = _exe(pid)
        if exe.endswith("/java") and exe == _exe(ppid):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
    return total * _PAGE / 2**20


class PeakRss:
    """Background sampler of the tree's summed RSS."""

    def __init__(self, root: int, interval: float = 0.05):
        self.root, self.interval, self.peak = root, interval, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_mb(self.root))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_mb(self.root))
