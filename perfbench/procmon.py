"""Process-tree CPU and memory from ``/proc``.

The benchmark process, the Spark JVM it launches and the JVM's Python
workers form one tree. CPU time is read on demand (utime + stime of
every live member, in seconds). Peak memory is the largest sum of
proportional set sizes (PSS) of the tree's Python processes (the
driver and the workers) seen by one background sampler thread. PSS
splits the pages a forked worker shares with the worker daemon, so
they count once. The JVM is left out: under the library's 8g driver
memory its heap grows with garbage-collector timing: 2.9-4.3 GB
between runs of the same workload on a 4-core, 15 GB machine.

CPU of members that exit between two reads is lost. Spark's Python
workers are reused for the whole session, so this only drops the
short-lived ``spark-submit`` launcher.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: str) -> "tuple[str, list[str]] | None":
    """(command name, fields after it) of ``/proc/<pid>/stat``."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None  # exited between listdir and open
    # the command name may hold spaces or parens: split at the last ")"
    head, tail = raw.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def _stat_fields(pid: str) -> "list[str] | None":
    st = _read_stat(pid)
    return None if st is None else st[1]


def tree_pids(root: int) -> "list[int]":
    """``root`` and every live descendant."""
    kids: "dict[int, list[int]]" = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(d)
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(d))
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) summed over the tree of ``root``."""
    ticks = 0
    for p in tree_pids(root):
        f = _stat_fields(str(p))
        if f is not None:
            # fields after the command: [11] utime, [12] stime
            ticks += int(f[11]) + int(f[12])
    return ticks / _TICK


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited, or not ours to read
    return 0


def tree_python_pss(root: int) -> int:
    """PSS bytes summed over the tree's processes other than the JVM."""
    total = 0
    for p in tree_pids(root):
        st = _read_stat(str(p))
        if st is not None and st[0] != "java":
            total += _pss_bytes(p)
    return total


class TreeSampler:
    """Samples the tree's Python PSS every ``interval_s`` on one
    daemon thread; :meth:`reset_peak` starts a new peak window."""

    def __init__(self, root: "int | None" = None, interval_s: float = 0.1):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="tree-sampler", daemon=True)

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            pss = tree_python_pss(self.root)
            with self._lock:
                self._peak = max(self._peak, pss)

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = 0

    def peak_bytes(self) -> int:
        """Peak Python PSS of the tree since the last :meth:`reset_peak`."""
        with self._lock:
            return self._peak

    def cpu_s(self) -> float:
        return tree_cpu_s(self.root)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
