"""CPU-seconds and peak memory of this process and all its descendants.

Spark in local mode is three kinds of process: the Python driver (this
process), the JVM it launches, and the Python workers the JVM forks (the
``pyspark.daemon`` and its children). ``resource.getrusage(RUSAGE_CHILDREN)``
only sees children that have exited and been waited for, so it misses the
live JVM and the reused workers. This module reads ``/proc`` instead.

For every live process in the tree it adds ``utime + stime`` (its own CPU)
and ``cutime + cstime`` (the CPU of descendants it has already reaped, such
as a recycled worker or a gcc run). A process's own times are never in any
live process's ``cutime``, so nothing is counted twice.

``VmHWM`` is each process's own peak resident set. Peaks of different
processes need not coincide, so their sum is an upper bound on the tree's
peak resident memory.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
KINDS = ("driver", "jvm", "python")


def _stat(pid: int):
    """(comm, ppid, own_ticks, reaped_children_ticks) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm is in parentheses and may itself contain spaces or parentheses
    comm = s[s.index("(") + 1:s.rindex(")")]
    rest = s[s.rindex(")") + 2:].split()
    # rest[0] is field 3 (state); utime..cstime are fields 14..17
    ppid = int(rest[1])
    own = int(rest[11]) + int(rest[12])
    reaped = int(rest[13]) + int(rest[14])
    return comm, ppid, own, reaped


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(root: int) -> dict[int, tuple]:
    """pid -> stat tuple for ``root`` and every live descendant."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[1], []).append(pid)
    out = {}
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            out[pid] = stats[pid]
            stack.extend(children.get(pid, ()))
    return out


def _kind(pid: int, root: int, comm: str) -> str:
    if pid == root:
        return "driver"
    return "jvm" if comm == "java" else "python"


class ProcessTree:
    """Samples of the process tree rooted at ``root`` (default: this
    process). ``cpu()`` is cumulative, so the CPU of an interval is the
    difference of two samples.

    The JVM forks the Python worker daemons directly, so when a daemon
    exits its CPU moves into the JVM's ``cutime``. The total stays right;
    to keep the split right too, the last-seen CPU of a Python process that
    disappears from under the JVM is moved back from ``jvm`` to ``python``.
    Whatever it used after its last sample stays with ``jvm``, so sampling
    more often (see ``Poller``) makes the split more exact."""

    def __init__(self, root: int | None = None):
        self.root = os.getpid() if root is None else root
        self._last: dict[int, tuple[str, str | None, int]] = {}
        self._moved = 0
        self._hwm_kb: dict[int, int] = {}
        self._kind: dict[int, str] = {}

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU-seconds per kind (driver, jvm, python) and total."""
        tree = _tree(self.root)
        kinds = {pid: _kind(pid, self.root, st[0]) for pid, st in tree.items()}
        for pid, (kind, parent_kind, ticks) in self._last.items():
            if pid not in tree and kind == "python" and parent_kind == "jvm":
                self._moved += ticks
        self._last = {pid: (kinds[pid], kinds.get(st[1]), st[2] + st[3])
                      for pid, st in tree.items()}
        ticks = dict.fromkeys(KINDS, 0)
        for pid, kind in kinds.items():
            ticks[kind] += self._last[pid][2]
            self._hwm_kb[pid] = max(self._hwm_kb.get(pid, 0), _hwm_kb(pid))
            self._kind[pid] = kind
        ticks["python"] += self._moved
        ticks["jvm"] -= self._moved
        out = {k: v / _TICK for k, v in ticks.items()}
        out["total"] = sum(ticks.values()) / _TICK
        return out

    def peak_rss_by_kind_mb(self) -> dict[str, float]:
        out = dict.fromkeys(KINDS, 0.0)
        for pid, kb in self._hwm_kb.items():
            out[self._kind[pid]] += kb / 1024.0
        out["procs"] = len(self._hwm_kb)
        return out

    def pids(self) -> list[int]:
        return list(_tree(self.root))

    def peak_rss_mb(self) -> float:
        """Sum of VmHWM, in MiB, over every process seen in any sample
        (an upper bound on the tree's peak resident memory)."""
        self.cpu()
        return sum(self._hwm_kb.values()) / 1024.0


def host_steal_s() -> float:
    """Cumulative CPU time stolen from this host's guests by the hypervisor."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


class Poller:
    """Samples a ``ProcessTree`` every ``interval`` seconds on a thread, so
    Python workers that exit between the caller's own samples keep their
    CPU attributed to ``python``. Used in traced runs only."""

    def __init__(self, tree: ProcessTree, interval: float = 0.25):
        self._tree, self._interval = tree, interval
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.wait(self._interval):
            self.cpu()

    def cpu(self) -> dict[str, float]:
        with self._lock:
            return self._tree.cpu()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
