"""CPU and resident memory of the benchmark's process tree, read from /proc.

The tree is the driver (this process), the JVM it launched and the Python
workers the JVM forks. CPU counts ``utime + stime + cutime + cstime`` of every
live process, so a worker that exits between two snapshots is still counted
through its parent's ``cutime``.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_INTERVAL_S = 0.2
RESCAN_EVERY = 5  # samples per full /proc scan; a scan costs ~100x a read


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds) of one process, None if it has gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm start at 'state' (field 3): ppid=4, utime=14 … cstime=17
    cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK
    return int(f[1]), comm, cpu


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _kind(comm: str) -> str:
    return "jvm" if comm == "java" else "pyworker"


class ProcessTree:
    """Snapshots of this process's descendants, split into JVM and Python
    worker processes (the driver itself is left out of both)."""

    def __init__(self):
        self.root = os.getpid()
        self.known: dict[int, str] = {}  # pid -> comm, as of the last full scan

    def _members(self) -> dict[int, tuple[int, str, float]]:
        """Full /proc scan for the current descendants."""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        out, todo = {}, list(children.get(self.root, []))
        while todo:
            pid = todo.pop()
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
        self.known = {pid: comm for pid, (_, comm, _) in out.items()}
        return out

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds per kind."""
        tot = {"jvm": 0.0, "pyworker": 0.0}
        for _, comm, cpu in self._members().values():
            tot[_kind(comm)] += cpu
        return tot

    def rss(self, rescan: bool = True) -> dict[str, int]:
        """Resident bytes per kind, plus ``total`` including the driver.
        Without ``rescan`` only the processes of the last scan are read."""
        if rescan:
            self._members()
        tot = {"jvm": 0, "pyworker": 0}
        for pid, comm in self.known.items():
            tot[_kind(comm)] += _rss_bytes(pid)
        tot["total"] = tot["jvm"] + tot["pyworker"] + _rss_bytes(self.root)
        return tot


class PeakSampler:
    """Background thread that keeps the peak of each ``ProcessTree.rss`` key."""

    def __init__(self, tree: ProcessTree):
        self.tree = tree
        self._n = 0
        self.peak: dict[str, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(SAMPLE_INTERVAL_S)

    def sample(self) -> None:
        now = self.tree.rss(rescan=self._n % RESCAN_EVERY == 0)
        self._n += 1
        with self._lock:
            for k, v in now.items():
                self.peak[k] = max(self.peak.get(k, 0), v)

    def reset(self) -> None:
        with self._lock:
            self.peak = {}

    def snapshot(self) -> dict[str, int]:
        with self._lock:
            return dict(self.peak)

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
