"""Host measurements read from /proc: CPU and PSS of this process tree,
plus the load and CPU-steal stamp printed as run context."""

from __future__ import annotations

import os
import threading
import time
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d.name))
    return kids


def tree_pids(root: int, exclude: frozenset = frozenset()) -> list[int]:
    """``root`` and all its live descendants, minus the subtrees rooted
    at ``exclude``."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def tree_cpu_s(root: int, exclude: frozenset = frozenset()) -> float:
    """User+system CPU seconds of the tree, including reaped children
    (their time is folded into the parent's cutime/cstime)."""
    total = 0
    for pid in tree_pids(root, exclude):
        try:
            f = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_pss_mb(root: int, exclude: frozenset = frozenset()) -> float:
    total_kb = 0
    for pid in tree_pids(root, exclude):
        try:
            for line in Path(f"/proc/{pid}/smaps_rollup").read_text().splitlines():
                if line.startswith("Pss:"):
                    total_kb += int(line.split()[1])
                    break
        except OSError:
            continue
    return total_kb / 1024


class PeakPss:
    """Samples the tree's summed PSS every ``interval`` seconds between
    start() and stop(); ``peak_mb`` is the largest sample."""

    def __init__(self, root: int, interval: float = 1.0) -> None:
        self.root = root
        self.interval = interval
        self.exclude: frozenset = frozenset()
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root, self.exclude))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True, name="pss")
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        return self.peak_mb


def _cpu_times() -> list[int]:
    return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]


class StealMeter:
    """Share of host CPU time stolen by the hypervisor since ``mark()``."""

    def __init__(self) -> None:
        self._t0 = _cpu_times()

    def mark(self) -> None:
        self._t0 = _cpu_times()

    def share(self) -> float:
        t1 = _cpu_times()
        d = [b - a for a, b in zip(self._t0, t1)]
        return d[7] / sum(d) if sum(d) else 0.0


def load1() -> float:
    return float(Path("/proc/loadavg").read_text().split()[0])


def sample_steal(seconds: float = 0.5) -> float:
    m = StealMeter()
    time.sleep(seconds)
    return m.share()
