"""Process-tree and host sampling from /proc (psutil is not installed).

``TreeSampler`` follows this process and every descendant — the Spark
driver JVM that PySpark launches, its Python worker daemon and workers —
and accumulates their CPU time and the peak of their summed resident set
size. CPU is counted per process from utime+stime, keyed by (pid, start
time) so a recycled pid is a new process; a process that exits between
two samples loses at most one interval of CPU.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_INTERVAL_S = 0.2  # sampling period
_RESCAN_S = 1.0  # how often new descendants are looked for


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces/parens: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is None:
            continue
        kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def host_cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of the host from the aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


def process_age_s() -> float:
    """Seconds since this process started (from /proc, not from import)."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


class TreeSampler:
    """Background sampler of the process tree rooted at this process.

    ``window()`` returns a context manager; inside it the sampler records
    tree CPU seconds, peak tree RSS and host steal for that interval."""

    def __init__(self):
        self._root = os.getpid()
        self._pids: list[int] = [self._root]
        self._cpu: dict[tuple[int, str], int] = {}  # (pid, start) -> ticks
        self._peak_rss = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self, rescan: bool) -> None:
        if rescan:
            self._pids = tree_pids(self._root)
        rss = 0
        with self._lock:
            for pid in self._pids:
                f = _stat_fields(pid)
                if f is None:
                    continue
                self._cpu[(pid, f[19])] = int(f[11]) + int(f[12])
                rss += _rss_bytes(pid)
            self._peak_rss = max(self._peak_rss, rss)

    def _loop(self) -> None:
        last_scan = 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            rescan = now - last_scan >= _RESCAN_S
            if rescan:
                last_scan = now
            self._sample(rescan)
            self._stop.wait(_INTERVAL_S)

    def start(self) -> "TreeSampler":
        self._thread = threading.Thread(target=self._loop, name="tree-sampler", daemon=True)
        self._thread.start()
        return self

    def close(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def _cpu_s(self) -> float:
        with self._lock:
            return sum(self._cpu.values()) / _TICK

    def window(self) -> "_Window":
        return _Window(self)


class _Window:
    """Measurement interval: tree CPU seconds, peak RSS, host steal share."""

    def __init__(self, sampler: TreeSampler):
        self.s = sampler
        self.cpu_s = 0.0
        self.peak_rss_mb = 0.0
        self.steal_frac = 0.0
        self.wall_s = 0.0

    def __enter__(self) -> "_Window":
        self.s._sample(rescan=True)
        with self.s._lock:
            self.s._peak_rss = 0
        self.s._sample(rescan=False)
        self._cpu0 = self.s._cpu_s()
        self._host0 = host_cpu_jiffies()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self.s._sample(rescan=True)
        self.cpu_s = self.s._cpu_s() - self._cpu0
        with self.s._lock:
            self.peak_rss_mb = self.s._peak_rss / 2**20
        total, steal = host_cpu_jiffies()
        dt_total = total - self._host0[0]
        self.steal_frac = (steal - self._host0[1]) / dt_total if dt_total > 0 else 0.0
