"""Statistics, environment capture and process-tree memory sampling.

Pure standard library: the unit tests import this module without Spark.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time

# A percentile is reported only when at least this many samples lie beyond
# it, so one outlier cannot move a tail figure on its own.
MIN_BEYOND = 10


def median(values):
    return statistics.median(values)


def percentile(values, p: float) -> float:
    """The ``p``-th percentile (0 < p < 100, nearest-rank on the sorted
    samples).  Raises ``ValueError`` unless at least ``MIN_BEYOND`` samples
    lie strictly beyond the percentile's rank."""
    n = len(values)
    if not 0 < p < 100:
        raise ValueError(f"percentile out of range: {p}")
    rank = max(1, math.ceil(p / 100 * n))
    beyond = n - rank
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{p:g} of {n} samples has {beyond} beyond it; need {MIN_BEYOND}"
        )
    return sorted(values)[rank - 1]


def same_rows(a, b) -> bool:
    """Row lists equal cell by cell; floats within a cent, since both
    engines round in SQL and a last-ulp difference may flip the final
    rounded digit."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=0.0101):
                    return False
            elif x != y:
                return False
    return True


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    covered by its direct children.  ``spans`` is a list of
    ``(start, end, parent_index_or_None)``; returns a list of floats."""
    children = [[] for _ in spans]
    for i, (_s, _e, parent) in enumerate(spans):
        if parent is not None:
            children[parent].append(i)
    out = []
    for i, (start, end, _p) in enumerate(spans):
        covered = 0.0
        cur = start
        for s, e in sorted((spans[c][0], spans[c][1]) for c in children[i]):
            s, e = max(s, cur), min(e, end)
            if e > s:
                covered += e - s
                cur = e
        out.append((end - start) - covered)
    return out


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------

def _tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant, from /proc/<pid>/stat ppids."""
    parent = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the comm field may contain spaces; ppid is 2 fields after ')'
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = [root], [root]
    while frontier:
        nxt = [p for p, pp in parent.items() if pp in frontier]
        tree += nxt
        frontier = nxt
    return tree


def _proc_jiffies(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # utime, stime, cutime, cstime are fields 14-17 (1-based) of the stat line
    return sum(int(x) for x in f[11:15])


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants; time stolen by the hypervisor is not in it."""
    return sum(_proc_jiffies(p) for p in _tree_pids(os.getpid())) / os.sysconf("SC_CLK_TCK")


def _cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole machine since boot."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    idle = vals[3] + vals[4]
    # guest time is already counted in user/nice
    return sum(vals[:8]) - idle - vals[7], vals[7]


class CpuWindow:
    """Between ``start`` and ``stop``: CPU cores busy OUTSIDE this process
    tree (machine-wide busy jiffies minus the tree's own, per second) and
    cores' worth of time stolen by the hypervisor."""

    def start(self):
        self._t = time.monotonic()
        self._busy, self._steal = _cpu_jiffies()
        self._own = sum(_proc_jiffies(p) for p in _tree_pids(os.getpid()))

    def stop(self) -> dict:
        hz = os.sysconf("SC_CLK_TCK")
        dt = max(time.monotonic() - self._t, 1e-9)
        busy, steal = _cpu_jiffies()
        own = sum(_proc_jiffies(p) for p in _tree_pids(os.getpid())) - self._own
        return {"ext_cores_busy": max(0.0, (busy - self._busy - own) / hz / dt),
                "steal_cores": (steal - self._steal) / hz / dt}


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (Python driver, the JVM, Python workers), sampled on a thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        total = 0
        for pid in _tree_pids(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def host_facts() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kib = int(fh.readline().split()[1])
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "mem_gib": round(mem_kib / 2**20, 1),
        "loadavg": list(os.getloadavg()),
    }
