"""CPU and memory of the benchmark's own process tree, read from /proc.

The tree is this Python process, the Spark JVM it launches and the
Python workers the JVM forks.  CPU is ``utime + stime + cutime + cstime``
of every live member: a worker that exits is reaped by a member of the
tree, so its ticks move into that member's ``cutime``/``cstime`` and the
sum stays continuous.  Nothing outside the tree is counted, so the
cores this figure implies can never exceed the CPUs the tree may run on.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_INTERVAL_S = 0.2  # how often the sampler reads the tree for peak RSS


@dataclass
class Proc:
    pid: int
    ppid: int
    comm: str
    state: str
    cpu_ticks: int
    rss_bytes: int


def _read_stat(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm is parenthesised and may itself hold spaces or parentheses
    lp, rp = raw.index("("), raw.rindex(")")
    rest = raw[rp + 2:].split()
    # rest[0] is field 3 (state); utime..cstime are fields 14..17, rss 24
    return Proc(
        pid=pid,
        ppid=int(rest[1]),
        comm=raw[lp + 1:rp],
        state=rest[0],
        cpu_ticks=sum(int(x) for x in rest[11:15]),
        rss_bytes=int(rest[21]) * PAGE,
    )


def tree() -> list[Proc]:
    """This process and every live process descending from it."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = _read_stat(int(name))
            if p is not None:
                procs[p.pid] = p
    kids: dict[int, list[Proc]] = {}
    for p in procs.values():
        kids.setdefault(p.ppid, []).append(p)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
        todo.extend(c.pid for c in kids.get(pid, []))
    return out


def running(pids) -> list[int]:
    """The pids among ``pids`` that still exist and are not zombies."""
    out = []
    for pid in pids:
        p = _read_stat(pid)
        if p is not None and p.state != "Z":
            out.append(pid)
    return out


def classify(p: Proc) -> str:
    if p.pid == os.getpid():
        return "driver"
    if p.comm == "java":
        return "jvm"
    if p.comm.startswith("python"):
        return "pyworker"
    return "other"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def host_cpu() -> tuple[int, int]:
    """(steal jiffies, total jiffies) of the whole machine."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / dt if dt > 0 else 0.0


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Sampler:
    """Background thread tracking tree CPU and peak RSS per process kind.

    ``mark()`` returns a reading usable as a window boundary; peaks are
    reset by ``reset_peaks()`` so each window can report its own.
    """

    def __init__(self):
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread: threading.Thread | None = None
        self.reset_peaks()

    def reset_peaks(self) -> None:
        with self._lock:
            self.peak = {"total": 0, "jvm": 0, "pyworker": 0, "driver": 0}

    def sample(self) -> dict:
        procs = tree()
        by_kind = {"total": 0, "jvm": 0, "pyworker": 0, "driver": 0, "other": 0}
        for p in procs:
            by_kind[classify(p)] += p.rss_bytes
            by_kind["total"] += p.rss_bytes
        with self._lock:
            for k in self.peak:
                self.peak[k] = max(self.peak[k], by_kind[k])
        return {"t": time.time(), "cpu_s": sum(p.cpu_ticks for p in procs) / CLK_TCK}

    def mark(self) -> dict:
        m = self.sample()
        m["steal"] = host_cpu()
        return m

    def peaks_mb(self) -> dict:
        with self._lock:
            return {k: v / 2**20 for k, v in self.peak.items()}

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            self.sample()

    def __enter__(self) -> "Sampler":
        self._thread = threading.Thread(target=self._loop, name="proctree", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def window(a: dict, b: dict) -> dict:
    """CPU seconds, wall seconds, cores and steal % between two marks."""
    wall = b["t"] - a["t"]
    cpu = b["cpu_s"] - a["cpu_s"]
    return {
        "wall_s": wall,
        "cpu_s": cpu,
        "cores": cpu / wall if wall > 0 else 0.0,
        "steal_pct": steal_pct(a["steal"], b["steal"]),
    }
