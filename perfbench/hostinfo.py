"""Host record and memory sampling (Linux ``/proc``; no third-party deps).

Every run records CPUs, memory, load average and a fixed CPU spin, so a
figure taken in a noisy window can be attributed to the host rather than
to the code.
"""

from __future__ import annotations

import os
import threading
import time


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _meminfo_gb() -> dict[str, float]:
    out = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0]) / 1024 / 1024
    return out


def mem_total_gb() -> float:
    return _meminfo_gb()["MemTotal"]


def spin_ms() -> float:
    """A fixed single-thread CPython loop; CPU steal or contention
    stretches it in proportion."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i & 7
    return (time.perf_counter() - t0) * 1000


def host_record() -> dict:
    la1, la5, la15 = os.getloadavg()
    mem = _meminfo_gb()
    return {
        "cpus": nproc(),
        "mem_total_gb": round(mem["MemTotal"], 2),
        "mem_available_gb": round(mem["MemAvailable"], 2),
        "load": [la1, la5, la15],
        "spin_ms": round(spin_ms(), 2),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and Spark's Python workers), sampled on a background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total = sum(rss_kb(p) for p in tree_pids(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024
