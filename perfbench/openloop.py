"""Open-loop release schedule and the poll loop that drains it.

Batch ``i`` is *due* at ``start + i * period`` whether or not the consumer
has kept up; every latency is timed from that due time, so a stall in the
consumer is charged to every batch that waited behind it (not hidden by a
release that slipped). The releaser's own lateness is recorded as a
health figure of the benchmark, separate from the system's latencies.

Nothing here knows about Spark: ``release(i)`` and ``poll()`` are
callables, so the accounting is testable with fakes.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field


@dataclass
class Schedule:
    period: float
    n: int
    start: float = 0.0
    released_at: dict[int, float] = field(default_factory=dict)
    committed_at: dict[int, float] = field(default_factory=dict)
    # (time, released - committed) sampled at every poll
    backlog: list[tuple[float, int]] = field(default_factory=list)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def due(self, i: int) -> float:
        return self.start + i * self.period

    def freshness(self) -> dict[int, float]:
        """Per batch: due time -> return of the poll that committed it."""
        return {i: t - self.due(i) for i, t in self.committed_at.items()}

    def lateness(self) -> list[float]:
        return [t - self.due(i) for i, t in self.released_at.items()]

    def max_backlog(self) -> int:
        return max((b for _, b in self.backlog), default=0)


def run_releaser(
    sched: Schedule, release: Callable[[int], None], stop: threading.Event
) -> None:
    """Release batches ``0..n-1`` on schedule; returns when all are out
    or ``stop`` is set."""
    for i in range(sched.n):
        wait = sched.due(i) - time.perf_counter()
        if wait > 0 and stop.wait(wait):
            return
        release(i)
        with sched.lock:
            sched.released_at[i] = time.perf_counter()


def run_poller(
    sched: Schedule,
    poll: Callable[[], list[int]],
    done: Callable[[], bool],
    interval: float,
) -> None:
    """Call ``poll()`` (returns the batch indices it committed) until
    ``done()``; sleep ``interval`` only after a poll that found nothing."""
    while not done():
        committed = poll()
        now = time.perf_counter()
        with sched.lock:
            for i in committed:
                sched.committed_at[i] = now
            sched.backlog.append(
                (now, len(sched.released_at) - len(sched.committed_at))
            )
        if not committed:
            time.sleep(interval)
