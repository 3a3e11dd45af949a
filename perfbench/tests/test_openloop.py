"""Open-loop accounting: latencies run from the due time, so a consumer
stall is charged to every batch queued behind it and shows as backlog."""

import threading

from perfbench.openloop import Schedule, run_poller, run_releaser

PERIOD = 0.05


def _run(n: int, stall_at: int | None, stall_s: float) -> Schedule:
    import time

    sched = Schedule(PERIOD, n, start=time.perf_counter() + 0.02)
    released: list[int] = []
    lock = threading.Lock()
    seen: set[int] = set()

    def release(i: int) -> None:
        with lock:
            released.append(i)

    def poll() -> list[int]:
        with lock:
            new = [i for i in released if i not in seen]
        if stall_at is not None and stall_at in new:
            time.sleep(stall_s)  # the consumer stalls on this batch
        seen.update(new)
        return new

    stop = threading.Event()
    rel = threading.Thread(target=run_releaser, args=(sched, release, stop))
    rel.start()
    run_poller(sched, poll, lambda: len(seen) == n, interval=0.005)
    rel.join(timeout=10)
    assert not rel.is_alive()
    return sched


def test_due_time_accounting_without_stall():
    sched = _run(8, None, 0.0)
    fresh = sched.freshness()
    assert sorted(fresh) == list(range(8))
    assert max(fresh.values()) < PERIOD * 2
    assert sched.max_backlog() <= 1
    assert max(sched.lateness()) < PERIOD


def test_injected_stall_shows_in_freshness_and_backlog():
    stall = PERIOD * 6
    sched = _run(10, stall_at=2, stall_s=stall)
    fresh = sched.freshness()
    # the stalled batch and the ones released during the stall all wait
    assert fresh[2] >= stall
    assert fresh[3] >= stall - PERIOD
    assert fresh[5] >= stall - 3 * PERIOD
    # batches due after the stall cleared are fresh again
    assert fresh[9] < PERIOD * 2
    # the releaser kept its schedule: the stall is the consumer's alone
    assert max(sched.lateness()) < PERIOD
    assert sched.max_backlog() >= 4
