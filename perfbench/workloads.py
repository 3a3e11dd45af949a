"""The two workloads: set-up, measured phase and correctness gate.

Both workloads exercise the same public calls and report the same
end-to-end figures, each under the load that characterises it:

* ``replay_bulk`` -- a closed backfill. Every batch of the churny engine
  log is present (due) when the replay starts; one ``CdcIngest.run``
  applies them all with inline compaction. The fresh table is then
  exported eight times (public ``read`` into a no-op sink), a feed consumer
  catches up from nothing, and a closed-loop client looks up seeded
  conversations on the quiet table. Replays repeat on fresh tables until
  the run's time is used.
* ``tail_serve`` -- an open-loop tail. A releaser renames one small batch
  into the batch directory every ``TAIL_PERIOD_S``; an ingest thread polls
  ``CdcIngest.run``; a closed-loop client runs ``read_conversation`` on
  seeded keys; an ``IncrementalFeed`` consumer polls, materializes each
  delivery and commits. All four share the lake and the cores.

Timing windows never include input generation or the correctness gate.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql.types import TimestampType

from perfbench import inputs as inp
from perfbench.openloop import Schedule, run_poller, run_releaser

# replay_bulk: ~1.65 events per final turn in 4 batches; salted delta
# writes leave several files per bucket per batch, so inline compaction
# fires twice inside every replay and the replayed table ends compacted
REPLAY_TURNS = 24_000
REPLAY_BATCHES = 4
REPLAY_WARM_TURNS = 1_000
REPLAY_LOOKUPS = 8
# tail_serve: the release period is fixed from this benchmark's measured
# per-batch cost on a 4-CPU host: apply p50 ~2.0 s at 3k events, plus an
# inline compaction (~3.2 s) every second batch; beside the reader and the
# feed a compacting batch takes up to ~7 s. One period covers that, so a
# batch is normally committed before the next is due and the backlog stays
# bounded. A constant: never derived at run time.
TAIL_PERIOD_S = 8.0
TAIL_CONVS = 500
TAIL_PREFILL = 5_000
TAIL_BATCH_EVENTS = 3_000
TAIL_POLL_S = 0.1
TAIL_DRAIN_S = 40.0
SETUP_REPS = 3
# export_rows_per_s is the median of EXPORTS timed reads of the measured
# table, after EXPORT_WARM untimed ones: the first reads of a freshly
# ingested table run slower
EXPORT_WARM = 2
EXPORTS = 6
CHECK_KEYS = 6
# the transcript columns the correctness gate compares, in this order; the
# key (conv_id, turn_idx) comes first
COLS = tuple(inp.TRANSCRIPT_ARROW.names)
_TS = TimestampType()


@dataclass
class Phase:
    """Raw samples of one measured phase."""

    ingest_events: int = 0
    ingest_wall: float = 0.0
    applied_batches: int = 0
    freshness: list[float] = field(default_factory=list)
    lookup_ms: list[float] = field(default_factory=list)
    feed_lag: list[float] = field(default_factory=list)
    export_rates: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    health: dict = field(default_factory=dict)
    # what the correctness gate needs
    table_path: str = ""
    replica_dir: str = ""
    lookups: dict = field(default_factory=dict)
    released: int = 0
    lock: threading.Lock = field(default_factory=threading.Lock)

    def resyncs(self) -> int:
        """Full-state deliveries in the consumer's replica directory."""
        if not os.path.isdir(self.replica_dir):
            return 0
        return sum(1 for n in os.listdir(self.replica_dir) if n.endswith("_resync"))

    def fail(self, what: str) -> None:
        with self.lock:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    def count(self, n: int = 1) -> None:
        with self.lock:
            self.attempted += n


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str  # this run's scratch directory
    seed: int
    seconds: float


# ---------------------------------------------------------- shared calls
def lookup(ctx: Ctx, table, conv: str, ph: Phase, keep: bool = False,
           timed: bool = True) -> None:
    """``keep`` stores the rows for the correctness gate; ``timed=False``
    keeps a gate-only lookup out of the latency samples."""
    ph.count()
    try:
        with ctx.tracer.span("read_conversation", key=conv):
            t0 = time.perf_counter()
            rows = table.read_conversation(ctx.spark, conv).collect()
            dt = time.perf_counter() - t0
    except Exception:  # a failed lookup is a result, not a crash
        ph.fail(f"lookup {conv}: {traceback.format_exc(limit=2)}")
        return
    with ph.lock:
        if timed:
            ph.lookup_ms.append(dt * 1000)
        if keep:
            ph.lookups[conv] = [spark_row(r) for r in rows]


def export(ctx: Ctx, table, rows: int, ph: Phase, timed: bool = True) -> None:
    ph.count()
    try:
        with ctx.tracer.span("table.read"):
            t0 = time.perf_counter()
            table.read(ctx.spark).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
    except Exception:
        ph.fail(f"export: {traceback.format_exc(limit=2)}")
        return
    if timed:
        ph.export_rates.append(rows / dt)


def export_series(ctx: Ctx, path: str, ph: Phase) -> None:
    """The measured table's full reads: ``EXPORT_WARM`` untimed, then
    ``EXPORTS`` timed."""
    from runyoro_llm_data_pipeline_spark.lake.table import LakeTable

    n_rows = LakeTable.load(path).read(ctx.spark).count()
    for i in range(EXPORT_WARM + EXPORTS):
        export(ctx, LakeTable.load(path), n_rows, ph, timed=i >= EXPORT_WARM)


def feed_cycle(ctx: Ctx, feed, replica_dir: str, ph: Phase):
    """One consumer cycle: poll, materialize, commit. Returns
    ``(token, commit_time)`` or ``None`` when caught up."""
    ph.count()
    try:
        with ctx.tracer.span("feed.poll"):
            got = feed.poll(ctx.spark)
        if got is None:
            return None
        df, tok = got
        with ctx.tracer.span("feed.deliver", resync=tok.was_resync):
            seq = len([d for d in os.listdir(replica_dir)]) if os.path.isdir(
                replica_dir) else 0
            name = f"d_{seq:05d}{'_resync' if tok.was_resync else ''}"
            df.write.parquet(os.path.join(replica_dir, name))
            feed.commit(tok)
        return tok, time.perf_counter()
    except Exception:
        ph.fail(f"feed: {traceback.format_exc(limit=2)}")
        return None


def ingest_run(ctx: Ctx, ing) -> tuple[list[dict], float]:
    with ctx.tracer.span("ingest.run"):
        t0 = time.perf_counter()
        res = ing.run(ctx.spark)
        dt = time.perf_counter() - t0
    return res, dt


# ------------------------------------------------------------ replay_bulk
class ReplayBulk:
    name = "replay_bulk"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_files = 4 * ctx.spark.sparkContext.defaultParallelism
        self.dir, self.fp = inp.replay_bulk_inputs(
            os.path.join(ctx.work, "..", "inputs"), ctx.seed, REPLAY_TURNS,
            REPLAY_BATCHES, REPLAY_WARM_TURNS, self.n_files,
        )
        n_convs = max(REPLAY_TURNS // 20, 10)
        rng = np.random.default_rng(ctx.seed)
        self.keys = [f"conv_{int(c)}" for c in rng.integers(n_convs, size=REPLAY_LOOKUPS)]
        self.n_events = int(self.fp["events"])

    def setup_rep(self, r: int) -> dict:
        """Table creation and a warm-up ingest of a one-batch log of
        another seed."""
        from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest

        path = os.path.join(self.ctx.work, f"warm_t{r}")
        t0 = time.perf_counter()
        ing = CdcIngest(path, os.path.join(self.dir, "warm"))
        ing.table()
        steps = {"create": time.perf_counter() - t0}
        res = ing.run(self.ctx.spark)
        steps["ingest"] = time.perf_counter() - t0 - steps["create"]
        if [x["status"] for x in res] != ["applied"]:
            raise RuntimeError(f"warm-up ingest failed: {res}")
        return steps

    def prime(self) -> None:
        """Warm the read paths once: export, lookup and a feed cycle on
        the last warm-up table."""
        from runyoro_llm_data_pipeline_spark.cdc.feed import IncrementalFeed
        from runyoro_llm_data_pipeline_spark.lake.table import LakeTable

        ctx, ph = self.ctx, Phase()
        path = os.path.join(ctx.work, f"warm_t{SETUP_REPS - 1}")
        t = LakeTable.load(path)
        export(ctx, t, 1, ph)
        lookup(ctx, t, "conv_1", ph)
        feed_cycle(ctx, IncrementalFeed(path, path + ".feed.json"),
                   os.path.join(ctx.work, "warm_replica"), ph)
        if ph.failed:
            raise RuntimeError(f"warm-up failed: {ph.errors}")

    def measure(self, tag: str) -> Phase:
        """Replays on fresh tables while another one is expected to end
        within the run's seconds (at least one, at most four)."""
        from runyoro_llm_data_pipeline_spark.cdc.feed import IncrementalFeed
        from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest

        ctx, ph = self.ctx, Phase()
        t_end = time.perf_counter() + ctx.seconds
        k, last = 0, 0.0
        while k == 0 or (time.perf_counter() + last <= t_end and k < 4):
            t_replay = time.perf_counter()
            path = os.path.join(ctx.work, f"{tag}_replay{k}")
            ing = CdcIngest(path, os.path.join(self.dir, "log"))
            ing.table()
            ph.count(REPLAY_BATCHES)
            t0 = time.perf_counter()
            res, dt = ingest_run(ctx, ing)
            applied = [r for r in res if r.get("status") == "applied"]
            for r in res:
                if r.get("status") != "applied":
                    ph.fail(f"batch {r.get('batch_id')} {r.get('status')}")
            for _ in range(REPLAY_BATCHES - len(res)):
                ph.fail("batch not applied")
            ph.ingest_events += self.n_events
            ph.ingest_wall += dt
            ph.applied_batches += len(applied)
            ph.freshness += [dt] * len(applied)
            export_series(ctx, path, ph)
            table = ing.table()
            replica = os.path.join(ctx.work, f"{tag}_replica{k}")
            got = feed_cycle(ctx, IncrementalFeed(path, path + ".feed.json"),
                             replica, ph)
            if got is not None:
                ph.feed_lag += [got[1] - t0] * len(applied)
            else:
                ph.fail("feed delivered nothing after the replay")
            ph.lookups = {}
            for conv in self.keys:
                lookup(ctx, table, conv, ph, keep=True)
            ph.table_path, ph.replica_dir = path, replica
            k += 1
            last = time.perf_counter() - t_replay
        ph.health = {"replays": k}
        return ph

    def check(self, ph: Phase) -> int:
        return oracle_check(self.ctx, ph, inp.read_log(
            os.path.join(self.dir, "log"), REPLAY_BATCHES))


def oracle_check(ctx: Ctx, ph: Phase, batches: list[list[dict]]) -> int:
    """Rows that differ from the oracle's final state (both directions),
    plus rows of wrong lookups and of a feed replica that has not
    converged. Each kind of difference also counts as a failed operation.
    The table is read through its public ``read``; the comparisons run in
    Python, so the gate starts no Spark job of its own beyond that read."""
    from runyoro_llm_data_pipeline_spark.lake.table import LakeTable

    want = [tuple(r[c] for c in COLS) for r in inp.oracle_rows(batches)]
    got = arrow_rows(LakeTable.load(ph.table_path).read(ctx.spark).toArrow())
    bad = multiset_diff(got, want)
    if bad:
        ph.fail(f"final table: {bad} rows differ from the oracle")
    bad += replica_mismatch(ph, got)
    by_conv: dict[str, list] = {k: [] for k in ph.lookups}
    for r in want:
        if r[0] in by_conv:
            by_conv[r[0]].append(r)
    return bad + lookup_mismatch(ph, by_conv)


def arrow_rows(table: pa.Table) -> list[tuple]:
    """Rows as tuples in ``COLS`` order, timestamps as integer
    microseconds; a missing column reads as nulls."""
    cols = []
    for name in COLS:
        if name not in table.column_names:
            cols.append([None] * table.num_rows)
            continue
        col = table.column(name)
        if pa.types.is_timestamp(col.type):
            col = pc.cast(col, pa.timestamp("us", tz=col.type.tz), safe=False)
            col = col.cast(pa.int64())
        cols.append(col.to_pylist())
    return list(zip(*cols))


def spark_row(r) -> tuple:
    """A collected Spark row as a tuple in ``COLS`` order, the timestamp as
    integer microseconds."""
    return tuple(_TS.toInternal(r[c]) if c == "ts" else r[c] for c in COLS)


def multiset_diff(a: list[tuple], b: list[tuple]) -> int:
    """Rows in one list and not the other, counting repeats (both
    directions of ``exceptAll``)."""
    ca, cb = Counter(a), Counter(b)
    return sum((ca - cb).values()) + sum((cb - ca).values())


def lookup_mismatch(ph: Phase, want: dict[str, list]) -> int:
    bad = 0
    for conv, rows in ph.lookups.items():
        n = multiset_diff(rows, want.get(conv, []))
        if n:
            ph.fail(f"lookup {conv}: {len(rows)} rows, oracle {len(want.get(conv, []))}")
            bad += n
    return bad


def replica_mismatch(ph: Phase, table_rows: list[tuple]) -> int:
    """Fold the feed's deliveries in order (a resync replaces everything
    before it; later rows win per key; tombstones delete) and compare with
    the table's public state."""
    from runyoro_llm_data_pipeline_spark.lake.table import DELETED

    replica_dir = ph.replica_dir
    names = sorted(os.listdir(replica_dir)) if os.path.isdir(replica_dir) else []
    resyncs = [i for i, n in enumerate(names) if n.endswith("_resync")]
    names = names[resyncs[-1]:] if resyncs else names
    if not names:
        ph.fail("feed replica is empty")
        return len(table_rows)
    state: dict[tuple, tuple] = {}
    for n in names:
        t = pq.read_table(os.path.join(replica_dir, n))
        for row, gone in zip(arrow_rows(t), t.column(DELETED).to_pylist()):
            if gone is False:
                state[row[:2]] = row
            else:
                state.pop(row[:2], None)
    bad = multiset_diff(list(state.values()), table_rows)
    if bad:
        ph.fail(f"feed replica: {bad} rows differ from the table")
    return bad


# ------------------------------------------------------------- tail_serve
class TailServe:
    name = "tail_serve"

    def __init__(self, ctx: Ctx, n_windows: int):
        self.ctx = ctx
        self.n_batches = int(ctx.seconds // TAIL_PERIOD_S)
        files = ctx.spark.sparkContext.defaultParallelism
        self.dir, self.fp = inp.tail_serve_inputs(
            os.path.join(ctx.work, "..", "inputs"), ctx.seed, TAIL_CONVS,
            TAIL_PREFILL, self.n_batches, TAIL_BATCH_EVENTS, files,
        )
        self.batch_events = {int(k): v for k, v in self.fp["batch_events"].items()}
        rng = np.random.default_rng(ctx.seed + 17)
        self.key_stream = rng.integers(TAIL_CONVS, size=100_000)
        self.check_keys = [f"conv_{int(c)}" for c in rng.integers(TAIL_CONVS, size=CHECK_KEYS)]
        # set-up tables the measured windows start from, newest first
        self.ready = list(range(SETUP_REPS - n_windows, SETUP_REPS))

    def _paths(self, r: int) -> dict:
        w = self.ctx.work
        return {"table": os.path.join(w, f"tail_t{r}"),
                "batches": os.path.join(w, f"tail_b{r}"),
                "stage": os.path.join(w, f"tail_stage{r}"),
                "ckpt": os.path.join(w, f"tail_feed{r}.json"),
                "replica": os.path.join(w, f"tail_replica{r}")}

    def setup_rep(self, r: int) -> dict:
        """Table creation and the prefill batch."""
        from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest

        p = self._paths(r)
        os.makedirs(p["batches"])
        shutil.copytree(os.path.join(self.dir, "log", "batch_00000"),
                        os.path.join(p["batches"], "batch_00000"))
        t0 = time.perf_counter()
        ing = CdcIngest(p["table"], p["batches"])
        ing.table()
        steps = {"create": time.perf_counter() - t0}
        res = ing.run(self.ctx.spark)
        steps["ingest"] = time.perf_counter() - t0 - steps["create"]
        if [x["status"] for x in res] != ["applied"]:
            raise RuntimeError(f"prefill failed: {res}")
        return steps

    def prime(self) -> None:
        """Per table a window will use: a lookup, an export and the
        consumer's initial resync (the checkpoint the window's feed
        starts from). The tail is staged beside the batch directory, so
        the releaser only renames."""
        from runyoro_llm_data_pipeline_spark.cdc.feed import IncrementalFeed
        from runyoro_llm_data_pipeline_spark.lake.table import LakeTable

        ctx = self.ctx
        for r in self.ready:
            ph, p = Phase(), self._paths(r)
            t = LakeTable.load(p["table"])
            lookup(ctx, t, "conv_1", ph)
            export(ctx, t, 1, ph)
            feed_cycle(ctx, IncrementalFeed(p["table"], p["ckpt"]), p["replica"], ph)
            if ph.failed:
                raise RuntimeError(f"warm-up failed: {ph.errors}")
            shutil.copytree(os.path.join(self.dir, "log"), p["stage"])
            shutil.rmtree(os.path.join(p["stage"], "batch_00000"))

    def measure(self, tag: str) -> Phase:
        from runyoro_llm_data_pipeline_spark.cdc.feed import IncrementalFeed
        from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
        from runyoro_llm_data_pipeline_spark.lake.table import LakeTable

        ctx, ph = self.ctx, Phase()
        p = self._paths(self.ready.pop())
        ing = CdcIngest(p["table"], p["batches"])
        table = LakeTable.load(p["table"])
        feed = IncrementalFeed(p["table"], p["ckpt"])
        sched = Schedule(TAIL_PERIOD_S, self.n_batches,
                         start=time.perf_counter() + 0.2)
        window_end = sched.start + ctx.seconds
        deadline = window_end + TAIL_DRAIN_S
        stop = threading.Event()
        version_of: dict[int, int] = {}
        feed_commits: list[tuple[int, float]] = []
        ingest_done = threading.Event()

        def release(i: int) -> None:
            name = f"batch_{i + 1:05d}"
            os.rename(os.path.join(p["stage"], name), os.path.join(p["batches"], name))

        def poll() -> list[int]:
            try:
                res, dt = ingest_run(ctx, ing)
            except Exception:
                ph.fail(f"ingest: {traceback.format_exc(limit=2)}")
                time.sleep(TAIL_POLL_S)
                return []
            done = []
            for r in res:
                if r.get("status") != "applied":
                    ph.fail(f"batch {r.get('batch_id')} {r.get('status')}")
                    continue
                version_of[r["batch_id"] - 1] = r["version"]
                done.append(r["batch_id"] - 1)
            if done:
                with ph.lock:
                    ph.ingest_wall += dt
                    ph.ingest_events += sum(self.batch_events[i + 1] for i in done)
                    ph.applied_batches += len(done)
            return done

        def ingest_finished() -> bool:
            now = time.perf_counter()
            if now > deadline:
                return True
            return now >= window_end and len(sched.committed_at) >= len(sched.released_at) \
                and len(sched.released_at) == sched.n

        def pool(name: str) -> None:
            # one fair-scheduler pool per client thread, so a lookup's few
            # tasks are not queued behind a whole ingest job
            ctx.spark.sparkContext.setLocalProperty("spark.scheduler.pool", name)

        def reader() -> None:
            pool("reader")
            i = 0
            while time.perf_counter() < window_end and not stop.is_set():
                lookup(ctx, table, f"conv_{int(self.key_stream[i % len(self.key_stream)])}", ph)
                i += 1

        def consumer() -> None:
            pool("feed")
            while time.perf_counter() < deadline and not stop.is_set():
                got = feed_cycle(ctx, feed, p["replica"], ph)
                if got is not None:
                    feed_commits.append((got[0].version, got[1]))
                    continue
                if ingest_done.is_set():
                    last = max(version_of.values(), default=-1)
                    if feed.position() >= last:
                        return
                time.sleep(TAIL_POLL_S)

        def ingester() -> None:
            pool("ingest")
            try:
                run_poller(sched, poll, ingest_finished, TAIL_POLL_S)
            finally:
                ingest_done.set()

        threads = [
            threading.Thread(target=run_releaser, args=(sched, release, stop), name="releaser"),
            threading.Thread(target=ingester, name="ingest"),
            threading.Thread(target=reader, name="reader"),
            threading.Thread(target=consumer, name="feed"),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=max(deadline - time.perf_counter(), 0) + 30)
        stop.set()
        for t in threads:
            t.join(timeout=30)
            if t.is_alive():
                ph.fail(f"thread {t.name} did not stop")

        ph.count(sched.n)
        missing = [i for i in range(sched.n) if i not in sched.committed_at]
        for i in missing:
            ph.fail(f"batch {i + 1} not committed by the deadline")
        fresh = sched.freshness()
        ph.freshness = [fresh[i] for i in sorted(fresh)]
        for i in sorted(version_of):
            t_commit = next((t for v, t in feed_commits if v >= version_of[i]), None)
            if t_commit is None:
                ph.fail(f"batch {i + 1} never reached the feed replica")
            else:
                ph.feed_lag.append(t_commit - sched.due(i))
        late = sched.lateness()
        ph.health = {
            "released": len(sched.released_at),
            "release_late_max_s": max(late, default=0.0),
            "release_late_p50_s": float(np.median(late)) if late else 0.0,
            "max_backlog": sched.max_backlog(),
            "feed_deliveries": len(feed_commits),
        }
        ph.released = len(sched.released_at)
        export_series(ctx, p["table"], ph)
        ph.table_path, ph.replica_dir = p["table"], p["replica"]
        t = LakeTable.load(p["table"])
        for conv in self.check_keys:
            lookup(ctx, t, conv, ph, keep=True, timed=False)
        return ph

    def check(self, ph: Phase) -> int:
        return oracle_check(self.ctx, ph, inp.read_log(
            os.path.join(self.dir, "log"), ph.released + 1))
