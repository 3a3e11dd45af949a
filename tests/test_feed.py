"""IncrementalFeed — the CDC-*out* side: a downstream consumer subscribes
to the lake table's committed changes with a checkpointed poll/commit
loop, converging a replica to the table's public state under resync,
incremental delivery, crash-redelivery, maintenance churn, and
history expiry (cdc/feed.py). Generalizes the reference consumers'
re-read-everything-per-run pattern (``scripts/train_llm.py:173-204``)
into O(new data) consumption."""

import os

from runyoro_llm_data_pipeline_spark.cdc.events import TRANSCRIPT_SCHEMA
from runyoro_llm_data_pipeline_spark.cdc.feed import FeedToken, IncrementalFeed, _plan
from runyoro_llm_data_pipeline_spark.cdc.generator import (
    gen_change_log,
    write_batch_files,
)
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
from runyoro_llm_data_pipeline_spark.lake.merge import with_internal_schema
from runyoro_llm_data_pipeline_spark.lake.table import DATA_DIR, DELETED, LakeTable


def _apply_delivery(replica: dict, rows) -> None:
    """The sink a delivery contract targets: per-key upsert, tombstone
    deletes. Any store with these two ops can mirror the table."""
    for r in rows:
        k = (r["conv_id"], r["turn_idx"])
        if r[DELETED]:
            replica.pop(k, None)
        else:
            replica[k] = (r["role"], r["text"], r["tool"])


def _public_state(spark, table_path: str) -> dict:
    t = LakeTable.load(table_path)
    return {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"])
        for r in t.read(spark).collect()
    }


def test_incremental_feed_replica_convergence(spark, tmp_lake, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("feedlog"))
    events, _ = gen_change_log(spark, n_turns=400, n_convs=12, n_batches=6)
    write_batch_files(events, d)
    tp = os.path.join(tmp_lake, "t")
    ing = CdcIngest(tp, d, num_buckets=4)
    assert len(ing.run(spark, max_batches=3)) == 3

    ckpt = os.path.join(str(tmp_path_factory.mktemp("feedckpt")), "feed.json")
    feed = IncrementalFeed(tp, ckpt)

    # first poll of a never-committed consumer = full resync snapshot
    df, tok = feed.poll(spark)
    assert tok.was_resync
    first_cols = df.columns
    replica: dict = {}
    _apply_delivery(replica, df.collect())
    feed.commit(tok)
    assert replica == _public_state(spark, tp)

    # caught up: no data commits since checkpoint -> None
    assert feed.poll(spark) is None

    # later batches arrive; the delivery is incremental (not a resync),
    # same delivery schema as the resync mode
    assert len(ing.run(spark)) == 3
    df, tok = feed.poll(spark)
    assert not tok.was_resync
    assert df.columns == first_cols
    delivered = df.collect()

    # crash between poll and commit: a fresh consumer process sees the
    # same checkpoint and redelivers the identical window
    df2, tok2 = IncrementalFeed(tp, ckpt).poll(spark)
    assert tok2.version == tok.version and not tok2.was_resync
    assert sorted(map(tuple, df2.collect())) == sorted(map(tuple, delivered))

    _apply_delivery(replica, delivered)
    feed.commit(tok)
    assert replica == _public_state(spark, tp)
    # deliveries carried real tombstones (ghost keys inserted+deleted)
    assert any(r[DELETED] for r in delivered) or any(
        r[DELETED] for r in df2.collect()
    )

    # maintenance-only window: compaction rewrites what the consumer
    # already saw -> no delivery, checkpoint fast-forwarded past it
    t = LakeTable.load(tp)
    t.compact(spark)
    assert feed.poll(spark) is None
    assert feed.position() == t.current_version()

    # lagged consumer: checkpoint points below retained history -> poll
    # degrades to a full resync and the replica still converges
    feed.commit(FeedToken(version=0))
    t.expire_snapshots(keep_last=2)
    df, tok = feed.poll(spark)
    assert tok.was_resync
    assert df.columns == first_cols
    replica2: dict = {}
    _apply_delivery(replica2, df.collect())
    feed.commit(tok)
    assert replica2 == _public_state(spark, tp)
    assert feed.poll(spark) is None


def test_maintenance_only_poll_starts_no_spark_job(spark, tmp_lake, tmp_path_factory):
    """A window of maintenance commits alone is judged from the manifests'
    harvested row counts: ``poll`` returns None and fast-forwards the
    checkpoint without starting a Spark job. A data commit after it is
    delivered, and its read does run jobs under the same probe."""
    d = str(tmp_path_factory.mktemp("feedmaint"))
    events, _ = gen_change_log(spark, n_turns=150, n_convs=6, n_batches=3)
    write_batch_files(events, d)
    tp = os.path.join(tmp_lake, "t")
    ing = CdcIngest(tp, d, num_buckets=4, compact_max_files=None)
    ing.run(spark, max_batches=2)
    feed = IncrementalFeed(tp, os.path.join(tmp_lake, "feed.json"))
    feed.commit(feed.poll(spark)[1])

    t = LakeTable.load(tp)
    assert t.compact(spark) > 0
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("feed-maintenance-poll", "maintenance-only feed poll")
    try:
        assert feed.poll(spark) is None
        assert feed.position() == t.current_version()
        assert list(tracker.getJobIdsForGroup("feed-maintenance-poll")) == []

        assert len(ing.run(spark)) == 1
        sc.setJobGroup("feed-data-poll", "data feed poll")
        df, tok = feed.poll(spark)
        assert tok.version == t.current_version() and not tok.was_resync
        assert df.count() > 0
        assert list(tracker.getJobIdsForGroup("feed-data-poll"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


# ------------------------------------------------ the window planner, no Spark
def _hand_table(tmp_lake) -> LakeTable:
    return LakeTable.create(
        os.path.join(tmp_lake, "t"), with_internal_schema(TRANSCRIPT_SCHEMA)
    )


def _file(t: LakeTable, name: str, kind: str = "delta") -> dict:
    """A manifest entry with an empty placeholder file on disk: the
    planner reads manifests and checks that the files exist, nothing
    more."""
    rel = os.path.join(DATA_DIR, name, "__bucket=0", "part-0.parquet")
    os.makedirs(os.path.join(t.path, os.path.dirname(rel)), exist_ok=True)
    open(os.path.join(t.path, rel), "w").close()
    return {"path": rel, "bucket": 0, "kind": kind, "rows": 1}


def _names(files) -> list[str]:
    return sorted(f["path"].split(os.sep)[1] for f in files)


def test_plan_takes_each_data_commits_added_entries(tmp_lake, monkeypatch):
    """Each data commit in the window contributes exactly the entries
    stamped with its version: the entries it carried over from its parent
    are not re-delivered, and deltas that a later compaction folded away
    are still planned from the commit that added them. A plan reads the
    manifests from the checkpoint + 1 to the tip, each once."""
    t = _hand_table(tmp_lake)
    s1 = t.commit(t.current(), [_file(t, "a"), _file(t, "b")])
    s2 = t.commit(s1, s1.files + [_file(t, "c")])
    s3 = t.commit(s2, [_file(t, "base", "base")], commit_type="maintenance")
    t.commit(s3, s3.files + [_file(t, "d")])
    read: list[int] = []
    real_snapshot = LakeTable.snapshot
    monkeypatch.setattr(
        LakeTable, "snapshot", lambda self, v: read.append(v) or real_snapshot(self, v)
    )
    for since, want in [(0, "abcd"), (1, "cd"), (2, "d"), (3, "d")]:
        read.clear()
        tip, files = _plan(t, since)
        assert tip.version == 4 and _names(files) == list(want)
        assert sorted(read) == list(range(since + 1, 5))
    read.clear()
    tip, files = _plan(t, 4)
    assert (tip.version, files, read) == (4, [], [4])


def test_plan_of_maintenance_commits_only_is_empty(tmp_lake):
    t = _hand_table(tmp_lake)
    s1 = t.commit(t.current(), [_file(t, "a"), _file(t, "b")])
    s2 = t.commit(s1, [_file(t, "base", "base")], commit_type="maintenance")
    t.commit(s2, [_file(t, "base2", "base")], commit_type="maintenance")
    tip, files = _plan(t, 1)
    assert tip.version == 3 and files == []


def test_plan_resyncs_when_the_window_cannot_be_delivered(tmp_lake):
    """A rollback commit in the window, a window reaching below the
    low-water mark after ``expire_snapshots``, a consumer that never
    committed, and a removed data file each plan a resync (no entries);
    the windows after them still plan. A checkpoint one below the mark
    plans: every commit of its window is retained."""
    t = _hand_table(tmp_lake)
    s1 = t.commit(t.current(), [_file(t, "a")])
    s2 = t.commit(s1, s1.files + [_file(t, "b")])
    t.rollback(1)
    s4 = t.commit(t.current(), t.current().files + [_file(t, "c")])
    assert _plan(t, 2) == (s4, None) and _plan(t, 1) == (s4, None)
    assert _names(_plan(t, 3)[1]) == ["c"]

    t.commit(s4, s4.files + [_file(t, "d")])
    t.expire_snapshots(keep_last=2)
    assert t.low_water() == 4
    assert _plan(t, 2)[1] is None and _plan(t, -1)[1] is None
    assert _names(_plan(t, 3)[1]) == ["c", "d"]
    assert _names(_plan(t, 4)[1]) == ["d"]

    os.remove(os.path.join(t.path, t.current().files[-1]["path"]))
    assert _plan(t, 4)[1] is None
