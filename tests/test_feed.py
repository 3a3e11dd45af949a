"""IncrementalFeed — the CDC-*out* side: a downstream consumer subscribes
to the lake table's committed changes with a checkpointed poll/commit
loop, converging a replica to the table's public state under resync,
incremental delivery, crash-redelivery, maintenance churn, and
history expiry (cdc/feed.py). Generalizes the reference consumers'
re-read-everything-per-run pattern (``scripts/train_llm.py:173-204``)
into O(new data) consumption."""

import os

from runyoro_llm_data_pipeline_spark.cdc.feed import FeedToken, IncrementalFeed
from runyoro_llm_data_pipeline_spark.cdc.generator import (
    gen_change_log,
    write_batch_files,
)
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
from runyoro_llm_data_pipeline_spark.lake.table import DELETED, LakeTable


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
