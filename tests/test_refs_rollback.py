"""Named snapshot refs (tags), history-preserving rollback, and the
one-call maintenance pass."""

import os

import pytest
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
from runyoro_llm_data_pipeline_spark.cdc.generator import gen_change_log
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        map(tuple, df.select(*cols).collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


def _mk(spark, tmp_lake, name, n_batches=3, n_turns=240, n_convs=12):
    events, _ = gen_change_log(
        spark, n_turns=n_turns, n_convs=n_convs, n_batches=n_batches
    )
    ing = CdcIngest(os.path.join(tmp_lake, name), "/nonexistent", num_buckets=2)
    return ing.table(), events


def test_tag_read_and_drop(spark, tmp_lake):
    t, events = _mk(spark, tmp_lake, "t1")
    apply_batch(spark, t, events.filter(F.col("batch_id") == 0), 0)
    state0 = _rows(t.read(spark))
    v = t.tag("after-b0")
    apply_batch(spark, t, events.filter(F.col("batch_id") == 1), 1)

    assert t.tags() == {"after-b0": v}
    assert _rows(t.read(spark, "after-b0")) == state0
    assert _rows(t.read(spark, v)) == state0  # int still works
    assert _rows(t.read(spark)) != state0
    t.drop_tag("after-b0")
    with pytest.raises(KeyError):
        t.read(spark, "after-b0")
    # tagging a nonexistent version refuses
    with pytest.raises((OSError, ValueError)):
        t.tag("bogus", version=999)


def test_tagged_snapshot_survives_expiry(spark, tmp_lake):
    t, events = _mk(spark, tmp_lake, "t2", n_batches=4)
    apply_batch(spark, t, events.filter(F.col("batch_id") == 0), 0)
    state0 = _rows(t.read(spark))
    t.tag("certified")
    for b in (1, 2, 3):
        apply_batch(
            spark, t, events.filter(F.col("batch_id") == b), b
        )
    t.expire_snapshots(keep_last=1)
    # pinned manifest + files intact across expiry (and a second pass)
    assert _rows(t.read(spark, "certified")) == state0
    t.cleanup_orphans(min_age_seconds=0)
    t.expire_snapshots(keep_last=1)
    assert _rows(t.read(spark, "certified")) == state0
    # dropping the tag releases it on the next expiry
    t.drop_tag("certified")
    t.expire_snapshots(keep_last=1)
    with pytest.raises((OSError, ValueError)):
        t.read(spark, t.current().version - 1)


def test_rollback_restores_state_and_ledger(spark, tmp_lake):
    t, events = _mk(spark, tmp_lake, "t3")
    apply_batch(spark, t, events.filter(F.col("batch_id") == 0), 0)
    apply_batch(spark, t, events.filter(F.col("batch_id") == 1), 1)
    v1 = t.current().version
    state1 = _rows(t.read(spark))
    apply_batch(spark, t, events.filter(F.col("batch_id") == 2), 2)
    state2 = _rows(t.read(spark))
    assert state2 != state1

    snap = t.rollback(v1)
    assert snap.commit_type == "rollback"
    assert snap.version == t.current().version  # new monotonic version
    assert _rows(t.read(spark)) == state1
    # ledger restored wholesale: batch 2 is re-ingestable and converges
    assert not t.was_applied(2)
    r = apply_batch(
        spark, t, events.filter(F.col("batch_id") == 2), 2
    )
    assert r["status"] == "applied"
    assert _rows(t.read(spark)) == state2


def test_rollback_by_tag_and_maintain(spark, tmp_lake):
    t, events = _mk(spark, tmp_lake, "t4")
    apply_batch(spark, t, events.filter(F.col("batch_id") == 0), 0)
    t.tag("good")
    state0 = _rows(t.read(spark))
    apply_batch(spark, t, events.filter(F.col("batch_id") == 1), 1)
    t.rollback("good")
    assert _rows(t.read(spark)) == state0

    out = t.maintain(
        spark, compact_max_files=0, keep_last_snapshots=2, orphan_age_seconds=0
    )
    assert set(out) == {
        "compacted_buckets",
        "applied_truncated",
        "snapshots_expired",
        "orphans_removed",
    }
    assert _rows(t.read(spark)) == state0  # maintenance is data-preserving
    assert _rows(t.read(spark, "good")) == state0  # tag pinned through it


def test_rollback_forces_feed_resync_and_replica_converges(
    spark, tmp_lake, tmp_path_factory
):
    """A rollback inside an incremental window cannot be expressed as
    upsert deltas — the feed must resync, after which the replica equals
    the table exactly (no stale post-rollback rows survive)."""
    from runyoro_llm_data_pipeline_spark.cdc.feed import IncrementalFeed

    t, events = _mk(spark, tmp_lake, "t5")
    ckpt = str(tmp_path_factory.mktemp("ck")) + "/pos.json"
    feed = IncrementalFeed(t.path, ckpt)

    apply_batch(spark, t, events.filter(F.col("batch_id") == 0), 0)
    v_after_0 = t.current().version
    apply_batch(spark, t, events.filter(F.col("batch_id") == 1), 1)
    df, tok = feed.poll(spark)  # replica now holds batches 0+1
    feed.commit(tok)
    replica = {tuple(r) for r in df.filter(~F.col("_cdc_deleted")).drop("_cdc_deleted").collect()}

    t.rollback(v_after_0)
    apply_batch(spark, t, events.filter(F.col("batch_id") == 2), 2)
    out = feed.poll(spark)
    assert out is not None
    df2, tok2 = out
    assert tok2.was_resync  # rollback in window -> full resync, not deltas
    feed.commit(tok2)
    got = {tuple(r) for r in df2.filter(~F.col("_cdc_deleted")).drop("_cdc_deleted").collect()}
    want = {tuple(r) for r in t.read(spark).collect()}
    assert got == want
    assert got != replica  # the unwound batch-1 rows are gone
