"""Optimistic-concurrency commits + additive-only schema guard."""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
from runyoro_llm_data_pipeline_spark.cdc.events import EVENT_SCHEMA
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
from runyoro_llm_data_pipeline_spark.lake.merge import SchemaConflictError
from runyoro_llm_data_pipeline_spark.lake.table import CommitConflictError


def _batch(spark, lsn, batch_id, text="x"):
    ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=lsn)
    return spark.createDataFrame(
        [("insert", "c1", 0, "user", text, None, ts, ts, lsn, batch_id)],
        EVENT_SCHEMA,
    )


def test_concurrent_commit_conflict_detected(spark, tmp_lake):
    """Two writers planning against the same parent: the second commit must
    fail with CommitConflictError, and the table keeps the first writer's
    state (no lost update, no pointer corruption)."""
    ing = CdcIngest(os.path.join(tmp_lake, "t"), "/nonexistent", num_buckets=4)
    t = ing.table()
    snap = t.current()  # both writers read the same parent

    from runyoro_llm_data_pipeline_spark.cdc.apply import _apply_mor

    r1 = _apply_mor(spark, t, _batch(spark, 1, 0, "writer1"), 0, False, snap)
    assert r1["status"] == "applied"
    with pytest.raises(CommitConflictError):
        _apply_mor(
            spark, t, _batch(spark, 2, 1, "writer2"), 1, False,
            snap,  # stale parent
        )
    rows = t.read(spark).collect()
    assert len(rows) == 1 and rows[0]["text"] == "writer1"
    # the losing writer retries against the fresh snapshot and succeeds
    r2 = apply_batch(spark, t, _batch(spark, 2, 1, "writer2"), 1)
    assert r2["status"] == "applied"
    assert t.read(spark).collect()[0]["text"] == "writer2"


def test_schema_type_conflict_rejected(spark, tmp_lake):
    ing = CdcIngest(os.path.join(tmp_lake, "t"), "/nonexistent", num_buckets=4)
    t = ing.table()
    apply_batch(spark, t, _batch(spark, 1, 0), 0)
    bad = _batch(spark, 2, 1).withColumn("role", F.lit(7))  # string → int
    with pytest.raises(SchemaConflictError, match="role"):
        apply_batch(spark, t, bad, 1)
    # table unchanged and still writable after the rejected batch
    assert t.read(spark).count() == 1
    ok = apply_batch(spark, t, _batch(spark, 3, 2, "after"), 2)
    assert ok["status"] == "applied"


def test_orphan_cleanup_after_lost_race(spark, tmp_lake):
    """The losing writer's unreferenced data files are reclaimed by
    cleanup_orphans once old enough; referenced files are untouched."""
    from runyoro_llm_data_pipeline_spark.cdc.apply import _apply_mor

    ing = CdcIngest(os.path.join(tmp_lake, "t"), "/nonexistent", num_buckets=4)
    t = ing.table()
    snap = t.current()
    _apply_mor(spark, t, _batch(spark, 1, 0, "w1"), 0, False, snap)
    with pytest.raises(CommitConflictError):
        _apply_mor(spark, t, _batch(spark, 2, 1, "w2"), 1, False, snap)
    # fresh files: age guard protects them
    assert t.cleanup_orphans(min_age_seconds=3600) == 0
    removed = t.cleanup_orphans(min_age_seconds=0)
    assert removed > 0
    # table still reads fine and a new commit works
    assert t.read(spark).collect()[0]["text"] == "w1"
    r = apply_batch(spark, t, _batch(spark, 2, 1, "w2"), 1)
    assert r["status"] == "applied"
    assert t.cleanup_orphans(min_age_seconds=0) == 0  # nothing orphaned now


def test_apply_batch_retries_after_transient_conflict(spark, tmp_lake):
    """Optimistic-concurrency retry: a commit that loses the pointer race
    raises CommitConflictError; apply_batch must re-read the snapshot and
    succeed on the next attempt (and must NOT retry when
    max_commit_retries=0)."""
    ing = CdcIngest(os.path.join(tmp_lake, "t"), "/nonexistent", num_buckets=4)
    t = ing.table()
    real_commit = t.commit
    calls = {"n": 0}

    def flaky_commit(*a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            raise CommitConflictError("simulated lost pointer race")
        return real_commit(*a, **k)

    t.commit = flaky_commit
    r = apply_batch(spark, t, _batch(spark, 1, 0, "survivor"), 0)
    assert r["status"] == "applied"
    assert calls["n"] == 2  # one lost race + one winning retry
    assert t.read(spark).collect()[0]["text"] == "survivor"

    t.commit = real_commit
    t2 = ing.table()

    def always_conflict(*a, **k):
        raise CommitConflictError("permanent")

    t2.commit = always_conflict
    with pytest.raises(CommitConflictError):
        apply_batch(
            spark, t2, _batch(spark, 2, 1), 1,
            max_commit_retries=0,
        )


def test_apply_batch_retry_degrades_to_skip_when_rival_applied_same_batch(
    spark, tmp_lake
):
    """The cron-overlap case: two launches race to apply the SAME batch.
    The loser's retry re-checks the applied-offset gate against the fresh
    snapshot and must return 'skipped' — exactly-once under any
    interleaving, no double-apply, no crash."""
    path = os.path.join(tmp_lake, "t")
    ing = CdcIngest(path, "/nonexistent", num_buckets=4)
    t = ing.table()
    rival = ing.table()  # second handle = the competing launch
    real_commit = t.commit
    state = {"raced": False}

    def racing_commit(*a, **k):
        if not state["raced"]:
            state["raced"] = True
            # the rival applies the SAME batch first, then our commit
            # loses the pointer race
            apply_batch(spark, rival, _batch(spark, 1, 0, "rival"), 0)
            raise CommitConflictError("lost to rival")
        return real_commit(*a, **k)

    t.commit = racing_commit
    r = apply_batch(spark, t, _batch(spark, 1, 0, "ours"), 0)
    assert r["status"] == "skipped"
    rows = t.read(spark).collect()
    assert len(rows) == 1 and rows[0]["text"] == "rival"  # applied exactly once


def test_apply_batch_retry_adopts_rival_rebucket(spark, tmp_lake):
    """If the rival that won the race also rebucketed the table, the
    retry must compute buckets against the NEW modulus (a stale
    num_buckets would silently write rows into buckets the readers'
    pruning never visits)."""
    path = os.path.join(tmp_lake, "t")
    ing = CdcIngest(path, "/nonexistent", num_buckets=4)
    t = ing.table()
    r0 = apply_batch(spark, t, _batch(spark, 1, 0, "seed"), 0)
    assert r0["status"] == "applied"

    rival = ing.table()
    real_commit = t.commit
    state = {"raced": False}

    def racing_commit(*a, **k):
        if not state["raced"]:
            state["raced"] = True
            rival.rebucket(spark, 8)
            raise CommitConflictError("lost to a rebucketing rival")
        return real_commit(*a, **k)

    t.commit = racing_commit
    r = apply_batch(spark, t, _batch(spark, 2, 1, "after"), 1)
    assert r["status"] == "applied"
    assert t.current().num_buckets == 8  # the retry planned on the rival's layout
    rows = {x["text"] for x in t.read(spark).collect()}
    assert rows == {"after"}  # latest-wins row readable post-rebucket
    # point lookup plans against the new modulus and still finds the key
    got = t.read_conversation(spark, "c1").collect()
    assert len(got) == 1 and got[0]["text"] == "after"


def test_writer_whose_temp_was_swept_loses(tmp_lake, monkeypatch):
    """A live writer stalls after staging its temp manifest for v1. A
    rival commits v1 and ``expire_snapshots`` sweeps the stalled temp
    (its version is no longer ahead of the table). When the stalled
    writer links, it must get CommitConflictError, and the table keeps
    the rival's v1 with no temp left in ``snapshots/``."""
    from runyoro_llm_data_pipeline_spark.cdc.events import TRANSCRIPT_SCHEMA
    from runyoro_llm_data_pipeline_spark.lake.merge import with_internal_schema
    from runyoro_llm_data_pipeline_spark.lake.table import SNAP_DIR, LakeTable

    t = LakeTable.create(
        os.path.join(tmp_lake, "t"), with_internal_schema(TRANSCRIPT_SCHEMA)
    )
    parent = t.current()
    real_link = os.link

    def rival_wins_while_stalled(src, dst):
        monkeypatch.setattr(os, "link", real_link)
        t.commit(parent, [], summary={**parent.summary, "by": "rival"})
        t.expire_snapshots(keep_last=1)
        assert not os.path.exists(src)  # the stalled writer's temp was swept
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", rival_wins_while_stalled)
    with pytest.raises(CommitConflictError):
        t.commit(parent, [], summary={**parent.summary, "by": "stalled"})
    assert t.current().version == 1
    assert t.current().summary["by"] == "rival"
    assert os.listdir(os.path.join(t.path, SNAP_DIR)) == ["v00000001.json"]
