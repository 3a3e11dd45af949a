"""Optimistic-concurrency commits + additive-only schema guard."""

import datetime
import os
import threading

import pytest
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc import apply as apply_mod
from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
from runyoro_llm_data_pipeline_spark.cdc.events import EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from runyoro_llm_data_pipeline_spark.cdc.generator import (
    gen_change_log,
    write_batch_files,
)
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
from runyoro_llm_data_pipeline_spark.lake import table as table_mod
from runyoro_llm_data_pipeline_spark.lake.merge import (
    SchemaConflictError,
    with_internal_schema,
)
from runyoro_llm_data_pipeline_spark.lake.table import (
    DATA_DIR,
    SNAP_DIR,
    CommitConflictError,
    LakeTable,
)


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


def test_apply_batch_retries_after_transient_conflict(spark, tmp_lake, monkeypatch):
    """Optimistic-concurrency retry: a commit that loses the pointer race
    raises CommitConflictError; apply_batch must re-read the snapshot and
    succeed on the next attempt (and must NOT retry when
    ``MAX_COMMIT_RETRIES`` is 0)."""
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

    lost = []

    def always_conflict(*a, **k):
        lost.append(1)
        raise CommitConflictError("permanent")

    t2.commit = always_conflict
    monkeypatch.setattr(apply_mod, "MAX_COMMIT_RETRIES", 0)
    with pytest.raises(CommitConflictError):
        apply_batch(spark, t2, _batch(spark, 2, 1), 1)
    assert len(lost) == 1


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


def _empty_table(tmp_lake) -> LakeTable:
    return LakeTable.create(
        os.path.join(tmp_lake, "t"), with_internal_schema(TRANSCRIPT_SCHEMA)
    )


def _rivals_commit_then_expire(t: LakeTable) -> None:
    """Five rival commits on the current snapshot, then an expiry that
    keeps only the last of them."""
    s = t.current()
    for _ in range(5):
        s = t.commit(s, [], summary={**s.summary, "by": "rival"})
    t.expire_snapshots(keep_last=1)


def test_writer_whose_temp_was_swept_loses(tmp_lake, monkeypatch):
    """A live writer stalls after staging its temp manifest for v1. A
    rival commits v1 and ``expire_snapshots`` sweeps the stalled temp
    (its version is no longer ahead of the table). When the stalled
    writer links, it must get CommitConflictError, and the table keeps
    the rival's v1 with no temp left in ``snapshots/``."""
    t = _empty_table(tmp_lake)
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


@pytest.mark.parametrize("tag_parent", [False, True], ids=["untagged", "tagged"])
def test_writer_stalled_before_staging_across_expiry_loses(
    tmp_lake, monkeypatch, tag_parent
):
    """A writer plans on v0 and stalls before it stages its manifest.
    Rivals commit v1..v5 and ``expire_snapshots(keep_last=1)`` deletes
    v1..v4, so ``v00000001.json`` is absent again and the stalled link
    succeeds. The writer must still lose, and must not leave its stale v1
    for readers to pick up: the table stays at the rivals' v5 (a tag on
    v0 keeps v0, which changes nothing)."""
    t = _empty_table(tmp_lake)
    if tag_parent:
        t.tag("pinned", 0)
    parent = t.current()
    real_write = table_mod._atomic_write

    def stall(path, content, **kwargs):
        monkeypatch.setattr(table_mod, "_atomic_write", real_write)
        _rivals_commit_then_expire(t)
        return real_write(path, content, **kwargs)

    monkeypatch.setattr(table_mod, "_atomic_write", stall)
    with pytest.raises(CommitConflictError):
        t.commit(parent, [], summary={**parent.summary, "by": "stalled"})
    cur = LakeTable.load(t.path).current()
    assert (cur.version, cur.summary["by"]) == (5, "rival")
    kept = ["v00000000.json"] if tag_parent else []
    assert sorted(os.listdir(os.path.join(t.path, SNAP_DIR))) == kept + [
        "v00000005.json"
    ]


def test_writer_stalled_after_its_link_across_expiry(tmp_lake, monkeypatch):
    """A writer wins v1, then stalls before ``commit`` returns. Rivals
    commit v2..v6 on top of it and ``expire_snapshots(keep_last=1)``
    deletes v1..v5. The table must stay readable at the rivals' tip. The
    writer cannot tell its expired commit from a stale one, so it reports
    a conflict; a caller re-gates on the fresh snapshot (``apply_batch``
    does, on ``has_applied``)."""
    t = _empty_table(tmp_lake)
    parent = t.current()
    real_link = os.link

    def stall_after_link(src, dst):
        real_link(src, dst)
        monkeypatch.setattr(os, "link", real_link)
        _rivals_commit_then_expire(t)

    monkeypatch.setattr(os, "link", stall_after_link)
    with pytest.raises(CommitConflictError):
        t.commit(parent, [], summary={**parent.summary, "by": "stalled"})
    cur = LakeTable.load(t.path).current()
    assert (cur.version, cur.summary["by"]) == (6, "rival")
    assert [s.version for s in t.history()] == [6]


def test_racing_expiries_serialize_and_never_lower_the_mark(
    tmp_lake, monkeypatch
):
    """Two ``expire_snapshots`` calls in threads. The first pauses right
    after publishing its low-water mark; the second must block on the
    lock until the first finishes and then plan from the first's mark, so
    the marks published only rise, and ``current()`` stays readable
    throughout."""
    t = _empty_table(tmp_lake)
    s = t.current()
    for _ in range(6):
        s = t.commit(s, [], summary={**s.summary, "by": "rival"})
    real_write = table_mod._atomic_write
    real_history = LakeTable.history
    paused, release = threading.Event(), threading.Event()
    marks, planned = [], []

    def publish(path, content, **kwargs):
        real_write(path, content, **kwargs)
        if os.path.basename(path) == table_mod.LOW_WATER:
            marks.append(int(content))
            if len(marks) == 1:
                paused.set()
                assert release.wait(10)

    def history(self):
        planned.append(threading.current_thread().name)
        return real_history(self)

    monkeypatch.setattr(table_mod, "_atomic_write", publish)
    monkeypatch.setattr(LakeTable, "history", history)
    first = threading.Thread(
        target=LakeTable(t.path).expire_snapshots, kwargs={"keep_last": 2},
        name="first",
    )
    second = threading.Thread(
        target=LakeTable(t.path).expire_snapshots, kwargs={"keep_last": 1},
        name="second",
    )
    first.start()
    assert paused.wait(10)
    second.start()
    second.join(0.5)
    assert second.is_alive() and planned == ["first"]
    assert t.current().version == 6
    release.set()
    first.join(10)
    second.join(10)
    assert not first.is_alive() and not second.is_alive()
    assert planned == ["first", "second"]
    assert marks == [5, 6]
    assert t.current().version == 6
    assert [h.version for h in t.history()] == [6]


def test_expire_keep_last_below_one_raises_and_changes_nothing(tmp_lake):
    """``keep_last=0`` used to keep the whole chain (``chain[-0:]``) and
    return 0. It raises before the lock is taken, and neither the
    low-water mark nor ``snapshots/`` changes."""
    t = _empty_table(tmp_lake)
    s = t.current()
    for _ in range(3):
        s = t.commit(s, [])
    manifests = sorted(os.listdir(os.path.join(t.path, SNAP_DIR)))
    with pytest.raises(ValueError, match="keep_last"):
        t.expire_snapshots(keep_last=0)
    assert t.low_water() == 0
    assert not os.path.exists(os.path.join(t.path, table_mod.LOW_WATER))
    assert not os.path.exists(os.path.join(t.path, table_mod.LOW_WATER + ".lock"))
    assert sorted(os.listdir(os.path.join(t.path, SNAP_DIR))) == manifests


def test_maintenance_leaves_an_in_flight_write_dir_alone(tmp_lake):
    """A concurrent writer's output dir holds no parquet file until its
    Spark job writes one (only the empty ``_temporary`` tree), and
    deleting it fails that write. ``expire_snapshots`` removes only the
    write dirs whose last parquet file it deleted, and ``cleanup_orphans``
    removes an empty dir only past its age guard."""
    t = _empty_table(tmp_lake)
    expired_dir = os.path.join(t.path, DATA_DIR, "v00000001-0123abcd")
    rel = os.path.relpath(
        os.path.join(expired_dir, "__bucket=0", "part-0.parquet"), t.path
    )
    for path in (os.path.join(t.path, rel), os.path.join(expired_dir, "_SUCCESS")):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        open(path, "w").close()
    s = t.commit(t.current(), [{"path": rel, "bucket": 0, "kind": "delta", "rows": 1}])
    s = t.commit(s, [])
    in_flight = os.path.join(t.path, DATA_DIR, "v00000003-4567cdef", "_temporary", "0")
    os.makedirs(in_flight)
    assert t.expire_snapshots(keep_last=1) == 1
    assert not os.path.exists(expired_dir)
    assert os.path.isdir(in_flight)
    t.cleanup_orphans(min_age_seconds=3600)
    assert os.path.isdir(in_flight)


def test_each_commit_publishes_one_file(spark, tmp_lake, tmp_path_factory, monkeypatch):
    """Across one ingest and one maintenance pass, every commit publishes
    exactly one table file, its manifest, by the exclusive link; nothing
    else ever publishes into ``snapshots/``."""
    d = str(tmp_path_factory.mktemp("onefile"))
    events, _ = gen_change_log(spark, n_turns=120, n_convs=6, n_batches=3)
    write_batch_files(events, d)
    real_write, real_commit = table_mod._atomic_write, LakeTable.commit
    real_rename = os.rename
    writes, per_commit, renamed = [], [], []

    def recording_write(path, content, exclusive=False):
        writes.append((path, exclusive))
        return real_write(path, content, exclusive=exclusive)

    def counting_commit(self, *args, **kwargs):
        before = len(writes)
        out = real_commit(self, *args, **kwargs)
        per_commit.append(writes[before:])
        return out

    def recording_rename(src, dst, *args, **kwargs):
        renamed.append(str(dst))
        return real_rename(src, dst, *args, **kwargs)

    monkeypatch.setattr(table_mod, "_atomic_write", recording_write)
    monkeypatch.setattr(LakeTable, "commit", counting_commit)
    monkeypatch.setattr(os, "rename", recording_rename)
    ing = CdcIngest(os.path.join(tmp_lake, "t"), d, num_buckets=2, compact_max_files=1)
    ing.run(spark)
    t = ing.table()
    t.maintain(
        spark, compact_max_files=0, keep_last_snapshots=1, orphan_age_seconds=0,
    )
    monkeypatch.undo()

    types = {s.commit_type for s in t.history()}
    assert len(per_commit) >= 5 and "maintenance" in types
    for got in per_commit:
        assert len(got) == 1
        path, exclusive = got[0]
        assert exclusive and os.path.dirname(path) == os.path.join(t.path, SNAP_DIR)
    snap_dir = os.path.join(t.path, SNAP_DIR)
    assert all(ex for p, ex in writes if os.path.dirname(p) == snap_dir)
    assert not [p for p in renamed if os.path.dirname(p) == snap_dir]
