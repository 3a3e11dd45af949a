"""Multi-table atomic transactions (VERDICT round-2 item 7): two
LakeTables commit both-or-neither, with crash injection at every phase
boundary of the two-phase protocol."""

import json
import os

from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
from runyoro_llm_data_pipeline_spark.cdc.events import TRANSCRIPT_SCHEMA
from runyoro_llm_data_pipeline_spark.cdc.generator import gen_change_log
from runyoro_llm_data_pipeline_spark.lake.table import SNAP_DIR, LakeTable
from runyoro_llm_data_pipeline_spark.lake.txn import (
    MultiTableTransaction,
    StagedCommit,
)


def _two_tables(spark, root):
    """Two seeded tables (one applied batch each) — the transcript +
    derived-table shape."""
    ta = LakeTable.create(os.path.join(root, "a"), TRANSCRIPT_SCHEMA, num_buckets=4)
    tb = LakeTable.create(os.path.join(root, "b"), TRANSCRIPT_SCHEMA, num_buckets=4)
    ev, _ = gen_change_log(spark, n_turns=40, n_convs=4, n_batches=1)
    apply_batch(spark, ta, ev, 0)
    apply_batch(spark, tb, ev, 0)
    return ta, tb


def _noop_commit_kwargs(t: LakeTable, batch_id: int) -> dict:
    """A minimal (file-less) commit: advances the applied-batch ledger.
    The txn machinery is identical for data-carrying commits — files ride
    in ``files`` exactly as in single-table commits."""
    snap = t.current()
    return dict(
        parent=snap,
        files=snap.files,
        applied={**snap.applied, str(batch_id): [0, 0]},
    )


def test_commit_all_both_visible(spark, tmp_lake):
    ta, tb = _two_tables(spark, tmp_lake)
    va, vb = ta.current_version(), tb.current_version()
    txn = MultiTableTransaction(os.path.join(tmp_lake, "_txn"))
    snaps = txn.commit_all(
        [
            StagedCommit(ta, _noop_commit_kwargs(ta, 7)),
            StagedCommit(tb, _noop_commit_kwargs(tb, 7)),
        ]
    )
    assert [s.version for s in snaps] == [va + 1, vb + 1]
    assert ta.current_version() == va + 1 and tb.current_version() == vb + 1
    assert "7" in ta.current().applied and "7" in tb.current().applied
    # both manifests carry the txn marker and the record is committed
    rec_path = ta.current().pending_txn
    assert rec_path == tb.current().pending_txn and rec_path is not None
    with open(rec_path) as fh:
        rec = json.load(fh)
    assert rec["status"] == "committed" and len(rec["participants"]) == 2


def test_crash_before_decide_nothing_visible(spark, tmp_lake):
    """Crash after staging BOTH manifests but before the record rename:
    neither table may expose the new version — not even via recover()."""
    ta, tb = _two_tables(spark, tmp_lake)
    va, vb = ta.current_version(), tb.current_version()
    txn = MultiTableTransaction(os.path.join(tmp_lake, "_txn"))
    txn_file, parts = txn.prepare(
        [
            StagedCommit(ta, _noop_commit_kwargs(ta, 8)),
            StagedCommit(tb, _noop_commit_kwargs(tb, 8)),
        ]
    )
    assert not os.path.exists(txn_file)  # no decision on disk
    # staged manifests exist but are not adoptable
    assert os.path.exists(
        os.path.join(ta.path, SNAP_DIR, f"v{va + 1:08d}.json")
    )
    assert LakeTable.load(ta.path).current_version() == va
    assert LakeTable.load(tb.path).current_version() == vb
    assert txn.recover_txns() == 0

    # the table is NOT wedged: once the stage ages out, a normal commit
    # reclaims the undecided manifest and takes the version
    ta2 = LakeTable.load(ta.path)
    ta2.stale_manifest_seconds = 0.0
    snap = ta2.commit(**_noop_commit_kwargs(ta2, 9))
    assert snap.version == va + 1 and snap.pending_txn is None
    assert "9" in ta2.current().applied and "8" not in ta2.current().applied


def test_crash_after_decide_both_become_visible(spark, tmp_lake):
    """Crash between the record rename (the commit point) and the pointer
    rolls: every participant must become visible on recovery — via the
    coordinator sweep or any reader's load()."""
    ta, tb = _two_tables(spark, tmp_lake)
    va, vb = ta.current_version(), tb.current_version()
    txn = MultiTableTransaction(os.path.join(tmp_lake, "_txn"))
    txn_file, parts = txn.prepare(
        [
            StagedCommit(ta, _noop_commit_kwargs(ta, 8)),
            StagedCommit(tb, _noop_commit_kwargs(tb, 8)),
        ]
    )
    txn.decide(txn_file, parts)
    # pointers never rolled (simulated crash) — raw pointer still old
    assert LakeTable(ta.path).current_version() == va
    assert txn.recover_txns() == 2
    assert LakeTable(ta.path).current_version() == va + 1
    assert LakeTable(tb.path).current_version() == vb + 1
    assert "8" in LakeTable.load(tb.path).current().applied


def test_crash_after_decide_single_reader_heals_its_table(spark, tmp_lake):
    ta, tb = _two_tables(spark, tmp_lake)
    va, vb = ta.current_version(), tb.current_version()
    txn = MultiTableTransaction(os.path.join(tmp_lake, "_txn"))
    txn_file, parts = txn.prepare(
        [
            StagedCommit(ta, _noop_commit_kwargs(ta, 8)),
            StagedCommit(tb, _noop_commit_kwargs(tb, 8)),
        ]
    )
    txn.decide(txn_file, parts)
    # a reader touching only table B adopts B's half; A stays old until
    # ITS first reader (or the sweep) — but the decision is already
    # durable, so no interleaving can un-commit either half
    assert LakeTable.load(tb.path).current_version() == vb + 1
    assert LakeTable(ta.path).current_version() == va
    assert LakeTable.load(ta.path).current_version() == va + 1


def test_prepare_conflict_aborts_cleanly(spark, tmp_lake):
    """A concurrent writer takes table B's next version between snapshot
    read and staging: prepare must raise and remove table A's already-
    staged manifest — nothing of the transaction survives."""
    import pytest

    from runyoro_llm_data_pipeline_spark.lake.table import CommitConflictError

    ta, tb = _two_tables(spark, tmp_lake)
    va = ta.current_version()
    kw_a = _noop_commit_kwargs(ta, 8)
    kw_b = _noop_commit_kwargs(tb, 8)  # snapshot read BEFORE the sneak
    tb.commit(**_noop_commit_kwargs(tb, 99))  # concurrent writer wins vN
    txn = MultiTableTransaction(os.path.join(tmp_lake, "_txn"))
    with pytest.raises(CommitConflictError):
        txn.prepare([StagedCommit(ta, kw_a), StagedCommit(tb, kw_b)])
    assert not os.path.exists(
        os.path.join(ta.path, SNAP_DIR, f"v{va + 1:08d}.json")
    )
    assert LakeTable.load(ta.path).current_version() == va
    # table A unwedged immediately (no stale wait needed — manifest gone)
    snap = ta.commit(**_noop_commit_kwargs(ta, 10))
    assert snap.version == va + 1
