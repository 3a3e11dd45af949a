"""The applied-offset ledger fold (``Snapshot.ledger_after``): every batch
commit adds its entry and raises ``applied_floor`` over the entries
contiguous with it. The property test needs no Spark: it drives the fold
the way ``apply_batch`` does (gate on ``has_applied``, then commit the
fold) and compares the gate against an unbounded set of applied ids."""

import os
import random

import pytest

from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
from runyoro_llm_data_pipeline_spark.cdc.generator import gen_change_log
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
from runyoro_llm_data_pipeline_spark.lake.table import Snapshot


def _commit(snap: Snapshot, batch_id: int) -> Snapshot:
    """The ledger half of an apply commit on ``snap``."""
    applied, floor = snap.ledger_after(batch_id, [batch_id, batch_id])
    return Snapshot(
        version=snap.version + 1, parent=snap.version, schema_json={},
        files=[], applied=applied,
        summary={**snap.summary, "applied_floor": floor},
    )


def _fresh() -> Snapshot:
    return Snapshot(version=0, parent=None, schema_json={}, files=[], applied={})


def test_fold_answers_as_an_unbounded_ledger():
    """Random id streams with gaps, duplicates and out-of-order arrival:
    after every step ``has_applied`` equals membership in the set of ids
    applied so far, and the floor never passes an id that was not."""
    rng = random.Random(12)
    for _ in range(500):
        snap, seen = _fresh(), set()
        top = rng.randint(1, 40)
        for _ in range(rng.randint(1, 60)):
            b = rng.randint(0, top)
            if not snap.has_applied(b):
                snap = _commit(snap, b)
            seen.add(b)
            assert all(
                snap.has_applied(i) == (i in seen) for i in range(top + 2)
            ), (sorted(seen), snap.applied, snap.applied_floor)
            assert all(int(k) > snap.applied_floor for k in snap.applied)


def test_contiguous_stream_leaves_ledger_empty():
    """Batch ids 0..n-1 in order: the ledger never holds an entry after a
    commit, and the floor ends at n-1. In reverse order every entry stays
    until batch 0 lands, then all of them fold at once."""
    snap = _fresh()
    for b in range(5000):
        snap = _commit(snap, b)
        assert snap.applied == {}
    assert snap.applied_floor == 4999

    snap = _fresh()
    for b in range(9, 0, -1):
        snap = _commit(snap, b)
    assert len(snap.applied) == 9 and snap.applied_floor == -1
    snap = _commit(snap, 0)
    assert snap.applied == {} and snap.applied_floor == 9


def test_negative_batch_id_rejected_before_any_job(spark, tmp_lake):
    """A fresh table's floor is -1, so the gate alone would report batch
    -1 as applied and skip it. ``apply_batch`` raises instead, before it
    starts a Spark job or commits anything."""
    t = CdcIngest(os.path.join(tmp_lake, "t"), num_buckets=4).table()
    events, _ = gen_change_log(spark, n_turns=50, n_convs=5, n_batches=1)
    sc = spark.sparkContext
    sc.setJobGroup("negative-batch-id", "apply of batch -1")
    try:
        with pytest.raises(ValueError):
            apply_batch(spark, t, events, batch_id=-1)
        jobs = sc.statusTracker().getJobIdsForGroup("negative-batch-id")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []
    assert t.current_version() == 0 and not t.current().has_applied(0)
