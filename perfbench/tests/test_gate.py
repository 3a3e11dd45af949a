import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import workloads as wl
from runyoro_llm_data_pipeline_spark.lake.table import DELETED

_US = 1_700_000_000_000_000


def _delivery(path, rows, ts_type=pa.timestamp("ns", tz="UTC")):
    """One feed delivery as Spark writes it: a directory of Parquet parts."""
    os.makedirs(path)
    t = pa.table({
        "conv_id": [r[0] for r in rows],
        "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
        "role": [r[2] for r in rows],
        "text": [r[3] for r in rows],
        "ts": pa.array([r[4] * 1000 for r in rows], ts_type),
        DELETED: [r[5] for r in rows],
    })
    pq.write_table(t, os.path.join(path, "part-00000.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()


def test_multiset_diff_counts_repeats_both_ways():
    a, b = [(1,), (1,), (2,)], [(1,), (3,)]
    assert wl.multiset_diff(a, b) == 3
    assert wl.multiset_diff(a, list(reversed(a))) == 0


def test_arrow_rows_normalizes_timestamps_and_missing_columns():
    t = pa.table({"conv_id": ["c"], "turn_idx": pa.array([0], pa.int32()),
                  "role": ["user"], "text": ["x"],
                  "ts": pa.array([_US * 1000], pa.timestamp("ns", tz="UTC"))})
    assert wl.arrow_rows(t) == [("c", 0, "user", "x", None, _US)]


def test_replica_fold_applies_resync_order_and_tombstones(tmp_path):
    rep = tmp_path / "replica"
    _delivery(str(rep / "d_00000"), [("old", 0, "user", "gone", _US, False)])
    _delivery(str(rep / "d_00001_resync"), [("c", 0, "user", "a", _US, False),
                                            ("c", 1, "user", "b", _US, False)])
    _delivery(str(rep / "d_00002"), [("c", 0, "user", "a2", _US, False),
                                     ("c", 1, None, None, _US, True)])
    table = [("c", 0, "user", "a2", None, _US)]
    ph = wl.Phase(replica_dir=str(rep))
    assert wl.replica_mismatch(ph, table) == 0 and ph.failed == 0
    ph = wl.Phase(replica_dir=str(rep))
    assert wl.replica_mismatch(ph, table + [("c", 1, "user", "b", None, _US)]) == 1
    assert ph.failed == 1
