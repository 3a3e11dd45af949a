"""The snapshot owns the table layout: a handle plans every read, write
and rewrite against the bucket modulus of the snapshot it reads, so a
handle that did not make a layout change still agrees with the table."""

import os

from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
from runyoro_llm_data_pipeline_spark.cdc.generator import gen_change_log
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
from runyoro_llm_data_pipeline_spark.lake.table import LakeTable


def _lookup_misses(spark, t: LakeTable) -> list[str]:
    """Conversations whose point lookup differs from the full read
    filtered on their key."""
    full = t.read(spark).collect()
    convs = sorted({r["conv_id"] for r in full})
    assert len(convs) >= 12
    return [
        conv
        for conv in convs
        if sorted(map(tuple, t.read_conversation(spark, conv).collect()))
        != sorted(tuple(r) for r in full if r["conv_id"] == conv)
    ]


def test_stale_handle_plans_against_rival_rebucket(spark, tmp_lake):
    path = os.path.join(tmp_lake, "t")
    events, _ = gen_change_log(spark, n_turns=240, n_convs=12, n_batches=2)
    a = CdcIngest(path, num_buckets=2).table()
    apply_batch(spark, a, events.filter(F.col("batch_id") == 0), 0)

    b = LakeTable.load(path)
    b.rebucket(spark, 8)
    # handle A never saw the rebucket; its lookups still hash under 8
    assert _lookup_misses(spark, a) == []

    apply_batch(spark, b, events.filter(F.col("batch_id") == 1), 1)
    assert a.compact(spark) > 0
    snap = LakeTable.load(path).current()
    assert snap.num_buckets == 8
    assert all(f["bucket"] < 8 for f in snap.files)
    # A's compaction rewrote under the snapshot's modulus, not a stale 2
    assert len({f["bucket"] for f in snap.files}) > 2
    assert _lookup_misses(spark, LakeTable.load(path)) == []
