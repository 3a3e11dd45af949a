"""The snapshot owns the table layout: a handle plans every read, write
and rewrite against the bucket modulus of the snapshot it reads, so a
handle that did not make a layout change still agrees with the table.
Every write gives each bucket one writer, so an apply lands one delta per
touched bucket and ``compact_max_files=k`` counts batches."""

import os
from collections import Counter

from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
from runyoro_llm_data_pipeline_spark.cdc.events import TRANSCRIPT_SCHEMA
from runyoro_llm_data_pipeline_spark.cdc.generator import (
    gen_change_log,
    write_batch_files,
)
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
from runyoro_llm_data_pipeline_spark.lake.merge import with_internal_schema
from runyoro_llm_data_pipeline_spark.lake.table import (
    DATA_DIR,
    LakeTable,
    bucket_expr,
)


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


def _added_per_bucket(snap) -> Counter:
    return Counter(f["bucket"] for f in snap.files if f.get("added_v") == snap.version)


def test_apply_writes_one_delta_per_touched_bucket(spark, tmp_lake):
    events, _ = gen_change_log(
        spark, n_turns=2000, n_convs=20, n_batches=1, hot_share_pct=90
    )
    t = CdcIngest(os.path.join(tmp_lake, "t"), num_buckets=8).table()
    apply_batch(spark, t, events, 0)
    touched = {
        r["b"]
        for r in events.select(bucket_expr("conv_id", 8).alias("b"))
        .distinct()
        .collect()
    }
    snap = t.current()
    added = _added_per_bucket(snap)
    assert set(added) == touched
    assert all(n == 1 for n in added.values())
    assert sum(added.values()) <= 8
    assert {f["kind"] for f in snap.files} == {"delta"}


def test_compaction_cadence_counts_batches(spark, tmp_lake, tmp_path_factory):
    k = 2
    d = str(tmp_path_factory.mktemp("cadence"))
    events, _ = gen_change_log(spark, n_turns=400, n_convs=12, n_batches=k + 2)
    write_batch_files(events, d)
    ing = CdcIngest(
        os.path.join(tmp_lake, "t"), d, num_buckets=4, compact_max_files=k
    )
    ing.run(spark)
    t = ing.table()
    first = next(s for s in t.history() if s.commit_type == "maintenance")
    # batches 0..k left k+1 deltas in a bucket: the first compaction
    # directly follows batch k, the (k+1)-th batch
    assert t.snapshot(first.parent).summary["last_batch_id"] == k

    # a full compaction leaves one base file per bucket
    assert t.compact(spark) > 0
    files = t.current().files
    assert {f["kind"] for f in files} == {"base"}
    assert sorted(Counter(f["bucket"] for f in files).values()) == [1] * 4



def test_compact_leaves_a_base_only_bucket_alone(tmp_lake):
    """``compact``'s one rule counts delta files only: a bucket holding
    two base files and no delta (the layout an older size-capped
    compaction left) is not due at the default threshold, so nothing is
    planned, read or committed. No Spark: the table is built by hand."""
    t = LakeTable.create(
        os.path.join(tmp_lake, "t"), with_internal_schema(TRANSCRIPT_SCHEMA)
    )
    base = [
        {
            "path": os.path.join(DATA_DIR, "v00000001-0", "__bucket=0", fn),
            "bucket": 0,
            "kind": "base",
            "rows": 1,
        }
        for fn in ("part-0.parquet", "part-1.parquet")
    ]
    t.commit(t.current(), base, commit_type="maintenance")
    assert t.compact(None) == 0 and t.compact(None, 0) == 0
    assert t.current_version() == 1
