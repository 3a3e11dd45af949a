"""Point-lookup serving path: read one conversation via bucket pruning."""

import os

from runyoro_llm_data_pipeline_spark.cdc.generator import (
    gen_change_log,
    write_batch_files,
)
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest


def test_read_conversation_prunes_and_matches(spark, tmp_lake, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pl"))
    events, expected = gen_change_log(spark, n_turns=400, n_convs=20, n_batches=3)
    write_batch_files(events, d)
    ing = CdcIngest(os.path.join(tmp_lake, "t"), d, num_buckets=8)
    results = ing.run(spark)
    assert all(r["sec"] is not None and r["sec"] > 0 for r in results)
    t = ing.table()

    full = t.read(spark)
    convs = [r["conv_id"] for r in full.select("conv_id").distinct().collect()]
    for conv in convs[:3]:
        got = t.read_conversation(spark, conv)
        want = full.filter(full.conv_id == conv)
        assert sorted(r["turn_idx"] for r in got.collect()) == sorted(
            r["turn_idx"] for r in want.collect()
        )
        assert got.columns == full.columns
    # missing conversation → empty, not error
    assert t.read_conversation(spark, "no_such_conv").count() == 0


def test_range_pruning_never_hides_delta_rows(spark, tmp_lake, tmp_path_factory):
    """Delta files must never be pruned away from a key they hold:
    post-compaction batches land as deltas on top of each
    bucket's one key-sorted base file, and they must still win the point
    lookup. The plan is the key's whole bucket: its base and its deltas."""
    from pyspark.sql import functions as F

    from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch

    events, expected = gen_change_log(spark, n_turns=300, n_convs=12, n_batches=3)
    ing = CdcIngest(os.path.join(tmp_lake, "t3"), "/nonexistent", num_buckets=2)
    t = ing.table()
    apply_batch(spark, t, events.filter(F.col("batch_id") == 0), 0)
    apply_batch(spark, t, events.filter(F.col("batch_id") == 1), 1)
    t.compact(spark)
    # the last batch lands as deltas on top of one base file per bucket
    apply_batch(spark, t, events.filter(F.col("batch_id") == 2), 2)
    snap = t.current()
    for b in range(2):
        assert [f["kind"] for f in snap.files if f["bucket"] == b].count("base") == 1

    full = t.read(spark)
    for conv in [r["conv_id"] for r in full.select("conv_id").distinct().collect()]:
        bucket, cand = t.candidate_files_for_key(spark, conv)
        assert bucket == t.bucket_for_key(spark, conv)
        assert cand == [f for f in snap.files if f["bucket"] == bucket]
        got = t.read_conversation(spark, conv)
        want = full.filter(full.conv_id == conv)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_file_without_footer_stats_is_unranged_and_read(
    spark, tmp_lake, tmp_path_factory
):
    """A parquet file written without column statistics lands in a
    compacted bucket: its harvested entry carries ``rows`` and no lsn
    bounds, and ``read_conversation`` still returns its row."""
    import datetime

    import pyarrow.parquet as pq

    from runyoro_llm_data_pipeline_spark.lake.table import (
        DELETED,
        VERSION_LSN,
        VERSION_TS,
        footer_bounds,
    )

    d = str(tmp_path_factory.mktemp("plns"))
    events, _ = gen_change_log(spark, n_turns=600, n_convs=30, n_batches=2)
    write_batch_files(events, d)
    ing = CdcIngest(os.path.join(tmp_lake, "t"), d, num_buckets=2)
    ing.run(spark)
    t = ing.table()
    t.compact(spark)

    key = "conv_nostats"
    bucket = t.bucket_for_key(spark, key)
    snap = t.current()
    ts = datetime.datetime(2024, 1, 1)
    row = {"conv_id": key, "turn_idx": 0, "role": "user", "text": "no stats",
           "ts": ts, VERSION_TS: ts, VERSION_LSN: 10**9, DELETED: False}
    schema = snap.schema()
    df = spark.createDataFrame([tuple(row.get(f.name) for f in schema)], schema)
    rel = os.path.join("data", "nostats", f"__bucket={bucket}", "part-0.parquet")
    os.makedirs(os.path.dirname(os.path.join(t.path, rel)))
    pq.write_table(df.toArrow(), os.path.join(t.path, rel), write_statistics=False)

    assert footer_bounds(os.path.join(t.path, rel), [VERSION_LSN]) == (1, {})
    [entry] = t._harvest([{"path": rel, "bucket": bucket, "kind": "base"}])
    assert entry == {"path": rel, "bucket": bucket, "kind": "base", "rows": 1}
    t.commit(snap, snap.files + [entry], commit_type="maintenance")
    _, cand = t.candidate_files_for_key(spark, key)
    assert rel in [f["path"] for f in cand]
    got = t.read_conversation(spark, key).collect()
    assert [(r["turn_idx"], r["text"]) for r in got] == [(0, "no stats")]
