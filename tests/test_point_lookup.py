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


def test_file_range_pruning_after_sized_compaction(spark, tmp_lake, tmp_path_factory):
    """Size-targeted compaction splits a bucket into key-contiguous files
    whose harvested manifest ranges are disjoint; the point-lookup planner
    then reads ~1 base file instead of the whole bucket."""
    d = str(tmp_path_factory.mktemp("plr"))
    events, expected = gen_change_log(spark, n_turns=1200, n_convs=60, n_batches=2)
    write_batch_files(events, d)
    ing = CdcIngest(os.path.join(tmp_lake, "t2"), d, num_buckets=2)
    ing.run(spark)
    t = ing.table()
    t.compact(spark, target_file_rows=120)

    snap = t.current()
    base = [f for f in snap.files if f.get("kind", "base") == "base"]
    # the small target forces several files per bucket, each with bounds
    per_bucket: dict[int, list] = {}
    for f in base:
        assert "min_key" in f and "max_key" in f and f["min_key"] <= f["max_key"]
        per_bucket.setdefault(f["bucket"], []).append(f)
    assert any(len(v) > 1 for v in per_bucket.values())
    for files in per_bucket.values():
        spans = sorted((f["min_key"], f["max_key"]) for f in files)
        for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
            assert hi1 <= lo2  # disjoint-or-touching key ranges

    full = t.read(spark)
    convs = sorted(r["conv_id"] for r in full.select("conv_id").distinct().collect())
    pruned_any = False
    for conv in convs[:6]:
        bucket, cand = t.candidate_files_for_key(spark, conv)
        in_bucket = [f for f in snap.files if f["bucket"] == bucket]
        assert len(cand) <= len(in_bucket)
        if len(cand) < len(in_bucket):
            pruned_any = True
        got = t.read_conversation(spark, conv)
        want = full.filter(full.conv_id == conv)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
    assert pruned_any  # the planner actually skipped files


def test_range_pruning_never_hides_delta_rows(spark, tmp_lake, tmp_path_factory):
    """Delta files must never be pruned away from a key they hold:
    post-compaction batches land as unsorted deltas whose harvested key
    bounds span most of their bucket, on top of key-ranged base files, and
    they must still win the point lookup."""
    from pyspark.sql import functions as F

    from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch

    events, expected = gen_change_log(spark, n_turns=300, n_convs=12, n_batches=3)
    ing = CdcIngest(os.path.join(tmp_lake, "t3"), "/nonexistent", num_buckets=2)
    t = ing.table()
    apply_batch(spark, t, events.filter(F.col("batch_id") == 0), 0)
    apply_batch(spark, t, events.filter(F.col("batch_id") == 1), 1)
    t.compact(spark, target_file_rows=60)
    # the last batch lands as deltas on top of the key-ranged base files
    apply_batch(spark, t, events.filter(F.col("batch_id") == 2), 2)

    full = t.read(spark)
    for conv in [r["conv_id"] for r in full.select("conv_id").distinct().collect()][:5]:
        got = t.read_conversation(spark, conv)
        want = full.filter(full.conv_id == conv)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_file_without_footer_stats_is_unranged_and_read(
    spark, tmp_lake, tmp_path_factory
):
    """A parquet file written without column statistics lands in a
    compacted (range-pruned) bucket: it gets no key range, so the lookup
    planner always keeps it and ``read_conversation`` returns its rows."""
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
    t.compact(spark, target_file_rows=60)

    key = "conv_nostats"
    bucket = t.bucket_for_key(spark, key)
    snap = t.current()
    assert all("min_key" in f for f in snap.files if f["bucket"] == bucket)
    ts = datetime.datetime(2024, 1, 1)
    row = {"conv_id": key, "turn_idx": 0, "role": "user", "text": "no stats",
           "ts": ts, VERSION_TS: ts, VERSION_LSN: 10**9, DELETED: False}
    schema = snap.schema()
    df = spark.createDataFrame([tuple(row.get(f.name) for f in schema)], schema)
    rel = os.path.join("data", "nostats", f"__bucket={bucket}", "part-0.parquet")
    os.makedirs(os.path.dirname(os.path.join(t.path, rel)))
    pq.write_table(df.toArrow(), os.path.join(t.path, rel), write_statistics=False)

    assert footer_bounds(os.path.join(t.path, rel), ["conv_id"]) == (1, {})
    [entry] = t._harvest([{"path": rel, "bucket": bucket, "kind": "base"}], "conv_id")
    assert entry["rows"] == 1
    assert not {"min_key", "max_key", "min_lsn", "max_lsn"} & set(entry)
    t.commit(snap, snap.files + [entry], commit_type="maintenance")
    _, cand = t.candidate_files_for_key(spark, key)
    assert rel in [f["path"] for f in cand]
    got = t.read_conversation(spark, key).collect()
    assert [(r["turn_idx"], r["text"]) for r in got] == [(0, "no stats")]
