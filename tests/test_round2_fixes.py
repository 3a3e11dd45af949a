"""Round-2 hardening: incremental reads that survive compaction, commit
crash recovery (a writer that died after its link), admission counting on filtered
sources, and LSH dim safety."""

import os

import pytest
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.generator import (
    gen_change_log,
    write_batch_files,
)
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
from runyoro_llm_data_pipeline_spark.lake.table import (
    SNAP_DIR,
    LakeTable,
    Snapshot,
)


def _keys(df):
    return {(r["conv_id"], r["turn_idx"]) for r in df.select("conv_id", "turn_idx").collect()}


# ------------------------------------------------- incremental vs compaction
def test_incremental_read_survives_auto_compaction(
    spark, tmp_lake, tmp_path_factory, poll_since
):
    """ADVICE(high): with aggressive auto-compaction folding deltas into
    base files between the consumer's checkpoints, the feed must
    still deliver every change of the window (it reads each data commit's
    own files, which compaction carries out of the manifest but not off
    disk)."""
    d = str(tmp_path_factory.mktemp("inccomp"))
    events, _ = gen_change_log(spark, n_turns=400, n_convs=15, n_batches=4)
    write_batch_files(events, d)
    ing = CdcIngest(
        os.path.join(tmp_lake, "t"), d, num_buckets=4,
        compact_max_files=1,  # compact after nearly every batch
    )
    ing.run(spark, max_batches=2)
    t = ing.table()
    v_mid = t.current_version()
    ing.run(spark)
    t = ing.table()
    # compaction genuinely ran inside the consumed window
    assert any(s.commit_type == "maintenance" for s in t.history())

    inc, tok = poll_since(spark, t.path, v_mid)
    assert not tok.was_resync
    late_keys = {
        (r["conv_id"], r["turn_idx"])
        for r in events.filter(F.col("batch_id") >= 2)
        .select("conv_id", "turn_idx").distinct().collect()
    }
    assert _keys(inc) == late_keys
    assert inc.count() == len(late_keys)


def test_incremental_read_across_inline_compactions(
    spark, tmp_lake, tmp_path_factory, poll_since
):
    """ADVICE(high): every data commit must appear in incremental reads,
    across inline compactions (which rewrite buckets into base files
    between the consumer's checkpoints). The consumer is never
    under-delivered, and delivered values match the table state."""
    d = str(tmp_path_factory.mktemp("incdata"))
    events, _ = gen_change_log(spark, n_turns=300, n_convs=12, n_batches=4)
    write_batch_files(events, d)
    ing = CdcIngest(
        os.path.join(tmp_lake, "t"), d, num_buckets=4, compact_max_files=1
    )
    ing.run(spark, max_batches=2)
    t = ing.table()
    v_mid = t.current_version()
    ing.run(spark)
    t = ing.table()
    # a compaction landed inside the window the consumer reads
    assert any(
        s.commit_type == "maintenance" and s.version > v_mid for s in t.history()
    )

    inc, tok = poll_since(spark, t.path, v_mid)
    assert not tok.was_resync
    late_keys = {
        (r["conv_id"], r["turn_idx"])
        for r in events.filter(F.col("batch_id") >= 2)
        .select("conv_id", "turn_idx").distinct().collect()
    }
    got = _keys(inc)
    assert late_keys <= got  # never under-delivered
    # delivered winners agree with the final table state (public columns)
    from runyoro_llm_data_pipeline_spark.lake.table import DELETED

    live = inc.filter(~F.coalesce(F.col(DELETED), F.lit(False))).select(
        "conv_id", "turn_idx", "text"
    )
    pub = t.read(spark).select("conv_id", "turn_idx", "text").join(
        live.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"]
    )
    assert live.exceptAll(pub).count() == 0 and pub.exceptAll(live).count() == 0


# ---------------------------------------------- writer died after its link
def _orphan_snapshot(t: LakeTable) -> int:
    """Simulate a writer that died right after its commit: a fully valid
    vN+1 manifest that its writer never reported."""
    cur = t.current()
    snap = Snapshot(
        version=cur.version + 1,
        parent=cur.version,
        schema_json=cur.schema_json,
        files=list(cur.files),
        applied=dict(cur.applied),
        summary={**cur.summary, "orphan": True},
    )
    path = os.path.join(t.path, SNAP_DIR, f"v{snap.version:08d}.json")
    with open(path, "w") as fh:
        fh.write(snap.to_json())
    return snap.version


def test_load_rolls_pointer_forward_over_orphan_commit(spark, tmp_lake, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wedge"))
    events, _ = gen_change_log(spark, n_turns=100, n_convs=5, n_batches=2)
    write_batch_files(events, d)
    ing = CdcIngest(os.path.join(tmp_lake, "t"), d, num_buckets=4)
    ing.run(spark, max_batches=1)
    t = ing.table()
    v = t.current_version()
    orphan_v = _orphan_snapshot(t)
    assert orphan_v == v + 1

    # the forward probe finds the durable commit…
    t2 = LakeTable.load(t.path)
    assert t2.current_version() == orphan_v
    assert t2.current().summary.get("orphan") is True
    # …and ingest proceeds normally afterwards (no eternal conflict)
    rest = ing.run(spark)
    assert len(rest) == 1 and rest[0]["status"] == "applied"
    assert ing.table().current_version() > orphan_v


# ------------------------------------------- admission count on filtered src
def test_rejected_rows_on_filtered_scan(spark, tmp_lake):
    """ADVICE(medium): rejected_rows must be computed over the rows the
    batch frame actually produces — an lsn-range-filtered scan of a log
    with history must not count the whole log (the old footer fast path
    did)."""
    import datetime

    from pyspark.sql import types as T

    from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
    from runyoro_llm_data_pipeline_spark.cdc.events import EVENT_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    relaxed = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in EVENT_SCHEMA.fields]
    )
    rows = []
    # lsn 0..49: old history (already applied elsewhere), all valid
    for i in range(50):
        rows.append(("insert", f"c{i%5}", i, "user", f"old {i}", None, ts, ts, i, 0))
    # lsn 50..59: the new range — 8 valid + 2 invalid
    for i in range(50, 58):
        rows.append(("insert", f"c{i%5}", i, "user", f"new {i}", None, ts, ts, i, 1))
    rows.append(("insert", None, 98, "user", "bad key", None, ts, ts, 58, 1))
    rows.append(("badop", "c1", 99, "user", "bad op", None, ts, ts, 59, 1))
    log_dir = os.path.join(tmp_lake, "log")
    spark.createDataFrame(rows, relaxed).write.parquet(log_dir)

    events = spark.read.parquet(log_dir).filter(F.col("lsn") >= 50)
    ing = CdcIngest(os.path.join(tmp_lake, "t"), "/nonexistent", num_buckets=4)
    r = apply_batch(spark, ing.table(), events, 0)
    assert r["rejected_rows"] == 2  # NOT 52: the 50 old rows are outside the scan
    assert r["applied_keys"] == 8


# ----------------------------------------------------------- LSH dim safety
def test_lsh_dim_inferred_and_checked(spark):
    from runyoro_llm_data_pipeline_spark.operators.similarity import (
        cosine_topk_lsh,
        infer_dim,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert infer_dim(emb) == 64
    # inferred dim ≡ explicit dim
    a = cosine_topk_lsh(emb, query_vec_id=0, k=5).collect()
    b = cosine_topk_lsh(emb, query_vec_id=0, k=5, dim=64).collect()
    assert a == b

    # a vector of the wrong length fails loudly instead of degrading LSH
    # to an all-match filter (ADVICE low)
    from pyspark.sql import utils as _u  # noqa: F401

    bad = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 3, F.slice(F.col("embedding"), 1, 10)).otherwise(
            F.col("embedding")
        ),
    )
    with pytest.raises(Exception, match="dim mismatch"):
        cosine_topk_lsh(bad, query_vec_id=0, k=5, dim=64).collect()


# -------------------------------------------- maintenance churn at history
def test_expire_and_orphan_cleanup_under_mor_churn(spark, tmp_lake, tmp_path_factory):
    """MOR + aggressive compaction churns files fast; expire_snapshots +
    cleanup_orphans together must bound on-disk state (manifest chain AND
    data files) without breaking reads — the 100-TB history-hygiene
    discipline."""
    d = str(tmp_path_factory.mktemp("churn"))
    events, _ = gen_change_log(spark, n_turns=400, n_convs=15, n_batches=5)
    write_batch_files(events, d)
    ing = CdcIngest(
        os.path.join(tmp_lake, "t"), d, num_buckets=4,
        compact_max_files=1,
    )
    ing.run(spark)
    t = ing.table()
    before = _all_data_files(t.path)
    state_before = sorted(
        tuple(r) for r in t.read(spark).select("conv_id", "turn_idx", "text").collect()
    )

    t.expire_snapshots(keep_last=2)
    t.cleanup_orphans(min_age_seconds=0)
    after = _all_data_files(t.path)
    assert len(after) < len(before)  # churned files actually reclaimed
    assert len(t.history()) == 2
    # every file the current snapshot references survived, reads intact
    cur_files = {f["path"] for f in t.current().files}
    assert all(os.path.exists(os.path.join(t.path, p)) for p in cur_files)
    state_after = sorted(
        tuple(r) for r in t.read(spark).select("conv_id", "turn_idx", "text").collect()
    )
    assert state_after == state_before
    # and ingest continues cleanly on the trimmed table
    events2, _ = gen_change_log(spark, n_turns=100, n_convs=15, n_batches=1)
    from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch

    r = apply_batch(spark, t, events2, batch_id=999)
    assert r["status"] == "applied"


def _all_data_files(root):
    out = []
    for dirpath, _, fns in os.walk(os.path.join(root, "data")):
        out += [os.path.join(dirpath, f) for f in fns if f.endswith(".parquet")]
    return out


# --------------------------------------------- key-clustered compaction
def test_compaction_clusters_rows_by_key(spark, tmp_lake, tmp_path_factory):
    """Every write is key-sorted: the delta files an ingest appends and
    the base file compact() writes per bucket, so parquet row-group
    min/max stats on conv_id are selective for point lookups in both. The
    ingest runs with AQE's partition coalescing off, so its rows reach the
    writer from several shuffle partitions and only the writer's own sort
    orders them."""
    import pyarrow.parquet as pq

    d = str(tmp_path_factory.mktemp("sortc"))
    events, _ = gen_change_log(spark, n_turns=2000, n_convs=40, n_batches=2)
    write_batch_files(events, d)
    ing = CdcIngest(
        os.path.join(tmp_lake, "t"), d, num_buckets=4,
        compact_max_files=None,
    )
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    try:
        ing.run(spark)
    finally:
        spark.conf.unset(coalesce)
    t = ing.table()
    deltas = t.current().files
    assert {f.get("kind") for f in deltas} == {"delta"}
    t.compact(spark)
    base = [f for f in t.current().files if f.get("kind") == "base"]
    assert base
    checked = 0
    for f in deltas + base:
        tb = pq.read_table(os.path.join(t.path, f["path"]), columns=["conv_id", "turn_idx"])
        rows = list(zip(tb.column("conv_id").to_pylist(), tb.column("turn_idx").to_pylist()))
        assert rows == sorted(rows), f["path"]
        checked += 1
    assert checked >= len(deltas) + 2
    # point lookup still correct on the clustered layout
    conv = spark.read.parquet(os.path.join(d, "batch_00000")).select("conv_id").first()[0]
    expect = t.read(spark).filter(F.col("conv_id") == conv).count()
    assert t.read_conversation(spark, conv).count() == expect
