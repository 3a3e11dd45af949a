"""End-to-end CDC engine tests (SURVEY.md §5 target plan items 2-6) on
the default ingest: merge-on-read delta appends with inline
auto-compaction.

The oracle path (window collapse + CPython-exact normalization) is
independent of the engine path (max_by collapse + JVM regex + delta
append + compaction + snapshot commits); agreement pins both.
"""

import os

import pytest
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.generator import (
    gen_change_log,
    write_batch_files,
)
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest


def _sorted_rows(df):
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    return [
        tuple(r)
        for r in df.select(*cols).orderBy("conv_id", "turn_idx").collect()
    ]


def _expected_rows(expected):
    return _sorted_rows(expected)


@pytest.fixture(scope="module")
def log(spark, tmp_path_factory):
    """A 1k-turn change log in 6 batches with tool appearing at batch 2."""
    d = str(tmp_path_factory.mktemp("cdclog"))
    events, expected = gen_change_log(
        spark, n_turns=1000, n_convs=40, n_batches=6, tool_from_batch=2
    )
    write_batch_files(events, d, tool_from_batch=2)
    exp = _expected_rows(expected)
    return d, exp


def test_full_replay_matches_expected(spark, log, tmp_lake):
    batch_dir, expected = log
    ing = CdcIngest(os.path.join(tmp_lake, "t"), batch_dir, num_buckets=8)
    results = ing.run(spark)
    assert all(r["status"] == "applied" for r in results)
    final = ing.table().read(spark)
    assert _sorted_rows(final) == expected


def test_idempotent_reapply(spark, log, tmp_lake):
    batch_dir, expected = log
    ing = CdcIngest(os.path.join(tmp_lake, "t"), batch_dir, num_buckets=8)
    ing.run(spark)
    v1 = ing.table().current_version()
    # second run: everything already applied → no new snapshots
    results = ing.run(spark)
    assert results == []
    assert ing.table().current_version() == v1
    # force re-apply of batch 0 through apply_batch → skipped
    from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch

    ev = spark.read.parquet(os.path.join(batch_dir, "batch_00000"))
    r = apply_batch(spark, ing.table(), ev, 0)
    assert r["status"] == "skipped"
    assert _sorted_rows(ing.table().read(spark)) == expected


def test_resume_mid_stream(spark, log, tmp_lake):
    """Kill after k batches, resume → identical final state."""
    batch_dir, expected = log
    ing = CdcIngest(os.path.join(tmp_lake, "t"), batch_dir, num_buckets=8)
    first = ing.run(spark, max_batches=2)
    assert len(first) == 2
    # 'crash' — new ingest object (fresh process analogue) resumes
    ing2 = CdcIngest(os.path.join(tmp_lake, "t"), batch_dir, num_buckets=8)
    rest = ing2.run(spark)
    assert len(rest) == 4
    assert _sorted_rows(ing2.table().read(spark)) == expected


def test_arrival_permutation_same_final_state(spark, tmp_lake, tmp_path_factory):
    """FIXTURES.md §2 (g): same logical log, permuted batch assignment →
    same final state (tombstones make application commutative)."""
    d = str(tmp_path_factory.mktemp("perm"))
    events, expected = gen_change_log(
        spark, n_turns=400, n_convs=20, n_batches=5, permute_batches=True
    )
    write_batch_files(events, d)
    ing = CdcIngest(os.path.join(tmp_lake, "t"), d, num_buckets=8)
    ing.run(spark)
    assert _sorted_rows(ing.table().read(spark)) == _expected_rows(expected)


def test_schema_evolution_tool_column(spark, log, tmp_lake):
    """Batches 0-1 lack the tool column on the wire; final table must carry
    it, null for rows whose winning event predates it."""
    batch_dir, expected = log
    ing = CdcIngest(os.path.join(tmp_lake, "t"), batch_dir, num_buckets=8)
    ing.run(spark, max_batches=2)
    t = ing.table()
    cols_early = [f.name for f in t.current().schema().fields]
    assert "tool" in cols_early  # conform_events adds typed nulls
    ing.run(spark)
    final = t.read(spark)
    assert final.filter(F.col("tool").isNotNull()).count() > 0


def test_additive_new_column_mid_stream(spark, tmp_lake, tmp_path_factory):
    """A column the engine has never heard of (meta) appears mid-stream →
    schema evolves additively; old rows read back null."""
    from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
    from runyoro_llm_data_pipeline_spark.cdc.generator import gen_change_log

    events, _ = gen_change_log(spark, n_turns=100, n_convs=10, n_batches=2)
    b0 = events.filter(F.col("batch_id") == 0)
    b1 = events.filter(F.col("batch_id") == 1).withColumn(
        "meta", F.concat(F.lit("m_"), F.col("lsn").cast("string"))
    )
    ing = CdcIngest(os.path.join(tmp_lake, "t"), "/nonexistent", num_buckets=4)
    t = ing.table()
    apply_batch(spark, t, b0, 0)
    assert "meta" not in [f.name for f in t.current().schema().fields]
    apply_batch(spark, t, b1, 1)
    final = t.read(spark)
    assert "meta" in final.columns
    assert final.filter(F.col("meta").isNotNull()).count() > 0
    assert final.filter(F.col("meta").isNull()).count() > 0


def test_time_travel_and_lineage(spark, log, tmp_lake):
    batch_dir, _ = log
    ing = CdcIngest(os.path.join(tmp_lake, "t"), batch_dir, num_buckets=8)
    results = ing.run(spark)
    t = ing.table()
    # time travel: row count is monotone-ish across versions and v0 is empty
    assert t.read(spark, version=0).count() == 0
    v_mid = results[1]["version"]
    assert t.read(spark, version=v_mid).count() <= t.read(spark).count()
    # lineage: per (batch, bucket) rows; counts add up to applied keys
    lin = t.read_lineage(spark)
    per_batch = {
        r["batch_id"]: r["n"]
        for r in lin.groupBy("batch_id").agg(F.sum("row_count").alias("n")).collect()
    }
    for r in results:
        assert per_batch[r["batch_id"]] == r["applied_keys"]
        assert r["min_lsn"] >= 0 and r["max_lsn"] >= r["min_lsn"]


def test_rejected_rows_counted(spark, tmp_lake):
    from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
    from runyoro_llm_data_pipeline_spark.cdc.events import EVENT_SCHEMA

    rows = [
        ("insert", "c1", 0, "user", "hello world", None, None, None, 1, 0),
        ("insert", None, 1, "user", "bad key", None, None, None, 2, 0),
        ("badop", "c1", 2, "user", "bad op", None, None, None, 3, 0),
    ]
    import datetime

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        (r[0], r[1], r[2], r[3], r[4], r[5], ts, ts, r[8], r[9]) for r in rows
    ]
    from pyspark.sql import types as T

    relaxed = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in EVENT_SCHEMA.fields]
    )
    df = spark.createDataFrame(rows, relaxed)
    ing = CdcIngest(os.path.join(tmp_lake, "t"), "/nonexistent", num_buckets=4)
    r = apply_batch(spark, ing.table(), df, 0)
    assert r["rejected_rows"] == 2
    assert ing.table().read(spark).count() == 1


def test_snapshot_expiry(spark, log, tmp_lake):
    batch_dir, expected = log
    ing = CdcIngest(os.path.join(tmp_lake, "t"), batch_dir, num_buckets=8)
    ing.run(spark)
    t = ing.table()
    n_before = len(t.history())
    removed = t.expire_snapshots(keep_last=2)
    assert removed > 0
    assert len(t.history()) == 2
    assert _sorted_rows(t.read(spark)) == expected


def test_extreme_skew_hot_conversation(spark, tmp_lake, tmp_path_factory):
    """90% of all turns in ONE conversation: the map-side-combined collapse
    and salted bucket writes must keep correctness (and not OOM a task).
    Perf evidence for the skew story is in BENCH.md/PLANS.md; this pins
    correctness under pathological skew."""
    d = str(tmp_path_factory.mktemp("skew"))
    events, expected = gen_change_log(
        spark, n_turns=2000, n_convs=10, n_batches=3, hot_share_pct=90
    )
    write_batch_files(events, d)
    ing = CdcIngest(os.path.join(tmp_lake, "t"), d, num_buckets=8)
    ing.run(spark)
    final = ing.table().read(spark)
    assert _sorted_rows(final) == _expected_rows(expected)
    hot = final.filter(F.col("conv_id") == "conv_hot").count()
    assert hot > 0.8 * final.count()


FRONT_ENDS = ("run", "run_stream", "run_log")
TRUNCATE_KEEP = 2


@pytest.fixture(scope="module")
def front_ends(spark, log, tmp_path_factory):
    """The fixture log (tool arrives at batch 2) ingested once through each
    of CdcIngest's three front-ends, each into its own table, with the
    session conf recorded around each run."""
    from runyoro_llm_data_pipeline_spark.cdc.events import EVENT_SCHEMA
    from runyoro_llm_data_pipeline_spark.sources.offsets import ParquetOffsetLog

    batch_dir, _ = log
    work = str(tmp_path_factory.mktemp("front_ends"))
    olog = ParquetOffsetLog(os.path.join(work, "olog"))
    olog.append(
        spark.read.schema(EVENT_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(batch_dir)
        .withColumn("log_part", F.pmod(F.xxhash64("conv_id"), F.lit(3)).cast("int"))
    )
    out = {}
    for how in FRONT_ENDS:
        ing = CdcIngest(
            os.path.join(work, how), batch_dir, num_buckets=8,
            truncate_keep=TRUNCATE_KEEP,
        )
        spark.conf.unset("spark.sql.files.openCostInBytes")
        before = spark.conf.getAll
        if how == "run":
            results = ing.run(spark)
        elif how == "run_stream":
            results = ing.run_stream(
                spark, os.path.join(work, "cp"), max_files_per_trigger=16
            )
        else:
            results = ing.run_log(spark, olog)
        out[how] = (ing, results, before, spark.conf.getAll)
    return out


@pytest.mark.parametrize("how", FRONT_ENDS)
def test_run_leaves_session_conf_unchanged(front_ends, how):
    """Per-batch split sizing is scoped to the ingest: after every
    front-end's run each session setting is back to what it was,
    including keys that were unset before."""
    _ing, results, before, after = front_ends[how]
    assert results
    assert after == before


@pytest.mark.parametrize("how", FRONT_ENDS)
def test_front_ends_agree(spark, log, front_ends, how):
    """Batch directories, the streaming query and the offset log give the
    same public table; run and run_stream keep the ledger within
    truncate_keep (run_log's hashed batch ids never fold into the floor)."""
    _, expected = log
    ing, results, _, _ = front_ends[how]
    assert all(r["status"] == "applied" for r in results)
    public = ing.table().read(spark)
    assert _sorted_rows(public) == expected
    reference = front_ends["run"][0].table().read(spark)
    cols = sorted(reference.columns)
    assert sorted(public.columns) == cols
    order = ["conv_id", "turn_idx"]
    assert (
        public.select(*cols).orderBy(*order).collect()
        == reference.select(*cols).orderBy(*order).collect()
    )
    if how != "run_log":
        assert len(results) > TRUNCATE_KEEP
        assert len(ing.table().current().applied) <= TRUNCATE_KEEP
