"""Lineage read from the snapshot chain: per-file stats live on the
manifest entries, so lineage is exact, survives compaction, is retained
exactly as long as the snapshots that hold it, and leaves no side store
on disk."""

import os

from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.dedup import collapse_latest_wins_window
from runyoro_llm_data_pipeline_spark.cdc.events import validity_condition
from runyoro_llm_data_pipeline_spark.cdc.generator import (
    gen_change_log,
    write_batch_files,
)
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
from runyoro_llm_data_pipeline_spark.lake.table import bucket_expr

NUM_BUCKETS = 4


def _lineage(t, spark) -> dict[tuple[int, int], tuple[int, int, int, int]]:
    return {
        (r["batch_id"], r["bucket"]): (
            r["row_count"], r["min_lsn"], r["max_lsn"], r["snapshot_version"]
        )
        for r in t.read_lineage(spark).collect()
    }


def test_lineage_matches_independent_per_bucket_count(
    spark, tmp_lake, tmp_path_factory
):
    """Every (batch, bucket) lineage row equals an independent count: the
    batch's valid events collapsed by the window oracle, grouped by the
    engine's bucket expression. ``compact_max_files=1`` folds deltas away
    after the batches that wrote them, so the rows must come from each
    data commit's own manifest, not from the current file list."""
    d = str(tmp_path_factory.mktemp("lin"))
    events, _ = gen_change_log(spark, n_turns=400, n_convs=20, n_batches=4)
    write_batch_files(events, d)
    ing = CdcIngest(
        os.path.join(tmp_lake, "t"), d, num_buckets=NUM_BUCKETS,
        compact_max_files=1,
    )
    results = ing.run(spark)
    t = ing.table()
    assert any(s.commit_type == "maintenance" for s in t.history())
    live_versions = {f["added_v"] for f in t.current().files}
    assert any(r["version"] not in live_versions for r in results)

    version_of = {r["batch_id"]: r["version"] for r in results}
    valid = events.filter(validity_condition())
    truth = {}
    for batch in version_of:
        winners = collapse_latest_wins_window(valid.filter(F.col("batch_id") == batch))
        for r in (
            winners.groupBy(bucket_expr("conv_id", NUM_BUCKETS).alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("__lsn").alias("lo"),
                F.max("__lsn").alias("hi"),
            )
            .collect()
        ):
            truth[(batch, r["bucket"])] = (r["n"], r["lo"], r["hi"])
    lineage = _lineage(t, spark)
    assert set(lineage) == set(truth)
    for (batch, bucket), (n, lo, hi, v) in lineage.items():
        assert (n, lo, hi) == truth[(batch, bucket)], (batch, bucket)
        assert v == version_of[batch]
    for r in results:
        assert r["applied_keys"] == sum(
            n for (b, _), (n, *_rest) in lineage.items() if b == r["batch_id"]
        )


def _parquet_files(root: str) -> set[str]:
    return {
        os.path.relpath(os.path.join(dirpath, fn), root)
        for dirpath, _, fns in os.walk(root)
        for fn in fns
        if fn.endswith(".parquet")
    }


def test_footprint_bounded_and_lineage_follows_retention(
    spark, tmp_lake, tmp_path_factory
):
    """Twelve batches, each followed by compaction, snapshot expiry and
    orphan cleanup: the files on disk are exactly the
    live data files, so their count stops growing; after expiry,
    ``read_lineage`` lists exactly the batches whose data commits are
    still in ``history()``."""
    d = str(tmp_path_factory.mktemp("fp"))
    events, _ = gen_change_log(spark, n_turns=300, n_convs=12, n_batches=14)
    write_batch_files(events, d)
    ing = CdcIngest(
        os.path.join(tmp_lake, "t"), d, num_buckets=NUM_BUCKETS,
        compact_max_files=1,
    )
    counts = []
    for _ in range(12):
        ing.run(spark, max_batches=1)
        t = ing.table()
        t.expire_snapshots(keep_last=1)
        t.cleanup_orphans(min_age_seconds=0)
        on_disk = _parquet_files(t.path)
        counts.append(len(on_disk))
        if len(counts) >= 6:
            assert on_disk == {f["path"] for f in t.current().files}
    assert not os.path.exists(os.path.join(t.path, "lineage"))
    # one base file plus at most one delta per bucket, batch after batch
    assert max(counts[5:]) <= 2 * NUM_BUCKETS, counts

    # the last two batches land with no expiry in between; then expire
    # down to the chain that starts at the final batch's data commit
    ing.run(spark)
    t = ing.table()
    v13 = next(h["version"] for h in t.metrics_history() if h["batch_id"] == 13)
    keep = t.current_version() - v13 + 1
    t.expire_snapshots(keep_last=keep)
    in_history = {
        s.summary["last_batch_id"]
        for s in t.history()
        if s.commit_type == "data" and "last_batch_id" in s.summary
    }
    assert in_history == {13}
    assert {b for b, _ in _lineage(t, spark)} == in_history


def test_each_written_file_footer_opened_once(spark, tmp_lake, monkeypatch):
    """One harvest per write: the delta append and the compaction rewrite
    each open every file they wrote exactly once, and the entries they
    return carry that footer's row count."""
    from collections import Counter

    from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
    from runyoro_llm_data_pipeline_spark.lake import table as table_mod

    opened: Counter = Counter()
    orig = table_mod.footer_bounds

    def counting(path, columns):
        opened[os.path.relpath(path, t.path)] += 1
        return orig(path, columns)

    monkeypatch.setattr(table_mod, "footer_bounds", counting)
    events, _ = gen_change_log(spark, n_turns=200, n_convs=10, n_batches=1)
    t = CdcIngest(os.path.join(tmp_lake, "t"), num_buckets=NUM_BUCKETS).table()
    apply_batch(spark, t, events, 0)
    t.compact(spark)
    written = [f for s in t.history() for f in s.files if f["added_v"] == s.version]
    assert {f["kind"] for f in written} == {"delta", "base"}
    assert opened == Counter(f["path"] for f in written)
    assert sum(f["rows"] for f in written if f["kind"] == "base") == t.read(
        spark, include_internal=True
    ).count()
