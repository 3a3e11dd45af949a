"""Incremental consumption: a feed whose checkpoint is a snapshot version
delivers exactly the per-key winners written after it, tombstones
included."""

import os

from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.generator import (
    gen_change_log,
    write_batch_files,
)
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
from runyoro_llm_data_pipeline_spark.lake.table import DELETED


def test_incremental_read_between_versions(
    spark, tmp_lake, tmp_path_factory, poll_since
):
    d = str(tmp_path_factory.mktemp("inc"))
    events, _ = gen_change_log(spark, n_turns=400, n_convs=15, n_batches=4)
    write_batch_files(events, d)
    ing = CdcIngest(
        os.path.join(tmp_lake, "t"), d, num_buckets=4,
        compact_max_files=None,
    )
    first = ing.run(spark, max_batches=2)
    t = ing.table()
    v_mid = t.current_version()
    rest = ing.run(spark)
    assert len(rest) == 2

    inc, tok = poll_since(spark, t.path, v_mid)
    assert not tok.was_resync and tok.version == t.current_version()
    # every key in the incremental set comes from the late batches
    late_keys = {
        (r["conv_id"], r["turn_idx"])
        for r in events.filter(F.col("batch_id") >= 2)
        .select("conv_id", "turn_idx").distinct().collect()
    }
    got_keys = {
        (r["conv_id"], r["turn_idx"])
        for r in inc.select("conv_id", "turn_idx").collect()
    }
    assert got_keys == late_keys
    # one row per key, and delete winners surface as tombstones
    assert inc.count() == len(got_keys)
    assert DELETED in inc.columns

    # consuming from the latest version yields nothing
    assert poll_since(spark, t.path, t.current_version()) is None

    # full-history consumption covers every key ever written
    all_keys = {
        (r["conv_id"], r["turn_idx"])
        for r in events.select("conv_id", "turn_idx").distinct().collect()
    }
    inc0, tok0 = poll_since(spark, t.path, 0)
    assert not tok0.was_resync
    keys0 = {
        (r["conv_id"], r["turn_idx"])
        for r in inc0.select("conv_id", "turn_idx").collect()
    }
    assert keys0 == all_keys
    # and its non-tombstone winners equal the public table state
    pub = t.read(spark).select("conv_id", "turn_idx", "text")
    live = inc0.filter(~F.coalesce(F.col(DELETED), F.lit(False))).select(
        "conv_id", "turn_idx", "text"
    )
    assert pub.exceptAll(live).count() == 0 and live.exceptAll(pub).count() == 0


def test_sql_view_and_metrics_history(spark, tmp_lake, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("view"))
    events, expected = gen_change_log(spark, n_turns=200, n_convs=10, n_batches=2)
    write_batch_files(events, d)
    ing = CdcIngest(os.path.join(tmp_lake, "t"), d, num_buckets=4)
    ing.run(spark)
    t = ing.table()
    t.read(spark).createOrReplaceTempView("transcripts")
    n = spark.sql(
        "SELECT conv_id, count(*) AS n FROM transcripts GROUP BY conv_id"
    ).agg(F.sum("n")).collect()[0][0]
    assert n == expected.count()
    hist = t.metrics_history()
    assert len(hist) == 2
    assert all(h["sec"] > 0 and h["keys"] > 0 for h in hist)
    assert hist[-1]["watermark_lsn"] >= hist[0]["watermark_lsn"]


def test_metrics_history_lists_batches_after_ledger_truncation(
    spark, tmp_lake, tmp_path_factory
):
    """Every batch-applying commit is listed, also after the ledger has
    folded into its floor; maintenance commits inheriting
    ``last_batch_id`` are not."""
    d = str(tmp_path_factory.mktemp("hist"))
    events, _ = gen_change_log(spark, n_turns=200, n_convs=10, n_batches=5)
    write_batch_files(events, d)
    ing = CdcIngest(os.path.join(tmp_lake, "t"), d, num_buckets=4)
    ing.run(spark, max_batches=3)
    ing.run(spark)
    t = ing.table()
    assert t.current().applied == {} and t.current().applied_floor == 4
    hist = t.metrics_history()
    assert [h["batch_id"] for h in hist] == [0, 1, 2, 3, 4]
    assert all(
        t.snapshot(h["version"]).commit_type == "data" for h in hist
    )
