"""Incremental consumption: read_incremental(since) returns exactly the
per-key winners written after a snapshot, tombstones included."""

import os

from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.generator import (
    gen_change_log,
    write_batch_files,
)
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
from runyoro_llm_data_pipeline_spark.lake.table import DELETED


def test_incremental_read_between_versions(spark, tmp_lake, tmp_path_factory):
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

    inc = t.read_incremental(spark, v_mid)
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
    assert t.read_incremental(spark, t.current_version()).count() == 0

    # full-history consumption covers every key ever written
    all_keys = {
        (r["conv_id"], r["turn_idx"])
        for r in events.select("conv_id", "turn_idx").distinct().collect()
    }
    inc0 = t.read_incremental(spark, 0)
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
    t.create_view(spark, "transcripts")
    n = spark.sql(
        "SELECT conv_id, count(*) AS n FROM transcripts GROUP BY conv_id"
    ).agg(F.sum("n")).collect()[0][0]
    assert n == expected.count()
    hist = t.metrics_history()
    assert len(hist) == 2
    assert all(h["sec"] > 0 and h["keys"] > 0 for h in hist)
    assert hist[-1]["watermark_lsn"] >= hist[0]["watermark_lsn"]
