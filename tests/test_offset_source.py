"""Kafka-shaped offset-range ingestion: incremental tailing of a
partitioned log with offsets checkpointed inside the table snapshot."""

import os

from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.generator import gen_change_log
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
from runyoro_llm_data_pipeline_spark.sources import offsets
from runyoro_llm_data_pipeline_spark.sources.offsets import (
    OFFSETS_KEY,
    ParquetOffsetLog,
)


def _with_parts(events, n_parts=3):
    """Producer-side partitioning by key hash (like a Kafka keyed topic);
    lsn is globally monotone here so it is monotone per partition too."""
    return events.withColumn(
        "log_part", F.pmod(F.xxhash64("conv_id"), F.lit(n_parts)).cast("int")
    )


def _rows(df):
    cols = ["conv_id", "turn_idx", "role", "text"]
    return sorted(map(tuple, df.select(*cols).collect()))


def test_offset_tailing_incremental(spark, tmp_lake, tmp_path_factory):
    log_dir = str(tmp_path_factory.mktemp("olog"))
    log = ParquetOffsetLog(log_dir)
    events, expected = gen_change_log(spark, n_turns=400, n_convs=15, n_batches=4)
    ev = _with_parts(events)

    # producer writes the first half; consumer catches up
    log.append(ev.filter(F.col("batch_id") < 2))
    ing = CdcIngest(os.path.join(tmp_lake, "t"), num_buckets=4)
    r1 = ing.run_log(spark, log)
    assert len(r1) == 1 and r1[0]["status"] == "applied"
    offs1 = ing.table().current().summary[OFFSETS_KEY]
    assert offs1 == r1[0]["offsets"]
    assert offs1 and all(v >= 0 for v in offs1.values())

    # caught up → no-op
    assert ing.run_log(spark, log) == []

    # producer appends the rest; consumer applies only the delta
    log.append(ev.filter(F.col("batch_id") >= 2))
    r2 = ing.run_log(spark, log)
    assert len(r2) == 1
    assert r2[0]["min_lsn"] > -1
    final = ing.table().read(spark)
    assert _rows(final) == _rows(expected)
    # committed offsets advanced to the log head
    offs2 = ing.table().current().summary[OFFSETS_KEY]
    assert offs2 == log.latest_offsets(spark)


def test_offset_checkpoint_is_atomic_with_data(spark, tmp_lake, tmp_path_factory):
    """A fresh consumer object (process restart analogue) resumes from the
    snapshot's offsets, never re-applying or skipping."""
    log_dir = str(tmp_path_factory.mktemp("olog2"))
    log = ParquetOffsetLog(log_dir)
    events, expected = gen_change_log(spark, n_turns=200, n_convs=10, n_batches=2)
    ev = _with_parts(events, n_parts=2)
    log.append(ev.filter(F.col("batch_id") == 0))
    t_path = os.path.join(tmp_lake, "t")
    CdcIngest(t_path, num_buckets=4).run_log(spark, log)

    log.append(ev.filter(F.col("batch_id") == 1))
    ing2 = CdcIngest(t_path, num_buckets=4)  # "restart"
    ing2.run_log(spark, log)
    assert _rows(ing2.table().read(spark)) == _rows(expected)
    # offsets live in the snapshot summary, versioned with the data
    snap = ing2.table().current()
    assert OFFSETS_KEY in snap.summary


def test_latest_offsets_footer_only_and_incremental(
    spark, tmp_path_factory, monkeypatch
):
    """Head discovery is O(new files): footers are read once per file and
    cached; a catch-up poll after new appends opens only the new files.
    No Spark job is involved at all."""
    log_dir = str(tmp_path_factory.mktemp("olog3"))
    log = ParquetOffsetLog(log_dir)
    events, _ = gen_change_log(spark, n_turns=200, n_convs=10, n_batches=2)
    ev = _with_parts(events, n_parts=2)
    log.append(ev.filter(F.col("batch_id") == 0))

    calls = []
    orig = offsets.footer_bounds

    def counting(path, column):
        calls.append(path)
        return orig(path, column)

    monkeypatch.setattr(offsets, "footer_bounds", counting)
    first = log.latest_offsets(spark)
    n_first = len(calls)
    assert n_first > 0 and set(first) == {"0", "1"}
    # second poll with no new data: zero footer reads, same answer
    assert log.latest_offsets(spark) == first
    assert len(calls) == n_first
    # append → only the new files' footers are opened, offsets advance
    log.append(ev.filter(F.col("batch_id") == 1))
    second = log.latest_offsets(spark)
    assert len(calls) - n_first <= 4  # 2 parts × ≤2 files per append
    assert all(second[p] >= first[p] for p in first)
    # spark-side ground truth agrees
    truth = {
        str(r["log_part"]): r["hi"]
        for r in spark.read.parquet(log_dir)
        .groupBy("log_part").agg(F.max("lsn").alias("hi")).collect()
    }
    assert second == truth
