"""JSON-lines CDC source: roundtrip fidelity, poison-line tolerance, and
end-to-end ingest through the JSON edge."""

import os

from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.generator import gen_change_log
from runyoro_llm_data_pipeline_spark.sources.jsonl import (
    jsonl_batch_dirs_to_parquet,
    read_events_jsonl,
    write_events_jsonl,
)


def test_jsonl_roundtrip(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("jsonl"))
    events, _ = gen_change_log(spark, n_turns=200, n_convs=10, n_batches=2)
    write_events_jsonl(events, d, n_files=4)
    back = read_events_jsonl(spark, d)
    cols = ["op", "conv_id", "turn_idx", "role", "text", "tool", "lsn", "batch_id"]
    a = events.select(*cols)
    b = back.select(*cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # timestamps survive at second precision
    ts_a = events.select(F.date_trunc("second", "event_ts").alias("t"))
    ts_b = back.select(F.date_trunc("second", "event_ts").alias("t"))
    assert ts_a.exceptAll(ts_b).count() == 0


def test_jsonl_poison_lines_dont_abort(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("poison"))
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-0.json"), "w") as fh:
        fh.write(
            '{"op":"insert","conv_id":"c1","turn_idx":0,"role":"user",'
            '"text":"ok","event_ts":"2024-01-01T00:00:00Z","lsn":1,"batch_id":0}\n'
        )
        fh.write("this is not json at all {{{\n")
        fh.write('{"op":"insert","conv_id":null}\n')  # json but invalid event
    df = read_events_jsonl(spark, d)
    assert df.count() == 3  # nothing dropped at scan
    from runyoro_llm_data_pipeline_spark.cdc.events import validate_events

    valid, rejected = validate_events(df)
    assert valid.count() == 1
    assert rejected.count() == 2
    assert read_events_jsonl(spark, d, drop_corrupt=True).count() == 2


def test_jsonl_to_ingest_end_to_end(spark, tmp_path_factory, tmp_lake):
    from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest

    jd = str(tmp_path_factory.mktemp("jl"))
    pd_ = str(tmp_path_factory.mktemp("pq"))
    events, expected = gen_change_log(spark, n_turns=300, n_convs=15, n_batches=3)
    for b in range(3):
        write_events_jsonl(
            events.filter(F.col("batch_id") == b),
            os.path.join(jd, f"batch_{b:05d}"),
            n_files=2,
        )
    jsonl_batch_dirs_to_parquet(spark, jd, pd_)
    ing = CdcIngest(os.path.join(tmp_lake, "t"), pd_, num_buckets=4)
    ing.run(spark)
    final = ing.table().read(spark)
    cols = ["conv_id", "turn_idx", "role", "text"]
    exp = expected.select(*cols)
    got = final.select(*cols)
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0
