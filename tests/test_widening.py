"""Type-widening schema evolution (Iceberg-parity safe promotions).

An existing column may arrive as a safely-wider type mid-stream —
int→long, float→double — and the TABLE schema widens (metadata-only:
older narrow files are read through the widened snapshot schema, which
Spark 4's Parquet readers up-convert at scan). A column arriving
*narrower* than stored is accepted and read back at the table's type.
Cross-family or narrowing
changes still fail loudly (`SchemaConflictError`).
"""

import datetime
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
from runyoro_llm_data_pipeline_spark.cdc.events import EVENT_SCHEMA
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
from runyoro_llm_data_pipeline_spark.lake.merge import (
    SchemaConflictError,
    _widen,
    evolve_schema,
)


def _batch(spark, lsn, batch_id, conv="c1", text="x"):
    ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=lsn)
    return spark.createDataFrame(
        [("insert", conv, 0, "user", text, None, ts, ts, lsn, batch_id)],
        EVENT_SCHEMA,
    )


def test_widen_lattice():
    assert _widen(T.IntegerType(), T.LongType()) == T.LongType()
    assert _widen(T.LongType(), T.IntegerType()) == T.LongType()
    assert _widen(T.FloatType(), T.DoubleType()) == T.DoubleType()
    assert _widen(T.IntegerType(), T.IntegerType()) == T.IntegerType()
    # across families / non-numeric: incompatible
    assert _widen(T.IntegerType(), T.DoubleType()) is None
    assert _widen(T.StringType(), T.LongType()) is None
    assert _widen(T.LongType(), T.FloatType()) is None


def test_int_column_widens_to_long_mid_stream(spark, tmp_lake):
    ing = CdcIngest(os.path.join(tmp_lake, "t"), "/nonexistent", num_buckets=4)
    t = ing.table()
    # batch 0 introduces `score` as INT
    b0 = _batch(spark, 1, 0, conv="c1").withColumn("score", F.lit(7).cast("int"))
    apply_batch(spark, t, b0, 0)
    assert dict(t.read(spark).dtypes)["score"] == "int"
    # batch 1 sends `score` as LONG, with a value outside int range
    big = 2**40
    b1 = _batch(spark, 2, 1, conv="c2").withColumn(
        "score", F.lit(big).cast("long")
    )
    apply_batch(spark, t, b1, 1)
    out = t.read(spark)
    assert dict(out.dtypes)["score"] == "bigint"
    rows = {r["conv_id"]: r["score"] for r in out.collect()}
    # the old narrow file's value survives the widened read; the new one fits
    assert rows == {"c1": 7, "c2": big}
    # compaction rewrites everything at the widened type and nothing changes
    t.compact(spark)
    out2 = t.read(spark)
    assert dict(out2.dtypes)["score"] == "bigint"
    assert {r["conv_id"]: r["score"] for r in out2.collect()} == rows


def test_narrow_arrival_upcast_on_write(spark, tmp_lake):
    """Table already stores LONG; a later batch sends INT — accepted and
    read back as LONG, schema unchanged."""
    ing = CdcIngest(os.path.join(tmp_lake, "t"), "/nonexistent", num_buckets=4)
    t = ing.table()
    b0 = _batch(spark, 1, 0, conv="c1").withColumn("score", F.lit(5).cast("long"))
    apply_batch(spark, t, b0, 0)
    b1 = _batch(spark, 2, 1, conv="c2").withColumn("score", F.lit(9).cast("int"))
    apply_batch(spark, t, b1, 1)
    out = t.read(spark)
    assert dict(out.dtypes)["score"] == "bigint"
    assert {r["conv_id"]: r["score"] for r in out.collect()} == {"c1": 5, "c2": 9}


def test_float_widens_to_double(spark, tmp_lake):
    ing = CdcIngest(os.path.join(tmp_lake, "t"), "/nonexistent", num_buckets=4)
    t = ing.table()
    b0 = _batch(spark, 1, 0, conv="c1").withColumn(
        "conf", F.lit(0.5).cast("float")
    )
    apply_batch(spark, t, b0, 0)
    b1 = _batch(spark, 2, 1, conv="c2").withColumn(
        "conf", F.lit(0.25).cast("double")
    )
    apply_batch(spark, t, b1, 1)
    out = t.read(spark)
    assert dict(out.dtypes)["conf"] == "double"
    assert {r["conv_id"]: r["conf"] for r in out.collect()} == {
        "c1": 0.5, "c2": 0.25,
    }


def test_cross_family_still_rejected(spark, tmp_lake):
    """int → double is NOT a safe promotion (precision loss above 2^53 —
    Iceberg forbids it too); the guard still fires."""
    ing = CdcIngest(os.path.join(tmp_lake, "t"), "/nonexistent", num_buckets=4)
    t = ing.table()
    b0 = _batch(spark, 1, 0).withColumn("score", F.lit(1).cast("long"))
    apply_batch(spark, t, b0, 0)
    bad = _batch(spark, 2, 1).withColumn("score", F.lit(1.0).cast("double"))
    with pytest.raises(SchemaConflictError, match="score"):
        apply_batch(spark, t, bad, 1)
    # and the table is still writable afterwards
    ok = apply_batch(
        spark, t,
        _batch(spark, 3, 2, conv="c9").withColumn("score", F.lit(2).cast("long")),
        2,
    )
    assert ok["status"] == "applied"


def test_evolve_schema_pure(spark):
    base = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("score", T.IntegerType()),
        ]
    )
    wide = spark.createDataFrame(
        [("a", 2**40)],
        T.StructType(
            [
                T.StructField("conv_id", T.StringType()),
                T.StructField("score", T.LongType()),
            ]
        ),
    )
    evolved = evolve_schema(base, wide)
    assert dict((f.name, f.dataType) for f in evolved.fields)[
        "score"
    ] == T.LongType()
