"""Schema helpers for the lake table: the stored-row schema and its
evolution.

Stored rows carry the public transcript columns plus the internal CDC
version columns (``_cdc_event_ts``, ``_cdc_lsn``) and the tombstone flag
(``_cdc_deleted``). ``evolve_schema`` grows a table's schema as batches
arrive: additive new columns (cf. the reference ledger's mixed entry
shapes, ``scripts/orchestrator.py:184``) and Iceberg's safe numeric
widenings; anything else raises ``SchemaConflictError``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from runyoro_llm_data_pipeline_spark.lake.table import (
    DELETED,
    INTERNAL_COLS,
    VERSION_LSN,
    VERSION_TS,
)


def internal_fields() -> list[T.StructField]:
    return [
        T.StructField(VERSION_TS, T.TimestampType(), True),
        T.StructField(VERSION_LSN, T.LongType(), True),
        T.StructField(DELETED, T.BooleanType(), True),
    ]


def with_internal_schema(public: T.StructType) -> T.StructType:
    names = {f.name for f in public.fields}
    return T.StructType(
        list(public.fields) + [f for f in internal_fields() if f.name not in names]
    )


class SchemaConflictError(TypeError):
    """An existing column arrived with an incompatible type. The contract
    is additive evolution (add nullable columns) plus Iceberg's safe type
    promotions (int→long, float→double); anything else — narrowing,
    string↔numeric, drop/rename — needs an explicit migration."""


# Iceberg-parity safe promotions: widening inside one numeric family only.
# Rank order = promotion order; a column may move up a ladder, never down
# and never across ladders.
_INT_LADDER = (T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType())
_FLOAT_LADDER = (T.FloatType(), T.DoubleType())


def _widen(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """The wider of two types if they sit on the same promotion ladder,
    else None (= incompatible)."""
    for ladder in (_INT_LADDER, _FLOAT_LADDER):
        if a in ladder and b in ladder:
            return ladder[max(ladder.index(a), ladder.index(b))]
    return None


def evolve_schema(table_schema: T.StructType, changes: DataFrame) -> T.StructType:
    """Additive + widening evolution: any non-internal change column missing
    from the table schema is appended (nullable); an existing column that
    arrives as a safely-wider type (int→long, float→double) widens the
    TABLE schema — older files are read through the widened schema
    (Spark 4's Parquet readers up-convert INT32→bigint / FLOAT→double at
    scan, so the migration is metadata-only, as in Iceberg). A column
    arriving *narrower* than the table stores is accepted: its delta file
    keeps the narrow type and is up-converted at scan like any older file
    (compaction rewrites it at the table type). Internal version columns
    stay last. Drop/rename is out of scope, and any other type conflict
    fails loudly instead of corrupting reads."""
    existing = {f.name: f.dataType for f in table_schema.fields}
    data_fields = [f for f in table_schema.fields if f.name not in INTERNAL_COLS]
    for f in changes.schema.fields:
        if f.name.startswith("__") or f.name in INTERNAL_COLS:
            continue
        if f.name in existing:
            if f.dataType != existing[f.name] and not isinstance(
                f.dataType, T.NullType
            ):
                wider = _widen(existing[f.name], f.dataType)
                if wider is None:
                    raise SchemaConflictError(
                        f"column '{f.name}' arrived as "
                        f"{f.dataType.simpleString()} but the table stores "
                        f"{existing[f.name].simpleString()}"
                    )
                data_fields = [
                    T.StructField(df.name, wider, True) if df.name == f.name else df
                    for df in data_fields
                ]
            continue
        data_fields.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(data_fields + internal_fields())
