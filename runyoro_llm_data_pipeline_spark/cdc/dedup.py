"""The latest-wins oracle over raw change events.

The reference never reconciles versions (it only skips whole duplicate
sources, ``scripts/orchestrator.py:88-101``); the target's core semantic is
sequence-ordered collapse: for each ``(conv_id, turn_idx)`` the event with
the greatest ``(event_ts, lsn)`` wins, and exact duplicate deliveries
(same ``lsn``) are idempotent.

The engine's one production collapse is ``lake.table.collapse_stored``:
``apply_batch`` projects events onto the stored row and every table write
(``LakeTable.write_data_files``) collapses them with it, as reads and the
feed collapse stored rows.
``collapse_latest_wins_window`` is kept beside it as an independent oracle
— ``row_number() over (partition by key order by event_ts desc, lsn desc)
= 1``, the formulation DuckDB runs in the correctness gate. The
generator's ``expected`` frame is built with it. It reads the raw ``op``,
``event_ts`` and ``lsn`` columns and shares nothing with the apply
projection, so a projection bug cannot hide in ``expected``. It returns
one row per key: the payload, ``__op`` and the winning event's own
``__event_ts``/``__lsn``.

Payload columns are discovered from the frame (everything that is not a
key/order/op/batch column), so additively-evolved columns flow through
without code changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.events import KEY_COLS

_NON_PAYLOAD = {"op", "event_ts", "lsn", "batch_id"}


def payload_columns(df: DataFrame, keys=KEY_COLS) -> list[str]:
    return [
        c
        for c in df.columns
        if c not in _NON_PAYLOAD and c not in keys and not c.startswith("__")
    ]


def collapse_latest_wins_window(events: DataFrame, keys=KEY_COLS) -> DataFrame:
    payload = payload_columns(events, keys)
    w = Window.partitionBy(*keys).orderBy(
        F.col("event_ts").desc(), F.col("lsn").desc()
    )
    ranked = events.select(
        *keys,
        *payload,
        F.col("op").alias("__op"),
        F.col("event_ts").alias("__event_ts"),
        F.col("lsn").alias("__lsn"),
        F.row_number().over(w).alias("__rn"),
    )
    return ranked.filter(F.col("__rn") == 1).drop("__rn")
