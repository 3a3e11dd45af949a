"""Latest-wins CDC collapse per key — the engine's W3 operator.

The reference never reconciles versions (it only skips whole duplicate
sources, ``scripts/orchestrator.py:88-101``); the target's core semantic is
sequence-ordered collapse: for each ``(conv_id, turn_idx)`` the event with
the greatest ``(event_ts, lsn)`` wins, and exact duplicate deliveries
(same ``lsn``) are idempotent.

``collapse_latest_wins`` is the engine's collapse —
``groupBy(key).agg(max_by(winner, (event_ts, lsn)))``. Hash aggregation gets
**map-side partial aggregation** for free, so a hot key with a million
duplicate deliveries is collapsed inside each input partition before the
shuffle — the shuffle carries at most ``num_partitions`` rows per key
regardless of skew. It is the collapse ``apply_batch`` runs and the one the
benchmark measures.

Two other formulations are kept, each for one consumer:

* ``collapse_latest_wins_window`` — ``row_number() over (partition by key
  order by order desc) = 1``. Semantically identical; shuffles every event
  and sorts per key. It is the independent oracle the generator's
  ``expected`` frame is built with (and the formulation DuckDB runs in the
  correctness gate).
* ``collapse_latest_wins_salted`` — explicit two-phase salted variant:
  pre-aggregate on ``(key, salt)`` then re-aggregate on ``key``. With
  max_by the unsalted form already partial-aggregates; the salted form
  documents the general skew recipe (SURVEY.md §4.1) and backs the gate
  query ``cdc_latest_wins_salted``.

Payload columns are discovered from the frame (everything that is not a
key/order/op/batch column), so additively-evolved columns flow through
without code changes. All variants return one row per key: the payload,
``__op`` ('delete' survives so the table can store a tombstone) and the
winning event's own ``__event_ts``/``__lsn`` — the version the table stores
and later batches are ordered against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.events import KEY_COLS

_NON_PAYLOAD = {"op", "event_ts", "lsn", "batch_id"}
def _ord():
    return F.struct(F.col("event_ts"), F.col("lsn"))


def payload_columns(df: DataFrame, keys=KEY_COLS) -> list[str]:
    return [
        c
        for c in df.columns
        if c not in _NON_PAYLOAD and c not in keys and not c.startswith("__")
    ]


def _winner_struct(payload: list[str]):
    """The whole winning event: payload, op and its own version."""
    return F.struct(
        *[F.col(c) for c in payload],
        F.col("op").alias("__op"),
        F.col("event_ts").alias("__event_ts"),
        F.col("lsn").alias("__lsn"),
    )


def collapse_latest_wins(events: DataFrame, keys=KEY_COLS) -> DataFrame:
    payload = payload_columns(events, keys)
    agg = events.groupBy(*keys).agg(
        F.max_by(_winner_struct(payload), _ord()).alias("__w")
    )
    return agg.select(*keys, "__w.*")


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


def collapse_latest_wins_salted(
    events: DataFrame, keys=KEY_COLS, n_salt: int = 32
) -> DataFrame:
    """Two-phase skew-tamed collapse: salt only the *pre-dedup shuffle*,
    never the key identity (SURVEY.md §7 hard part (c))."""
    payload = payload_columns(events, keys)
    salted = events.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col("lsn")), F.lit(n_salt)).cast("int")
    )
    phase1 = salted.groupBy(*keys, "__salt").agg(
        F.max_by(_winner_struct(payload), _ord()).alias("__w1")
    )
    phase2 = phase1.groupBy(*keys).agg(
        F.max_by(
            F.col("__w1"), F.struct(F.col("__w1.__event_ts"), F.col("__w1.__lsn"))
        ).alias("__w")
    )
    return phase2.select(*keys, "__w.*")
