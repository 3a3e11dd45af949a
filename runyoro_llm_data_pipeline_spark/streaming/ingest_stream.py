"""Streaming operators around the CDC engine.

The streaming *ingest* is ``cdc.ingest.CdcIngest.run_stream``: ``readStream``
over the event-log directory → ``foreachBatch`` into the same apply step as
the batch and offset-log front-ends, under ``Trigger.AvailableNow``.

This module holds the watermarked operators that work on a streaming and a
batch DataFrame alike (same code path, so batch parity is testable):
windowed turn rate, ``session_window`` sessionization — the streaming
analogue of the reference's silence-gap segmentation
(``scripts/audio_processing.py:42-47``) — and wire-duplicate suppression
ahead of the apply path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def turn_rate(
    events: DataFrame, window: str = "1 minute", watermark: str = "2 minutes"
) -> DataFrame:
    """Windowed event-rate metric with late-data watermark: works on both a
    streaming and a batch DataFrame (same code path)."""
    return (
        events.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window))
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("conv_id").alias("approx_convs"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
            "approx_convs",
        )
    )


def conversation_sessions(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming sessionization via ``session_window`` — per conversation,
    sessions split by inactivity ``gap`` (cf. operators.sessions.sessionize
    for the batch gaps-and-islands formulation)."""
    return (
        events.withWatermark("event_ts", watermark)
        .groupBy(F.session_window("event_ts", gap), F.col("conv_id"))
        .agg(F.count("*").alias("n_turns"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "conv_id",
            "n_turns",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx", "lsn"),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming duplicate suppression ahead of the apply path:
    ``dropDuplicatesWithinWatermark`` keeps one event per identity key and
    lets state for keys older than the watermark expire — bounded state on
    an unbounded stream, unlike plain ``dropDuplicates`` whose key store
    grows forever. The engine's applied-offset gate already makes replays
    structurally harmless *per batch*; this removes intra-stream wire
    duplicates (at-least-once sources re-emitting events) *before* they
    cost a collapse + write.

    Works on a batch DataFrame too (Spark only defines
    ``dropDuplicatesWithinWatermark`` for streams, so the batch path is
    plain ``dropDuplicates`` over the whole frame — the equivalent
    semantics when the "stream" is finite) — batch parity testable."""
    if not events.isStreaming:
        return events.dropDuplicates(list(keys))
    return events.withWatermark("event_ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )
