"""IncrementalFeed — checkpointed downstream consumption of a lake table.

The ingest side of this engine is CDC-*in*: tail a change log, apply it
exactly-once (``cdc/ingest.py``). This module is the matching CDC-*out*:
a downstream consumer (search indexer, training-data exporter, replica
materializer) subscribes to the table's committed changes and processes
them resumably. The reference's consumers re-read the whole processed
directory every run (``scripts/train_llm.py:173-204`` globs every
transcript file each training launch); at 10^10 events a full re-read per
consumer cycle is the difference between minutes and days, so the feed
delivers only what new data commits added.

Contract (Kafka-consumer-shaped, at-least-once):

* ``poll(spark)`` → ``(DataFrame, token)``: every row committed by data
  commits after the checkpoint, latest-wins collapsed, tombstones
  included (``__deleted`` column) so deletes propagate. The frame is the
  *upsert delta*: apply it keyed on ``key_cols`` and a replica converges
  to the table's public state.
* ``commit(token)``: atomically advance the checkpoint — call AFTER the
  batch is durably processed. Crash between poll and commit → the next
  poll redelivers the same window (plus anything newer). Redelivery is
  safe for any idempotent/upsert sink because rows are per-key winners,
  the same convergence argument as the ingest side's replay safety.
* If retained history no longer reaches the checkpoint
  (``expire_snapshots`` ran past it — the consumer lagged beyond the
  retention window), ``poll`` transparently degrades to a **full-read
  resync**: the table's current public state plus a synthetic all-false
  ``__deleted`` column (a full state is self-contained; prior deletes are
  simply absent from it). ``was_resync`` on the token tells the sink to
  truncate-and-load instead of merge.

The checkpoint is a tiny JSON file published whole by the table's own
file writer (``_atomic_write``: temp, fsync, rename), and it lives
*outside* the table directory because consumer progress belongs to the
consumer (many feeds, one table).

Scale: ``poll`` costs O(new files) manifest walking driver-side and one
pruned Parquet scan executor-side; nothing grows with table size or with
the number of consumers.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.lake.table import (
    DELETED,
    INTERNAL_COLS,
    IncrementalHistoryError,
    LakeTable,
    _atomic_write,
)


@dataclass(frozen=True)
class FeedToken:
    """Opaque progress marker returned by ``poll``; pass to ``commit``."""

    version: int
    was_resync: bool = False


class IncrementalFeed:
    def __init__(self, table_path: str, checkpoint_path: str):
        self.table_path = table_path
        self.checkpoint_path = checkpoint_path

    # ------------------------------------------------------------ checkpoint
    def position(self) -> int:
        """Last committed table version, or -1 if this consumer has never
        committed (first poll then delivers everything, as a resync)."""
        try:
            with open(self.checkpoint_path) as fh:
                return int(json.load(fh)["version"])
        except (OSError, ValueError, KeyError):
            return -1

    def commit(self, token: FeedToken) -> None:
        os.makedirs(os.path.dirname(self.checkpoint_path) or ".", exist_ok=True)
        _atomic_write(
            self.checkpoint_path, json.dumps({"version": token.version})
        )

    # ------------------------------------------------------------------ poll
    def poll(self, spark: SparkSession) -> tuple[DataFrame, FeedToken] | None:
        """One consumption cycle. ``None`` = caught up (no data committed
        since the checkpoint — maintenance commits alone don't wake the
        consumer, their content is a rewrite of what it already saw).
        The window is planned from one snapshot, which is also the token's
        version, and judged empty from the manifest's harvested row
        counts, so a poll with nothing new starts no Spark job."""
        table = LakeTable.load(self.table_path)
        pos = self.position()
        if pos < 0:
            return self._resync(spark, table)
        try:
            snap, files = table._window(pos)
        except IncrementalHistoryError:
            return self._resync(spark, table)
        if snap.version <= pos:
            return None
        token = FeedToken(version=snap.version)
        if not any(f["rows"] for f in files):
            # only maintenance commits in the window: fast-forward the
            # checkpoint so the next incremental walk starts at the tip
            # instead of re-diffing the same maintenance chain forever
            self.commit(token)
            return None
        # one delivery schema for both modes: public columns +
        # normalized tombstone flag (engine version columns are the
        # table's internals, not the consumer's)
        df = table._scan(spark, snap, files).withColumn(
            DELETED, F.coalesce(F.col(DELETED), F.lit(False))
        ).drop(*[c for c in INTERNAL_COLS if c != DELETED])
        return df, token

    def _resync(
        self, spark: SparkSession, table: LakeTable
    ) -> tuple[DataFrame, FeedToken]:
        version = table.current().version
        full = table.read(spark, version=version).withColumn(
            DELETED, F.lit(False)
        )
        return full, FeedToken(version=version, was_resync=True)
