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
  included so deletes propagate. The frame holds the table's public
  columns plus the ``_cdc_deleted`` flag; the other internal version
  columns stay in the table. It is the *upsert delta*: apply it keyed on
  ``key_cols`` and a replica converges to the table's public state.
* ``commit(token)``: atomically advance the checkpoint — call AFTER the
  batch is durably processed. Crash between poll and commit → the next
  poll redelivers the same window (plus anything newer). Redelivery is
  safe for any idempotent/upsert sink because rows are per-key winners,
  the same convergence argument as the ingest side's replay safety.
* A consumer that should start at table version ``v`` commits
  ``FeedToken(v)`` and polls; ``metrics_history()`` maps a batch id to the
  version that applied it.
* When the window cannot be delivered as an upsert delta, ``poll``
  degrades to a **full-read resync**: the table's current public state
  plus a synthetic all-false ``_cdc_deleted`` column (a full state is
  self-contained; prior deletes are simply absent from it).
  ``was_resync`` on the token tells the sink to truncate-and-load
  instead of merge. That is the first poll, and every window ``_plan``
  cannot plan: the consumer lagged past ``expire_snapshots``' retention
  (its checkpoint + 1 is below the low-water mark, so a commit of the
  window is gone), a rollback is in the window (rows the consumer holds
  would have to be unwound), or a file the window needs was removed.

The window is planned from manifests alone. Each data commit contributes
the entries stamped with its own version (``added_v``; Iceberg stamps
every manifest entry with the snapshot that added it), so a delta that a
later compaction folded away is still read, and maintenance commits,
rewrites of what the consumer already saw, contribute nothing.

The checkpoint is a tiny JSON file published whole by the table's own
file writer (``_atomic_write``: temp, fsync, rename), and it lives
*outside* the table directory because consumer progress belongs to the
consumer (many feeds, one table).

Scale: ``poll`` reads the manifests from the checkpoint + 1 to the tip
driver-side and runs one Parquet scan of the window's files
executor-side; nothing grows with table size or with the number of
consumers.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.lake.table import (
    DELETED,
    INTERNAL_COLS,
    LakeTable,
    Snapshot,
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
        table = LakeTable(self.table_path)
        pos = self.position()
        tip, files = _plan(table, pos)
        if files is None:
            return self._resync(spark, table, tip)
        if tip.version <= pos:
            return None
        token = FeedToken(version=tip.version)
        if not any(f["rows"] for f in files):
            # only maintenance commits in the window: fast-forward the
            # checkpoint so the next poll plans from the tip instead of
            # re-reading the same maintenance chain forever
            self.commit(token)
            return None
        # one delivery schema for both modes: public columns +
        # normalized tombstone flag (engine version columns are the
        # table's internals, not the consumer's)
        df = table._scan(spark, tip, files).withColumn(
            DELETED, F.coalesce(F.col(DELETED), F.lit(False))
        ).drop(*[c for c in INTERNAL_COLS if c != DELETED])
        return df, token

    def _resync(
        self, spark: SparkSession, table: LakeTable, tip: Snapshot
    ) -> tuple[DataFrame, FeedToken]:
        full = table.read(spark, version=tip.version).withColumn(
            DELETED, F.lit(False)
        )
        return full, FeedToken(version=tip.version, was_resync=True)


def _plan(
    table: LakeTable, since: int
) -> tuple[Snapshot, list[dict[str, Any]] | None]:
    """The window after version ``since``: the tip snapshot, and the
    entries each data commit from ``since + 1`` to the tip added (those
    with ``added_v`` equal to its version); no entries when ``since`` is
    at or past the tip. ``None`` in place of the entries means resync:
    ``since`` is negative (a consumer that never committed gets a full
    read), ``since + 1`` is below the low-water mark (a commit of the
    window is expired), a manifest in the range is gone, a rollback commit
    is in the range, or a planned data file is missing. A checkpoint at
    ``low_water() - 1`` plans: every manifest of its window is retained,
    and so are the files those commits added. Reads the manifests from
    ``since + 1`` to the tip and nothing else: no Spark job."""
    tip = table.current()
    if since >= tip.version:
        return tip, []
    if since < 0 or since + 1 < table.low_water():
        return tip, None
    chain = [table._maybe_snapshot(v) for v in range(since + 1, tip.version)]
    files: list[dict[str, Any]] = []
    for snap in chain + [tip]:
        if snap is None or snap.commit_type == "rollback":
            return tip, None
        if snap.commit_type == "data":
            files += [f for f in snap.files if f.get("added_v") == snap.version]
    if not all(os.path.exists(os.path.join(table.path, f["path"])) for f in files):
        return tip, None
    return tip, files
