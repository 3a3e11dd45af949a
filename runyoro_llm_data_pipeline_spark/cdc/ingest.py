"""CdcIngest — the one ingest driver: change-log batches into the lake table.

Generalizes the reference's re-scan-and-skip ingest loop
(``scripts/process_raw_data.py:46-54`` + ledger admission
``scripts/orchestrator.py:52-101``). Three front-ends feed one private apply
step — ``apply_batch``, then ``compact(max_files=compact_max_files)`` — so
every source gets the same compaction threshold and quarantine. Each batch
commit folds the applied ledger into its floor (``Snapshot.ledger_after``),
so no front-end runs a ledger pass. None of them writes session conf:
every batch is read under the session's own split rule
(``session.get_spark``):

* ``run()`` discovers batch directories (``<batch_dir>/batch_<id>/*.parquet``),
  consults the applied-offset map stored *in* the committed snapshot (the
  checkpoint can never disagree with the data) and applies only the
  unapplied batches in order;
* ``run_stream()`` tails the same directory as a Structured Streaming query
  (``readStream`` → ``foreachBatch`` under ``Trigger.AvailableNow``), the
  streaming form of the reference's "rerun, pick up only new files"
  (``scripts/train_llm.py:126-129``). Each epoch id is the batch id, so
  exactly-once is double-gated: the streaming checkpoint redelivers an epoch
  at-least-once with a stable id, and the table's applied gate turns the
  redelivery into a no-op. The checkpoint is therefore part of the table's
  state: a lost one restarts epoch ids at 0, which the gate would skip as
  applied, so ``run_stream`` refuses a fresh checkpoint on a table that
  has applied a batch;
* ``run_log()`` tails an offset-addressed log (``sources.offsets.OffsetLog``,
  the Kafka/binlog shape): it reads ``(committed, head]`` per partition as
  one batch numbered ``applied_floor + 1``, and stores the advanced
  offsets in the same snapshot summary as the data.

Crash anywhere → rerun resumes from the last committed snapshot and
converges to the identical final state (checkpoint-resume invariant,
BASELINE.json:north_star).
"""

from __future__ import annotations

import os
import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
from runyoro_llm_data_pipeline_spark.cdc.events import EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from runyoro_llm_data_pipeline_spark.lake.merge import with_internal_schema
from runyoro_llm_data_pipeline_spark.lake.table import (
    COMPACT_MAX_FILES,
    DEFAULT_NUM_BUCKETS,
    LakeTable,
)
from runyoro_llm_data_pipeline_spark.sources.offsets import OFFSETS_KEY, OffsetLog

_BATCH_RE = re.compile(r"^batch_(\d+)$")


class CdcIngest:
    def __init__(
        self,
        table_path: str,
        batch_dir: str | None = None,
        num_buckets: int = DEFAULT_NUM_BUCKETS,
        normalize_text: bool = True,
        compact_max_files: int | None = COMPACT_MAX_FILES,
        quarantine_dir: str | None = None,
    ):
        """``batch_dir`` is the source of ``run()`` and ``run_stream()``;
        ``run_log()`` takes its log as an argument and needs none.

        A batch appends at most one delta file per bucket it touches; with
        ``compact_max_files=k`` any bucket accumulating more than k delta
        files is compacted inline into one key-sorted base file (a
        data-only snapshot — resumable like every other commit), so about
        k batches run between compactions. ``None`` disables
        auto-compaction.

        The applied-batch ledger needs no setting: each batch commit
        folds the entries contiguous with the ``applied_floor`` low
        watermark into it, so batch ids ``0, 1, 2, …`` leave the ledger
        empty however many batches have run."""
        self.table_path = table_path
        self.batch_dir = batch_dir
        self.num_buckets = num_buckets
        self.normalize_text = normalize_text
        self.compact_max_files = compact_max_files
        self.quarantine_dir = quarantine_dir

    def table(self) -> LakeTable:
        """Open the table, creating it with ``num_buckets`` on first use."""
        return LakeTable.create(
            self.table_path,
            with_internal_schema(TRANSCRIPT_SCHEMA),
            num_buckets=self.num_buckets,
        )

    def discover(self) -> list[tuple[int, str]]:
        out = []
        if not self.batch_dir or not os.path.isdir(self.batch_dir):
            return out
        for name in os.listdir(self.batch_dir):
            m = _BATCH_RE.match(name)
            if m:
                out.append((int(m.group(1)), os.path.join(self.batch_dir, name)))
        return sorted(out)

    def pending(self) -> list[tuple[int, str]]:
        snap = self.table().current()
        return [(b, p) for b, p in self.discover() if not snap.has_applied(b)]

    def _apply(
        self,
        spark: SparkSession,
        table: LakeTable,
        events: DataFrame,
        batch_id: int,
        summary_extra: dict | None = None,
    ) -> dict[str, Any]:
        """The apply step every front-end shares: one exactly-once batch,
        then the post-apply compaction policy (``compact`` of the buckets
        holding more than ``compact_max_files`` deltas)."""
        result = apply_batch(
            spark,
            table,
            events,
            batch_id,
            normalize_text=self.normalize_text,
            quarantine_dir=self.quarantine_dir,
            summary_extra=summary_extra,
        )
        if self.compact_max_files is not None:
            table.compact(spark, self.compact_max_files)
        return result

    def run(
        self, spark: SparkSession, max_batches: int | None = None
    ) -> list[dict[str, Any]]:
        """Apply pending batch directories in order; ``max_batches`` lets
        tests simulate a crash between commits."""
        table = self.table()
        results = []
        for i, (batch_id, path) in enumerate(self.pending()):
            if max_batches is not None and i >= max_batches:
                break
            events = spark.read.parquet(path)
            results.append(self._apply(spark, table, events, batch_id))
        return results

    def run_stream(
        self,
        spark: SparkSession,
        checkpoint_dir: str,
        max_files_per_trigger: int | None = None,
    ) -> list[dict[str, Any]]:
        """Drain every event file now under ``batch_dir`` as a stream and
        stop (``Trigger.AvailableNow``: the batch-equivalent streaming run
        for incremental catch-up jobs). Each micro-batch is applied with
        its epoch id as the batch id; ``max_files_per_trigger`` caps the
        files per epoch.

        Raises ``ValueError`` before the query starts if the checkpoint
        has planned no epoch but the table has applied a batch: a fresh
        checkpoint numbers its epochs from 0 again, the gate would skip
        them as applied, and their files would be lost for good. A
        checkpoint with planned epochs on a fresh table is a resume after
        a crash and runs."""
        table = self.table()
        snap = table.current()
        offsets_dir = os.path.join(checkpoint_dir, "offsets")
        planned = os.path.isdir(offsets_dir) and any(
            fn.isdigit() for fn in os.listdir(offsets_dir)
        )
        if not planned and (snap.applied_floor >= 0 or snap.applied):
            raise ValueError(
                f"checkpoint {checkpoint_dir} has planned no epoch, but the "
                "table has applied batches: its epoch ids would restart at "
                "0 and be skipped as applied"
            )
        results = []

        def apply_epoch(df: DataFrame, epoch_id: int) -> None:
            results.append(self._apply(df.sparkSession, table, df, int(epoch_id)))

        reader = spark.readStream.schema(EVENT_SCHEMA).option(
            "recursiveFileLookup", "true"
        )
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        q = (
            reader.parquet(self.batch_dir)
            .writeStream.foreachBatch(apply_epoch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return results

    def run_log(self, spark: SparkSession, log: OffsetLog) -> list[dict[str, Any]]:
        """Apply everything between the committed offsets and the log head
        as ONE batch; returns ``[]`` when caught up. The batch is numbered
        ``applied_floor + 1`` of the snapshot the range was planned on, so
        its ledger folds like the other front-ends', and the committed
        offsets alone decide what is pending: a crash after commit leaves
        nothing pending for that range, and a crash before commit re-plans
        it under the same id. A rival that commits first takes the id, so
        this call's batch is ``skipped`` and the rest of its range stays
        pending for the next call. Each result carries the committed
        ``offsets``."""
        table = self.table()
        snap = table.current()
        since = dict(snap.summary.get(OFFSETS_KEY, {}))
        pending = {
            p: hi
            for p, hi in log.latest_offsets(spark).items()
            if hi > since.get(p, -1)
        }
        if not pending:
            return []
        offsets = {**since, **pending}
        # offsets land INSIDE the same snapshot as the data — the
        # checkpoint can never disagree with the table
        result = self._apply(
            spark, table, log.read(spark, since, pending), snap.applied_floor + 1,
            summary_extra={OFFSETS_KEY: offsets},
        )
        if result["status"] == "skipped":
            offsets = table.snapshot(result["version"]).summary.get(OFFSETS_KEY, {})
        return [{**result, "offsets": offsets}]
