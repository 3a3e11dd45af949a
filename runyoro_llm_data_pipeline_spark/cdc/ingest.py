"""CdcIngest — tail a directory of change-event batches into the lake table.

Generalizes the reference's re-scan-and-skip ingest loop
(``scripts/process_raw_data.py:46-54`` + ledger admission
``scripts/orchestrator.py:52-101``): each run discovers batch directories,
consults the table's applied-offset map (stored *in* the committed snapshot,
so the checkpoint can never disagree with the data), and applies only the
unapplied batches in order. Crash anywhere → rerun resumes from the last
committed snapshot and converges to the identical final state
(checkpoint-resume invariant, BASELINE.json:north_star).

Batch layout: ``<batch_dir>/batch_<id>/*.parquet`` (one Parquet directory per
offset range). A Kafka/binlog source would substitute discovery with offset
ranges; apply_batch is source-agnostic.
"""

from __future__ import annotations

import os
import re
from typing import Any

from pyspark.sql import SparkSession

from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
from runyoro_llm_data_pipeline_spark.cdc.events import TRANSCRIPT_SCHEMA
from runyoro_llm_data_pipeline_spark.lake.merge import with_internal_schema
from runyoro_llm_data_pipeline_spark.lake.table import LakeTable

_BATCH_RE = re.compile(r"^batch_(\d+)$")
_MAX_PARTITION_BYTES = "spark.sql.files.maxPartitionBytes"
_OPEN_COST_BYTES = "spark.sql.files.openCostInBytes"


class CdcIngest:
    def __init__(
        self,
        table_path: str,
        batch_dir: str,
        num_buckets: int = 16,
        normalize_text: bool = True,
        compact_max_files: int | None = 4,
        quarantine_dir: str | None = None,
        truncate_keep: int | None = 4096,
        compact_target_file_rows: int | None = None,
    ):
        """Batches append O(batch) delta files; with
        ``compact_max_files=k`` any bucket accumulating more than k delta
        files is compacted inline (a data-only snapshot — resumable like
        every other commit). ``compact_max_files=None`` disables
        auto-compaction.

        ``truncate_keep`` bounds the applied-batch ledger: once more than
        that many entries are committed, a maintenance commit folds the
        contiguous prefix into the ``applied_floor`` low watermark
        (``LakeTable.truncate_applied``) — the soak showed ~300 B/batch
        manifest growth otherwise, which matters at 10⁵+ batches. Runs at
        most once per ``run()``, after the batch loop, so it costs one
        manifest write per ingest cycle, not per batch. ``None``
        disables.

        ``compact_target_file_rows`` caps rows per compacted file: big
        buckets split into key-contiguous files whose harvested manifest
        key ranges make point lookups read ~1 base file
        (``LakeTable.candidate_files_for_key``). ``None`` keeps one file
        per bucket — the better default when the table is mostly scanned,
        not point-served."""
        self.table_path = table_path
        self.batch_dir = batch_dir
        self.num_buckets = num_buckets
        self.normalize_text = normalize_text
        self.compact_max_files = compact_max_files
        self.quarantine_dir = quarantine_dir
        self.truncate_keep = truncate_keep
        self.compact_target_file_rows = compact_target_file_rows

    def table(self) -> LakeTable:
        if os.path.exists(os.path.join(self.table_path, "_VERSION")):
            return LakeTable.load(self.table_path)
        return LakeTable.create(
            self.table_path,
            with_internal_schema(TRANSCRIPT_SCHEMA),
            num_buckets=self.num_buckets,
        )

    def discover(self) -> list[tuple[int, str]]:
        out = []
        if not os.path.isdir(self.batch_dir):
            return out
        for name in os.listdir(self.batch_dir):
            m = _BATCH_RE.match(name)
            if m:
                out.append((int(m.group(1)), os.path.join(self.batch_dir, name)))
        return sorted(out)

    def pending(self) -> list[tuple[int, str]]:
        t = self.table()
        snap = t.current()
        applied = set(snap.applied.keys())
        floor = int(snap.summary.get("applied_floor", -1))
        return [
            (b, p)
            for b, p in self.discover()
            if str(b) not in applied and b > floor
        ]

    @staticmethod
    def _tune_split_size(spark: SparkSession, batch_path: str) -> None:
        """Right-size input splits for this batch: with the stock 128 MB
        ``maxPartitionBytes`` (+4 MB per-file open cost) a small catch-up
        batch collapses into 2-3 splits and the scan→normalize→partial-agg
        map stage — the CPU-heavy part of apply — serializes onto a few
        cores. Target ≈ 2 splits per core, floored at 4 MB; at 10^10-event
        scale batches are big and this converges back to the default.
        Session-global: ``run()`` restores both keys when it returns."""
        try:
            size = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(batch_path)
                for f in fs
            )
        except OSError:
            return
        cores = spark.sparkContext.defaultParallelism
        target = max(size // (cores * 2), 1024 * 1024)
        target = min(target, 128 * 1024 * 1024)
        spark.conf.set(_MAX_PARTITION_BYTES, str(target))
        spark.conf.set(_OPEN_COST_BYTES, str(512 * 1024))

    def run(
        self, spark: SparkSession, max_batches: int | None = None
    ) -> list[dict[str, Any]]:
        """Apply pending batches in order; ``max_batches`` lets tests simulate
        a crash between commits. The session's split-size settings are
        restored on return, so later reads plan as if no ingest ran."""
        table = self.table()
        results = []
        conf = spark.conf.getAll
        saved = {k: conf.get(k) for k in (_MAX_PARTITION_BYTES, _OPEN_COST_BYTES)}
        try:
            for i, (batch_id, path) in enumerate(self.pending()):
                if max_batches is not None and i >= max_batches:
                    break
                self._tune_split_size(spark, path)
                events = spark.read.parquet(path)
                results.append(
                    apply_batch(
                        spark,
                        table,
                        events,
                        batch_id,
                        normalize_text=self.normalize_text,
                        quarantine_dir=self.quarantine_dir,
                    )
                )
                table.compact_if_needed(
                    spark, self.compact_max_files,
                    target_file_rows=self.compact_target_file_rows,
                )
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        if (
            results
            and self.truncate_keep is not None
            and len(table.current().applied) > self.truncate_keep
        ):
            table.truncate_applied(keep_last=self.truncate_keep)
        return results
