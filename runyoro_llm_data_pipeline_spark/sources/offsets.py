"""Offset-addressed change logs — the Kafka/binlog-shaped source.

Where ``CdcIngest.run`` tails discrete batch *directories*, an ``OffsetLog``
is a partitioned, ever-growing log addressed by **per-partition offsets**
(Kafka topic-partitions, binlog file+position, shard sequence numbers):

* the log exposes ``latest_offsets()`` and ``read(since, until)``;
* ``CdcIngest.run_log`` reads ``(applied, latest]`` per partition, applies
  it as one batch, and stores the advanced offsets in the same snapshot
  summary as the data (``summary["log_offsets"]``) — checkpoint and data
  commit in one atomic snapshot, so exactly-once needs no external offset
  store (the same property Kafka's idempotent sinks get from storing
  offsets in the transaction). Crash anywhere → rerun re-reads the same
  range (idempotent by the batch gate + latest-wins commutativity).

``ParquetOffsetLog`` implements the protocol over a partitioned Parquet
directory (``log_part=N/``) with monotone ``lsn`` per partition — range
reads are lsn predicates that push into row-group stats, so catching up a
small range never scans old log segments. A real Kafka source implements
the same two methods with ``spark.read.format("kafka")`` offsets.
"""

from __future__ import annotations

import os
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.lake.table import footer_bounds

OFFSETS_KEY = "log_offsets"
PART_COL = "log_part"


class OffsetLog(Protocol):
    def latest_offsets(self, spark: SparkSession) -> dict[str, int]: ...

    def read(
        self, spark: SparkSession, since: dict[str, int], until: dict[str, int]
    ) -> DataFrame: ...


class ParquetOffsetLog:
    """Partitioned Parquet log: ``<root>/log_part=N/*.parquet``, events
    carry monotone ``lsn`` within each partition."""

    def __init__(self, root: str):
        self.root = root
        # (relpath -> (size, mtime, file_max_lsn)) — head-discovery cache so
        # each poll stats every file but opens footers only for NEW ones
        self._footer_cache: dict[str, tuple[int, float, int | None]] = {}

    def append(self, events: DataFrame, n_files_per_part: int = 2) -> None:
        """Producer helper: append events (must carry ``log_part``)."""
        (
            events.repartition(n_files_per_part, PART_COL)
            .write.mode("append")
            .partitionBy(PART_COL)
            .parquet(self.root)
        )

    def latest_offsets(self, spark: SparkSession) -> dict[str, int]:
        """Per-partition head offsets from parquet *footers*, driver-side:
        the poll cost is O(all files) stat calls + O(new files) footer
        reads (cached by (size, mtime)) — never a Spark scan of the
        ever-growing log. A real Kafka source gets this from the broker's
        end-offsets API; a binlog tail from the current file+position."""
        if not os.path.isdir(self.root):
            return {}
        out: dict[str, int] = {}
        for entry in sorted(os.listdir(self.root)):
            if not entry.startswith(f"{PART_COL}="):
                continue
            part = entry.split("=", 1)[1]
            pdir = os.path.join(self.root, entry)
            hi: int | None = None
            for fn in os.listdir(pdir):
                if not fn.endswith(".parquet"):
                    continue
                full = os.path.join(pdir, fn)
                rel = os.path.join(entry, fn)
                try:
                    st = os.stat(full)
                except OSError:
                    continue
                cached = self._footer_cache.get(rel)
                if cached is None or cached[0] != st.st_size or cached[1] != st.st_mtime:
                    import pyarrow as pa

                    try:
                        _, _, fmax = footer_bounds(full, "lsn")
                    except (OSError, pa.ArrowInvalid):
                        # a file mid-write by the producer (torn footer) or
                        # corrupt: skip WITHOUT caching so the next poll
                        # retries it once the writer finishes
                        continue
                    self._footer_cache[rel] = (st.st_size, st.st_mtime, fmax)
                else:
                    fmax = cached[2]
                if fmax is not None:
                    hi = fmax if hi is None else max(hi, fmax)
            if hi is not None:
                out[part] = int(hi)
        return out

    def read(
        self, spark: SparkSession, since: dict[str, int], until: dict[str, int]
    ) -> DataFrame:
        df = spark.read.parquet(self.root)
        cond = F.lit(False)
        for part, hi in until.items():
            lo = since.get(part, -1)
            cond = cond | (
                (F.col(PART_COL) == int(part))
                & (F.col("lsn") > lo)
                & (F.col("lsn") <= hi)
            )
        return df.filter(cond).drop(PART_COL)
