"""apply_batch — validate → normalize → collapse → merge → atomic commit.

One call = one exactly-once unit, generalizing the reference's per-source
ingest transaction (dedup check ``scripts/orchestrator.py:88-101`` …
ledger rewrite ``scripts/orchestrator.py:184-186``):

* **idempotency gate**: if the current snapshot has already applied
  ``batch_id`` (``Snapshot.has_applied``: a live ledger entry, or at/below
  the ``applied_floor``) the call is a no-op (returns ``skipped``) —
  replaying a batch after a crash, or delivering it twice, cannot
  double-apply;
* **normalization** (P2): the reference's ``clean_and_preprocess_text``
  (``scripts/text_processing.py:15-40``) applied to the ``text`` payload as a
  JVM column expression — the per-turn equality invariant lives here;
* **collapse** (W3): latest-wins by ``(event_ts, lsn)`` per key with the
  pure-JVM ``max_by`` aggregate; each key's row keeps its winning event's
  own ``(event_ts, lsn)`` as the stored version;
* **merge-on-read delta append** as ONE write query with two shuffles:

      scan → validate → normalize → partial collapse ⇒ final collapse
      ⇒ bucket repartition → partitioned parquet write

  Under AQE each shuffle's map side runs as its own query-stage job, so a
  traced ingest (``perfbench/run.py --trace 1``) shows three Spark jobs
  per batch, all with the anonymous stage name
  ``$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java``:
  (1) scan → normalize → partial ``max_by`` into the collapse shuffle,
  (2) final collapse into the bucket shuffle, (3) the partitioned parquet
  write. The partial aggregation means the post-collapse bucket shuffle
  moves at most one row per key and task. The collapse is kept as
  the benchmarked default, not as the fastest: on a 4-CPU host it measured
  slower than the Arrow and single-shuffle collapses that were tried, so
  replacing it is a job for a measured A/B.
  Admission metrics (counts and the admitted lsn range) are piggybacked
  on the write via ``Observation`` (no extra scan), per-bucket lineage
  stats harvested from the written parquet *footers* (no stats job — the
  same trick Iceberg manifests use), and the lineage file written
  driver-side with pyarrow (no Spark job). Readers collapse base ∪
  deltas; ``LakeTable.compact`` folds deltas back into base files.
* **commit**: data files + applied offsets + lineage land in ONE snapshot;
  the version-pointer rename is the commit point. Crash anywhere before it
  → next run re-applies the batch onto the previous snapshot and converges
  to the same state (orphan files are ignored by manifests).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.dedup import (
    collapse_latest_wins,
    payload_columns,
)
from runyoro_llm_data_pipeline_spark.cdc.events import (
    conform_events,
    validate_events,
    validity_condition,
)
from runyoro_llm_data_pipeline_spark.lake.merge import evolve_schema
from runyoro_llm_data_pipeline_spark.lake.table import (
    DELETED,
    LINEAGE_DIR,
    VERSION_LSN,
    VERSION_TS,
    CommitConflictError,
    LakeTable,
    footer_bounds,
)


def _write_lineage_driver_side(
    table: LakeTable, version: int, batch_id: int, stats: list[dict]
) -> str:
    """Lineage rows are tiny driver-side data — write them with pyarrow
    directly instead of scheduling a Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import uuid

    rel = os.path.join(LINEAGE_DIR, f"v{version:08d}-{uuid.uuid4().hex[:8]}")
    out_dir = os.path.join(table.path, rel)
    os.makedirs(out_dir, exist_ok=True)
    t = pa.table(
        {
            "batch_id": pa.array([int(batch_id)] * len(stats), pa.int64()),
            "bucket": pa.array([int(s["__bucket"]) for s in stats], pa.int32()),
            "min_lsn": pa.array([int(s["min_lsn"]) for s in stats], pa.int64()),
            "max_lsn": pa.array([int(s["max_lsn"]) for s in stats], pa.int64()),
            "row_count": pa.array([int(s["row_count"]) for s in stats], pa.int64()),
            "snapshot_version": pa.array([int(version)] * len(stats), pa.int64()),
        }
    )
    pq.write_table(t, os.path.join(out_dir, "part-00000.parquet"))
    return rel


def _footer_stats(table: LakeTable, entries: list[dict]) -> list[dict]:
    """Per-bucket (min_lsn, max_lsn, row_count) from the written files'
    parquet footers — no Spark job, exact, and O(files) driver-side.
    Footers are fetched with a thread pool: this sits on the serial
    commit path of every batch, and ~64 sequential footer opens are a
    fixed cost that eats scaling headroom on fast multi-executor runs."""
    from concurrent.futures import ThreadPoolExecutor

    paths = [os.path.join(table.path, e["path"]) for e in entries]
    with ThreadPoolExecutor(max_workers=min(16, max(len(paths), 1))) as ex:
        bounds = list(ex.map(lambda p: footer_bounds(p, VERSION_LSN), paths))

    agg: dict[int, dict] = {}
    for e, (n_rows, lo, hi) in zip(entries, bounds):
        b = agg.setdefault(
            e["bucket"],
            {"__bucket": e["bucket"], "min_lsn": None, "max_lsn": None,
             "row_count": 0},
        )
        b["row_count"] += n_rows
        if lo is not None:
            b["min_lsn"] = lo if b["min_lsn"] is None else min(b["min_lsn"], lo)
            b["max_lsn"] = hi if b["max_lsn"] is None else max(b["max_lsn"], hi)
    return [
        {**s, "min_lsn": s["min_lsn"] if s["min_lsn"] is not None else -1,
         "max_lsn": s["max_lsn"] if s["max_lsn"] is not None else -1}
        for s in sorted(agg.values(), key=lambda s: s["__bucket"])
    ]


def _apply_mor(
    spark: SparkSession,
    table: LakeTable,
    events: DataFrame,
    batch_id: int,
    normalize_text: bool,
    snap,
    summary_extra: dict | None = None,
) -> dict[str, Any]:
    import time

    from runyoro_llm_data_pipeline_spark.operators.text import (
        clean_and_preprocess_text_col,
    )

    t_start = time.perf_counter()
    # admission accounting (total / valid / late / admitted lsn range)
    # rides the write job's own scan via ONE Observation placed BELOW the
    # validity filter, so n_total counts exactly the rows this batch frame
    # produces — filtered sources (e.g. an lsn-range scan of a shared log)
    # are counted correctly, and no separate count job or footer
    # arithmetic is needed. Late events (SURVEY §2.8): at or below the
    # committed lsn watermark — replays or out-of-order stragglers, safe
    # under latest-wins but surfaced.
    watermark = int(snap.summary.get("watermark_lsn", -1))
    cond = validity_condition()
    admitted_lsn = F.when(cond, F.col("lsn"))
    obs = Observation(f"admit_b{batch_id}_v{snap.version}")
    conformed = conform_events(events).observe(
        obs,
        F.count(F.lit(1)).alias("n_total"),
        F.sum(cond.cast("long")).alias("n_valid"),
        F.sum((cond & (F.col("lsn") <= F.lit(watermark))).cast("long")).alias(
            "n_late"
        ),
        F.min(admitted_lsn).alias("min_lsn"),
        F.max(admitted_lsn).alias("max_lsn"),
    )
    valid = conformed.filter(cond)
    if normalize_text:
        valid = valid.withColumn("text", clean_and_preprocess_text_col(F.col("text")))

    keys = table.key_cols
    # map-side-combinable aggregate; the write below adds a second (cheap,
    # post-collapse) shuffle to bucket-align the files
    collapsed = collapse_latest_wins(valid, keys=keys)
    schema = evolve_schema(snap.schema(), collapsed)
    incoming = collapsed.select(
        *keys,
        *payload_columns(collapsed, keys),
        F.col("__event_ts").alias(VERSION_TS),
        F.col("__lsn").alias(VERSION_LSN),
        (F.col("__op") == "delete").alias(DELETED),
        table.bucket_expr(keys[0]).alias("__bucket"),
    )
    version = snap.version + 1
    new_files = table.write_data_files(
        incoming, version, kind="delta", salt_cols=keys
    )
    stats = _footer_stats(table, new_files)
    metrics = obs.get
    # aggregates over an empty (or all-rejected) batch observe NULL (count
    # observes 0); guard them so an empty poll commits a no-op batch
    n_total = int(metrics["n_total"] or 0)
    n_rejected = n_total - int(metrics["n_valid"] or 0)
    min_lsn = -1 if metrics["min_lsn"] is None else int(metrics["min_lsn"])
    max_lsn = -1 if metrics["max_lsn"] is None else int(metrics["max_lsn"])
    applied_keys = sum(s["row_count"] for s in stats)
    sec = round(time.perf_counter() - t_start, 3)
    table.commit(
        new_files=new_files,
        carried_files=list(snap.files),
        schema=schema,
        applied_update={str(batch_id): [min_lsn, max_lsn]},
        summary_update={
            "last_batch_id": int(batch_id),
            "watermark_lsn": max(watermark, max_lsn),
            # per-batch job metrics, queryable from the snapshot history
            "last_batch_sec": sec,
            "last_batch_keys": applied_keys,
            **(summary_extra or {}),
        },
        lineage_rel_path=_write_lineage_driver_side(
            table, version, batch_id, stats
        ),
        parent=snap,
    )
    return {
        "status": "applied",
        "batch_id": batch_id,
        "sec": sec,
        "version": version,
        "affected_buckets": sorted({e["bucket"] for e in new_files}),
        "rejected_rows": n_rejected,
        "applied_keys": applied_keys,
        "min_lsn": min_lsn,
        "max_lsn": max_lsn,
        "late_events": int(metrics["n_late"] or 0),
    }


def apply_batch(
    spark: SparkSession,
    table: LakeTable,
    events: DataFrame,
    batch_id: int,
    normalize_text: bool = True,
    quarantine_dir: str | None = None,
    summary_extra: dict | None = None,
    max_commit_retries: int = 3,
) -> dict[str, Any]:
    """Append the batch's per-key winners (keyed on ``table.key_cols``) as
    per-bucket delta files with one write query — three Spark jobs under
    AQE, see the module docstring (write-optimized — pair with
    ``table.compact()``, which ``CdcIngest`` runs through
    ``compact_if_needed`` after every batch).

    **Optimistic concurrency with bounded retry**: if another writer
    commits between this call's snapshot read and its pointer swap (e.g.
    an overlapping cron launch of the reference's run-again-forever loop,
    ``train_llm.py:126-129``), the atomic commit raises
    ``CommitConflictError``; this call then re-reads the fresh snapshot
    and retries up to ``max_commit_retries`` times. The applied-offset
    gate is re-checked on every attempt, so if the competing writer
    applied the SAME batch the retry degrades to ``status='skipped'`` —
    exactly-once holds under any interleaving. Data files staged by a
    lost attempt are unreferenced and reclaimed by ``cleanup_orphans``."""
    attempt = 0
    while True:
        snap = table.current()
        # refresh handle state the snapshot is authoritative for: a rival
        # rebucket() between attempts would otherwise leave this handle
        # computing bucket_expr against the old modulus (the same staleness
        # class as the rollback num_buckets fix, lake/table.py:400)
        table.num_buckets = int(
            snap.summary.get("num_buckets", table.num_buckets)
        )
        if snap.has_applied(batch_id):
            return {
                "status": "skipped", "batch_id": batch_id,
                "version": snap.version,
            }
        if quarantine_dir and attempt == 0:
            # materialize rejected rows for inspection/replay-after-fix —
            # generalizes the reference's skip-and-log of unsupported
            # sources (scripts/process_raw_data.py:52). Optional: costs one
            # extra filtered scan of the batch only when enabled. Behind the
            # applied/floor gate above, so a re-delivered batch stays fully
            # side-effect free (no Spark jobs, no rewrite of the quarantine
            # parquet a prior delivery already produced).
            _, rejected = validate_events(events)
            rejected.write.mode("overwrite").parquet(
                os.path.join(quarantine_dir, f"batch_{batch_id:05d}")
            )
        try:
            return _apply_mor(
                spark, table, events, batch_id, normalize_text, snap,
                summary_extra=summary_extra,
            )
        except CommitConflictError:
            attempt += 1
            if attempt > max_commit_retries:
                raise
