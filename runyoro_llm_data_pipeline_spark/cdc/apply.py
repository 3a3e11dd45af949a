"""apply_batch — validate → normalize → collapse → merge → atomic commit.

One call = one exactly-once unit, generalizing the reference's per-source
ingest transaction (dedup check ``scripts/orchestrator.py:88-101`` …
ledger rewrite ``scripts/orchestrator.py:184-186``):

* **idempotency gate**: if the current snapshot has already applied
  ``batch_id`` (``Snapshot.has_applied``: a live ledger entry, or at/below
  the ``applied_floor``) the call is a no-op (returns ``skipped``) —
  replaying a batch after a crash, or delivering it twice, cannot
  double-apply. Batch ids are non-negative: the floor of a fresh table
  is -1;
* **normalization** (P2): the reference's ``clean_and_preprocess_text``
  (``scripts/text_processing.py:15-40``) applied to the ``text`` payload as a
  JVM column expression — the per-turn equality invariant lives here;
* **collapse** (W3): the admitted events are projected onto the stored
  row (``event_ts``/``lsn`` become the version columns, ``op == 'delete'``
  the tombstone flag) and handed to ``LakeTable.write_data_files``, the
  one write shape: it buckets the rows, collapses them latest-wins per key
  with ``lake.table.collapse_stored`` (the pure-JVM ``max_by`` aggregate
  that reads and the feed run on stored rows) and sorts them by key. Each
  key's row keeps its winning event's own ``(event_ts, lsn)`` as the
  stored version;
* **merge-on-read delta append** as ONE write query with one shuffle:

      scan → validate → normalize → project
      ⇒ bucket repartition → collapse → partitioned parquet write

  Under AQE the shuffle's map side runs as its own query-stage job, so a
  traced ingest (``perfbench/run.py --trace 1``) shows two Spark jobs
  per batch, both with the anonymous stage name
  ``$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java``:
  (1) scan → normalize → project into the bucket shuffle, (2) the
  collapse and the partitioned parquet write. The repartition runs
  ``min(num_buckets, cores)`` write tasks with each bucket on exactly one
  of them, so a batch appends at most one delta file per bucket. There is
  no map-side combine: every event of a hot key crosses the shuffle to
  its bucket's task (BENCH.md, "one write shape", measures that case).
  Admission metrics (counts and the admitted lsn range) are piggybacked
  on the write via ``Observation`` (no extra scan; a batch that admits no
  row takes one count job instead, see ``_apply_mor``). Each new file's row
  count and lsn bounds are harvested from its parquet *footer* onto its
  manifest entry by ``LakeTable.write_data_files`` (no stats job — the
  same trick Iceberg manifests use); lineage is read back from those
  entries (``LakeTable.read_lineage``), so apply writes nothing beside the
  data files and the manifest. Readers collapse base ∪ deltas;
  ``LakeTable.compact`` folds a bucket's files back into one base file.
* **commit**: data files (with their stats) + applied offsets land in ONE
  snapshot manifest, the ledger folded into its floor
  (``Snapshot.ledger_after``), and linking it into ``snapshots/`` is the
  commit point (``LakeTable.commit``). Crash anywhere before it → next run
  re-applies the batch onto the previous snapshot and converges to the
  same state (orphan files are ignored by manifests).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.dedup import payload_columns
from runyoro_llm_data_pipeline_spark.cdc.events import (
    conform_events,
    validate_events,
    validity_condition,
)
from runyoro_llm_data_pipeline_spark.lake.merge import evolve_schema
from runyoro_llm_data_pipeline_spark.lake.table import (
    DELETED,
    VERSION_LSN,
    VERSION_TS,
    CommitConflictError,
    LakeTable,
)

# lost commit races one ``apply_batch`` call retries before it raises
MAX_COMMIT_RETRIES = 3


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

    keys = snap.key_cols
    # events → stored rows; the writer buckets, collapses and sorts them
    stored = valid.select(
        *keys,
        *payload_columns(valid, keys),
        F.col("event_ts").alias(VERSION_TS),
        F.col("lsn").alias(VERSION_LSN),
        (F.col("op") == "delete").alias(DELETED),
    )
    schema = evolve_schema(snap.schema(), stored)
    version = snap.version + 1
    new_files = table.write_data_files(
        stored, version, snap.num_buckets, keys, kind="delta"
    )
    if new_files:
        metrics = obs.get
    else:
        # no admitted row (an empty poll, an all-rejected batch): AQE drops
        # the empty shuffle stage from the final plan, and the Observation
        # inside it, so one count job gives the total and nothing is valid
        metrics = {"n_total": events.count(), "n_valid": 0, "n_late": 0,
                   "min_lsn": -1, "max_lsn": -1}
    n_total = int(metrics["n_total"])
    n_rejected = n_total - int(metrics["n_valid"])
    min_lsn, max_lsn = int(metrics["min_lsn"]), int(metrics["max_lsn"])
    applied_keys = sum(e["rows"] for e in new_files)
    sec = round(time.perf_counter() - t_start, 3)
    applied, floor = snap.ledger_after(batch_id, [min_lsn, max_lsn])
    table.commit(
        snap,
        snap.files + new_files,
        schema=schema,
        applied=applied,
        summary={
            **snap.summary,
            "applied_floor": floor,
            "last_batch_id": int(batch_id),
            "watermark_lsn": max(watermark, max_lsn),
            # per-batch job metrics, queryable from the snapshot history
            "last_batch_sec": sec,
            "last_batch_keys": applied_keys,
            **(summary_extra or {}),
        },
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
        "late_events": int(metrics["n_late"]),
    }


def apply_batch(
    spark: SparkSession,
    table: LakeTable,
    events: DataFrame,
    batch_id: int,
    normalize_text: bool = True,
    quarantine_dir: str | None = None,
    summary_extra: dict | None = None,
) -> dict[str, Any]:
    """Append the batch's per-key winners (keyed on the current snapshot's
    ``key_cols``, bucketed under its ``num_buckets``) as per-bucket delta
    files with one write query — two Spark jobs under AQE, see the
    module docstring (write-optimized — pair with ``table.compact()``,
    which ``CdcIngest`` runs with ``max_files=compact_max_files`` after
    every batch).

    **Optimistic concurrency with bounded retry**: if another writer
    commits between this call's snapshot read and its manifest link (e.g.
    an overlapping cron launch of the reference's run-again-forever loop,
    ``train_llm.py:126-129``), the atomic commit raises
    ``CommitConflictError``; this call then re-reads the fresh snapshot
    (layout included, so a rival's ``rebucket`` is honoured) and retries
    up to ``MAX_COMMIT_RETRIES`` times. The applied-offset gate is
    re-checked on every attempt, so if the competing writer applied the
    SAME batch the retry degrades to ``status='skipped'`` — exactly-once
    holds under any interleaving. Data files staged by a
    lost attempt are unreferenced and reclaimed by ``cleanup_orphans``.

    A ``batch_id`` below 0 raises ``ValueError`` before any Spark job:
    a fresh table's floor is -1, so the gate would skip it silently."""
    if batch_id < 0:
        raise ValueError(f"batch_id must be >= 0, got {batch_id}")
    attempt = 0
    while True:
        snap = table.current()
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
            if attempt > MAX_COMMIT_RETRIES:
                raise
