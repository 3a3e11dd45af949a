"""spark-submit entry point for the CDC ingest job.

Cluster deployment (the target run mode per BASELINE.json:north_rule)::

    zip -r engine.zip runyoro_llm_data_pipeline_spark
    spark-submit --py-files engine.zip \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        -m runyoro_llm_data_pipeline_spark.cli \
        --table s3://lake/transcripts --batch-dir s3://cdc/log \
        --num-buckets 4096

Local smoke::

    python -m runyoro_llm_data_pipeline_spark.cli \
        --table /tmp/t --batch-dir /tmp/log --master "local[8]"

``--streaming --checkpoint-dir DIR`` drains the same directory as a
Structured Streaming query (``CdcIngest.run_stream``) instead of per batch
directory (``CdcIngest.run``); both take the same compaction and
normalization options. ``--compact-max-files K`` compacts a bucket that
holds more than K delta files into one key-sorted base file.
``--max-batches`` is batch-directory only.

Exit code 0 = all pending batches committed; the job is safe to re-run or
to schedule at any cadence (exactly-once is enforced by the table's
applied-offset gate, not by the scheduler). A streaming checkpoint belongs
to its table: ``--streaming`` with a checkpoint that has planned no epoch
on a table that has applied batches raises ``ValueError``, because the
fresh checkpoint's epoch ids would restart at 0 and be skipped as applied.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from runyoro_llm_data_pipeline_spark.lake.table import COMPACT_MAX_FILES


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="CDC ingest: change log → lake table")
    p.add_argument("--table", required=True, help="lake table path")
    p.add_argument("--batch-dir", required=True, help="change-event batch directory")
    p.add_argument("--num-buckets", type=int, default=64)
    p.add_argument("--compact-max-files", type=int, default=COMPACT_MAX_FILES)
    p.add_argument("--no-normalize", action="store_true")
    p.add_argument("--max-batches", type=int, default=None)
    p.add_argument("--streaming", action="store_true",
                   help="use Structured Streaming (Trigger.AvailableNow)")
    p.add_argument("--checkpoint-dir", default=None,
                   help="streaming checkpoint location (required with --streaming)")
    p.add_argument("--master", default=None,
                   help="override master (default: whatever spark-submit set)")
    p.add_argument("--expire-keep-last", type=int, default=None,
                   help="expire old snapshots after ingest, keeping this many")
    p.add_argument("--tag", default=None,
                   help="tag the table's final snapshot with this name "
                        "(tagged snapshots survive expiry until dropped)")
    p.add_argument("--maintain", action="store_true",
                   help="run the full maintenance pass after ingest "
                        "(compaction + snapshot expiry + orphan cleanup)")
    args = p.parse_args(argv)

    if args.expire_keep_last is not None and args.expire_keep_last < 1:
        p.error("--expire-keep-last must be at least 1")
    if args.streaming and not args.checkpoint_dir:
        p.error("--streaming requires --checkpoint-dir")
    if args.streaming and args.max_batches is not None:
        p.error("--max-batches applies to batch-directory ingest, not --streaming")

    from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
    from runyoro_llm_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="cdc-ingest", master=args.master)
    ing = CdcIngest(
        args.table,
        args.batch_dir,
        num_buckets=args.num_buckets,
        normalize_text=not args.no_normalize,
        compact_max_files=args.compact_max_files,
    )
    t0 = time.perf_counter()
    if args.streaming:
        results = ing.run_stream(spark, args.checkpoint_dir)
    else:
        results = ing.run(spark, max_batches=args.max_batches)
    dt = time.perf_counter() - t0
    table = ing.table()
    if args.tag:
        table.tag(args.tag)
    if args.maintain:
        table.maintain(
            spark,
            compact_max_files=args.compact_max_files,
            keep_last_snapshots=args.expire_keep_last or 4,
        )
    elif args.expire_keep_last is not None:
        table.expire_snapshots(keep_last=args.expire_keep_last)
    applied = [r for r in results if r["status"] == "applied"]
    print(
        json.dumps(
            {
                "batches_applied": len(applied),
                "keys_applied": sum(r.get("applied_keys", 0) for r in applied),
                "rejected_rows": sum(r.get("rejected_rows", 0) for r in applied),
                "sec": round(dt, 2),
                "table_version": table.current_version(),
                "watermark_lsn": table.current().summary.get("watermark_lsn"),
                # effective value AFTER get_spark's launcher-respect logic —
                # lets a submitted job prove its --conf survived
                "shuffle_partitions": spark.conf.get(
                    "spark.sql.shuffle.partitions"
                ),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
