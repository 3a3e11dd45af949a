"""Long-run soak bench — sustained CDC ingest with maintenance churn
(round-3 VERDICT item 1: the 100-TB credibility probe).

R rounds (default 20) of one ~1.7×n_turns-event batch each are generated
and applied to ONE lake table over the SAME key space (later rounds
update earlier keys — steady-state churn, the reference's
run-again-forever contract), with the full maintenance mix running
interleaved exactly as production would:

* inline ``compact()`` via the ingester's read-amplification trigger,
* ``expire_snapshots(keep_last=4)`` every round,
* ``cleanup_orphans(min_age_seconds=0)`` every 5 rounds,
* a point-lookup latency probe (``read_conversation``) every round.

Per round it records: generation + apply wall seconds, apply events/s,
live files per bucket (base/delta split), manifest bytes, snapshot-dir
entry count, and point-lookup latencies. PASS shape: flat events/s and
per-event cost across rounds, bounded files/bucket, bounded manifest
size, stable lookup latency.

Usage:  python bench_soak.py [rounds] [n_turns] [probe_lookups]
Emits one JSON line:  {"rounds": [...], "summary": {...}}
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from runyoro_llm_data_pipeline_spark.cdc.generator import (  # noqa: E402
    _BASE_EPOCH,
    gen_change_log,
    write_batch_files,
)
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest  # noqa: E402
from runyoro_llm_data_pipeline_spark.session import get_spark, host_cpus  # noqa: E402


def _footer_rows(batch_dir: str) -> int:
    """Batch event count from parquet footers — no Spark job, no scan."""
    import pyarrow.parquet as pq

    n = 0
    for root, _, files in os.walk(batch_dir):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return n


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    n_turns = int(sys.argv[2]) if len(sys.argv) > 2 else 9_000_000
    probe_n = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    cpus = host_cpus()

    ram = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    work = os.path.join(ram, f"soak_{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    log_dir = os.path.join(work, "log")
    table_dir = os.path.join(work, "table")

    spark = get_spark(
        app_name="soak",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.adaptive.enabled": "false",
        },
    )
    ing = CdcIngest(table_dir, log_dir, num_buckets=32, compact_max_files=8)

    # stable probe targets: conv ids exist across all rounds (same key space)
    probe_convs: list[str] = []
    out_rounds = []
    lsn_span = n_turns * 10 + 100 + max(n_turns // 20, 1) * 10 + 20

    for r in range(rounds):
        t0 = time.perf_counter()
        events, _ = gen_change_log(
            spark, n_turns=n_turns, n_convs=max(n_turns // 200, 50),
            n_batches=1, seed=42 + r,
        )
        off = r * lsn_span
        shifted = (
            events.withColumn("lsn", F.col("lsn") + F.lit(off))
            .withColumn(
                "event_ts", F.timestamp_seconds(F.lit(_BASE_EPOCH) + F.col("lsn"))
            )
            .withColumn("batch_id", F.lit(r).cast("long"))
        )
        write_batch_files(shifted, log_dir)
        batch_path = os.path.join(log_dir, f"batch_{r:05d}")
        n_events = _footer_rows(batch_path)
        gen_sec = time.perf_counter() - t0

        t1 = time.perf_counter()
        res = ing.run(spark)
        apply_sec = time.perf_counter() - t1
        assert len(res) == 1, f"round {r}: expected 1 applied batch, got {len(res)}"

        table = ing.table()
        # maintenance churn beyond the inline compaction trigger
        t2 = time.perf_counter()
        expired = table.expire_snapshots(keep_last=4)
        orphans = table.cleanup_orphans(min_age_seconds=0) if r % 5 == 4 else 0
        maint_sec = time.perf_counter() - t2

        snap = table.current()
        n_base = sum(1 for f in snap.files if f.get("kind", "base") == "base")
        n_delta = sum(1 for f in snap.files if f.get("kind") == "delta")
        manifest_bytes = os.path.getsize(
            os.path.join(table.path, "snapshots", f"v{snap.version:08d}.json")
        )
        n_snap_files = len(os.listdir(os.path.join(table.path, "snapshots")))

        if not probe_convs:
            probe_convs = [
                row["conv_id"]
                for row in table.read(spark)
                .select("conv_id").distinct().limit(probe_n).collect()
            ]
        lookups = []
        for conv in probe_convs:
            lt0 = time.perf_counter()
            table.read_conversation(spark, conv).collect()
            lookups.append(time.perf_counter() - lt0)
        lookups.sort()

        shutil.rmtree(batch_path, ignore_errors=True)  # consumed

        row = {
            "round": r,
            "events": n_events,
            "gen_sec": round(gen_sec, 2),
            "apply_sec": round(apply_sec, 2),
            "events_per_sec": round(n_events / apply_sec),
            "maint_sec": round(maint_sec, 2),
            "snapshots_expired": expired,
            "orphans_removed": orphans,
            "files_base": n_base,
            "files_delta": n_delta,
            "files_per_bucket": round((n_base + n_delta) / snap.num_buckets, 2),
            "manifest_bytes": manifest_bytes,
            "snapshot_dir_entries": n_snap_files,
            "lookup_p50_ms": round(1000 * lookups[len(lookups) // 2], 1),
            "lookup_max_ms": round(1000 * lookups[-1], 1),
            "table_version": snap.version,
        }
        out_rounds.append(row)
        print("SOAK " + json.dumps(row), flush=True)

    tps = [x["events_per_sec"] for x in out_rounds]
    half = len(tps) // 2
    summary = {
        "total_events": sum(x["events"] for x in out_rounds),
        "total_batches": rounds,
        "mean_events_per_sec": round(statistics.mean(tps)),
        "first_half_eps": round(statistics.mean(tps[:half])) if half else None,
        "second_half_eps": round(statistics.mean(tps[half:])) if half else None,
        "throughput_drift_pct": round(
            100.0 * (statistics.mean(tps[half:]) / statistics.mean(tps[:half]) - 1), 1
        )
        if half
        else None,
        "max_files_per_bucket": max(x["files_per_bucket"] for x in out_rounds),
        "max_manifest_bytes": max(x["manifest_bytes"] for x in out_rounds),
        "max_snapshot_dir_entries": max(
            x["snapshot_dir_entries"] for x in out_rounds
        ),
        "lookup_p50_ms_last_round": out_rounds[-1]["lookup_p50_ms"],
        "final_table_rows": None,
    }
    summary["final_table_rows"] = ing.table().read(spark).count()
    print(json.dumps({"metric": "soak", "rounds": out_rounds, "summary": summary}))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
