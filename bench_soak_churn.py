"""Soak variant with ref/retention churn — round-3 VERDICT item 8.

The round-3 soak (bench_soak.py) proved sustained ingest + compaction +
expiry + orphan cleanup. This harness adds the remaining production
machinery under the same steady-state churn, all in ONE long run:

* a **tag** is pinned every round and dropped three rounds later — so
  every expire/cleanup pass runs against live pins that must protect
  their snapshots;
* every 4th round the table is **rolled back** one round and the batch is
  re-ingested (the restored ledger makes it re-ingestable — exactly the
  operator-initiated bad-batch-undo flow);
* a downstream **IncrementalFeed replica** is kept in sync every round
  (upsert deltas applied incrementally; a rollback inside the window must
  force ``was_resync``), and replica == table is asserted by exceptAll in
  BOTH directions every round — convergence across rollbacks is the
  whole point;
* ``maintain()`` (compact + ledger truncation + expiry + orphan cleanup)
  runs as the one-call pass every round, as a cron would;
* every 6th round the table is **rebucketed** (32 ↔ 48) mid-churn — a
  growing production table resizes online; ingest, rollback (which may
  unwind a rebucket), feed, and maintenance must all keep converging
  across the modulus change (round-4 VERDICT item 7);
* one round replaces the single ingest with a **concurrent-writer race**:
  two ingest launches on the same pending batch from two threads of the
  same driver (the overlapping-cron shape the bounded optimistic-
  concurrency retry in ``apply_batch`` exists for) — exactly one may
  report 'applied', the loser must land on 'skipped' via conflict-retry,
  and the loser's orphaned delta files must be swept by maintenance.

PASS shape: zero convergence violations, resyncs exactly at the rollback
rounds, race round = 1 applied + rest skipped, bounded
files/manifest/snapshot-dir, flat events/s.

Usage:  python bench_soak_churn.py [rounds] [n_turns]
Emits one JSON line:  {"metric": "soak_churn", "rounds": [...], "summary": {...}}
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

from runyoro_llm_data_pipeline_spark.cdc.feed import IncrementalFeed  # noqa: E402
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


def _apply_feed_increment(spark, replica_dir: str, df, was_resync: bool) -> str:
    """Maintain the downstream replica exactly as an incremental consumer
    would: full swap on resync, key-anti-join + union on deltas. Returns
    the new replica dir (dirs alternate so the read side never sees a
    half-written swap)."""
    nxt = replica_dir + (".b" if replica_dir.endswith(".a") else ".a")
    live = df.filter(~F.col("_cdc_deleted")).drop("_cdc_deleted")
    if was_resync or not os.path.exists(replica_dir):
        live.write.mode("overwrite").parquet(nxt)
        return nxt
    old = spark.read.parquet(replica_dir)
    keys = df.select("conv_id", "turn_idx")
    merged = old.join(keys, ["conv_id", "turn_idx"], "left_anti").unionByName(
        live.select(*old.columns)
    )
    merged.write.mode("overwrite").parquet(nxt)
    return nxt


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 12
    n_turns = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
    cpus = host_cpus()

    ram = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    work = os.path.join(ram, f"soakchurn_{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    log_dir = os.path.join(work, "log")
    table_dir = os.path.join(work, "table")
    replica_dir = os.path.join(work, "replica.a")

    spark = get_spark(
        app_name="soak-churn",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.adaptive.enabled": "false",
        },
    )
    ing = CdcIngest(table_dir, log_dir, num_buckets=32, compact_max_files=8)
    feed = IncrementalFeed(table_dir, os.path.join(work, "feed_pos.json"))

    lsn_span = n_turns * 10 + 100 + max(n_turns // 20, 1) * 10 + 20
    # the race round avoids rollback rounds (r % 4 == 3) and rebucket
    # rounds (r % 6 == 4) so each mechanism is observed in isolation
    race_round = int(os.environ.get("CHURN_RACE_ROUND", rounds // 2))
    out_rounds = []
    n_resyncs = 0
    violations = 0

    for r in range(rounds):
        t0 = time.perf_counter()
        events, _ = gen_change_log(
            spark, n_turns=n_turns, n_convs=max(n_turns // 200, 50),
            n_batches=1, seed=7 + r,
        )
        shifted = (
            events.withColumn("lsn", F.col("lsn") + F.lit(r * lsn_span))
            .withColumn(
                "event_ts",
                F.timestamp_seconds(F.lit(_BASE_EPOCH) + F.col("lsn")),
            )
            .withColumn("batch_id", F.lit(r).cast("long"))
        )
        write_batch_files(shifted, log_dir)
        gen_sec = time.perf_counter() - t0

        n_events = _footer_rows(os.path.join(log_dir, f"batch_{r:05d}"))
        t1 = time.perf_counter()
        race = None
        if r == race_round:
            # two ingest launches race on the same pending batch — each
            # with its own CdcIngest/LakeTable instance, sharing only the
            # table path (what two overlapping cron launches share). A
            # barrier holds both until each has read the SAME pending
            # view, so both enter apply_batch and exactly one must lose
            # the pointer swap and land on 'skipped' via conflict-retry.
            import threading

            from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch

            outcomes: list[list | None] = [None, None]
            barrier = threading.Barrier(2)

            def _racer(i: int) -> None:
                rival = CdcIngest(table_dir, log_dir, num_buckets=32,
                                  compact_max_files=8)
                pend = rival.pending()
                tbl = rival.table()
                barrier.wait()
                outcomes[i] = [
                    apply_batch(spark, tbl, spark.read.parquet(p), b)
                    for b, p in pend
                ]

            threads = [
                threading.Thread(target=_racer, args=(i,)) for i in range(2)
            ]
            for th in threads:
                th.start()
            for th in threads:
                th.join()
            flat = [x for rr in outcomes for x in (rr or [])]
            applied = [x for x in flat if x["status"] == "applied"]
            skipped = [x for x in flat if x["status"] != "applied"]
            assert len(applied) == 1, (
                f"round {r}: race must apply exactly once, got "
                f"{[x['status'] for x in flat]}"
            )
            assert len(skipped) >= 1, (
                f"round {r}: the racing rival must be conflict-skipped, "
                f"got {[x['status'] for x in flat]}"
            )
            race = {"applied": 1, "skipped": len(skipped),
                    "statuses": [x["status"] for x in flat]}
            res = applied
        else:
            res = ing.run(spark)
        apply_sec = time.perf_counter() - t1
        assert len(res) == 1, f"round {r}: expected 1 batch, got {len(res)}"

        table = ing.table()
        table.tag(f"r{r}")
        if r >= 3:
            table.drop_tag(f"r{r - 3}")

        rolled_back = False
        if r % 4 == 3:
            # operator-initiated bad-batch undo: roll back to last round's
            # pinned tag, then re-ingest this round's batch (the restored
            # ledger makes it pending again; its dir is still in the log)
            table.rollback(f"r{r - 1}")
            t_rb = time.perf_counter()
            res2 = ing.run(spark)
            apply_sec += time.perf_counter() - t_rb
            assert len(res2) == 1, f"round {r}: re-ingest got {len(res2)}"
            table.tag(f"r{r}")  # re-pin at the re-ingested state
            rolled_back = True

        rebucketed = None
        if r % 6 == 4:
            # online resize mid-churn: 32 ↔ 48 (a data-only maintenance
            # commit; the next ingest reloads the modulus from the
            # snapshot, and a later rollback may unwind it — both paths
            # must stay convergent)
            t_rbk = time.perf_counter()
            nb_new = 48 if table.current().num_buckets == 32 else 32
            table.rebucket(spark, nb_new)
            rebucketed = {
                "num_buckets": nb_new,
                "sec": round(time.perf_counter() - t_rbk, 2),
            }

        t2 = time.perf_counter()
        # keep_last must exceed the per-round commit count (apply +
        # compact + truncate + rollback/reapply ≤ 5) so the feed's
        # one-round-old position stays inside unexpired history — resyncs
        # should come from ROLLBACKS, not from expiry racing the consumer
        maint = table.maintain(
            spark,
            compact_max_files=8,
            keep_last_snapshots=8,
            orphan_age_seconds=0,
        )
        maint_sec = time.perf_counter() - t2

        # downstream replica: incremental consumption + convergence check
        t3 = time.perf_counter()
        out = feed.poll(spark)
        assert out is not None, f"round {r}: feed saw no new commits"
        df, tok = out
        if tok.was_resync:
            n_resyncs += 1
        replica_dir = _apply_feed_increment(
            spark, replica_dir, df, tok.was_resync
        )
        feed.commit(tok)
        rep = spark.read.parquet(replica_dir)
        tbl = table.read(spark).select(*rep.columns)
        diff = rep.exceptAll(tbl).count() + tbl.exceptAll(rep).count()
        if diff != 0:
            violations += 1
        feed_sec = time.perf_counter() - t3

        # keep the last two batch dirs (rollback re-ingest needs r's);
        # older ones are consumed for good
        stale = os.path.join(log_dir, f"batch_{r - 2:05d}")
        shutil.rmtree(stale, ignore_errors=True)

        snap = table.current()
        manifest_bytes = os.path.getsize(
            os.path.join(table.path, "snapshots", f"v{snap.version:08d}.json")
        )
        row = {
            "round": r,
            "events": n_events,
            "gen_sec": round(gen_sec, 2),
            "apply_sec": round(apply_sec, 2),
            "events_per_sec": round(n_events / apply_sec) if n_events else None,
            "maint_sec": round(maint_sec, 2),
            "maintain": maint,
            "feed_sec": round(feed_sec, 2),
            "rolled_back": rolled_back,
            "rebucketed": rebucketed,
            "race": race,
            "num_buckets": snap.num_buckets,
            "was_resync": tok.was_resync,
            "replica_diff_rows": diff,
            "n_tags": len(table.tags()),
            "files": len(snap.files),
            "manifest_bytes": manifest_bytes,
            "snapshot_dir_entries": len(
                os.listdir(os.path.join(table.path, "snapshots"))
            ),
            "table_version": snap.version,
        }
        out_rounds.append(row)
        print("CHURN " + json.dumps(row), flush=True)

    tps = [x["events_per_sec"] for x in out_rounds if x["events_per_sec"]]
    rollback_rounds = [x["round"] for x in out_rounds if x["rolled_back"]]
    resync_rounds = [x["round"] for x in out_rounds if x["was_resync"]]
    summary = {
        "total_events": sum(x["events"] or 0 for x in out_rounds),
        "rounds": rounds,
        "mean_events_per_sec": round(statistics.mean(tps)) if tps else None,
        "convergence_violations": violations,
        "rollback_rounds": rollback_rounds,
        "resync_rounds": resync_rounds,
        # round 0's resync is the consumer bootstrap (a never-committed
        # feed always full-syncs first); every OTHER resync must be
        # caused by a rollback inside the poll window — no spurious
        # full-syncs, no missed rollbacks
        "resyncs_match_rollbacks": (
            set(resync_rounds) - {0} == set(rollback_rounds)
        ),
        "rebucket_rounds": [
            x["round"] for x in out_rounds if x["rebucketed"]
        ],
        "race_round": race_round,
        "race": next(
            (x["race"] for x in out_rounds if x["race"]), None
        ),
        "max_files": max(x["files"] for x in out_rounds),
        "max_manifest_bytes": max(x["manifest_bytes"] for x in out_rounds),
        "max_snapshot_dir_entries": max(
            x["snapshot_dir_entries"] for x in out_rounds
        ),
        "final_tags": sorted(ing.table().tags()),
        "final_table_rows": ing.table().read(spark).count(),
    }
    print(json.dumps(
        {"metric": "soak_churn", "rounds": out_rounds, "summary": summary}
    ))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
