"""Bench harness — headline queries at $SPARK_GRAFT_SF_DIR plus CDC apply
throughput, printed as ONE JSON line.

Per the driver contract: runs on ``local[host_cpus()]`` (``$SPARK_GRAFT_CPUS``
when set, else the CPUs this process may use) and prints
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.
Extra keys: ``cdc`` (events/sec of the end-to-end apply path — the
BASELINE.json headline metric) and ``rows`` per query for sanity.

Executor-scaling evidence lives in ``bench_scaling_cluster.py`` /
``BENCH.md``; this file is the per-round loop.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from runyoro_llm_data_pipeline_spark.session import get_spark, host_cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = host_cpus()

# headline subset: every operator family, weighted to the heavy ones
HEADLINE = [
    "cdc_latest_wins",
    "cdc_latest_wins_salted",
    "cdc_stream_apply",
    "conversation_threads",
    "turn_enumeration",
    "sessionization",
    "q1_pricing_summary",
    "shipping_priority",
    "nation_order_rollup",
    "anti_join_users_without_errors",
    "dedup_exact",
    "ngram_jaccard_pairs",
    "minhash_lsh_candidates",
    "near_dup_verified",
    "simhash",
    "dedup_clusters",
    "knn_bruteforce",
    "knn_lsh",
    "embedding_near_dup",
    "knn_ivf",
    "label_centroids",
    "fingerprint",
    "doc_stats",
    "audio_text_pairs",
    "forced_alignment",
    "scrape_extract",
    "url_canonical",
    "asof_last_view",
    "regime_range_join",
    "event_value_quantiles",
    "top_orders_per_segment",
    "hash_split",
    "rolling_event_avg",
    "order_priority_pivot",
    "balance_deciles",
    "bigram_repetition",
    "redact_pii",
    "gopher_quality",
    "line_dedup",
    "pack_sequences",
    "mix_sample",
    "decontaminate",
    "dedup_keep_best",
    "pack_windows",
    "dedup_cluster_keep_best",
    "top_shingles",
    "dedup_lines_in_doc",
    "tfidf_top_terms",
    "bm25_search",
    "incremental_near_dup",
    "curation_admit",
]


def bench_ann_index(spark, n_queries: int = 8) -> dict:
    """The ANN serving cost model: build the LSH signature index ONCE
    (materialized to parquet), then run queries as (tbl, sig) equi-joins
    + candidate-only re-scoring against the stored index — per-query cost
    is the candidate fraction, not a full-corpus signature recompute."""
    from pyspark.sql import functions as F

    from runyoro_llm_data_pipeline_spark.operators.similarity import (
        build_lsh_index,
        cosine_topk_lsh,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    work = tempfile.mkdtemp(prefix="ann_idx_")
    try:
        idx_path = os.path.join(work, "lsh_index")
        t0 = time.perf_counter()
        build_lsh_index(emb).write.parquet(idx_path)
        build_sec = round(time.perf_counter() - t0, 3)
        # the corpus-scale bulk builder (one BLAS matmul per Arrow batch;
        # equality-tested against the expression path in test_similarity)
        t0 = time.perf_counter()
        build_lsh_index(emb, kernel="arrow").write.parquet(
            os.path.join(work, "lsh_index_arrow")
        )
        build_arrow_sec = round(time.perf_counter() - t0, 3)
        idx = spark.read.parquet(idx_path)
        t0 = time.perf_counter()
        total_rows = 0
        for q in range(n_queries):
            total_rows += cosine_topk_lsh(
                emb, query_vec_id=q, k=10, index=idx
            ).count()
        query_sec = round((time.perf_counter() - t0) / n_queries, 3)
        return {
            "build_sec": build_sec,
            "build_arrow_sec": build_arrow_sec,
            "query_sec_avg": query_sec,
            "n_queries": n_queries,
            "rows": total_rows,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_queries(spark) -> tuple[dict[str, float], dict[str, int], dict[str, float]]:
    import __spark_entry__ as entrymod

    # warm file listings + footers once so per-query timings measure the
    # query, not first-touch filesystem metadata
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()

    # one-time materializations the serving design amortizes across
    # queries (production materializes both as tables); timed separately
    # so per-query numbers measure the serving path and the build cost
    # stays on the record
    mat: dict[str, float] = {}
    t0 = time.perf_counter()
    entrymod._shingles(spark, SF_DIR).count()
    mat["shingles_build_sec"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    entrymod._lsh_index(spark, SF_DIR).count()
    mat["lsh_index_build_sec"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    entrymod._nd_index(spark, SF_DIR).count()
    mat["nd_index_build_sec"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    entrymod._lines(spark, SF_DIR).count()
    mat["lines_build_sec"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    for part in entrymod._ivf_index(spark, SF_DIR):
        part.count()
    mat["ivf_index_build_sec"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    entrymod._clusters(spark, SF_DIR).count()
    mat["clusters_build_sec"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    entrymod._band_index(spark, SF_DIR).count()
    mat["band_index_build_sec"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    entrymod._tf_index(spark, SF_DIR).count()
    entrymod._bm25_stats(spark, SF_DIR)
    mat["tf_index_build_sec"] = round(time.perf_counter() - t0, 3)

    qs = entrymod.queries()
    times: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name in HEADLINE:
        fn = qs[name]
        t0 = time.perf_counter()
        n = fn(spark, SF_DIR).count()
        times[name] = round(time.perf_counter() - t0, 3)
        rows[name] = n
    return times, rows, mat


def bench_cdc(spark, n_turns: int = 1_000_000) -> dict:
    """End-to-end CDC apply throughput: synthesize a deterministic change
    log (~1.7 events/turn: stale versions, duplicate deliveries, deletes,
    ghosts, hot-key skew), materialize it, then time ingest → committed
    snapshot. events/sec counts *log events applied end-to-end*."""
    from pyspark.sql import functions as F

    from runyoro_llm_data_pipeline_spark.cdc.generator import (
        gen_change_log,
        write_batch_files,
    )
    from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest

    work = tempfile.mkdtemp(prefix="cdc_bench_")
    try:
        log_dir = os.path.join(work, "log")
        events, _ = gen_change_log(
            spark, n_turns=n_turns, n_convs=max(n_turns // 20, 10), n_batches=4,
            tool_from_batch=2,
        )
        write_batch_files(events, log_dir, tool_from_batch=2)
        n_events = sum(
            spark.read.parquet(p).count()
            for _, p in sorted(
                (int(d.split("_")[1]), os.path.join(log_dir, d))
                for d in os.listdir(log_dir)
            )
        )
        # untimed warm-up ingest over a small separate log: the apply
        # path's scan/normalize/collapse/commit codegen is JIT-compiled
        # here instead of inside the timed window — a constant cost any
        # long-running ingest job amortizes away, and the one the
        # query-suite warm-up above does NOT cover (different plan).
        warm_log = os.path.join(work, "warmlog")
        warm, _ = gen_change_log(
            spark, n_turns=max(n_turns // 10, 10_000),
            n_convs=max(n_turns // 200, 10), n_batches=1,
        )
        write_batch_files(warm, warm_log)
        CdcIngest(
            os.path.join(work, "warm_table"), warm_log, num_buckets=32,
            compact_max_files=8,
        ).run(spark)
        shutil.rmtree(os.path.join(work, "warm_table"), ignore_errors=True)
        ing = CdcIngest(
            os.path.join(work, "table"), log_dir, num_buckets=32,
            compact_max_files=8,
        )
        t0 = time.perf_counter()
        results = ing.run(spark)
        dt = time.perf_counter() - t0
        final_rows = ing.table().read(spark).count()
        assert all(r["status"] == "applied" for r in results)
        return {
            "events": n_events,
            "sec": round(dt, 3),
            "events_per_sec": round(n_events / dt, 1),
            "final_rows": final_rows,
            "batches": len(results),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def host_probe() -> dict:
    """Host-health snapshot recorded alongside the result so a degraded
    record is attributable (BENCH.md §3b: suite totals swing ±25% with
    host state on unchanged code). ``spin_ms`` times a fixed single-thread
    CPython loop — steal/contention inflates it proportionally."""
    t0 = time.perf_counter()
    x = 0
    for i in range(5_000_000):
        x += i & 7
    assert x >= 0
    spin_ms = round((time.perf_counter() - t0) * 1000, 1)
    la1, la5, _ = os.getloadavg()
    return {"load_1m": round(la1, 2), "load_5m": round(la5, 2),
            "spin_ms": spin_ms}


def main() -> None:
    host_start = host_probe()
    spark = get_spark(
        app_name="bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 8),
    )
    t_all = time.perf_counter()
    qtimes, qrows, mat = bench_queries(spark)
    ann = bench_ann_index(spark)
    cdc = bench_cdc(spark)
    total = round(time.perf_counter() - t_all, 3)
    host_end = host_probe()
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    record = {
        "metric": "headline_suite_plus_cdc_apply",
        "value": total,
        "unit": "sec",
        "queries": qtimes,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cdc": cdc,
        "ann_index": ann,
        "materialize": mat,
        "cpus": CPUS,
        "host": {"start": host_start, "end": host_end},
    }
    # full record (incl. the bulky per-query row counts) goes to a file;
    # stdout gets ONE compact line (< 2 KB) so a tail-capped capture of
    # this process's output still parses (the round-3 record was lost to
    # exactly that truncation)
    full = dict(record)
    full["rows"] = qrows
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_FULL.json"), "w") as fh:
        json.dump(full, fh, indent=1)
    print(json.dumps(record, separators=(",", ":")))


if __name__ == "__main__":
    main()
