"""Bench harness — the curation query suite at $SPARK_GRAFT_SF_DIR, printed
as ONE JSON line.

Runs on the engine's own session (``get_spark()`` defaults:
``local[host_cpus()]``, shuffle partitions ≈ cores) and prints
``{"metric": "headline_suite", "value": N, "unit": "sec", "queries": {...},
"sf": ...}`` plus the ANN-index and materialization timings and a host
probe; ``BENCH_FULL.json`` also gets the ``rows`` per query for sanity.

CDC ingest is measured by ``perfbench/run.py`` (oracle-gated); executor
scaling by ``bench_scaling_cluster.py``.
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
    spark = get_spark(app_name="bench")
    t_all = time.perf_counter()
    qtimes, qrows, mat = bench_queries(spark)
    ann = bench_ann_index(spark)
    total = round(time.perf_counter() - t_all, 3)
    host_end = host_probe()
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    record = {
        "metric": "headline_suite",
        "value": total,
        "unit": "sec",
        "queries": qtimes,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
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
