"""ANN recall + quarantine + rebucket operational features."""

import os

import pytest
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)

SF = "/root/testdata/sf0.01"


def test_multi_table_lsh_recall(spark):
    """Recall@10 of multi-table LSH vs exact brute force, averaged over
    several query points — must clear 0.8 at the default 3 planes × 12
    tables (measured 0.975 on this corpus; each table alone catches only
    same-octant neighbours, the union recovers the rest). Deterministic:
    fixed hyperplanes, fixed queries."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    recalls = []
    for q in [0, 7, 42, 99]:
        exact = {
            r["vec_id"]
            for r in cosine_topk_bruteforce(emb, query_vec_id=q, k=10).collect()
        }
        approx = {
            r["vec_id"]
            for r in cosine_topk_lsh(emb, query_vec_id=q, k=10).collect()
        }
        recalls.append(len(exact & approx) / 10)
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.8, recalls


def test_quarantine_sink(spark, tmp_lake, tmp_path_factory):
    import datetime

    from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
    from runyoro_llm_data_pipeline_spark.cdc.events import EVENT_SCHEMA
    from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
    from pyspark.sql import types as T

    ts = datetime.datetime(2024, 1, 1)
    relaxed = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in EVENT_SCHEMA.fields]
    )
    df = spark.createDataFrame(
        [
            ("insert", "c1", 0, "user", "good", None, ts, ts, 1, 0),
            ("badop", "c1", 1, "user", "bad op", None, ts, ts, 2, 0),
            ("insert", None, 2, "user", "bad key", None, ts, ts, 3, 0),
        ],
        relaxed,
    )
    qdir = str(tmp_path_factory.mktemp("quarantine"))
    ing = CdcIngest(os.path.join(tmp_lake, "t"), "/nonexistent", num_buckets=4)
    r = apply_batch(
        spark, ing.table(), df, 0, quarantine_dir=qdir
    )
    assert r["rejected_rows"] == 2
    quarantined = spark.read.parquet(os.path.join(qdir, "batch_00000"))
    assert quarantined.count() == 2
    assert set(
        x["op"] for x in quarantined.select("op").collect()
    ) == {"badop", "insert"}


def test_rebucket_preserves_state(spark, tmp_lake, tmp_path_factory):
    from runyoro_llm_data_pipeline_spark.cdc.generator import (
        gen_change_log,
        write_batch_files,
    )
    from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
    from runyoro_llm_data_pipeline_spark.lake.table import LakeTable

    d = str(tmp_path_factory.mktemp("rb"))
    events, expected = gen_change_log(spark, n_turns=300, n_convs=15, n_batches=2)
    write_batch_files(events, d)
    ing = CdcIngest(os.path.join(tmp_lake, "t"), d, num_buckets=4)
    ing.run(spark)
    t = ing.table()
    before = sorted(
        map(tuple, t.read(spark).select("conv_id", "turn_idx", "text").collect())
    )
    t.rebucket(spark, 16)
    t2 = LakeTable.load(os.path.join(tmp_lake, "t"))
    assert t2.num_buckets == 16
    after = sorted(
        map(tuple, t2.read(spark).select("conv_id", "turn_idx", "text").collect())
    )
    assert before == after
    assert {f["bucket"] for f in t2.current().files} <= set(range(16))
    # point lookup works against the new layout
    conv = before[0][0]
    assert t2.read_conversation(spark, conv).count() == sum(
        1 for r in before if r[0] == conv
    )


def test_embedding_near_dup_shape_and_canonical(spark):
    """Embedding-cosine near-dup (round 3): canonical vec_a < vec_b pairs,
    every returned cosine >= threshold, deterministic across runs, and the
    plan contains no cartesian product — candidates come from the
    (tbl, sig) bucket equi-join."""
    from runyoro_llm_data_pipeline_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = embedding_near_dup_pairs(emb, threshold=0.3)
    rows = got.collect()
    assert rows, "expected some near-dup pairs at threshold 0.3"
    for r in rows:
        assert r["vec_a"] < r["vec_b"]
        assert r["cosine"] >= 0.3
    again = {(r["vec_a"], r["vec_b"], r["cosine"])
             for r in embedding_near_dup_pairs(emb, threshold=0.3).collect()}
    assert {(r["vec_a"], r["vec_b"], r["cosine"]) for r in rows} == again
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_kmeans_codebook_trainer(spark):
    """Lloyd's trainer (round 3): deterministic under a seed, converging
    (centroid shift strictly shrinks from first to last iteration, mean
    best-cosine does not degrade), shuffle-free E-step (the assignment
    plan has NO Exchange — the codebook rides as plan literals), and the
    trained codebook slots into the IVF query path with the same
    recall-reaches-1.0-at-full-probe contract as the label stand-in."""
    from runyoro_llm_data_pipeline_spark.operators.similarity import (
        _argmax_cluster_expr,
        cosine_topk_ivf,
        train_kmeans_codebook,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    hist = []
    cb = train_kmeans_codebook(emb, k=8, n_iters=8, seed=1, history=hist)
    rows = {r["cluster"]: r["c"] for r in cb.collect()}
    assert sorted(rows) == list(range(8))
    assert all(len(v) == 64 for v in rows.values())

    # convergence diagnostics
    assert len(hist) >= 2
    assert hist[-1]["shift"] < hist[0]["shift"]
    assert hist[-1]["mean_best_cos"] >= hist[0]["mean_best_cos"] - 1e-9

    # determinism: retrain → bit-identical codebook
    cb2 = {r["cluster"]: r["c"] for r in
           train_kmeans_codebook(emb, k=8, n_iters=8, seed=1).collect()}
    assert rows == cb2

    # E-step is map-only: no Exchange anywhere in the assignment plan
    cluster_col, _ = _argmax_cluster_expr(
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
        [list(rows[i]) for i in range(8)],
    )
    assigned = emb.select("vec_id", cluster_col)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

    # trained codebook serves the IVF query path; full probe == exact
    exact = {r["vec_id"]
             for r in cosine_topk_bruteforce(emb, query_vec_id=7, k=10).collect()}
    full = {r["vec_id"]
            for r in cosine_topk_ivf(emb, query_vec_id=7, k=10, nprobe=8,
                                     centroids=cb).collect()}
    assert full == exact
    part = {r["vec_id"]
            for r in cosine_topk_ivf(emb, query_vec_id=7, k=10, nprobe=2,
                                     centroids=cb).collect()}
    assert len(part) == 10

    # degenerate corpus: k clusters over few vectors — empty clusters
    # keep their seed centroid, codebook stays k rows, no crash
    tiny = emb.limit(9)
    cb3 = train_kmeans_codebook(tiny, k=8, n_iters=3, seed=0)
    assert cb3.count() == 8
    with pytest.raises(ValueError, match="exceeds corpus"):
        train_kmeans_codebook(emb.limit(3), k=8, n_iters=1)


def test_ivf_recall_and_shape(spark):
    """IVF ANN (round 3): recall@10 vs brute force over several queries
    must clear 0.5 at nprobe=3 of 10 label-clusters (random-ish corpus —
    IVF recall is corpus-dependent; the contract here is the plan shape
    and determinism). Assignment shuffles one row per vector (map-side
    max_by collapse), never docs x K."""
    from runyoro_llm_data_pipeline_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk_ivf,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = build_ivf_index(emb)
    assert idx.count() == emb.count()  # every vector assigned exactly once

    def mean_recall(nprobe):
        recalls = []
        for q in [0, 7, 42]:
            exact = {
                r["vec_id"]
                for r in cosine_topk_bruteforce(emb, query_vec_id=q, k=10).collect()
            }
            got = {
                r["vec_id"]
                for r in cosine_topk_ivf(emb, query_vec_id=q, k=10,
                                         nprobe=nprobe, index=idx).collect()
            }
            assert len(got) == 10
            recalls.append(len(exact & got) / 10)
        return sum(recalls) / len(recalls)

    # labels are NOT geometric clusters on this corpus, so absolute
    # recall at small nprobe is modest — the IVF contract is that recall
    # rises with probes and reaches 1.0 when all lists are probed
    r3 = mean_recall(3)
    assert r3 >= 0.3, r3
    assert mean_recall(6) >= r3
    assert mean_recall(10) == 1.0  # all lists probed == exact

    # determinism across a rebuilt index
    a = cosine_topk_ivf(emb, query_vec_id=0, k=10).collect()
    b = cosine_topk_ivf(emb, query_vec_id=0, k=10).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]

    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the docs x K comparison never crosses an exchange: shuffles are
    # the one-row-per-vector assignment (vec_id) and the K-row codebook
    # aggregation (cluster, partial-aggregated so rows ∝ labels)
    import re
    exchanges = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert exchanges and all(
        e.startswith(("vec_id", "cluster")) for e in exchanges
    ), exchanges


def test_lsh_index_arrow_kernel_matches_expression(spark):
    """The BLAS builder must produce the identical (vec_id, tbl, sig)
    table as the oracle-matched expression path on the fixtures, for both
    the 3-plane serving index and the 8-plane near-dup index."""
    from runyoro_llm_data_pipeline_spark.operators.similarity import (
        build_lsh_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for n_planes in (3, 8):
        a = sorted(
            map(tuple, build_lsh_index(emb, n_planes=n_planes).collect())
        )
        b = sorted(
            map(
                tuple,
                build_lsh_index(
                    emb, n_planes=n_planes, kernel="arrow"
                ).collect(),
            )
        )
        assert a == b
