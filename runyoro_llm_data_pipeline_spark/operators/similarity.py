"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (JVM ``F.aggregate`` /
``zip_with`` dot products — no Python); an LSH-bucketed variant is the
scale path: random-hyperplane signatures shrink the candidate set from
|corpus| to one bucket before exact re-scoring.

Design rules mirroring the dedup module:
* arithmetic in **double** end-to-end (embeddings cast once), rounded at
  the output edge to 6 dp so IEEE-identical engines (DuckDB oracle)
  compare exactly;
* hyperplanes are **deterministic** — components derived from md5 of
  (plane, dim) — no RNG, reproducible at any scale;
* top-k is tie-broken by vec_id: fully deterministic output.

Scale: brute force is a broadcast of the query vector over a linear scan —
embarrassingly parallel, no shuffle; right answer up to ~10^9×small-k.
LSH reduces scanned candidates by ~2^n_planes for ANN workloads; IVF
(k-means buckets) slots into the same bucket-join shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine to the corpus vector ``query_vec_id``
    (excluded from results). The query vector is a one-row broadcast; the
    corpus side never shuffles."""
    emb = embeddings.select(
        "vec_id", _as_double(F.col(vec_col)).alias("v")
    )
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("v").alias("q")
    )
    scored = (
        emb.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(_dot(F.col("v"), F.col("q")) / (_norm(F.col("v")) * _norm(F.col("q"))), 6).alias(
                "cosine"
            ),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(k)


def _hyperplane(plane: int, dim: int, table: int = 0) -> list[float]:
    """Deterministic pseudo-random hyperplane: component d ∈ {-1,+1} from
    md5(table|plane|d) parity — fixed for all time, engine-independent."""
    import hashlib

    out = []
    for d in range(dim):
        h = hashlib.md5(f"{table}|{plane}|{d}".encode()).hexdigest()
        out.append(1.0 if int(h[0], 16) >= 8 else -1.0)
    return out


def rh_signature_col(vec, n_planes: int, dim: int, table: int = 0):
    """Random-hyperplane LSH signature: bit p = sign(v · h_p)."""
    bits = []
    for p in range(n_planes):
        hp = F.array(*[F.lit(c) for c in _hyperplane(p, dim, table)])
        bits.append(F.when(_dot(vec, hp) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def infer_dim(embeddings: DataFrame, vec_col: str = "embedding") -> int:
    """Embedding dimensionality from the first vector (1-row driver job).
    Hyperplanes MUST match the true dim: with a wrong dim, ``zip_with``
    null-pads, every dot product goes null, and each signature bit
    silently collapses to '0' — LSH degrades to an all-match filter."""
    row = embeddings.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row["d"] is None or row["d"] <= 0:
        raise ValueError(f"cannot infer embedding dim from column {vec_col!r}")
    return int(row["d"])


def _checked_vec(v, dim: int):
    """Fail loudly (not silently-null) on any row whose vector length
    differs from the hyperplane dim."""
    return F.when(F.size(v) == dim, v).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"embedding dim mismatch: expected {dim}, got "),
                F.size(v).cast("string"),
            )
        )
    )


def build_lsh_index(
    embeddings: DataFrame,
    n_planes: int = 3,
    n_tables: int = 12,
    dim: int | None = None,
    vec_col: str = "embedding",
    kernel: str = "expr",
) -> DataFrame:
    """The ANN **index**: one row per (vec_id, tbl) with the vector's
    random-hyperplane signature in that hash table — ``docs × n_tables``
    rows, computed in ONE pass over the corpus. Materialize it once
    (parquet, partitioned however the serving layer likes) and every query
    becomes an equi-join on (tbl, sig) against ~|corpus|·n_tables/2^n_planes
    candidate rows — no per-query signature recompute over the corpus.

    ``kernel="expr"`` (default) computes the n_tables × n_planes dot
    products as Catalyst higher-order-function expressions — the
    oracle-matched reference path (sequential left-to-right sums, exactly
    what the DuckDB twin computes). ``kernel="arrow"`` streams Arrow
    batches through one numpy matmul per batch (`mapInPandas`: V @ H for
    the whole batch and every table at once) — the corpus-scale build
    path, ~an order of magnitude faster because HOF lambdas are
    interpreted per element while the matmul is BLAS. The two kernels are
    equality-tested on the fixtures; they could in principle differ on a
    dot product within ~1e-13 of exactly 0 (pairwise vs sequential
    summation order at the sign boundary). The gate queries build their
    stored indexes with ``kernel="arrow"`` (``_lsh_index`` and
    ``_nd_index`` in ``__spark_entry__.py``), so their oracle parity
    also checks the arrow kernel against the DuckDB twin's sequential
    sums; the expression path stays the default."""
    if kernel == "arrow":
        return _build_lsh_index_arrow(
            embeddings, n_planes, n_tables, dim, vec_col
        )
    emb = embeddings.select("vec_id", _as_double(F.col(vec_col)).alias("v"))
    if dim is None:
        dim = infer_dim(embeddings, vec_col)
    v = _checked_vec(F.col("v"), dim)
    per_table = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                rh_signature_col(v, n_planes, dim, table=t).alias("sig"),
            )
            for t in range(n_tables)
        ]
    )
    return emb.select(
        "vec_id", F.explode(per_table).alias("e")
    ).select("vec_id", F.col("e.tbl").alias("tbl"), F.col("e.sig").alias("sig"))


def _build_lsh_index_arrow(
    embeddings: DataFrame,
    n_planes: int,
    n_tables: int,
    dim: int | None,
    vec_col: str,
) -> DataFrame:
    """Arrow/BLAS builder behind ``build_lsh_index(kernel="arrow")``: the
    hyperplane family is materialized ONCE driver-side as a (dim ×
    n_tables·n_planes) ±1 matrix (same md5-parity components as the
    expression path, so signatures are identical bit-for-bit up to the
    sign-boundary caveat in the caller's docstring), then each Arrow batch
    is a single matmul + vectorized bit-string assembly — zero per-row
    Python."""
    import numpy as np

    if n_planes > 18:
        # the signature is packed as n_planes decimal digits in an int64;
        # 10**19 exceeds int64 and numpy wraps SILENTLY, so signatures
        # would stop matching the expression path with no error raised
        raise ValueError(
            f"kernel='arrow' packs signatures as decimal digits in int64 "
            f"and supports n_planes <= 18 (got {n_planes}); use the "
            f"expression kernel for wider signatures"
        )
    if dim is None:
        dim = infer_dim(embeddings, vec_col)
    planes = np.array(
        [
            _hyperplane(p, dim, table=t)
            for t in range(n_tables)
            for p in range(n_planes)
        ],
        dtype=np.float64,
    ).T  # dim × (n_tables · n_planes)
    n_t, n_p, d = n_tables, n_planes, dim
    pow10 = 10 ** np.arange(n_p - 1, -1, -1, dtype=np.int64)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
            )
            if V.ndim != 2 or V.shape[1] != d:
                raise ValueError(
                    f"embedding dim mismatch: expected {d}, got "
                    f"{V.shape[1] if V.ndim == 2 else 'ragged'}"
                )
            bits = (V @ planes >= 0).astype(np.int64)  # n × (T·P)
            vec_ids = pdf["vec_id"].to_numpy()
            out_ids = np.repeat(vec_ids, n_t)
            out_tbl = np.tile(np.arange(n_t, dtype=np.int32), n)
            codes = bits.reshape(n, n_t, n_p) @ pow10  # n × T decimal codes
            sig = np.char.zfill(
                codes.reshape(n * n_t).astype("U"), n_p
            )
            yield pd.DataFrame(
                {"vec_id": out_ids, "tbl": out_tbl, "sig": sig}
            )

    emb = embeddings.select(
        "vec_id", _as_double(F.col(vec_col)).alias("v")
    )
    return emb.mapInPandas(gen, schema="vec_id long, tbl int, sig string")


def cosine_topk_lsh(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_planes: int = 3,
    dim: int | None = None,
    vec_col: str = "embedding",
    n_tables: int = 12,
    index: DataFrame | None = None,
) -> DataFrame:
    """ANN: score only vectors whose hyperplane signature matches the
    query's in at least one of ``n_tables`` independent hash tables
    (standard multi-table LSH: per-table candidate fraction ≈ 2^-n_planes,
    union across tables recovers recall; recall pinned by
    tests/test_similarity.py).

    Index-shaped: candidates come from an equi-join of the query's
    ``n_tables`` signature rows (broadcast) against the signature table —
    a hash join selecting the candidate fraction, not a corpus scan with
    post-hoc filtering. Pass ``index`` (from ``build_lsh_index``, e.g.
    read back from parquet) to serve many queries off one build; exact
    cosine re-scoring touches only the candidate rows."""
    emb = embeddings.select("vec_id", _as_double(F.col(vec_col)).alias("v"))
    idx = (
        index
        if index is not None
        else build_lsh_index(embeddings, n_planes, n_tables, dim, vec_col)
    )
    qsig = idx.filter(F.col("vec_id") == query_vec_id).select("tbl", "sig")
    cands = (
        idx.join(F.broadcast(qsig), on=["tbl", "sig"])
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id")
        .distinct()
    )
    q = emb.filter(F.col("vec_id") == query_vec_id).select(F.col("v").alias("q"))
    return (
        cands.join(emb, "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                _dot(F.col("v"), F.col("q")) / (_norm(F.col("v")) * _norm(F.col("q"))), 6
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def centroids_by_label(
    embeddings: DataFrame, dim: int | None = None, vec_col: str = "embedding"
) -> DataFrame:
    """(cluster, c: array<double>) coarse-quantizer codebook: per-label
    mean vectors via the explode-free per-dimension aggregate (shuffle ∝
    labels). Labels stand in for a trained k-means codebook here —
    deterministic and oracle-able; a real trainer plugs in by passing its
    own (cluster, c) frame to the IVF functions."""
    if dim is None:
        dim = infer_dim(embeddings, vec_col)
    emb = embeddings.select(
        F.col("label").alias("cluster"),
        _checked_vec(_as_double(F.col(vec_col)), dim).alias("v"),
    )
    agg = emb.groupBy("cluster").agg(
        *[F.avg(F.element_at("v", d + 1)).alias(f"__c{d}") for d in range(dim)]
    )
    return agg.select(
        "cluster",
        F.array(*[F.col(f"__c{d}") for d in range(dim)]).alias("c"),
    )


def build_ivf_index(
    embeddings: DataFrame,
    dim: int | None = None,
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF inverted-list assignment: each vector → its nearest centroid
    by cosine. The K-row codebook broadcasts; the docs×K comparison rows
    exist only inside the map stage (the broadcast join preserves the
    scan's partitioning, so the per-vector ``max_by`` fully collapses
    map-side) — **shuffle rows ∝ docs, never docs×K**. Ties break to the
    smallest cluster id (max over (cosine, −cluster)), mirrored in the
    oracle's ``ORDER BY cs DESC, cluster ASC``. Materialize the result
    (parquet, partitioned by cluster) as the serving index."""
    cents = (
        centroids
        if centroids is not None
        else centroids_by_label(embeddings, dim, vec_col)
    )
    if dim is None:
        dim = infer_dim(embeddings, vec_col)
    emb = embeddings.select(
        "vec_id", _checked_vec(_as_double(F.col(vec_col)), dim).alias("v")
    )
    j = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cluster",
        (
            _dot(F.col("v"), F.col("c"))
            / (_norm(F.col("v")) * _norm(F.col("c")))
        ).alias("cs"),
    )
    ordv = F.struct(F.col("cs"), (-F.col("cluster")).alias("neg"))
    return j.groupBy("vec_id").agg(
        F.max_by(F.col("cluster"), ordv).alias("cluster")
    )


def cosine_topk_ivf(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    nprobe: int = 3,
    dim: int | None = None,
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN query: rank centroids by cosine to the query, probe the
    top ``nprobe`` inverted lists, exact-rescore ONLY their members —
    the classic coarse-quantize-then-scan ANN alternative to the LSH
    path (``cosine_topk_lsh``), sharing its output contract
    (vec_id, cosine rounded 6dp, ties → vec_id). Candidate fraction ≈
    nprobe/K; pass a materialized ``index`` (from ``build_ivf_index``)
    to serve repeated queries off one assignment pass."""
    cents = (
        centroids
        if centroids is not None
        else centroids_by_label(embeddings, dim, vec_col)
    )
    idx = (
        index
        if index is not None
        else build_ivf_index(embeddings, dim, vec_col, centroids=cents)
    )
    emb = embeddings.select("vec_id", _as_double(F.col(vec_col)).alias("v"))
    q = emb.filter(F.col("vec_id") == query_vec_id).select(F.col("v").alias("q"))
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select(
            "cluster",
            (
                _dot(F.col("c"), F.col("q"))
                / (_norm(F.col("c")) * _norm(F.col("q")))
            ).alias("cs"),
        )
        .orderBy(F.col("cs").desc(), F.col("cluster"))
        .limit(nprobe)
        .select("cluster")
    )
    cands = (
        idx.join(F.broadcast(probe), "cluster")
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id")
    )
    return (
        cands.join(emb, "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                _dot(F.col("v"), F.col("q"))
                / (_norm(F.col("v")) * _norm(F.col("q"))),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def _argmax_cluster_expr(v, codebook: list[list[float]]):
    """Nearest-centroid-by-cosine as a pure column expression over a
    driver-side codebook (k × dim Python floats): cosine to each centroid
    is a JVM ``zip_with``/``aggregate`` against a literal array, and the
    argmax is ``F.greatest`` over (cosine, −cluster) structs — ties break
    to the smallest cluster id, matching :func:`build_ivf_index`'s
    ``max_by`` ordering. ZERO shuffle: the whole E-step stays inside the
    scan's map stage (the codebook travels as plan literals, the
    executor-side analogue of a broadcast)."""
    import math

    pairs = []
    for i, cent in enumerate(codebook):
        c = F.array(*[F.lit(float(x)) for x in cent])
        cn = math.sqrt(sum(x * x for x in cent)) or 1.0
        cs = _dot(v, c) / (_norm(v) * F.lit(cn))
        pairs.append(F.struct(cs.alias("cs"), F.lit(-i).alias("neg")))
    best = pairs[0] if len(pairs) == 1 else F.greatest(*pairs)
    return (-best["neg"]).alias("cluster"), best["cs"].alias("best_cs")


def train_kmeans_codebook(
    embeddings: DataFrame,
    k: int = 8,
    n_iters: int = 10,
    seed: int = 0,
    tol: float = 1e-6,
    dim: int | None = None,
    vec_col: str = "embedding",
    history: list | None = None,
) -> DataFrame:
    """Distributed Lloyd's k-means trainer for the IVF coarse quantizer —
    replaces the label-derived stand-in codebook (:func:`centroids_by_label`)
    with a learned one; the result plugs straight into
    ``build_ivf_index(..., centroids=...)`` / ``cosine_topk_ivf``.
    (Trains the quantizer the reference has no analogue for; cited scope:
    the pipeline's similarity family, SURVEY.md §2 ANN rows.)

    Spark shape, chosen for 10⁹-vector corpora:

    * **E-step is shuffle-free**: nearest-centroid assignment is a column
      expression over the (k × dim ≤ a few thousand doubles) codebook
      held as plan literals (:func:`_argmax_cluster_expr`) — no join, no
      ``groupBy``, whole-stage codegen end to end.
    * **M-step shuffles ∝ k × partitions, not rows**: one
      ``groupBy(cluster)`` with per-dimension ``F.sum(element_at)`` —
      the same explode-free partial-aggregate shape as
      :func:`pairwise_label_centroids` — then the k×(dim+1) partial
      results collect to the driver, where the new means are computed.
      Collecting the *codebook* (never the data) each iteration also
      truncates the lineage so the plan doesn't grow with iterations.
    * The corpus projection is cached across iterations
      (``MEMORY_AND_DISK``) and unpersisted on exit.
    * **Deterministic**: seeds are the k vectors minimizing
      ``xxhash64(vec_id, seed)`` (a TakeOrdered, not an RNG); empty
      clusters keep their previous centroid; same input + seed ⇒
      bit-identical codebook.

    Convergence: stops early when the max L2 centroid shift < ``tol``.
    Pass ``history=[]`` to receive per-iteration
    ``{"iter", "shift", "mean_best_cos"}`` diagnostics.

    Returns a (cluster int, c array<double>) DataFrame (the
    ``centroids_by_label`` contract).
    """
    import math

    spark = embeddings.sparkSession
    if dim is None:
        dim = infer_dim(embeddings, vec_col)
    if k < 1:
        raise ValueError("k must be >= 1")
    emb = embeddings.select(
        "vec_id", _checked_vec(_as_double(F.col(vec_col)), dim).alias("v")
    )
    from pyspark import StorageLevel

    emb = emb.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        seed_rows = (
            emb.orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)), F.col("vec_id"))
            .limit(k)
            .select("v")
            .collect()
        )
        if len(seed_rows) < k:
            raise ValueError(
                f"k={k} exceeds corpus size {len(seed_rows)}; shrink k"
            )
        codebook = [[float(x) for x in r["v"]] for r in seed_rows]
        for it in range(n_iters):
            cluster_col, best_cs_col = _argmax_cluster_expr(F.col("v"), codebook)
            assigned = emb.select("v", cluster_col, best_cs_col)
            agg = (
                assigned.groupBy("cluster")
                .agg(
                    F.count("*").alias("__n"),
                    F.sum("best_cs").alias("__cs"),
                    *[
                        F.sum(F.element_at("v", d + 1)).alias(f"__s{d}")
                        for d in range(dim)
                    ],
                )
                .collect()
            )
            new_codebook = [list(c) for c in codebook]  # empty clusters keep
            n_total, cs_total = 0, 0.0
            for row in agg:
                i, n = int(row["cluster"]), int(row["__n"])
                n_total += n
                cs_total += float(row["__cs"])
                new_codebook[i] = [float(row[f"__s{d}"]) / n for d in range(dim)]
            shift = max(
                math.sqrt(sum((a - b) * (a - b) for a, b in zip(old, new)))
                for old, new in zip(codebook, new_codebook)
            )
            if history is not None:
                history.append(
                    {
                        "iter": it,
                        "shift": shift,
                        "mean_best_cos": cs_total / max(n_total, 1),
                    }
                )
            codebook = new_codebook
            if shift < tol:
                break
    finally:
        emb.unpersist()
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(codebook)],
        "cluster int, c array<double>",
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 8,
    n_tables: int = 12,
    dim: int | None = None,
    vec_col: str = "embedding",
    index: DataFrame | None = None,
    max_ids_per_bucket: int = 512,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector-space member of
    the dedup family (exact / n-gram / MinHash / SimHash are the text
    members): candidate pairs share an LSH bucket in ≥1 of ``n_tables``
    hash tables, then ONLY candidates get exact cosine verification and
    the ``cosine ≥ threshold`` filter (rounded to 6 dp first, so the
    DuckDB oracle's boundary decisions are identical).

    Scale shape mirrors ``minhash_lsh_candidates``: candidate generation
    is an equi-join on the (tbl, sig) bucket key — never doc×doc — with
    a stop-bucket cap (``max_ids_per_bucket``, window count over the
    join key's own shuffle) bounding degenerate buckets at
    O(cap × rows). ``n_planes`` sets bucket granularity: size ≈
    |corpus| / 2^n_planes per table, so production scales planes ≈
    log2(corpus / target_bucket). Pass a 6-plane ``build_lsh_index``
    frame via ``index`` to serve repeated runs off one materialized
    pass."""
    from pyspark.sql import Window

    emb = embeddings.select("vec_id", _as_double(F.col(vec_col)).alias("v"))
    idx = (
        index
        if index is not None
        else build_lsh_index(embeddings, n_planes, n_tables, dim, vec_col)
    )
    if max_ids_per_bucket is not None:
        idx = (
            idx.withColumn(
                "__n", F.count("*").over(Window.partitionBy("tbl", "sig"))
            )
            .filter(F.col("__n") <= max_ids_per_bucket)
            .drop("__n")
        )
    a = idx.alias("a")
    b = idx.alias("b")
    pairs = (
        a.join(b, on=["tbl", "sig"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("x"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("y"))
    cos = F.round(
        _dot(F.col("x"), F.col("y")) / (_norm(F.col("x")) * _norm(F.col("y"))),
        6,
    )
    return (
        pairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def pairwise_label_centroids(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label centroid norms (IVF building block): mean vector per label
    as ONE ``groupBy(label)`` with per-dimension JVM sums — no explode.

    Round-2 shape exploded every embedding (``posexplode`` → docs×dims
    shuffle rows: 10¹² at 10⁹ docs × 1024 dims). This shape keeps each
    vector inside its row: the aggregate is map-side-combinable, so only
    one partial row **per label per partition** (dim sum columns + count)
    crosses the wire — shuffle rows ∝ labels × partitions, independent of
    corpus size. ``mean_d = sum_d/n`` is bit-identical to ``avg`` (both
    engines compute avg as sum/count), so the DuckDB oracle is unchanged.
    (``Summarizer.mean`` over ml vectors is the same shape but uses a
    running-mean update that differs in the last ulp from sum/n.)
    """
    raw = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = infer_dim(raw)
    emb = raw.select(
        "label", _checked_vec(_as_double(F.col("embedding")), dim).alias("v")
    )
    agg = emb.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        *[
            F.sum(F.element_at("v", d + 1)).alias(f"__s{d}")
            for d in range(dim)
        ],
    )
    n = F.col("n_vectors")
    sq = None
    for d in range(dim):
        m = F.col(f"__s{d}") / n
        sq = m * m if sq is None else sq + m * m
    return agg.select(
        "label",
        F.round(F.sqrt(sq), 6).alias("centroid_norm"),
        "n_vectors",
    )
