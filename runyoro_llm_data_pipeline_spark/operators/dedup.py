"""Deduplication operators for training-data curation: exact, n-gram
Jaccard, MinHash+LSH, SimHash.

The reference dedups only whole sources by content hash
(``scripts/orchestrator.py:63-101``); a 100 TB corpus additionally needs
near-duplicate detection. All variants here share design rules:

* **hashes are md5 hex strings** — identical bytes in any engine, so the
  DuckDB oracle matches exactly and no engine-specific 64-bit hash leaks
  into results;
* **no cross-product**: candidate generation is always equi-join on a
  bucket key (exact hash, shingle, or LSH band), never doc×doc. The
  shingle self-join is the worst case and is bounded by shingle-frequency
  (a stop-shingle cap can be added for adversarial corpora);
* pair output is canonicalized ``doc_a < doc_b`` and aggregated with
  integer arithmetic only.

Scale notes: exact dedup is one hash aggregate (map-side combined).
MinHash/LSH shuffles ``docs × n_perm`` tiny rows then ``docs × n_bands``
band keys — linear in corpus size; candidate verification re-joins only
the candidate pairs. SimHash is a per-doc projection (no shuffle at all)
usable for blocked Hamming-distance search downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.operators.textstats import tokens_col

SHINGLE_K = 3

# frequency caps — the standard stop-shingle / stop-band guards against
# degenerate corpora where one bucket key goes quadratic. Far above
# anything a natural corpus produces per key; mirrored bit-for-bit in the
# DuckDB oracles so capped results stay verifiable.
MAX_DOCS_PER_SHINGLE = 256
MAX_DOCS_PER_BAND_KEY = 64


def _spread(df: DataFrame) -> DataFrame:
    """Small-input guard for CPU-heavy projection stages: a corpus that
    arrives as one tiny parquet file (single row group → unsplittable)
    would serialize tokenize/shingle/md5 work onto ONE core. If the scan
    has fewer partitions than the session's parallelism, repartition first
    (the shuffle moves only raw docs). At scale the input already has
    many splits and this is a structural no-op."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def shingles_col(text, k: int = SHINGLE_K):
    """Distinct k-word shingles of the text (array<string>); docs shorter
    than k words yield their full token join (1 shingle) so no doc is
    silently dropped."""
    toks = tokens_col(text)
    n = F.size(toks)
    full = F.array(F.concat_ws(" ", toks))
    sh = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    return F.array_distinct(F.when(n >= k, sh).otherwise(full))


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by md5(text): canonical doc (min doc_id) and
    group size. One hash aggregate; the canonical-pick is `min` (not
    row_number) so it partial-aggregates map-side."""
    h = F.md5(F.col(text_col))
    return (
        docs.select(F.col("doc_id"), h.alias("text_md5"))
        .groupBy("text_md5")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_dups"),
        )
    )


def doc_shingles(docs: DataFrame, text_col: str = "text", k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, shingle) rows — the shared input of every shingle-based
    dedup operator. At scale, materialize this ONCE (parquet) and pass it
    to ``ngram_jaccard_pairs`` / ``minhash_lsh_candidates`` /
    ``near_dup_verified`` via their ``shingles=`` parameter: tokenization
    + shingle explode is the dominant projection cost and must not be
    paid per-operator."""
    return _spread(docs).select(
        "doc_id", F.explode(shingles_col(F.col(text_col), k)).alias("shingle")
    )


def _sh_or(shingles, docs, text_col, k):
    return shingles if shingles is not None else doc_shingles(docs, text_col, k)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = SHINGLE_K,
    min_common: int = 2,
    jaccard_num: int = 1,
    jaccard_den: int = 5,
    max_docs_per_shingle: int = MAX_DOCS_PER_SHINGLE,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """All doc pairs with shingle-Jaccard ≥ jaccard_num/jaccard_den,
    via shingle-bucket self-join (no cross product). The threshold test is
    integer cross-multiplication — zero float drift:
    ``den*common ≥ num*(|A|+|B|-common)``.

    **Stop-shingle cap**: shingles shared by more than
    ``max_docs_per_shingle`` docs are excluded EVERYWHERE (both the join
    and the per-doc sizes), bounding the self-join at
    O(cap × rows) instead of O(hottest-shingle²) on degenerate corpora;
    Jaccard is then computed over the informative (non-stop) shingle sets
    — the standard stop-word analogue. The oracle applies the identical
    cap, so results stay value-verified."""
    sh = _sh_or(shingles, docs, text_col, k)
    if max_docs_per_shingle is not None:
        # window count, not groupBy+join: one shuffle on `shingle` — the
        # same distribution the self-join needs — and no second branch
        # recomputing the shingle explode
        sh = (
            sh.withColumn(
                "__n_docs", F.count("*").over(Window.partitionBy("shingle"))
            )
            .filter(F.col("__n_docs") <= max_docs_per_shingle)
            .drop("__n_docs")
        )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, on="shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.lit(jaccard_den) * F.col("n_common")
            >= F.lit(jaccard_num) * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b")
    )


def minhash_signatures_wide(
    docs: DataFrame,
    text_col: str = "text",
    n_perm: int = 12,
    k: int = SHINGLE_K,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash: permutation i's hash of a shingle is md5(i || '|' || shingle)
    (a hex string — min is lexicographic, identical in any engine);
    signature element i = min over the doc's shingles.

    Computed as ONE hash aggregate with ``n_perm`` ``min`` expressions over
    the shingle rows (map-side combined) — not an ``n_perm×`` row
    explosion. Output: one row per doc with columns mh0..mh{n_perm-1}."""
    sh = _sh_or(shingles, docs, text_col, k)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(n_perm)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _banded_signatures(
    docs: DataFrame,
    text_col: str = "text",
    n_perm: int = 12,
    band_size: int = 2,
    k: int = SHINGLE_K,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band, band_key) rows: the LSH banding of the minhash
    signature, shared by the self-join candidate generator and the stored
    band index. Band key = concatenated sorted minhashes of the band,
    built straight off the wide signature row (one projection)."""
    wide = minhash_signatures_wide(docs, text_col, n_perm, k, shingles=shingles)
    n_bands = n_perm // band_size
    band_arr = F.array(
        *[
            F.concat_ws(
                "",
                F.array_sort(
                    F.array(
                        *[F.col(f"mh{band_size * j + r}") for r in range(band_size)]
                    )
                ),
            )
            for j in range(n_bands)
        ]
    )
    return wide.select(
        "doc_id", F.posexplode(band_arr).alias("band", "band_key")
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    n_perm: int = 12,
    band_size: int = 2,
    k: int = SHINGLE_K,
    max_docs_per_band_key: int = MAX_DOCS_PER_BAND_KEY,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: group the n_perm signature into bands of ``band_size``;
    band key = concatenated (sorted) minhashes; docs sharing any band key
    are candidate near-duplicates. Returns distinct (doc_a < doc_b) pairs.

    Band keys are built straight from the wide signature row (one
    projection), so the whole pipeline is: shingle explode → one agg →
    band explode → equi-join on (band, band_key). Verification (exact
    Jaccard on candidates only) composes downstream — see
    ``near_dup_verified``.

    **Stop-band cap**: band keys hit by more than
    ``max_docs_per_band_key`` docs are dropped from the self-join (a
    ``count ≤ cap`` pre-aggregate), so one degenerate bucket can never go
    O(bucket²); true near-dup pairs lost to a hot band are still found
    through their other ``n_perm/band_size - 1`` bands — exactly why
    multi-band LSH tolerates stop-bands. Mirrored in the oracle."""
    banded = _banded_signatures(
        docs, text_col, n_perm, band_size, k, shingles=shingles
    )
    if max_docs_per_band_key is not None:
        # window count, not groupBy+join — see ngram_jaccard_pairs
        banded = (
            banded.withColumn(
                "__n_docs",
                F.count("*").over(Window.partitionBy("band", "band_key")),
            )
            .filter(F.col("__n_docs") <= max_docs_per_band_key)
            .drop("__n_docs")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on=["band", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def near_dup_verified(
    docs: DataFrame,
    text_col: str = "text",
    n_perm: int = 12,
    band_size: int = 2,
    k: int = SHINGLE_K,
    jaccard_num: int = 1,
    jaccard_den: int = 5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """The scale path for near-dup detection: LSH candidate generation
    (cheap, linear) followed by exact shingle-Jaccard verification of ONLY
    the candidate pairs — never the all-pairs shingle self-join. Returns
    verified pairs with integer evidence columns.

    ONE shingle frame feeds both halves: candidates (via the minhash
    aggregate) and verification share ``shingles`` (pass a materialized
    parquet frame at scale; without one, the same lineage is reused and a
    production job should persist it — tokenize+shingle is otherwise paid
    twice)."""
    sh = _sh_or(shingles, docs, text_col, k)
    cands = minhash_lsh_candidates(
        docs, text_col, n_perm, band_size, k, shingles=sh
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        cands.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(za, "doc_a")
        .join(zb, "doc_b")
        .filter(
            F.lit(jaccard_den) * F.col("n_common")
            >= F.lit(jaccard_num) * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b")
    )


SIMHASH_BITS = 16


def simhash(docs: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash over tokens with engine-portable bit source: bit j of a
    token's hash is the MSB of hex digit j of md5(token) (digit ≥ '8').
    The doc's simhash bit j is the majority vote over its tokens; output is
    a ``bits``-char '0'/'1' string. Pure projection + one aggregate."""
    tok = _spread(docs).select(
        "doc_id", F.explode(tokens_col(F.col(text_col))).alias("token")
    ).withColumn("h", F.md5(F.col("token")))
    votes = [
        F.sum(
            F.when(
                F.substring("h", j + 1, 1).isin(*"89abcdef"), F.lit(1)
            ).otherwise(F.lit(-1))
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    bit_str = F.concat(
        *[F.when(F.col(f"b{j}") >= 0, F.lit("1")).otherwise(F.lit("0")) for j in range(bits)]
    )
    return agg.select("doc_id", bit_str.alias("simhash"))


LINE_WORDS = 8
MAX_LINE_FREQ = 2


def doc_lines(
    docs: DataFrame, text_col: str = "text", words_per_line: int = LINE_WORDS
):
    """Column expression: the document's text re-segmented into fixed-width
    "lines" of ``words_per_line`` tokens (array<string>). The synthetic
    corpus carries no newlines, so line structure is derived
    deterministically from token position — a real web corpus passes its
    actual newline-split lines through the same downstream contract."""
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    k = words_per_line
    seq = F.sequence(F.lit(0), F.ceil(n / F.lit(float(k))).cast("int") - 1)
    lines = F.transform(
        seq, lambda i: F.concat_ws(" ", F.slice(toks, i * k + 1, k))
    )
    return F.when(n > 0, lines).otherwise(F.array().cast("array<string>"))


def doc_line_rows(
    docs: DataFrame, text_col: str = "text", words_per_line: int = LINE_WORDS
) -> DataFrame:
    """(doc_id, pos, line) rows — the shared input of line-level dedup.
    Like ``doc_shingles``, materialize this ONCE at scale and pass it via
    ``line_dedup(..., lines=...)``: the tokenize+segment+explode projection
    otherwise runs twice (once per side of the frequency self-join)."""
    return docs.select(
        "doc_id",
        F.posexplode(doc_lines(docs, text_col, words_per_line)).alias(
            "pos", "line"
        ),
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    max_line_freq: int = MAX_LINE_FREQ,
    words_per_line: int = LINE_WORDS,
    lines: DataFrame | None = None,
) -> DataFrame:
    """C4-style cross-document line deduplication: drop every line whose
    exact text occurs more than ``max_line_freq`` times corpus-wide
    (boilerplate headers, nav bars, license blurbs), then reassemble each
    document from its surviving lines in original order.

    Plan shape (the part that must survive 100 TB): segment lines in the
    scan stage, ONE hash aggregate for global line frequencies (map-side
    combined — duplicate boilerplate collapses before the exchange), one
    shuffle hash join of lines against their own frequency table (both
    sides partitioned by the line key; AQE handles the skewed boilerplate
    keys), then one groupBy(doc_id) to reassemble. No driver-side state,
    no cross product; total shuffle volume is O(corpus lines), and the
    frequency table is at most one row per *distinct* line.

    Returns (doc_id, n_lines, n_kept, text_deduped) with the surviving
    text joined by '\\n' — a TOTAL map over ``docs``: documents whose
    every line was dropped come back with ``text_deduped = ''``, and
    empty/whitespace-only documents (zero line rows) come back as
    ``(0, 0, '')`` rather than vanishing (kept, not deleted — the
    admission decision belongs to a downstream filter such as
    ``gopher_quality``). The totality join is against the 1-column
    doc_id projection, so it prunes to the scan.
    """
    if lines is None:
        lines = doc_line_rows(docs, text_col, words_per_line)
    freq = lines.groupBy("line").agg(F.count("*").alias("cnt"))
    joined = lines.join(freq, "line")
    keep = F.col("cnt") <= max_line_freq
    agg = joined.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.array_sort(
            F.collect_list(F.when(keep, F.struct("pos", "line")))
        ).alias("kept"),
    )
    return docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_lines", F.lit(0).cast("long")).alias("n_lines"),
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        F.coalesce(
            F.concat_ws(
                "\n", F.transform(F.col("kept"), lambda x: x["line"])
            ),
            F.lit(""),
        ).alias("text_deduped"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    k: int = SHINGLE_K,
    min_overlap: int = 2,
    shingles: DataFrame | None = None,
    bench_shingles: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing at
    least ``min_overlap`` distinct k-word shingles with an evaluation set
    — the standard n-gram decontamination pass (GPT-3 appendix-C family)
    that must run before a corpus is certified for training.

    Plan shape: corpus shingles (shared via ``shingles=`` with the rest
    of the dedup family) equi-join the benchmark's distinct-shingle set.
    Eval suites are small, so the benchmark side is broadcast — the
    corpus never shuffles for the probe; one groupBy(doc_id) counts
    distinct overlaps (corpus shingles are already distinct per doc and
    the broadcast side is globally distinct, so a plain count is the
    distinct-overlap count). Every doc comes back (left join), zero
    overlap included — the admission decision stays with the caller.

    For a benchmark too large to broadcast, pass the same frames and drop
    the broadcast hint upstream; the join degrades to a shuffle hash join
    on the shingle key with identical semantics.
    """
    corpus_sh = _sh_or(shingles, docs, text_col, k)
    bench_sh = (
        bench_shingles
        if bench_shingles is not None
        else doc_shingles(benchmark, text_col, k)
    ).select("shingle").distinct()
    overlap = (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    n = F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long")
    return (
        docs.select("doc_id")
        .join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            n.alias("n_overlap"),
            (n >= min_overlap).alias("contaminated"),
        )
    )


def exact_dedup_keep_best(
    docs: DataFrame,
    text_col: str = "text",
    score=None,
) -> DataFrame:
    """Quality-weighted exact dedup: per md5(text) duplicate group, keep
    the member that maximizes ``score`` (default: token count, ties broken
    by smaller doc_id so the pick is total-ordered and deterministic).
    The curation variant of ``exact_dedup`` — when duplicates differ in
    upstream metadata (scrape completeness, earlier pipeline loss), "keep
    the best copy" beats "keep the first copy".

    Same single map-side-combinable hash aggregate as ``exact_dedup``:
    ``max_by`` over struct(score, -doc_id) partial-aggregates before the
    exchange, so a pathological million-copy document crosses the wire
    once per input partition."""
    from runyoro_llm_data_pipeline_spark.operators.textstats import token_count

    s = score if score is not None else token_count(F.col(text_col))
    ordv = F.struct(
        s.cast("double").alias("s"), (-F.col("doc_id")).alias("tie")
    )
    return (
        docs.select(
            F.col("doc_id"), F.md5(F.col(text_col)).alias("text_md5"), ordv.alias("__o")
        )
        .groupBy("text_md5")
        .agg(
            F.max_by("doc_id", F.col("__o")).alias("kept_doc_id"),
            F.count("*").alias("n_dups"),
        )
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Distributed connected components over a near-dup pair graph:
    min-label propagation with pointer jumping. Returns one row per node
    that appears in any pair: ``(doc_id, cluster_id)`` where
    ``cluster_id`` is the smallest node id in the component — the
    canonical representative the curation pipelines (RefinedWeb, C4)
    keep per duplicate cluster. Pair generators (``near_dup_verified``,
    ``ngram_jaccard_pairs``, ``embedding near-dup``) emit edges; this
    resolves them to clusters, which a single step that drops every
    pair's ``doc_b`` gets wrong whenever similarity chains: a~b, b~c but
    the pair (a,c) was never emitted.

    Why this shape at 100 TB: each iteration is (1) an equi-join of the
    edge list against current labels + a min-aggregate (map-side
    combined), and (2) one label-table self-join (pointer jump
    ``l(v) <- l(l(v))``) — both shuffle O(|E|) / O(|V|) rows with no
    driver-side graph state. Labels are monotone non-increasing and
    bounded below by the component minimum, so the fixpoint is exact;
    pointer jumping collapses label chains geometrically, so iterations
    are O(log diameter) — a 1M-long path converges in ~20 rounds, and
    real near-dup graphs (tiny clusters) converge in 2-3. Per iteration
    the label frame is ``localCheckpoint``-ed: the convergence test needs
    a materialization anyway, and truncating lineage keeps plan size
    constant across iterations (on a cluster, swap for a reliable
    ``checkpoint`` dir; the loop is otherwise unchanged). The driver sees
    one scalar (changed-label count) per iteration, never the graph.
    """
    e = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    edges = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    # seed: min over the closed neighborhood (self ∪ neighbors)
    lbl = edges.groupBy("u").agg(F.min("v").alias("l"))
    lbl = lbl.select("u", F.least(F.col("u"), F.col("l")).alias("l")).localCheckpoint()
    for _ in range(max_iter):
        nbr = (
            edges.join(lbl.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("l").alias("nl"))
        )
        stepped = lbl.join(nbr, "u", "left").select(
            "u", F.least(F.col("l"), F.coalesce(F.col("nl"), F.col("l"))).alias("l")
        )
        parent = stepped.select(
            F.col("u").alias("__p"), F.col("l").alias("__pl")
        )
        jumped = (
            stepped.join(parent, stepped["l"] == parent["__p"], "left")
            .select("u", F.coalesce(F.col("__pl"), F.col("l")).alias("l"))
            .localCheckpoint()
        )
        changed = (
            jumped.withColumnRenamed("l", "new_l")
            .join(lbl, "u")
            .filter(F.col("new_l") != F.col("l"))
            .count()
        )
        lbl = jumped
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations"
            " — raise max_iter (components with diameter D need"
            " ~log2(D)+2 iterations)"
        )
    return lbl.select(F.col("u").alias("doc_id"), F.col("l").alias("cluster_id"))


def dedup_clusters(
    docs: DataFrame, pairs: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Total cluster assignment over the corpus: every doc gets a
    ``cluster_id`` (the min doc_id of its near-dup component; itself when
    it has no near-dup). The downstream keep-policy is then one predicate
    (``doc_id == cluster_id`` keeps the canonical member) or one
    ``max_by`` per cluster for quality-weighted keeps — composable with
    any pair generator. One broadcast-sized join against the component
    table (|components| ≤ 2·|pairs| rows, tiny relative to the corpus)."""
    comp = connected_components(pairs, max_iter=max_iter)
    return docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )


def dedup_cluster_keep_best(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    score=None,
    max_iter: int = 50,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Quality-weighted cluster resolution: resolve near-dup pairs to
    connected components, then keep per cluster the member maximizing
    ``score`` (default token count; ties → smaller doc_id, so the pick is
    total-ordered). The cluster analogue of ``exact_dedup_keep_best`` —
    near-dup groups usually contain one complete copy and several
    truncated/boilerplate-wrapped ones, and "keep the canonical min-id"
    throws away the best copy whenever it isn't the smallest id.

    Cost on top of ``dedup_clusters``: one map-side-combinable ``max_by``
    aggregate keyed by cluster_id — shuffle ∝ docs of a 3-col projection,
    no window, no sort. Pass a materialized ``clusters=`` map (the
    ``dedup_clusters`` output, which production stores as a table) to skip
    re-resolving components — the same serve-from-the-index economics as
    ``shingles=``/``index=`` elsewhere."""
    from runyoro_llm_data_pipeline_spark.operators.textstats import token_count

    if clusters is None:
        if pairs is None:
            raise ValueError("need either pairs= or a clusters= map")
        clusters = dedup_clusters(docs, pairs, max_iter=max_iter)
    s = score if score is not None else token_count(F.col(text_col))
    cl = clusters
    scored = docs.select(
        "doc_id", s.cast("double").alias("__s")
    ).join(cl, "doc_id")
    ordv = F.struct(F.col("__s").alias("s"), (-F.col("doc_id")).alias("tie"))
    return scored.groupBy("cluster_id").agg(
        F.max_by("doc_id", ordv).alias("kept_doc_id"),
        F.count("*").alias("n_members"),
    )


def top_shingles(
    docs: DataFrame,
    text_col: str = "text",
    k_top: int = 20,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Corpus-wide heavy-hitter shingles by document frequency — the
    boilerplate probe (cookie banners, nav chrome, license headers show up
    here first; feed the result into line/shingle stop-lists). One
    map-side-combined hash aggregate over the shared shingle table, then a
    top-k: TakeOrderedAndProject, never a global sort. Ties broken by
    shingle text so the result is total-ordered and value-verifiable."""
    sh = _sh_or(shingles, docs, text_col, SHINGLE_K)
    return (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("shingle"))
        .limit(k_top)
    )


def dedup_lines_in_doc(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Within-document repeated-line removal (keep the FIRST occurrence of
    each distinct line, preserve original order) — the intra-doc half of
    C4-style cleaning, complementing the cross-corpus ``line_dedup``.
    Markdown boilerplate, repeated nav rows, and chat-log echo lines
    collapse here without touching any other document.

    Zero shuffle by construction: ``split`` → ``array_distinct`` (which
    keeps first-occurrence order) → ``array_join`` is a single narrow
    projection that pipelines inside the parquet scan stage — per-doc
    state only, so it holds at any corpus size. Total map over docs:
    empty text splits to [''] and passes through unchanged
    (n_lines = n_kept = 1)."""
    lines = F.split(F.col(text_col), "\n")
    kept = F.array_distinct(lines)
    return docs.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, "\n").alias("text_deduped"),
    )


def build_minhash_band_index(
    docs: DataFrame,
    text_col: str = "text",
    n_perm: int = 12,
    band_size: int = 2,
    k: int = SHINGLE_K,
    max_docs_per_band_key: int = MAX_DOCS_PER_BAND_KEY,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """The stored text-dedup index: (doc_id, band, band_key, n_sh) over a
    corpus snapshot, hot band keys (> ``max_docs_per_band_key`` members)
    dropped at build time so no future probe can go O(bucket²). Production
    writes this next to the corpus (as `_lsh_index` does for embeddings)
    and refreshes it incrementally — `incremental_near_dup` then dedups
    each incoming batch against it without ever re-hashing the corpus.

    ``n_sh`` is the doc's distinct-shingle count, paid ONCE here at build
    time so probes never aggregate the historical shingle table to learn
    old-side set sizes (that aggregate is corpus-wide; at 100 TB it would
    dominate every nightly batch)."""
    sh = _sh_or(shingles, docs, text_col, k)
    banded = _banded_signatures(
        docs, text_col, n_perm, band_size, k, shingles=sh
    )
    if max_docs_per_band_key is not None:
        banded = (
            banded.withColumn(
                "__n",
                F.count("*").over(Window.partitionBy("band", "band_key")),
            )
            .filter(F.col("__n") <= max_docs_per_band_key)
            .drop("__n")
        )
    n_sh = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    return banded.join(n_sh, "doc_id")


def incremental_near_dup(
    new_docs: DataFrame,
    index: DataFrame,
    old_shingles: DataFrame,
    text_col: str = "text",
    n_perm: int = 12,
    band_size: int = 2,
    k: int = SHINGLE_K,
    jaccard_num: int = 1,
    jaccard_den: int = 5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-dup admission for an INCOMING batch against a STORED corpus —
    the production shape of dedup at 100 TB, where re-running the
    corpus-wide self-join per nightly batch is not an option. This is the
    scale generalization of the reference's per-source ledger probe
    (``scripts/orchestrator.py:63-101``: hash each incoming source, look
    it up in the processed-log, skip if present) from exact-hash lookup
    to near-duplicate lookup. Cost model:

    1. minhash+banding for the NEW docs only (∝ batch size);
    2. one equi-join of the new band keys against the stored
       ``build_minhash_band_index`` table (the historical corpus is
       touched only through index-bucket lookups — with the index
       bucketed/sorted by band_key this is a pruned probe, and the
       batch side is broadcastable);
    3. exact shingle-Jaccard verification of ONLY the candidate pairs:
       the old-side shingle table is first semi-join-pruned to the
       candidate ``dup_of`` id set (batch-bounded, so the prune side is
       broadcastable) before the (dup_of, shingle) join, and old-side set
       sizes come from the ``n_sh`` column the index stored at build time
       — NO corpus-wide aggregate or scan happens at probe time; every
       old-side touch is keyed by the candidate set.

    Returns verified (new_doc_id, dup_of, n_common, n_new, n_old) pairs —
    ``dup_of`` is the historical duplicate; a downstream anti-join of the
    batch against ``select(new_doc_id)`` is the admission filter. New docs
    may match several historical docs (all pairs reported).
    """
    new_sh = _sh_or(shingles, new_docs, text_col, k)
    new_banded = _banded_signatures(
        new_docs, text_col, n_perm, band_size, k, shingles=new_sh
    )
    if "n_sh" not in index.columns:
        raise ValueError(
            "index lacks the per-doc shingle-count column 'n_sh'; rebuild "
            "it with build_minhash_band_index (stale pre-round-5 artifact)"
        )
    idx = index.select(
        F.col("doc_id").alias("dup_of"),
        "band",
        "band_key",
        F.col("n_sh").alias("n_old"),
    )
    # n_old rides along with the candidate pair (it is functionally
    # dependent on dup_of), so no second old-side touch is needed.
    cands = (
        new_banded.select(
            F.col("doc_id").alias("new_doc_id"), "band", "band_key"
        )
        .join(idx, ["band", "band_key"])
        .select("new_doc_id", "dup_of", "n_old")
        .distinct()
    )
    sizes_new = new_sh.groupBy("doc_id").agg(F.count("*").alias("n_new"))
    xa = new_sh.select(F.col("doc_id").alias("new_doc_id"), "shingle")
    # Prune the historical shingle table to candidate docs BEFORE the
    # shingle equi-join: the candidate id set is ∝ batch size (bounded by
    # |batch| × n_bands × max_docs_per_band_key), so it broadcasts and the
    # big table is filtered map-side — with the shingle store partitioned
    # by doc_id this is a pruned fetch, never a full scan.
    cand_old_ids = cands.select(F.col("dup_of").alias("doc_id")).distinct()
    xb = old_shingles.join(
        F.broadcast(cand_old_ids), "doc_id", "left_semi"
    ).select(F.col("doc_id").alias("dup_of"), "shingle")
    common = (
        cands.join(xa, "new_doc_id")
        .join(xb, ["dup_of", "shingle"])
        .groupBy("new_doc_id", "dup_of", "n_old")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(
            sizes_new.withColumnRenamed("doc_id", "new_doc_id"), "new_doc_id"
        )
        .filter(
            F.lit(jaccard_den) * F.col("n_common")
            >= F.lit(jaccard_num)
            * (F.col("n_new") + F.col("n_old") - F.col("n_common"))
        )
        .select("new_doc_id", "dup_of", "n_common", "n_new", "n_old")
    )
