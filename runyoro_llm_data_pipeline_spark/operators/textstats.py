"""Text-analysis operators for a training-data pipeline: tokenization
counts, quality scoring, language-ID heuristic, fingerprinting.

Generalizes the reference's corpus-prep stages: line filters
(``scripts/train_llm.py:161-162``), tokenizer corpus iteration
(``scripts/tokenizer_utils.py:9-18``), and content hashing
(``scripts/orchestrator.py:18-23``). Everything is a JVM column expression
(whole-stage codegen; zero Python in the hot path) and every output is an
integer count or a hex string — no floating-point, so the DuckDB oracle
comparison is exact by construction.

Scale: all are narrow per-row projections + one hash aggregate; they
pipeline inside the scan stage and shuffle only the (tiny) grouped
results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.operators.text import non_empty_text

# Stopword set used by the quality score and the language-ID heuristic.
# Deliberately tiny and explicit — the point is the operator shape
# (token-membership counting), not lexicon quality.
EN_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")

_TOKEN_SEP = r"\s+"


def _trunc6(num: Column, den: Column) -> Column:
    """Exact 6-dp truncation of the rational num/den: floor(10⁶·num/den)
    computed where the double quotient's ulp (≤ 2.4e-7 for quotients up
    to ~10⁹) is far below the 1/den minimum distance of a non-integer
    rational from an integer — so the floor equals integer division in
    both engines (`//` in DuckDB), with no rounding-mode dependence."""
    q = F.floor(F.lit(1000000.0) * num.cast("double") / den).cast("double")
    return q / F.lit(1000000.0)


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization of trimmed text; empty text → empty array
    (``split`` on '' yields [''], guarded here)."""
    t = F.regexp_replace(text, r"(?U)^\s+|(?U)\s+$", "")
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, _TOKEN_SEP)
    )


def token_count(text: Column) -> Column:
    return F.size(tokens_col(text)).cast("long")


def stopword_count(text: Column, stopwords=EN_STOPWORDS) -> Column:
    toks = tokens_col(text)
    sw = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t)))).cast(
        "long"
    )


def punct_count(text: Column) -> Column:
    """Count of non-word, non-space characters (punctuation/symbols)."""
    return F.length(F.regexp_replace(text, r"(?U)[\w\s]", "")).cast("long")


def doc_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality counters: chars, tokens, stopwords, punctuation,
    longest-token length. A downstream filter (e.g. keep docs with
    stopword ratio in [x, y]) is a cheap predicate over these."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars"),
        token_count(t).alias("n_tokens"),
        stopword_count(t).alias("n_stopwords"),
        punct_count(t).alias("n_punct"),
        F.coalesce(
            F.array_max(F.transform(tokens_col(t), lambda x: F.length(x))),
            F.lit(0),
        ).cast("long").alias("max_token_len"),
    )


def lang_id_heuristic(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-presence language ID (n-gram-heuristic family): predicts
    'en' when ≥2 distinct English stopwords occur, else 'unknown'.
    Deterministic and SQL-expressible; a real system swaps in a trained
    n-gram model behind the same (doc_id → predicted_lang) contract."""
    toks = tokens_col(F.col(text_col))
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    distinct_hits = F.size(
        F.array_distinct(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    )
    return docs.select(
        "doc_id",
        F.when(distinct_hits >= 2, F.lit("en"))
        .otherwise(F.lit("unknown"))
        .alias("predicted_lang"),
        distinct_hits.cast("long").alias("n_distinct_stopwords"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of the whitespace-canonicalized lowercased
    text (A1 generalization, ``scripts/orchestrator.py:18-23``)."""
    canon = F.lower(
        F.concat_ws(" ", tokens_col(F.col(text_col)))
    )
    return docs.select(
        "doc_id", F.md5(canon).alias("fingerprint"), F.length(canon).cast("long").alias("canon_len")
    )


def corpus_filter(
    spark: SparkSession, sf_dir: str, min_len: int = 10
) -> DataFrame:
    """P4-P6 corpus admission: non-blank and length > min_len
    (``scripts/train_llm.py:161-162``), pushed into the Parquet scan."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = F.col("text")
    return docs.filter(non_empty_text(t) & (F.length(t) > min_len)).select(
        "doc_id", "lang", "source", F.length(t).cast("long").alias("n_chars_actual")
    )


# Gopher-style admission thresholds (Rae et al. 2021, "Scaling Language
# Models", table A1 family). The *rule shapes* are the operator; the
# numeric bounds are tuned down to the synthetic corpus (30-60-word docs)
# and are plain keyword arguments for a real deployment.
GOPHER_MIN_WORDS = 5
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 2.0
GOPHER_MAX_MEAN_WORD_LEN = 12.0
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOPWORDS = 2


def gopher_quality(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = GOPHER_MIN_WORDS,
    max_words: int = GOPHER_MAX_WORDS,
    min_mean_word_len: float = GOPHER_MIN_MEAN_WORD_LEN,
    max_mean_word_len: float = GOPHER_MAX_MEAN_WORD_LEN,
    min_alpha_frac: float = GOPHER_MIN_ALPHA_FRAC,
    min_stopwords: int = GOPHER_MIN_STOPWORDS,
) -> DataFrame:
    """Gopher-style document quality rules: word-count bounds, mean word
    length bounds, fraction of words containing an alphabetic character,
    and a minimum stopword count. Emits the measured features, one boolean
    per rule, and the conjunction (``passes``) — the standard
    training-data admission gate that sits between scraping and
    tokenization.

    Pure per-row array algebra inside whole-stage codegen (tokenize once,
    three ``filter``/``aggregate`` passes over the token array — no
    explode, no shuffle; at 100 TB this pipelines with the corpus scan).
    Ratios are emitted as exact 6-dp TRUNCATIONS via integer math
    (``floor(10⁶·k/n)/10⁶``), not ``round(k/n, 6)``: whenever 2⁷ | n the
    exact rational lands on a 7th-decimal half and Spark's HALF_UP
    rounding diverges from DuckDB's raw-double rounding (the
    balance_deciles boundary bug, which a 128-word document would
    reproduce here). Truncated integer division is identical in both
    engines at every n.
    """
    toks = tokens_col(F.col(text_col))
    df = docs.select("doc_id", toks.alias("w"))
    n = F.size("w").cast("long")
    n_alpha = F.size(F.filter(F.col("w"), lambda x: x.rlike("[A-Za-z]"))).cast("long")
    sw = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n_stop = F.size(
        F.filter(F.col("w"), lambda x: F.array_contains(sw, F.lower(x)))
    ).cast("long")
    sum_len = F.aggregate(
        F.col("w"), F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    mean_len = F.when(n > 0, _trunc6(sum_len, n)).otherwise(F.lit(0.0))
    alpha_frac = F.when(n > 0, _trunc6(n_alpha, n)).otherwise(F.lit(0.0))
    df = df.select(
        "doc_id",
        n.alias("n_words"),
        mean_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        n_stop.alias("n_stopwords"),
    )
    ok_words = (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    ok_mean = (F.col("mean_word_len") >= min_mean_word_len) & (
        F.col("mean_word_len") <= max_mean_word_len
    )
    ok_alpha = F.col("alpha_frac") >= min_alpha_frac
    ok_stop = F.col("n_stopwords") >= min_stopwords
    return df.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "alpha_frac",
        "n_stopwords",
        ok_words.alias("ok_words"),
        ok_mean.alias("ok_mean_word_len"),
        ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stopwords"),
        (ok_words & ok_mean & ok_alpha & ok_stop).alias("passes"),
    )


def ngram_repetition(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Intra-document repetition score (Gopher/C4-style quality rule): the
    fraction of word bigrams that are duplicates of an earlier bigram in
    the same document — high values flag boilerplate/spam for the
    training-data admission filter (companion to the cross-document dedup
    family in ``operators/dedup.py``).

    Pure per-row array algebra inside whole-stage codegen: tokenize once,
    build the bigram list with ``zip_with`` over two shifted slices (no
    explode — the corpus never leaves its scan partition and nothing
    shuffles), then ``1 - distinct/total``. Docs with fewer than two
    tokens score 0.0 by definition.
    """
    t = tokens_col(F.col(text_col))
    df = docs.select("doc_id", t.alias("w"))
    grams = F.expr(
        "zip_with(slice(w, 1, greatest(size(w) - 1, 0)),"
        "         slice(w, 2, greatest(size(w) - 1, 0)),"
        "         (a, b) -> concat(a, ' ', b))"
    )
    df = df.select("doc_id", grams.alias("grams"))
    n = F.size("grams").cast("long")
    nd = F.size(F.array_distinct("grams")).cast("long")
    return df.select(
        "doc_id",
        n.alias("n_bigrams"),
        nd.alias("n_distinct"),
        F.when(n > 0, _trunc6(n - nd, n))
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


def doc_term_counts(
    docs: DataFrame, text_col: str = "text", with_dl: bool = False
) -> DataFrame:
    """(doc_id, term, tf) rows — the inverted-index build shared by
    tf-idf (and any downstream BM25-style scorer). Like ``doc_shingles``,
    materialize ONCE at scale and pass via ``tfidf_top_terms(..., tf=...)``:
    the declarative plan otherwise tokenizes and counts twice (once per
    side of the tf ⋈ df join — Catalyst re-derives rather than reuses the
    shared subtree).

    ``with_dl=True`` folds the document length (total token count, =
    sum(tf) over the doc's terms) into every row as a ``dl`` column —
    build-time denormalization so a BM25 probe can score from the
    filtered posting rows ALONE, never re-tokenizing the corpus at query
    time to learn document lengths. One extra window sum at build, zero
    extra shuffles at query."""
    toks = docs.select(
        "doc_id", F.explode(tokens_col(F.col(text_col))).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    if with_dl:
        tf = tf.withColumn(
            "dl", F.sum("tf").over(Window.partitionBy("doc_id"))
        )
    return tf


def tfidf_top_terms(
    docs: DataFrame,
    text_col: str = "text",
    k_top: int = 3,
    n_docs: int | None = None,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Per-document top-k terms by tf-idf — the keyword-extraction /
    corpus-drift probe over the reference's corpus iteration surface
    (``scripts/tokenizer_utils.py:9-18``). Distributed shape: one
    map-side-combined (doc_id, term) count (shuffle ∝ distinct doc-term
    pairs, the classic inverted-index build), one tiny document-frequency
    aggregate over that result, a term-keyed join back, and a per-doc
    ``row_number <= k`` window that Spark 4 rewrites to WindowGroupLimit —
    each shuffle partition keeps only its local top-k per doc before the
    exchange, so the window never sorts the full posting list.

    The corpus size ``n_docs`` is frozen as a plan literal (one scalar
    ``count()`` when not supplied) — idf is then a deterministic function
    of the input snapshot, not of partitioning. Scores are rounded to 6 dp
    and ranked AFTER rounding with a total (score DESC, term ASC) order,
    so the output is engine-portable: a 1-ulp ``ln`` difference between
    libm implementations cannot flip a rank. Empty documents contribute no
    terms and are absent from the output.
    """
    if tf is None:
        tf = doc_term_counts(docs, text_col)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    nd = int(n_docs) if n_docs is not None else docs.count()
    scored = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf") * F.log(F.lit(float(nd)) / F.col("df")), 6
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= int(k_top)
    )


def bm25_search(
    docs: DataFrame | None,
    query: str,
    text_col: str = "text",
    k_top: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    tf: DataFrame | None = None,
    n_docs: int | None = None,
    avgdl: float | None = None,
    dl: DataFrame | None = None,
) -> DataFrame:
    """BM25 ranked retrieval over the ``doc_term_counts`` inverted index —
    the lexical-search twin of the ANN operators (same serving economics:
    index once, query many). Distributed shape: the posting list is
    FILTERED to the query's terms before anything else (predicate
    pushdown on ``term`` — at 10⁹ docs this is the difference between
    touching a few posting lists and scanning the corpus), document
    frequencies come from a per-term count over that filtered slice, and
    the per-doc score is one map-side-combinable sum + a global
    ``TakeOrderedAndProject`` top-k — no window, no global sort.

    Document lengths are index-resident: when the supplied ``tf`` was
    built with ``doc_term_counts(with_dl=True)`` the filtered posting
    rows already carry ``dl`` and the query plan touches NOTHING but the
    posting list; otherwise a stored ``dl=`` (doc_id, dl) side table is
    joined (candidate-pruned — the posting side is the small side);
    only as a last resort (ad-hoc use, no index) is ``docs`` re-tokenized.
    Corpus statistics (N, avgdl) are frozen as plan literals — one scalar
    aggregate each when not supplied; production computes them once per
    corpus snapshot alongside the index. Scores use the positive
    ``ln((N - df + ½)/(df + ½) + 1)`` idf, are rounded to 6 dp, and the
    top-k is ordered (score DESC, doc_id ASC) AFTER rounding, so ranking
    is engine-portable and rerun-stable (the tfidf_top_terms discipline).
    Only documents containing ≥1 query term appear.
    """
    qterms = sorted({t for t in query.split() if t})
    if not qterms:
        raise ValueError("empty query")
    if tf is None:
        if docs is None:
            raise ValueError("need docs when no tf index is supplied")
        tf = doc_term_counts(docs, text_col, with_dl=True)
    tfq = tf.where(F.col("term").isin(qterms))
    dfq = tfq.groupBy("term").agg(F.count("*").alias("df"))
    if n_docs is None:
        if docs is None:
            raise ValueError("need docs or stored n_docs")
        n_docs = docs.count()
    nd = float(n_docs)
    if avgdl is None:
        if docs is None:
            raise ValueError("need docs or stored avgdl")
        avgdl = docs.agg(
            F.avg(token_count(F.col(text_col)))
        ).first()[0]
    if "dl" not in tfq.columns:
        if dl is None:
            if docs is None:
                raise ValueError("need docs, dl=, or a with_dl tf index")
            dl = docs.select(
                "doc_id", token_count(F.col(text_col)).alias("dl")
            )
        tfq = tfq.join(dl, "doc_id")
    idf = F.log(
        (F.lit(nd) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    contrib = (
        idf
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(float(avgdl)))
        )
    )
    per_doc = (
        tfq.join(F.broadcast(dfq), "term")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(contrib), 6).alias("score"),
            F.count("*").alias("n_terms"),
        )
    )
    return per_doc.orderBy(F.desc("score"), F.asc("doc_id")).limit(k_top)
