"""Training-corpus preparation operators — the downstream-consumer path.

Re-expresses the reference's dataset pipeline (``scripts/train_llm.py:
154-224`` scan → filter → batched tokenize map → random split → validation
gates; ``scripts/tokenizer_utils.py:9-18`` corpus iteration) as DataFrame
stages:

* corpus scan: ``spark.read.text(dir/*.txt)`` / parquet documents;
* admission filters P5/P6 (blank, min-length);
* fixed-width tokenization to integer id arrays (O5 truncation +
  padding), with a deterministic hash vocab standing in for a trained BPE
  (the operator shape — ``text → input_ids/labels`` arrays — is what the
  engine owns; a real tokenizer slots in as a pandas_udf);
* seeded random 90/10 split (O4);
* the NaN/shape validation gate (A4, ``train_llm.py:210-224``) as one
  aggregate.

All JVM expressions except nothing — zero Python UDFs in this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.operators.text import non_empty_text
from runyoro_llm_data_pipeline_spark.operators.textstats import tokens_col

PAD_ID = 0
UNK_VOCAB = 32_000


def scan_text_corpus(spark: SparkSession, path_glob: str) -> DataFrame:
    """S3/S4: line-oriented corpus scan, blank lines dropped
    (``scripts/train_llm.py:154-161``, ``scripts/tokenizer_utils.py:14-16``):
    a line is blank when it holds only whitespace, tabs included, as
    ``str.strip()`` sees it (Spark's ``trim`` strips spaces only).
    """
    return (
        spark.read.text(path_glob)
        .select(F.col("value").alias("text"))
        .filter(F.col("text").rlike(r"\S"))
    )


def admission_filter(df: DataFrame, text_col: str = "text", min_len: int = 10) -> DataFrame:
    """P5 + P6 (``scripts/train_llm.py:161-162``): non-blank as
    ``str.strip()`` sees it (``non_empty_text``; Spark's ``trim`` strips
    spaces only), and longer than ``min_len``."""
    t = F.col(text_col)
    return df.filter(non_empty_text(t) & (F.length(t) > min_len))


def tokenize_fixed_width(
    df: DataFrame,
    text_col: str = "text",
    block_size: int = 64,
    vocab_size: int = UNK_VOCAB,
) -> DataFrame:
    """``text → input_ids/labels`` fixed-width arrays: whitespace tokens →
    deterministic hash ids → truncate to ``block_size`` (O5,
    ``train_llm.py:172-176``) → right-pad. ``labels`` mirror ``input_ids``
    with pad masked to -100, per the causal-LM convention the reference
    uses (``train_llm.py:178-180``)."""
    toks = tokens_col(F.col(text_col))
    ids_full = F.transform(
        toks,
        lambda t: (F.pmod(F.xxhash64(t), F.lit(vocab_size - 1)) + 1).cast("int"),
    )
    ids = F.slice(ids_full, 1, block_size)
    n = F.least(F.size(ids_full), F.lit(block_size))
    pad = F.transform(
        F.sequence(F.lit(1), F.lit(block_size)),
        lambda i: F.when(i <= n, F.element_at(ids, i)).otherwise(F.lit(PAD_ID)),
    )
    labels = F.transform(
        pad, lambda x: F.when(x == PAD_ID, F.lit(-100)).otherwise(x)
    )
    return df.select(
        "*",
        pad.alias("input_ids"),
        labels.alias("labels"),
        n.cast("int").alias("n_real_tokens"),
    )


def build_vocab(
    df: DataFrame, text_col: str = "text", size: int = 512
) -> DataFrame:
    """The tokenizer ARTIFACT half of S16 (``scripts/tokenizer_utils.py``
    trains a vocabulary over the corpus and persists it): a
    frequency-ranked vocabulary computed distributed.

    Shape: explode tokens → ``groupBy(token)`` count (map-side partial
    combine, shuffle rows ∝ distinct tokens per partition) → global
    top-``size`` via ``orderBy.limit`` (TakeOrdered — a per-partition
    heap of ``size`` entries, never a full sort) → ``row_number`` rank
    over the surviving ``size`` rows only (single tiny partition by
    construction — the artifact is small by definition). Deterministic:
    ties break on the token string.

    Returns (token, freq, rank), rank 1..size; id convention is
    ``rank`` with 0 reserved for PAD/OOV (:func:`tokenize_with_vocab`).
    """
    from pyspark.sql import Window

    toks = df.select(F.explode(tokens_col(F.col(text_col))).alias("token"))
    freq = toks.groupBy("token").agg(F.count("*").alias("freq"))
    top = freq.orderBy(F.col("freq").desc(), F.col("token")).limit(size)
    w = Window.orderBy(F.col("freq").desc(), F.col("token"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def save_vocab(vocab: DataFrame, path: str) -> int:
    """Persist the vocabulary as ONE deterministic JSON artifact (the
    reference writes its tokenizer to a single directory,
    ``scripts/tokenizer_utils.py``). The artifact is driver-small by
    definition (``size`` rows); write is atomic via tmp+rename so a
    crashed writer never leaves a torn artifact."""
    import json
    import os

    rows = sorted(
        (int(r["rank"]), r["token"], int(r["freq"])) for r in vocab.collect()
    )
    tmp = path + ".tmp"
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(tmp, "w") as fh:
        json.dump(
            [{"rank": k, "token": t, "freq": f} for k, t, f in rows], fh
        )
    os.replace(tmp, path)
    return len(rows)


def load_vocab(spark: SparkSession, path: str) -> DataFrame:
    import json

    with open(path) as fh:
        rows = json.load(fh)
    return spark.createDataFrame(
        [(r["token"], r["freq"], r["rank"]) for r in rows],
        "token string, freq long, rank int",
    )


def tokenize_with_vocab(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_id: int = PAD_ID,
) -> DataFrame:
    """text → id arrays under a TRAINED vocabulary (the serving half of
    S16; :func:`tokenize_fixed_width` is the hash-vocab stand-in).
    ``posexplode`` keeps token order; ids come from a **broadcast** left
    join against the tiny vocab (OOV → ``oov_id``); the order-preserving
    regroup is one ``groupBy(doc)`` collecting (pos, id) structs sorted
    by pos — a single shuffle with rows ∝ tokens, the unavoidable
    minimum for order-preserving re-assembly. Pure JVM end to end."""
    toks = df.select(
        F.col(id_col),
        F.posexplode_outer(tokens_col(F.col(text_col))).alias("__pos", "token"),
    )
    mapped = toks.join(
        F.broadcast(vocab.select("token", "rank")), "token", "left"
    ).select(
        id_col,
        "__pos",
        F.coalesce(F.col("rank"), F.lit(oov_id)).cast("int").alias("__id"),
    )
    return mapped.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("__pos").isNotNull(),
                        F.struct(F.col("__pos"), F.col("__id")),
                    )
                )
            ),
            lambda s: s["__id"],
        ).alias("input_ids")
    )


def train_eval_split(
    df: DataFrame, eval_fraction: float = 0.1, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """O4 (``train_llm.py:189``): seeded random split."""
    train, ev = df.randomSplit([1.0 - eval_fraction, eval_fraction], seed=seed)
    return train, ev


def hash_split(
    df: DataFrame,
    key: str,
    train_pct: int = 80,
    val_pct: int = 10,
    salt: str = "split-v1",
) -> DataFrame:
    """Deterministic content-keyed split — the production form of O4.

    ``randomSplit`` is seeded but *plan-dependent*: repartition the input
    or bump the Spark version and rows migrate between splits. A training
    pipeline wants the assignment to be a pure function of the record key
    so reruns, backfills, and engine swaps never leak eval rows into
    train. Bucket = first two hex chars of ``md5(salt || key)`` (256
    uniform buckets, compared lexicographically so any SQL engine agrees
    bit-for-bit); thresholds are whole buckets, so pcts quantize to
    1/256 ≈ 0.4% granularity. Pure projection: no shuffle, no RNG state,
    embarrassingly parallel at any scale.

    Adds a ``split`` column ('train' / 'val' / 'test'); changing ``salt``
    re-rolls the assignment globally (the knob for a fresh holdout).
    """
    if not (0 < train_pct and 0 <= val_pct and train_pct + val_pct <= 100):
        raise ValueError("percentages must satisfy 0<train, 0<=val, sum<=100")
    t_hi = f"{round(256 * train_pct / 100):02x}"
    v_hi = f"{round(256 * (train_pct + val_pct) / 100):02x}"
    b = F.substring(F.md5(F.concat(F.lit(salt), F.col(key).cast("string"))), 1, 2)
    return df.withColumn(
        "split",
        F.when(b < t_hi, F.lit("train"))
        .when(b < v_hi, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def validate_token_dataset(
    df: DataFrame, block_size: int = 64, min_rows: int = 10
) -> dict:
    """A4 gate (``train_llm.py:190-224``): dataset-size guards plus a full
    scan for malformed arrays (wrong width, out-of-range ids) in ONE
    aggregate. Raises ValueError exactly like the reference does."""
    agg = df.agg(
        F.count("*").alias("n"),
        F.sum((F.size("input_ids") != block_size).cast("long")).alias("bad_width"),
        F.sum(
            F.exists("input_ids", lambda x: x.isNull() | (x < 0)).cast("long")
        ).alias("bad_ids"),
        F.sum((F.col("n_real_tokens") == 0).cast("long")).alias("empty_rows"),
    ).collect()[0]
    if agg["n"] < min_rows:
        raise ValueError(
            f"dataset too small: {agg['n']} rows < {min_rows} "
            "(cf. scripts/train_llm.py:192-203)"
        )
    if agg["bad_width"] or agg["bad_ids"]:
        raise ValueError(
            f"malformed token arrays: width={agg['bad_width']} ids={agg['bad_ids']} "
            "(cf. scripts/train_llm.py:210-224)"
        )
    return {
        "rows": agg["n"],
        "bad_width": agg["bad_width"],
        "bad_ids": agg["bad_ids"],
        "empty_rows": agg["empty_rows"],
    }


def corpus_from_lake(
    spark: SparkSession, table_path: str, min_len: int = 10
) -> DataFrame:
    """End-to-end consumer hookup: lake transcripts → admission-filtered
    line corpus — what the reference's trainer reads from processed_data/
    (``train_llm.py:126-129``), served straight from the table."""
    from runyoro_llm_data_pipeline_spark.lake.table import LakeTable

    t = LakeTable.load(table_path)
    df = t.read(spark).select(
        F.col("conv_id"), F.col("turn_idx"), F.col("text")
    )
    return admission_filter(df, min_len=min_len)


def pack_sequences(
    docs: DataFrame,
    window_tokens: int = 2048,
    order_key: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = None,
) -> DataFrame:
    """GPT-style sequence-packing map: conceptually concatenate the corpus
    token stream in deterministic ``order_key`` order and slice it into
    fixed ``window_tokens`` training windows; emit, per document, its
    global token offsets and the window span it lands in
    (start/end_offset, first/last_window, n_windows). The trainer's packer
    consumes this map to build batches without ever materializing the
    concatenated stream.

    The core is a GLOBAL prefix sum — the one aggregation a naive Window
    over ``ORDER BY order_key`` (no partition) funnels through a single
    task. This implements the scalable two-pass form instead:

    1. bucket rows by ``order_key`` range, with boundaries taken from
       ``approxQuantile`` and frozen into the plan as literals (the
       assignment is a pure function of the data — unlike
       ``spark_partition_id()``, it cannot drift between the two passes
       if a stage is recomputed);
    2. one hash aggregate for per-bucket token totals (map-side combined;
       n_buckets rows to the driver), exclusive-prefix them driver-side;
    3. within-bucket running sum (Window partitioned by bucket — parallel
       across buckets) plus the bucket's broadcast offset.

    Cost at any scale: one quantile sample job + one tiny agg at plan
    time, then a single hash shuffle of the (key, count) projection.
    ``order_key`` must be numeric (quantile bounds); offsets are exact
    longs. Empty documents get ``n_windows = 0`` at their current offset.
    """
    from runyoro_llm_data_pipeline_spark.operators.textstats import token_count

    spark = docs.sparkSession
    b = int(window_tokens)
    counts = docs.select(
        F.col(order_key), token_count(F.col(text_col)).alias("n_tokens")
    )
    p = n_buckets or spark.sparkContext.defaultParallelism
    probs = [i / p for i in range(1, p)]
    bounds = counts.stat.approxQuantile(order_key, probs, 0.001) if probs else []
    # strictly increasing bounds only (duplicates collapse empty buckets)
    uniq: list[float] = []
    for x in bounds:
        if not uniq or x > uniq[-1]:
            uniq.append(x)
    if uniq:
        barr = F.array(*[F.lit(x) for x in uniq])
        bkt = F.size(
            F.filter(barr, lambda x: x < F.col(order_key).cast("double"))
        )
    else:
        bkt = F.lit(0)
    counts = counts.withColumn("__bkt", bkt)

    sums = {
        r["__bkt"]: r["s"]
        for r in counts.groupBy("__bkt").agg(F.sum("n_tokens").alias("s")).collect()
    }
    off, offsets = 0, []
    for i in sorted(sums):
        offsets.append((i, off))
        off += int(sums[i] or 0)
    odf = spark.createDataFrame(
        offsets or [(0, 0)], "__bkt int, __bucket_offset long"
    )

    w = (
        Window.partitionBy("__bkt")
        .orderBy(order_key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    start = (F.col("__bucket_offset") + within).alias("start_offset")
    out = counts.join(F.broadcast(odf), "__bkt").select(
        order_key, "n_tokens", start
    )
    end = F.col("start_offset") + F.col("n_tokens")
    fw = F.floor(F.col("start_offset") / b).cast("long")
    lw = F.when(F.col("n_tokens") > 0, F.floor((end - 1) / b)).otherwise(fw).cast(
        "long"
    )
    return out.select(
        order_key,
        "n_tokens",
        "start_offset",
        end.cast("long").alias("end_offset"),
        fw.alias("first_window"),
        lw.alias("last_window"),
        F.when(F.col("n_tokens") > 0, lw - fw + 1)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_windows"),
    )


def mix_threshold_hex(rate: float) -> str:
    """Keep-threshold for ``mix_sample``: a row is kept when the first 8
    hex chars of its md5 bucket sort lexicographically below this string.
    Rates quantize to 1/2^32; rate ≥ 1 maps to 'g' (above every hex
    digit) so full strata are kept exactly."""
    if rate >= 1.0:
        return "g"
    if rate <= 0.0:
        return "00000000"
    v = round(rate * 16**8)
    # rates in (1 - 2^-33, 1.0) round up to 2^32, whose 9-char hex
    # '100000000' sorts BELOW almost every 8-char prefix — clamp to the
    # keep-everything sentinel instead of silently inverting the rate.
    return "g" if v >= 16**8 else format(v, "08x")


def mix_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "source",
    key: str = "doc_id",
    salt: str = "mix-v1",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic data-mixing sampler: keep each row of stratum ``s``
    with probability ``rates[s]`` — the domain-weighting stage of a
    training-data pipeline (upsample curated sources, downsample crawl),
    with the same production guarantee as ``hash_split``: the decision is
    a pure function of (salt, stratum, key), so reruns, backfills, and
    engine swaps sample the identical rows, and the same row is never
    double-admitted by two pipeline runs. ``sample()``/``sampleBy()`` are
    seeded but plan-dependent — repartitioning moves rows between draws.

    Pure projection + filter (zero shuffle, pushes into the scan); strata
    missing from ``rates`` fall back to ``default_rate`` (0 = drop —
    explicit allowlist semantics).
    """
    b = F.substring(
        F.md5(
            F.concat(
                F.lit(salt),
                F.col(stratum_col).cast("string"),
                F.lit("|"),
                F.col(key).cast("string"),
            )
        ),
        1,
        8,
    )
    thr = None
    for s, r in rates.items():
        lit = F.lit(mix_threshold_hex(r))
        thr = (
            F.when(F.col(stratum_col) == s, lit)
            if thr is None
            else thr.when(F.col(stratum_col) == s, lit)
        )
    dflt = F.lit(mix_threshold_hex(default_rate))
    thr = thr.otherwise(dflt) if thr is not None else dflt
    return df.filter(b < thr)


def pack_windows(
    docs: DataFrame,
    window_tokens: int = 2048,
    order_key: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = None,
) -> DataFrame:
    """The window-side view of ``pack_sequences``: one row per training
    window with how many documents contribute to it and how many of its
    token slots they fill. Every window except the stream's last must be
    exactly full (``n_tokens = window_tokens``) — the invariant a trainer
    asserts before consuming the pack.

    Derived from the packing map by exploding each doc's window span
    (``sequence(first_window, last_window)`` — bounded by
    doc_len/window + 1 rows per doc) and clipping the doc's token
    interval to each window; one hash aggregate by window id.
    """
    b = int(window_tokens)
    m = pack_sequences(docs, b, order_key, text_col, n_buckets)
    m = m.filter(F.col("n_tokens") > 0)
    w = F.explode(
        F.sequence(F.col("first_window"), F.col("last_window"))
    ).alias("window_id")
    rows = m.select(F.col("start_offset"), F.col("end_offset"), w)
    lo = F.greatest(F.col("start_offset"), F.col("window_id") * b)
    hi = F.least(F.col("end_offset"), (F.col("window_id") + 1) * b)
    return (
        rows.select("window_id", (hi - lo).alias("n_from_doc"))
        .groupBy("window_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_from_doc").cast("long").alias("n_tokens"),
        )
    )


def curation_admit(
    docs: DataFrame,
    quality: DataFrame,
    exact_groups: DataFrame,
    near_dups: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """The composed nightly admission decision a training-data pipeline
    actually ships: a document is admitted iff it (a) passes the quality
    gate, (b) is the canonical copy of its exact-duplicate group, and
    (c) is not a verified near-duplicate of the stored corpus. The
    distributed generalization of the reference's admit-or-skip loop
    (``scripts/orchestrator.py:63-101``: validity + content-hash ledger
    probe per source, sequential), with each rule's verdict kept as a
    column instead of a log line. Pure
    column algebra over the three component outputs (``gopher_quality``,
    ``exact_dedup``, ``incremental_near_dup``) — three equi-joins on
    doc_id/md5, no new aggregates, so the composition adds nothing to the
    components' scale profile. Emits the per-rule booleans alongside the
    verdict so rejected docs are attributable (the quarantine-sink
    discipline applied to curation).
    """
    h = F.md5(F.col(text_col))
    canon = (
        docs.select("doc_id", h.alias("text_md5"))
        .join(exact_groups.select("text_md5", "canonical_doc_id"), "text_md5")
        .select(
            "doc_id",
            (F.col("doc_id") == F.col("canonical_doc_id")).alias(
                "is_canonical"
            ),
        )
    )
    nd = (
        near_dups.select(F.col("new_doc_id").alias("doc_id"))
        .distinct()
        .withColumn("__nd", F.lit(True))
    )
    out = (
        docs.select("doc_id")
        .join(quality.select("doc_id", "passes"), "doc_id")
        .join(canon, "doc_id")
        .join(nd, "doc_id", "left")
    )
    is_nd = F.coalesce(F.col("__nd"), F.lit(False))
    return out.select(
        "doc_id",
        "passes",
        "is_canonical",
        is_nd.alias("is_near_dup_of_corpus"),
        (F.col("passes") & F.col("is_canonical") & ~is_nd).alias("admitted"),
    )
