"""Corpus-prep operators: tokenize/truncate/pad, split, validation gate."""

import pytest
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.operators.corpus import (
    admission_filter,
    tokenize_fixed_width,
    train_eval_split,
    validate_token_dataset,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_tokenize_shapes(spark, docs):
    tok = tokenize_fixed_width(admission_filter(docs), block_size=32)
    rows = tok.select("input_ids", "labels", "n_real_tokens").collect()
    for r in rows:
        assert len(r["input_ids"]) == 32
        assert len(r["labels"]) == 32
        n = r["n_real_tokens"]
        assert 1 <= n <= 32
        # padding is masked in labels, real tokens mirrored
        for i, (x, y) in enumerate(zip(r["input_ids"], r["labels"])):
            if i < n:
                assert x == y and x > 0
            else:
                assert x == 0 and y == -100


def test_admission_filter_drops_whitespace_only_text(spark):
    """Blank means blank to ``str.strip()``: tab-only and newline-only
    texts longer than ``min_len`` are dropped like space-only ones (Spark's
    ``trim`` strips spaces only)."""
    rows = [
        ("kept", "twelve chars"), ("tabs", "\t" * 12), ("newlines", "\n" * 12),
        ("spaces", " " * 12), ("mixed", " \t\n\r" * 3), ("short", "short"),
        ("null", None),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    got = sorted(r["id"] for r in admission_filter(df).collect())
    want = [i for i, t in rows if t is not None and t.strip() and len(t) > 10]
    assert got == want == ["kept"]


def test_tokenize_deterministic(spark, docs):
    a = tokenize_fixed_width(docs, block_size=16).select("doc_id", "input_ids")
    b = tokenize_fixed_width(docs, block_size=16).select("doc_id", "input_ids")
    assert a.exceptAll(b).count() == 0


def test_split_is_seeded_and_disjoint(spark, docs):
    tok = tokenize_fixed_width(docs, block_size=16)
    tr1, ev1 = train_eval_split(tok, seed=7)
    tr2, ev2 = train_eval_split(tok, seed=7)
    assert tr1.count() == tr2.count() and ev1.count() == ev2.count()
    assert tr1.count() + ev1.count() == tok.count()
    both = tr1.select("doc_id").intersect(ev1.select("doc_id"))
    assert both.count() == 0


def test_validation_gate(spark, docs):
    tok = tokenize_fixed_width(admission_filter(docs), block_size=32)
    stats = validate_token_dataset(tok, block_size=32)
    assert stats["bad_width"] == 0 and stats["bad_ids"] == 0
    with pytest.raises(ValueError, match="too small"):
        validate_token_dataset(tok.limit(3), block_size=32)
    broken = tok.withColumn("input_ids", F.slice("input_ids", 1, 5))
    with pytest.raises(ValueError, match="malformed"):
        validate_token_dataset(broken, block_size=32)


def test_build_vocab_matches_local_recount(spark, docs):
    """S16 artifact (round 3): the distributed frequency-ranked vocabulary
    equals a driver-side recount of the same whitespace tokenization;
    ranks are dense 1..min(size, |vocab|) with (freq DESC, token ASC)
    ties (the fixture corpus has fewer distinct tokens than size)."""
    from collections import Counter

    from runyoro_llm_data_pipeline_spark.operators.corpus import build_vocab

    got = build_vocab(docs, size=64).collect()
    counts = Counter()
    for r in docs.select("text").collect():
        counts.update(r["text"].split())
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:64]
    assert [(r["token"], r["freq"]) for r in
            sorted(got, key=lambda r: r["rank"])] == want
    assert sorted(r["rank"] for r in got) == list(
        range(1, min(64, len(counts)) + 1)
    )


def test_vocab_save_load_roundtrip(spark, docs, tmp_path_factory):
    import os

    from runyoro_llm_data_pipeline_spark.operators.corpus import (
        build_vocab,
        load_vocab,
        save_vocab,
    )

    v = build_vocab(docs, size=16)
    path = os.path.join(str(tmp_path_factory.mktemp("vocab")), "vocab.json")
    assert save_vocab(v, path) == 16
    back = load_vocab(spark, path)
    assert sorted(map(tuple, v.collect())) == sorted(map(tuple, back.collect()))


def test_tokenize_with_vocab_order_and_oov(spark):
    from runyoro_llm_data_pipeline_spark.operators.corpus import (
        build_vocab,
        tokenize_with_vocab,
    )

    df = spark.createDataFrame(
        [(0, "b a b c"), (1, "a zzz a"), (2, ""), (3, "   ")],
        "doc_id long, text string",
    )
    vocab = build_vocab(df, size=3)  # b:2 a:3? counts: a=3, b=2, c=1, zzz=1
    ranks = {r["token"]: r["rank"] for r in vocab.collect()}
    assert ranks["a"] == 1 and ranks["b"] == 2 and ranks["c"] == 3
    ids = {r["doc_id"]: list(r["input_ids"])
           for r in tokenize_with_vocab(df, vocab).collect()}
    assert ids[0] == [ranks["b"], ranks["a"], ranks["b"], ranks["c"]]
    assert ids[1] == [ranks["a"], 0, ranks["a"]]  # OOV ('zzz' not in top-3) -> 0
    assert ids[2] == [] and ids[3] == []  # empty/blank docs kept, empty arrays


def test_hash_split_deterministic_and_partition_invariant(spark, docs):
    from runyoro_llm_data_pipeline_spark.operators.corpus import hash_split

    a = hash_split(docs, key="doc_id")
    # pure function of the key: repartitioning must not move any row
    b = hash_split(docs.repartition(7), key="doc_id")
    assert (
        a.select("doc_id", "split").exceptAll(b.select("doc_id", "split")).count()
        == 0
    )
    counts = {r["split"]: r["n"] for r in a.groupBy("split").count().withColumnRenamed("count", "n").collect()}
    n = sum(counts.values())
    assert set(counts) == {"train", "val", "test"}
    # 80/10/10 with 1/256 bucket quantization + sampling noise
    assert 0.7 < counts["train"] / n < 0.9
    # a different salt re-rolls assignments
    c = hash_split(docs, key="doc_id", salt="split-v2")
    moved = (
        a.select("doc_id", "split").exceptAll(c.select("doc_id", "split")).count()
    )
    assert moved > 0


def test_hash_split_rejects_bad_pcts(spark, docs):
    import pytest as _pytest

    from runyoro_llm_data_pipeline_spark.operators.corpus import hash_split

    with _pytest.raises(ValueError):
        hash_split(docs, key="doc_id", train_pct=90, val_pct=20)


def test_scan_text_corpus_skips_blank_lines(spark, tmp_path_factory):
    """S2/S4/P7: one row per non-blank line; empty and whitespace-only
    lines are dropped, other lines pass through unchanged."""
    import os

    from runyoro_llm_data_pipeline_spark.operators.corpus import scan_text_corpus

    d = str(tmp_path_factory.mktemp("textcorpus"))
    with open(os.path.join(d, "a.txt"), "w") as fh:
        fh.write("first line\n\n   \n  indented  \n")
    with open(os.path.join(d, "b.txt"), "w") as fh:
        fh.write("\t\nlast\n")
    got = sorted(r["text"] for r in scan_text_corpus(spark, os.path.join(d, "*.txt")).collect())
    assert got == ["  indented  ", "first line", "last"]


def test_corpus_from_lake_is_the_admitted_public_read(spark, tmp_lake):
    """S15: lake → corpus equals the table's public read (tombstones
    filtered) under ``admission_filter``."""
    import os

    from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
    from runyoro_llm_data_pipeline_spark.cdc.generator import gen_change_log
    from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
    from runyoro_llm_data_pipeline_spark.operators.corpus import corpus_from_lake

    events, _ = gen_change_log(spark, n_turns=120, n_convs=6, n_batches=2)
    t = CdcIngest(os.path.join(tmp_lake, "t"), num_buckets=2).table()
    for b in range(2):
        apply_batch(spark, t, events.filter(F.col("batch_id") == b), b)
    public = t.read(spark)
    lengths = sorted(len(r["text"]) for r in public.select("text").collect())
    min_len = lengths[len(lengths) // 2]  # so the filter drops some turns
    got = corpus_from_lake(spark, t.path, min_len=min_len)
    want = admission_filter(public, min_len=min_len).select("conv_id", "turn_idx", "text")
    assert got.columns == ["conv_id", "turn_idx", "text"]
    assert 0 < want.count() < public.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
