"""Round-4 ADVICE fixes, each pinned by a regression test:

1. rollback() across a rebucket() restores the snapshot's num_buckets,
   which every write and lookup plans against (stale modulus =>
   wrong-bucket writes + silent lookup misses).
2. mix_threshold_hex clamps rates in (1 - 2^-33, 1.0) — round() yields
   2^32 whose 9-char hex sorts below nearly every md5 prefix, silently
   inverting "keep ~everything" into "keep ~6%".
3. line_dedup is a total map over docs: empty/whitespace-only documents
   come back as (0, 0, '') instead of vanishing.
4. tag()/drop_tag() read-modify-write is serialized (flock): concurrent
   taggers can't lose each other's tags to last-writer-wins.
"""

import os
import threading

from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
from runyoro_llm_data_pipeline_spark.cdc.generator import gen_change_log
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
from runyoro_llm_data_pipeline_spark.operators.corpus import mix_threshold_hex
from runyoro_llm_data_pipeline_spark.operators.dedup import line_dedup


def _mk(spark, tmp_lake, name, num_buckets=2):
    events, _ = gen_change_log(spark, n_turns=240, n_convs=12, n_batches=2)
    ing = CdcIngest(
        os.path.join(tmp_lake, name), "/nonexistent", num_buckets=num_buckets
    )
    return ing.table(), events


def test_rollback_across_rebucket_refreshes_num_buckets(spark, tmp_lake):
    t, events = _mk(spark, tmp_lake, "rb", num_buckets=2)
    apply_batch(spark, t, events.filter(F.col("batch_id") == 0), 0)
    pre = t.current().version
    assert t.current().num_buckets == 2

    t.rebucket(spark, 8)
    assert t.current().num_buckets == 8

    t.rollback(pre)
    # the restored manifest's modulus is what the next delta write and
    # candidate_files_for_key plan against
    assert t.current().num_buckets == 2
    assert t.current().summary.get("num_buckets") == 2

    # a post-rollback write + point lookup round-trips through the
    # restored modulus
    apply_batch(spark, t, events.filter(F.col("batch_id") == 1), 1)
    some_key = t.read(spark).select("conv_id").first()[0]
    got = t.read_conversation(spark, some_key)
    want = t.read(spark).filter(F.col("conv_id") == some_key)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_mix_threshold_hex_boundary_clamp():
    # the defect: (1 - 2^-34) * 16^8 rounds to 2^32 -> '100000000'
    # (9 chars) which sorts below 'ffffffff'
    assert mix_threshold_hex(1.0 - 2**-34) == "g"
    assert mix_threshold_hex(1.0) == "g"
    assert mix_threshold_hex(0.0) == "00000000"
    # an in-range rate still quantizes normally (8 hex chars, monotone)
    h = mix_threshold_hex(0.5)
    assert len(h) == 8 and h == "80000000"
    assert mix_threshold_hex(0.25) < mix_threshold_hex(0.75)
    # every non-sentinel output is exactly 8 chars (lexicographic
    # comparability with the 8-char md5 prefix)
    for r in (2**-40, 0.1, 0.999, 1.0 - 2**-20):
        out = mix_threshold_hex(r)
        assert out == "g" or len(out) == 8


def test_line_dedup_total_over_empty_docs(spark):
    docs = spark.createDataFrame(
        [
            ("d1", "alpha beta gamma"),
            ("d2", ""),  # zero line rows
            ("d3", "   "),  # whitespace-only: zero line rows
            ("d4", "alpha beta gamma"),
        ],
        "doc_id string, text string",
    )
    out = line_dedup(docs, max_line_freq=1).orderBy("doc_id").collect()
    assert [r["doc_id"] for r in out] == ["d1", "d2", "d3", "d4"]
    by_id = {r["doc_id"]: r for r in out}
    for empty in ("d2", "d3"):
        r = by_id[empty]
        assert (r["n_lines"], r["n_kept"], r["text_deduped"]) == (0, 0, "")
    # the duplicated line is dropped from both carriers
    assert by_id["d1"]["n_kept"] == 0 and by_id["d4"]["n_kept"] == 0


def test_concurrent_tag_mutations_do_not_lose_tags(spark, tmp_lake):
    t, events = _mk(spark, tmp_lake, "tags", num_buckets=2)
    apply_batch(spark, t, events.filter(F.col("batch_id") == 0), 0)
    v = t.current().version

    n_each = 25
    errs = []

    def tagger(prefix):
        try:
            for i in range(n_each):
                t.tag(f"{prefix}-{i}", version=v)
        except Exception as e:  # pragma: no cover - fail loudly below
            errs.append(e)

    threads = [
        threading.Thread(target=tagger, args=(p,)) for p in ("a", "b", "c")
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    tags = t.tags()
    # last-writer-wins on the shared map would drop some of these
    assert len(tags) == 3 * n_each
    assert all(ver == v for ver in tags.values())
    # interleaved drops are serialized too
    def dropper(prefix):
        for i in range(n_each):
            t.drop_tag(f"{prefix}-{i}")

    threads = [
        threading.Thread(target=dropper, args=(p,)) for p in ("a", "b")
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    remaining = t.tags()
    assert set(remaining) == {f"c-{i}" for i in range(n_each)}
