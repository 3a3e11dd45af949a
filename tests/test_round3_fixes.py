"""Round-3 hardening (ADVICE.md fixes): empty-batch apply commits a
no-op instead of crashing, torn/corrupt offset-log footers are skipped
and retried, and HTML entity unescaping matches ``html.unescape`` order
(``&amp;`` last)."""

import html
import os

from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
from runyoro_llm_data_pipeline_spark.cdc.events import EVENT_SCHEMA
from runyoro_llm_data_pipeline_spark.cdc.generator import gen_change_log
from runyoro_llm_data_pipeline_spark.lake.table import LakeTable
from runyoro_llm_data_pipeline_spark.sources.offsets import ParquetOffsetLog


def _mk_table(tmp_lake, name="t"):
    from runyoro_llm_data_pipeline_spark.cdc.events import TRANSCRIPT_SCHEMA

    return LakeTable.create(
        os.path.join(tmp_lake, name), TRANSCRIPT_SCHEMA, num_buckets=4
    )


def test_empty_batch_commits_noop(spark, tmp_lake):
    """ADVICE(medium): F.sum over zero observed rows yields NULL; an empty
    batch (empty poll window / empty batch dir) must commit a no-op batch,
    not raise TypeError from the metrics arithmetic."""
    t = _mk_table(tmp_lake)
    events, _ = gen_change_log(spark, n_turns=50, n_convs=5, n_batches=1)
    r0 = apply_batch(spark, t, events, batch_id=0)
    assert r0["status"] == "applied"
    rows_before = t.read(spark).count()

    empty = spark.createDataFrame([], EVENT_SCHEMA)
    r1 = apply_batch(spark, t, empty, batch_id=1)
    assert r1["status"] == "applied"
    assert r1.get("late_events", 0) == 0

    # idempotence ledger advanced (batch 1 folded into the floor), data
    # unchanged
    assert t.current().applied_floor == 1
    assert t.read(spark).count() == rows_before
    r1b = apply_batch(spark, t, empty, batch_id=1)
    assert r1b["status"] == "skipped"


def test_all_rejected_batch_commits_noop(spark, tmp_lake):
    """Same guard for a batch where every row fails admission: n_valid
    observes 0 valid rows but n_total > 0 — n_rejected must equal the
    batch size and the commit still land."""
    t = _mk_table(tmp_lake)
    import datetime as dt

    now = dt.datetime(2026, 1, 1)
    bad = spark.createDataFrame(
        [("upsert", "", -1, "user", "x", None, now, now, 1, 0)],
        EVENT_SCHEMA,
    )
    r = apply_batch(spark, t, bad, batch_id=0)
    assert r["status"] == "applied"
    assert t.read(spark).count() == 0


def test_torn_footer_skipped_and_retried(spark, tmp_path_factory):
    """ADVICE(low): a parquet file mid-write by the producer (torn footer)
    must not crash latest_offsets; it is skipped WITHOUT caching so the
    next poll picks it up once complete."""
    root = str(tmp_path_factory.mktemp("offlog"))
    log = ParquetOffsetLog(root)
    ev = spark.range(10).select(
        F.lit("upsert").alias("op"),
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("hi").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.current_timestamp().alias("ts"),
        F.current_timestamp().alias("event_ts"),
        F.col("id").alias("lsn"),
        F.lit(0).cast("long").alias("batch_id"),
        F.pmod(F.col("id"), F.lit(2)).cast("int").alias("log_part"),
    )
    log.append(ev)
    good = log.latest_offsets(spark)
    assert good and max(good.values()) == 9

    # drop a torn file into partition 0: poll must survive and ignore it
    pdir = os.path.join(root, "log_part=0")
    torn = os.path.join(pdir, "part-torn.parquet")
    with open(torn, "wb") as f:
        f.write(b"PAR1\x00\x01\x02 not a real footer")
    assert log.latest_offsets(spark) == good

    # writer finishes: replace with a valid file carrying a higher lsn —
    # a fresh poll (no stale cache entry) must see it
    src_dir = os.path.join(root, "log_part=1")
    src = next(
        os.path.join(src_dir, f)
        for f in os.listdir(src_dir)
        if f.endswith(".parquet")
    )
    import pyarrow.parquet as pq

    tbl = pq.read_table(src)
    import pyarrow.compute as pc

    tbl = tbl.set_column(
        tbl.schema.get_field_index("lsn"),
        "lsn",
        pc.add(tbl.column("lsn"), 100),
    )
    pq.write_table(tbl, torn)
    after = log.latest_offsets(spark)
    assert after["0"] >= 100


def test_entity_unescape_order_matches_html_unescape(spark):
    """ADVICE(low): '&amp;lt;' must unescape to '&lt;' (one level), not
    '<' (double-unescape) — i.e. &amp; is replaced LAST."""
    from runyoro_llm_data_pipeline_spark.operators.scrape import html_to_text

    cases = [
        "a &amp;lt; b",
        "x &amp;amp; y",
        "&lt;tag&gt; &amp; &nbsp;done",
    ]
    df = spark.createDataFrame([(c,) for c in cases], ["html"])
    got = [r[0] for r in df.select(html_to_text(F.col("html"))).collect()]
    for c, g in zip(cases, got):
        want = " ".join(
            html.unescape(c).replace("\xa0", " ").split()
        ).strip()
        assert g == want, (c, g, want)


def test_applied_ledger_truncation(spark, tmp_lake, tmp_path_factory):
    """Every batch commit folds the applied ledger into its floor, so the
    ledger stays empty over a contiguous batch stream while idempotence
    holds through the floor: a folded batch's replay is skipped, and a
    new batch past a gap keeps its entry until the gap closes."""
    from runyoro_llm_data_pipeline_spark.cdc.generator import write_batch_files
    from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest

    d = str(tmp_path_factory.mktemp("fold"))
    events, _ = gen_change_log(spark, n_turns=300, n_convs=10, n_batches=6)
    write_batch_files(events, d)
    ing = CdcIngest(os.path.join(tmp_lake, "t"), d, num_buckets=4)
    assert len(ing.run(spark)) == 6
    t = ing.table()
    snap = t.current()
    assert snap.applied == {} and snap.summary["applied_floor"] == 5
    assert t.current().applied_floor == 5

    # idempotence THROUGH the floor: all 6 batch dirs still on disk,
    # nothing is pending and a forced re-apply of a folded batch skips
    assert ing.pending() == []
    rows = t.read(spark).count()
    ev0 = spark.read.parquet(os.path.join(d, "batch_00000"))
    assert apply_batch(spark, t, ev0, batch_id=0)["status"] == "skipped"
    assert t.read(spark).count() == rows

    # a genuinely NEW batch past a gap applies and keeps its entry; the
    # batch that closes the gap folds both
    ev_new = ev0.withColumn("lsn", F.col("lsn") + 10_000_000).withColumn(
        "event_ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("lsn"))
    )
    assert apply_batch(spark, t, ev_new, batch_id=7)["status"] == "applied"
    assert sorted(t.current().applied) == ["7"] and t.current().applied_floor == 5
    assert not t.current().has_applied(6)
    empty = spark.createDataFrame([], EVENT_SCHEMA)
    assert apply_batch(spark, t, empty, batch_id=6)["status"] == "applied"
    assert t.current().applied == {} and t.current().applied_floor == 7


def test_auto_truncate_knob_and_incremental_across_floor(
    spark, tmp_lake, tmp_path_factory, poll_since
):
    """``CdcIngest`` bounds the ledger without any maintenance call or
    option (each batch commit folds it), and an incremental consumer
    whose window spans the folded batches still receives exactly the
    late-batch winners."""
    from runyoro_llm_data_pipeline_spark.cdc.generator import write_batch_files
    from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest

    d = str(tmp_path_factory.mktemp("autotrunc"))
    events, _ = gen_change_log(spark, n_turns=400, n_convs=12, n_batches=8)
    write_batch_files(events, d)
    ing = CdcIngest(os.path.join(tmp_lake, "t"), d, num_buckets=4)
    assert len(ing.run(spark, max_batches=5)) == 5
    t = ing.table()
    assert t.current().applied == {} and t.current().applied_floor == 4
    v_mid = t.current_version()

    assert len(ing.run(spark)) == 3
    assert t.current().applied == {} and t.current().applied_floor == 7
    # idempotence through the floor: nothing pending, a rerun applies zero
    assert ing.pending() == [] and ing.run(spark) == []

    # incremental window spanning the folded batches 5-7
    inc, tok = poll_since(spark, t.path, v_mid)
    assert not tok.was_resync
    late_keys = {
        (r["conv_id"], r["turn_idx"])
        for r in events.filter(F.col("batch_id") >= 5)
        .select("conv_id", "turn_idx").distinct().collect()
    }
    got_keys = {
        (r["conv_id"], r["turn_idx"])
        for r in inc.select("conv_id", "turn_idx").collect()
    }
    assert got_keys == late_keys
    assert inc.count() == len(got_keys)


def test_batch_keyed_incremental_consumer(spark, tmp_lake, poll_since):
    """A downstream consumer that checkpoints BATCH IDS (the same unit the
    ingest side checkpoints) maps a batch to the data commit that applied
    it through ``metrics_history()``, then reads with a feed from that
    version: it gets exactly the later batches' winners, also once the
    ledger folded away. Once ``expire_snapshots`` drops the commit point,
    the batch leaves ``metrics_history()`` though ``has_applied`` still
    holds, and a feed from its old version resyncs instead of silently
    under- or over-delivering."""
    t = _mk_table(tmp_lake)
    events, _ = gen_change_log(spark, n_turns=300, n_convs=10, n_batches=6)
    for b in range(6):
        r = apply_batch(
            spark, t, events.filter(F.col("batch_id") == b), batch_id=b
        )
        assert r["status"] == "applied"

    def version_of(batch_id):
        return {h["batch_id"]: h["version"] for h in t.metrics_history()}.get(
            batch_id
        )

    snap = t.current()
    assert snap.has_applied(0) and snap.has_applied(5)
    assert not snap.has_applied(6)
    assert version_of(99) is None

    def keys_of(df):
        return {
            (r["conv_id"], r["turn_idx"])
            for r in df.select("conv_id", "turn_idx").collect()
        }

    after2 = keys_of(events.filter(F.col("batch_id") >= 3))
    v2 = version_of(2)
    inc, tok = poll_since(spark, t.path, v2)
    assert not tok.was_resync
    assert keys_of(inc) == after2
    # sanity: the resolved version really is batch 2's data commit
    assert t.snapshot(v2).summary["last_batch_id"] == 2

    # each commit folded its batch into the floor; the commit points
    # are still retained, so batch-keyed consumption of a folded batch
    # still resolves and delivers batches 1-5
    assert t.current().applied == {} and t.current().applied_floor == 5
    assert t.current().has_applied(0)  # known-applied through the floor
    v0 = version_of(0)
    inc, tok = poll_since(spark, t.path, v0)
    assert not tok.was_resync
    assert keys_of(inc) == keys_of(events.filter(F.col("batch_id") >= 1))

    # expire history: last 2 snapshots = the batch-4 and batch-5 data
    # commits. batch 5 still resolves; batch 0 is applied (the floor says
    # so) but its commit point is gone, so it leaves metrics_history and a
    # feed from its old version resyncs; batch 77 has neither
    t.expire_snapshots(keep_last=2)
    assert [h["batch_id"] for h in t.metrics_history()] == [4, 5]
    assert t.snapshot(version_of(5)).summary["last_batch_id"] == 5
    assert version_of(0) is None and t.current().has_applied(0)
    assert version_of(77) is None and not t.current().has_applied(77)
    _, tok = poll_since(spark, t.path, v0)
    assert tok.was_resync
