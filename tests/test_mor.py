"""Merge-on-read apply path: O(batch) delta writes, latest-wins at read,
with and without compaction, across crash-resume, tombstones, schema
evolution and late-event accounting.
"""

import ast
import os
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

import runyoro_llm_data_pipeline_spark as pkg
from runyoro_llm_data_pipeline_spark.cdc.generator import (
    gen_change_log,
    write_batch_files,
)
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
from runyoro_llm_data_pipeline_spark.lake.table import LakeTable


def _rows(df):
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    return [
        tuple(r) for r in df.select(*cols).orderBy("conv_id", "turn_idx").collect()
    ]


@pytest.fixture(scope="module")
def log(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("morlog"))
    events, expected = gen_change_log(
        spark, n_turns=800, n_convs=30, n_batches=6, tool_from_batch=2
    )
    write_batch_files(events, d, tool_from_batch=2)
    return d, _rows(expected)


def test_mor_replay_matches_expected_and_cow(spark, log, tmp_lake):
    batch_dir, expected = log
    mor = CdcIngest(
        os.path.join(tmp_lake, "mor"), batch_dir, num_buckets=8,
        compact_max_files=None,
    )
    mor.run(spark)
    t = mor.table()
    # deltas really accumulated (no rewrite happened)
    kinds = {f.get("kind", "base") for f in t.current().files}
    assert kinds == {"delta"}
    assert _rows(t.read(spark)) == expected


def test_mor_auto_compaction_preserves_state(spark, log, tmp_lake):
    batch_dir, expected = log
    ing = CdcIngest(
        os.path.join(tmp_lake, "t"), batch_dir, num_buckets=8,
        compact_max_files=2,
    )
    ing.run(spark)
    t = ing.table()
    # compaction kept per-bucket file counts bounded
    deltas = Counter(f["bucket"] for f in t.current().files if f.get("kind") == "delta")
    assert max(deltas.values(), default=0) <= 2
    assert _rows(t.read(spark)) == expected
    # a full manual compaction leaves exactly one base file per live bucket
    t.compact(spark)
    files = t.current().files
    assert all(f.get("kind") == "base" for f in files)
    per_bucket = {}
    for f in files:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert all(n == 1 for n in per_bucket.values())
    assert _rows(t.read(spark)) == expected


def test_mor_resume_and_idempotency(spark, log, tmp_lake):
    batch_dir, expected = log
    ing = CdcIngest(
        os.path.join(tmp_lake, "t"), batch_dir, num_buckets=8,
        compact_max_files=3,
    )
    first = ing.run(spark, max_batches=3)
    assert len(first) == 3
    ing2 = CdcIngest(
        os.path.join(tmp_lake, "t"), batch_dir, num_buckets=8,
        compact_max_files=3,
    )
    rest = ing2.run(spark)
    assert len(rest) == 3
    assert ing2.run(spark) == []
    assert _rows(ing2.table().read(spark)) == expected


def test_mor_tombstone_survives_compaction(spark, tmp_lake):
    """A delete compacted into the base must still beat a stale event
    replayed afterwards (commutativity across compaction)."""
    import datetime

    from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
    from runyoro_llm_data_pipeline_spark.cdc.events import EVENT_SCHEMA

    def df(rows):
        return spark.createDataFrame(rows, EVENT_SCHEMA)

    ts = datetime.datetime(2024, 1, 1)
    t2 = datetime.datetime(2024, 1, 2)
    ing = CdcIngest(os.path.join(tmp_lake, "t"), "/nonexistent", num_buckets=4)
    t = ing.table()
    apply_batch(
        spark, t,
        df([("insert", "c1", 0, "user", "v1", None, ts, ts, 1, 0)]), 0,
    )
    apply_batch(
        spark, t,
        df([("delete", "c1", 0, None, None, None, None, t2, 5, 1)]), 1,
    )
    t.compact(spark)
    assert t.read(spark).count() == 0
    # stale event (older version) arrives in a later batch → must stay dead
    apply_batch(
        spark, t,
        df([("upsert", "c1", 0, "user", "stale", None, ts, ts, 2, 2)]), 2,
    )
    assert t.read(spark).count() == 0
    # genuinely newer re-insert resurrects
    t3 = datetime.datetime(2024, 1, 3)
    apply_batch(
        spark, t,
        df([("insert", "c1", 0, "user", "new", None, t3, t3, 9, 3)]), 3,
    )
    out = t.read(spark).collect()
    assert len(out) == 1 and out[0]["text"] == "new"


def test_mor_schema_evolution(spark, tmp_lake):
    from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch

    events, _ = gen_change_log(spark, n_turns=100, n_convs=10, n_batches=2)
    b0 = events.filter(F.col("batch_id") == 0)
    b1 = events.filter(F.col("batch_id") == 1).withColumn(
        "meta", F.concat(F.lit("m_"), F.col("lsn").cast("string"))
    )
    ing = CdcIngest(os.path.join(tmp_lake, "t"), "/nonexistent", num_buckets=4)
    t = ing.table()
    apply_batch(spark, t, b0, 0)
    apply_batch(spark, t, b1, 1)
    final = t.read(spark)
    assert "meta" in final.columns
    assert final.filter(F.col("meta").isNotNull()).count() > 0
    t.compact(spark)
    final2 = t.read(spark)
    assert _rows_eq(final, final2)


def _rows_eq(a, b):
    ca = sorted(a.columns)

    def key(t):
        return tuple((v is None, v) for v in t)

    ra = sorted(map(tuple, a.select(*ca).collect()), key=key)
    rb = sorted(map(tuple, b.select(*ca).collect()), key=key)
    return ra == rb


def test_late_event_accounting(spark, tmp_lake):
    """Replayed/out-of-order events at or below the committed watermark are
    surfaced in the apply result (and remain harmless)."""
    import datetime

    from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
    from runyoro_llm_data_pipeline_spark.cdc.events import EVENT_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    ing = CdcIngest(os.path.join(tmp_lake, "t"), "/nonexistent", num_buckets=4)
    t = ing.table()
    r1 = apply_batch(
        spark, t,
        spark.createDataFrame(
            [("insert", "c1", 0, "user", "v1", None, ts, ts, 100, 0)], EVENT_SCHEMA
        ),
        0,
    )
    assert r1["late_events"] == 0
    ts2 = datetime.datetime(2024, 1, 2)
    r2 = apply_batch(
        spark, t,
        spark.createDataFrame(
            [
                ("upsert", "c1", 0, "user", "stale-dup", None, ts, ts, 100, 1),
                ("insert", "c1", 1, "user", "fresh", None, ts2, ts2, 200, 1),
            ],
            EVENT_SCHEMA,
        ),
        1,
    )
    assert r2["late_events"] == 1
    # the stale duplicate did not clobber anything
    rows = {r["turn_idx"]: r["text"] for r in t.read(spark).collect()}
    assert rows == {0: "v1", 1: "fresh"}


def test_every_write_plans_one_bucket_shuffle_under_its_collapse(
    spark, log, tmp_lake, monkeypatch
):
    """The frame an apply and a ``compact`` hand to the parquet writer
    shuffles once, on ``__bucket``, with the whole ``max_by`` collapse
    (partial and final) above the exchange: ``write_data_files`` is the one
    write shape, and no write shuffles on the key first."""
    plans = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    batch_dir, _ = log
    ing = CdcIngest(
        os.path.join(tmp_lake, "t"), batch_dir, num_buckets=8,
        compact_max_files=None,
    )
    ing.run(spark, max_batches=1)
    assert ing.table().compact(spark) > 0
    assert len(plans) == 2
    for plan in plans:
        lines = plan.splitlines()
        exchanges = [i for i, ln in enumerate(lines) if "Exchange" in ln]
        assert len(exchanges) == 1, plan
        assert re.search(
            r"Exchange hashpartitioning\(__bucket#\d+, ", lines[exchanges[0]]
        ), plan
        assert any("partial_max_by" in ln for ln in lines[: exchanges[0]]), plan


def _max_by_owners(node, owner):
    """(function name) of every ``max_by`` call under ``node``, by the
    innermost enclosing function."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, ast.Call):
            func = child.func
            name = func.attr if isinstance(func, ast.Attribute) else getattr(
                func, "id", None
            )
            if name == "max_by":
                yield owner
        inner = (
            child.name
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            else owner
        )
        yield from _max_by_owners(child, inner)


def test_engine_has_one_latest_wins_aggregate():
    """``cdc/`` and ``lake/`` hold exactly one ``max_by`` call, inside
    ``collapse_stored``: apply, reads, compaction and the feed share one
    latest-wins collapse, and only the window oracle stays beside it."""
    pkg_dir = os.path.dirname(pkg.__file__)
    found = []
    for sub in ("cdc", "lake"):
        for fn in sorted(os.listdir(os.path.join(pkg_dir, sub))):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(pkg_dir, sub, fn)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            found += [(f"{sub}/{fn}", o) for o in _max_by_owners(tree, None)]
    assert found == [("lake/table.py", "collapse_stored")]
