"""Property-based engine correctness: hypothesis generates arbitrary op
sequences (insert/update/upsert/delete with duplicate deliveries and
out-of-order versions), the engine replays them in batches, and the final
table must equal a brute-force single-threaded Python replay.

This is the strongest form of SURVEY.md §5 item 6 — the oracle shares NO
code with the engine (plain dict, latest-wins by (event_ts, lsn))."""

import datetime
import os

import hypothesis.strategies as st
import pytest
from hypothesis import HealthCheck, given, settings
from pyspark.sql import types as T

from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
from runyoro_llm_data_pipeline_spark.cdc.events import EVENT_SCHEMA
from runyoro_llm_data_pipeline_spark.lake.merge import with_internal_schema
from runyoro_llm_data_pipeline_spark.lake.table import LakeTable

_BASE = datetime.datetime(2024, 1, 1)

# one logical event: (key_id 0-5, op 0-3, version 0-7, payload 0-9,
# batch 0-2, lsn rank 0-7). The lsn rank is drawn independently of the
# version, so a straggler can carry an older event_ts but a higher lsn.
event_strategy = st.tuples(
    st.integers(0, 5),
    st.integers(0, 3),
    st.integers(0, 7),
    st.integers(0, 9),
    st.integers(0, 2),
    st.integers(0, 7),
)

OPS = ["insert", "update", "upsert", "delete"]


def _rows_from_spec(spec):
    rows = []
    for idx, (kid, op_i, ver, pay, batch, lsn_rank) in enumerate(spec):
        op = OPS[op_i]
        conv, turn = f"c{kid % 3}", kid // 3
        ts = _BASE + datetime.timedelta(seconds=ver)
        is_del = op == "delete"
        rows.append(
            (
                op, conv, turn,
                None if is_del else "user",
                None if is_del else f"text_{pay}",
                None,
                None if is_del else ts,
                ts,            # event_ts: the version
                lsn_rank * 100 + idx,  # lsn: unique, independent of version
                batch,
            )
        )
    return rows


def _python_oracle(rows):
    """Single-threaded latest-wins replay over ALL events (batch order is
    irrelevant by commutativity)."""
    state = {}
    for op, conv, turn, role, text, tool, ts, event_ts, lsn, _ in rows:
        key = (conv, turn)
        cur = state.get(key)
        if cur is None or (event_ts, lsn) > (cur[0], cur[1]):
            state[key] = (event_ts, lsn, op, role, text)
    return sorted(
        (k[0], k[1], v[3], v[4])
        for k, v in state.items()
        if v[2] != "delete"
    )


_RELAXED = T.StructType(
    [T.StructField(f.name, f.dataType, True) for f in EVENT_SCHEMA.fields]
)


def _new_table(base):
    return LakeTable.create(
        os.path.join(base, "t"),
        with_internal_schema(
            T.StructType(
                [
                    T.StructField("conv_id", T.StringType(), False),
                    T.StructField("turn_idx", T.IntegerType(), False),
                    T.StructField("role", T.StringType(), True),
                    T.StructField("text", T.StringType(), True),
                    T.StructField("tool", T.StringType(), True),
                    T.StructField("ts", T.TimestampType(), True),
                ]
            )
        ),
        num_buckets=4,
    )


def _replay(spark, t, rows, compact_first):
    for b in sorted({r[9] for r in rows}):
        batch_rows = [r for r in rows if r[9] == b]
        apply_batch(
            spark, t, spark.createDataFrame(batch_rows, _RELAXED), b,
            normalize_text=False,
        )
    if compact_first:
        t.compact(spark)
    return sorted(
        (r["conv_id"], r["turn_idx"], r["role"], r["text"])
        for r in t.read(spark).collect()
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(st.lists(event_strategy, min_size=1, max_size=40), st.booleans())
def test_engine_matches_python_replay(
    shared_spark_holder, tmp_path_factory, spec, compact_first
):
    """``compact_first`` covers both read shapes: deltas collapsed at read
    time, and compacted base files."""
    rows = _rows_from_spec(spec)
    t = _new_table(str(tmp_path_factory.mktemp("prop")))
    got = _replay(shared_spark_holder, t, rows, compact_first)
    assert got == _python_oracle(rows)


@pytest.mark.parametrize("compact_first", [False, True])
def test_stored_version_is_the_winners_own(spark, tmp_path, compact_first):
    """Batch 0 holds e1 (ts=10, lsn=5) and a late straggler e2 (ts=5,
    lsn=8); batch 1 holds e3 (ts=10, lsn=6). e3 wins: (10, 6) > (10, 5).
    Storing batch 0's winner as (10, max lsn 8) would let it outrank e3."""
    ts = [_BASE + datetime.timedelta(seconds=s) for s in (10, 5, 10)]
    rows = [
        ("upsert", "c0", 0, "user", text, None, t, t, lsn, batch)
        for text, t, lsn, batch in (
            ("e1", ts[0], 5, 0), ("e2", ts[1], 8, 0), ("e3", ts[2], 6, 1),
        )
    ]
    t = _new_table(str(tmp_path))
    assert _replay(spark, t, rows, compact_first) == [("c0", 0, "user", "e3")]
    assert _python_oracle(rows) == [("c0", 0, "user", "e3")]
    stored = t.read(spark, include_internal=True).collect()
    assert [(r["text"], r["_cdc_lsn"]) for r in stored] == [("e3", 6)]
