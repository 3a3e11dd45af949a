"""Seeded workload inputs, generated once per seed and reused.

The benchmark owns its inputs: both logs are generated here in plain
Python from ``--seed`` and written with pyarrow, so generation starts no
Spark job, warms nothing the measurement depends on, and cannot change
when the engine's own test generator changes.

Inputs live under ``<root>/<key>/`` and are published by renaming a
finished temporary directory, so a half-written input is never reused.
Each carries a fingerprint (events, keys, events per key, hot-key share,
content hash). Runs record it, and ``compare.py`` refuses to compare runs
whose fingerprints differ.

* ``replay_bulk``: the churny log -- per final turn one winning
  insert/update/upsert, plus stale earlier versions (~1/3 of keys),
  duplicate deliveries (~1/5), delete-then-reinsert (~1/10), ghost keys
  inserted then deleted, ~30% of turns on one hot conversation, and the
  ``tool`` column absent from the files of the early batches.
* ``tail_serve``: a prefill batch, then small batches of mostly-new turns
  over uniformly chosen conversations with few updates and deletes.

The oracle for both is a pure-Python fold of the events -- latest
``(event_ts, lsn)`` per key wins, a winning delete removes the key -- with
text through the reference CPython normalizer.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_BASE_EPOCH = 1_700_000_000
_GHOST_TURN = 2_000_000_000
_WORDS = (
    "omu kandi webale ekyalo obusinge amaizi ekitabu okusoma omuntu engoma "
    "data spark merge batch window table join stream value query lake"
).split()
_NOISE = ("", "", "", " Q&amp;A 🙂", "\t«x»\r\nend", "  — fin… ", " &lt;tag&gt; ’tis")

EVENT_ARROW = pa.schema([
    ("op", pa.string()),
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("event_ts", pa.timestamp("us", tz="UTC")),
    ("lsn", pa.int64()),
    ("batch_id", pa.int64()),
])
TRANSCRIPT_ARROW = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


class _Gen:
    """Event factory over one seeded random stream."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)

    def payload(self, turn: int) -> tuple[str, str, str | None]:
        rng = self.rng
        words = rng.integers(len(_WORDS), size=int(rng.integers(5, 13)))
        text = " ".join(_WORDS[w] for w in words) + _NOISE[int(rng.integers(len(_NOISE)))]
        r = int(rng.integers(11))
        if r == 0:
            return "tool", text, f"tool_{int(rng.integers(5))}"
        if r == 1:
            return "system", text, None
        return ("user" if turn % 2 == 0 else "assistant"), text, None

    @staticmethod
    def event(op: str, conv: str, turn: int, lsn: int, payload=None,
              ts_s: int | None = None) -> dict:
        role, text, tool = payload if payload is not None else (None, None, None)
        return {"op": op, "conv_id": conv, "turn_idx": turn, "role": role,
                "text": text, "tool": tool,
                "ts": None if ts_s is None else ts_s * 1_000_000,
                "event_ts": (_BASE_EPOCH + lsn) * 1_000_000, "lsn": lsn,
                "batch_id": 0}


def gen_churn_batches(seed: int, n_turns: int, n_convs: int, n_batches: int,
                      tool_from: int, hot_share: float = 0.30) -> list[list[dict]]:
    """The churny backfill log, cut into ``n_batches`` contiguous lsn
    ranges; events of batches below ``tool_from`` carry no ``tool``."""
    g = _Gen(seed)
    rng = g.rng
    next_turn: dict[str, int] = {}
    events: list[dict] = []
    for k in range(n_turns):
        conv = ("conv_hot" if rng.random() < hot_share
                else f"conv_{int(rng.integers(n_convs))}")
        turn = next_turn.get(conv, 0)
        next_turn[conv] = turn + 1
        pl = g.payload(turn)
        ts_s = _BASE_EPOCH + k * 60 + int(rng.integers(60))
        lsn = k * 10 + 9
        op = ("insert", "update", "upsert")[int(rng.integers(3))]
        win = g.event(op, conv, turn, lsn, pl, ts_s)
        events.append(win)
        if rng.random() < 1 / 3:  # superseded earlier version
            events.append(g.event("insert", conv, turn, lsn - 6,
                                  (pl[0], "STALE " + pl[1], None), ts_s))
        if rng.random() < 1 / 5:  # duplicate delivery of the winner
            events.append(dict(win))
        if rng.random() < 1 / 10:  # deleted, then re-inserted by the winner
            events.append(g.event("delete", conv, turn, lsn - 3))
    n_ghosts = max(n_turns // 20, 1)
    ghost_base = n_turns * 10 + 100
    for j in range(n_ghosts):  # inserted then deleted: absent at the end
        conv = f"conv_{int(rng.integers(n_convs))}"
        lsn = ghost_base + j * 10
        events.append(g.event("insert", conv, _GHOST_TURN + j, lsn,
                              g.payload(j), _BASE_EPOCH + j))
        events.append(g.event("delete", conv, _GHOST_TURN + j, lsn + 5))
    max_lsn = ghost_base + n_ghosts * 10 + 10
    batches: list[list[dict]] = [[] for _ in range(n_batches)]
    for e in events:
        b = min(e["lsn"] * n_batches // max_lsn, n_batches - 1)
        e["batch_id"] = b
        if b < tool_from:
            e["tool"] = None
        batches[b].append(e)
    # arrival order within a batch is not lsn order
    return [[bt[i] for i in rng.permutation(len(bt))] for bt in batches]


def gen_tail_batches(seed: int, n_convs: int, prefill: int, n_batches: int,
                     batch_events: int, p_update: float = 0.07,
                     p_delete: float = 0.03) -> list[list[dict]]:
    """Batch 0 is the prefill (inserts only); batches 1..n are the tail."""
    g = _Gen(seed)
    rng = g.rng
    next_turn = [0] * n_convs
    live: list[tuple[str, int]] = []
    where: dict[tuple[str, int], int] = {}
    lsn = 0

    def event(op: str, key: tuple[str, int], b: int) -> dict:
        nonlocal lsn
        lsn += 1
        if op == "delete":
            e = g.event(op, key[0], key[1], lsn)
        else:
            e = g.event(op, key[0], key[1], lsn, g.payload(key[1]), _BASE_EPOCH + lsn)
        e["batch_id"] = b
        return e

    def insert(b: int) -> dict:
        c = int(rng.integers(n_convs))
        key = (f"conv_{c}", next_turn[c])
        next_turn[c] += 1
        where[key] = len(live)
        live.append(key)
        return event("insert" if rng.random() < 0.5 else "upsert", key, b)

    def drop_live(key: tuple[str, int]) -> None:
        i = where.pop(key)
        last = live.pop()
        if last != key:
            live[i] = last
            where[last] = i

    batches = [[insert(0) for _ in range(prefill)]]
    for b in range(1, n_batches + 1):
        out = []
        for _ in range(batch_events):
            r = float(rng.random())
            if r < p_delete and live:
                key = live[int(rng.integers(len(live)))]
                drop_live(key)
                out.append(event("delete", key, b))
            elif r < p_delete + p_update and live:
                out.append(event("update", live[int(rng.integers(len(live)))], b))
            else:
                out.append(insert(b))
        batches.append(out)
    return batches


def oracle_rows(batches: list[list[dict]]) -> list[dict]:
    """Independent final state: latest ``(event_ts, lsn)`` per key wins,
    a winning delete removes the key, text through the reference CPython
    normalizer."""
    from runyoro_llm_data_pipeline_spark.operators.text import (
        clean_and_preprocess_text_py,
    )

    win: dict[tuple[str, int], dict] = {}
    for batch in batches:
        for e in batch:
            k = (e["conv_id"], e["turn_idx"])
            cur = win.get(k)
            if cur is None or (e["event_ts"], e["lsn"]) > (cur["event_ts"], cur["lsn"]):
                win[k] = e
    return [
        {"conv_id": e["conv_id"], "turn_idx": e["turn_idx"], "role": e["role"],
         "text": clean_and_preprocess_text_py(e["text"]), "tool": e.get("tool"),
         "ts": e["ts"]}
        for e in win.values() if e["op"] != "delete"
    ]


def write_rows(rows: list[dict], schema: pa.Schema, path: str,
               n_files: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=schema)
    step = max(-(-table.num_rows // n_files), 1)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows or i == 0:
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def write_log(batches: list[list[dict]], path: str, n_files: int,
              tool_from: int = 0) -> None:
    """One Parquet directory per batch, ``batch_00000`` ...; the files of
    batches below ``tool_from`` have no ``tool`` column at all."""
    early = pa.schema([f for f in EVENT_ARROW if f.name != "tool"])
    for b, rows in enumerate(batches):
        write_rows(rows, EVENT_ARROW if b >= tool_from else early,
                   os.path.join(path, f"batch_{b:05d}"), n_files)


def read_log(path: str, n: int) -> list[list[dict]]:
    """Events of the first ``n`` batches, timestamps as integer
    microseconds (as generated; far cheaper than datetime objects)."""
    out = []
    for b in range(n):
        t = pq.read_table(os.path.join(path, f"batch_{b:05d}"))
        t = t.cast(pa.schema([
            pa.field(f.name, pa.int64()) if pa.types.is_timestamp(f.type) else f
            for f in t.schema
        ]))
        out.append(t.to_pylist())
    return out


def fingerprint(workload: str, seed: int, batches: list[list[dict]],
                params: dict) -> dict:
    events = [e for rows in batches for e in rows]
    keys = Counter((e["conv_id"], e["turn_idx"]) for e in events)
    convs = Counter(e["conv_id"] for e in events)
    digest = hashlib.sha256(json.dumps(batches, sort_keys=True).encode())
    return {
        "workload": workload,
        "seed": seed,
        "events": len(events),
        "keys": len(keys),
        "events_per_key": round(len(events) / len(keys), 4),
        "hot_key_share": round(convs.most_common(1)[0][1] / len(events), 4),
        "content_hash": digest.hexdigest()[:16],
        "batch_events": {str(b): len(r) for b, r in enumerate(batches)},
        "params": params,
    }


def _cached(final: str) -> dict | None:
    try:
        with open(os.path.join(final, "fingerprint.json")) as fh:
            return json.load(fh)
    except OSError:
        return None


def _materialize(final: str, build) -> dict:
    """Return the cached fingerprint, or run ``build(tmp_dir)`` (which
    writes the inputs and returns their fingerprint) and publish."""
    fp = _cached(final)
    if fp is not None:
        return fp
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    fp = build(tmp)
    with open(os.path.join(tmp, "fingerprint.json"), "w") as fh:
        json.dump(fp, fh, indent=1, sort_keys=True)
    try:
        os.rename(tmp, final)
    except OSError:
        # another run published the same inputs first; they are equal
        shutil.rmtree(tmp, ignore_errors=True)
    return _cached(final) or fp


def replay_bulk_inputs(root: str, seed: int, n_turns: int, n_batches: int,
                       warm_turns: int, n_files: int) -> tuple[str, dict]:
    """``<dir>/log`` (the backfill) and ``<dir>/warm`` (a one-batch log of
    another seed for the warm-up)."""
    params = {"n_turns": n_turns, "n_batches": n_batches,
              "warm_turns": warm_turns, "n_files": n_files}
    final = os.path.join(root, "replay_bulk-s{}-{}".format(
        seed, "-".join(f"{v}" for v in params.values())))

    def build(tmp: str) -> dict:
        tool_from = n_batches // 2
        batches = gen_churn_batches(seed, n_turns, max(n_turns // 20, 10),
                                    n_batches, tool_from)
        write_log(batches, os.path.join(tmp, "log"), n_files, tool_from)
        warm = gen_churn_batches(seed + 1_000_003, warm_turns,
                                 max(warm_turns // 20, 10), 1, 0)
        write_log(warm, os.path.join(tmp, "warm"), n_files)
        return fingerprint("replay_bulk", seed, batches, params)

    return final, _materialize(final, build)


def tail_serve_inputs(root: str, seed: int, n_convs: int, prefill: int,
                      n_batches: int, batch_events: int,
                      n_files: int) -> tuple[str, dict]:
    """``<dir>/log/batch_00000`` is the prefill, then the tail batches."""
    params = {"n_convs": n_convs, "prefill": prefill, "n_batches": n_batches,
              "batch_events": batch_events, "n_files": n_files}
    final = os.path.join(root, "tail_serve-s{}-{}".format(
        seed, "-".join(f"{v}" for v in params.values())))

    def build(tmp: str) -> dict:
        batches = gen_tail_batches(seed, n_convs, prefill, n_batches, batch_events)
        write_log(batches, os.path.join(tmp, "log"), n_files)
        return fingerprint("tail_serve", seed, batches, params)

    return final, _materialize(final, build)
