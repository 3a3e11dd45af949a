"""Multi-table atomic transactions over :class:`~..lake.table.LakeTable`.

A pipeline that writes a transcript table plus derived tables (e.g. a
per-conversation rollup) needs both commits visible together or not at
all. Single-table commits are already snapshot-atomic (exclusive
manifest create + pointer rename); this module adds a two-phase
coordinator across tables, in the same crash-safe filesystem idiom
(generalizes Iceberg's multi-table transactions on a shared catalog;
the reference pipeline writes its ledger + outputs sequentially with no
cross-file atomicity — ``scripts/orchestrator.py:63-101`` — which this
engine must not inherit at lake scale):

1. **prepare** — each table's snapshot manifest is written with the
   normal create-exclusive CAS but the version pointer does NOT move,
   and the manifest carries ``pending_txn: <record path>``. A staged
   manifest is invisible (readers resolve the pointer) and is NOT
   adoptable by ``recover()``.
2. **decide** — one ``os.rename`` publishes the transaction record with
   ``status: committed`` listing every ``(table, version)``
   participant. This rename IS the atomic commit point for the whole
   transaction.
3. **finalize** — each participant's pointer is rolled forward
   (idempotent; any reader's ``LakeTable.load()`` → ``recover()`` does
   the same by consulting the record).

Crash matrix (test-covered in tests/test_txn.py):

* crash before decide → no record: every staged manifest is undecided,
  ``recover()`` refuses to adopt, readers see the old versions of ALL
  tables; the stale-manifest reclaim in ``commit()`` garbage-collects
  the stage once it ages out, so the tables are not wedged.
* crash after decide, before/mid finalize → the record is durable:
  ``recover()`` on ANY participant adopts its staged version, so all
  tables become visible (each reader heals its own table; the
  coordinator's ``recover_txns`` heals all of them at once).
* prepare conflict on table k → staged manifests 0..k-1 are removed
  (best-effort; reclaim covers a crash mid-abort) and the transaction
  raises with nothing visible.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field
from typing import Any

from runyoro_llm_data_pipeline_spark.lake.table import (
    SNAP_DIR,
    VERSION_POINTER,
    LakeTable,
    Snapshot,
    _atomic_write,
)


@dataclass
class StagedCommit:
    """One table's half-open commit: the kwargs it would pass to
    ``LakeTable.commit`` (parent/files/schema/applied/summary/
    commit_type), passed through unchanged."""

    table: LakeTable
    kwargs: dict[str, Any] = field(default_factory=dict)


class MultiTableTransaction:
    """Two-phase commit across LakeTables sharing one record directory.

    Usage::

        txn = MultiTableTransaction(txn_dir)
        txn.commit_all([
            StagedCommit(transcripts, dict(parent=..., files=...,
                                           applied=...)),
            StagedCommit(rollup, dict(parent=..., files=..., ...)),
        ])
    """

    def __init__(self, txn_dir: str):
        self.txn_dir = os.path.abspath(txn_dir)
        os.makedirs(self.txn_dir, exist_ok=True)

    # ------------------------------------------------------------ phases
    def prepare(self, staged: list[StagedCommit]) -> tuple[str, list[tuple[LakeTable, Snapshot]]]:
        """Phase 1: stage every participant's manifest (pointer untouched).
        On any failure, best-effort removal of already-staged manifests —
        a crash mid-abort leaves only undecided stages, which are inert
        and age-gated-reclaimable."""
        txn_file = os.path.join(self.txn_dir, f"txn-{uuid.uuid4().hex}.json")
        done: list[tuple[LakeTable, Snapshot]] = []
        try:
            for sc in staged:
                snap = sc.table.commit(**sc.kwargs, pending_txn=txn_file)
                done.append((sc.table, snap))
        except BaseException:
            for t, s in done:
                p = os.path.join(t.path, SNAP_DIR, f"v{s.version:08d}.json")
                try:
                    os.remove(p)
                except OSError:
                    pass
            raise
        return txn_file, done

    @staticmethod
    def decide(txn_file: str, participants: list[tuple[LakeTable, Snapshot]]) -> None:
        """Phase 2, the commit point: one atomic rename publishes the
        committed record."""
        _atomic_write(
            txn_file,
            json.dumps(
                {
                    "status": "committed",
                    "participants": [
                        {"table": t.path, "version": s.version}
                        for t, s in participants
                    ],
                },
                indent=1,
            ),
        )

    @staticmethod
    def finalize(participants: list[tuple[LakeTable, Snapshot]]) -> None:
        """Phase 3: roll every pointer (idempotent — recover() does the
        same per table from the committed record)."""
        for t, s in participants:
            _atomic_write(os.path.join(t.path, VERSION_POINTER), str(s.version))

    # ------------------------------------------------------------- facade
    def commit_all(self, staged: list[StagedCommit]) -> list[Snapshot]:
        txn_file, parts = self.prepare(staged)
        self.decide(txn_file, parts)
        self.finalize(parts)
        return [s for _, s in parts]

    # ----------------------------------------------------------- recovery
    def recover_txns(self) -> int:
        """Finish every committed-but-unfinalized transaction in the
        record directory (coordinator-side sweep; per-table
        ``LakeTable.load()`` heals lazily without it). Returns the number
        of pointers rolled."""
        rolled = 0
        for fn in sorted(os.listdir(self.txn_dir)):
            if not (fn.startswith("txn-") and fn.endswith(".json")):
                continue
            try:
                with open(os.path.join(self.txn_dir, fn)) as fh:
                    rec = json.load(fh)
            except (OSError, ValueError):
                continue
            if rec.get("status") != "committed":
                continue
            for p in rec.get("participants", []):
                try:
                    before = LakeTable(p["table"]).current_version()
                    # load() -> recover() adopts the staged snapshot (its
                    # record is committed) and rolls the pointer
                    after = LakeTable.load(p["table"]).current_version()
                except (OSError, FileNotFoundError, KeyError):
                    continue
                if after is not None and after != before:
                    rolled += 1
        return rolled
