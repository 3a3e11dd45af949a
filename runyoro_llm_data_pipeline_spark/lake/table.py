"""Snapshot-atomic lake table (Iceberg-style semantics, zero extra jars).

The reference's durability story is a single JSON ledger read fully, appended,
and atomically rewritten per ingest run (``scripts/orchestrator.py:34-40,52-61,
184-186``) — that one file is simultaneously its commit log, lineage table and
dedup index. This module generalizes it into a real table format:

* **data** lives in immutable Parquet files, grouped by a hash bucket of the
  record key (``bucket = pmod(xxhash64(conv_id), num_buckets)``); a CDC
  batch appends delta files to the buckets it touches, and compaction and
  point lookups prune by bucket;
* **snapshots** are JSON manifests (schema + file list + summary properties +
  applied-offset map), each written whole to a temp file and linked into
  place as ``snapshots/vN.json`` — the same all-or-nothing property as the
  reference's ledger rewrite, and the mechanism Iceberg's file-system
  catalog uses for its metadata files;
* **per-file stats** live on the manifest entry and nowhere else: each write
  opens every new file's footer once and records its row count and its lsn
  bounds. Lineage is read from the entries each data commit added, over the
  retained versions, so it is retained exactly as long as the snapshots
  themselves;
* **exactly-once** falls out: applied batch offsets are recorded in the same
  snapshot that contains their data, so a crash before its manifest is
  linked leaves both invisible and replay is safe (idempotent, cf.
  ``scripts/orchestrator.py:88-101`` duplicate-skip);
* **schema evolution** is additive: each snapshot carries the full Spark
  schema; readers pass it explicitly so older files missing a column yield
  nulls (generalizing the ledger's dynamic additive entry shapes,
  ``processed_data/processed_data_metadata.json``).

Commits: every table file is written by ``_atomic_write`` (temp file,
fsync, publish), so no reader ever sees a partial one. Linking the new
manifest to ``snapshots/vN.json`` is the commit, a CAS (Iceberg's
optimistic concurrency): it fails if vN exists, and it is the only file a
commit writes. ``expire_snapshots`` alone raises the low-water mark
(``_LOW_WATER``), from which ``current_version`` probes forward; a link
that lands below it is withdrawn, so no version is written twice (the
argument is in ``commit``). A writer that dies before its link leaves only
a temp manifest, which ``expire_snapshots`` sweeps. ``apply_batch``
retries a lost commit and re-gates on ``has_applied``; a losing
maintenance commit raises ``CommitConflictError``.

Scale notes (100 TB / 1000 executors): the manifest lists O(num_buckets ×
files-per-bucket) entries handled driver-side — same order as Iceberg's
manifest lists; data access is executor-side Parquet scans of only the
pruned file set.

Manifest hygiene at 100 TB: MOR keeps per-bucket live-file counts bounded
by ``compact_max_files``, and every batch commit folds the applied-offset
ledger into its ``applied_floor`` (``Snapshot.ledger_after``), so the
manifest stays O(num_buckets × compact_max_files) regardless of history;
``expire_snapshots`` bounds the manifest *chain* and ``cleanup_orphans``
reclaims de-referenced files (interaction tested under churn in
``tests/test_churn.py``).
An ``IncrementalFeed`` whose checkpoint falls out of the retained
history resyncs from a full read (``cdc/feed.py``). If a
deployment ever needs >10^5 buckets, the next step is Iceberg-style
manifest SPLITTING (one manifest file per bucket range, a manifest-list on
top): ``Snapshot.files`` is already the only structure that would shard,
and nothing else reads it directly.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LOW_WATER = "_LOW_WATER"
TAGS_FILE = "tags.json"
SNAP_DIR = "snapshots"
DATA_DIR = "data"
# a manifest, or the temp a writer stages it in (``_atomic_write``)
_MANIFEST_RE = re.compile(r"^v(\d{8})\.json(\.tmp\.[0-9a-f]+)?$")

# internal CDC version/tombstone columns stored in data files, hidden from
# public reads (deletes persist as tombstones so batch application is
# commutative: a stale event arriving after a newer delete can never
# resurrect the key, so any arrival order of one log converges)
VERSION_TS = "_cdc_event_ts"
VERSION_LSN = "_cdc_lsn"
DELETED = "_cdc_deleted"
INTERNAL_COLS = (VERSION_TS, VERSION_LSN, DELETED)

# the default layout, also assumed for manifests older than the summary keys
DEFAULT_NUM_BUCKETS = 16
DEFAULT_KEY_COLS = ("conv_id", "turn_idx")
# the compaction policy: a bucket holding more delta files than this is
# compacted (``CdcIngest``, ``maintain`` and the CLI all default to it)
COMPACT_MAX_FILES = 4


@dataclass
class Snapshot:
    """One committed table version. It owns the table layout: the bucket
    modulus and the key columns live in ``summary``, so every operation
    plans against the layout of the snapshot it read, and a handle holds
    no copy that another writer's ``rebucket``/``rollback`` could make
    stale."""

    version: int
    parent: int | None
    schema_json: dict[str, Any]
    # {path(rel), bucket, kind, added_v, rows, [min_lsn, max_lsn]}
    # — see LakeTable.write_data_files
    files: list[dict[str, Any]]
    applied: dict[str, list[int]]  # batch_id(str) -> [min_lsn, max_lsn]
    summary: dict[str, Any] = field(default_factory=dict)
    # 'data' = the commit added logical changes (batch apply);
    # 'maintenance' = pure rewrite (compaction / rebucket) — no new
    # logical content, excluded from incremental consumption
    commit_type: str = "data"

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.schema_json)

    @property
    def num_buckets(self) -> int:
        return int(self.summary.get("num_buckets", DEFAULT_NUM_BUCKETS))

    @property
    def key_cols(self) -> list[str]:
        return list(self.summary.get("key_cols", DEFAULT_KEY_COLS))

    @property
    def applied_floor(self) -> int:
        return int(self.summary.get("applied_floor", -1))

    def has_applied(self, batch_id: int) -> bool:
        """The exactly-once rule: ``batch_id`` is consumed iff its ledger
        entry is live, or it sits at/below the ``applied_floor`` low
        watermark (``ledger_after`` folded its entry away; the floor's
        contract is that the whole contiguous prefix was applied)."""
        return str(batch_id) in self.applied or batch_id <= self.applied_floor

    def ledger_after(
        self, batch_id: int, lsn_range: list[int]
    ) -> tuple[dict[str, list[int]], int]:
        """The ``(applied, applied_floor)`` a commit applying ``batch_id``
        records: the batch's entry is added, then the floor rises while
        ``floor + 1`` is in the ledger, dropping each entry it passes.
        The floor only passes ids the ledger holds, so for every id >= 0
        ``has_applied`` answers as an unbounded ledger would, and a
        contiguous batch stream leaves the ledger empty (Kafka
        committed-offset semantics)."""
        applied = {**self.applied, str(batch_id): lsn_range}
        floor = self.applied_floor
        while str(floor + 1) in applied:
            floor += 1
            del applied[str(floor)]
        return applied, floor

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "parent": self.parent,
                "schema": self.schema_json,
                "files": self.files,
                "applied": self.applied,
                "summary": self.summary,
                "commit_type": self.commit_type,
            },
            indent=1,
        )

    @staticmethod
    def from_json(raw: str) -> "Snapshot":
        d = json.loads(raw)
        return Snapshot(
            version=d["version"],
            parent=d.get("parent"),
            schema_json=d["schema"],
            files=d["files"],
            applied=d.get("applied", {}),
            summary=d.get("summary", {}),
            commit_type=d.get("commit_type", "data"),
        )


class CommitConflictError(RuntimeError):
    """Another writer committed this snapshot version first. Re-read the
    table and re-plan the merge against the new current snapshot."""


def _atomic_write(path: str, content: str, exclusive: bool = False) -> None:
    """The one way the engine writes a table file: ``content`` goes to a
    temp file beside ``path``, is fsynced, then published whole, so a
    reader sees the old file or the complete new one and a dead writer
    leaves only the temp. ``exclusive`` publishes with ``os.link``, which
    fails if ``path`` exists — the commit CAS, raised as
    ``CommitConflictError`` (also when ``expire_snapshots`` swept the temp
    of a version that is no longer ahead). Otherwise ``os.rename``
    replaces ``path``: the low-water mark, tags and feed checkpoints. No
    manifest is ever renamed over, so a linked one never changes."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        fh.write(content)
        fh.flush()
        os.fsync(fh.fileno())
    if not exclusive:
        os.rename(tmp, path)
        return
    try:
        os.link(tmp, path)
        won = True
    except (FileExistsError, FileNotFoundError):
        won = False
    with contextlib.suppress(FileNotFoundError):  # a swept temp is gone
        os.remove(tmp)
    if not won:
        raise CommitConflictError(
            f"snapshot {os.path.basename(path)} was committed concurrently"
        )


@contextlib.contextmanager
def _file_lock(path: str):
    """Advisory exclusive lock (flock) serializing read-modify-write of a
    shared table-root file: ``tags.json``, and the low-water mark that
    ``expire_snapshots`` raises. Manifest commits don't need this — they
    CAS via ``_atomic_write(exclusive=True)`` — but a tag lost to
    last-writer-wins un-pins a snapshot that the next expire/cleanup pass
    then permanently deletes, and two expiries must not interleave."""
    fd = os.open(path, os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def footer_bounds(
    path: str, columns: list[str]
) -> tuple[int, dict[str, tuple[Any, Any]]]:
    """``(num_rows, {column: (min, max)})`` from one parquet file's footer
    — one metadata read for any number of columns, no data read, no Spark
    job (the trick Iceberg manifests use for column bounds). A column is in
    the map only if every row group carries min/max statistics for it:
    partial stats make no claim. Errors (missing or torn file) propagate;
    each caller decides what a failure means."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    bounds: dict[str, tuple[Any, Any]] = {}
    for col in columns:
        if col not in names:
            continue
        idx = names.index(col)
        stats = [
            md.row_group(rg).column(idx).statistics
            for rg in range(md.num_row_groups)
        ]
        if stats and all(st is not None and st.has_min_max for st in stats):
            bounds[col] = (min(st.min for st in stats), max(st.max for st in stats))
    return md.num_rows, bounds


def _applied_batch(snap: Snapshot) -> int | None:
    """The batch ``snap`` applied, or None: the one rule for "the commit
    that applied batch b". That commit is a data commit carrying
    ``summary.last_batch_id == b`` — batch ids are single-shot (the
    idempotency gate skips replays), and maintenance and rollback commits
    merely inherit the parent summary."""
    if snap.commit_type != "data" or "last_batch_id" not in snap.summary:
        return None
    return int(snap.summary["last_batch_id"])


def bucket_expr(key, num_buckets: int):
    """The engine's hash bucket of ``key`` (a column name or a Column):
    ``pmod(xxhash64(key), num_buckets)``. Writes, compaction, rebucket and
    point-lookup planning all use this one expression."""
    return F.pmod(F.xxhash64(key), F.lit(num_buckets)).cast("int")


def collapse_stored(df: DataFrame, keys: list[str]) -> DataFrame:
    """Latest-wins collapse of *stored* rows by the internal version
    columns: per key, the row with the greatest ``(_cdc_event_ts,
    _cdc_lsn)`` wins, tombstones included. The engine's one production
    collapse. Its callers: ``apply_batch`` (a batch's events projected onto
    stored rows), ``LakeTable._scan`` (base ∪ delta files, so reads, point
    lookups, compaction, rebucket and the ``IncrementalFeed``), and the
    ``cdc_latest_wins`` gate queries. A map-side-combinable ``max_by``, so
    hot keys are partially collapsed before the shuffle."""
    payload = [c for c in df.columns if c not in keys]
    ordv = F.struct(F.col(VERSION_TS), F.col(VERSION_LSN))
    return (
        df.groupBy(*keys)
        .agg(F.max_by(F.struct(*payload), ordv).alias("__w"))
        .select(*keys, *[F.col(f"__w.{c}").alias(c) for c in payload])
    )


class LakeTable:
    """A bucketed, snapshot-versioned Parquet table with atomic commits.

    Merge-on-read: each applied batch appends per-bucket *delta* files
    (O(batch) write cost regardless of table size); reads collapse
    base ∪ deltas per key by the stored version columns. *Base* files
    (file entries carry ``kind: base|delta``) come only from ``compact()``,
    which folds a bucket's files back into one key-sorted base file, and
    ``rebucket()``.

    The handle holds only the table's path. Layout (bucket modulus, key
    columns) is read from the snapshot each operation plans against, so
    two handles on one path always agree with the committed table.
    """

    def __init__(self, path: str):
        self.path = os.path.abspath(path)

    # ---------------------------------------------------------------- setup
    @staticmethod
    def create(
        path: str,
        schema: T.StructType,
        num_buckets: int = DEFAULT_NUM_BUCKETS,
        key_cols: tuple[str, ...] = DEFAULT_KEY_COLS,
    ) -> "LakeTable":
        """Create the table at ``path`` with this layout, or open it if it
        exists (the arguments are then ignored: the committed snapshot
        owns the layout)."""
        os.makedirs(os.path.join(path, SNAP_DIR), exist_ok=True)
        os.makedirs(os.path.join(path, DATA_DIR), exist_ok=True)
        t = LakeTable(path)
        if t.current_version() is None:
            snap = Snapshot(
                version=0,
                parent=None,
                schema_json=schema.jsonValue(),
                files=[],
                applied={},
                summary={"num_buckets": num_buckets, "key_cols": list(key_cols)},
            )
            with contextlib.suppress(CommitConflictError):  # a rival created it
                t._write_snapshot(snap)
        return t

    @staticmethod
    def load(path: str) -> "LakeTable":
        t = LakeTable(path)
        t.current()  # raises FileNotFoundError when no table is at path
        return t

    # ------------------------------------------------------------ snapshots
    def low_water(self) -> int:
        """The oldest retained version: ``history()`` starts here, every
        version from it to the tip has its manifest, and none below it can
        become current. 0 until ``expire_snapshots`` first raises it."""
        try:
            with open(os.path.join(self.path, LOW_WATER)) as fh:
                return int(fh.read())
        except FileNotFoundError:
            return 0

    def current_version(self) -> int | None:
        """The newest committed version, or None before the first commit.
        The manifests from the low-water mark up are contiguous, so the tip
        is probed from the mark by doubling the step, then halving it. If
        the mark moved meanwhile, what the probe saw below it may be gone
        or withdrawn, so it probes again from the new mark."""
        mark, has = self.low_water(), lambda v: os.path.exists(self._manifest_path(v))
        while True:
            lo, step = mark, 1
            while has(lo + step):
                lo, step = lo + step, step * 2
            hi = lo + step
            while hi - lo > 1:
                mid = (lo + hi) // 2
                lo, hi = (mid, hi) if has(mid) else (lo, mid)
            tip = lo if has(lo) else None
            mark, prev = self.low_water(), mark
            if mark == prev:
                return tip

    def snapshot(self, version: int) -> Snapshot:
        with open(self._manifest_path(version)) as fh:
            return Snapshot.from_json(fh.read())

    def _maybe_snapshot(self, version: int) -> Snapshot | None:
        """``snapshot(version)``, or None if its manifest is gone or unreadable."""
        try:
            return self.snapshot(version)
        except (OSError, ValueError):
            return None

    def current(self) -> Snapshot:
        v = self.current_version()
        if v is None:
            raise FileNotFoundError(f"no committed snapshot at {self.path}")
        return self.snapshot(v)

    # ----------------------------------------------------------- named refs
    def tags(self) -> dict[str, int]:
        """Named snapshot refs (Iceberg tag semantics): name → version.
        Tagged snapshots survive ``expire_snapshots`` until the tag is
        dropped."""
        p = os.path.join(self.path, TAGS_FILE)
        if not os.path.exists(p):
            return {}
        with open(p) as fh:
            return {k: int(v) for k, v in json.load(fh).items()}

    def _edit_tags(self, edit) -> None:
        """Apply ``edit`` to the tag map and publish it, under the flock."""
        with _file_lock(os.path.join(self.path, TAGS_FILE + ".lock")):
            t = self.tags()
            edit(t)
            _atomic_write(
                os.path.join(self.path, TAGS_FILE), json.dumps(t, indent=1)
            )

    def tag(self, name: str, version: int | None = None) -> int:
        """Create/overwrite a named ref pointing at ``version`` (default:
        current). The target manifest must exist. The read-modify-write
        is serialized under an flock (two concurrent taggers — or a
        tagger racing a cron ``maintain()`` — must not lose a tag to
        last-writer-wins: a lost tag un-pins a snapshot the next expiry
        pass would permanently delete), and the rewrite itself is atomic
        so readers never see a partial tags file."""
        v = self.current().version if version is None else int(version)
        self.snapshot(v)  # raises if the manifest doesn't exist
        self._edit_tags(lambda t: t.__setitem__(name, v))
        return v

    def drop_tag(self, name: str) -> None:
        self._edit_tags(lambda t: t.pop(name, None))

    def resolve_ref(self, ref: int | str) -> int:
        """int → itself; str → the tagged version (KeyError if unknown)."""
        if isinstance(ref, str):
            t = self.tags()
            if ref not in t:
                raise KeyError(f"unknown tag {ref!r}; known: {sorted(t)}")
            return t[ref]
        return int(ref)

    def rollback(self, version_or_ref: int | str) -> Snapshot:
        """Restore the table to a prior snapshot's state by committing a
        NEW snapshot with that snapshot's files, schema, applied-offset
        ledger, and summary (history-preserving, Iceberg-style rollback):
        versions stay contiguous so ``current_version``'s forward probe
        and the feed's version range hold, and batches applied
        after the target become re-ingestable again because the ledger
        and its ``applied_floor`` (with the watermark summary keys) are
        restored wholesale, not merged: the target's floor lies below
        every batch the target had not applied."""
        target = self.snapshot(self.resolve_ref(version_or_ref))
        cur = self.current()
        return self.commit(
            cur,
            target.files,
            schema=target.schema(),
            applied=target.applied,
            summary={
                **target.summary,
                "rolled_back_from": cur.version,
                "rolled_back_to": target.version,
            },
            commit_type="rollback",
        )

    def maintain(
        self,
        spark: SparkSession,
        compact_max_files: int = COMPACT_MAX_FILES,
        keep_last_snapshots: int = 4,
        orphan_age_seconds: float = 3600,
    ) -> dict[str, int]:
        """One-call production maintenance pass: compact the buckets
        holding more than ``compact_max_files`` deltas, expire old
        snapshots (tagged ones retained), reclaim orphaned files. The
        applied ledger needs no pass: every batch commit folds it
        (``Snapshot.ledger_after``). Every step is an independent
        crash-safe commit or idempotent cleanup, so a pass that died is
        finished by the next one. Safe to run from a cron
        alongside the ingester: a compaction that loses its commit to an
        ingest raises ``CommitConflictError`` and the next pass retries
        it. Returns the buckets compacted, the data files snapshot expiry
        deleted and the orphans removed."""
        return {
            "compacted_buckets": self.compact(spark, compact_max_files),
            "expired_files_removed": self.expire_snapshots(
                keep_last=keep_last_snapshots
            ),
            "orphans_removed": self.cleanup_orphans(
                min_age_seconds=orphan_age_seconds
            ),
        }

    def history(self) -> list[Snapshot]:
        """The retained snapshots, oldest first: the low-water mark to the
        tip (tagged versions below the mark are readable, but not here)."""
        tip = self.current_version()
        return [] if tip is None else [
            self.snapshot(v) for v in range(self.low_water(), tip + 1)
        ]

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, SNAP_DIR, f"v{version:08d}.json")

    def _write_snapshot(self, snap: Snapshot) -> None:
        """Link ``snap``'s manifest, then withdraw it if it landed below
        the low-water mark (see ``commit``)."""
        path = self._manifest_path(snap.version)
        _atomic_write(path, snap.to_json(), exclusive=True)
        if snap.version < (mark := self.low_water()):
            if snap.version not in self.tags().values():
                with contextlib.suppress(FileNotFoundError):
                    os.remove(path)
            raise CommitConflictError(
                f"snapshot v{snap.version} is below the low-water mark "
                f"v{mark}: it was expired while this writer committed it"
            )

    # ----------------------------------------------------------------- read
    def _scan(
        self, spark: SparkSession, snap: Snapshot, files: list[dict[str, Any]]
    ) -> DataFrame:
        """The one merge-on-read scan: ``files`` at ``snap``'s schema
        (explicit, so older files missing newly-added columns yield
        nulls), collapsed latest-wins per ``snap.key_cols`` if and only if
        a delta file is in the set. No files → an empty frame. Stored
        rows: tombstones and internal version columns included.

        A base-only set needs no collapse because base files come only
        from collapsed rewrites (``compact``/``rebucket``), each of which
        replaces every file of the buckets it reads: no two base files
        share a key."""
        schema = snap.schema()
        if not files:
            return spark.createDataFrame([], schema)
        df = spark.read.schema(schema).parquet(
            *[os.path.join(self.path, f["path"]) for f in files]
        )
        if any(f.get("kind", "base") == "delta" for f in files):
            df = collapse_stored(df, snap.key_cols)
        return df

    @staticmethod
    def _public_view(df: DataFrame) -> DataFrame:
        """Stored rows → public rows: tombstones filtered, internal CDC
        version columns dropped."""
        if DELETED not in df.columns:
            return df
        return df.filter(~F.coalesce(F.col(DELETED), F.lit(False))).drop(
            *[c for c in INTERNAL_COLS if c in df.columns]
        )

    def read(
        self,
        spark: SparkSession,
        version: int | str | None = None,
        include_internal: bool = False,
    ) -> DataFrame:
        """Read the table at a snapshot (time travel) — by version number
        or by tag name (``table.read(spark, "certified-v1")``). Fully
        compacted snapshots skip the merge-on-read collapse. By default
        the public view is returned: tombstones filtered, internal CDC
        version columns dropped."""
        snap = (
            self.current()
            if version is None
            else self.snapshot(self.resolve_ref(version))
        )
        df = self._scan(spark, snap, snap.files)
        return df if include_internal else self._public_view(df)

    def read_conversation(self, spark: SparkSession, conv_id: str) -> DataFrame:
        """Point lookup: read ONE conversation by pruning to its hash
        bucket driver-side (1/num_buckets of the table's files regardless
        of table size: one key-sorted base file plus the bucket's deltas),
        then let parquet row-group stats skip the base file's row groups
        that cannot hold the key. The per-conversation serving path."""
        snap = self.current()
        _bucket, cand = self.candidate_files_for_key(spark, conv_id, snap)
        df = self._scan(spark, snap, cand)
        return self._public_view(df.filter(F.col(snap.key_cols[0]) == conv_id))

    def metrics_history(self) -> list[dict[str, Any]]:
        """Per-commit job metrics from the snapshot chain — the queryable
        form of the reference's ledger entries (throughput report). One
        row per batch-applying commit (``_applied_batch``): maintenance
        and rollback commits inherit the parent summary and are skipped."""
        return [
            {
                "version": s.version,
                "batch_id": _applied_batch(s),
                "sec": s.summary.get("last_batch_sec"),
                "keys": s.summary.get("last_batch_keys"),
                "watermark_lsn": s.summary.get("watermark_lsn"),
            }
            for s in self.history()
            if _applied_batch(s) is not None
        ]

    def read_lineage(self, spark: SparkSession) -> DataFrame:
        """Per-partition lineage (``LINEAGE_SCHEMA``), read from the
        manifests with no Spark scan: one row per (batch, bucket) for each
        batch-applying commit in ``history()`` (``_applied_batch``).
        ``row_count`` sums ``rows`` over the entries that commit added
        (``added_v == version``), ``min_lsn``/``max_lsn`` bound the stored
        lsn over those entries (-1 when none carries bounds), and
        ``snapshot_version`` is the commit's version. Each commit's own
        manifest still lists the deltas a later compaction folded away.

        Retention: lineage lasts as long as the snapshots that hold it.
        ``expire_snapshots(keep_last=k)`` drops the lineage of the commits
        it drops, together with their time travel and ``metrics_history``
        rows."""
        rows = []
        for s in self.history():
            batch = _applied_batch(s)
            if batch is None:
                continue
            per_bucket: dict[int, list[dict[str, Any]]] = {}
            for f in s.files:
                if f.get("added_v") == s.version:
                    per_bucket.setdefault(f["bucket"], []).append(f)
            for bucket, fs in sorted(per_bucket.items()):
                ranged = [f for f in fs if "min_lsn" in f]
                rows.append((
                    batch, bucket,
                    min((f["min_lsn"] for f in ranged), default=-1),
                    max((f["max_lsn"] for f in ranged), default=-1),
                    sum(f["rows"] for f in fs), s.version,
                ))
        return spark.createDataFrame(rows, LINEAGE_SCHEMA)

    # ---------------------------------------------------------------- write
    def write_data_files(
        self,
        df: DataFrame,
        version: int,
        n_buckets: int,
        keys: list[str],
        kind: str = "base",
    ) -> list[dict[str, Any]]:
        """Write ``df`` (must contain ``__bucket``) into this snapshot's data
        dir, one Parquet directory partition per bucket (``partitionBy``, so
        file→bucket is structural), and return one manifest entry per
        written file. Every write runs ``min(n_buckets, cores)`` tasks
        hash-partitioned on ``__bucket`` (``n_buckets``: the buckets ``df``
        spans), so each bucket has one writer and gets one file. ``delta``
        rows (the MOR apply append) stay unsorted; ``base`` rows
        (``compact``/``rebucket`` output) are sorted by bucket, then
        ``keys``. No key salt: tuned at ``local[32]`` on 17 M-event
        batches, on 4 CPUs it wrote 61 files per 10k-event batch instead
        of 16, spent 1.7–1.9 s per batch in the write instead of 0.9–1.0 s,
        and did not speed up a 10⁶-event batch with 30% on one
        conversation (BENCH.md, "4-CPU host").

        Every entry carries the file's footer stats (``_harvest``): ``rows``
        always, and ``min_lsn``/``max_lsn`` of the stored lsn where the
        footer has them.

        The directory name carries a per-attempt nonce so two writers
        racing on the same version can never clobber each other's files —
        the losing committer leaves an orphan directory that no manifest
        references (age-based orphan cleanup reclaims it)."""
        rel_dir = os.path.join(DATA_DIR, f"v{version:08d}-{uuid.uuid4().hex[:8]}")
        out_dir = os.path.join(self.path, rel_dir)
        width = min(n_buckets, df.sparkSession.sparkContext.defaultParallelism)
        df = df.repartition(width, "__bucket")
        if kind == "base":
            # cluster rows by key within each written file so parquet
            # row-group min/max statistics become selective — a point
            # lookup (read_conversation) then skips most row groups of
            # the pruned bucket's files. Deltas stay sort-free: sorting
            # would tax ingest throughput for transient files.
            df = df.sortWithinPartitions("__bucket", *keys)
        df.write.mode("overwrite").partitionBy("__bucket").parquet(out_dir)
        entries: list[dict[str, Any]] = []
        for bdir in sorted(os.listdir(out_dir)):
            if not bdir.startswith("__bucket="):
                continue
            bucket = int(bdir.split("=", 1)[1])
            for fn in sorted(os.listdir(os.path.join(out_dir, bdir))):
                if fn.endswith(".parquet"):
                    entries.append(
                        {
                            "path": os.path.join(rel_dir, bdir, fn),
                            "bucket": bucket,
                            "kind": kind,
                        }
                    )
        return self._harvest(entries)

    def _harvest(self, entries: list[dict[str, Any]]) -> list[dict[str, Any]]:
        """``entries`` with each file's footer stats attached: ``rows``,
        plus ``min_lsn``/``max_lsn`` of the stored lsn when every row group
        has stats for it — the lineage ``read_lineage`` reports (the feed
        reads ``rows``). One footer open per file, in one thread pool (this
        sits on the serial commit path of every batch).

        An unreadable footer raises: the caller commits nothing, and the
        written files become orphans that ``cleanup_orphans`` reclaims. A
        stats gap only leaves the lsn bounds off the entry."""
        from concurrent.futures import ThreadPoolExecutor

        def one(e: dict[str, Any]) -> dict[str, Any]:
            rows, bounds = footer_bounds(
                os.path.join(self.path, e["path"]), [VERSION_LSN]
            )
            out = {**e, "rows": rows}
            if VERSION_LSN in bounds:
                out["min_lsn"], out["max_lsn"] = bounds[VERSION_LSN]
            return out

        with ThreadPoolExecutor(max_workers=min(16, max(len(entries), 1))) as ex:
            return list(ex.map(one, entries))

    # ----------------------------------------------------------- compaction
    def bucket_for_key(
        self, spark: SparkSession, key_value: str, snap: Snapshot | None = None
    ) -> int:
        """The key's hash bucket under ``snap``'s modulus (default: the
        current snapshot), computed with the exact engine expression
        (1-row local job — constant-folded, no scan)."""
        snap = snap or self.current()
        return (
            spark.range(1)
            .select(bucket_expr(F.lit(key_value), snap.num_buckets).alias("b"))
            .collect()[0]["b"]
        )

    def candidate_files_for_key(
        self, spark: SparkSession, key_value: str, snap: Snapshot | None = None
    ) -> tuple[int, list[dict[str, Any]]]:
        """Point-lookup planning: the key's hash bucket and the files of
        that bucket — its base file and its deltas. Driver-side arithmetic
        over the manifest; inside the files, parquet row-group stats of the
        key-sorted base do the rest."""
        snap = snap or self.current()
        bucket = self.bucket_for_key(spark, key_value, snap)
        return bucket, [f for f in snap.files if f["bucket"] == bucket]

    def compact(self, spark: SparkSession, max_files: int = 0) -> int:
        """Fold each due bucket's files into one key-sorted base file
        (latest-wins collapse with tombstones retained — a stale replayed
        event must still lose to a newer delete), planned and rewritten on
        one snapshot. The one rule: a bucket is due when it holds more than
        ``max_files`` *delta* files — the MOR read-amplification guard. The
        default 0 compacts every bucket holding a delta; a base-only bucket
        is never rewritten. An apply lands at most one delta per bucket it
        touches, so ``k`` compacts a bucket on its (k+1)-th batch since the
        last compaction. Data-only commit: the applied-offset map is
        untouched, so compaction is safe at any point and crash during
        compaction simply leaves the previous snapshot current. Returns
        the number of buckets compacted."""
        snap = self.current()
        deltas: dict[int, int] = {}
        for f in snap.files:
            if f.get("kind", "base") == "delta":
                deltas[f["bucket"]] = deltas.get(f["bucket"], 0) + 1
        todo = {b for b, n in deltas.items() if n > max_files}
        if not todo:
            return 0
        self._rewrite(
            spark, snap, [f for f in snap.files if f["bucket"] in todo],
            snap.num_buckets,
            {**snap.summary, "last_compaction_version": snap.version + 1},
        )
        return len(todo)

    def rebucket(self, spark: SparkSession, new_num_buckets: int) -> None:
        """Change the table's bucket count (a growing table needs more
        buckets for write parallelism and point-lookup pruning). One
        full collapse+rewrite committed as a data-only snapshot whose
        summary carries the new modulus — the applied-offset map is
        untouched, so ingest semantics are unaffected; readers before/after
        the commit see consistent state (snapshot isolation)."""
        snap = self.current()
        self._rewrite(
            spark, snap, snap.files, new_num_buckets,
            {**snap.summary, "num_buckets": new_num_buckets},
        )

    def _rewrite(
        self,
        spark: SparkSession,
        snap: Snapshot,
        files: list[dict[str, Any]],
        num_buckets: int,
        summary: dict[str, Any],
    ) -> None:
        """The one maintenance rewrite under ``compact`` and ``rebucket``:
        scan ``files`` (collapsed when any is a delta), bucket the rows
        under ``num_buckets``, write them as one key-sorted base file per
        bucket, and commit a maintenance snapshot in which they replace
        ``files``."""
        keys = snap.key_cols
        rows = self._scan(spark, snap, files).withColumn(
            "__bucket", bucket_expr(keys[0], num_buckets)
        )
        # the buckets the write spans (it caps its tasks at the cores): a
        # compaction keeps rows in the buckets it read, a rebucket spreads
        # them over the new modulus
        width = (
            len({f["bucket"] for f in files})
            if num_buckets == snap.num_buckets
            else num_buckets
        )
        written = self.write_data_files(
            rows, snap.version + 1, max(width, 1), keys, kind="base"
        )
        replaced = {f["path"] for f in files}
        self.commit(
            snap,
            [f for f in snap.files if f["path"] not in replaced] + written,
            summary=summary,
            commit_type="maintenance",
        )

    def commit(
        self,
        parent: Snapshot,
        files: list[dict[str, Any]],
        *,
        schema: T.StructType | None = None,
        applied: dict[str, list[int]] | None = None,
        summary: dict[str, Any] | None = None,
        commit_type: str = "data",
    ) -> Snapshot:
        """Commit snapshot ``parent.version + 1`` listing ``files``. Every
        other field defaults to ``parent``'s value; a caller passes the
        whole new value of what it changes. Entries without ``added_v``
        are stamped with the new version, so the ``IncrementalFeed`` and
        ``read_lineage`` can attribute files to commits (Iceberg's
        snapshot_id on manifest entries).

        Linking the fsynced manifest to ``snapshots/vN.json`` is the
        commit and the only file it publishes. Raises
        ``CommitConflictError`` when vN already exists, or when vN lands
        below the low-water mark.

        Why no version number is written twice: ``expire_snapshots``
        makes an expired vN absent again, so "vN is absent" alone cannot
        tell "never written" from "written and expired" — a writer that
        stalls across an expiry could link a stale vN. But expiry writes
        its mark durably *before* it deletes a manifest, so a link that
        succeeds because vN was expired happens after the mark rose above
        N, and the re-read after the link sees it: the writer withdraws
        its vN (kept if a tag names it) and raises. A vN that was never
        written lies above the tip, hence at or above the mark, so the
        versions from the mark up stay contiguous and every reader
        probes only there (``current_version``): a withdrawn vN is below
        the mark and never read as the tip. A writer whose legitimate vN
        was expired after its link sees the same mark and also raises,
        though its commit landed; ``apply_batch``'s retry re-gates on
        ``has_applied`` and skips, and a maintenance caller retries on its
        next pass."""
        version = parent.version + 1
        snap = Snapshot(
            version=version,
            parent=parent.version,
            schema_json=(
                parent.schema_json if schema is None else schema.jsonValue()
            ),
            files=[f if "added_v" in f else {**f, "added_v": version} for f in files],
            applied=dict(parent.applied if applied is None else applied),
            summary=dict(parent.summary if summary is None else summary),
            commit_type=commit_type,
        )
        self._write_snapshot(snap)
        return snap

    # -------------------------------------------------------------- cleanup
    def _retained(self, snaps: list[Snapshot]) -> tuple[set[int], set[str]]:
        """The retention rule ``expire_snapshots`` and ``cleanup_orphans``
        share: the tag-pinned versions, and the data file paths that
        ``snaps`` or a tag-pinned snapshot references. Tagged snapshots
        survive until the tag is dropped (Iceberg ref-retention
        semantics). Tags resolve by manifest, not via ``history()`` — a
        tagged version below the low-water mark is outside it but stays
        directly readable; an unreadable manifest pins nothing."""
        pinned = [
            s for v in sorted(set(self.tags().values()))
            if (s := self._maybe_snapshot(v)) is not None
        ]
        live: set[str] = set()
        for s in snaps + pinned:
            live |= {f["path"] for f in s.files}
        return {s.version for s in pinned}, live

    def cleanup_orphans(self, min_age_seconds: float = 3600) -> int:
        """Delete data files referenced by NO snapshot in the retained
        history (e.g. left by a writer that lost the commit race or
        crashed mid-write), provided they are older than
        ``min_age_seconds`` — the age guard keeps in-flight writers' files
        and directories safe, exactly like Iceberg's orphan-file removal."""
        _, live = self._retained(self.history())
        # version dirs (data/vNNN-nonce) that hold a referenced file:
        # writer bookkeeping files (_SUCCESS, .crc — never listed in
        # manifests) inside them are NOT orphans
        live_vdirs = {os.sep.join(p.split(os.sep)[:2]) for p in live}

        now = time.time()
        removed = 0
        root = os.path.join(self.path, DATA_DIR)
        for dirpath, _, filenames in os.walk(root):
            for fn in filenames:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.path)
                if rel in live:
                    continue
                vdir = os.sep.join(rel.split(os.sep)[:2])
                if not fn.endswith(".parquet") and vdir in live_vdirs:
                    continue
                with contextlib.suppress(OSError):
                    if now - os.path.getmtime(full) >= min_age_seconds:
                        os.remove(full)
                        removed += 1
        # prune now-empty dirs, under the same age guard: a live writer's
        # output dir is empty until its Spark job writes the first file
        for dirpath, dirnames, filenames in list(os.walk(root, topdown=False)):
            if dirpath != root and not dirnames and not filenames:
                with contextlib.suppress(OSError):
                    if now - os.path.getmtime(dirpath) >= min_age_seconds:
                        os.rmdir(dirpath)
        return removed

    def expire_snapshots(self, keep_last: int = 2) -> int:
        """Cut history to its last ``keep_last`` snapshots (the reference
        keeps 2 checkpoints, ``scripts/train_llm.py:265``); tagged ones
        survive. Under an flock, so expiries run one at a time: first raise
        the low-water mark to the oldest kept version (never lower it), then
        sweep ``snapshots/``. Each untagged ``vNNNNNNNN.json`` below the
        mark is deleted after the data files it names that no kept or tagged
        snapshot references; so is every temp manifest whose version is
        not ahead of the tip (its writer died or lost that version; a live
        one that links later gets ``CommitConflictError``). The sweep lists
        the directory, so a resumed call finishes a crashed one. Returns the
        data files deleted. ``keep_last`` below 1 raises ``ValueError``: the
        tip is always kept."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be at least 1, got {keep_last}")
        with _file_lock(os.path.join(self.path, LOW_WATER + ".lock")):
            chain = self.history()
            kept = chain[-keep_last:]
            tagged, live = self._retained(kept)
            mark = kept[0].version
            if mark > self.low_water():
                _atomic_write(os.path.join(self.path, LOW_WATER), str(mark))
            removed, emptied = 0, set()
            snap_dir = os.path.join(self.path, SNAP_DIR)
            for fn in sorted(os.listdir(snap_dir)):
                m = _MANIFEST_RE.match(fn)
                if not m:
                    continue
                v = int(m.group(1))
                if m.group(2):  # a temp: its writer died, or lost or won v
                    drop = v <= chain[-1].version
                else:  # its data files first: a crash leaves the manifest
                    drop = v < mark and v not in tagged
                    old = self._maybe_snapshot(v) if drop else None
                    for f in old.files if old else []:
                        fp = os.path.join(self.path, f["path"])
                        if f["path"] not in live and os.path.exists(fp):
                            os.remove(fp)
                            removed += 1
                            emptied.add(os.path.dirname(os.path.dirname(fp)))
                if drop:  # a writer may remove its temp or stale vN first
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(os.path.join(snap_dir, fn))
        # prune only the write dirs this call emptied: any other dir without
        # a parquet file may be a live writer's, not yet past its _temporary
        for full in emptied:
            if not any(
                fn.endswith(".parquet") for _, _, fns in os.walk(full) for fn in fns
            ):
                shutil.rmtree(full, ignore_errors=True)
        return removed


LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("min_lsn", T.LongType(), True),
        T.StructField("max_lsn", T.LongType(), True),
        T.StructField("row_count", T.LongType(), False),
        T.StructField("snapshot_version", T.LongType(), False),
    ]
)
