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
  applied-offset map) committed by atomic ``os.rename`` of a version pointer —
  the same all-or-nothing property as the reference's ledger rewrite, and the
  same mechanism Iceberg's HadoopTableOperations uses for file-system
  catalogs;
* **per-file stats** live on the manifest entry and nowhere else: each write
  opens every new file's footer once and records its row count and its key
  and lsn bounds. Point lookups prune files by those bounds, and lineage is
  read from the entries each data commit added, along the snapshot chain, so
  it is retained exactly as long as the snapshots themselves;
* **exactly-once** falls out: applied batch offsets are recorded in the same
  snapshot that contains their data, so a crash before the pointer swap
  leaves both invisible and replay is safe (idempotent, cf.
  ``scripts/orchestrator.py:88-101`` duplicate-skip);
* **schema evolution** is additive: each snapshot carries the full Spark
  schema; readers pass it explicitly so older files missing a column yield
  nulls (generalizing the ledger's dynamic additive entry shapes,
  ``processed_data/processed_data_metadata.json``).

Commits: writing ``snapshots/vN.json`` create-exclusive is the commit, a
CAS (Iceberg's optimistic concurrency); the pointer rename after it only
publishes it, and ``recover()`` finishes that for a writer that died.
``apply_batch`` retries a lost commit and re-gates on ``has_applied``; a
losing maintenance commit raises ``CommitConflictError``.

Scale notes (100 TB / 1000 executors): the manifest lists O(num_buckets ×
files-per-bucket) entries handled driver-side — same order as Iceberg's
manifest lists; data access is executor-side Parquet scans of only the
pruned file set.

Manifest hygiene at 100 TB: MOR keeps per-bucket live-file counts bounded
by ``compact_max_files``, so the manifest stays O(num_buckets ×
compact_max_files) regardless of history; ``expire_snapshots`` bounds the
manifest *chain* and ``cleanup_orphans`` reclaims de-referenced files
(interaction tested under churn in ``tests/test_round2_fixes.py``).
Incremental consumers must poll within the retention window or take the
documented ``IncrementalHistoryError`` → full-read fallback. If a
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

VERSION_POINTER = "_VERSION"
TAGS_FILE = "tags.json"
SNAP_DIR = "snapshots"
DATA_DIR = "data"
_MANIFEST_RE = re.compile(r"^v(\d{8})\.json$")

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
    # {path(rel), bucket, kind, added_v, rows, [min_key, max_key],
    #  [min_lsn, max_lsn]} — see LakeTable.write_data_files
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

    def has_applied(self, batch_id: int) -> bool:
        """The exactly-once rule: ``batch_id`` is consumed iff its ledger
        entry is live, or it sits at/below the ``applied_floor`` low
        watermark (``truncate_applied`` folded its entry away; the floor's
        contract is that the whole contiguous prefix was applied)."""
        return str(batch_id) in self.applied or batch_id <= int(
            self.summary.get("applied_floor", -1)
        )

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


class IncrementalHistoryError(RuntimeError):
    """The snapshot chain or data files needed for an incremental read
    were expired; the consumer must fall back to a full read."""


def _atomic_write(path: str, content: str) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        fh.write(content)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, path)  # POSIX atomic — the commit point


@contextlib.contextmanager
def _file_lock(path: str):
    """Advisory exclusive lock (flock) serializing read-modify-write of a
    shared sidecar file (tags.json). Manifest commits don't need this —
    they CAS via ``_exclusive_write`` — but tag mutations rewrite one
    shared map, and last-writer-wins there can un-pin a snapshot that the
    next expire/cleanup pass then permanently deletes."""
    fd = os.open(path, os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _exclusive_write(path: str, content: str) -> None:
    """Create-exclusive write: fails with CommitConflictError if the file
    already exists — the optimistic-concurrency primitive (same contract
    as Iceberg's version-file CAS for file-system catalogs)."""
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError as e:
        raise CommitConflictError(
            f"snapshot {os.path.basename(path)} was committed concurrently"
        ) from e
    with os.fdopen(fd, "w") as fh:
        fh.write(content)
        fh.flush()
        os.fsync(fh.fileno())


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
    """Latest-wins collapse of *stored* rows (base ∪ delta files) by the
    internal version columns — the read-side half of merge-on-read. Same
    map-side-combinable ``max_by`` as the write path, so hot keys are
    partially collapsed before the shuffle."""
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
    which folds a bucket's files back into key-sorted base files, and
    ``rebucket()``.

    The handle holds only the table's path. Layout (bucket modulus, key
    columns) is read from the snapshot each operation plans against, so
    two handles on one path always agree with the committed table.
    """

    # a partial snapshot manifest older than this is considered abandoned
    # by a dead writer and may be reclaimed during commit
    stale_manifest_seconds: float = 300.0

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
            t._write_snapshot(snap)
        else:
            t.recover()
        return t

    @staticmethod
    def load(path: str) -> "LakeTable":
        t = LakeTable(path)
        t.recover()
        t.current()  # raises FileNotFoundError when no table is at path
        return t

    # ------------------------------------------------------------ snapshots
    def current_version(self) -> int | None:
        ptr = os.path.join(self.path, VERSION_POINTER)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as fh:
            return int(fh.read().strip())

    def snapshot(self, version: int) -> Snapshot:
        with open(self._manifest_path(version)) as fh:
            return Snapshot.from_json(fh.read())

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
        with _file_lock(os.path.join(self.path, TAGS_FILE + ".lock")):
            t = self.tags()
            t[name] = v
            _atomic_write(
                os.path.join(self.path, TAGS_FILE), json.dumps(t, indent=1)
            )
        return v

    def drop_tag(self, name: str) -> None:
        with _file_lock(os.path.join(self.path, TAGS_FILE + ".lock")):
            t = self.tags()
            t.pop(name, None)
            _atomic_write(
                os.path.join(self.path, TAGS_FILE), json.dumps(t, indent=1)
            )

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
        versions stay monotonic so the parent-chain invariants of
        ``recover()``/``read_incremental`` hold, and batches applied
        after the target become re-ingestable again because the ledger
        (and its ``applied_floor``/watermark summary keys) are restored
        wholesale, not merged."""
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
        compact_max_files: int = 4,
        target_file_rows: int | None = None,
        truncate_keep: int = 4096,
        keep_last_snapshots: int = 4,
        orphan_age_seconds: float = 3600,
    ) -> dict[str, int]:
        """One-call production maintenance pass: compact read-amplified
        buckets, fold the applied ledger into its low watermark, expire
        old snapshots (tagged ones retained), reclaim orphaned files.
        Every step is an independent crash-safe commit or idempotent
        cleanup, so a pass that died is finished by the next one. Safe to
        run from a cron alongside the ingester: a compaction or truncation
        that loses its commit to an ingest raises ``CommitConflictError``
        and the next pass retries it."""
        return {
            "compacted_buckets": self.compact_if_needed(
                spark, compact_max_files, target_file_rows=target_file_rows
            ),
            "applied_truncated": self.truncate_applied(keep_last=truncate_keep),
            "snapshots_expired": self.expire_snapshots(
                keep_last=keep_last_snapshots
            ),
            "orphans_removed": self.cleanup_orphans(
                min_age_seconds=orphan_age_seconds
            ),
        }

    def _valid_orphan_snapshot(self, version: int) -> Snapshot | None:
        """snapshots/vN.json if it is a commit: it parses, and it says
        ``version == N`` and ``parent == N-1``. Anything else (missing, or
        a partial file — the create-exclusive fd exists before the content
        is fsynced) is not, and yields None."""
        try:
            with open(self._manifest_path(version)) as fh:
                snap = Snapshot.from_json(fh.read())
        except (OSError, ValueError, KeyError):
            return None
        if snap.version != version or snap.parent != version - 1:
            return None
        return snap

    def recover(self) -> int | None:
        """Roll the version pointer forward over any fully-written snapshot
        manifests it doesn't reference yet. A crash between the
        create-exclusive snapshot write and the pointer rename would
        otherwise wedge the table: the pointer stays at vN-1, every new
        commit plans vN and hits CommitConflictError forever. The snapshot
        file is fsynced before the pointer moves, so a valid vN manifest
        IS a durable commit — adopting it merely finishes the crashed
        writer's job (the pointer write is idempotent, so racing with a
        live writer is harmless). Returns the new current version if the
        pointer moved, else None."""
        v = self.current_version()
        if v is None:
            return None
        moved = None
        while self._valid_orphan_snapshot(v + 1) is not None:
            v += 1
            moved = v
        if moved is not None:
            _atomic_write(os.path.join(self.path, VERSION_POINTER), str(moved))
        return moved

    def history(self) -> list[Snapshot]:
        out, v = [], self.current_version()
        while v is not None:
            s = self.snapshot(v)
            out.append(s)
            v = s.parent
        return list(reversed(out))

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, SNAP_DIR, f"v{version:08d}.json")

    def _write_snapshot(self, snap: Snapshot, exclusive: bool = False) -> None:
        """Write ``snap``'s manifest, then move the version pointer to it.
        ``exclusive=True`` = optimistic-concurrency commit: creating
        snapshot vN is the CAS — if another writer already produced vN the
        commit raises CommitConflictError and nothing (incl. the pointer)
        changes; the caller re-reads and re-plans."""
        path = self._manifest_path(snap.version)
        if exclusive:
            _exclusive_write(path, snap.to_json())
        else:
            _atomic_write(path, snap.to_json())
        _atomic_write(os.path.join(self.path, VERSION_POINTER), str(snap.version))

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
        of table size), then to the files whose harvested key range covers
        the key (≈1 base file after a size-targeted compaction), then let
        parquet row-group stats narrow further. The per-conversation
        serving path."""
        snap = self.current()
        _bucket, cand = self.candidate_files_for_key(spark, conv_id, snap)
        df = self._scan(spark, snap, cand)
        return self._public_view(df.filter(F.col(snap.key_cols[0]) == conv_id))

    def read_incremental(
        self, spark: SparkSession, since_version: int
    ) -> DataFrame:
        """Incremental consumption (the downstream-consumer side of CDC):
        stored rows added by **data commits** AFTER ``since_version``,
        collapsed latest-wins, tombstones included so a consumer can
        propagate deletes.

        Walks the snapshot chain from the current version back to
        ``since_version`` and takes, for each data commit, exactly the
        files that commit added (path-diff against its parent manifest —
        the same attribution Iceberg gets from snapshot_id on manifest
        entries). Maintenance commits (compaction / rebucket) are pure
        rewrites of existing content and contribute nothing; crucially,
        a delta file that a LATER compaction folded away is still read
        from its own commit's manifest, so auto-compaction can never
        silently drop changes from an incremental consumer. O(new files).

        Data commits are delta appends, so the window delivers exactly
        the per-key winners of the batches it spans.

        Raises ``IncrementalHistoryError`` when the chain or a needed
        file has been expired (``expire_snapshots``/``cleanup_orphans``),
        or when a **rollback** commit sits inside the window — a rollback
        makes the window non-forward-only (rows the consumer already
        holds must be *unwound*, which upsert deltas cannot express), so
        the consumer must resync from the full state."""
        cur = self.current()
        chain: list[Snapshot] = []
        s = cur
        while s.version > since_version:
            if s.commit_type == "rollback":
                raise IncrementalHistoryError(
                    f"v{s.version} is a rollback (to "
                    f"v{s.summary.get('rolled_back_to')}); the window "
                    f"since v{since_version} is not forward-only — fall "
                    "back to a full read"
                )
            chain.append(s)
            if s.parent is None:
                raise IncrementalHistoryError(
                    f"snapshot history before v{s.version} was expired; "
                    f"cannot diff against v{since_version} — fall back to "
                    "a full read"
                )
            try:
                s = self.snapshot(s.parent)
            except FileNotFoundError as e:
                raise IncrementalHistoryError(
                    f"snapshot v{s.parent} manifest is gone (expired); "
                    "fall back to a full read"
                ) from e
        parent_paths = {f["path"] for f in s.files}  # s == since snapshot
        new_files: list[dict[str, Any]] = []
        for snap in reversed(chain):
            if snap.commit_type == "data":
                new_files += [f for f in snap.files if f["path"] not in parent_paths]
            parent_paths = {f["path"] for f in snap.files}
        missing = [
            f["path"] for f in new_files
            if not os.path.exists(os.path.join(self.path, f["path"]))
        ]
        if missing:
            raise IncrementalHistoryError(
                f"{len(missing)} data file(s) from the incremental window "
                f"were removed (e.g. {missing[0]!r}) — history was cleaned "
                "up; fall back to a full read"
            )
        # data commits add delta files, so the scan collapses latest-wins
        # within the consumed window (a key may appear in several commits)
        return self._scan(spark, cur, new_files)

    def was_applied(self, batch_id: int) -> bool:
        """Floor-aware idempotency probe on the current snapshot
        (``Snapshot.has_applied``): the check ``apply_batch`` runs before
        doing any work, exposed for source connectors that want to prune
        already-consumed offset ranges before even reading them."""
        return self.current().has_applied(batch_id)

    def version_for_batch(self, batch_id: int) -> int:
        """Resolve the snapshot version whose data commit applied
        ``batch_id`` — the bridge from the *producer's* progress unit
        (batch/offset-range id) to the *consumer's* (snapshot version).
        The applying commit is the one ``_applied_batch`` maps to
        ``batch_id``.

        Walks newest→oldest, so cost is O(commits since the batch) — the
        common "resume from a recent batch" case touches a handful of
        manifests. Floor-aware failure modes when the walk exhausts
        retained history (``expire_snapshots`` re-parented it away):
        a batch at/below ``applied_floor`` or with a live ledger entry
        was definitely applied but its commit point is expired →
        ``IncrementalHistoryError`` (consumer must full-read); anything
        else was never applied → ``KeyError``."""
        s = self.current()
        while True:
            if _applied_batch(s) == int(batch_id):
                return s.version
            if s.parent is None:
                break
            try:
                s = self.snapshot(s.parent)
            except FileNotFoundError:
                break
        if self.was_applied(batch_id):
            raise IncrementalHistoryError(
                f"batch {batch_id} was applied but its commit snapshot is "
                "outside retained history (expired) — fall back to a full "
                "read"
            )
        raise KeyError(f"batch {batch_id} was never applied to this table")

    def read_incremental_since_batch(
        self, spark: SparkSession, batch_id: int
    ) -> DataFrame:
        """``read_incremental`` keyed on the last *batch id* the consumer
        saw instead of a snapshot version: everything committed after the
        data commit that applied ``batch_id``, latest-wins collapsed,
        tombstones included. Lets a downstream consumer checkpoint the
        same unit the ingest side checkpoints (the batch stream) without
        tracking lake versions at all."""
        return self.read_incremental(
            spark, since_version=self.version_for_batch(batch_id)
        )

    def create_view(
        self, spark: SparkSession, name: str, version: int | None = None
    ) -> None:
        """Expose the table (tombstone-filtered public view, MOR-collapsed)
        as a temp view so consumers can ``spark.sql`` against it."""
        self.read(spark, version=version).createOrReplaceTempView(name)

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
        max_records_per_file: int | None = None,
    ) -> list[dict[str, Any]]:
        """Write ``df`` (must contain ``__bucket``) into this snapshot's data
        dir, one Parquet directory partition per bucket (``partitionBy``, so
        file→bucket is structural), and return one manifest entry per
        written file. Every write runs ``min(n_buckets, cores)`` tasks
        hash-partitioned on ``__bucket`` (``n_buckets``: the buckets ``df``
        spans), so each bucket has one writer and gets one file (more only
        under ``max_records_per_file``). ``delta`` rows (the MOR apply
        append) stay unsorted; ``base`` rows (``compact``/``rebucket``
        output) are sorted by bucket, then ``keys``. No key salt: tuned at
        ``local[32]`` on 17 M-event batches, on 4 CPUs it wrote 61 files
        per 10k-event batch instead of 16, spent 1.7–1.9 s per batch in the
        write instead of 0.9–1.0 s, and did not speed up a 10⁶-event batch
        with 30% on one conversation (BENCH.md, "4-CPU host").

        Every entry carries the file's footer stats (``_harvest``): ``rows``
        always, ``min_key``/``max_key`` of ``keys[0]`` and
        ``min_lsn``/``max_lsn`` of the stored lsn where the footer has them.

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
        writer = df.write.mode("overwrite").partitionBy("__bucket")
        if max_records_per_file:
            # split big buckets into several key-contiguous files (rows are
            # already sorted within the task for base writes), so the
            # harvested per-file key ranges become disjoint and a point
            # lookup reads ~1 file however large the bucket grows
            writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
        writer.parquet(out_dir)
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
        return self._harvest(entries, keys[0])

    def _harvest(
        self, entries: list[dict[str, Any]], key: str
    ) -> list[dict[str, Any]]:
        """``entries`` with each file's footer stats attached: ``rows``,
        plus ``min_key``/``max_key`` of ``key`` and ``min_lsn``/``max_lsn``
        of the stored lsn when every row group has stats for that column.
        One footer open per file, in one thread pool (this sits on the
        serial commit path of every batch). The bounds let a point lookup
        prune *files* inside the already-pruned bucket; the rows and lsn
        bounds are the lineage ``read_lineage`` reports.

        An unreadable footer raises: the caller commits nothing, and the
        written files become orphans that ``cleanup_orphans`` reclaims. A
        stats gap only leaves that pair of bounds off the entry, and an
        unranged file is always read."""
        from concurrent.futures import ThreadPoolExecutor

        def one(e: dict[str, Any]) -> dict[str, Any]:
            rows, bounds = footer_bounds(
                os.path.join(self.path, e["path"]), [key, VERSION_LSN]
            )
            out = {**e, "rows": rows}
            for col, name in ((key, "key"), (VERSION_LSN, "lsn")):
                if col in bounds:
                    out[f"min_{name}"], out[f"max_{name}"] = bounds[col]
            return out

        with ThreadPoolExecutor(max_workers=min(16, max(len(entries), 1))) as ex:
            return list(ex.map(one, entries))

    # ----------------------------------------------------------- compaction
    def buckets_needing_compaction(self, max_files: int = 4) -> set[int]:
        """Buckets whose *delta* file count exceeds ``max_files`` — the MOR
        read-amplification guard. An apply lands at most one delta per
        bucket it touches, so ``max_files=k`` compacts a bucket on its
        (k+1)-th batch since the last compaction. Base files don't count:
        ``max_records_per_file`` may split a bucket's base, and read cost
        is driven by how many deltas must be re-collapsed."""
        counts: dict[int, int] = {}
        for f in self.current().files:
            if f.get("kind", "base") == "delta":
                counts[f["bucket"]] = counts.get(f["bucket"], 0) + 1
        return {b for b, n in counts.items() if n > max_files}

    def compact_if_needed(
        self,
        spark: SparkSession,
        max_files: int | None,
        target_file_rows: int | None = None,
    ) -> int:
        """The post-apply compaction policy every ingest front-end shares:
        compact the buckets holding more than ``max_files`` delta files
        (``None`` disables). Returns the number of buckets compacted."""
        if max_files is None:
            return 0
        hot = self.buckets_needing_compaction(max_files)
        return self.compact(spark, hot, target_file_rows=target_file_rows) if hot else 0

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
        """Point-lookup planning: the key's hash bucket, then file-level
        key-range pruning inside it. Base and delta files whose harvested
        ``min_key``/``max_key`` bounds exclude ``key_value`` are skipped;
        an unranged file (a footer without key stats) is always kept.
        Unsorted deltas span most of their bucket's key range, so their
        bounds prune less than a sorted base file's. Driver-side
        arithmetic over the manifest — the file-skipping half of what
        Iceberg does with manifest column bounds."""
        snap = snap or self.current()
        bucket = self.bucket_for_key(spark, key_value, snap)
        cand = [
            f
            for f in snap.files
            if f["bucket"] == bucket
            and (
                "min_key" not in f
                or f["min_key"] <= key_value <= f["max_key"]
            )
        ]
        return bucket, cand

    def compact(
        self,
        spark: SparkSession,
        buckets: set[int] | None = None,
        target_file_rows: int | None = None,
    ) -> int:
        """Fold each bucket's files back into key-sorted base files
        (latest-wins collapse with tombstones retained — a stale replayed
        event must still lose to a newer delete). Only buckets holding a
        delta file or more than one file are rewritten. Data-only commit:
        the applied-offset map is untouched, so compaction is safe at any
        point and crash during compaction simply leaves the previous
        snapshot current. Returns the number of buckets compacted."""
        snap = self.current()
        per_bucket: dict[int, list[dict[str, Any]]] = {}
        for f in snap.files:
            per_bucket.setdefault(f["bucket"], []).append(f)
        todo = {
            b
            for b, fs in per_bucket.items()
            if (buckets is None or b in buckets)
            and (len(fs) > 1 or any(f.get("kind", "base") == "delta" for f in fs))
        }
        if not todo:
            return 0
        self._rewrite(
            spark, snap, [f for f in snap.files if f["bucket"] in todo],
            snap.num_buckets,
            {**snap.summary, "last_compaction_version": snap.version + 1},
            target_file_rows,
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
        target_file_rows: int | None = None,
    ) -> None:
        """The one maintenance rewrite under ``compact`` and ``rebucket``:
        scan ``files`` (collapsed when any is a delta), bucket the rows
        under ``num_buckets``, write them as key-sorted base files, and
        commit a maintenance snapshot in which they replace ``files``."""
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
            rows, snap.version + 1, max(width, 1), keys, kind="base",
            max_records_per_file=target_file_rows,
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
        are stamped with the new version, so incremental readers and
        ``read_lineage`` can attribute files to commits (Iceberg's
        snapshot_id on manifest entries).

        The create-exclusive manifest write is the commit; moving the
        version pointer afterwards only publishes it, and ``recover()``
        finishes that step for a writer that died before it. Raises
        ``CommitConflictError`` when vN already exists."""
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
        try:
            self._write_snapshot(snap, exclusive=True)
        except CommitConflictError:
            if self._valid_orphan_snapshot(version) is not None:
                # a durable vN exists (concurrent winner, or a crashed
                # writer that never moved the pointer) — adopt it so the
                # caller's re-plan sees the real current snapshot instead
                # of conflicting forever
                self.recover()
                raise
            # partial manifest from a writer that died mid-write: reclaim
            # it once it is old enough that no live writer can own it
            p = self._manifest_path(version)
            try:
                stale = (
                    time.time() - os.path.getmtime(p)
                    >= self.stale_manifest_seconds
                )
            except OSError:
                stale = False
            if not stale:
                raise
            os.remove(p)
            self._write_snapshot(snap, exclusive=True)
        return snap

    def applied_floor(self) -> int:
        """The committed low watermark of the batch stream: every
        ``batch_id <= floor`` is known-applied even if its ledger entry
        was truncated (Kafka committed-offset semantics)."""
        return int(self.current().summary.get("applied_floor", -1))

    def truncate_applied(self, keep_last: int = 64) -> int:
        """Bound the applied-batch ledger so the manifest stays
        O(keep_last) no matter how many batches have ever been ingested
        (the soak shows ~300 B/batch growth otherwise — harmless at 10³
        batches, not at 10⁵+). Entries contiguous with the current floor
        are folded INTO the floor; the last ``keep_last`` entries are
        always kept verbatim (so recent replays still short-circuit on
        their exact lsn range). Assumes the standard CDC contract of a
        monotone batch-id stream: a batch numbered at-or-below the floor
        is by definition consumed. Maintenance commit; returns entries
        dropped."""
        snap = self.current()
        ids = sorted(int(k) for k in snap.applied)
        if len(ids) <= keep_last:
            return 0
        prev_floor = int(snap.summary.get("applied_floor", -1))
        idset = set(ids)
        c = prev_floor
        while c + 1 in idset:
            c += 1
        floor = min(c, ids[-keep_last] - 1) if keep_last > 0 else c
        if floor <= prev_floor:
            return 0
        new_applied = {
            k: v for k, v in snap.applied.items() if int(k) > floor
        }
        self.commit(
            snap,
            snap.files,
            applied=new_applied,
            summary={**snap.summary, "applied_floor": floor},
            commit_type="maintenance",
        )
        return len(snap.applied) - len(new_applied)

    # -------------------------------------------------------------- cleanup
    def _retained(self, snaps: list[Snapshot]) -> tuple[set[int], set[str]]:
        """The retention rule ``expire_snapshots`` and ``cleanup_orphans``
        share: the tag-pinned versions, and the data file paths that
        ``snaps`` or a tag-pinned snapshot references. Tagged snapshots
        survive until the tag is dropped (Iceberg ref-retention
        semantics). Tags resolve by manifest, not via the chain — a prior
        expiry's re-parenting may have detached them from ``history()``
        while they remain directly readable; an unreadable manifest pins
        nothing."""
        pinned: list[Snapshot] = []
        for v in sorted(set(self.tags().values())):
            try:
                pinned.append(self.snapshot(v))
            except (OSError, ValueError):
                continue
        live: set[str] = set()
        for s in snaps + pinned:
            live |= {f["path"] for f in s.files}
        return {s.version for s in pinned}, live

    def cleanup_orphans(self, min_age_seconds: float = 3600) -> int:
        """Delete data files referenced by NO snapshot in the retained
        history (e.g. left by a writer that lost the commit race or
        crashed mid-write), provided they are older than
        ``min_age_seconds`` — the age guard keeps in-flight writers' files
        safe, exactly like Iceberg's orphan-file removal."""
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
                try:
                    if now - os.path.getmtime(full) >= min_age_seconds:
                        os.remove(full)
                        removed += 1
                except OSError:
                    pass
        # prune now-empty dirs
        for dirpath, dirnames, filenames in list(os.walk(root, topdown=False)):
            if dirpath != root and not dirnames and not filenames:
                try:
                    os.rmdir(dirpath)
                except OSError:
                    pass
        return removed

    def expire_snapshots(self, keep_last: int = 2) -> int:
        """Cut the chain to its last ``keep_last`` snapshots (the reference
        keeps 2 checkpoints, ``scripts/train_llm.py:265``); tagged ones
        survive. In order: delete the dropped snapshots' data files that no
        kept or tagged snapshot references; re-parent the oldest kept
        snapshot so ``history()`` stops there; then sweep ``snapshots/`` of
        every untagged ``vNNNNNNNN.json`` below the oldest kept version.
        The sweep lists the directory, not the chain, and runs even when
        the chain is within ``keep_last``, so a resumed call finishes a
        crashed one; it follows the re-parent, so ``history()`` never names
        a missing parent. Returns the data files deleted."""
        chain = self.history()
        kept = chain[-keep_last:]
        tagged, live = self._retained(kept)
        removed = 0
        for s in chain[: len(chain) - len(kept)]:
            if s.version in tagged:
                continue
            for f in s.files:
                fp = os.path.join(self.path, f["path"])
                if f["path"] not in live and os.path.exists(fp):
                    os.remove(fp)
                    removed += 1
        oldest = kept[0]
        if oldest.parent is not None:
            oldest.parent = None
            _atomic_write(self._manifest_path(oldest.version), oldest.to_json())
        snap_dir = os.path.join(self.path, SNAP_DIR)
        for fn in os.listdir(snap_dir):
            m = _MANIFEST_RE.match(fn)
            v = int(m.group(1)) if m else None
            if v is not None and v < oldest.version and v not in tagged:
                os.remove(os.path.join(snap_dir, fn))
        # prune empty data dirs
        ddir = os.path.join(self.path, DATA_DIR)
        for sub in os.listdir(ddir):
            full = os.path.join(ddir, sub)
            if os.path.isdir(full) and not any(
                fn.endswith(".parquet")
                for _, _, fns in os.walk(full)
                for fn in fns
            ):
                shutil.rmtree(full)
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
