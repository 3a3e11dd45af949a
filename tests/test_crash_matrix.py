"""Crash matrix: every table mutation, killed at each of its named steps.

One row per crash point (``ROWS``). A row runs its mutation on a copy of
one base table, dies at the point, then resumes the way an operator
would: a fresh handle issues the same operation again, ``run()`` ingests
whatever is pending, and one ``maintain`` pass follows. The table must
then equal the generator's oracle, every file a retained manifest names
must exist, nothing unreferenced may stay on disk, the applied ledger
must be folded whole into its floor, and a feed replica must converge.
A new mutation adds one entry to ``MUTATIONS`` and one row per crash
point.

The crash is injected from here; the package has no hook for it. A row
wraps one function so that it raises ``_Crash`` (a ``BaseException``)
at the point. Nothing under ``lake/`` or ``cdc/`` catches
``BaseException`` (``test_engine_never_catches_base_exception``), so the
raise leaves the disk exactly as a process death would, and
``test_apply_manifest_crash_in_subprocess`` checks one row against a real
``os._exit``.
"""

import ast
import os
import shutil
import subprocess
import sys
from dataclasses import dataclass

import pytest

import runyoro_llm_data_pipeline_spark as pkg
from runyoro_llm_data_pipeline_spark.cdc.feed import IncrementalFeed
from runyoro_llm_data_pipeline_spark.cdc.generator import (
    gen_change_log,
    write_batch_files,
)
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
from runyoro_llm_data_pipeline_spark.lake import table as table_mod
from runyoro_llm_data_pipeline_spark.lake.table import (
    LOW_WATER,
    SNAP_DIR,
    LakeTable,
    bucket_expr,
)

NUM_BUCKETS = 4
TAG = "t1"
COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _Crash(BaseException):
    """The injected death. Not an ``Exception``, so no engine handler
    stops it on its way out."""


def _ingest(root: str) -> CdcIngest:
    return CdcIngest(
        os.path.join(root, "table"), os.path.join(root, "log"),
        num_buckets=NUM_BUCKETS, compact_max_files=None,
    )


def _table(root: str) -> LakeTable:
    return LakeTable.load(os.path.join(root, "table"))


# each mutation opens its own handle, so a re-issue after a crash always
# starts from a fresh LakeTable.load (or a new CdcIngest)
MUTATIONS = {
    "apply": lambda spark, root: _ingest(root).run(spark),
    "compact": lambda spark, root: _table(root).compact(spark),
    "rebucket": lambda spark, root: _table(root).rebucket(spark, 2 * NUM_BUCKETS),
    "rollback": lambda _, root: _table(root).rollback(TAG),
    "expire_snapshots": lambda _, root: _table(root).expire_snapshots(keep_last=2),
    "cleanup_orphans": lambda _, root: _table(root).cleanup_orphans(min_age_seconds=0),
}


def _always(*_args) -> bool:
    return True


def _is_mark(path, *_rest) -> bool:
    return os.path.basename(path) == LOW_WATER


def _is_manifest(path, *_rest) -> bool:
    return os.path.basename(os.path.dirname(path)) == SNAP_DIR


def _is_data_file(path, *_rest) -> bool:
    return path.endswith(".parquet")


# point -> (owner, attribute, which calls hit, raise after the real call)
POINTS = {
    # the Spark write is done, its footers are not harvested
    "written": (LakeTable, "_harvest", _always, False),
    # files written and harvested, no manifest
    "harvested": (table_mod, "_atomic_write", _is_manifest, False),
    # temp manifest written and fsynced, not linked into place
    "staged": (os, "link", _always, False),
    # manifest linked (the commit), its temp not yet removed
    "manifest": (os, "link", _is_manifest, True),
    # low-water mark raised, nothing deleted yet
    "mark_written": (table_mod, "_atomic_write", _is_mark, True),
    "files_deleted": (os, "remove", _is_data_file, True),
    "manifests_deleted": (os, "remove", _is_manifest, True),
    "removed": (os, "remove", _always, True),
}

ROWS = [
    ("apply", "written"),
    ("apply", "harvested"),
    ("apply", "staged"),
    ("apply", "manifest"),
    ("compact", "written"),
    ("compact", "harvested"),
    ("compact", "staged"),
    ("compact", "manifest"),
    ("rebucket", "manifest"),
    ("rollback", "manifest"),
    ("expire_snapshots", "mark_written"),
    ("expire_snapshots", "files_deleted"),
    ("expire_snapshots", "manifests_deleted"),
    ("cleanup_orphans", "removed"),
]

# mutations that cut the feed's incremental window on their own
RESYNC_ALLOWED = {"rollback", "expire_snapshots"}


def _arm(mp: pytest.MonkeyPatch, point: str) -> None:
    """Make the first call that ``point`` names raise ``_Crash``."""
    owner, attr, hits, after = POINTS[point]
    real = getattr(owner, attr)

    def dying(*args, **kwargs):
        if not after and hits(*args):
            raise _Crash(point)
        out = real(*args, **kwargs)
        if after and hits(*args):
            raise _Crash(point)
        return out

    mp.setattr(owner, attr, dying)


@dataclass(frozen=True)
class Base:
    state: str  # table/, log/, feed.json: the tree each row copies
    expected: str  # the generator's final state, as parquet
    replica: dict  # the feed replica, synced at the base version


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory, feed_replica):
    """3 of 4 batches applied on 4 buckets, batch 0 compacted into base
    files (so expiry has data files to delete), a tag after batch 1,
    live deltas from batches 1 and 2, one dead writer's uncommitted
    files, and a feed replica synced at the current version."""
    root = str(tmp_path_factory.mktemp("crash_base"))
    state = os.path.join(root, "state")
    events, expected = gen_change_log(spark, n_turns=240, n_convs=8, n_batches=4)
    write_batch_files(events, os.path.join(state, "log"), files_per_batch=2)
    expected.select(*COLS).write.parquet(os.path.join(root, "expected"))

    ing = _ingest(state)
    ing.run(spark, max_batches=1)
    t = ing.table()
    t.compact(spark)
    ing.run(spark, max_batches=1)
    t.tag(TAG)
    ing.run(spark, max_batches=1)
    assert [b for b, _ in ing.pending()] == [3]
    snap = t.current()
    keys = snap.key_cols
    t.write_data_files(
        t.read(spark, include_internal=True).limit(5).withColumn(
            "__bucket", bucket_expr(keys[0], NUM_BUCKETS)
        ),
        snap.version + 1, NUM_BUCKETS, keys, kind="delta",
    )
    replica = feed_replica()
    replica.sync(spark, IncrementalFeed(t.path, os.path.join(state, "feed.json")))
    return Base(state, os.path.join(root, "expected"), replica.rows)


def _resume_and_check(
    spark, base: Base, root: str, mutation: str, check_table_files, feed_replica
) -> int:
    """Re-issue ``mutation``, ingest what is pending, sync the feed
    replica, run one maintenance pass, and check the table. Returns the
    number of ``write_data_files`` calls the re-issue made."""
    writes = []
    real_write = LakeTable.write_data_files

    def counting(self, *args, **kwargs):
        writes.append(args[1])
        return real_write(self, *args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(LakeTable, "write_data_files", counting)
        MUTATIONS[mutation](spark, root)
    _ingest(root).run(spark)

    # the replica syncs before maintenance: maintain's expiry at
    # keep_last=2 would push any position out of history, and only a
    # mutation that cuts the window itself may force a resync
    t = _table(root)
    replica = feed_replica(base.replica)
    feed = IncrementalFeed(t.path, os.path.join(root, "feed.json"))
    token = replica.sync(spark, feed)
    assert token is not None
    assert not token.was_resync or mutation in RESYNC_ALLOWED
    assert replica.rows == feed_replica.state(spark, t)

    t.maintain(spark, keep_last_snapshots=2, orphan_age_seconds=0)
    t = _table(root)
    got = t.read(spark).select(*COLS)
    want = spark.read.parquet(base.expected)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    check_table_files(t)
    # every batch folded into the floor: the ledger holds no entry
    snap = t.current()
    assert snap.applied == {} and snap.applied_floor == 3
    return len(writes)


def _copy(base: Base, tmp_path) -> str:
    root = str(tmp_path / "state")
    shutil.copytree(base.state, root)
    return root


@pytest.mark.parametrize(
    "mutation,point", ROWS, ids=[f"{m}/{p}" for m, p in ROWS]
)
def test_crash_then_resume_converges(
    spark, base, tmp_path, mutation, point, check_table_files, feed_replica
):
    root = _copy(base, tmp_path)
    with pytest.MonkeyPatch.context() as mp:
        _arm(mp, point)
        with pytest.raises(_Crash):
            MUTATIONS[mutation](spark, root)
    writes = _resume_and_check(
        spark, base, root, mutation, check_table_files, feed_replica
    )
    if (mutation, point) == ("apply", "manifest"):
        # the linked manifest is the commit: the batch is already applied
        assert writes == 0


_CHILD = """
import os, sys
sys.path.insert(0, sys.argv[1])
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
from runyoro_llm_data_pipeline_spark.lake import table as table_mod
from runyoro_llm_data_pipeline_spark.session import get_spark

real = os.link

def die_after_link(src, dst):
    real(src, dst)
    if os.path.basename(os.path.dirname(dst)) == table_mod.SNAP_DIR:
        os._exit(3)

os.link = die_after_link
spark = get_spark(app_name="crash-child")
root = sys.argv[2]
CdcIngest(
    os.path.join(root, "table"), os.path.join(root, "log"),
    num_buckets=int(sys.argv[3]), compact_max_files=None,
).run(spark)
os._exit(0)
"""


def test_apply_manifest_crash_in_subprocess(
    spark, base, tmp_path, check_table_files, feed_replica
):
    """The ``apply/manifest`` row with a real process death: a child
    ingests and calls ``os._exit(3)`` right after its manifest is linked
    (an uncaught error would exit with 1). Resuming here gives the
    in-process row's outcome."""
    root = _copy(base, tmp_path)
    before = LakeTable(os.path.join(root, "table")).current_version()
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g", "SPARK_GRAFT_CPUS": "2"}
    env.pop("PYSPARK_GATEWAY_PORT", None)
    child = subprocess.run(
        [sys.executable, "-c", _CHILD, REPO, root, str(NUM_BUCKETS)],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert child.returncode == 3, child.stderr[-2000:]
    t = LakeTable(os.path.join(root, "table"))
    # the linked manifest is committed; its writer died holding the temp
    names = os.listdir(os.path.join(t.path, SNAP_DIR))
    assert any(n.startswith(f"v{before + 1:08d}.json.tmp.") for n in names)
    assert t.current_version() == before + 1
    writes = _resume_and_check(
        spark, base, root, "apply", check_table_files, feed_replica
    )
    assert writes == 0


def test_engine_never_catches_base_exception():
    """The in-process ``_Crash`` equals a process death only while no
    handler under ``lake/`` or ``cdc/`` can catch it: no ``except
    BaseException`` and no bare ``except:``."""
    offenders = []
    pkg_dir = os.path.dirname(pkg.__file__)
    for sub in ("lake", "cdc"):
        for dirpath, _, fns in os.walk(os.path.join(pkg_dir, sub)):
            for fn in fns:
                if not fn.endswith(".py"):
                    continue
                path = os.path.join(dirpath, fn)
                with open(path) as fh:
                    tree = ast.parse(fh.read(), path)
                for node in ast.walk(tree):
                    if not isinstance(node, ast.ExceptHandler):
                        continue
                    caught = (
                        node.type.elts if isinstance(node.type, ast.Tuple)
                        else [node.type]
                    )
                    if any(
                        c is None
                        or (isinstance(c, ast.Name) and c.id == "BaseException")
                        for c in caught
                    ):
                        offenders.append(
                            f"{os.path.relpath(path, pkg_dir)}:{node.lineno}"
                        )
    assert offenders == []


# (module, function, name) allowed to write files: the one writer, and
# the lock fd that serializes tag updates and expiries
_TABLE_PY = os.path.join("lake", "table.py")
_WRITERS = {
    (_TABLE_PY, "_atomic_write", "open"),
    (_TABLE_PY, "_atomic_write", "os.rename"),
    (_TABLE_PY, "_atomic_write", "os.link"),
    (_TABLE_PY, "_file_lock", "os.open"),
}


def _writes_file(call: ast.Call) -> bool:
    """``open(...)`` in a mode that writes (an unknown mode counts)."""
    mode = call.args[1] if len(call.args) > 1 else next(
        (k.value for k in call.keywords if k.arg == "mode"), ast.Constant("r")
    )
    return not isinstance(mode, ast.Constant) or any(c in mode.value for c in "wax+")


class _FileWrites(ast.NodeVisitor):
    """Records ``(enclosing function, name, line)`` for each reference to
    ``os.rename``/``os.replace``/``os.link``/``os.open`` and each
    write-mode ``open`` call."""

    def __init__(self):
        self.scope: list[str] = []
        self.found: list[tuple[str | None, str, int]] = []

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    def _add(self, name: str, node) -> None:
        self.found.append((self.scope[-1] if self.scope else None, name, node.lineno))

    def visit_Attribute(self, node):
        if (
            isinstance(node.value, ast.Name) and node.value.id == "os"
            and node.attr in ("rename", "replace", "link", "open")
        ):
            self._add(f"os.{node.attr}", node)
        self.generic_visit(node)

    def visit_ImportFrom(self, node):
        if node.module == "os":
            for a in node.names:
                if a.name in ("rename", "replace", "link", "open"):
                    self._add(f"os.{a.name}", node)

    def visit_Call(self, node):
        if isinstance(node.func, ast.Name) and node.func.id == "open" and _writes_file(node):
            self._add("open", node)
        self.generic_visit(node)


def test_table_files_have_one_writer():
    """Every table file (manifest, low-water mark, tags, feed checkpoint)
    is written by ``table._atomic_write``: under ``lake/`` and ``cdc/``
    nothing else renames, links or opens a file for writing (the flock fd
    of ``_file_lock`` aside). So a dying writer can leave only that
    function's temp files, and the rows that wrap it reach every write."""
    offenders = []
    pkg_dir = os.path.dirname(pkg.__file__)
    for sub in ("lake", "cdc"):
        for dirpath, _, fns in os.walk(os.path.join(pkg_dir, sub)):
            for fn in fns:
                if not fn.endswith(".py"):
                    continue
                path = os.path.join(dirpath, fn)
                rel = os.path.relpath(path, pkg_dir)
                with open(path) as fh:
                    v = _FileWrites()
                    v.visit(ast.parse(fh.read(), path))
                offenders += [
                    f"{rel}:{line} {name} in {func}"
                    for func, name, line in v.found
                    if (rel, func, name) not in _WRITERS
                ]
    assert offenders == []
