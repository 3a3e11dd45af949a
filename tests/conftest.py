import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from runyoro_llm_data_pipeline_spark.lake.table import (  # noqa: E402
    DATA_DIR,
    DELETED,
    SNAP_DIR,
)
from runyoro_llm_data_pipeline_spark.session import get_spark  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s


@pytest.fixture(scope="session")
def shared_spark_holder(spark):
    """Function-scoped alias usable inside @given (hypothesis forbids
    function-scoped fixtures; session scope is fine)."""
    return spark


@pytest.fixture()
def tmp_lake(tmp_path_factory):
    d = tmp_path_factory.mktemp("lake")
    yield str(d)
    shutil.rmtree(str(d), ignore_errors=True)


def sf_dir(sf: str = "0.001") -> str:
    return f"/root/testdata/sf{sf}"


def _check_table_files(table) -> None:
    """The on-disk closure a finished mutation plus one ``maintain`` pass
    (orphan age 0) must leave: every file a retained manifest names
    exists, ``snapshots/`` holds exactly the manifests of ``history()``
    and the tagged versions, and ``data/`` holds exactly the referenced
    parquet files."""
    tagged = set(table.tags().values())
    versions = {s.version for s in table.history()} | tagged
    referenced = {
        f["path"] for v in versions for f in table.snapshot(v).files
    }
    missing = [
        p for p in referenced if not os.path.exists(os.path.join(table.path, p))
    ]
    assert not missing, missing
    assert sorted(os.listdir(os.path.join(table.path, SNAP_DIR))) == sorted(
        f"v{v:08d}.json" for v in versions
    )
    on_disk = {
        os.path.relpath(os.path.join(dirpath, fn), table.path)
        for dirpath, _, fns in os.walk(os.path.join(table.path, DATA_DIR))
        for fn in fns
        if fn.endswith(".parquet")
    }
    assert on_disk == referenced, (on_disk ^ referenced)


@pytest.fixture(scope="session")
def check_table_files():
    return _check_table_files


def _payload(row) -> dict:
    return {
        c: v for c, v in row.asDict().items()
        if c not in ("conv_id", "turn_idx", DELETED)
    }


class FeedReplica:
    """A downstream sink kept by an ``IncrementalFeed``: per-key upsert,
    tombstone delete, truncate-and-load on a resync. ``rows`` maps
    ``(conv_id, turn_idx)`` to the rest of the public row."""

    def __init__(self, rows: dict | None = None):
        self.rows = dict(rows or {})

    def sync(self, spark, feed):
        """One poll → apply → commit cycle; the token, or None when the
        feed had nothing new."""
        out = feed.poll(spark)
        if out is None:
            return None
        df, token = out
        if token.was_resync:
            self.rows = {}
        for r in df.collect():
            key = (r["conv_id"], r["turn_idx"])
            if r[DELETED]:
                self.rows.pop(key, None)
            else:
                self.rows[key] = _payload(r)
        feed.commit(token)
        return token

    def frame(self, spark, schema):
        """``rows`` as a DataFrame of the table's public ``schema``."""
        return spark.createDataFrame(
            [{"conv_id": c, "turn_idx": i, **v} for (c, i), v in self.rows.items()],
            schema,
        )

    @staticmethod
    def state(spark, table) -> dict:
        """``table``'s public state in ``rows`` form."""
        return {
            (r["conv_id"], r["turn_idx"]): _payload(r)
            for r in table.read(spark).collect()
        }


@pytest.fixture(scope="session")
def feed_replica():
    return FeedReplica
