"""Churn under the production machinery, at Tier-1 scale.

Eight rounds on one table, one batch of a few hundred turns each. Every
round ingests its batch, pins a tag that is dropped two rounds later,
runs one ``maintain`` pass with orphan age 0, and syncs a feed replica
that must equal the table (``exceptAll`` both ways). At fixed rounds the
table is also rolled back to the previous tag and the batch re-ingested
(the feed must resync), rebucketed online 4 ↔ 8, or written by two racing
threads. After the last round the table equals the generator's oracle.
"""

import glob
import os
import threading

from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
from runyoro_llm_data_pipeline_spark.cdc.feed import IncrementalFeed
from runyoro_llm_data_pipeline_spark.cdc.generator import (
    gen_change_log,
    write_batch_files,
)
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
from runyoro_llm_data_pipeline_spark.lake.table import DATA_DIR

ROUNDS = 8
# round 3 rolls back to the tag taken before round 2's rebucket, so it
# unwinds that rebucket; round 7 rolls back within round 5's layout
REBUCKET_ROUNDS = {2, 5}
ROLLBACK_ROUNDS = {3, 7}
RACE_ROUND = 4


def _equal(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _race(spark, table_path: str, log_dir: str) -> list[str]:
    """Two ingest launches on one pending batch, sharing only the table
    path (two overlapping cron runs). The barrier holds both until each
    has read the same pending view, so both enter ``apply_batch``."""
    barrier = threading.Barrier(2, timeout=120)
    statuses: list[list[str] | None] = [None, None]

    def racer(i: int) -> None:
        rival = CdcIngest(table_path, log_dir)
        pending = rival.pending()
        table = rival.table()
        barrier.wait()
        statuses[i] = [
            apply_batch(spark, table, spark.read.parquet(p), b)["status"]
            for b, p in pending
        ]

    threads = [threading.Thread(target=racer, args=(i,)) for i in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not any(th.is_alive() for th in threads)
    assert None not in statuses
    return sorted(s for per_thread in statuses for s in per_thread)


def test_churn_rounds_converge(
    spark, tmp_path, check_table_files, feed_replica
):
    staged, log_dir = str(tmp_path / "staged"), str(tmp_path / "log")
    table_path = str(tmp_path / "table")
    os.makedirs(log_dir)
    events, expected = gen_change_log(
        spark, n_turns=1600, n_convs=24, n_batches=ROUNDS
    )
    write_batch_files(events, staged, files_per_batch=2)
    ing = CdcIngest(table_path, log_dir, num_buckets=4)
    feed = IncrementalFeed(table_path, str(tmp_path / "feed.json"))
    replica = feed_replica()
    swept = dict.fromkeys(("expired_files_removed", "orphans_removed"), 0)

    for r in range(ROUNDS):
        name = f"batch_{r:05d}"
        os.rename(os.path.join(staged, name), os.path.join(log_dir, name))
        if r == RACE_ROUND:
            race_version = ing.table().current_version() + 1
            assert _race(spark, table_path, log_dir) == ["applied", "skipped"]
            # both racers wrote files for the same version; the loser's
            # are unreferenced and the maintain pass below must sweep them
            race_dirs = glob.glob(
                os.path.join(table_path, DATA_DIR, f"v{race_version:08d}-*")
            )
            assert len(race_dirs) == 2
        else:
            assert [x["batch_id"] for x in ing.run(spark)] == [r]
        t = ing.table()
        t.tag(f"r{r}")
        if r >= 2:
            t.drop_tag(f"r{r - 2}")
        if r in ROLLBACK_ROUNDS:
            # undo this round's batch: the tag's ledger makes it pending
            t.rollback(f"r{r - 1}")
            assert [x["batch_id"] for x in ing.run(spark)] == [r]
            t.tag(f"r{r}")
        if r in REBUCKET_ROUNDS:
            t.rebucket(spark, 8 if t.current().num_buckets == 4 else 4)

        # keep_last exceeds the commits of one round, so the feed's last
        # position stays in history and only a rollback in its window
        # can force a resync
        done = t.maintain(spark, keep_last_snapshots=8, orphan_age_seconds=0)
        for k in swept:
            swept[k] += done[k]
        token = replica.sync(spark, feed)
        assert token.was_resync == (r == 0 or r in ROLLBACK_ROUNDS), r
        public = t.read(spark)
        assert _equal(replica.frame(spark, public.schema), public), r
        check_table_files(t)
        assert sorted(t.tags()) == [f"r{k}" for k in range(max(r - 1, 0), r + 1)]

    assert t.current().num_buckets == 8
    assert all(swept.values()), swept
    assert _equal(t.read(spark).select(*expected.columns), expected)
