"""Per-epoch fixed cost and the epoch's store protocol.

An epoch evaluates the caller's robots rules once, its store reads
start no Spark job, its threaded jobs carry the caller's job group,
payload temp files from killed attempts are swept, and a committed
partition that has gone missing is an error, never an empty read.
"""

import shutil
from contextlib import contextmanager
from pathlib import Path

import pytest

from crawler_spark import fixtures as fx
from crawler_spark.epoch import EpochConfig, recrawl, run_crawl, run_epoch
from crawler_spark.operators import fetch as fetch_op
from crawler_spark.state.snapshots import SnapshotStore

NUM_HOSTS = 10
N_SEEDS = 120


def _cfg(epoch_budget=300):
    return EpochConfig(num_buckets=8, epoch_seconds=10.0, epoch_budget=epoch_budget)


def _seeded(spark, root) -> SnapshotStore:
    store = SnapshotStore(spark, root)
    run_crawl(spark, store, fx.seeds_df(spark, N_SEEDS, NUM_HOSTS), _cfg(), num_epochs=0)
    return store


def _crawl(spark, root, epochs: int) -> tuple[SnapshotStore, list[dict]]:
    store = SnapshotStore(spark, root)
    stats = run_crawl(
        spark, store, fx.seeds_df(spark, N_SEEDS, NUM_HOSTS), _cfg(),
        num_epochs=epochs, robots_rules=fx.robots_rules_df(spark, NUM_HOSTS),
    )
    return store, stats


@contextmanager
def _job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def test_robots_rules_evaluated_once_per_epoch(spark, tmp_path):
    rows = spark.sparkContext.accumulator(0)
    robots = fx.robots_rules_df(spark, NUM_HOSTS)

    def counting(batches):
        for pdf in batches:
            rows.add(len(pdf))
            yield pdf

    counted = robots.mapInPandas(counting, robots.schema)
    store = _seeded(spark, tmp_path)
    for e in (1, 2):
        run_epoch(spark, store, e, _cfg(), robots_rules=counted)
    assert rows.value == 2 * NUM_HOSTS


def test_store_reads_start_no_spark_jobs(spark, tmp_path):
    store, _ = _crawl(spark, tmp_path, 1)
    recrawl(spark, store, [fx.py_seed_url(0, NUM_HOSTS)])
    sc = spark.sparkContext
    with _job_group(sc, "store-reads"):
        for table in ("frontier", "visited", "images", "failed", "fetched",
                      "metrics", "recrawl"):
            store.read_upto(table)
            store.read_upto(table, 0)  # empty for all but frontier
        for table in ("frontier", "failed", "fetched", "metrics"):
            store.read_table(1, table)
    assert sc.statusTracker().getJobIdsForGroup("store-reads") == []


def test_epoch_jobs_carry_caller_job_group(spark, tmp_path):
    store = _seeded(spark, tmp_path)
    robots = fx.robots_rules_df(spark, NUM_HOSTS)
    st = spark.sparkContext.statusTracker()
    ungrouped = set(st.getJobIdsForGroup(None))
    with _job_group(spark.sparkContext, "epoch-1"):
        run_epoch(spark, store, 1, _cfg(), robots_rules=robots)
    assert st.getJobIdsForGroup("epoch-1")
    assert not set(st.getJobIdsForGroup(None)) - ungrouped


def test_killed_attempt_temp_files_are_swept(spark, tmp_path, monkeypatch):
    _, want = _crawl(spark, tmp_path / "clean", 2)

    build = fetch_op.fetch_write_plan

    def leaving_temp_files(selected, dest, **kw):
        plan = build(selected, dest, **kw)
        job = plan.df

        class KilledAttempt:
            """The real job, plus the temp file a killed attempt leaves."""

            def collect(self):
                files = job.collect()
                (Path(dest) / ".part-00000-0.inprogress").write_bytes(b"partial")
                return files

        plan.df = KilledAttempt()
        return plan

    monkeypatch.setattr(fetch_op, "fetch_write_plan", leaving_temp_files)
    _, got = _crawl(spark, tmp_path / "killed", 2)
    assert not list((tmp_path / "killed" / "fetched").rglob("*.inprogress"))
    for a, b in zip(got, want):
        a, b = dict(a), dict(b)
        a.pop("wall_ms"), b.pop("wall_ms")
        assert a == b  # selected, fetched_ok, ... per epoch


def test_missing_committed_partition_raises(spark, tmp_path):
    store, _ = _crawl(spark, tmp_path, 1)
    # the commit paths that write no rows still leave a directory:
    # a recrawl that tombstones nothing and a zero-row epoch
    assert recrawl(spark, store, ["https://elsewhere.example/x"])["recrawled"] == 0
    e = store.latest_epoch() + 1
    zero = run_epoch(spark, store, e, _cfg(epoch_budget=0))
    assert zero["selected"] == 0
    for table in ("frontier", "visited", "images", "failed", "fetched",
                  "metrics", "recrawl"):
        store.read_upto(table).count()

    shutil.rmtree(store.table_path(1, "frontier"))
    with pytest.raises(FileNotFoundError, match=r"frontier epoch=1"):
        store.read_upto("frontier")
    with pytest.raises(FileNotFoundError, match=r"frontier epoch=1"):
        run_epoch(spark, store, e + 1, _cfg())
