"""Python-side payload writer parity (SPARK_GRAFT_PAYLOAD_WRITER=arrow).

The fused fetch+write path (fetch.fetch_write_plan) streams each task's
batches straight into a pyarrow ParquetWriter instead of returning the
payload to the JVM for DataFrameWriter.parquet. These tests pin that
the two writers are interchangeable: identical read-back rows
(payload bytes included), identical read schema, overwrite semantics,
and a full crawl whose visited/images/failed state is byte-identical
either way.
"""

import os

import pytest
from pyspark.sql import functions as F

from crawler_spark import fixtures as fx
from crawler_spark.epoch import EpochConfig, run_crawl
from crawler_spark.operators import fetch as fetch_op
from crawler_spark.state.snapshots import PAYLOAD_WRITE_OPTIONS, SnapshotStore


def _selected(spark, n=600):
    # include FAIL_MOD multiples so status!=200 null-payload rows are in
    # the parquet, plus an api job for the POST method column
    rows = [
        (
            f"https://h{i % 7}.example/{'api' if i % 11 == 0 else 'page'}/{i}",
            i * fx.FAIL_MOD if i % 13 == 0 else i * 2654435761 % (1 << 62),
            f"h{i % 7}.example",
            i % 4,
            None,
            "api" if i % 11 == 0 else "detail",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "url_canon string, url_hash long, host string, depth int,"
        " parent_url string, job_type string",
    )


def test_arrow_writer_read_back_identical(spark, tmp_path):
    sel = _selected(spark)

    jvm_dir = tmp_path / "jvm"
    w = fetch_op.fetch(sel, salt_buckets=4).write.mode("overwrite")
    for k, v in PAYLOAD_WRITE_OPTIONS.items():
        w = w.option(k, v)
    w.parquet(str(jvm_dir))

    arrow_dir = tmp_path / "arrow"
    manifest = fetch_op.fetch_write_plan(
        sel, str(arrow_dir), salt_buckets=4
    ).collect()
    assert sum(r.rows for r in manifest) == sel.count()
    for r in manifest:
        assert os.path.exists(r.file) and r.file.endswith(".parquet")

    a = spark.read.parquet(str(jvm_dir))
    b = spark.read.parquet(str(arrow_dir))
    # schema parity (names + types, in fetch-schema order)
    sort = lambda df: df.select(sorted(df.columns))
    assert sort(a).schema == sort(b).schema
    ra = sorted(sort(a).collect(), key=lambda r: r.url_hash)
    rb = sorted(sort(b).collect(), key=lambda r: r.url_hash)
    assert ra == rb  # full-row equality, payload bytes included
    # both failure (null payload) and POST rows made it through
    assert any(r.status != 200 and r.bytes is None for r in rb)
    assert any(r.method == "POST" for r in rb)


def test_arrow_writer_overwrite(spark, tmp_path):
    sel = _selected(spark, n=150)
    dest = tmp_path / "out"
    fetch_op.fetch_write_plan(sel, str(dest), salt_buckets=2).collect()
    first = set(os.listdir(dest))
    # second run overwrites: no stale files, row count stays exact
    fetch_op.fetch_write_plan(sel, str(dest), salt_buckets=2).collect()
    assert set(os.listdir(dest)) <= first
    assert spark.read.parquet(str(dest)).count() == 150
    assert not [f for f in os.listdir(dest) if ".inprogress" in f]
    # a stale temp from a killed attempt must be invisible to the scan
    # (dot-prefixed names are skipped by Spark's file listing)
    (dest / ".part-99999-0.inprogress").write_bytes(b"garbage")
    assert spark.read.parquet(str(dest)).count() == 150


def test_building_plan_leaves_partition_intact(spark, tmp_path):
    """The destination is cleared when the plan runs, not when it is
    built: an unexecuted plan leaves the existing partition readable."""
    sel = _selected(spark, n=150)
    dest = tmp_path / "out"
    fetch_op.fetch_write_plan(sel, str(dest), salt_buckets=2).collect()
    before = sorted(os.listdir(dest))
    plan = fetch_op.fetch_write_plan(sel.limit(10), str(dest), salt_buckets=2)
    assert sorted(os.listdir(dest)) == before
    assert spark.read.parquet(str(dest)).count() == 150
    plan.collect()
    assert spark.read.parquet(str(dest)).count() == 10


def test_arrow_writer_empty_input(spark, tmp_path):
    """Zero-row epoch: no task writes a file; the driver-side fallback
    materializes a schema-carrying empty parquet so the scan works."""
    dest = tmp_path / "empty"
    files = fetch_op.fetch_write_plan(
        _selected(spark, n=0), str(dest), salt_buckets=2
    ).collect()
    assert files == []
    fetch_op.write_empty_payload(str(dest))
    df = spark.read.parquet(str(dest))
    assert df.count() == 0
    assert set(fetch_op.FETCH_COLS) == set(df.columns)


def test_crawl_state_identical_across_writers(spark, tmp_path, monkeypatch):
    """2-epoch crawl, arrow vs jvm writer: every state table identical."""
    seeds = fx.seeds_df(spark, 120, 10)
    robots = fx.robots_rules_df(spark, 10)
    cfg = EpochConfig(num_buckets=8, epoch_seconds=10.0, epoch_budget=300)

    monkeypatch.setenv("SPARK_GRAFT_PAYLOAD_WRITER", "jvm")
    s_jvm = SnapshotStore(spark, tmp_path / "jvm")
    run_crawl(spark, s_jvm, seeds, cfg, num_epochs=2, robots_rules=robots)

    monkeypatch.setenv("SPARK_GRAFT_PAYLOAD_WRITER", "arrow")
    s_arr = SnapshotStore(spark, tmp_path / "arrow")
    run_crawl(spark, s_arr, seeds, cfg, num_epochs=2, robots_rules=robots)

    def rowset(store, table):
        return {
            tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
            for r in store.read_upto(table).collect()
        }

    for table in ("visited", "images", "failed", "metrics", "frontier"):
        assert rowset(s_jvm, table) == rowset(s_arr, table), table

def test_fetch_partitions_knob_parity(spark, tmp_path):
    """EpochConfig.fetch_partitions changes only the task layout of the
    fetch stage (file count == task count), never the result set —
    the exec-mode balance lever (BASELINE.md r5) is semantics-free."""
    seeds = fx.seeds_df(spark, 120, 10)
    robots = fx.robots_rules_df(spark, 10)

    stores = {}
    for name, parts in (("default", None), ("fine", 24)):
        cfg = EpochConfig(
            num_buckets=8, epoch_seconds=10.0, epoch_budget=300,
            fetch_partitions=parts,
        )
        stores[name] = SnapshotStore(spark, tmp_path / name)
        run_crawl(
            spark, stores[name], seeds, cfg, num_epochs=2,
            robots_rules=robots,
        )

    def rowset(store, table):
        return {
            tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
            for r in store.read_upto(table).collect()
        }

    for table in ("visited", "images", "failed", "metrics", "frontier"):
        assert rowset(stores["default"], table) == rowset(
            stores["fine"], table
        ), table
    # the knob actually took effect: one payload file per fetch task
    fine_files = [
        f
        for f in os.listdir(tmp_path / "fine" / "fetched" / "epoch=1")
        if f.endswith(".parquet")
    ]
    assert len(fine_files) <= 24  # empty tasks write no file
    default_files = [
        f
        for f in os.listdir(tmp_path / "default" / "fetched" / "epoch=1")
        if f.endswith(".parquet")
    ]
    assert len(fine_files) > len(default_files)
