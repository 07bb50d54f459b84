"""Traced run: wrap each layer's public calls and fold spans per epoch.

Each wrapper sits on a module attribute or a ``SnapshotStore`` /
``BloomSeenSet`` / ``CuckooSeenSet`` method, so the program itself is
unchanged.  ``run_epoch`` itself is spanned by the runner, as the root
span of its epoch.  Measurements the wrappers add themselves (listing a
DataFrame's input files, sizing a written partition) run after the
wrapped call's span has closed, in ``trace.after`` spans, which count as
children of the epoch and so stay out of both the layer's time and the
epoch's self time.
"""

from __future__ import annotations

import inspect
import os
import statistics
from pathlib import Path

from . import eventlog
from .trace import Tracer, self_time

SNAPSHOT_TABLES = ("failed", "frontier", "metrics")


def dir_bytes(path) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def instrument(tracer: Tracer) -> None:
    """Wrap every layer boundary the per-layer metrics are read from."""
    from crawler_spark import epoch, session
    from crawler_spark.operators import admission, fetch, schedule
    from crawler_spark.state.bloom import BloomSeenSet
    from crawler_spark.state.cuckoo import CuckooSeenSet
    from crawler_spark.state.snapshots import SnapshotStore

    w = tracer.wrap
    w(session, "get_spark", "session.get_spark")
    for fn in ("run_crawl", "recrawl", "emit_links", "dedup_candidates"):
        w(epoch, fn, f"epoch.{fn}")

    def after_read_upto(sp, df, args, kwargs):
        sp.attrs["files"] = len(df.inputFiles())

    def write_args(args, kwargs):
        """(store, epoch, table name) of a ``write_table`` call."""
        bound = write_sig.bind(*args, **kwargs).arguments
        return bound["self"], bound["epoch"], bound["name"]

    def after_write_table(sp, _res, args, kwargs):
        store, ep, name = write_args(args, kwargs)
        sp.attrs["bytes"] = dir_bytes(store.table_path(ep, name))

    def after_commit(sp, _res, args, kwargs):
        sp.attrs["manifest_bytes"] = args[0].manifest_path.stat().st_size

    def after_save_filter(sp, _res, args, kwargs):
        blob = inspect.signature(SnapshotStore.save_seen_filter).bind(*args, **kwargs)
        sp.attrs["blob_bytes"] = len(blob.arguments["blob"])

    w(SnapshotStore, "read_upto", "snapshots.read_upto", after=after_read_upto)
    write_sig = inspect.signature(SnapshotStore.write_table)
    w(SnapshotStore, "write_table", after=after_write_table,
      name_of=lambda a, k: f"snapshots.write_table.{write_args(a, k)[2]}")
    w(SnapshotStore, "commit_epoch", "snapshots.commit_epoch", after=after_commit)
    w(SnapshotStore, "read_table", "snapshots.read_table")
    w(SnapshotStore, "recrawl_hashes", "snapshots.recrawl_hashes")
    w(SnapshotStore, "save_seen_filter", "seen_filter.save", after=after_save_filter)
    w(SnapshotStore, "load_seen_filter", "seen_filter.load")

    w(admission, "admit", "admission.admit")
    w(admission, "retry_candidates", "admission.retry_candidates")
    w(schedule, "with_slots", "schedule.with_slots")
    w(schedule, "select_epoch", "schedule.select_epoch")
    # run_epoch calls these through names bound in the epoch module
    w(epoch, "job_type", "schedule.job_type")
    w(epoch, "priority_score", "schedule.priority_score")

    def after_fetch_plan(sp, plan, args, kwargs):
        collect = plan.collect

        def traced_collect():
            with tracer.span("fetch.execute") as ex:
                rows = collect()
            with tracer.span("trace.after"):
                ex.attrs["bytes"] = sum(os.path.getsize(r["file"]) for r in rows)
            return rows

        plan.collect = traced_collect

    w(fetch, "fetch_write_plan", "fetch.plan", after=after_fetch_plan)
    w(fetch, "write_empty_payload", "fetch.write_empty_payload")

    w(BloomSeenSet, "build", "bloom.build")
    w(BloomSeenSet, "union_inplace", "bloom.union")
    w(CuckooSeenSet, "build", "cuckoo.build")
    w(CuckooSeenSet, "merge_from", "cuckoo.merge")
    w(CuckooSeenSet, "delete", "cuckoo.delete")


def _sum_dur(spans, name) -> float:
    return sum(s.dur for s in spans if s.name == name)


def epoch_layers(tracer: Tracer, rec: dict, log: eventlog.EventLog) -> dict:
    """Per-layer numbers of one epoch record (its ``run_epoch`` span,
    stats and process-tree window)."""
    ep_span, stats = rec["span"], rec["stats"]
    desc = tracer.descendants(ep_span)
    by = lambda n: [s for s in desc if s.name == n]  # noqa: E731
    out = {
        "epoch.self_s": self_time(ep_span, tracer.children(ep_span)),
        "snapshots.read_upto_s": _sum_dur(desc, "snapshots.read_upto"),
        "snapshots.read_upto_files": sum(s.attrs.get("files", 0) for s in by("snapshots.read_upto")),
        "snapshots.commit_epoch_s": _sum_dur(desc, "snapshots.commit_epoch"),
        "snapshots.manifest_bytes": max((s.attrs.get("manifest_bytes", 0)
                                         for s in by("snapshots.commit_epoch")), default=0),
        "admission.plan_s": _sum_dur(desc, "admission.admit") + _sum_dur(desc, "admission.retry_candidates"),
        "admission.admit_ratio": stats["admitted"] / stats["candidates"] if stats["candidates"] else 0.0,
        "schedule.plan_s": sum(_sum_dur(desc, n) for n in (
            "schedule.with_slots", "schedule.select_epoch",
            "schedule.job_type", "schedule.priority_score")),
        "schedule.selected_ratio": stats["selected"] / stats["admitted"] if stats["admitted"] else 0.0,
        "bloom.build_s": _sum_dur(desc, "bloom.build"),
        "bloom.build_calls": len(by("bloom.build")),
        "cuckoo.build_s": _sum_dur(desc, "cuckoo.build"),
        "cuckoo.delete_s": _sum_dur(desc, "cuckoo.delete"),
        "seen_filter.blob_bytes": sum(s.attrs.get("blob_bytes", 0) for s in by("seen_filter.save")),
        "proc.cores_used": rec["cores"],
    }
    for t in SNAPSHOT_TABLES:
        spans = by(f"snapshots.write_table.{t}")
        out[f"snapshots.write_table_s.{t}"] = sum(s.dur for s in spans)
        out[f"snapshots.bytes_written.{t}"] = sum(s.attrs.get("bytes", 0) for s in spans)

    execs = by("fetch.execute")
    out["fetch.execute_s"] = sum(s.dur for s in execs)
    out["fetch.bytes_written"] = sum(s.attrs.get("bytes", 0) for s in execs)
    fetch_jobs = [j for s in execs for j in log.jobs_between(s.start, s.end)]
    fetch_stages = log.stages_of(fetch_jobs)
    udf = eventlog.summarize([st for st in fetch_stages if st.is_udf])
    up = eventlog.summarize([st for st in fetch_stages if not st.is_udf])
    out["fetch.udf_task_s"] = udf["task_s"]
    out["fetch.upstream_task_s"] = up["task_s"]
    out["fetch.task_skew"] = udf["task_skew"]

    jobs = log.jobs_between(ep_span.start, ep_span.end)
    tot = eventlog.summarize(log.stages_of(jobs))
    out["epoch.spark_jobs"] = len(jobs)
    out["spark.tasks"] = tot["tasks"]
    out["spark.shuffle_write_bytes"] = tot["shuffle_write_bytes"]
    out["spark.shuffle_read_bytes"] = tot["shuffle_read_bytes"]
    out["spark.spill_bytes"] = tot["spill_bytes"]
    out["spark.gc_s"] = tot["gc_s"]
    out["spark.executor_cpu_s"] = tot["cpu_s"]
    return out


def per_layer_values(tracer: Tracer, epochs: list[dict], log: eventlog.EventLog,
                     recrawl: dict | None, peaks_mb: dict, window: dict) -> tuple[dict, list]:
    """(per-layer metric values, per-epoch rows) of a traced run.

    Per-epoch numbers are averaged over the run's epochs; process-tree
    peaks, steal and the recrawl time are whole-window figures.
    """
    per_epoch = [epoch_layers(tracer, r, log) for r in epochs]
    values = {k: statistics.fmean(row[k] for row in per_epoch) for k in per_epoch[0]}
    values.update({
        "epoch.recrawl_s": recrawl["wall_s"] if recrawl else 0.0,
        "proc.jvm_rss_mb": peaks_mb["jvm"],
        "proc.pyworker_rss_mb": peaks_mb["pyworker"],
        "host.steal_pct": window["steal_pct"],
        "trace.epoch_wall_p50_s": statistics.median(r["wall_s"] for r in epochs),
    })
    return values, per_epoch


def find_event_log(log_dir: Path) -> Path:
    logs = sorted(p for p in Path(log_dir).iterdir() if p.is_file())
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(logs)}")
    return logs[0]
