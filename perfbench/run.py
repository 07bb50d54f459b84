#!/usr/bin/env python3
"""Multi-epoch crawl benchmark.

    python3 perfbench/run.py --workload crawl_long --seed 1 --seconds 35 --trace 0

Runs one workload in this process on ``local[<usable CPUs>]``: set-up
(Spark session, seed frontier commit), the measured epochs, then the
correctness gate outside the timed window.  The last
stdout line is the result object; ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` a separately traced run's per-layer metrics, each
by the names and units ``BENCHMARK.json`` declares.
The epoch schedule is fixed per workload, so every run does the same
work; ``--seconds`` is the nominal length of the measured window and is
recorded, not used to cut the crawl short.  Everything the run writes
stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DRIVER_HEAP = "4g"
STOP_TIMEOUT_S = 60  # how long the JVM and its workers get to exit


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=35)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop Spark, then end its JVM and wait until every process this
    run started (the JVM and the Python workers under it) has exited."""
    import signal

    from pyspark import SparkContext

    from perfbench import proctree

    spark.stop()
    # once the JVM exits its descendants are re-parented away from this
    # process, so take the list of what to wait for first
    started = [p.pid for p in proctree.tree() if p.pid != os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + STOP_TIMEOUT_S
    while rest := proctree.running(started):
        if time.time() > deadline:
            for pid in rest:
                os.kill(pid, signal.SIGKILL)
        time.sleep(0.1)


class Run:
    def __init__(self, args, w, work: Path):
        from perfbench import proctree
        from perfbench.trace import Tracer

        self.args, self.w, self.work = args, w, work
        self.ncpu = proctree.cpu_count()
        self.tracer = Tracer(enabled=bool(args.trace))
        self.sampler = proctree.Sampler()
        self.spark = self.store = self.robots = None
        self.epochs: list[dict] = []
        self.recrawl: dict | None = None
        self.java_version = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    # -- set-up ----------------------------------------------------------------

    def conf(self) -> dict:
        conf = {
            "spark.driver.memory": DRIVER_HEAP,
            "spark.local.dir": str(self.work / "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.work / "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def setup(self, urls: list[str]) -> dict:
        """Start the Spark session and commit the seed frontier, as a
        fresh crawl process does: the commit is the first Spark job, so it
        pays the JVM's cold start, and ``setup_s`` is the sum of both."""
        from crawler_spark import epoch, session
        from crawler_spark import fixtures as fx
        from crawler_spark.state.snapshots import SnapshotStore

        t0 = time.time()
        with self.tracer.span("setup.session"):
            self.spark = session.get_spark(
                self.ncpu, app_name="perfbench", extra_conf=self.conf())
        t1 = time.time()
        with self.tracer.span("setup.seed_commit"):
            self.robots = fx.robots_rules_df(self.spark, self.w.num_hosts)
            self.store = SnapshotStore(self.spark, self.work / "store")
            seeds = self.spark.createDataFrame([(u,) for u in urls], "url string")
            epoch.run_crawl(self.spark, self.store, seeds, self.w.config(),
                            num_epochs=0, robots_rules=self.robots)
        t2 = time.time()
        self.java_version = self.spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        return {"session_s": t1 - t0, "seed_commit_s": t2 - t1, "setup_s": t2 - t0}

    # -- measured crawl --------------------------------------------------------

    def run_epoch(self, cfg) -> bool:
        from crawler_spark import epoch
        from perfbench import proctree

        e = self.store.latest_epoch() + 1
        self.attempted += 1
        a = self.sampler.mark()
        try:
            with self.tracer.span("epoch.run_epoch", root=True, epoch=e) as sp:
                stats = epoch.run_epoch(self.spark, self.store, e, cfg,
                                        robots_rules=self.robots)
        except Exception as exc:  # the crawl cannot go on; report and stop
            self.failed += 1
            self.errors.append(f"epoch {e}: {type(exc).__name__}: {exc}")
            return False
        b = self.sampler.mark()
        win = proctree.window(a, b)
        self.epochs.append({"epoch": e, "wall_s": win["wall_s"], "cpu_s": win["cpu_s"],
                            "cores": win["cores"], "stats": stats, "span": sp})
        return True

    def crawl(self, urls: list[str]) -> None:
        from crawler_spark import epoch
        from perfbench import workloads

        cfg = self.w.config()
        for _ in range(self.w.epochs):
            if not self.run_epoch(cfg):
                return
        if not self.w.recrawl_urls:
            return
        self.attempted += 1
        t = time.time()
        try:
            with self.tracer.span("recrawl", root=True):
                info = epoch.recrawl(self.spark, self.store,
                                     workloads.recrawl_list(self.w, urls))
        except Exception as exc:
            self.failed += 1
            self.errors.append(f"recrawl: {type(exc).__name__}: {exc}")
            return
        self.recrawl = {**info, "wall_s": time.time() - t}
        for _ in range(self.w.epochs_after):
            if not self.run_epoch(cfg):
                return

    # -- correctness -----------------------------------------------------------

    def visited_digest(self) -> dict | None:
        """The visited set, read while Spark is up; None if the crawl stopped."""
        from perfbench import workloads

        if len(self.epochs) != self.w.total_epochs:
            return None
        rows = self.store.read_upto("visited").select("url_hash").collect()
        return {"visited_n": len(rows),
                "visited_sha": workloads.hash_digest(r[0] for r in rows)}

    def check(self, got: dict, expected: dict) -> None:
        """Compare per-epoch (selected, fetched_ok) and the visited digest;
        every mismatching epoch counts as a failed operation."""
        want_all = expected["per_epoch"] + [[0, 0]] * (len(self.epochs) - len(expected["per_epoch"]))
        bad = 0
        for rec, want in zip(self.epochs, want_all):
            have = [rec["stats"]["selected"], rec["stats"]["fetched_ok"]]
            if have != want:
                bad += 1
                self.errors.append(f"epoch {rec['epoch']}: (selected, fetched_ok) {have}, "
                                   f"simulator {want}")
        if (got["visited_n"], got["visited_sha"]) != (expected["visited_n"], expected["visited_sha"]):
            self.errors.append(f"visited set differs from the simulator's "
                               f"({got['visited_n']} vs {expected['visited_n']} rows)")
            bad = max(bad, 1)
        self.failed += bad

    def gate(self, visited: dict | None, exp: dict) -> None:
        """Compare with the simulator; every mismatch is a failed operation."""
        if visited is None:
            return  # the crawl stopped early; the failure is already counted
        self.check(visited, exp)
        if self.recrawl is not None and self.recrawl["recrawled"] != exp["recrawled"]:
            self.failed += 1
            self.errors.append(f"recrawl tombstoned {self.recrawl['recrawled']} URLs, "
                               f"simulator {exp['recrawled']}")


def reference(w, seed: int, urls: list[str]) -> dict:
    """The simulator's expected outputs, cached per workload definition
    and seed (the simulator takes a few seconds at these sizes)."""
    from perfbench import workloads

    path = ROOT / ".perfbench" / "cache" / f"{w.key(seed)}.json"
    if path.exists():
        return json.loads(path.read_text())
    exp = workloads.simulate_expected(w, urls)
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(exp))
    return exp


def result_metrics(values: dict, declared: list[dict]) -> dict:
    """``{name: {"value", "unit"}}`` for exactly the ``declared`` metrics."""
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in declared}


def end_to_end(setup: dict, epochs: list[dict], store_bytes: int, peak_mb: float) -> dict:
    walls = [r["wall_s"] for r in epochs]
    ok = sum(r["stats"]["fetched_ok"] for r in epochs)
    late = walls[len(walls) // 2:]
    return {
        "setup_s": setup["setup_s"],
        "crawl_rows_per_s": ok / sum(walls),
        "epoch_wall_p50_s": statistics.median(walls),
        "epoch_wall_late_p50_s": statistics.median(late),
        "cpu_s_per_krow": sum(r["cpu_s"] for r in epochs) / (ok / 1000.0),
        "peak_rss_mb": peak_mb,
        "store_bytes_per_row": store_bytes / ok,
    }


def telemetry(run: Run, window: dict) -> dict:
    import pyarrow
    import pyspark

    from perfbench import proctree

    return {
        "nproc": run.ncpu,
        "mem_total_mb": round(proctree.mem_total_mb()),
        "driver_heap": DRIVER_HEAP,
        "steal_pct": window["steal_pct"],
        "window_cores": window["cores"],
        "store_dir": str(run.store.root) if run.store else None,
        "versions": {
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "java": run.java_version,
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "crawler_spark" / "epoch.py").is_file():
        print(f"perfbench: no crawler_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    w = workloads.WORKLOADS[args.workload]

    work = ROOT / ".perfbench" / "work" / f"{w.name}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp", "eventlog"):
        (work / d).mkdir(parents=True)
    # Python workers import the program from the checkout and keep their
    # temp files in it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")

    try:
        return measure(args, w, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, w, work: Path) -> int:
    """Set up, crawl, check and print the result; returns the exit code."""
    from perfbench import layers, proctree, workloads

    t_start = time.time()
    run = Run(args, w, work)
    urls = workloads.seed_urls(w, args.seed)
    if args.trace:
        layers.instrument(run.tracer)
    try:
        with run.sampler:
            setup = run.setup(urls)
            run.sampler.reset_peaks()
            a = run.sampler.mark()
            run.crawl(urls)
            b = run.sampler.mark()
            peaks = run.sampler.peaks_mb()
            store_bytes = layers.dir_bytes(run.store.root)
            visited = run.visited_digest()
    finally:
        run.tracer.restore()
        if run.spark is not None:
            stop_spark(run.spark)
    window = proctree.window(a, b)
    for rec in run.epochs:
        if rec["cores"] > run.ncpu * 1.02 + 0.05:
            raise RuntimeError(f"epoch {rec['epoch']}: process tree used {rec['cores']:.2f} "
                               f"cores on {run.ncpu} CPUs; CPU accounting is broken")
    run.gate(visited, reference(w, args.seed, urls))

    tele = telemetry(run, window)
    summary = {
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "seconds_nominal": args.seconds, "window_s": window["wall_s"],
        "setup": setup, "recrawl": run.recrawl, "errors": run.errors, "peaks_mb": peaks,
        "run_s": time.time() - t_start,
        "op_fail_frac": run.failed / max(1, run.attempted),
        "epochs": [{k: v for k, v in r.items() if k != "span"} for r in run.epochs],
        "telemetry": tele,
    }
    values = {}
    if run.epochs:
        values = end_to_end(setup, run.epochs, store_bytes, peaks["total"])
    if args.trace:
        summary["spans"] = [dataclasses.asdict(sp) for sp in run.tracer.spans]
    if args.trace and run.epochs:
        from perfbench import eventlog

        log = eventlog.parse(layers.find_event_log(work / "eventlog"))
        values, summary["layers_per_epoch"] = layers.per_layer_values(
            run.tracer, run.epochs, log, run.recrawl, peaks, window)
    out_dir = ROOT / ".perfbench" / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / f"{w.name}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps({**summary, "values": values}, indent=1, default=str))

    for r in run.epochs:
        s = r["stats"]
        print(f"epoch {r['epoch']:>2}  wall {r['wall_s']:6.2f}s  cpu {r['cpu_s']:6.1f}s  "
              f"cand {s['candidates']:>7}  sel {s['selected']:>5}  ok {s['fetched_ok']:>5}  "
              f"filter {s['seen_filter']}")
    for e in run.errors:
        print(f"FAIL {e}")
    print(json.dumps({"telemetry": tele, "epochs_sampled": len(run.epochs),
                      "op_fail_frac": summary["op_fail_frac"], "recrawl": run.recrawl}))
    correct = not run.failed and len(run.epochs) == w.total_epochs
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())[
        "per_layer" if args.trace else "end_to_end"]
    result = {
        "correct": correct,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": result_metrics(values, declared) if values else {},
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
