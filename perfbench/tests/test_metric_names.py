"""The metrics the benchmark prints are the ones BENCHMARK.json declares."""

import json
from pathlib import Path

import pytest

from perfbench import eventlog, layers, run, workloads
from perfbench.trace import Tracer

ROOT = Path(__file__).resolve().parents[2]
DATA = Path(__file__).parent / "data" / "eventlog_small.jsonl"


@pytest.fixture(scope="module")
def bench():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_benchmark_json_names_the_workloads(bench):
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    assert [(w["name"], w["why"]) for w in bench["workloads"]] \
        == [(w.name, w.why) for w in workloads.WORKLOADS.values()]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def _epochs():
    stats = {"candidates": 10, "admitted": 8, "selected": 4, "fetched_ok": 3,
             "fetched_fail": 1, "seen_filter": None}
    return [{"epoch": e, "wall_s": 2.0 + e, "cpu_s": 5.0, "cores": 2.5, "stats": stats}
            for e in (1, 2, 3)]


def test_untraced_run_prints_every_end_to_end_metric(bench):
    setup = {"setup_s": 1.5}
    values = run.end_to_end(setup, _epochs(), store_bytes=9000, peak_mb=100.0)
    assert set(values) == {m["name"] for m in bench["end_to_end"]}
    out = run.result_metrics(values, bench["end_to_end"])
    assert all(v["value"] > 0 for v in out.values())
    assert out["epoch_wall_late_p50_s"]["value"] == 4.5
    assert out["cpu_s_per_krow"] == {"value": 15.0 / 9 * 1000, "unit": "s/krow"}


def test_traced_run_prints_every_per_layer_metric(bench):
    log = eventlog.parse(DATA)
    tr = Tracer()
    epochs = _epochs()
    t0 = log.jobs[0].submit_s - 1
    for i, rec in enumerate(epochs):
        with tr.span("epoch.run_epoch", root=True) as sp:
            pass
        sp.start, sp.end = t0 + 100 * i, t0 + 100 * i + 50
        rec["span"] = sp
    values, per_epoch = layers.per_layer_values(
        tr, epochs, log, None, {"jvm": 1.0, "pyworker": 2.0}, {"steal_pct": 0.5})
    assert len(per_epoch) == 3
    assert set(values) == {m["name"] for m in bench["per_layer"]}
    out = run.result_metrics(values, bench["per_layer"])
    assert out["epoch.spark_jobs"]["value"] == pytest.approx(2 / 3)
    assert out["schedule.selected_ratio"]["value"] == 0.5
