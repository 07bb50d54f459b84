#!/usr/bin/env python3
"""Tracing overhead from paired traced / untraced runs.

    python3 perfbench/overhead.py --workload crawl_long --seeds 31,32,33

For each seed it runs the workload untraced and traced, alternating which
goes first, and compares the traced run's ``trace.epoch_wall_p50_s`` with
the untraced run's ``epoch_wall_p50_s`` on the same seed.  It prints one
line per pair and the median overhead.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", "35", "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="comma-separated seeds, one pair each")
    args = p.parse_args()
    ratios = []
    for i, seed in enumerate(int(s) for s in args.seeds.split(",")):
        order = (0, 1) if i % 2 == 0 else (1, 0)
        res = {t: run(args.workload, seed, t) for t in order}
        plain = res[0]["epoch_wall_p50_s"]["value"]
        traced = res[1]["trace.epoch_wall_p50_s"]["value"]
        ratios.append(traced / plain - 1)
        print(f"seed {seed} first={'traced' if order[0] else 'untraced'} "
              f"untraced {plain:.2f}s traced {traced:.2f}s overhead {100 * ratios[-1]:+.1f}%",
              flush=True)
    print(f"{args.workload}: median overhead {100 * statistics.median(ratios):+.1f}% "
          f"over {len(ratios)} pairs")


if __name__ == "__main__":
    main()
