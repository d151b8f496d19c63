#!/usr/bin/env python3
"""Tracing overhead of one workload: run it untraced, then traced, with
the same seed, and compare the median operation latency.

    python3 perfbench/compare.py --workload cube_roi_requests --seed 1 --seconds 12

Prints one JSON object: both medians, the traced run's overhead against
the untraced one, and the share of the traced loop spent in the tracer's
own bookkeeping (``trace.overhead_share``). One pair of runs is noisy on
a shared host; repeat with other seeds before reading much into it.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900, check=True,
    )
    info, result = p.stdout.strip().splitlines()[-2:]
    return json.loads(info)["perfbench"], json.loads(result)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    a = ap.parse_args()
    plain, _ = _run(a.workload, a.seed, a.seconds, 0)
    traced, layers = _run(a.workload, a.seed, a.seconds, 1)
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "cpus": plain["cpus"],
        "untraced_op_p50_s": plain["op_p50_s"],
        "traced_op_p50_s": traced["op_p50_s"],
        "overhead": traced["op_p50_s"] / plain["op_p50_s"] - 1.0,
        "tracer_share": layers["metrics"]["trace.overhead_share"]["value"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
