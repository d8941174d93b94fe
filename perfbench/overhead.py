#!/usr/bin/env python3
"""Tracing overhead: the end-to-end difference between traced and untraced
runs of the same workload and seeds.

    python3 perfbench/overhead.py --workload api_serve --seeds 1,2,3 --seconds 10

Runs ``run.py`` with ``--trace 0`` and ``--trace 1`` for each seed
(alternating which goes first), reads the end-to-end values both modes
record in their detail line, and prints per metric the median of the
untraced runs, of the traced runs, and their relative difference, plus the
traced runs' own span bookkeeping time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def detail(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()
    return {**json.loads(out[-2])["detail"], "result": json.loads(out[-1])}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    runs: dict[int, list[dict]] = {0: [], 1: []}
    for i, seed in enumerate(int(s) for s in args.seeds.split(",")):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            runs[trace].append(detail(args.workload, seed, args.seconds, trace))
    report = {}
    for name in runs[0][0]["end_to_end"]:
        off = statistics.median(r["end_to_end"][name] for r in runs[0])
        on = statistics.median(r["end_to_end"][name] for r in runs[1])
        report[name] = {"untraced": off, "traced": on, "relative_difference": (on - off) / off}
    report["trace.bookkeeping_s"] = statistics.median(
        r["result"]["metrics"]["trace.bookkeeping_s"]["value"] for r in runs[1]
    )
    print(json.dumps({"workload": args.workload, "seeds": args.seeds, "overhead": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
