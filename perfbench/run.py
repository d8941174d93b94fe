#!/usr/bin/env python3
"""Benchmark entry point: one workload per process.

    python3 perfbench/run.py --workload api_serve --seed 1 --seconds 10 --trace 0

Builds its inputs from ``--seed``, measures for ``--seconds``, checks the
outputs, and prints as its LAST stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it is a JSON ``detail`` record: the workload's own named metrics,
per-span self times (traced runs), host facts and failure messages.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_START = time.perf_counter()
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

WORKLOADS = ("api_serve", "daily_ingest", "live_ticks")

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
}
PER_LAYER = {
    "prepare_s": "s",
    "execute_s": "s",
    "latency_tail_s": "s",
    "latency_samples": "count",
    "peak_rss_mb": "MB",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "trace.bookkeeping_s": "s",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(common.ROOT, "sport_data_pipeline_spark")):
        print(f"perfbench: package sport_data_pipeline_spark not found under {common.ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, common.ROOT)
    host = common.host_record()
    common.prepare_environment()
    import pyspark

    bench = common.Bench(args.workload, args.seed, args.seconds, bool(args.trace), T_START)
    try:
        if args.workload == "api_serve":
            import w_api as workload
        elif args.workload == "daily_ingest":
            import w_daily as workload
        else:
            import w_live as workload
        res = workload.run(bench)
        peak_rss = bench.peak_rss_mb()
    finally:
        t_close = time.perf_counter()
        bench.close()
    t_end = time.perf_counter()

    span_self = {
        name: {"n": len(v), "median_s": common.median(v), "total_s": sum(v)}
        for name, v in sorted(bench.tracer.self_times().items())
    }
    if args.trace:
        bench.tracer.dump(os.path.join(common.WORK, "spans.jsonl"))
    values = {
        "setup_s": res["setup_s"],
        "latency_p50_s": res["latency_p50_s"],
        "throughput_per_s": res["throughput_per_s"],
        "peak_rss_mb": peak_rss,
        "prepare_s": res["layer"]["prepare_s"],
        "execute_s": res["layer"]["execute_s"],
        "latency_tail_s": res["latency_tail_s"],
        "latency_samples": res["latency_samples"],
        **bench.spark_layer(),
        "trace.bookkeeping_s": bench.tracer.bookkeeping_s,
        "trace.spans": len(bench.tracer.spans),
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {**host, "spark_version": pyspark.__version__, "cpus": common.CPUS,
                 "driver_mem": common.DRIVER_MEM},
        "end_to_end": {k: values[k] for k in END_TO_END},
        "wall_s": {"session": bench.session_s, "setup": res["setup_s"], "after_setup": t_close - T_START - res["setup_s"],
                   "teardown": t_end - t_close},
        "metrics": res["detail"],
        "latency_tail_percentile": res["latency_tail_pct"],
        "span_self_time": span_self,
        "failures": bench.failures,
    }
    wanted = PER_LAYER if args.trace else END_TO_END
    metrics = {k: {"value": values.get(k, 0), "unit": u} for k, u in wanted.items()}
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": max(1, bench.attempted),
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
