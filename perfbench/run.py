#!/usr/bin/env python3
"""The repo benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload api_reads --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: every end-to-end metric of
BENCHMARK.json with ``--trace 0``, every per-layer metric with
``--trace 1``. Lines before it state the run environment and the
figures behind the metrics. The exit code is non-zero when any output
disagrees with its oracle. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402

WORKLOADS = ("ingest_refresh", "api_reads", "api_service", "corpus_curation", "stream_events",
             "stream_curation")

#: end-to-end metric -> unit
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "throughput_per_s": "1/s",
    "batch_s": "s",
}

#: per-layer metric -> unit
PER_LAYER = {
    "trace.overhead_s": "s",
    "python.build_s": "s",
    "spark.pre_job_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.stage_wall_s": "s",
    "sources.readers.self_s": "s",
    "sources.ingest.self_s": "s",
    "sources.snapstore.self_s": "s",
    "sources.snapstore.commits": "count",
    "sources.snapstore.bytes_written_per_input_byte": "ratio",
    "sources.snapstore.live_files": "count",
    "sources.snapstore.scan_bytes_per_read": "ratio",
    "operators.pipeline.self_s": "s",
    "operators.pipeline.days_recomputed_per_day_touched": "ratio",
    "operators.kpi.self_s": "s",
    "plans.scheduler.maintenance_s": "s",
    "plans.scheduler.bytes_rewritten": "bytes",
    "operators.metrics.self_s": "s",
    "operators.anomaly.self_s": "s",
    "operators.forecast.self_s": "s",
    "functions.text.self_s": "s",
    "functions.dedup.self_s": "s",
    "functions.graph.self_s": "s",
    "functions.graph.jobs": "count",
    "functions.dedup.pairs_out": "count",
    "functions.dedup.kept_ratio": "ratio",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.backlog_files_max": "count",
}

#: per-layer metrics read straight off the tracer: name -> (key, layer)
TRACER_METRICS = {
    "python.build_s": ("python_build_s", None),
    "spark.pre_job_s": ("pre_job_s", None),
    "spark.jobs": ("jobs", None),
    "spark.stages": ("stages", None),
    "spark.tasks": ("tasks", None),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", None),
    "spark.shuffle_read_bytes": ("shuffle_read_bytes", None),
    "spark.spill_bytes": ("spill_bytes", None),
    "spark.executor_run_s": ("executor_run_s", None),
    "spark.executor_cpu_s": ("executor_cpu_s", None),
    "spark.stage_wall_s": ("stage_wall_s", None),
    "functions.graph.jobs": ("jobs", "functions.graph"),
    **{f"{layer}.self_s": ("self_s", layer) for layer in (
        "sources.readers", "sources.ingest", "sources.snapstore", "operators.pipeline",
        "operators.kpi", "operators.metrics", "operators.anomaly", "operators.forecast",
        "functions.text", "functions.dedup", "functions.graph")},
}


class Context:
    """What a workload gets: the session, its seed and time budget, the
    tracer, and a private work directory."""

    def __init__(self, spark, args, work):
        from perfbench.trace import Tracer

        self.spark = spark
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.clock = common.Clock(args.seconds, args.ops)
        self.work = work
        self.tracer = Tracer(spark)

    def region(self, name, layer, action=False):
        return self.tracer.region(name, layer, action)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--ops", type=int, default=None,
                   help="stop after this many timed ops instead of after --seconds "
                        "(used by the benchmark's tests for exactly repeatable runs)")
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    if args.ops is not None and args.ops < 1:
        p.error("--ops must be at least 1")
    return args


def end_to_end_metrics(res) -> dict:
    vals = dict(res["e2e"])
    vals["setup_s"] = res["setup_s"]
    return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}


def per_layer_metrics(res, tracer) -> dict:
    vals = {name: tracer.per_op(key, layer) for name, (key, layer) in TRACER_METRICS.items()}
    vals["trace.overhead_s"] = res["overhead_s"]
    vals.update(res.get("layer", {}))
    return {k: {"value": float(vals.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not os.path.isdir(os.path.join(ROOT, "smartdatapipeline_spark")):
        print("perfbench: the library (smartdatapipeline_spark/) is not beside the "
              "benchmark; run from the root of a full checkout", file=sys.stderr)
        return 2
    work = common.reset_dir(os.path.join(common.OUT, "work", args.workload))
    common.pin_environment(work)
    t_start = time.perf_counter()
    spark = common.start_spark(work)
    try:
        ctx = Context(spark, args, work)
        ctx.jvm_start_s = time.perf_counter() - t_start
        env = common.describe_spark(spark)
        print("perfbench env " + json.dumps(env), flush=True)
        mod = importlib.import_module(f"perfbench.workloads.{args.workload}")
        res = mod.run(ctx)
        if args.trace:
            metrics = per_layer_metrics(res, ctx.tracer)
            trace_dir = os.path.join(common.OUT, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl")
            ctx.tracer.write(path, {"env": env, "info": res["info"], "metrics": metrics})
            print(f"perfbench spans {path}", flush=True)
        else:
            metrics = end_to_end_metrics(res)
        info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                "jvm_start_s": round(ctx.jvm_start_s, 3),
                "peak_rss_mb": {k: round(v, 1) for k, v in common.peak_rss_mb(spark).items()},
                "jvm": common.jvm_memory(spark), **res["info"]}
        print("perfbench info " + json.dumps(info, default=str), flush=True)
        for m in res["mismatches"][:20]:
            print(f"perfbench MISMATCH {m}", flush=True)
    finally:
        common.stop_spark(spark)
    import shutil

    shutil.rmtree(work, ignore_errors=True)
    failed = res["failed"]
    print(json.dumps({"correct": failed == 0 and not res["mismatches"],
                      "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if failed == 0 and not res["mismatches"] else 1


if __name__ == "__main__":
    sys.exit(main())
