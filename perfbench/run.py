#!/usr/bin/env python3
"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

Builds the workload's inputs from ``--seed`` (perfbench/gen.py), starts the
engine's Spark session on ``local[4]``, sets up, measures for ``--seconds``
and checks the outputs. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json; with ``--trace 1`` the
run records spans and status-store counters and reports the per-layer ones,
and also writes its spans and workload detail to
``.perfbench_runs/<workload>-seed<seed>.json``.

Everything the run writes stays inside the checkout: a per-run directory
under ``.perfbench_work/`` (removed at exit) and the engine's own store
directory ``spark-warehouse/`` (this run's stores are removed at exit).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4

END_TO_END_UNITS = {"setup_s": "s", "window_s": "s", "ingest_s": "s"}
PER_LAYER_UNITS = {
    "session.start_s": "s", "session.first_job_s": "s", "session.peak_rss_mb": "MiB",
    "op.query_p50_s": "s", "op.ingest_rows_per_s": "1/s",
    "engine.self_s": "s", "spark.action_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.core_busy": "ratio",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.catalyst_analysis_ms": "ms", "spark.catalyst_optimization_ms": "ms",
    "spark.catalyst_planning_ms": "ms",
    "sources.input_bytes": "bytes", "sources.input_records": "count",
    "sources.reads_per_input_row": "ratio",
    "trace.measured_s": "s", "trace.overhead_s": "s",
}


class Setup:
    """Times the named steps of a workload's set-up."""

    def __init__(self):
        self.steps: dict[str, float] = {}

    @contextmanager
    def step(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.steps[name] = self.steps.get(name, 0.0) + time.perf_counter() - t0


def _isolate(work: str) -> None:
    """Point every temp and scratch location of this process, its Python
    workers and its JVM into ``work``."""
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = work
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"


def _remove_stores(tag: str) -> None:
    """Remove the engine stores this run built (their names carry ``tag``)."""
    wh = os.path.join(ROOT, "spark-warehouse")
    if not os.path.isdir(wh):
        return
    for family in os.listdir(wh):
        fdir = os.path.join(wh, family)
        if os.path.isdir(fdir):
            for name in os.listdir(fdir):
                if tag in name:
                    shutil.rmtree(os.path.join(fdir, name), ignore_errors=True)


def _stop_spark(spark) -> None:
    """Stop the session, shut the py4j gateway down and wait for the JVM
    (and with it the Python worker daemons) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def end_to_end(res, setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "window_s": res.measured_s,
        "ingest_s": statistics.median(res.ingest_s),
    }


def per_layer(res, session: dict, rss_mb: float) -> dict:
    """Totals of the measured phase (see README.md for each metric)."""
    t = res.layer
    return {
        "session.start_s": session["session.start"],
        "session.first_job_s": session["session.first_job"],
        "session.peak_rss_mb": rss_mb,
        "op.query_p50_s": statistics.median(res.query_s),
        "op.ingest_rows_per_s": res.ingest_rows / res.ingest_wall_s,
        "engine.self_s": t["engine_self_s"],
        "spark.action_s": t["spark_action_s"],
        "spark.jobs": t["jobs"],
        "spark.stages": t["stages"],
        "spark.tasks": t["tasks"],
        "spark.executor_run_s": t["executor_run_s"],
        "spark.executor_cpu_s": t["executor_cpu_s"],
        "spark.core_busy": t["executor_run_s"] / (res.measured_s * CORES),
        "spark.shuffle_read_bytes": t["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": t["shuffle_write_bytes"],
        "spark.spill_bytes": t["spill_bytes"],
        "spark.catalyst_analysis_ms": t["catalyst_analysis_ms"],
        "spark.catalyst_optimization_ms": t["catalyst_optimization_ms"],
        "spark.catalyst_planning_ms": t["catalyst_planning_ms"],
        "sources.input_bytes": t["input_bytes"],
        "sources.input_records": t["input_records"],
        "sources.reads_per_input_row": t["input_records"] / res.input_rows,
        "trace.measured_s": res.measured_s,
        "trace.overhead_s": t["overhead_s"],
    }


def result_line(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> str:
    """The final stdout line: every metric of ``units``, by name, with its unit."""
    missing = sorted(set(units) - set(values))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    })


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "fest_vibes_ai_etl_spark")):
        print(f"engine package fest_vibes_ai_etl_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import workloads
    from spans import Tracer, peak_rss_mb

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    tag = f"pb_{args.workload}_s{args.seed}_p{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", tag)
    _isolate(work)
    spark = None
    try:
        setup = Setup()
        t_setup = time.perf_counter()
        from fest_vibes_ai_etl_spark.session import get_spark

        with setup.step("session.start"):
            spark = get_spark("perfbench", master=f"local[{CORES}]")
            spark.sparkContext.setLogLevel("ERROR")
        with setup.step("session.first_job"):
            spark.range(1).count()
        tracer = Tracer(bool(args.trace), spark)
        ctx = workloads.Ctx(spark=spark, tracer=tracer, work=work, tag=tag,
                            seed=args.seed, seconds=args.seconds)
        t_workload = time.perf_counter()
        res = workloads.WORKLOADS[args.workload](ctx, setup)
        # set-up: session start and first job, then the workload's own
        # steps (generation, index builds)
        setup_s = (t_workload - t_setup) + sum(
            v for k, v in setup.steps.items() if not k.startswith("session."))
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        rss_mb = peak_rss_mb([os.getpid(), jvm_pid])
        summary = {"workload": args.workload, "seed": args.seed, "input": res.props,
                   "setup_steps_s": setup.steps, "ingest_s": res.ingest_s,
                   "query_s": res.query_s, "problems": ctx.problems[:20]}
        if args.trace:
            values, units = per_layer(res, setup.steps, rss_mb), PER_LAYER_UNITS
            summary.update(self_s_by_layer=res.layer["self_s_by_layer"],
                           detail=res.detail)
            tracer.dump(os.path.join(ROOT, ".perfbench_runs",
                                     f"{args.workload}-seed{args.seed}.json"),
                        {**summary, "counters": res.layer})
        else:
            values, units = end_to_end(res, setup_s), END_TO_END_UNITS
        print(json.dumps(summary, default=str), file=sys.stderr)
        line = result_line(ctx.failed == 0, ctx.attempted, ctx.failed, values, units)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        _remove_stores(tag)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
