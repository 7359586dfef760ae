"""Benchmark entry point.

    python3 perfbench/run.py --workload api --seed 1 --seconds 6 --trace 0

Runs one workload in one process on ``local[4]`` against the package in
the checkout this file sits in, checks its outputs with DuckDB, and prints
one JSON object as the last line of standard output::

    {"correct": true, "attempted": 212, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones (spans around every layer call plus Spark's status
store per job group). A line before it carries the run's details (sample
counts, per-shape timings, checks). ``--details FILE`` also writes them
to a file. The exit code is 1 when any output check fails, 2 on a usage
or environment error.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sql_database_to_elastic_datalake_spark"

WORKLOADS = ("api", "batch")

#: Every per-layer metric and its unit. A workload that does not reach a
#: layer reports it as 0, so every traced run prints the full set.
PER_LAYER = {
    "session.start_s": "s",
    "scan.input_bytes": "bytes",
    "scan.input_records": "count",
    "scan.records_per_hit": "ratio",
    "sync.build_ms": "ms",
    "sync.jobs": "count",
    "writer.jobs": "count",
    "writer.write_s": "s",
    "writer.bytes_out": "bytes",
    "writer.files_out": "count",
    "resync.input_records_per_doc": "count",
    "resync.bytes_rewritten_per_doc": "bytes",
    "upsert.self_ms": "ms",
    "api.driver_ms": "ms",
    "api.jobs_per_request": "count",
    "api.self_ms": "ms",
    "es_dsl.compile_ms": "ms",
    "es_dsl.compile_calls": "count",
    "es_dsl.cache_hit_ratio": "ratio",
    "es_dsl.self_ms": "ms",
    "es_aggs.self_ms": "ms",
    "es_aggs.jobs": "count",
    "search.build_ms": "ms",
    "search.tables_unioned": "count",
    "search.self_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.core_busy_ratio": "ratio",
    "registry.self_ms": "ms",
    "operators.python_worker_ms": "ms",
    "trace.overhead_pct": "%",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--details", help="also write the run details here")
    return p.parse_args(argv)


def _per_layer_names() -> dict[str, str]:
    from workloads import registry_queries

    names = dict(PER_LAYER)
    for member in registry_queries.MEMBERS:
        for phase in ("build_s", "first_s", "steady_s"):
            names[f"registry.{member}.{phase}"] = "s"
    return names


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found next to "
              f"{os.path.relpath(HERE, os.getcwd())}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        ctx, out, wall = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    correct = all(c["ok"] for c in ctx.checks) and out["failed"] == 0
    if ctx.trace:
        names = _per_layer_names()
        values = {k: out["per_layer"].get(k, 0.0) for k in names}
        metrics = {k: {"value": _num(v), "unit": names[k]} for k, v in values.items()}
    else:
        metrics = {k: {"value": _num(v), "unit": u}
                   for k, (v, u) in out["metrics"].items()}
    details = {"workload": args.workload, "seed": args.seed,
               "seconds": args.seconds, "trace": args.trace,
               "wall_s": wall, "checks": ctx.checks,
               **ctx.details}
    if ctx.trace:
        details["end_to_end"] = {k: v for k, (v, _u) in out["metrics"].items()}
    details["metrics"] = metrics
    if args.details:
        with open(args.details, "w") as f:
            json.dump(details, f, indent=1, sort_keys=True, default=str)
    print(json.dumps({"details": details}, sort_keys=True, default=str))
    print(json.dumps({"correct": correct, "attempted": int(out["attempted"]),
                      "failed": int(out["failed"]), "metrics": metrics}))
    return 0 if correct else 1


def _run(args, work: str):
    """Set up the environment, run the workload, always stop Spark."""
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's launcher, the JVM and the Python workers inherit these: all
    # scratch files stay in the work dir, and workers import the package
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.pop("SPARK_MASTER", None)
    sys.path[:0] = [ROOT, HERE]
    import importlib
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")
    from spans import Tracer
    from workloads import common

    module = importlib.import_module(f"workloads.{args.workload}")
    ctx = common.Ctx(seed=args.seed, seconds=args.seconds,
                     trace=bool(args.trace), work=work)
    if ctx.trace:
        ctx.tracer = Tracer()
        common.install_wrappers(ctx.tracer)
    t0 = time.perf_counter()
    try:
        out = module.run(ctx)
    finally:
        common.stop_session(ctx)
    return ctx, out, time.perf_counter() - t0


def _num(v) -> float:
    v = float(v)
    return v if math.isfinite(v) else 0.0


if __name__ == "__main__":
    sys.exit(main())
