"""api: the REST surface through ``create_app`` and Flask's test client.

One process, one lake: set-up builds the lake with one full lake_sync
pass, then the read-only phase (search_serving, 2 clients) runs, then
the write phase (lake_writes, 1 client). Reads never overlap writes, so
the read phase sees a read-only lake and the write phase sees its own
writes.
"""

from __future__ import annotations

import time

import stats
from workloads import common, lake_sync, lake_writes, search_serving


def run(ctx) -> dict:
    from sql_database_to_elastic_datalake_spark.api import LakeService, create_app

    c0, t0 = common.cpu_s(), time.perf_counter()
    with ctx.span("setup", op="setup"):
        common.start_session(ctx)
        src, source_rows = lake_sync.setup(ctx)
        passes = lake_sync.Passes(ctx, src)
        passes.one("setup")
        lake = passes.lake
        entities = {k: ctx.spark.read.parquet(v) for k, v in src.items()}
        app = create_app(LakeService(ctx.spark, lake), entities=entities)
    setup_wall = time.perf_counter() - t0
    # the gate is the set-up's CPU: its wall time mostly tracks the load
    # other tenants put on the host while the JVM starts
    setup_s = common.settled_cpu_s() - c0

    reads = search_serving.Reads(ctx, app)
    writes = lake_writes.Writes(ctx, app, lake, src)
    c0 = common.settled_cpu_s()
    first_reads = reads.first()
    first_writes = writes.first()
    first_cpu = common.settled_cpu_s() - c0

    read = common.traced_phase(ctx, reads.loop)
    read_ops, read_wall = read.ops, read.wall
    # expected totals come from the lake as the reads saw it
    wrong = passes.check() + reads.check(lake)
    write = common.measured(writes.loop)
    write_ops, write_wall = write.ops, write.wall
    wrong += writes.check()
    read_ms = [o.seconds * 1e3 for o in read_ops if o.ok]
    write_kinds = common.kind_medians_ms(write_ops)
    summary = stats.summarize(read_ms, 50.0)
    read_cycles = search_serving.MEASURED_CYCLES
    write_cycles = lake_writes.MEASURED_CYCLES
    first_s = sum(first_reads.values()) + sum(first_writes.values())
    metrics = {
        "setup_s": (setup_s, "s"),
        "first_cpu_s": (first_cpu, "s"),
        "query_cpu_ms": (read.fixed_cpu(read_cycles) * 1e3
                         / (read_cycles * len(search_serving.CYCLE)), "ms"),
        "write_cpu_ms": (write.fixed_cpu(write_cycles, lake_writes.WARMUP_CYCLES)
                         * 1e3 / write_cycles, "ms"),
    }
    read_kinds = common.kind_medians_ms(read_ops)
    ctx.details.update({
        "source_rows": source_rows,
        "first_s": {"total": first_s, "reads": first_reads,
                    "writes": first_writes},
        "read_phase": {"n": len(read_ops), "wall_s": read_wall,
                       "cpu_s": read.cpu, "per_s": len(read_ms) / read_wall,
                       "p50_ms": summary["p50"], "median_ms_by_kind": read_kinds,
                       "cycle_cpu_s": read.cycle_cpu,
                       "repeat_share": search_serving.repeat_share(
                           read_ops, reads.specs)},
        "write_phase": {"n": len(write_ops), "wall_s": write_wall,
                        "cpu_s": write.cpu, "write_ms": sum(write_kinds.values()),
                        "cycle_cpu_s": write.cycle_cpu,
                        "median_ms_by_kind": write_kinds},
        "phase_metrics": phase_metrics(ctx, setup_s, setup_wall, read_ops,
                                       read_wall, write_ops),
    })
    per_layer = {}
    if ctx.trace:
        per_layer = common.layer_metrics(ctx, read_ops, read_wall,
                                         ctx.details["untraced_p50_ms"])
        per_layer.update(common.setup_metrics(ctx))
        per_layer.update(common.resync_metrics(ctx, write_ops))
    return {"metrics": metrics, "per_layer": per_layer,
            "attempted": ctx.attempted, "failed": ctx.failed + wrong}


def phase_metrics(ctx, setup_s, setup_wall, read_ops, read_wall,
                  write_ops) -> dict:
    """The search_serving and lake_writes figures by their own names,
    each with its sample count and the percentile the rule allows."""
    out = {"setup_s": {"value": setup_s, "unit": "s", "note": "CPU"},
           "setup_wall_s": {"value": setup_wall, "unit": "s"}}
    reads = [o.seconds * 1e3 for o in read_ops if o.ok]
    s = stats.summarize(
        reads, stats.tail_percentile(len(reads)) or 50.0)
    out["search_p50_ms"] = {"value": s["p50"], "unit": "ms", "n": s["n"]}
    out[f"search_p{s['tail_p']:g}_ms"] = {"value": s["tail"], "unit": "ms",
                                          "n": s["n"]}
    out["search_rps"] = {"value": len(reads) / read_wall, "unit": "1/s"}
    w = [o.info["write_s"] * 1e3 for o in write_ops if o.ok]
    r = [o.info["read_s"] * 1e3 for o in write_ops if o.ok]
    for name, vals in (("write", w), ("read_after_write", r)):
        if vals:
            t = stats.summarize(
                vals, stats.tail_percentile(len(vals)) or 50.0)
            out[f"{name}_p50_ms"] = {"value": t["p50"], "unit": "ms", "n": t["n"]}
            out[f"{name}_p{t['tail_p']:g}_ms"] = {"value": t["tail"],
                                                  "unit": "ms", "n": t["n"]}
    attempted = max(ctx.attempted, 1)
    out["failed_ops_ratio"] = {"value": ctx.failed / attempted, "unit": "ratio",
                               "n": ctx.attempted}
    return out
