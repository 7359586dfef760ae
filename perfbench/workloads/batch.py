"""batch: the batch entry points in one process — one lake_sync pass in
the fresh session (what a CLI ``sync-entities`` run pays), then the
registry_queries members. Neither touches ``api``."""

from __future__ import annotations

import time

from spans import self_times
from workloads import common, lake_sync, registry_queries


def run(ctx) -> dict:
    c0, t0 = common.cpu_s(), time.perf_counter()
    with ctx.span("setup", op="setup"):
        common.start_session(ctx)
        src, source_rows = lake_sync.setup(ctx)
        data = registry_queries.setup(ctx)
    setup_wall = time.perf_counter() - t0
    # the gate is the set-up's CPU: its wall time mostly tracks the load
    # other tenants put on the host while the JVM starts
    setup_s = common.settled_cpu_s() - c0

    passes = lake_sync.Passes(ctx, src)
    c0 = common.settled_cpu_s()
    sync_first = passes.one("pass0")
    sync_cpu = common.settled_cpu_s() - c0
    members = registry_queries.Members(ctx, data)
    c0 = common.settled_cpu_s()
    cold = members.cold()
    cold_cpu = common.settled_cpu_s() - c0
    members.warm_up()
    query = common.traced_phase(ctx, members.loop)
    query_ops, query_wall = query.ops, query.wall
    wrong = passes.check() + members.check()

    steady = members.steady_s(query_ops)
    rounds = registry_queries.MEASURED_ROUNDS
    metrics = {
        "setup_s": (setup_s, "s"),
        "first_cpu_s": (cold_cpu, "s"),
        "query_cpu_ms": (query.fixed_cpu(rounds) * 1e3 / rounds, "ms"),
        "write_cpu_ms": (sync_cpu * 1e3, "ms"),
    }
    ctx.details.update({
        "sync_phase": {"first_s": sync_first, "cpu_s": sync_cpu,
                       "source_rows": source_rows},
        "registry_phase": {
            "members": registry_queries.MEMBERS,
            "cold_s": cold, "build_s": members.build, "first_s": members.first,
            "steady_build_s": members.steady_build_s(query_ops),
            "steady_s": steady, "steady_sum_ms": sum(steady.values()) * 1e3,
            "runs": len(query_ops),
            "runs_per_s": len(query_ops) / query_wall, "cpu_s": query.cpu,
            "round_cpu_s": query.cycle_cpu,
            "python_members": sorted(members.python_members)},
        "phase_metrics": {
            "setup_s": {"value": setup_s, "unit": "s", "note": "CPU"},
            "setup_wall_s": {"value": setup_wall, "unit": "s"},
            "sync_first_s": {"value": sync_first, "unit": "s"},
            "sync_rows_per_s": {"value": source_rows / sync_first,
                                "unit": "1/s", "source_rows": source_rows,
                                "note": "over the first pass"},
            "query_build_s": {"value": sum(members.build.values()), "unit": "s"},
            "query_first_s": {"value": sum(members.first.values()), "unit": "s"},
            "query_steady_s": {"value": sum(steady.values()), "unit": "s",
                               "n": len(query_ops)},
            "failed_ops_ratio": {"value": ctx.failed / max(ctx.attempted, 1),
                                 "unit": "ratio", "n": ctx.attempted},
        },
    })
    per_layer = {}
    if ctx.trace:
        per_layer = common.layer_metrics(ctx, query_ops, query_wall,
                                         ctx.details["untraced_p50_ms"])
        per_layer.update(common.setup_metrics(ctx))
        per_layer.update(common.sync_metrics(ctx, ["pass0"]))
        per_layer.update(registry_layer_metrics(ctx, members, query_ops))
    return {"metrics": metrics, "per_layer": per_layer,
            "attempted": ctx.attempted, "failed": ctx.failed + wrong}


def registry_layer_metrics(ctx, members, ops) -> dict:
    out = {"registry.self_ms": 0.0}
    steady = members.steady_s(ops)
    for m in registry_queries.MEMBERS:
        out[f"registry.{m}.build_s"] = members.build[m]
        out[f"registry.{m}.first_s"] = members.first[m]
        out[f"registry.{m}.steady_s"] = steady[m]
    py = [o.info["python_cpu_s"] for o in ops if o.kind in members.python_members]
    rounds = max(len(ops) // len(registry_queries.MEMBERS), 1)
    out["operators.python_worker_ms"] = sum(py) * 1e3 / rounds
    selfs = self_times(ctx.tracer.spans)
    op_ids = {o.op_id for o in ops}
    out["registry.self_ms"] = sum(
        selfs[s.idx] for s in ctx.tracer.spans
        if s.op in op_ids and s.name.startswith("registry.")) / max(len(ops), 1)
    return out
