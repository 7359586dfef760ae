"""What every workload shares: the session, the closed-loop runner, the
traced-layer wiring and the metric assembly."""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from collector import StatusCollector, python_worker_cpu_s, run_cpu_s
from spans import Tracer, layer_totals, self_times

PACKAGE = "sql_database_to_elastic_datalake_spark"
CORES = 4

#: Span name → layer. Only spans listed here get a job group, so Spark
#: jobs are attributed to the innermost listed layer that launched them.
LAYERS = {
    "api.request": "api",
    "api.service": "api",
    "sync": "sync",
    "writer": "writer",
    "upsert": "upsert",
    "resync": "resync",
    "es_dsl": "es_dsl",
    "es_aggs": "es_aggs",
    "search": "search",
    "registry.build": "registry",
    "registry.first": "registry",
    "registry.steady": "registry",
}


@dataclass
class Op:
    op_id: str
    kind: str
    seconds: float
    ok: bool
    info: dict = field(default_factory=dict)


@dataclass
class Ctx:
    seed: int
    seconds: float
    trace: bool
    work: str
    tracer: Tracer | None = None
    collector: StatusCollector | None = None
    spark: object = None
    checks: list = field(default_factory=list)
    details: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    _n: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def tally(self, ok: bool) -> None:
        with self._lock:
            self.attempted += 1
            self.failed += not ok

    def next_op_id(self, prefix: str = "op") -> str:
        with self._lock:
            self._n += 1
            return f"{prefix}{self._n}"

    def check(self, name: str, ok: bool, detail=None) -> None:
        self.checks.append({"name": name, "ok": bool(ok), "detail": detail})

    @contextmanager
    def tracer_off(self):
        """No spans in the body, when tracing."""
        on = self.tracer is not None and self.tracer.enabled
        if on:
            self.tracer.enabled = False
        try:
            yield
        finally:
            if on:
                self.tracer.enabled = True

    def span(self, name: str, op: str | None = None, **attrs):
        """A span when tracing, else a no-op context."""
        if self.tracer is None:
            return _NULL
        return self.tracer.span(name, op=op, **attrs)


class _Null:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NULL = _Null()


def start_session(ctx: Ctx):
    """The engine's own session factory on ``local[4]``, with the UI off
    and every scratch directory inside the work dir."""
    from sql_database_to_elastic_datalake_spark.session import get_spark

    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(ctx.work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        # keep every job and stage of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    with ctx.span("session", op="setup"):
        spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    if ctx.trace:
        ctx.collector = StatusCollector(spark)
        ctx.collector.span_hooks(ctx.tracer, LAYERS.get)
    return spark


def stop_session(ctx: Ctx) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def install_wrappers(tracer: Tracer) -> None:
    """Wrap the public entry points of each layer at every import site."""
    import importlib

    from sql_database_to_elastic_datalake_spark import api, sync
    from sql_database_to_elastic_datalake_spark.plans import es_aggs, es_dsl, search
    from sql_database_to_elastic_datalake_spark.sinks import upsert, writer

    # modules that bind these names lazily or at top must be imported
    # before wrapping, so their bindings are found and replaced
    for m in ("registry", "registry_pipeline", "streaming.pipeline"):
        importlib.import_module(f"{PACKAGE}.{m}")

    def cache_probe(span, args, kwargs):
        dsl = args[0] if args else kwargs.get("dsl")
        resolver = args[1] if len(args) > 1 else kwargs.get("field_resolver")
        schema = args[2] if len(args) > 2 else kwargs.get("schema_fields")
        key_fn = getattr(es_dsl, "_compile_cache_key", None)
        cache = getattr(es_dsl, "_COMPILE_CACHE", None)
        hit = False
        if resolver is None and key_fn is not None and cache is not None:
            key = key_fn(dsl, schema)
            hit = key is not None and key in cache
        span.attrs["cache_hit"] = hit

    tracer.wrap(es_dsl, "compile_dsl", "es_dsl", PACKAGE, before=cache_probe)
    tracer.wrap(es_aggs, "run_aggs", "es_aggs", PACKAGE)
    tracer.wrap(search, "multi_match_table", "search", PACKAGE)
    tracer.wrap(sync, "sync_all_tables", "sync", PACKAGE)
    tracer.wrap(sync, "denormalize_tickets", "sync", PACKAGE)
    tracer.wrap(writer, "write_lake", "writer", PACKAGE)
    tracer.wrap(upsert, "merge_latest_wins", "upsert", PACKAGE)
    for meth in ("search", "advanced_search", "ingest", "update_by_query"):
        tracer.wrap_method(api.LakeService, meth, "api.service")
    tracer.wrap_method(api.LakeService, "resync_ticket", "resync")


def closed_loop(ctx: Ctx, clients: int, specs: list, run_one, cycle: int,
                max_seconds: float, min_cycles: int = 1):
    """Run ``specs`` in order from ``clients`` threads, each sending its
    next request only after the previous one returned. New requests stop
    once ``ctx.seconds`` have passed and at least ``min_cycles`` cycles
    of ``cycle`` requests were sent, at a cycle boundary, so every run
    holds whole cycles of the mix (or at ``max_seconds``).
    ``run_one(spec, client_state) -> (ok, info)``. Returns the ops, the
    measured wall seconds and the run's CPU seconds per cycle (between
    consecutive cycle starts; with one client, once the run is idle, see
    ``settled_cpu_s``; with several, a cycle's window holds the requests
    in flight at its edges)."""
    ops: list[Op] = []
    lock = threading.Lock()
    state = {"i": 0, "stop": False}
    marks: list[float] = []
    t0 = time.perf_counter()

    def client(cid: int) -> None:
        local: dict = {"cid": cid}
        while True:
            with lock:
                elapsed = time.perf_counter() - t0
                i = state["i"]
                if state["stop"]:
                    return
                if i % cycle == 0:
                    marks.append(settled_cpu_s() if clients == 1 else cpu_s())
                if elapsed >= max_seconds or (
                        elapsed >= ctx.seconds and i % cycle == 0
                        and i >= min_cycles * cycle):
                    state["stop"] = True
                    return
                state["i"] += 1
            spec = specs[i % len(specs)]
            op_id = ctx.next_op_id()
            a = time.perf_counter()
            try:
                with ctx.span("api.request", op=op_id, kind=spec["kind"]):
                    ok, info = run_one(spec, local)
            except Exception as ex:  # a failed op is counted, not fatal
                ok, info = False, {"error": repr(ex)[:300]}
            b = time.perf_counter()
            ctx.tally(ok)
            with lock:
                ops.append(Op(op_id, spec["kind"], b - a, ok,
                              dict(info, index=i)))

    threads = [threading.Thread(target=client, args=(c,), daemon=True)
               for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(max_seconds + 300)
    wall = time.perf_counter() - t0
    if any(t.is_alive() for t in threads):
        raise RuntimeError("a client thread did not finish")
    ops.sort(key=lambda o: o.info["index"])
    return ops, wall, [b - a for a, b in zip(marks, marks[1:])]


def cpu_s() -> float:
    """CPU seconds the run (this process, the JVM, its workers) used."""
    pid = jvm_pid()
    if pid is None:
        own = os.times()
        return own.user + own.system
    return run_cpu_s(pid)


#: CPU seconds per 0.2 s below which the run counts as idle (a tick or
#: two: heartbeats, not compilation)
IDLE_CPU_S = 0.02


def settled_cpu_s(max_wait: float = 5.0) -> float:
    """``cpu_s()`` once the run is idle. The JVM compiles the code a
    phase ran, and collects its garbage, in background threads that go
    on after the phase returns; waiting for them counts that CPU in the
    phase that caused it instead of in the next one, which would see
    more or less of it from run to run. Gives up after ``max_wait``."""
    deadline = time.perf_counter() + max_wait
    last = cpu_s()
    while time.perf_counter() < deadline:
        time.sleep(0.2)
        now = cpu_s()
        if now - last < IDLE_CPU_S:
            return now
        last = now
    return last


@dataclass
class Phase:
    """A measured loop: its ops, wall and CPU seconds, and the CPU
    seconds of each of its cycles (or rounds)."""
    ops: list[Op]
    wall: float
    cpu: float
    cycle_cpu: list[float]

    def fixed_cpu(self, cycles: int, skip: int = 0) -> float:
        """CPU seconds of ``cycles`` cycles after the first ``skip``: the
        same work in every run, however many more cycles a fast run fits
        in its time."""
        if len(self.cycle_cpu) < skip + cycles:
            raise RuntimeError(f"phase ran {len(self.cycle_cpu)} of "
                               f"{skip + cycles} cycles")
        return sum(self.cycle_cpu[skip:skip + cycles])


def measured(loop) -> Phase:
    """``loop()`` plus the CPU seconds it used."""
    c0 = settled_cpu_s()
    ops, wall, cycle_cpu = loop()
    return Phase(ops, wall, settled_cpu_s() - c0, cycle_cpu)


def traced_phase(ctx: Ctx, loop) -> Phase:
    """Run a measured phase. When tracing, the phase also runs with
    spans off before and after the traced run; the median of those
    untraced ops is the base of ``trace.overhead_pct``. Returns the
    traced run."""
    if not ctx.trace:
        return measured(loop)
    untraced: list[float] = []
    with ctx.tracer_off():
        untraced += [o.seconds * 1e3 for o in loop()[0] if o.ok]
    phase = measured(loop)
    with ctx.tracer_off():
        untraced += [o.seconds * 1e3 for o in loop()[0] if o.ok]
    ctx.details["untraced_p50_ms"] = statistics.median(untraced)
    return phase


def kind_medians_ms(ops: list[Op]) -> dict[str, float]:
    """Median latency per op kind, in ms, over successful ops."""
    by: dict[str, list[float]] = {}
    for o in ops:
        if o.ok:
            by.setdefault(o.kind, []).append(o.seconds * 1000.0)
    return {k: statistics.median(v) for k, v in sorted(by.items())}


def layer_metrics(ctx: Ctx, ops: list[Op], wall: float,
                  untraced_p50_ms: float | None) -> dict:
    """Per-layer metrics of the traced measured phase, per operation."""
    spans = ctx.tracer.spans
    selfs = self_times(spans)
    op_ids = {o.op_id for o in ops}
    n = max(len(ops), 1)
    total = _groups_of(ctx, op_ids)
    by_name: dict[str, list] = {}
    for s in spans:
        if s.op in op_ids:
            by_name.setdefault(s.name, []).append(s)

    def top(name):
        # outermost spans of a name (recursive calls nest inside)
        return [s for s in by_name.get(name, ())
                if s.parent is None or spans[s.parent].name != name]

    def self_ms(*names):
        return sum(selfs[s.idx] for nm in names for s in by_name.get(nm, ())) / n

    out: dict[str, float] = {}
    req = by_name.get("api.request", [])
    if req:
        out["api.driver_ms"] = (sum(s.ms for s in req)
                                - total.get("job_wall_s", 0.0) * 1e3) / n
        out["api.jobs_per_request"] = total.get("jobs", 0.0) / n
        out["api.self_ms"] = self_ms("api.request", "api.service")
    dsl = top("es_dsl")
    out["es_dsl.compile_ms"] = sum(s.ms for s in dsl) / n
    out["es_dsl.compile_calls"] = len(dsl) / n
    out["es_dsl.cache_hit_ratio"] = (
        sum(bool(s.attrs.get("cache_hit")) for s in dsl) / len(dsl)
        if dsl else 0.0)
    out["es_dsl.self_ms"] = self_ms("es_dsl")
    out["es_aggs.self_ms"] = self_ms("es_aggs")
    out["es_aggs.jobs"] = _groups_of(ctx, op_ids, {"es_aggs"}).get("jobs", 0.0) / n
    out["search.build_ms"] = sum(s.ms for s in top("search")) / n
    out["search.tables_unioned"] = len(top("search")) / n
    out["search.self_ms"] = self_ms("search")
    out["scan.input_bytes"] = total.get("input_bytes", 0.0) / n
    out["scan.input_records"] = total.get("input_records", 0.0) / n
    hits = sum(o.info.get("hits", 0) for o in ops)
    out["scan.records_per_hit"] = (total.get("input_records", 0.0) / hits
                                   if hits else 0.0)
    for key in ("jobs", "stages", "tasks", "executor_run_ms",
                "executor_cpu_ms", "gc_ms", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{key}"] = total.get(key, 0.0) / n
    out["spark.core_busy_ratio"] = total.get("executor_run_ms", 0.0) / (
        wall * 1000.0 * CORES)
    lat = [o.seconds * 1000.0 for o in ops if o.ok]
    if untraced_p50_ms and lat:
        out["trace.overhead_pct"] = (
            statistics.median(lat) / untraced_p50_ms - 1.0) * 100.0
    ctx.details["layers"] = layer_totals([s for s in spans if s.op in op_ids])
    return out


def _groups_of(ctx: Ctx, ops: set[str], layers=None) -> dict[str, float]:
    """Summed stage metrics over the job groups of ``ops`` (optionally
    only the given layers)."""
    out: dict[str, float] = {}
    for g, v in ctx.collector.by_group().items():
        op, _, layer = g.partition("|")
        if op in ops and (layers is None or layer in layers):
            for k, x in v.items():
                out[k] = out.get(k, 0.0) + x
    return out


def sync_metrics(ctx: Ctx, pass_ops: list[str]) -> dict:
    """Per sync pass: plan build time, the jobs of each layer, write
    time and output of the passes run as ops ``pass_ops`` (spans ``sync.pass``). Nothing
    traced runs below ``sync`` or ``writer``, so these are their self
    times too."""
    spans = ctx.tracer.spans
    ops = set(pass_ops)
    n = max(len(ops), 1)
    mine = [s for s in spans if s.op in ops]
    passes = [s for s in mine if s.name == "sync.pass"]
    outer = [s for s in mine if s.name == "sync" and spans[s.parent].name != "sync"]
    return {
        "sync.build_ms": sum(s.ms for s in outer) / n,
        "sync.jobs": _groups_of(ctx, ops, {"sync"}).get("jobs", 0.0) / n,
        "writer.jobs": _groups_of(ctx, ops, {"writer"}).get("jobs", 0.0) / n,
        "writer.write_s": sum(s.ms for s in mine if s.name == "writer") / 1e3 / n,
        "writer.bytes_out": sum(s.attrs.get("bytes_out", 0) for s in passes) / n,
        "writer.files_out": sum(s.attrs.get("files_out", 0) for s in passes) / n,
    }


def setup_metrics(ctx: Ctx) -> dict:
    session = [s for s in ctx.tracer.spans if s.name == "session"]
    out = {"session.start_s": session[0].ms / 1e3 if session else 0.0}
    if any(s.name == "sync.pass" and s.op == "setup" for s in ctx.tracer.spans):
        out.update(sync_metrics(ctx, ["setup"]))
    return out


def resync_metrics(ctx: Ctx, write_ops: list[Op]) -> dict:
    """Records read and bytes written per re-synced document."""
    ops = {o.op_id for o in write_ops if o.kind == "resync" and o.ok}
    if not ops:
        return {}
    g = _groups_of(ctx, ops, layers={"resync", "upsert", "sync"})
    selfs = self_times(ctx.tracer.spans)
    upsert = sum(selfs[s.idx] for s in ctx.tracer.spans
                 if s.op in ops and s.name == "upsert")
    return {
        "upsert.self_ms": upsert / len(ops),
        "resync.input_records_per_doc": g.get("input_records", 0.0) / len(ops),
        "resync.bytes_rewritten_per_doc": g.get("output_bytes", 0.0) / len(ops),
    }


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet files under ``path``."""
    size = files = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                size += os.path.getsize(os.path.join(dp, f))
                files += 1
    return size, files


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def python_cpu_s() -> float:
    pid = jvm_pid()
    return python_worker_cpu_s(pid) if pid else 0.0
