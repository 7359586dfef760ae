"""registry_queries: registry members, each built, run once, then run
steady to Spark's noop sink, on the sf0.01 test lake in ``data/sf0.01``
(the lake the registry's oracles are written for).

The member set is the ROADMAP hot-member queue plus one member per
``operators/*`` module and one streaming member, as far as the run's
time budget allows (see README). The three API and sync phases never
reach ``operators/*``, ``registry*`` or ``streaming``.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import time

import oracle
from workloads import common

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: the sf0.01 test lake, committed with the benchmark: 15,000 orders,
#: 60,000 lineitems, 10,000 events, 500 documents and embeddings
DATA = os.path.join(HERE, "data", "sf0.01")
#: unmeasured rounds after the cold runs, then the rounds whose CPU
#: ``query_cpu_ms`` counts (a run may fit more)
WARMUP_ROUNDS = 4
MEASURED_ROUNDS = 3

#: member → why it is in the set. Left out for the run's time budget:
#: the hot members benchmark_decontamination_spans, semdedup_embeddings,
#: moving_percentiles_daily, search_aggs_nested_parent and
#: lm_kneser_ney_features (1.5-4.5 s cold each here), and one member
#: each of operators.denormalize, dsir, ivf, joins, quality, skew
#: and text, and the bpe and multimodal members.
MEMBERS = {
    "json_extract": "hot queue",
    "exact_substring_dedup": "hot queue",
    "dedup_exact": "operators.dedup",
    "doc_chunks": "operators.chunking",
    "latest_event_per_key": "operators.dedup_window",
    "events_ewma": "operators.grouped_pandas (*InPandasExec)",
    "group_to_array": "operators.nest",
    "embed_quantize_int8": "operators.similarity",
    "session_window_counts": "streaming",
}


def setup(ctx) -> str:
    """The members' input directory. It is fixed: the seed shapes the
    entity data of the workload's sync pass, not this lake."""
    return DATA


def _selfcheck():
    """``scripts/selfcheck.py``, the repository's Spark-vs-DuckDB frame
    comparison, loaded from the checkout."""
    path = os.path.join(os.path.dirname(HERE), "scripts", "selfcheck.py")
    spec = importlib.util.spec_from_file_location("perfbench_selfcheck", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Members:
    def __init__(self, ctx, data: str) -> None:
        import __spark_entry__ as entry

        self.ctx, self.data = ctx, data
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        missing = sorted(set(MEMBERS) - set(self.queries))
        if missing:
            raise SystemExit(f"perfbench: registry lacks members {missing}")
        self.build: dict[str, float] = {}
        self.first: dict[str, float] = {}
        self.python_members: set[str] = set()
        self.results: dict = {}

    def _build(self, name: str, phase: str):
        with self.ctx.span(phase):
            return self.queries[name](self.ctx.spark, self.data)

    def cold(self) -> float:
        """Build and first run of every member, in order; returns the
        total seconds. The first run collects the result (as a caller
        reading it does), which the output check then compares."""
        from sql_database_to_elastic_datalake_spark.session import (
            release_local_checkpoints,
        )

        t0 = time.perf_counter()
        for name in MEMBERS:
            op = self.ctx.next_op_id("cold")
            with self.ctx.span("registry.member", op=op, member=name):
                a = time.perf_counter()
                df = self._build(name, "registry.build")
                b = time.perf_counter()
                with self.ctx.span("registry.first"):
                    self.results[name] = df.toPandas()
                c = time.perf_counter()
            self.build[name], self.first[name] = b - a, c - b
            self.ctx.tally(True)
            plan = df._jdf.queryExecution().executedPlan().toString()
            if "InPandas" in plan or "ArrowEvalPython" in plan:
                self.python_members.add(name)
            release_local_checkpoints(self.ctx.spark)
        return time.perf_counter() - t0

    def loop(self, rounds: int = MEASURED_ROUNDS,
             timed: bool = True) -> tuple[list[common.Op], float, list[float]]:
        """Whole rounds over all members until ``ctx.seconds`` have
        passed (when ``timed``) and at least ``rounds`` ran.
        A steady run rebuilds the member and runs it, as a caller
        re-running a query does: some members collect eagerly while they
        build, so the build is part of their cost. Returns the ops, the
        wall seconds and the CPU seconds of each round."""
        from sql_database_to_elastic_datalake_spark.session import (
            release_local_checkpoints,
        )

        seconds = self.ctx.seconds if timed else 0.0
        ops: list[common.Op] = []
        round_cpu: list[float] = []
        t0 = time.perf_counter()
        c0 = common.settled_cpu_s()
        while len(round_cpu) < rounds or time.perf_counter() - t0 < seconds:
            for name in MEMBERS:
                op = self.ctx.next_op_id()
                py0 = common.python_cpu_s() if self.ctx.trace else 0.0
                with self.ctx.span("registry.member", op=op, member=name):
                    a = time.perf_counter()
                    df = self._build(name, "registry.build")
                    b = time.perf_counter()
                    with self.ctx.span("registry.steady"):
                        _noop(df)
                    c = time.perf_counter()
                py = common.python_cpu_s() - py0 if self.ctx.trace else 0.0
                ops.append(common.Op(op, name, c - a, True,
                                     {"python_cpu_s": py, "build_s": b - a}))
                self.ctx.tally(True)
                release_local_checkpoints(self.ctx.spark)
            c1 = common.settled_cpu_s()
            round_cpu.append(c1 - c0)
            c0 = c1
        return ops, time.perf_counter() - t0, round_cpu

    def warm_up(self) -> None:
        """``WARMUP_ROUNDS`` unmeasured rounds: the JVM is still compiling
        the members' code paths then (a round's CPU falls by about half
        over its first five rounds here)."""
        with self.ctx.tracer_off():
            self.loop(WARMUP_ROUNDS, timed=False)

    @staticmethod
    def steady_s(ops: list[common.Op]) -> dict[str, float]:
        """Median steady run per member."""
        return {m: statistics.median(o.seconds for o in ops if o.kind == m)
                for m in MEMBERS}

    @staticmethod
    def steady_build_s(ops: list[common.Op]) -> dict[str, float]:
        """Median build part of the steady runs: high for members that
        collect while they build."""
        return {m: statistics.median(o.info["build_s"] for o in ops
                                     if o.kind == m) for m in MEMBERS}

    def check(self) -> int:
        """Each member's result against its DuckDB oracle, compared as
        ``scripts/selfcheck.py`` does; members without an oracle must
        return rows."""
        sc = _selfcheck()
        con = oracle.connect()
        for t in sorted(os.listdir(self.data)):
            con.execute(f"CREATE VIEW {t[:-len('.parquet')]} AS SELECT * "
                        f"FROM read_parquet('{self.data}/{t}')")
        bad = {}
        for name in MEMBERS:
            got = self.results[name]
            if name in self.oracles:
                want = con.execute(self.oracles[name]).fetchdf()
                ok, why = sc._values_equal(sc._canon(got), sc._canon(want))
                if not ok:
                    bad[name] = why
            elif got.empty:
                bad[name] = "no rows"
        self.ctx.check("registry: every member against its oracle", not bad,
                       {"members": len(MEMBERS),
                        "with_oracle": sum(m in self.oracles for m in MEMBERS),
                        "bad": bad})
        return len(bad)
