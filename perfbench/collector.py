"""Spark work per operation, read from Spark's status store.

Every traced operation runs its Spark jobs under a job group
``<op>|<layer>`` (set from the tracer's span hooks, per thread). After
the run the collector reads each job's stages from
``SparkContext.statusStore()`` — populated with the UI disabled — and
sums the stage metrics per group. A stage shared by several jobs of a
group counts once; skipped stages count for nothing.

It also reads the CPU time of the JVM's Python worker processes from
``/proc``, which is where ``*InPandasExec`` operators spend their time.
"""

from __future__ import annotations

import os
from collections import defaultdict

STAGE_FIELDS = {
    "executor_run_ms": lambda s: s.executorRunTime(),
    "executor_cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "gc_ms": lambda s: s.jvmGcTime(),
    "input_bytes": lambda s: s.inputBytes(),
    "input_records": lambda s: s.inputRecords(),
    "output_bytes": lambda s: s.outputBytes(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
}


def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class StatusCollector:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._groups: dict[str, dict] | None = None

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def span_hooks(self, tracer, layer_of):
        """Install tracer hooks: a span whose name maps to a layer
        (``layer_of(name)`` not None) runs its jobs in ``<op>|<layer>``;
        on exit the enclosing span's group is restored."""

        def group(span):
            layer = layer_of(span.name)
            return f"{span.op}|{layer}" if layer and span.op else None

        def enter(span):
            g = group(span)
            if g is not None:
                span.attrs["group"] = g
                self.set_group(g)

        def leave(span, parent):
            if "group" in span.attrs:
                self.set_group(parent.attrs.get("group") if parent else None)

        tracer.on_enter, tracer.on_exit = enter, leave

    def by_group(self) -> dict[str, dict]:
        """Group → summed stage metrics plus ``jobs``, ``stages``,
        ``tasks`` and ``job_wall_s`` (union of job intervals). Read once,
        after the run."""
        if self._groups is None:
            self._groups = self._read()
        return self._groups

    def _read(self) -> dict[str, dict]:
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        stage_cache: dict[int, object] = {}
        seen: dict[str, set] = defaultdict(set)
        out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        walls: dict[str, list] = defaultdict(list)
        for i in range(jobs.size()):
            jd = jobs.apply(i)
            grp = jd.jobGroup()
            if not grp.isDefined():
                continue
            g = grp.get()
            acc = out[g]
            acc["jobs"] += 1
            lo, hi = _opt_s(jd.submissionTime()), _opt_s(jd.completionTime())
            if lo is not None and hi is not None:
                walls[g].append((lo, hi))
            sids = jd.stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in seen[g]:
                    continue
                seen[g].add(sid)
                if sid not in stage_cache:
                    try:
                        stage_cache[sid] = store.lastStageAttempt(sid)
                    except Exception:  # evicted or never submitted
                        stage_cache[sid] = None
                sd = stage_cache[sid]
                if sd is None or str(sd.status()) == "SKIPPED":
                    continue
                acc["stages"] += 1
                acc["tasks"] += sd.numCompleteTasks()
                for name, get in STAGE_FIELDS.items():
                    acc[name] += get(sd)
        for g, iv in walls.items():
            out[g]["job_wall_s"] = _union_seconds(iv)
        return {g: dict(v) for g, v in out.items()}


def _proc_table() -> tuple[dict[int, int], dict[int, list[str]]]:
    parent: dict[int, int] = {}
    stat: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm_end = raw.rindex(")")
        fields = raw[comm_end + 2:].split()
        pid = int(d)
        parent[pid] = int(fields[1])
        stat[pid] = [raw[raw.index("(") + 1:comm_end]] + fields
    return parent, stat


def _python_below(jvm_pid: int, parent, stat) -> float:
    total = 0
    for pid, f in stat.items():
        if not f[0].startswith("python"):
            continue
        p = parent.get(pid)
        while p and p != jvm_pid:
            p = parent.get(p)
        if p == jvm_pid:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(x) for x in f[12:16])
    return total / os.sysconf("SC_CLK_TCK")


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the Python processes below the JVM,
    including workers that already exited and were reaped."""
    return _python_below(jvm_pid, *_proc_table())


def run_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the whole run: this process, the JVM
    (with the launcher processes it reaped) and the JVM's Python
    workers. Unlike wall time it barely moves when other work on the
    host competes for the cores."""
    parent, stat = _proc_table()
    own = os.times()
    jvm = stat.get(jvm_pid)
    jvm_s = sum(int(x) for x in jvm[12:16]) / os.sysconf("SC_CLK_TCK") if jvm else 0.0
    return own.user + own.system + jvm_s + _python_below(jvm_pid, parent, stat)
