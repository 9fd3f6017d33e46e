"""Spans, Spark status-store counters, memory and host speed.

Spans are recorded in memory by the benchmark around each public call
into the engine and written out once, when the run ends.  Spark work is
attributed to spans after the run: every op runs under its own job group,
and jobs without a group (``build_all`` submits from its own thread pool)
fall to the top-level span whose interval holds their submission time.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# per-stage counters read from Spark's AppStatusStore, summed per span
STAGE_COUNTERS = {
    "tasks": lambda s: s.numTasks(),
    "run_ms": lambda s: s.executorRunTime(),
    "cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "gc_ms": lambda s: s.jvmGcTime(),
    "input_mb": lambda s: s.inputBytes() / 2**20,
    "shuffle_read_mb": lambda s: s.shuffleReadBytes() / 2**20,
    "shuffle_write_mb": lambda s: s.shuffleWriteBytes() / 2**20,
    "spill_mb": lambda s: (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20,
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    attrs: dict = field(default_factory=dict)
    index: int = -1


class Tracer:
    """In-memory span recorder.  With ``enabled`` false it records nothing
    and sets no job groups."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if not self.enabled:
            yield None
            return
        # child spans carry their request's op id
        inherited = op if op is not None or parent is None else self.spans[parent].op
        sp = Span(name, time.time(), parent=parent, op=inherited, attrs=attrs,
                  index=len(self.spans))
        self.spans.append(sp)
        self._stack.append(sp.index)
        if op is not None:
            self.spark.sparkContext.setJobGroup(op, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if op is not None:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def plan_ms(self, df) -> float:
        """Catalyst analysis + optimization + physical planning time of the
        DataFrame's own QueryExecution (forces planning; traced runs only)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        total = 0
        while it.hasNext():
            total += it.next()._2().durationMs()
        return float(total)

    def self_times(self) -> list[float]:
        """Each span's duration minus the part its direct children cover
        (children are sequential: one client thread)."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        return [sp.end - sp.start - c for sp, c in zip(self.spans, child)]

    def harvest(self) -> dict[int, dict[str, float]]:
        """Status-store counters per span index: an op's jobs by its job
        group, other jobs by the top-level span they were submitted in."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tops = [i for i, sp in enumerate(self.spans) if sp.parent is None]
        by_op: dict[str, int] = {}
        for sp in self.spans:
            if sp.op:
                by_op.setdefault(sp.op, sp.index)
        out: dict[int, dict[str, float]] = {}
        jobs = store.jobsList(None)
        for k in range(jobs.size()):
            job = jobs.apply(k)
            group = job.jobGroup()
            idx = by_op.get(group.get()) if group.isDefined() else None
            sub = job.submissionTime()
            if idx is None and sub.isDefined():
                t = sub.get().getTime() / 1000.0
                idx = next(
                    (i for i in tops if self.spans[i].start <= t <= self.spans[i].end),
                    None,
                )
            if idx is None:
                continue
            acc = out.setdefault(idx, {"jobs": 0, "stages": 0, "exec_ms": 0.0})
            acc["jobs"] += 1
            done = job.completionTime()
            if sub.isDefined() and done.isDefined():
                acc["exec_ms"] += done.get().getTime() - sub.get().getTime()
            sids = job.stageIds()
            for j in range(sids.size()):
                try:
                    st = store.lastStageAttempt(sids.apply(j))
                except Exception:  # skipped stage: never attempted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                acc["stages"] += 1
                for key, get in STAGE_COUNTERS.items():
                    acc[key] = acc.get(key, 0.0) + get(st)
        return out

    def dump(self, path: str, counters: dict[int, dict[str, float]], extra: dict) -> None:
        selfs = self.self_times()
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [
            {
                "id": i,
                "name": sp.name,
                "op": sp.op,
                "parent": sp.parent,
                "start_s": round(sp.start - t0, 6),
                "end_s": round(sp.end - t0, 6),
                "self_s": round(selfs[i], 6),
                **sp.attrs,
                **({"spark": counters[i]} if i in counters else {}),
            }
            for i, sp in enumerate(self.spans)
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "spans": rows}, fh, indent=1)


def peak_rss_mb(spark) -> float:
    """Driver JVM VmHWM (from /proc) plus this Python process's ru_maxrss."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, all cores."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


# The reference job's median time on the uncontended 4-core VM the
# benchmark was sized on.  Every time of the timed phase is scaled to it.
REF_NOMINAL_MS = 120.0
# SQL confs of the reference job's own session, pinned so that a change to
# the engine's session confs leaves the reference job alone
REF_CONFS = {
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.codegen.wholeStage": "true",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


class RefJob:
    """A fixed Spark job run between the benchmark's steps to measure how
    fast the host runs this kind of work at that moment.

    On a shared host the same op's time varies by more than half between
    runs (CPU steal, and other guests slowing the cores that remain).  The
    reference job, run in the same JVM between ops, slows roughly in step:
    a small aggregation with a shuffle, in a session of its own whose SQL
    confs are pinned, so nothing the engine configures reaches it.  A run reports the
    times of its timed phase multiplied by ``REF_NOMINAL_MS / median(samples)``.
    """

    def __init__(self, spark) -> None:
        self.session = spark.newSession()
        for k, v in REF_CONFS.items():
            self.session.conf.set(k, v)
        self.samples: list[float] = []

    def run(self) -> float:
        t = time.perf_counter()
        (self.session.range(0, 100_000, 1, 4)
         .selectExpr("id % 97 AS k", "id * 3 AS v")
         .groupBy("k").sum("v").collect())
        return (time.perf_counter() - t) * 1000

    def sample(self, n: int) -> None:
        self.samples += [self.run() for _ in range(n)]

    def median_ms(self) -> float:
        return float(statistics.median(self.samples))

    def scale(self) -> float:
        """Factor that turns a time measured in the timed phase into the
        time on a host where the reference job takes REF_NOMINAL_MS."""
        return REF_NOMINAL_MS / self.median_ms()
