"""Warehouse benchmark: one closed-loop client against the engine on
``local[<cores>]``.

    python3 perfbench/run.py --workload mart_serve --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run writes its seeded inputs, sets the
engine up, runs one untimed warm pass of every request type, then issues
whole rounds of requests for about ``--seconds`` seconds, checks every
op's output against a reference, and prints one JSON object as the last
line of standard output.  ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics and writes the spans to
``.perfbench_out/``.  All scratch files live under ``.perfbench_work/`` and
are removed at exit.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "postgresql_datawarehouse_excercise_spark"

EXEC_KEYS = ["jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "input_mb",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb"]
SETUP_KEYS = ["corpus", "session", "load", "build_all", "refresh", "warm"]
# per-layer metrics of the set-up: raw times, like setup_s (see README)
SETUP_LAYERS = ("setup.", "refresh.")
# reference-job samples per round: one sample varies by 13-25% within a
# run, so the median of 24 varies by about 3-6% from run to run
REF_SAMPLES = 24


@dataclass
class OpResult:
    name: str
    kind: str
    round_no: int
    input_dir: str
    ms: float = 0.0
    build_ms: float = 0.0
    plan_ms: float = 0.0
    hit: bool | None = None
    fingerprint: tuple | None = None
    columns: list | None = None
    error: str | None = None
    span: int | None = None
    ok: bool = False


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["mart_serve", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="star scale factor (default: the workload's own)")
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # the inputs are a few MB; a 1 GB driver heap holds them with room to
    # spare and keeps the JVM's peak RSS from drifting with GC timing
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ])


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit
    (also when stopping the session fails half-way)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:  # already closed; the JVM is stopped below either way
                pass
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


def run_op(tracer, req, input_dir: str, round_no: int, op_id: str,
           fingerprint: bool) -> OpResult:
    """One request consumed by a ``noop`` write; with ``fingerprint`` the
    write also carries the output fingerprint."""
    import checks

    res = OpResult(req.name, req.kind, round_no, input_dir)
    t0 = time.perf_counter()
    with tracer.span(req.name, op=op_id, round=round_no) as sp:
        try:
            with tracer.span("rewrite.sql" if req.kind == "sql" else "query.fn"):
                df = req.build(input_dir)
            res.build_ms = (time.perf_counter() - t0) * 1000
            if req.rewritten is not None:
                res.hit = req.rewritten()
            if tracer.enabled:
                with tracer.span("catalyst.plan"):
                    res.plan_ms = tracer.plan_ms(df)
            with tracer.span("sink.noop"):
                if fingerprint:
                    res.fingerprint = checks.noop_fingerprint(df)
                else:
                    df.write.format("noop").mode("overwrite").save()
            res.columns = sorted(df.columns)
        except Exception:
            res.error = traceback.format_exc(limit=3)
    res.ms = (time.perf_counter() - t0) * 1000
    if sp is not None:
        res.span = sp.index
    return res


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def hd_median(xs: list[float]) -> float:
    """Harrell-Davis estimate of the median: a mean of all order statistics
    weighted by the Beta((n+1)/2, (n+1)/2) density over each one's share of
    [0, 1].  A round holds 7 or 11 different requests, and the plain sample
    median jumps from one request type to the next between runs; this
    estimate moves smoothly."""
    xs = sorted(xs)
    n, a, steps = len(xs), (len(xs) + 1) / 2, 200
    w = [sum(((t := (i + (j + 0.5) / steps) / n) * (1 - t)) ** (a - 1) for j in range(steps))
         for i in range(n)]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def mean(xs: list[float]) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def layer_metrics(ops: list[OpResult], setup: dict, counters: dict, wl) -> dict:
    import workloads

    m: dict[str, tuple[float, str]] = {}
    for k in SETUP_KEYS:
        m[f"setup.{k}_s"] = (setup.get(k, 0.0), "s")
    b = wl.batch or workloads.RefreshBatch(delta_rows=0)
    for n in ["time", *workloads.REFRESH_MVS]:
        m[f"refresh.{n}_ms"] = (b.call_ms.get(n, 0.0), "ms")
    m["refresh.serve_ms"] = (b.serve_ms, "ms")
    m["refresh.batch_ms"] = (b.ms, "ms")
    m["refresh.rows_rewritten"] = (float(b.rows_rewritten), "count")
    m["refresh.rows_per_delta_row"] = (
        b.rows_rewritten / b.delta_rows if b.delta_rows else 0.0, "ratio")
    m["refresh.mb_written"] = (b.mb_written, "MB")
    m["warehouse_mb"] = (wl.warehouse_mb(), "MB")
    sql = [o for o in ops if o.kind == "sql"]
    entries = [o for o in ops if o.kind == "entry"]
    m["rewrite.call_ms"] = (mean([o.build_ms for o in sql]), "ms")
    m["rewrite.hit_ratio"] = (
        sum(1 for o in sql if o.hit) / len(sql) if sql else 0.0, "ratio")
    m["query.build_ms"] = (mean([o.build_ms for o in entries]), "ms")
    m["catalyst.plan_ms"] = (mean([o.plan_ms for o in ops]), "ms")
    per_op = [counters.get(o.span, {}) for o in ops]
    m["exec.ms"] = (mean([c.get("exec_ms", 0.0) for c in per_op]), "ms")
    for k in EXEC_KEYS:
        unit = {"ms": "ms", "mb": "MB"}.get(k.rsplit("_", 1)[-1], "count")
        m[f"exec.{k}"] = (mean([c.get(k, 0.0) for c in per_op]), unit)
    served = [n for n, _, _ in workloads.SQL_REQUESTS] + workloads.REPORT_ENTRIES
    for prefix, names in (("serve", served), ("curation", workloads.CURATION_ENTRIES)):
        for n in names:
            m[f"{prefix}.{n}_ms"] = (median([o.ms for o in ops if o.name == n]), "ms")
    return m


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE}/ not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    # a TERM unwinds through the finally blocks: JVM stopped, files removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    isolate(work)
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args: argparse.Namespace, work: str) -> int:
    import spans as tr
    import workloads

    from postgresql_datawarehouse_excercise_spark.session import get_spark

    wl_cls = workloads.WORKLOADS[args.workload]
    scale = args.scale if args.scale is not None else wl_cls.scale
    wl = wl_cls(work, args.seed, scale)
    setup: dict[str, float] = {}
    tracer = tr.Tracer(None, bool(args.trace))
    spark = None

    def phase(key: str, fn):
        t = time.perf_counter()
        with tracer.span(f"setup.{key}"):
            out = fn()
        setup[key] = setup.get(key, 0.0) + time.perf_counter() - t
        return out

    try:
        phase("corpus", wl.write_inputs)
        spark = phase("session", lambda: get_spark(f"perfbench-{args.workload}"))
        spark.sparkContext.setLogLevel("ERROR")
        tracer.spark = wl.spark = spark
        steal_start = tr.cpu_steal_s()
        phase("load", wl.load)
        phase("build_all", wl.build)
        phase("load", wl.publish)
        phase("refresh", lambda: wl.refresh(tracer.span))
        reqs = wl.requests()
        d = wl.inputs(-1)
        warm = phase("warm", lambda: [
            run_op(tracer, r, d, -1, f"warm-{r.name}", True) for r in reqs])
        setup_s = sum(setup.values())
        # untimed: the reference job takes about ten runs to reach its
        # JIT-compiled speed (the first runs take 2-3 times as long)
        refjob = tr.RefJob(spark)
        for _ in range(10):
            refjob.run()

        # A timed op is checked through a fingerprinted execution of the
        # same request on the same input.  Where the warm pass has one
        # (mart_serve) the timed op runs a plain noop write; otherwise
        # (curation, a fresh corpus per round) the timed op itself carries
        # the fingerprint, because a second execution after timing would
        # not fit the run's time budget.
        checked = {(o.name, o.input_dir): o for o in warm}
        per_gap = -(-REF_SAMPLES // (len(reqs) + 1))
        ops: list[OpResult] = []
        rounds: list[float] = []  # summed op times of each round
        round_wall: list[float] = []  # the same, with the reference jobs between ops
        t0 = time.perf_counter()
        with tracer.span("timed"):
            # whole rounds only, and none that would end past --seconds
            # going by the last round's time; at least one
            while not rounds or (time.perf_counter() - t0 + round_wall[-1]) <= args.seconds:
                d = wl.inputs(len(rounds))
                if d is None:
                    break
                order = list(reqs)
                random.Random(args.seed * 1009 + len(rounds)).shuffle(order)
                r0 = time.perf_counter()
                for r in order:
                    refjob.sample(per_gap)
                    ops.append(run_op(tracer, r, d, len(rounds), f"op-{len(ops)}",
                                      (r.name, d) not in checked))
                rounds.append(sum(o.ms for o in ops[-len(order):]) / 1000)
                round_wall.append(time.perf_counter() - r0)
            refjob.sample(per_gap)
        rss = tr.peak_rss_mb(spark)
        steal_s = tr.cpu_steal_s() - steal_start

        t_check = time.perf_counter()
        for o in ops:
            checked.setdefault((o.name, o.input_dir), o)
        refs = wl.references({d for _, d in checked})
        refresh_ok = wl.refresh_checks()
        check_s = time.perf_counter() - t_check
        for name, ok in refresh_ok.items():
            if not ok:
                print(f"perfbench: CHECK FAILED refresh {name}", file=sys.stderr)
        for key, o in checked.items():
            ref = refs.get(key)
            o.ok = o.error is None and ref is not None and (
                tuple(ref[0]) == o.fingerprint and ref[1] == o.columns)
            if not o.ok:
                print(f"perfbench: CHECK FAILED {o.name} round {o.round_no}: got "
                      f"{o.fingerprint} {o.columns}, want {ref}\n{o.error or ''}",
                      file=sys.stderr)
        for o in ops:
            o.ok = o.error is None and checked[(o.name, o.input_dir)].ok
            if o.error is not None:
                print(f"perfbench: FAILED {o.name} round {o.round_no}\n{o.error}",
                      file=sys.stderr)
        failed = sum(1 for o in ops if not o.ok)

        k = refjob.scale()
        summary = {
            "workload": args.workload, "seed": args.seed, "scale": scale,
            "raw": {"setup_s": round(setup_s, 3),
                    "wall_s": round(median(rounds), 3),
                    "op_p50_ms": round(median([o.ms for o in ops]), 1)},
            "ref_ms": [round(x, 1) for x in refjob.samples],
            "rounds": [round(r, 3) for r in rounds], "ops": len(ops),
            "op_ms": {o.name: round(o.ms, 1) for o in ops},
            "check_s": round(check_s, 3),
            "refresh": wl.batch and {
                "ms": round(wl.batch.ms, 1), "delta_rows": wl.batch.delta_rows,
                "served_from": wl.batch.served_from,
            },
            "steal_s": round(steal_s, 2),
        }
        print("perfbench: " + json.dumps(summary), file=sys.stderr)
        if args.trace:
            counters = tracer.harvest()
            metrics = layer_metrics(ops, setup, counters, wl)
            metrics = {
                name: (v * k if unit in ("s", "ms") and not name.startswith(SETUP_LAYERS)
                       else v, unit)
                for name, (v, unit) in metrics.items()
            }
            metrics["host.ref_ms"] = (refjob.median_ms(), "ms")
            tracer.dump(
                os.path.join(ROOT, ".perfbench_out",
                             f"trace-{args.workload}-seed{args.seed}.json"),
                counters, {**summary, "metrics": {k: v[0] for k, v in metrics.items()}},
            )
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (median(rounds) * k, "s"),
                "op_p50_ms": (hd_median([o.ms for o in ops]) * k, "ms"),
                "ok_ratio": ((len(ops) - failed) / len(ops), "ratio"),
                "peak_rss_mb": (rss, "MB"),
            }
        for k, (v, unit) in metrics.items():
            print(f"{k} = {v:.4f} {unit}")
        print(json.dumps({
            "correct": all(o.ok for o in [*checked.values(), *ops]) and all(refresh_ok.values()),
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
