#!/usr/bin/env python3
"""Benchmark of the crawl engine: one workload per process, one JSON line.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 5 --trace 0

Run from the repository root. The workload's inputs are generated from
--seed into perfbench/cache/ on first use (generation time is not part of
setup_s); ``--prepare`` only fills that cache. The engine then runs on
local[<cores>] for whole passes until --seconds have gone by, each pass's
outputs are checked against a reference computed apart from the engine,
and the last line printed is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, measured without tracing.
--trace 1 runs one traced pass after the same warm-up and reports the
per-layer metrics from it (see perfbench/README.md for the map from
layers to end-to-end metrics). ``--perturb`` corrupts one output before
the check, to show that the check can fail (perfbench/selftest.py).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
sys.path.insert(0, REPO)

import tor_spider_spark  # noqa: E402,F401  (fails fast outside a full checkout)

import inputs  # noqa: E402
import layers  # noqa: E402
from probes import RoundClock, Tracer, peak_rss_mb, process_start_epoch  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PERTURBATIONS = ("swap_schedule", "drop_seen", "change_query_row")


class Ctx:
    """What a workload needs: the session, its inputs and the probes."""

    def __init__(self, spark, path: str, work: str, perturb: str | None):
        self.spark, self.path, self.work, self.perturb = spark, path, work, perturb
        self.clock = RoundClock()
        self.tracer: Tracer | None = None

    def perturb_crawl(self, sched, seen, pages):
        if self.perturb == "swap_schedule":
            rows = sorted(sched, key=lambda r: (r[0], r[1]))
            i = next(k for k in range(len(rows) - 1) if rows[k][0] == rows[k + 1][0] == 1)
            (ra, ka, ua, ha), (rb, kb, ub, hb) = rows[i], rows[i + 1]
            rows[i], rows[i + 1] = (ra, ka, ub, hb), (rb, kb, ua, ha)
            sched = rows
        elif self.perturb == "drop_seen":
            seen = sorted(seen)[1:]
        return sched, seen, pages

    def perturb_query(self, name, rows):
        if self.perturb == "change_query_row" and name == "q1_pricing_summary":
            first = list(rows[0])
            first[-1] = first[-1] + 1  # count_order
            rows = [tuple(first)] + rows[1:]
        return rows


def _environment(workload: str, trace: bool) -> str:
    """Keep every file the run writes inside the checkout."""
    work = os.path.join(BENCH_DIR, ".work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    # a plain-text event log, so the stdlib summariser can read it
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false --conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false pyspark-shell"
    )
    if trace:
        os.environ["SPARK_EVENTLOG_DIR"] = os.path.join(work, "eventlog")
    else:
        os.environ.pop("SPARK_EVENTLOG_DIR", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return work


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    kids = _descendants(proc.pid)
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.time() + 20
    while kids and time.time() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        parent = todo.pop()
        try:
            with open(f"/proc/{parent}/task/{parent}/children") as fh:
                kids = [int(x) for x in fh.read().split()]
        except FileNotFoundError:
            kids = []
        out += kids
        todo += kids
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--prepare", action="store_true", help="only (re)generate the cached inputs")
    ap.add_argument("--perturb", choices=PERTURBATIONS)
    args = ap.parse_args(argv)

    proc_start = process_start_epoch()
    path, gen_s = inputs.ensure(args.workload, args.seed, regenerate=args.prepare)
    if args.prepare:
        print(json.dumps({"cache": path, "generate_s": round(gen_s, 2)}))
        return 0
    work = _environment(args.workload, args.trace == 1)
    try:
        return _run(args, proc_start, gen_s, path, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, proc_start: float, gen_s: float, path: str, work: str) -> int:
    from tor_spider_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(f"local[{args.cores}]", app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - t0
    ctx = Ctx(spark, path, work, args.perturb)
    ctx.clock.install()
    wl = WORKLOADS[args.workload](ctx)
    try:
        wl.load()
        wl.warmup()
        setup_s = time.time() - proc_start - gen_s

        passes = []
        if args.trace:  # one traced pass, after the same warm-up
            ctx.clock.uninstall()
            ctx.tracer = Tracer(spark.sparkContext)
            ctx.tracer.install_engine()
            ctx.clock.install()  # outermost, so commit spans exclude it
            passes.append(wl.run_pass())
            ctx.clock.uninstall()
            ctx.tracer.uninstall()
            tracer, ctx.tracer = ctx.tracer, None
            span_cost = Tracer(spark.sparkContext).cost_per_span()
        else:
            t_run = time.time()
            while not passes or time.time() - t_run < args.seconds:
                passes.append(wl.run_pass())
        rss = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        _stop(spark)

    ok = [p for p in passes if not p.failed]
    errors = [e for p in passes for e in p.errors]
    for e in errors[:20]:
        print(f"CHECK: {e}", file=sys.stderr)
    if not ok:
        print("every pass failed", file=sys.stderr)
        return 1
    if args.trace:
        import eventlog

        logdir = os.path.join(work, "eventlog")
        log = eventlog.read(os.path.join(logdir, sorted(os.listdir(logdir))[0]))
        traced = passes[0]
        per = layers.compute(args.workload, traced, tracer.spans, log, tracer.claims)
        per["session.start_s"] = session_s
        per["peak_rss_mb"] = rss
        n_spans = sum(1 for sp in tracer.spans if traced.spans_from <= sp["start"] <= traced.spans_to)
        per["trace.overhead_s"] = n_spans * span_cost
        metrics = {n: {"value": per[n], "unit": u} for n, u, _b in layers.names(args.workload)}
        _keep_trace(args, tracer.spans, per)
    else:
        med = statistics.median
        wall = med(p.wall_s for p in ok)
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall, "s"),
            "round_p50_s": (med(w for p in ok for w in p.op_walls), "s"),
            "items_per_s": (med(p.items / p.wall_s for p in ok), "items/s"),
            "mb_written": (med(p.mb_written for p in ok), "MB"),
            "mb_stored": (ok[-1].mb_stored, "MB"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps({
        "correct": not errors,
        "attempted": sum(p.attempted for p in passes),
        "failed": sum(p.failed for p in passes),
        "metrics": metrics,
    }))
    return 0


def _keep_trace(args, spans, per) -> None:
    out = os.path.join(inputs.CACHE, "traces")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{args.workload}-s{args.seed}.json"), "w") as fh:
        json.dump({"spans": spans, "metrics": per}, fh)


if __name__ == "__main__":
    sys.exit(main())
