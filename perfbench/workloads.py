"""The workloads. Each one loads its cached inputs and runs whole passes; a
pass is the unit every end-to-end metric is taken over:

- crawl:       one crawl of CRAWL_ROUNDS rounds (bench.py's crawl leg
               configuration), after a warm-up crawl of
               CRAWL_WARMUP_ROUNDS rounds in another directory
- core_round:  CORE_PASS_ROUNDS big scheduling rounds, each collapse →
               schedule → (materialize) → admit → (materialize), after
               CORE_WARMUP_ROUNDS warm-up rounds
- query_suite: one pass over bench.py's 28 timed queries in the process's
               fresh JVM

A pass returns its timings, the operations it attempted and failed, and
the failures the correctness check found.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import check
import inputs
from probes import inventory


@dataclass
class Pass:
    wall_s: float
    op_walls: list[float]
    items: int
    mb_written: float
    mb_stored: float
    attempted: int
    failed: int
    errors: list[str]
    spans_from: float = 0.0  # start and end of the pass's timed work,
    spans_to: float = 0.0  # to pick its spans and jobs
    detail: dict = field(default_factory=dict)


def _mb(files: dict[str, int]) -> float:
    return sum(files.values()) / 1e6


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def warmup(self) -> None:
        """Work done before timing starts; counted in setup_s."""

    def fresh_dir(self, name: str) -> str:
        d = os.path.join(self.ctx.work, name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d


# ---------------------------------------------------------------------------
# crawls
# ---------------------------------------------------------------------------

class Crawl(Workload):
    def load(self) -> None:
        from tor_spider_spark.plans.driver import CrawlDriver

        p, spark = self.ctx.path, self.spark
        self.cfg = inputs.crawl_config()
        corpus = spark.read.parquet(os.path.join(p, "corpus"))
        seeds = spark.read.parquet(os.path.join(p, "seeds.parquet"))
        robots = spark.read.parquet(os.path.join(p, "robots.parquet"))
        blacklist = inputs.load_json(p, "blacklist.json")
        self.budgets = inputs.load_json(p, "budgets.json")
        self.sim = inputs.load_json(p, "sim.json")
        self.driver = lambda d: CrawlDriver(spark, d, corpus, seeds, robots, blacklist, self.cfg)

    def warmup(self) -> None:
        d = self.fresh_dir("warmup")
        self.driver(d).run(max_rounds=inputs.CRAWL_WARMUP_ROUNDS)
        self.spark.catalog.clearCache()
        shutil.rmtree(d, ignore_errors=True)

    def run_pass(self) -> Pass:
        clock = self.ctx.clock
        d = self.fresh_dir("run")
        clock.begin(d)
        rounds = self.cfg.max_rounds
        t0 = time.time()
        try:
            clock.start_mark()
            drv = self.driver(d)
            n_summary = drv.run().n_scheduled
        except Exception as exc:  # a failed round fails the pass; report it
            done = sum(1 for k, _ in clock.marks if k == "commit")
            return Pass(time.time() - t0, [], 0, 0.0, 0.0, rounds, rounds - done,
                        [f"crawl: {type(exc).__name__}: {exc}"])
        wall = time.time() - t0
        written = clock.written()
        stored = inventory(d)
        # read back what was committed (untimed) and check it
        sched = [tuple(r) for r in drv.read("schedule").select("round", "rank", "url", "host").collect()]
        seen = [tuple(r) for r in drv.read("seen").select("url_hash", "first_round").collect()]
        pages = [
            tuple(r)
            for r in drv.read("pages").select("url", "round", "image_id", "caption", "phash").collect()
        ]
        sched, seen, pages = self.ctx.perturb_crawl(sched, seen, pages)
        errs = check.check_crawl(
            self.sim, sched, seen, pages, n_summary, self.budgets,
            self.cfg.default_host_budget, self.cfg.round_limit,
        )
        walls = clock.round_walls()
        self.spark.catalog.clearCache()
        return Pass(wall, walls, len(sched), _mb(written), _mb(stored), rounds,
                    rounds - len(walls), errs, spans_from=t0, spans_to=t0 + wall,
                    detail={"rounds": clock.rounds(), "written": written, "root": d})


# ---------------------------------------------------------------------------
# one big scheduling round
# ---------------------------------------------------------------------------

class CoreRound(Workload):
    def load(self) -> None:
        from tor_spider_spark.config import CrawlConfig

        p, spark = self.ctx.path, self.spark
        self.frontier = spark.read.parquet(os.path.join(p, "frontier"))
        self.robots = spark.read.parquet(os.path.join(p, "robots.parquet"))
        self.host_state = spark.read.parquet(os.path.join(p, "host_state.parquet"))
        self.seen = spark.read.parquet(os.path.join(p, "seen.parquet"))
        self.blacklist = inputs.load_json(p, "blacklist.json")
        self.oracle = inputs.load_json(p, "oracle.json")
        self.cfg = CrawlConfig(**inputs.CORE_CFG)

    def _round(self, d: str) -> None:
        """One scheduling round; the scheduled and admitted sets land under d."""
        from tor_spider_spark.operators import filters, politeness

        tracer = self.ctx.tracer
        spanned = (lambda name, fn: tracer.span(name, fn)) if tracer else (lambda name, fn: fn())
        persisted: list = []

        def schedule():
            cand = politeness.collapse_candidates(self.frontier)
            sched = politeness.schedule_round(
                cand, self.robots, self.host_state, inputs.CORE_ROUND, self.cfg, persisted
            )
            sched.write.mode("overwrite").parquet(os.path.join(d, "scheduled"))

        def admit():
            sched = self.spark.read.parquet(os.path.join(d, "scheduled"))
            adm = filters.admit(sched, self.robots, self.seen, self.blacklist)
            adm.write.mode("overwrite").parquet(os.path.join(d, "admitted"))

        spanned("core.schedule", schedule)
        spanned("core.admit", admit)
        for df in persisted:
            df.unpersist(True)

    def warmup(self) -> None:
        d = self.fresh_dir("warmup")
        for _ in range(inputs.CORE_WARMUP_ROUNDS):  # the first is ~4x a warm round
            self._round(d)

    def run_pass(self) -> Pass:
        d = self.fresh_dir("run")
        walls, errs = [], []
        t_start = time.time()
        for _ in range(inputs.CORE_PASS_ROUNDS):
            t0 = time.time()
            try:
                self._round(d)
            except Exception as exc:
                n = inputs.CORE_PASS_ROUNDS
                return Pass(sum(walls), walls, 0, 0.0, 0.0, n, n - len(walls),
                            errs + [f"core_round: {type(exc).__name__}: {exc}"])
            walls.append(time.time() - t0)
            t_end = time.time()
            s = pq.read_table(os.path.join(d, "scheduled"), columns=["url_hash", "rank"])
            a = pq.read_table(os.path.join(d, "admitted"), columns=["url_hash"])
            got = {
                "n_scheduled": s.num_rows,
                "scheduled_checksum": inputs.pair_checksum(s["url_hash"].to_numpy(), s["rank"].to_numpy()),
                "n_admitted": a.num_rows,
                "admitted_checksum": inputs.pair_checksum(a["url_hash"].to_numpy(), None),
            }
            errs += check.check_core(self.oracle, got)
        files = _mb(inventory(d))  # one round's sets: each round overwrites them
        n = len(walls)
        return Pass(sum(walls), walls, n * s.num_rows, files, files, n, 0, errs,
                    spans_from=t_start, spans_to=t_end)


# ---------------------------------------------------------------------------
# read-only batch operators
# ---------------------------------------------------------------------------

class QuerySuite(Workload):
    def load(self) -> None:
        import __spark_entry__ as entrymod

        self.queries = entrymod.queries()
        self.oracle = inputs.load_json(self.ctx.path, "oracle.json")

    def run_pass(self) -> Pass:
        tracer = self.ctx.tracer
        d = self.fresh_dir("run")
        t0 = time.time()
        walls, failed, errs, done = {}, 0, [], []
        for name in inputs.QUERY_NAMES:
            out = os.path.join(d, name)

            def q(name=name, out=out):
                self.queries[name](self.spark, self.ctx.path).write.parquet(out)

            tq = time.time()
            try:
                tracer.span(f"query.{name}", q) if tracer else q()
            except Exception as exc:
                failed += 1
                errs.append(f"{name}: {type(exc).__name__}: {exc}")
                continue
            walls[name] = time.time() - tq
            done.append(name)
        wall = time.time() - t0
        files = inventory(d)
        for name in done:
            t = pq.read_table(os.path.join(d, name))
            rows = [tuple(r.values()) for r in t.to_pylist()]
            rows = self.ctx.perturb_query(name, rows)
            errs += check.check_query(name, self.oracle[name], t.column_names, rows)
        errs = [e for e in errs if e]
        return Pass(wall, list(walls.values()), len(done), _mb(files), _mb(files),
                    len(inputs.QUERY_NAMES), failed, errs, spans_from=t0, spans_to=t0 + wall)


WORKLOADS = {
    "crawl": Crawl,
    "core_round": CoreRound,
    "query_suite": QuerySuite,
}
