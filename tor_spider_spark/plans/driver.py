"""Round-loop driver: orchestrates crawl rounds over snapshot tables with
atomic per-round checkpoints and deterministic resume (SURVEY §3.2/§3.5).

The reference's main loop — 1 s refill ticker, batch pop, worker pool,
graceful stop with flush-back (spider/mongojobsstorage.go:79-111,
spider/spider.go:371-392) — maps to: one batch job per round; the round's
table versions commit atomically via the checkpoint file, so a kill at any
point resumes from the last committed round with identical results
(north rule; proven by tests/test_resume.py).
"""

from __future__ import annotations

import logging
import os
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..config import CrawlConfig
from ..fixtures.corpus import Fixture
from ..functions.urls import with_url_identity
from ..operators.bloom import BloomShards
from ..sources.tables import CheckpointLog, SnapshotTable
from .crawl_round import run_round

_log = logging.getLogger("tor_spider_spark.driver")

_TABLES = {
    "frontier": schemas.FRONTIER,
    "seen": schemas.SEEN,
    "pages": schemas.PAGES,
    "schedule": schemas.SCHEDULE,
    "host_state": schemas.HOST_STATE,
    "bloom_shards": schemas.BLOOM_SHARDS,
    "metrics": schemas.METRICS,
    # streamed seed events (streaming/seed_stream.py writes, the round loop
    # drains; the checkpoint pins the consumed version)
    "seed_inbox": schemas.SEED_INBOX,
}


def fixture_to_dfs(spark: SparkSession, fx: Fixture) -> dict[str, DataFrame]:
    corpus = spark.createDataFrame(
        [tuple(r[f.name] for f in schemas.CORPUS.fields) for r in fx.corpus], schemas.CORPUS
    )
    seeds = spark.createDataFrame(
        [(s["url"], bool(s["is_seed"]), int(s["recrawl_every"])) for s in fx.seeds], schemas.SEEDS
    )
    robots = spark.createDataFrame(
        [
            (r["host"], r["disallow_prefixes"], int(r["crawl_delay_ms"]), r["max_per_round"])
            for r in fx.robots
        ],
        schemas.ROBOTS,
    )
    return {"corpus": corpus, "seeds": seeds, "robots": robots}


def write_fixture(spark: SparkSession, fx: Fixture, path: str) -> None:
    dfs = fixture_to_dfs(spark, fx)
    dfs["corpus"].repartition(8).write.mode("overwrite").parquet(os.path.join(path, "corpus"))
    dfs["seeds"].coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "seeds"))
    dfs["robots"].coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "robots"))
    with open(os.path.join(path, "blacklist.txt"), "w") as fh:
        fh.write("\n".join(fx.blacklist))


@dataclass
class CrawlSummary:
    rounds_run: int = 0
    n_scheduled: int = 0
    n_admitted: int = 0
    n_pages: int = 0
    round_stats: list[dict] = field(default_factory=list)


class CrawlDriver:
    def __init__(
        self,
        spark: SparkSession,
        run_dir: str,
        corpus: DataFrame,
        seeds: DataFrame,
        robots: DataFrame,
        blacklist_patterns: list[str],
        cfg: CrawlConfig | None = None,
        use_bloom: bool = True,
        iceberg_catalog: str | None = None,
    ):
        self.spark = spark
        self.cfg = cfg or CrawlConfig()
        self.run_dir = run_dir
        if iceberg_catalog is not None:
            # feature-flagged real-Iceberg backend (sources/iceberg.py);
            # requires the runtime jar + a configured Spark catalog
            from ..sources.iceberg import IcebergTable, iceberg_available

            if not iceberg_available(spark, iceberg_catalog):
                raise RuntimeError(
                    f"iceberg catalog '{iceberg_catalog}' not available on this session"
                )
            self.tables = {
                n: IcebergTable(spark, iceberg_catalog, n, s, self.cfg.n_buckets)
                for n, s in _TABLES.items()
            }
        else:
            # claim-key clustering for the delta-claim path: frontier
            # commits sort by url_hash (claims delete by it), host_state
            # by host_hash (upserts prune by it) — narrow footer ranges
            # make _prune_entries effective (tables.py)
            # frontier sorts (host_hash, url_hash): the scheduler's claim
            # batches are HOST-clustered (per-host top-k), so host-range
            # pruning touches ≈ one file run per claimed host — url-sorted
            # files would cross-match every bucket's ranges instead
            # (measured in BENCH/delta_claim.json)
            sort_cols = {"frontier": ("host_hash", "url_hash"), "host_state": "host_hash"}
            self.tables = {
                n: SnapshotTable(
                    run_dir,
                    n,
                    s,
                    sort_col=sort_cols.get(n),
                    max_records_per_file=(
                        self.cfg.table_max_records_per_file if n in sort_cols else 0
                    ),
                    # host-RANGE layout on the claim tables: hash-bucketed
                    # files each tile the full hash range, defeating the
                    # min-max pruning the delta claim depends on (see
                    # SnapshotTable.range_partition)
                    range_partition=n in sort_cols,
                )
                for n, s in _TABLES.items()
            }
        self.log = CheckpointLog(run_dir)
        # slim/payload split: frontier math never reads image bytes (§4.4)
        self.corpus_slim = corpus.select("url", "status", "out_links")
        self.corpus_payload = corpus.select(
            "url", "status", "image_id", "bytes", "w", "h", "fmt", "caption", "phash"
        )
        self.seeds = seeds
        self.robots = robots
        self.blacklist = blacklist_patterns
        # the three bloom knobs that must agree (sizing, broadcast cap,
        # gate) derive in ONE place: CrawlConfig.bloom_knobs()
        self.bloom = BloomShards(**self.cfg.bloom_knobs()) if use_bloom else None

    def _seed_frontier(self, round_no: int, periodic_only: bool) -> DataFrame:
        return self._frontier_rows(self.seeds, round_no, periodic_only)

    def _frontier_rows(self, seeds_df: DataFrame, round_no: int, periodic_only: bool) -> DataFrame:
        """Seed events (url, recrawl_every) → seed-lineage frontier rows."""
        s = seeds_df
        if periodic_only:
            s = s.where((F.col("recrawl_every") > 0) & (F.lit(round_no) % F.col("recrawl_every") == 0))
        return with_url_identity(s.select("url")).select(
            "url",
            "url_hash",
            "host",
            "host_hash",
            F.lit(0).alias("depth"),
            F.lit(1.0).alias("priority"),
            F.lit(round_no).alias("discovered_round"),
            F.lit(True).alias("is_seed"),
        )

    def run(self, max_rounds: int | None = None, resume: bool = True) -> CrawlSummary:
        cfg = self.cfg
        max_rounds = max_rounds if max_rounds is not None else cfg.max_rounds
        spark = self.spark
        t = self.tables

        last = self.log.last() if resume else None
        if last:
            pinned = dict(last["versions"])
            for name in _TABLES:  # checkpoints written before a table existed
                pinned.setdefault(name, 0)
            start = last["round"] + 1
            unstored = None  # resumed frontier comes entirely from the table
            frontier = t["frontier"].read(spark, pinned["frontier"])
            seen = t["seen"].read(spark, pinned["seen"])
            host_state = t["host_state"].read(spark, pinned["host_state"])
            blooms = t["bloom_shards"].read(spark, pinned["bloom_shards"])
            # scheduler small-round hint: exact count from table metadata
            # (parquet footers / Iceberg snapshot summary) — no Spark job
            frontier_rows = t["frontier"].row_count(pinned["frontier"])
            host_state_rows = t["host_state"].row_count(pinned["host_state"])
        else:
            pinned = {name: 0 for name in _TABLES}
            start = 0
            frontier = self._seed_frontier(0, periodic_only=False)
            # the fresh-start seed frontier exists ONLY in memory (the
            # stored table is empty): the delta claim must carry its
            # unscheduled rows forward explicitly, exactly like inbox
            # injections — without this, seeds beyond round-0 capacity
            # (round_limit / host budget) were silently lost
            unstored = frontier
            seen = t["seen"].read(spark, 0)
            host_state = t["host_state"].read(spark, 0)
            blooms = t["bloom_shards"].read(spark, 0)
            frontier_rows = self.seeds.count()  # one tiny startup job
            host_state_rows = 0
        robots_rows = self.robots.count()  # once per run; dim dispatch below

        summary = CrawlSummary()
        # seen row count for the bloom gate comes from the checkpoint (the
        # driver maintains it as admitted-onion accumulates) — never a
        # startup full scan, which at 10^10 seen would read the whole table
        if last and "seen_count" in last:
            seen_count = int(last["seen_count"])
        elif last and self.bloom:
            seen_count = seen.count()  # pre-r2 checkpoint: count once
        else:
            seen_count = 0
        # per-phase wall profiling (SPARK_GRAFT_PROFILE=1): the crawl-bench
        # wall is dominated by per-round FIXED overhead, so the breakdown
        # (round compute vs table writes vs commit/readback) is the first
        # thing to look at when it regresses
        prof = os.environ.get("SPARK_GRAFT_PROFILE") == "1"
        for rnd in range(start, max_rounds):
            t_round0 = time.time()
            # drain the streamed seed inbox (S1/S2): versions newer than the
            # checkpoint-consumed one inject as one-shot seed rows THIS
            # round; periodic inbox rows re-enqueue below like static seeds.
            # has_new is backend-specific: monotonic int compare on
            # SnapshotTable, id inequality on Iceberg (snapshot ids are
            # random longs — ADVICE r2 #2)
            inbox_v = t["seed_inbox"].latest_version()
            if t["seed_inbox"].has_new(pinned["seed_inbox"], inbox_v):
                fresh = t["seed_inbox"].read_new(spark, pinned["seed_inbox"], inbox_v)
                injected = self._frontier_rows(fresh, rnd, periodic_only=False)
                frontier = frontier.unionByName(injected)
                # one-shot inbox rows join the round's in-memory-only set
                unstored = (
                    injected if unstored is None else unstored.unionByName(injected)
                )
                frontier_rows = None  # injected rows uncounted: hint unknown
            if frontier.isEmpty():
                break
            # adaptive probe: bloom short-circuit only once `seen` is big
            # enough that the exact anti-join shuffle dominates (config.py)
            probe = (
                # round_limit bounds the candidate set the probe sees (the
                # scheduled batch) — lets the partitioned probe keep its
                # broadcast re-attach; unbounded callers get a shuffle join
                self.bloom.probe(blooms, candidate_rows_hint=cfg.round_limit)
                if self.bloom and seen_count >= cfg.bloom_min_seen
                else None
            )
            t_pre = time.time()
            res = run_round(
                rnd,
                frontier,
                seen,
                host_state,
                self.robots,
                self.corpus_slim,
                self.corpus_payload,
                self.blacklist,
                cfg,
                bloom_probe=probe,
                frontier_rows=frontier_rows,
                # host-dim joins broadcast only while the dims are KNOWN
                # small (metadata counts; cfg.broadcast_dim_max_rows) —
                # at 10^7-host scale they become shuffle joins instead of
                # a forced driver-side broadcast. An UNKNOWN count
                # (IcebergTable.row_count → None when the snapshot summary
                # lacks 'total-records') must disable the broadcast, not
                # enable it: treating None as 0 would force-broadcast
                # exactly when smallness cannot be proven (ADVICE r3 #1)
                broadcast_dims=(
                    host_state_rows is not None
                    and robots_rows + host_state_rows <= cfg.broadcast_dim_max_rows
                ),
                # content dedup (cfg.phash_dedup_dist): the stored-phash
                # reference is ONE pruned column of the pages table at the
                # checkpoint-pinned version (prior rounds only — this
                # round's own pages dedup intra-round inside run_round);
                # pinning makes resume re-runs see exactly what the
                # original run saw
                stored_phashes=(
                    t["pages"].read(spark, pinned["pages"]).select("phash")
                    if cfg.phash_dedup_dist is not None
                    else None
                ),
            )
            t_compute = time.time()
            # next-round seed rows (periodic re-seeds + streamed periodic
            # seeds) — appended by the frontier claim below
            extra_seeds = self._seed_frontier(rnd + 1, periodic_only=True)
            if inbox_v != 0:
                # streamed periodic seeds follow the same recrawl rule
                extra_seeds = extra_seeds.unionByName(
                    self._frontier_rows(
                        t["seed_inbox"].read(spark, inbox_v), rnd + 1, periodic_only=True
                    )
                )

            # per-partition lineage metrics (north rule)
            metrics = res.scheduled.groupBy(
                F.spark_partition_id().alias("partition_id")
            ).agg(F.count("*").alias("value")).select(
                F.lit(rnd).alias("round"),
                "partition_id",
                F.lit("n_scheduled_partition").alias("metric"),
                "value",
            )

            # DELTA-COST claim (VERDICT r3 next #1/#4): delete the scheduled
            # keys + append the round's additions — write I/O ∝ batch, not
            # table (reference DeleteMany $in, mongojobsstorage.go:165-180).
            # host_state upserts only the hosts whose last_fetch_round
            # changed this round.
            additions = res.discovered_rows.unionByName(extra_seeds)
            if unstored is not None:
                # rows that exist only in the in-memory frontier (fresh-start
                # seeds, one-shot inbox injections) never reached the stored
                # table — carry the UNSCHEDULED ones forward or they are
                # silently lost when they exceed round capacity
                additions = additions.unionByName(
                    unstored.join(res.scheduled.select("url_hash"), "url_hash", "left_anti")
                )

            # the 6 table writes are independent of each other: run them as
            # concurrent Spark jobs (threads share the SparkContext; the
            # scheduler interleaves their stages, hiding per-job latency —
            # analog of the reference's parallel Mongo/ES flush goroutines,
            # mongojobsstorage.go:255-291 / elasticpagestorage.go:96-144).
            # Appends build on the checkpoint-PINNED parent, never on
            # latest_version(): a kill between these writes and the commit
            # below leaves orphan manifests, and the re-run round must not
            # fold their commit dirs in (would duplicate rows on resume).
            jobs: dict[str, Callable[[], int]] = {
                "seen": lambda: t["seen"].append(res.new_seen, cfg.n_buckets, parent=pinned["seen"]),
                "pages": lambda: t["pages"].append(res.pages, cfg.n_buckets, parent=pinned["pages"]),
                "schedule": lambda: t["schedule"].append(
                    scheduled_projection(res.scheduled), parent=pinned["schedule"]
                ),
                "frontier": lambda: t["frontier"].claim_merge(
                    spark,
                    # host_hash rides along for host-range file pruning
                    # (url determines host, so pruning on it is sound)
                    res.scheduled.select("url_hash", "host_hash"),
                    additions,
                    prune_col="host_hash",
                    parent=pinned["frontier"],
                    n_buckets=cfg.n_buckets,
                    # the scheduler hard-caps the batch at round_limit —
                    # saves the guard's count job every round
                    keys_rows_hint=cfg.round_limit,
                ),
                "host_state": lambda: t["host_state"].upsert_keys(
                    spark,
                    res.host_delta,
                    key_cols=("host",),
                    prune_col="host_hash",
                    parent=pinned["host_state"],
                    # without this the commits keep their hash-shuffle
                    # partitioning, every file tiles the full host range
                    # and later upserts re-rewrite the whole table
                    n_buckets=cfg.n_buckets,
                    # touched hosts ≤ scheduled rows ≤ round_limit
                    keys_rows_hint=cfg.round_limit,
                ),
            }
            if self.bloom:
                # the overwrite IS the materializing action; next round
                # reads the committed parquet back (lineage truncation via
                # the table, like every other state table — replaces the
                # former blocking per-round localCheckpoint job)
                blooms_next = self.bloom.update(blooms, res.new_seen, rnd)
                jobs["bloom_shards"] = lambda: t["bloom_shards"].overwrite(blooms_next)
            t_wr0 = time.time()
            with ThreadPoolExecutor(max_workers=len(jobs) + 1) as pool:
                futures = {name: pool.submit(fn) for name, fn in jobs.items()}
                # n_admitted isn't persisted anywhere (new_seen drops the
                # already-seen and clearnet rows), so it is the one counter
                # that still needs a job — a count on the round-cached
                # admitted DF, overlapped with the table writes
                adm_future = pool.submit(res.admitted.count)
                versions = {name: fut.result() for name, fut in futures.items()}
                n_admitted = int(adm_future.result())
            t_wr1 = time.time()
            if not self.bloom:
                versions["bloom_shards"] = t["bloom_shards"].latest_version()

            # exact counters from what was COMMITTED: each append's
            # row-count delta comes from the commit-sidecar/footer metadata
            # (driver JSON reads, no Spark job). Observation counters were
            # abandoned here — under a multi-JVM master the observed cached
            # subtree can execute twice inside one action and CollectMetrics
            # double-counts (see RoundResult) — and these deltas are what
            # the engine actually wrote, the only number worth reporting.
            def _append_delta(name: str) -> int | None:
                new = t[name].row_count(versions[name])
                old = t[name].row_count(pinned[name])
                return None if new is None or old is None else new - old

            d = _append_delta("schedule")
            n_scheduled = int(d) if d is not None else res.scheduled.count()
            if res.n_pages is not None:
                n_pages = res.n_pages  # filtered path counted stored pages
            else:
                d = _append_delta("pages")
                n_pages = int(d) if d is not None else res.pages.count()
            d = _append_delta("seen")
            new_seen_rows = int(d) if d is not None else n_admitted

            globals_df = spark.createDataFrame(
                [
                    (rnd, -1, "n_scheduled", n_scheduled),
                    (rnd, -1, "n_admitted", n_admitted),
                    (rnd, -1, "n_pages", n_pages),
                    (rnd, -1, "n_discovered", res.n_discovered),
                ],
                schemas.METRICS,
            )
            versions["metrics"] = t["metrics"].append(
                metrics.unionByName(globals_df), parent=pinned["metrics"]
            )
            # record the consumed inbox version (the round's seed injections
            # are reproducible from it on resume)
            versions["seed_inbox"] = inbox_v
            if cfg.compact_every and (rnd + 1) % cfg.compact_every == 0:
                # bound small-file growth on the append-only tables; the
                # compacted version is what the checkpoint pins. The delta
                # claim leaves frontier/host_state one small additions-commit
                # per round too — same rotation (Iceberg rewrite_data_files
                # analog)
                for name in ("seen", "pages", "frontier", "host_state"):
                    versions[name] = t[name].compact(spark, cfg.n_buckets)
            # exact growth of the seen table this round (the bloom gate
            # compares it against bloom_min_seen; was an n_admitted upper
            # estimate before the sidecar deltas made exact free)
            seen_count += new_seen_rows
            # the checkpoint write IS the round's atomic commit point
            self.log.commit(rnd, versions, extra={"seen_count": seen_count})
            pinned = dict(versions)
            if (
                cfg.vacuum_keep_versions
                and cfg.compact_every
                and (rnd + 1) % cfg.compact_every == 0
            ):
                # AFTER the commit: the just-written checkpoint (the only
                # resume target) pins the newest versions, so expiring
                # older ones cannot strand a resume (expire_snapshots
                # analog; bounds storage over long crawls). seed_inbox is
                # exempt: its incremental drain diffs manifests back to
                # the checkpoint-CONSUMED version, which may be arbitrarily
                # old when no seeds have streamed in for a while
                for name, table in t.items():
                    if name != "seed_inbox":
                        table.vacuum(keep_versions=cfg.vacuum_keep_versions)

            for df in res.persisted:  # round is committed; release cache
                df.unpersist(False)
            if probe is not None:
                # free the probe's broadcast bitsets now instead of waiting
                # for Python GC — they grow with seen and there is one per
                # round (ADVICE r2 #5)
                probe.release()
            # roll state from the committed snapshots (lineage truncation);
            # every formerly in-memory-only row is in the table now
            unstored = None
            frontier = t["frontier"].read(spark, versions["frontier"])
            frontier_rows = t["frontier"].row_count(versions["frontier"])
            host_state_rows = t["host_state"].row_count(versions["host_state"])
            seen = t["seen"].read(spark, versions["seen"])
            host_state = t["host_state"].read(spark, versions["host_state"])
            if self.bloom:
                blooms = t["bloom_shards"].read(spark, versions["bloom_shards"])

            if prof:
                _log.warning(
                    "prof round=%d drain=%.2f compute=%.2f mid=%.2f writes=%.2f tail=%.2f total=%.2f",
                    rnd,
                    t_pre - t_round0,
                    t_compute - t_pre,
                    t_wr0 - t_compute,
                    t_wr1 - t_wr0,
                    time.time() - t_wr1,
                    time.time() - t_round0,
                )
            # status heartbeat (reference logs registry.Statuses() on a
            # ticker, main.go:178-196 — here once per committed round)
            _log.info(
                "round=%d scheduled=%d admitted=%d pages=%d discovered=%d",
                rnd,
                n_scheduled,
                n_admitted,
                n_pages,
                res.n_discovered,
            )
            summary.rounds_run += 1
            summary.n_scheduled += n_scheduled
            summary.n_admitted += n_admitted
            summary.n_pages += n_pages
            summary.round_stats.append(
                {
                    "round": rnd,
                    "scheduled": n_scheduled,
                    "admitted": n_admitted,
                    "pages": n_pages,
                    "discovered": res.n_discovered,
                }
            )
        return summary

    # committed-state readers -------------------------------------------------
    def read(self, name: str) -> DataFrame:
        last = self.log.last()
        v = last["versions"][name] if last else None
        return self.tables[name].read(self.spark, v)


def scheduled_projection(scheduled: DataFrame) -> DataFrame:
    return scheduled.select("round", "rank", "url", "url_hash", "host", "depth", "priority")
