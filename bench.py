#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line.

Three sections, all on local[$SPARK_GRAFT_CPUS] (default 32):

1. crawl      — the flagship: N rounds of the full crawl over a cached
                bench-scale synthetic onion web (image+caption payloads);
                reports urls scheduled+deduped per second (the
                BASELINE.json metric).
2. core       — one BIG scheduling round over a synthetic multi-million-row
                frontier (no fixture gen, pure engine): collapse →
                politeness rank → top-k → bloom+exact dedup.  This is the
                unit the N→4N scaling criterion is evidenced on
                (BENCH/scaling.py runs it at two parallelism levels).
3. queries    — operator timings at $SPARK_GRAFT_SF_DIR (default sf0.1),
                each executed to a noop sink (no driver collect cost).

Env knobs: SPARK_GRAFT_CPUS, SPARK_GRAFT_SF_DIR, SPARK_GRAFT_BENCH_MODE
(full|core-only), SPARK_GRAFT_CORE_ROWS (default 2_000_000).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from tor_spider_spark.config import CrawlConfig  # noqa: E402
from tor_spider_spark.session import get_spark  # noqa: E402

CACHE = os.path.join(REPO, "BENCH", "cache")
BENCH_KNOBS = dict(n_onion_hosts=2000, pages_per_host=15, hub_hosts=5, hub_factor=100, image_px=16)


def _ensure_bench_fixture(spark) -> str:
    """Generate-once, cache as parquet (deterministic; seed=42). The cache
    tag includes a hash of the generator source: a fixture cached before a
    generator change must never be silently reused (the r2 crawl-bench
    artifact ran on a cache generated before the clearnet-chain fixture
    change — exactly this staleness)."""
    import hashlib

    from tor_spider_spark.fixtures import corpus as corpus_mod
    from tor_spider_spark.fixtures.corpus import FixtureKnobs, generate_fixture
    from tor_spider_spark.plans.driver import write_fixture

    gen_hash = hashlib.md5(open(corpus_mod.__file__, "rb").read()).hexdigest()[:8]
    tag = "-".join(str(v) for v in BENCH_KNOBS.values()) + "-" + gen_hash
    path = os.path.join(CACHE, f"fixture-{tag}")
    marker = os.path.join(path, "_DONE")
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        fx = generate_fixture(FixtureKnobs(**BENCH_KNOBS))
        write_fixture(spark, fx, path)
        open(marker, "w").write("ok")
    return path


def bench_crawl(
    spark,
    rounds: int = 8,
    seed_traversal_depth: int | None = None,
    cfg_overrides: dict | None = None,
) -> dict:
    import tempfile

    from tor_spider_spark.plans.driver import CrawlDriver

    path = _ensure_bench_fixture(spark)
    corpus = spark.read.parquet(os.path.join(path, "corpus"))
    seeds = spark.read.parquet(os.path.join(path, "seeds"))
    robots = spark.read.parquet(os.path.join(path, "robots"))
    blacklist = open(os.path.join(path, "blacklist.txt")).read().splitlines()
    # traversal knob for like-for-like workload A/B: depth 0 disables the
    # clearnet seed traversal (the r1 workload shape); default = engine
    # default (env override SPARK_GRAFT_CRAWL_TRAVERSAL for subprocess runs)
    if seed_traversal_depth is None:
        env = os.environ.get("SPARK_GRAFT_CRAWL_TRAVERSAL")
        seed_traversal_depth = int(env) if env is not None else None
    extra = {} if seed_traversal_depth is None else {"seed_traversal_depth": seed_traversal_depth}
    extra.update(cfg_overrides or {})
    cfg = CrawlConfig(max_rounds=rounds, default_host_budget=64, round_limit=100_000, **extra)
    run_dir = tempfile.mkdtemp(prefix="bench-crawl-")
    drv = CrawlDriver(spark, run_dir, corpus, seeds, robots, blacklist, cfg)
    t0 = time.time()
    summary = drv.run()
    wall = time.time() - t0
    shutil.rmtree(run_dir, ignore_errors=True)
    return {
        "rounds": summary.rounds_run,
        "scheduled": summary.n_scheduled,
        "admitted": summary.n_admitted,
        "pages": summary.n_pages,
        "wall_sec": round(wall, 2),
        "scheduled_per_sec": round(summary.n_scheduled / wall, 1),
        "round_sec_avg": round(wall / max(summary.rounds_run, 1), 2),
    }


def bench_core(spark, n_rows: int) -> dict:
    """One big scheduling round: synthetic frontier of n_rows candidate
    URLs over n_rows/200 hosts (Zipf-ish host sizes via pmod of id^2),
    30% already seen. Measures the scheduled+deduped/sec core."""
    from tor_spider_spark import schemas
    from tor_spider_spark.operators.bloom import BloomShards
    from tor_spider_spark.operators.filters import admit
    from tor_spider_spark.operators.politeness import collapse_candidates, schedule_round

    n_hosts = max(n_rows // 200, 1)
    base = (
        spark.range(n_rows)
        .withColumn("hid", F.pmod(F.col("id") * F.col("id") + F.col("id"), F.lit(n_hosts)))
        .withColumn(
            "host", F.concat(F.lpad(F.conv(F.col("hid").cast("string"), 10, 32), 16, "a"), F.lit(".onion"))
        )
        .withColumn("url", F.concat(F.lit("http://"), F.col("host"), F.lit("/p"), F.col("id")))
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("host_hash", F.xxhash64("host"))
        .withColumn("depth", F.pmod(F.col("id"), F.lit(5)).cast("int"))
        .withColumn("priority", F.lit(1.0) / (1.0 + F.col("depth")))
        .withColumn("discovered_round", F.lit(0))
        .withColumn("is_seed", F.lit(False))
        .select(*[f.name for f in schemas.FRONTIER.fields])
    )
    frontier = base.localCheckpoint()
    seen = (
        frontier.where(F.pmod(F.col("url_hash"), F.lit(10)) < 3)
        .select("url_hash", "host_hash")
        .withColumn("first_round", F.lit(0))
        .localCheckpoint()
    )
    robots = spark.createDataFrame([], schemas.ROBOTS)
    host_state = spark.createDataFrame([], schemas.HOST_STATE)
    cfg = CrawlConfig(default_host_budget=1000, round_limit=n_rows)
    bloom = BloomShards(n_shards=64, m_bits=1 << 22, k=7)
    empty_shards = spark.createDataFrame([], schemas.BLOOM_SHARDS)
    shards = bloom.update(empty_shards, seen, 0).localCheckpoint()

    n_admitted = [0]

    def run_once(probe_factory) -> float:
        spark.catalog.clearCache()  # the rank stage persists; identical
        # re-runs would cache-hit on the logical plan and measure nothing
        t0 = time.time()
        # per-round timing (r5): the probe is built INSIDE the clock —
        # the driver rebuilds it every round, so the broadcast variant's
        # bitset collect+broadcast is per-round cost. probe() dispatches
        # on topology, so at local-cluster masters this leg measures the
        # partitioned probe — the path the engine actually takes there.
        probe = probe_factory() if probe_factory else None
        try:
            candidates = collapse_candidates(frontier)
            scheduled = schedule_round(candidates, robots, host_state, 1, cfg)
            admitted = admit(scheduled, robots, seen, [".*blocked.*"], probe)
            n_admitted[0] = admitted.count()
        finally:
            if probe is not None:  # a failed leg must not leak bitsets
                probe.release()
        return time.time() - t0

    # exact path = what the engine picks at this seen size; the bloom
    # probe engages above CrawlConfig.bloom_min_seen (10^10-scale path).
    # One warmup (JIT/codegen/page cache), then best of 2 — run-to-run
    # variance on a shared box is large.
    run_once(None)
    wall = min(run_once(None) for _ in range(3))
    # the bloom leg gets the SAME warmup + min-of-3 treatment — a single
    # cold run (first compile of the probe plan shape) reads ~2x slow on
    # this VM and fed BASELINE.md a spurious bloom-path regression
    # (code-review r5 #4)
    run_once(lambda: bloom.probe(shards))
    bloom_wall = min(run_once(lambda: bloom.probe(shards)) for _ in range(3))
    n_sched = n_rows  # all candidates pass politeness at this budget
    return {
        "frontier_rows": n_rows,
        "admitted": n_admitted[0],
        "wall_sec": round(wall, 2),
        "urls_per_sec": round(n_sched / wall, 1),
        "bloom_path_wall_sec": round(bloom_wall, 2),
        "bloom_path_urls_per_sec": round(n_sched / bloom_wall, 1),
    }


def bench_delta_claim(spark, n_rows: int = 1_000_000, n_hosts: int = 20_000) -> dict:
    """Per-round claim WRITE COST (r4, VERDICT r3 next #1): delete a
    scheduler-shaped batch (8 hosts × budget 8) from a host-range-layout
    frontier and compare bytes written against the legacy full overwrite
    of the same logical transition. The full sweep (batch scaling, the
    saturated worst case, the clustered invalidation shape) lives in
    BENCH/delta_claim.py; this leg keeps one headline ratio in every
    BENCH_r{N}.json."""
    import tempfile

    from pyspark.sql import functions as F

    from tor_spider_spark.schemas import FRONTIER
    from tor_spider_spark.sources.tables import SnapshotTable

    root = tempfile.mkdtemp(prefix="bench-delta-claim-")
    t = SnapshotTable(root, "frontier", FRONTIER, sort_col=("host_hash", "url_hash"),
                      max_records_per_file=10_000, range_partition=True)
    base = spark.range(n_rows).select(
        F.concat(F.lit("http://h"), (F.col("id") % n_hosts).cast("string"),
                 F.lit(".onion/p"), F.col("id")).alias("url"),
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
        F.concat(F.lit("h"), (F.col("id") % n_hosts).cast("string")).alias("host"),
        F.xxhash64((F.col("id") % n_hosts).cast("string")).alias("host_hash"),
        F.lit(3).alias("depth"), F.lit(0.25).alias("priority"),
        F.lit(0).alias("discovered_round"), F.lit(False).alias("is_seed"),
    ).persist()
    base.count()
    v1 = t.overwrite(base, 16)
    table_bytes = t.version_new_bytes(v1, 0)
    v1_files = {f for e in t._read_manifest(v1) for f in t._entry_files(e)}
    keys = spark.range(64).select(
        F.xxhash64(F.concat(F.lit("u"), (F.col("id") % 8) + (F.col("id") / 8).cast("long") * n_hosts)).alias("url_hash"),
        F.xxhash64((F.col("id") % 8).cast("string")).alias("host_hash"),
    )
    t0 = time.time()
    v2 = t.claim_merge(spark, keys, base.limit(0), prune_col="host_hash",
                       parent=v1, n_buckets=16)
    delta_wall = time.time() - t0
    delta_bytes = t.version_new_bytes(v2, v1)
    carried = sum(1 for e in t._read_manifest(v2) if e in v1_files)
    t0 = time.time()
    v3 = t.overwrite(
        t.read(spark, v1).join(keys.select("url_hash"), "url_hash", "left_anti"), 16
    )
    ow_wall = time.time() - t0
    ow_bytes = t.version_new_bytes(v3, v1)
    base.unpersist()
    shutil.rmtree(root, ignore_errors=True)
    return {
        "frontier_rows": n_rows,
        "claim_batch": 64,
        "claim_hosts": 8,
        "table_bytes": table_bytes,
        "files_total": len(v1_files),
        "files_carried": carried,
        "delta_bytes": delta_bytes,
        "overwrite_bytes": ow_bytes,
        "bytes_ratio_delta_vs_overwrite": round(delta_bytes / max(ow_bytes, 1), 4),
        "delta_wall_sec": round(delta_wall, 2),
        "overwrite_wall_sec": round(ow_wall, 2),
    }


def bench_bloom_scale(spark, n_seen: int = 6_000_000, n_cand: int = 2_000_000, dup_share: float = 0.1) -> dict:
    """The bloom probe's target regime (VERDICT r1 #2): seen ≥
    bloom_min_seen (5M), expansion-phase candidates (mostly NEW urls).
    Measures the seen-dedup stage alone — exact anti-join vs broadcast
    bloom probe + residual anti-join on the maybe-set — same inputs.
    The win comes from not shuffling the ~(1-dup_share) definite-negative
    candidates through the join at all."""
    from tor_spider_spark import schemas
    from tor_spider_spark.operators.bloom import BloomShards
    from tor_spider_spark.operators.filters import admit

    n_dup = int(n_cand * dup_share)
    base = (
        spark.range(n_cand)
        .withColumn("hid", F.pmod(F.col("id") * F.col("id") + F.col("id"), F.lit(n_cand // 200)))
        .withColumn(
            "host",
            F.concat(F.lpad(F.conv(F.col("hid").cast("string"), 10, 32), 16, "a"), F.lit(".onion")),
        )
        .withColumn("url", F.concat(F.lit("http://"), F.col("host"), F.lit("/p"), F.col("id")))
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("host_hash", F.xxhash64("host"))
        .withColumn("depth", F.lit(1))
        .withColumn("priority", F.lit(0.5))
        .withColumn("discovered_round", F.lit(0))
        .withColumn("is_seed", F.lit(False))
        .withColumn("rank", F.col("id").cast("int"))
        .withColumn("round", F.lit(1))
        .select("round", "rank", *[f.name for f in schemas.FRONTIER.fields])
    )
    candidates = base.localCheckpoint()
    # seen = the dup_share slice of the candidates + synthetic non-colliding rest
    seen = (
        candidates.where(F.col("rank") < n_dup)
        .select("url_hash", "host_hash")
        .unionByName(
            spark.range(n_seen - n_dup)
            .select(
                F.xxhash64(F.concat(F.lit("old"), F.col("id"))).alias("url_hash"),
                F.xxhash64(F.concat(F.lit("oldh"), F.pmod(F.col("id"), F.lit(10000)))).alias(
                    "host_hash"
                ),
            )
        )
        .withColumn("first_round", F.lit(0))
        .localCheckpoint()
    )
    robots = spark.createDataFrame([], schemas.ROBOTS)
    # size shards at ~10 bits/key for the ACTUAL seen count, next-pow2-≥
    # like CrawlConfig.bloom_knobs() (the x.bit_length() form doubles the
    # bitset on exact powers of two — the engine and the bench must build
    # the SAME bloom or the A/B measures a different operator) — an
    # undersized bloom saturates and marks everything "maybe"
    n_shards = 64
    m_bits = max(1 << 20, 1 << (max(1, 10 * n_seen // n_shards) - 1).bit_length())
    bloom = BloomShards(n_shards=n_shards, m_bits=m_bits, k=7)
    shards = bloom.update(
        spark.createDataFrame([], schemas.BLOOM_SHARDS), seen, 0
    ).localCheckpoint()

    def run_once(probe_factory) -> float:
        """PER-ROUND cost: probe construction is INSIDE the timed region
        (r5 fix). The crawl driver builds a fresh probe every round — the
        shards change each round — so the broadcast probe's bitset
        collect + re-broadcast + executor fetch is a per-round cost, not
        amortizable setup. Timing only the apply (the pre-r5 shape)
        flattered the broadcast probe exactly where VERDICT r4 flagged it
        (multi-JVM, where that setup crosses real process boundaries)."""
        spark.catalog.clearCache()
        t0 = time.time()
        probe = probe_factory() if probe_factory else None
        try:
            admit(candidates, robots, seen, [".*blocked.*"], probe).write.format(
                "noop"
            ).mode("overwrite").save()
        finally:
            # without the finally a failed leg leaks the probe's broadcast
            # bitsets (up to ~500 MB at 40M seen) into every later leg
            if probe is not None:
                probe.release()
        return time.time() - t0

    # the probe ships 2 longs/row through Arrow — large batches amortize
    # the per-batch UDF overhead (safe here: no payload columns in flight;
    # measured 1.12x -> 1.40x at seen=40M). Restored after the runs.
    prev_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
    try:
        run_once(None)  # warmup
        exact = min(run_once(None) for _ in range(3))
        run_once(lambda: bloom.probe_broadcast(shards))
        blm = min(run_once(lambda: bloom.probe_broadcast(shards)) for _ in range(3))
        # the partition-aligned cogroup probe (the ≥10^9-seen deployment
        # path, VERDICT r2 #2) measured on the same inputs: its extra cost
        # vs broadcast is the slim-key exchange + shard shuffle
        run_once(lambda: bloom.probe_partitioned(shards))
        blm_part = min(
            run_once(lambda: bloom.probe_partitioned(shards)) for _ in range(3)
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev_batch)
        # release the 40M-row localCheckpoint blocks: legs that run after
        # this one (the crawl) were measured 15-25% slower under the heap
        # pressure they leave behind
        for df in (candidates, seen, shards):
            df.unpersist(True)
    return {
        "seen_rows": n_seen,
        "cand_rows": n_cand,
        "dup_share": dup_share,
        "timing": "per-round (probe build + apply + release inside the clock)",
        "exact_wall_sec": round(exact, 2),
        "bloom_wall_sec": round(blm, 2),
        "bloom_part_wall_sec": round(blm_part, 2),
        "exact_urls_per_sec": round(n_cand / exact, 1),
        "bloom_urls_per_sec": round(n_cand / blm, 1),
        "bloom_part_urls_per_sec": round(n_cand / blm_part, 1),
        "bloom_speedup": round(exact / blm, 3),
        "bloom_part_speedup": round(exact / blm_part, 3),
    }


def bench_calibrate(spark) -> dict:
    """Hardware-ceiling calibration: an embarrassingly parallel pure-CPU
    job (sha2 over 30M longs, no shuffle). Whatever scaling THIS shows is
    the most the box can give any engine; BENCH/scaling.py normalizes the
    engine's efficiency against it (this shared VM delivers only ~2x going
    8->32 threads even for perfect-parallel work)."""
    import time as _t

    df = spark.range(30_000_000)

    def q():
        df.select(
            F.count(F.when(F.sha2(F.col("id").cast("string"), 256).startswith("00"), 1))
        ).collect()

    q()
    best = 1e9
    for _ in range(3):
        t0 = _t.time()
        q()
        best = min(best, _t.time() - t0)
    return {"rows_per_sec": round(30_000_000 / best, 1), "wall_sec": round(best, 3)}


_BENCH_QUERIES = [
    "q1_pricing_summary",
    "skew_join",
    "broadcast_join",
    "window_rank_topk",
    "topk_global",
    "anti_join",
    "groupby_count",
    "union_distinct",
    "distinct_count",
    "tumbling_window",
    "dedup_exact",
    "dedup_incremental",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_simhash",
    "dedup_phash_hamming",
    "dedup_phash_clusters",
    "dedup_embedding_cosine",
    "dedup_embedding_clusters",
    "ann_cosine_topk",
    "text_quality",
    "token_count",
    "bpe_token_count",
    "repetition_top_bigram",
    "type_token_ratio",
    "token_quantiles",
    "extract_links",
]


def bench_queries(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    out = {}
    for name in _BENCH_QUERIES:
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[name] = round(time.time() - t0, 3)
    return out


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    mode = os.environ.get("SPARK_GRAFT_BENCH_MODE", "full")
    core_rows = int(os.environ.get("SPARK_GRAFT_CORE_ROWS", "2000000"))
    # SPARK_GRAFT_MASTER overrides, e.g. local-cluster[4,8,8192] for a
    # true multi-executor-JVM run on one box
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    spark = get_spark(master, app_name="tor-spider-bench")
    spark.sparkContext.setLogLevel("ERROR")

    t_all = time.time()
    result: dict = {"sf": sf_dir, "cpus": int(cpus), "master": master}
    if mode == "calibrate":
        result["calibration"] = bench_calibrate(spark)
        result.update(metric="pure-cpu calibration rows/sec", value=result["calibration"]["rows_per_sec"], unit="rows/sec", queries={}, total_sec=round(time.time() - t_all, 1))
        print(json.dumps(result))
        spark.stop()
        return
    # Same-window hardware ceiling (~10 s, fresh heap): raw walls on this
    # shared VM move ~2x between grant windows (measured 54.6M vs 27.9M
    # calibration rows/s on consecutive days), so every BENCH_r{N}.json
    # carries its own pure-CPU calibration — cross-round wall-clock
    # comparisons divide by it (BENCH/BASELINE.md methodology).
    result["calibration"] = bench_calibrate(spark)
    if mode == "bloom-only":
        # the probe-path A/B at one topology (BENCH/bloom_lc_ab.py runs
        # this under local-cluster masters — the multi-JVM dispatch
        # evidence, VERDICT r4 next #1)
        n_seen = int(os.environ.get("SPARK_GRAFT_BLOOM_SEEN", "40000000"))
        result["bloom_scale"] = bench_bloom_scale(spark, n_seen=n_seen)
        result.update(metric="bloom-path urls/sec", value=result["bloom_scale"]["bloom_urls_per_sec"], unit="urls/sec", queries={}, total_sec=round(time.time() - t_all, 1))
        result["value_per_mcalib"] = round(
            result["value"] / (result["calibration"]["rows_per_sec"] / 1e6), 1
        )
        print(json.dumps(result))
        spark.stop()
        return
    core = bench_core(spark, core_rows)
    result["core"] = core
    if mode != "core-only":
        # the bloom probe's engaged regime (seen >= bloom_min_seen): must
        # show bloom_speedup >= 1 or the probe gate is mis-calibrated.
        # Runs BEFORE the crawl leg: a heap full of crawl/fixture state
        # was measured to flip this margin (0.93x contaminated vs
        # 1.12-1.40x clean at 40M, 1.15x at 60M).
        result["bloom_scale"] = bench_bloom_scale(spark, n_seen=40_000_000)
        result["delta_claim"] = bench_delta_claim(spark)
        result["crawl"] = bench_crawl(spark)
        # design-point rehearsal (VERDICT r4 next #2): the same crawl with
        # EVERY scale mechanism engaged at once — bloom probe forced onto
        # the partition-aligned path, delta claim, chunked files,
        # compaction+vacuum rotation. Interactions (compaction rewriting
        # the range layout mid-crawl, vacuum vs carried delta files) are
        # what the isolated legs miss. This is a does-it-hold-together
        # regression record, NOT an A/B against the plain crawl leg: two
        # sequential same-JVM walls on this VM are not comparable
        # (measured 77.7s -> 40.5s back-to-back on identical code) — any
        # real cost comparison needs interleaved fresh-JVM passes
        # (BENCH/crawl_ab.py methodology).
        result["design_point"] = bench_crawl(
            spark,
            cfg_overrides=dict(
                bloom_min_seen=0,
                bloom_broadcast_max_bytes=0,
                table_max_records_per_file=20_000,
                compact_every=3,
                vacuum_keep_versions=2,
                phash_dedup_dist=16,
            ),
        )
        result["queries"] = bench_queries(spark, sf_dir)
    else:
        result["queries"] = {}
    result["metric"] = "frontier urls scheduled+deduped per sec (core big-round)"
    result["value"] = core["urls_per_sec"]
    result["unit"] = "urls/sec"
    # headline ÷ same-window ceiling, in urls/s per M calib rows/s —
    # the number that IS comparable across rounds on this VM
    result["value_per_mcalib"] = round(
        core["urls_per_sec"] / (result["calibration"]["rows_per_sec"] / 1e6), 1
    )
    result["total_sec"] = round(time.time() - t_all, 1)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
