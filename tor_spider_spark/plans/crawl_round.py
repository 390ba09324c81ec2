"""One crawl round as a pure DataFrame program (SURVEY §3.2 Spark mirror).

    frontier ─(collapse + politeness rank)→ scheduled     [claim: driver claim_merge]
    scheduled ─(blacklist/onion/robots/seen; seed-lineage exempt)→ admitted
    admitted ─(equi-join corpus slim, AQE skew)→ fetched  [status==200]
    fetched  ─(explode out_links → canonicalize UDF → child gates:
               onion→normal job, clearnet→seed-lineage traversal)→ discovered
    discovered ─(anti-join seen')→ new frontier rows
    admitted (onion only) ──────────────────→ seen append
    fetched (onion only) ─(payload join)────→ pages append

Column-pruning discipline (SURVEY §4.4): the expansion path joins a SLIM
corpus projection (url, status, out_links) so the image payload is never
read for frontier math; the payload columns are joined separately, only
for fetched-200 rows, straight into the pages append.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..functions.urls import canonicalize_urls, onion_url_col, with_url_identity
from ..operators.filters import admit
from ..operators.politeness import collapse_candidates, schedule_round


@dataclass
class RoundResult:
    persisted: list  # DataFrames to unpersist once the round is committed
    scheduled: DataFrame
    admitted: DataFrame
    new_seen: DataFrame
    pages: DataFrame
    # the round's frontier/host_state deltas (the driver commits them with
    # claim_merge/upsert_keys):
    discovered_rows: DataFrame  # the round's NEW frontier rows only
    host_delta: DataFrame  # hosts whose last_fetch_round changed
    # n_scheduled / n_admitted / n_pages are DERIVED BY THE DRIVER from
    # what was actually persisted (commit-sidecar row-count deltas; one
    # cached count for admitted) — not measured here. The former
    # Observation (CollectMetrics) counters double-counted under a
    # multi-JVM master: the observed cached-but-unmaterialized `scheduled`
    # subtree appears twice in the materializing action's plan (via
    # fetched and via seen_next), and when two executors race cache
    # population both branches execute it, inflating the metric (measured:
    # round-2 n_scheduled=16 vs 8 stored rows at local-cluster[2,2] under
    # spark-submit; the stored tables were always correct). n_pages is
    # populated here only on the filtered path (body cap / phash dedup),
    # where the count job doubles as the pages-cache materializer.
    n_pages: int | None
    n_discovered: int


def run_round(
    round_no: int,
    frontier: DataFrame,
    seen: DataFrame,
    host_state: DataFrame,
    robots: DataFrame,
    corpus_slim: DataFrame,
    corpus_payload: DataFrame,
    blacklist_patterns: list[str],
    cfg: CrawlConfig,
    bloom_probe=None,
    frontier_rows: int | None = None,
    broadcast_dims: bool = True,
    stored_phashes: DataFrame | None = None,
) -> RoundResult:
    candidates = collapse_candidates(frontier)
    # persist + ONE materializing action per round: the n_discovered count
    # at the end of this function computes the whole scheduled→admitted→
    # fetched→discovered chain, warming every cache. Intermediate counts
    # are NOT measured here (no Observations — CollectMetrics on a shared
    # cached subtree double-counts when a multi-JVM session races cache
    # population, see RoundResult): the driver derives them from the
    # committed table writes' sidecar row counts — exact and job-free.
    persisted: list = []
    scheduled = (
        # frontier_rows (parquet-footer metadata, no job) upper-bounds the
        # candidate count, letting the ranker skip the two-phase path on
        # small rounds regardless of round_limit
        schedule_round(
            candidates,
            robots,
            host_state,
            round_no,
            cfg,
            persisted,
            size_hint=frontier_rows,
            broadcast_dims=broadcast_dims,
        )
        .persist()
    )

    admitted = admit(
        scheduled,
        robots,
        seen,
        blacklist_patterns,
        bloom_probe,
        broadcast_dims,
        # the maybe/dup key sets are bounded by the scheduled batch =
        # round_limit rows; broadcast them only while that bound is
        # provably broadcast-sized (VERDICT r3 wrong #3)
        broadcast_probe_keys=cfg.round_limit <= cfg.broadcast_dim_max_rows,
    ).persist()

    # mark seen on attempt (frozen step 5) — ONION urls only: clearnet
    # traversal rows never touch the shared visited store (the seed
    # collector has its own, spider/spider.go:161-167 vs :153); onion
    # seeds may already be present, hence the anti-join
    new_seen = (
        admitted.where(onion_url_col(F.col("url")))
        .select("url_hash", "host_hash")
        .join(seen.select("url_hash"), "url_hash", "left_anti")
        .withColumn("first_round", F.lit(round_no))
    )
    seen_next = seen.unionByName(new_seen)

    # fetch = equi-join synthetic web (S9/J3); AQE splits hub-host skew
    fetch = admitted.join(
        corpus_slim.withColumnRenamed("status", "_status").withColumnRenamed(
            "out_links", "_out_links"
        ),
        "url",
        "left",
    )
    fetched = fetch.where(F.col("_status") == 200).persist()

    # pages: payload join only for fetched ONION rows (frozen step 7: the
    # seed collector saves no pages, spider/spider.go:344-360 — clearnet
    # bodies are never stored; column pruning discipline unchanged)
    pages = (
        fetched.where(onion_url_col(F.col("url")))
        .select("url", "url_hash", "host", "host_hash", "depth")
        .join(corpus_payload, "url", "inner")
    )
    if cfg.max_body_bytes is not None:
        # F9 body-size cap (reference ships it disabled, spider.go:124,170):
        # oversized payloads are not STORED; traversal is unaffected
        pages = pages.where(
            F.col("bytes").isNull() | (F.length("bytes") <= cfg.max_body_bytes)
        )
    pages = pages.select(
        "url",
        "url_hash",
        "host",
        "host_hash",
        F.col("status").cast("int").alias("status"),
        F.lit(round_no).alias("round"),
        "image_id",
        "bytes",
        "w",
        "h",
        "fmt",
        "caption",
        "phash",
    )
    if cfg.phash_dedup_dist is not None:
        # content dedup at store time (r5; storage-only, like F9): drop a
        # page whose phash is within k of (a) any page stored in a prior
        # round (banded semi vs the slim stored-phash column) or (b) a
        # same-round candidate with a smaller url (banded self-join pairs
        # are emitted as i<j on url, so dropping every j IS the
        # deterministic dominance rule). Never a cross join; shuffle is
        # O(pages·bands) either way.
        from tor_spider_spark.operators.dedup import (
            hamming_near_dup_pairs,
            hamming_semi_keys,
        )

        k = cfg.phash_dedup_dist
        # persist the PRE-dedup pages: the payload-join subtree feeds the
        # banded self-join (via slim), the stored-phash semi probe AND the
        # anti-join's left side — uncached, the count job below would
        # re-execute the fetch join + its shuffles 2-3× within itself
        pages = pages.persist()
        persisted.append(pages)
        slim = pages.select("url", "phash")
        drops = hamming_near_dup_pairs(slim, "url", "phash", k).select(
            F.col("j").alias("url")
        )
        if stored_phashes is not None:
            drops = drops.unionByName(
                hamming_semi_keys(slim, "url", "phash", stored_phashes, "phash", k)
            )
        # no distinct on drops: left_anti ignores right-side duplicates,
        # and the semi path already deduped — an extra hash-agg exchange
        # here would be pure waste on every dedup-enabled round
        pages = pages.join(drops, "url", "left_anti")
    if cfg.max_body_bytes is not None or cfg.phash_dedup_dist is not None:
        # F9 / phash dedup active: persist + count so the payload join and
        # the banded dedup self-join run ONCE (the count materializes the
        # cache before the pages table write re-reads it); the count also
        # equals the stored-pages row count, so it serves as n_pages
        pages = pages.persist()
        persisted.append(pages)
        n_pages_override = pages.count()
    else:
        # no filter: the driver reads n_pages off the pages append's
        # commit-sidecar row count — exact and job-free
        n_pages_override = None

    # expand (frozen step 8): explode → canonicalize (Arrow UDF) → child
    # gates: onion children are normal jobs within max_depth; clearnet
    # children continue SEED-LINEAGE traversal within seed_traversal_depth
    # (the seed collector follows every link, spider/spider.go:353)
    expandable = fetched.where(
        (F.col("depth") + 1 <= cfg.max_depth)
        | (F.col("is_seed") & (F.col("depth") + 1 <= cfg.seed_traversal_depth))
    )
    child_onion = onion_url_col(F.col("url"))
    discovered = (
        expandable.select(
            F.col("url").alias("_base"),
            F.col("depth").alias("_pdepth"),
            F.col("is_seed").alias("_pseed"),
            F.explode("_out_links").alias("_href"),
        )
        .withColumn("url", canonicalize_urls(F.col("_base"), F.col("_href")))
        .where(
            F.col("url").isNotNull()
            & (
                (child_onion & (F.col("_pdepth") + 1 <= cfg.max_depth))
                | (
                    ~child_onion
                    & F.col("_pseed")
                    & (F.col("_pdepth") + 1 <= cfg.seed_traversal_depth)
                )
            )
        )
        .groupBy("url")
        .agg((F.min("_pdepth") + 1).alias("depth"))  # frozen step 9: min depth wins
        .select(
            "url",
            F.col("depth").cast("int").alias("depth"),
            (F.lit(1.0) / (1.0 + F.col("depth"))).alias("priority"),
            F.lit(round_no + 1).alias("discovered_round"),
            # is_seed is a pure function of the url's onion-ness (step 9)
            (~child_onion).alias("is_seed"),
        )
    )
    discovered = with_url_identity(discovered)
    new_frontier_rows = discovered.join(
        seen_next.select("url_hash"), "url_hash", "left_anti"
    ).persist()
    # THE materializing action: computes scheduled/admitted/fetched caches
    # transitively (discovered groupBy reads every fetched partition)
    n_discovered = new_frontier_rows.count()

    # host_state delta: attempted hosts get last_fetch_round = round_no
    touched = (
        admitted.select("host", "host_hash").distinct().withColumn("last_fetch_round", F.lit(round_no))
    )

    persisted.extend([scheduled, admitted, fetched, new_frontier_rows])
    return RoundResult(
        persisted=persisted,
        scheduled=scheduled,
        admitted=admitted,
        new_seen=new_seen,
        pages=pages,
        discovered_rows=new_frontier_rows.select(*[f.name for f in frontier.schema.fields]),
        host_delta=touched,
        n_pages=n_pages_override,
        n_discovered=n_discovered,
    )
