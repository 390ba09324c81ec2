"""Frozen crawl semantics shared by the engine and the reference simulator.

Every constant here is cited to the reference behavior it models; both the
DataFrame engine (tor_spider_spark/plans/) and the pure-Python simulator
(tor_spider_spark/simulator.py) import THIS module, so the two
implementations cannot drift on pattern strings or defaults.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Onion-URL admission (reference spider/spider.go:116-121: four URLFilters —
# http/https × v2 {16}/v3 {56} base32 labels). One combined regex; Java
# (Spark rlike) and Python `re` agree on this subset of syntax.
ONION_URL_PATTERN = (
    r"^https?://[a-zA-Z2-7]{16}\.onion([/?#].*)?$"
    r"|^https?://[a-zA-Z2-7]{56}\.onion([/?#].*)?$"
)

# Reference .env defaults (reference .env:13-19).
DEFAULT_HOST_BUDGET = 8  # SPIDER_PARALLELISM=8 re-imagined per-host (north rule)
DEFAULT_MAX_DEPTH = 9  # SPIDER_DEPTH=3 layers/job × every-3rd-layer frontier (SURVEY §3.4)
# The seed mini-crawl's traversal window: the seed collector follows EVERY
# link (clearnet included) to colly MaxDepth=SPIDER_DEPTH=3, enqueueing the
# onion URLs it finds (reference spider/spider.go:344-354, .env:19). Clearnet
# traversal rows exist only within this window.
DEFAULT_SEED_TRAVERSAL_DEPTH = 3
DEFAULT_ROUND_LIMIT = 2048  # MINIMUM_JOBS=64 batch × 32 workers, scaled to batch rounds
DEFAULT_N_BUCKETS = 16  # bucket(B, host_hash) partitioning; B=4096 at 10^10-URL scale
# bloom shard sizing (SURVEY §4.4): bits/key ≈ 10 → fpp ≈ 1%
BLOOM_BITS_PER_KEY = 10
BLOOM_NUM_HASHES = 7

# Child priority: deterministic, depth-decaying (reference has no priority
# column — SURVEY §1.1; the north rule adds a priority queue, so the rule
# must be a pure function of columns for determinism, SURVEY §2.8).
def priority_for_depth(depth: int) -> float:
    return 1.0 / (1.0 + depth)


@dataclass(frozen=True)
class CrawlConfig:
    """Knobs for one crawl run. Defaults mirror the reference envelope."""

    max_depth: int = DEFAULT_MAX_DEPTH
    seed_traversal_depth: int = DEFAULT_SEED_TRAVERSAL_DEPTH
    default_host_budget: int = DEFAULT_HOST_BUDGET
    round_limit: int = DEFAULT_ROUND_LIMIT
    n_buckets: int = DEFAULT_N_BUCKETS
    max_rounds: int = 10
    # expected TOTAL seen URLs the bloom must hold; shards are sized to
    # BLOOM_BITS_PER_KEY × capacity / n_buckets (next power of two, ≥ 2^20) —
    # an undersized bloom saturates and silently degrades every probe to
    # "maybe" (correct but useless). None = the legacy 2^20 bits/shard
    # (~1.6M capacity at 16 buckets). At the 10^10 design point:
    # capacity=10^10, n_buckets=4096 → 2^25 bits (4 MB)/shard, 16 GB
    # total — which is why the partition-aligned probe exists.
    bloom_capacity: int | None = None
    # host-dimension broadcast dispatch: robots/host_state broadcast into
    # the politeness/robots joins while their combined row count stays
    # under this (≈20 MB at ~100 B/row); above it the joins fall back to
    # shuffle joins on host (bucket-aligned on the Iceberg layout). The
    # driver decides from metadata row counts — in-memory/empty relations
    # carry no usable stats for Catalyst's auto-broadcast.
    broadcast_dim_max_rows: int = 200_000
    # probe short-circuit pays off only when `seen` is large enough that
    # the exact anti-join shuffle dominates; below this row count the
    # shards are still MAINTAINED every round (cheap, incremental — they
    # must exist for resume and for the moment seen crosses the line) but
    # probing is skipped and the exact anti-join runs alone.
    # r6 re-derivation (VERDICT r5 next #1): under the corrected
    # PER-ROUND timing (probe build + apply + release inside the clock —
    # the driver rebuilds the probe every round) a 2x2 interleaved sweep
    # at 10/20/40/80M seen found NO local crossover at all
    # (BENCH/bloom_crossover_r06.json: bloom 0.94/0.92/0.88/0.69x vs the
    # exact anti-join, partitioned probe 0.67/0.65/0.76/0.90x) — the
    # RAM-backed local shuffle beats the probe at every measurable size,
    # and the broadcast variant's per-round bitset collect+broadcast
    # grows with seen. The old 20M gate cited an apply-only measurement
    # the r5 timing fix invalidated. Default therefore keeps the probe
    # disengaged through the locally-measurable regime and engages only
    # at design-point scale (10^9+, where nothing can be measured on one
    # box and the bytes argument dominates). NETWORK-CLUSTER OVERRIDE
    # (the design-point setting): on real network shuffle the exact path
    # ships O(seen) bytes every round while the probe ships O(candidate
    # keys), so the crossover comes far earlier — set bloom_min_seen to
    # the crossover measured on your fabric (bench.py bloom-only mode /
    # BENCH/bloom_crossover.py is the harness), as bench.py's
    # design_point leg does (bloom_min_seen=0).
    bloom_min_seen: int = 1_000_000_000
    # broadcast-probe bitset cap (see bloom_knobs() for how the three
    # bloom knobs derive together); None = the module default (512 MB).
    # The probe additionally dispatches on executor TOPOLOGY at call time
    # — see operators/bloom.py:BloomShards.probe (r5).
    bloom_broadcast_max_bytes: int | None = None
    # splits each sorted bucket partition of frontier/host_state commits
    # into consecutive chunks so claim-key file pruning has narrow
    # per-file ranges to work with; 0 = one file per bucket (fixture
    # scale). The 10^10 deployment sets this to the Iceberg target file
    # size equivalent (e.g. 10^6 rows).
    table_max_records_per_file: int = 0
    # F9: max stored payload size; the reference ships this disabled
    # (c.MaxBodySize commented out, spider/spider.go:124,170) — None = off.
    # When set, oversized pages are dropped from the pages sink but their
    # links still expand (colly caps the BODY, not the traversal).
    max_body_bytes: int | None = None
    # content dedup at page-store time (r5, image-payload extension; OFF
    # by default — the reference stores every fetch, so the frozen
    # semantics are unchanged unless set): a page is NOT stored when its
    # phash is within this hamming distance of (a) any page stored in a
    # previous round, or (b) a same-round candidate page with a
    # lexicographically smaller url (deterministic dominance rule —
    # order-free, expressible as one banded join in both the engine and
    # the pure-Python simulator). Storage-only, like the F9 body cap:
    # traversal, frontier, and seen are unaffected.
    phash_dedup_dist: int | None = None
    # compact append-only tables (seen/pages) every k rounds: bounds the
    # manifest/file count over long crawls (Iceberg rewrite_data_files
    # analog); 0 = off
    compact_every: int = 0
    # reclaim storage on the same rotation (Iceberg expire_snapshots
    # analog): after each compacting round commits, drop table versions
    # older than the newest N, deleting data files no retained manifest
    # references. 0 = keep everything (time travel to any round). Resume
    # only ever reads the LAST checkpoint, whose pins are the newest
    # versions, so any N >= 1 is resume-safe; N > 1 keeps a debugging
    # window. Without this a long crawl's storage grows with every
    # superseded frontier/host_state/bloom version.
    vacuum_keep_versions: int = 0
    blacklist: tuple[str, ...] = field(default_factory=tuple)

    def bloom_knobs(self) -> dict:
        """ONE derivation for the bloom knobs that must agree (VERDICT r4
        next #5) — the driver builds its BloomShards from exactly this.

        | knob                | derivation                          | measured anchor (BENCH/BASELINE.md) |
        |---------------------|-------------------------------------|-------------------------------------|
        | n_shards            | = n_buckets (shard ≡ table bucket)  | co-located probe, no extra shuffle  |
        | m_bits/shard        | next pow2 ≥ BLOOM_BITS_PER_KEY·capacity/n_shards, ≥ 2^20 | undersized bloom saturates → all-"maybe" (r2) |
        | bloom_min_seen      | exact-vs-probe crossover            | r6: NO local crossover ≤80M under per-round timing (BENCH/bloom_crossover_r06.json) ⇒ default 10^9; network clusters measure their own crossover and override |
        | broadcast_max_bytes | cap on collect+broadcast bitsets    | 512 MB single-process; probe() ÷ executor topology at call time (r5: broadcast probe HALVED at 4 real JVMs — BENCH/bloom_lc_ab.json) |

        At the 10^10 design point (capacity=10^10, n_buckets=4096):
        m_bits = 2^25 (4 MB/shard, 16 GB total) ⇒ every topology routes to
        the partition-aligned probe — which is the deployment path."""
        if self.bloom_capacity:
            total_bits = BLOOM_BITS_PER_KEY * self.bloom_capacity
            # next pow2 >= x is 1 << (x-1).bit_length(); the x.bit_length()
            # form silently DOUBLES the bitset when x is itself a power of
            # two (code-review r5 #3)
            need = max(1, total_bits // self.n_buckets)
            m_bits = max(1 << 20, 1 << (need - 1).bit_length())
        else:
            m_bits = 1 << 20
        knobs = {
            "n_shards": self.n_buckets,
            "m_bits": m_bits,
            "k": BLOOM_NUM_HASHES,
        }
        if self.bloom_broadcast_max_bytes is not None:
            knobs["broadcast_max_bytes"] = self.bloom_broadcast_max_bytes
        return knobs


# ---------------------------------------------------------------------------
# Frozen round semantics (documentation of record — SURVEY §2.8 determinism
# note). Implemented twice, tested for equality:
#
#  0. is_seed marks SEED-LINEAGE TRAVERSAL rows — the flattened analog of
#     the reference's seed mini-crawl (seed collector: no URL filter, no
#     blacklist filter, AllowURLRevisit, private in-memory visited store,
#     follows EVERY link, enqueues onion URLs, saves NO pages;
#     spider/spider.go:161-196, 344-354). Seed-lineage continues through
#     CLEARNET children (is_seed=True); onion children become normal jobs
#     (is_seed=False) — the one deliberate flattening: an onion hop inside
#     the mini-crawl window re-enters via the frontier rather than inline,
#     so its clearnet grandchildren are not traversed (documented gap).
#  1. candidates = frontier, collapsed per url to (min depth → max priority,
#     min discovered_round); is_seed = OR.
#  2. politeness: host eligible iff round - last_fetch_round(host) >
#     crawl_delay_rounds(host) (delay_rounds = crawl_delay_ms // 1000;
#     unfetched hosts always eligible). Budget(host) = robots.max_per_round
#     or default_host_budget. Within host, rank by TOTAL ORDER
#     (priority DESC, discovered_round ASC, url ASC); keep rank <= budget.
#     Then global TOTAL ORDER, keep first round_limit → `scheduled`
#     (rank recorded = 1-based position in the global order).
#  3. claim: remove every frontier row whose url is scheduled (anti-join;
#     reference DeleteMany $in, mongojobsstorage.go:165-180).
#  4. admission, in the reference's filter order (spider/spider.go:103-153):
#     blacklist regex (search; SEED-LINEAGE EXEMPT — the seed collector has
#     no DisallowedURLFilters, spider.go:161-167) → onion URL filter
#     (seed-lineage exempt) → robots disallow prefix (north-rule inversion
#     of spider.go:112; applies to ALL rows) → seen (url_hash in seen) with
#     seed-lineage exempt (AllowURLRevisit + private visited store).
#  5. mark seen: every ADMITTED *onion* url (dedup-on-attempt — colly marks
#     visited at request time, before the fetch completes; failed fetches
#     stay seen). Clearnet traversal rows NEVER enter seen (the seed
#     collector does not share the global visited store). Filtered-out
#     rows are NOT marked.
#  6. fetch = equi-join corpus on url. Missing url or status != 200 →
#     OnError (dropped: no page, no links; spider.go:337-339). Every
#     admitted row updates last_fetch_round(host) = round.
#  7. pages append for status == 200 AND onion url only (the seed collector
#     saves no pages, spider.go:344-360; clearnet bodies are never stored).
#  8. expand: explode out_links of fetched-200 → canonicalize(base, href)
#     (urljoin, strip fragment; empty/non-http dropped) → child gates:
#       onion child: keep if depth+1 <= max_depth → is_seed=False
#         (SaveJob gate, spider.go:300-301, 348-351);
#       clearnet child: keep iff PARENT is seed-lineage and depth+1 <=
#         seed_traversal_depth → is_seed=True (mini-crawl traversal,
#         spider.go:353 e.Request.Visit on every link);
#     priority = priority_for_depth(depth).
#  9. intra-round distinct by url (min depth wins; is_seed is a function
#     of the url's onion-ness so it cannot conflict).
# 10. frontier admission: discovered anti-join seen → append. (Duplicates
#     vs remaining frontier are tolerated, as the reference tolerates dup
#     Mongo jobs — collapsed at step 1. Clearnet rows are never in seen,
#     so a clearnet cycle re-enqueues until the depth window closes —
#     exactly AllowURLRevisit's behavior, bounded by seed_traversal_depth.)
# 11. periodic seeds: seed rows with recrawl_every k > 0 are re-appended
#     every round r where r % k == 0, r > 0 (spider.go:472-490).
# 12. commit round atomically; stop when frontier empty or max_rounds.
# ---------------------------------------------------------------------------
