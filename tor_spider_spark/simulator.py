"""Pure-Python reference simulator — the golden oracle (SURVEY §5.2.1).

Re-implements, with dicts and sets only (no Spark), the crawl semantics of
the reference as frozen in tor_spider_spark/config.py:

- filter order blacklist → onion-URL filter → robots → visited, matching
  colly's request pipeline (reference spider/spider.go:103-153);
- dedup-on-attempt: an ONION URL is "seen" once the request is admitted,
  before the fetch outcome is known (colly redis storage semantics behind
  spider/spider.go:153) — failed fetches are never retried;
- seed-lineage rows bypass the blacklist, the URL filter and the visited
  check (AllowURLRevisit + filterless seed collector, spider.go:161-196),
  traverse EVERY link — clearnet included — within seed_traversal_depth,
  and save no pages (the seed collector has no page-saving OnResponse,
  spider.go:344-360); only onion URLs enter seen/pages/normal-frontier;
- errors are dropped, not stored (OnError only logs, spider/spider.go:337-339);
- links enqueue only if onion (SaveJob gate, spider/spider.go:300-301),
  except clearnet children of seed-lineage parents, which continue the
  traversal (spider.go:353);
- per-host politeness budget + crawl-delay + global round cap re-imagine
  colly.LimitRule{Parallelism:8} / MINIMUM_JOBS=64 (spider/spider.go:148-151,
  mongojobsstorage.go:241-246) as the north rule's priority queue.

pytest asserts the Spark engine's outputs are EQUAL to this simulator's on
the same fixture — this is the "matching the reference's crawl ordering and
URL-seen set" judge (BASELINE.json north_rule; determinism projection
SURVEY §2.8).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from urllib.parse import urljoin, urlsplit

from .config import ONION_URL_PATTERN, CrawlConfig, priority_for_depth
from .fixtures.corpus import Fixture
from .functions.hashing import url_hash

_ONION_RE = re.compile(ONION_URL_PATTERN)


def canonicalize(base: str, href: str) -> str | None:
    """urljoin + fragment strip; None for empty / non-http(s) results.
    Mirrors colly's Request.AbsoluteURL returning "" for fragment-only
    hrefs (reference spider/spider.go:299-300). The engine's vectorized
    pandas UDF (functions/urls.py) implements the identical function."""
    if not href:
        return None
    href = href.strip()
    if href.startswith("#"):
        return None
    u = urljoin(base, href)
    u = u.split("#", 1)[0]
    parts = urlsplit(u)
    if parts.scheme not in ("http", "https") or not parts.netloc:
        return None
    rebuilt = f"{parts.scheme.lower()}://{parts.netloc.lower()}{parts.path or '/'}"
    if parts.query:
        rebuilt += "?" + parts.query
    return rebuilt


def host_of(url: str) -> str:
    return urlsplit(url).netloc.lower()


@dataclass
class SimResult:
    # url -> first round admitted (golden_seen)
    seen: dict[str, int] = field(default_factory=dict)
    # per-round ordered list of scheduled urls (golden_schedule; rank = index+1)
    schedule: list[list[str]] = field(default_factory=list)
    # golden_pages rows (url, round, image_id, caption, phash, status)
    pages: list[dict] = field(default_factory=list)
    # final frontier rows (url, depth, priority, discovered_round, is_seed)
    frontier: list[dict] = field(default_factory=list)
    # final host -> last_fetch_round (the host_state table)
    host_state: dict[str, int] = field(default_factory=dict)
    rounds_run: int = 0

    def seen_hashes(self) -> dict[int, int]:
        return {url_hash(u): r for u, r in self.seen.items()}

    def frontier_rows(self) -> list[tuple]:
        """Sorted (url, url_hash, depth, priority, discovered_round, is_seed)
        multiset of the final frontier — the engine table's projection."""
        return sorted(
            (r["url"], url_hash(r["url"]), r["depth"], r["priority"],
             r["discovered_round"], r["is_seed"])
            for r in self.frontier
        )


def simulate(fixture: Fixture, cfg: CrawlConfig | None = None) -> SimResult:
    cfg = cfg or CrawlConfig()
    corpus = {row["url"]: row for row in fixture.corpus}
    blacklist = [re.compile(p) for p in (list(cfg.blacklist) or fixture.blacklist)]
    robots = {r["host"]: r for r in fixture.robots}

    # frontier rows: (url, depth, priority, discovered_round, is_seed)
    frontier: list[dict] = [
        {
            "url": s["url"],
            "depth": 0,
            "priority": priority_for_depth(0),
            "discovered_round": 0,
            "is_seed": True,
        }
        for s in fixture.seeds
    ]
    periodic = [s for s in fixture.seeds if s.get("recrawl_every", 0) > 0]
    last_fetch_round: dict[str, int] = {}
    stored_phashes: list[int] = []  # only consulted under phash_dedup_dist
    res = SimResult()

    def total_order_key(row: dict):
        return (-row["priority"], row["discovered_round"], row["url"])

    for rnd in range(cfg.max_rounds):
        if not frontier:
            break
        res.rounds_run = rnd + 1

        # (1) collapse candidates per url: min depth wins (=> max priority)
        by_url: dict[str, dict] = {}
        for row in frontier:
            cur = by_url.get(row["url"])
            if (
                cur is None
                or row["depth"] < cur["depth"]
                or (row["depth"] == cur["depth"] and row["discovered_round"] < cur["discovered_round"])
            ):
                merged = dict(row)
                if cur is not None:
                    merged["is_seed"] = cur["is_seed"] or row["is_seed"]
                by_url[row["url"]] = merged
            elif row["is_seed"]:
                cur["is_seed"] = True
        candidates = list(by_url.values())

        # (2) politeness: crawl-delay eligibility, per-host budget rank, global cap
        eligible = []
        for row in candidates:
            h = host_of(row["url"])
            rb = robots.get(h)
            delay_rounds = (rb["crawl_delay_ms"] // 1000) if rb else 0
            lf = last_fetch_round.get(h)
            if lf is not None and rnd - lf <= delay_rounds and delay_rounds > 0:
                continue
            row["_host"] = h
            row["_budget"] = (
                rb["max_per_round"]
                if rb and rb.get("max_per_round") is not None
                else cfg.default_host_budget
            )
            eligible.append(row)
        eligible.sort(key=total_order_key)
        per_host_rank: dict[str, int] = {}
        ranked = []
        for row in eligible:
            k = per_host_rank.get(row["_host"], 0) + 1
            per_host_rank[row["_host"]] = k
            if k <= row["_budget"]:
                ranked.append(row)
        scheduled = ranked[: cfg.round_limit]
        res.schedule.append([r["url"] for r in scheduled])

        # (3) claim: drop all frontier rows whose url was scheduled
        scheduled_urls = {r["url"] for r in scheduled}
        frontier = [r for r in frontier if r["url"] not in scheduled_urls]

        # (4) admission filters, reference order (seed-lineage rows skip
        # blacklist + URL filter + seen: the seed collector has none)
        admitted = []
        for row in scheduled:
            u = row["url"]
            if not row["is_seed"] and any(p.search(u) for p in blacklist):
                continue
            if not row["is_seed"] and not _ONION_RE.match(u):
                continue
            rb = robots.get(row["_host"])
            if rb and any(urlsplit(u).path.startswith(pfx) for pfx in rb["disallow_prefixes"]):
                continue
            if not row["is_seed"] and u in res.seen:
                continue
            admitted.append(row)

        # (5) mark seen on attempt — onion urls only (clearnet traversal
        # never touches the shared visited store)
        for row in admitted:
            if _ONION_RE.match(row["url"]):
                res.seen.setdefault(row["url"], rnd)

        # (6)+(7) fetch + pages (pages for onion 200s only — the seed
        # collector saves no pages; clearnet bodies are never stored)
        discovered: dict[str, dict] = {}
        round_pages: list[dict] = []
        for row in admitted:
            last_fetch_round[row["_host"]] = rnd
            page = corpus.get(row["url"])
            if page is None or page["status"] != 200:
                continue  # OnError: dropped
            blob = page.get("bytes")
            too_big = (
                cfg.max_body_bytes is not None
                and blob is not None
                and len(blob) > cfg.max_body_bytes
            )
            if _ONION_RE.match(row["url"]) and not too_big:
                round_pages.append(
                    {
                        "url": row["url"],
                        "round": rnd,
                        "image_id": page["image_id"],
                        "caption": page["caption"],
                        "phash": page["phash"],
                        "status": page["status"],
                    }
                )
            # (8) expand: onion children → normal jobs (SaveJob gate);
            # clearnet children of seed-lineage parents → traversal rows
            child_depth = row["depth"] + 1
            for href in page["out_links"]:
                cu = canonicalize(row["url"], href)
                if cu is None:
                    continue
                child_onion = bool(_ONION_RE.match(cu))
                if child_onion:
                    if child_depth > cfg.max_depth:
                        continue
                elif not (row["is_seed"] and child_depth <= cfg.seed_traversal_depth):
                    continue
                cur = discovered.get(cu)
                if cur is None or child_depth < cur["depth"]:
                    discovered[cu] = {
                        "url": cu,
                        "depth": child_depth,
                        "priority": priority_for_depth(child_depth),
                        "discovered_round": rnd + 1,
                        "is_seed": not child_onion,
                    }

        # (7b) content dedup at store time (cfg.phash_dedup_dist; OFF by
        # default — frozen semantics unchanged): keep a candidate page
        # iff no previously STORED page and no same-round CANDIDATE with
        # a smaller url is within k hamming bits of its phash (the same
        # dominance rule the engine's banded joins implement)
        if cfg.phash_dedup_dist is not None:
            k = cfg.phash_dedup_dist
            mask = (1 << 64) - 1

            def _ham(a: int, b: int) -> int:
                return bin((a ^ b) & mask).count("1")

            kept = [
                p
                for p in round_pages
                if not any(_ham(p["phash"], q) <= k for q in stored_phashes)
                and not any(
                    c["url"] < p["url"] and _ham(p["phash"], c["phash"]) <= k
                    for c in round_pages
                )
            ]
            stored_phashes.extend(p["phash"] for p in kept)
            res.pages.extend(kept)
        else:
            res.pages.extend(round_pages)

        # (10) frontier admission: anti-join seen
        for cu, row in sorted(discovered.items()):
            if cu not in res.seen:
                frontier.append(row)

        # (11) periodic seeds
        nxt = rnd + 1
        for s in periodic:
            if nxt % s["recrawl_every"] == 0:
                frontier.append(
                    {
                        "url": s["url"],
                        "depth": 0,
                        "priority": priority_for_depth(0),
                        "discovered_round": nxt,
                        "is_seed": True,
                    }
                )

    # politeness annotates copies (step 1 collapses into fresh dicts), so
    # the frontier rows still hold only their five columns
    res.frontier = frontier
    res.host_state = last_fetch_round
    return res
