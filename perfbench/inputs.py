"""Seeded inputs and their reference answers, cached on disk.

Every input is a pure function of (workload, seed). The engine reads the
generated parquet files; the reference answers come from computations made
apart from the engine: the pure-Python simulator for the crawls and DuckDB
for the scheduling round and the query suite. Both are slow enough
(fixture images, the all-pairs embedding oracle) that they are cached under
``perfbench/cache/<workload>-s<seed>-<source hash>/``; the hash covers the
generator and every reference implementation, so a change to either
regenerates instead of reusing a stale answer.

Nothing here starts Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
CACHE = os.path.join(BENCH_DIR, "cache")

# ---------------------------------------------------------------------------
# workload shapes
# ---------------------------------------------------------------------------

# crawl fixture: bench.py's knobs at a fifth of the hosts and hub size,
# plus the first page of every onion host as an extra seed, so that every
# round schedules enough URLs for its count to be steady from seed to seed
CRAWL_KNOBS = dict(n_onion_hosts=400, pages_per_host=15, hub_hosts=5, hub_factor=20, image_px=16)
CRAWL_ROUNDS = 3
# a crawl of this many rounds, in its own directory, warms the JVM first:
# a fresh JVM's first round runs about three times as long as a warm one
CRAWL_WARMUP_ROUNDS = 1
# bench.py's crawl leg configuration
CRAWL_CFG = dict(default_host_budget=64, round_limit=100_000)

# core_round frontier, the rounds that warm the JVM and the rounds one
# pass times (fixed counts, so a pass measures the same point of the JVM's
# warm-up in every run: rounds keep speeding up for the first eight or so)
CORE_ROWS = 150_000
CORE_HOSTS = 3_000
CORE_WARMUP_ROUNDS = 5
CORE_PASS_ROUNDS = 5
CORE_ROUND = 7
CORE_CFG = dict(default_host_budget=64, round_limit=150_000)

# query_suite tables: documents/embeddings at the sf0.01 shape (the
# embedding-cluster oracle is quadratic), the relational tables larger
QUERY_SHAPE = dict(documents=500, embeddings=300, customer=3_000, orders=30_000,
                   lineitem=120_000, part=4_000, supplier=200, events=20_000)
QUERY_NAMES = [  # bench.py's timed list
    "q1_pricing_summary", "skew_join", "broadcast_join", "window_rank_topk",
    "topk_global", "anti_join", "groupby_count", "union_distinct",
    "distinct_count", "tumbling_window", "dedup_exact", "dedup_incremental",
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_clusters", "dedup_simhash",
    "dedup_phash_hamming", "dedup_phash_clusters", "dedup_embedding_cosine",
    "dedup_embedding_clusters", "ann_cosine_topk", "text_quality", "token_count",
    "bpe_token_count", "repetition_top_bigram", "type_token_ratio",
    "token_quantiles", "extract_links",
]
# these two read the committed golden phash corpus, not the seeded tables,
# so their answers are cached once for every seed
SEED_FREE_QUERIES = ("dedup_phash_hamming", "dedup_phash_clusters")
QUERY_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"]

_SOURCES = [
    "perfbench/inputs.py",
    "tor_spider_spark/fixtures/corpus.py",
    "tor_spider_spark/fixtures/images.py",
    "tor_spider_spark/functions/hashing.py",
    "tor_spider_spark/simulator.py",
    "tor_spider_spark/config.py",
    "__spark_entry__.py",
]


def source_hash() -> str:
    h = hashlib.md5()
    for rel in _SOURCES:
        with open(os.path.join(REPO, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:10]


def input_seed(seed: int) -> int:
    """The generators' seed for a --seed value: any integer, negative or
    wider than 64 bits, maps to a non-negative 63-bit one."""
    return seed % (1 << 63)


def cache_dir(workload: str, seed: int) -> str:
    return os.path.join(CACHE, f"{workload}-s{input_seed(seed)}-{source_hash()}")


def ensure(workload: str, seed: int, regenerate: bool = False) -> tuple[str, float]:
    """Return (cache dir, seconds spent generating — 0 on a cache hit)."""
    seed = input_seed(seed)
    path = cache_dir(workload, seed)
    if not regenerate and os.path.exists(os.path.join(path, "_DONE")):
        return path, 0.0
    t0 = time.time()
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    {"crawl": _gen_crawl, "core_round": _gen_core, "query_suite": _gen_queries}[workload](path, seed)
    with open(os.path.join(path, "_DONE"), "w") as fh:
        fh.write("ok")
    return path, time.time() - t0


def load_json(path: str, name: str):
    with open(os.path.join(path, name)) as fh:
        return json.load(fh)


def _dump_json(path: str, name: str, obj) -> None:
    with open(os.path.join(path, name), "w") as fh:
        json.dump(obj, fh)


# ---------------------------------------------------------------------------
# crawl fixture + simulator answers
# ---------------------------------------------------------------------------

def crawl_fixture(seed: int):
    from tor_spider_spark.fixtures.corpus import FixtureKnobs, generate_fixture

    fx = generate_fixture(FixtureKnobs(seed=seed, **CRAWL_KNOBS))
    blocked = fx.blacklist[0].strip(".*")  # seeds skip the blacklist
    have = {s["url"] for s in fx.seeds}
    for host in sorted({r["host"] for r in fx.corpus if r["host"].endswith(".onion")}):
        url = f"http://{host}/p0"
        if blocked not in host and url not in have:
            fx.seeds.append({"url": url, "is_seed": True, "recrawl_every": 0})
    return fx


def crawl_config():
    from tor_spider_spark.config import CrawlConfig

    return CrawlConfig(max_rounds=CRAWL_ROUNDS, **CRAWL_CFG)


def _gen_crawl(path: str, seed: int) -> None:
    from tor_spider_spark.simulator import simulate

    fx = crawl_fixture(seed)
    corpus = pa.table(
        {
            "url": [r["url"] for r in fx.corpus],
            "host": [r["host"] for r in fx.corpus],
            "status": pa.array([r["status"] for r in fx.corpus], pa.int32()),
            "out_links": pa.array([r["out_links"] for r in fx.corpus], pa.list_(pa.string())),
            "image_id": [r["image_id"] for r in fx.corpus],
            "bytes": pa.array([r["bytes"] for r in fx.corpus], pa.binary()),
            "w": pa.array([r["w"] for r in fx.corpus], pa.int32()),
            "h": pa.array([r["h"] for r in fx.corpus], pa.int32()),
            "fmt": [r["fmt"] for r in fx.corpus],
            "caption": [r["caption"] for r in fx.corpus],
            "phash": pa.array([r["phash"] for r in fx.corpus], pa.int64()),
        }
    )
    os.makedirs(os.path.join(path, "corpus"))
    # several files so the scan has as many splits as bench.py's cache
    for i, part in enumerate(np.array_split(np.arange(corpus.num_rows), 8)):
        pq.write_table(corpus.take(part), os.path.join(path, "corpus", f"part-{i}.parquet"))
    pq.write_table(
        pa.table(
            {
                "url": [s["url"] for s in fx.seeds],
                "is_seed": pa.array([bool(s["is_seed"]) for s in fx.seeds]),
                "recrawl_every": pa.array([int(s["recrawl_every"]) for s in fx.seeds], pa.int32()),
            }
        ),
        os.path.join(path, "seeds.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "host": [r["host"] for r in fx.robots],
                "disallow_prefixes": pa.array(
                    [r["disallow_prefixes"] for r in fx.robots], pa.list_(pa.string())
                ),
                "crawl_delay_ms": pa.array([int(r["crawl_delay_ms"]) for r in fx.robots], pa.int64()),
                "max_per_round": pa.array([r["max_per_round"] for r in fx.robots], pa.int32()),
            }
        ),
        os.path.join(path, "robots.parquet"),
    )
    _dump_json(path, "blacklist.json", fx.blacklist)
    budgets = {r["host"]: r["max_per_round"] for r in fx.robots if r["max_per_round"] is not None}
    _dump_json(path, "budgets.json", budgets)
    sim = simulate(fx, crawl_config())
    _dump_json(
        path,
        "sim.json",
        {
            "schedule": sim.schedule,
            "seen": sorted(sim.seen_hashes().items()),
            "pages": sorted(
                [p["url"], p["round"], p["image_id"], p["caption"], p["phash"]]
                for p in sim.pages
            ),
        },
    )
    _dump_json(path, "shape.json", {"corpus_rows": corpus.num_rows, "seeds": len(fx.seeds)})


# ---------------------------------------------------------------------------
# core_round frontier + DuckDB answer
# ---------------------------------------------------------------------------

_B32 = np.array(list("abcdefghijklmnopqrstuvwxyz234567"))
_U64 = 1 << 64


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser: distinct uint64 in, well-spread int64 out."""
    z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return (z ^ (z >> np.uint64(31))).view(np.int64)


def _gen_core(path: str, seed: int) -> None:
    rng = np.random.default_rng([seed, 2])
    n_hosts = CORE_HOSTS
    labels = ["".join(rng.choice(_B32, 16)) for _ in range(n_hosts)]
    onion = rng.random(n_hosts) >= 0.05  # 5% of hosts are clearnet
    hosts = np.array([f"{lab}.onion" if o else f"{lab[:8]}.example.com" for lab, o in zip(labels, onion)])
    # salts wrap at 64 bits: adding one is still a bijection, so hashes stay
    # distinct within a seed whatever its size
    host_hash = _mix64(np.arange(n_hosts, dtype=np.uint64) + np.uint64((seed << 32) % _U64))
    # Zipf-ish host sizes: a few hosts far above the per-host budget
    weights = 1.0 / np.arange(1, n_hosts + 1)
    rng.shuffle(weights)
    n_distinct = int(CORE_ROWS * 0.9)
    hid = rng.choice(n_hosts, n_distinct, p=weights / weights.sum())
    page = np.arange(n_distinct)
    private = rng.random(n_distinct) < 0.03
    paths = np.where(private, "/private/p", "/p")
    urls = np.char.add(np.char.add(np.char.add("http://", hosts[hid]), paths), page.astype(str))
    url_hash = _mix64(page.astype(np.uint64) + np.uint64(((seed << 40) | (1 << 39)) % _U64))
    depth = rng.integers(0, 6, n_distinct).astype(np.int32)
    disc = rng.integers(0, CORE_ROUND, n_distinct).astype(np.int32)
    is_seed = rng.random(n_distinct) < 0.002
    # 10% duplicate rows: same URL re-discovered at another depth/round
    dup = rng.choice(n_distinct, CORE_ROWS - n_distinct, replace=False)
    idx = np.concatenate([np.arange(n_distinct), dup])
    d_depth = np.concatenate([depth, rng.integers(0, 6, len(dup)).astype(np.int32)])
    d_disc = np.concatenate([disc, rng.integers(0, CORE_ROUND, len(dup)).astype(np.int32)])
    d_seed = np.concatenate([is_seed, rng.random(len(dup)) < 0.002])
    order = rng.permutation(len(idx))
    idx, d_depth, d_disc, d_seed = idx[order], d_depth[order], d_disc[order], d_seed[order]
    frontier = pa.table(
        {
            "url": urls[idx],
            "url_hash": url_hash[idx],
            "host": hosts[hid[idx]],
            "host_hash": host_hash[hid[idx]],
            "depth": d_depth,
            "priority": 1.0 / (1.0 + d_depth),
            "discovered_round": d_disc,
            "is_seed": d_seed,
        }
    )
    os.makedirs(os.path.join(path, "frontier"))
    for i, part in enumerate(np.array_split(np.arange(frontier.num_rows), 8)):
        pq.write_table(frontier.take(part), os.path.join(path, "frontier", f"part-{i}.parquet"))
    # robots: 10% of hosts; crawl delays, /private disallows, per-round caps
    r_hosts = rng.choice(n_hosts, n_hosts // 10, replace=False)
    kind = rng.integers(0, 3, len(r_hosts))
    pq.write_table(
        pa.table(
            {
                "host": hosts[r_hosts],
                "disallow_prefixes": pa.array(
                    [["/private"] if k == 1 else [] for k in kind], pa.list_(pa.string())
                ),
                "crawl_delay_ms": pa.array(np.where(kind == 0, 3000, 0), pa.int64()),
                "max_per_round": pa.array(
                    [int(rng.choice([4, 16])) if k == 2 else None for k in kind], pa.int32()
                ),
            }
        ),
        os.path.join(path, "robots.parquet"),
    )
    # host_state: 30% of hosts fetched before, a third of them recently
    s_hosts = rng.choice(n_hosts, int(n_hosts * 0.3), replace=False)
    last = np.where(rng.random(len(s_hosts)) < 0.33, CORE_ROUND - 2, CORE_ROUND - 10)
    pq.write_table(
        pa.table(
            {
                "host": hosts[s_hosts],
                "host_hash": host_hash[s_hosts],
                "last_fetch_round": pa.array(last, pa.int32()),
            }
        ),
        os.path.join(path, "host_state.parquet"),
    )
    # seen: 30% of the distinct URLs
    seen_ix = rng.choice(n_distinct, int(n_distinct * 0.3), replace=False)
    pq.write_table(
        pa.table(
            {
                "url_hash": url_hash[seen_ix],
                "host_hash": host_hash[hid[seen_ix]],
                "first_round": pa.array(np.zeros(len(seen_ix)), pa.int32()),
            }
        ),
        os.path.join(path, "seen.parquet"),
    )
    blacklist = [f".*{labels[i]}.*" for i in rng.choice(n_hosts, 3, replace=False)]
    _dump_json(path, "blacklist.json", blacklist)
    _dump_json(path, "oracle.json", core_oracle(path, blacklist))
    _dump_json(
        path,
        "shape.json",
        {"rows": CORE_ROWS, "distinct_urls": n_distinct, "hosts": n_hosts,
         "clearnet_hosts": int((~onion).sum()), "robots_rows": len(r_hosts),
         "host_state_rows": len(s_hosts), "seen_rows": len(seen_ix)},
    )


def core_oracle(path: str, blacklist: list[str]) -> dict:
    """The scheduling round's rules in DuckDB over the same parquet:
    collapse → politeness (delay, per-host budget, global rank) → admit
    (blacklist, onion filter, robots disallow, seen anti-join)."""
    import duckdb

    from tor_spider_spark.config import ONION_URL_PATTERN

    budget, limit = CORE_CFG["default_host_budget"], CORE_CFG["round_limit"]
    bl = " OR ".join(f"regexp_matches(url, '{p}')" for p in blacklist) or "false"
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    sql = f"""
    WITH f AS (SELECT * FROM read_parquet('{path}/frontier/*.parquet')),
    c AS (
      SELECT url, url_hash, host, host_hash,
             arg_min(depth, depth * 1000000 + discovered_round) AS depth,
             arg_min(discovered_round, depth * 1000000 + discovered_round) AS discovered_round,
             bool_or(is_seed) AS is_seed
      FROM f GROUP BY url, url_hash, host, host_hash),
    j AS (
      SELECT c.*, 1.0 / (1.0 + c.depth) AS priority,
             coalesce(floor(r.crawl_delay_ms / 1000), 0) AS delay_rounds,
             coalesce(r.max_per_round, {budget}) AS budget,
             hs.last_fetch_round
      FROM c LEFT JOIN read_parquet('{path}/robots.parquet') r USING (host)
             LEFT JOIN read_parquet('{path}/host_state.parquet') hs USING (host)),
    e AS (
      SELECT * FROM j WHERE NOT (last_fetch_round IS NOT NULL AND delay_rounds > 0
                                 AND {CORE_ROUND} - last_fetch_round <= delay_rounds)),
    b AS (
      SELECT *, row_number() OVER (PARTITION BY host_hash, host
               ORDER BY priority DESC, discovered_round ASC, url ASC) AS hr FROM e),
    s AS (
      SELECT *, row_number() OVER (ORDER BY priority DESC, discovered_round ASC, url ASC) AS rank
      FROM b WHERE hr <= budget)
    SELECT url, url_hash, host, host_hash, is_seed, rank FROM s WHERE rank <= {limit}
    """
    con.execute(f"CREATE TABLE sched AS {sql}")
    sched = con.execute("SELECT url_hash, rank FROM sched").fetchnumpy()
    admitted = con.execute(
        f"""
        SELECT s.url_hash FROM sched s
        LEFT JOIN read_parquet('{path}/robots.parquet') r USING (host)
        WHERE (s.is_seed OR NOT ({bl}))
          AND (s.is_seed OR regexp_matches(url, '{ONION_URL_PATTERN}'))
          AND NOT coalesce(list_bool_or(list_transform(r.disallow_prefixes,
                  p -> starts_with(regexp_extract(url, '^https?://[^/]+(/[^?#]*)', 1), p))), false)
          AND (s.is_seed OR NOT EXISTS (SELECT 1 FROM read_parquet('{path}/seen.parquet') z
                                        WHERE z.url_hash = s.url_hash AND z.host_hash = s.host_hash))
        """
    ).fetchnumpy()
    return {
        "n_scheduled": int(len(sched["url_hash"])),
        "scheduled_checksum": pair_checksum(sched["url_hash"], sched["rank"]),
        "n_admitted": int(len(admitted["url_hash"])),
        "admitted_checksum": pair_checksum(admitted["url_hash"], None),
    }


def pair_checksum(url_hash, rank) -> str:
    """Order-independent checksum of (url_hash, rank) pairs (or of a
    url_hash set when rank is None): wrapping sum of a 64-bit mix."""
    h = np.asarray(url_hash, dtype=np.int64).view(np.uint64)
    if rank is not None:
        h = h ^ (np.asarray(rank, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15))
    with np.errstate(over="ignore"):
        return str(int(_mix64(h).view(np.uint64).sum(dtype=np.uint64)))


# ---------------------------------------------------------------------------
# query_suite tables + DuckDB answers
# ---------------------------------------------------------------------------

_VOCAB = (
    "the a of and to in is for on with as by at from data table row column key "
    "value hash join merge sort scan query batch stream window group order line "
    "part customer spark fast slow big small filter index page link crawl onion "
    "host round seen frontier bloom shard rank budget robots delay archive mirror"
).split()


def _gen_queries(path: str, seed: int) -> None:
    rng = np.random.default_rng([seed, 3])
    s = QUERY_SHAPE
    w = lambda name, cols: pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))  # noqa: E731
    w("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                 "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    w("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                 "n_name": [f"NATION_{i}" for i in range(25)],
                 "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    nc = s["customer"]
    w("customer", {"c_custkey": np.arange(nc, dtype=np.int64),
                   "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                   "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
                   "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
                   "c_mktsegment": segs[rng.integers(0, 5, nc)]})
    ns = s["supplier"]
    w("supplier", {"s_suppkey": np.arange(ns, dtype=np.int64),
                   "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                   "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
                   "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2)})
    npart = s["part"]
    adj, noun = np.array(["small", "red", "large", "green", "shiny"]), np.array(["ring", "widget", "bolt", "gear"])
    w("part", {"p_partkey": np.arange(npart, dtype=np.int64),
               "p_name": np.char.add(np.char.add(adj[rng.integers(0, 5, npart)], " "), noun[rng.integers(0, 4, npart)]),
               "p_brand": np.char.add("Brand#", rng.integers(1, 50, npart).astype(str)),
               "p_type": np.array(["ECONOMY", "STANDARD", "PROMO"])[rng.integers(0, 3, npart)],
               "p_size": rng.integers(1, 50, npart).astype(np.int32),
               "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10.0, 2)})
    no = s["orders"]
    # a sixth of the customers place no order (anti_join has rows)
    ocust = rng.integers(0, nc * 5 // 6, no)
    base_day = np.datetime64("1995-01-01")
    w("orders", {"o_orderkey": np.arange(no, dtype=np.int64),
                 "o_custkey": ocust.astype(np.int64),
                 "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
                 "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
                 "o_orderdate": (base_day + rng.integers(0, 2500, no).astype("timedelta64[D]")).astype("datetime64[us]"),
                 "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, no)]})
    nl = s["lineitem"]
    # skewed order keys: a few orders carry many lines (skew_join)
    lok = np.where(rng.random(nl) < 0.1, rng.integers(0, 20, nl), rng.integers(0, no, nl))
    w("lineitem", {"l_orderkey": lok.astype(np.int64),
                   "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
                   "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
                   "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
                   "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                   "l_extendedprice": np.round(rng.uniform(900, 100000, nl), 2),
                   "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
                   "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
                   "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
                   "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
                   "l_shipdate": (base_day + rng.integers(0, 2500, nl).astype("timedelta64[D]")).astype("datetime64[us]")})
    ne = s["events"]
    ts = np.datetime64("2024-01-01T00:00:00") + np.sort(rng.integers(0, 7 * 86400 * 10**6, ne)).astype("timedelta64[us]")
    w("events", {"event_id": np.arange(ne, dtype=np.int64),
                 "ts": ts.astype("datetime64[us]"),
                 "user_id": rng.integers(0, 200, ne).astype(np.int64),
                 "event_type": np.array(["click", "view", "error", "purchase", "scroll"])[rng.integers(0, 5, ne)],
                 "value": np.round(rng.uniform(0, 100, ne), 2),
                 "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    # documents: random word strings; 5% exact copies and 5% one-word edits
    # of earlier documents so the dedup operators have work to find
    nd = s["documents"]
    texts: list[str] = []
    for i in range(nd):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.10:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(20, 90)))))
    w("documents", {"doc_id": np.arange(nd, dtype=np.int64), "text": texts,
                    "lang": np.array(["en", "de", "fr", "es", "ru"])[rng.integers(0, 5, nd)],
                    "source": np.char.add("src", rng.integers(0, 10, nd).astype(str)),
                    "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = s["embeddings"]
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, nv)
    vecs = centers[label] * 0.35 + rng.normal(size=(nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    w("embeddings", {"vec_id": np.arange(nv, dtype=np.int64),
                     "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
                     "label": label.astype(np.int32)})
    _dump_json(path, "oracle.json", query_oracle(path))


def query_oracle(path: str) -> dict:
    """Each timed query's oracle_sql() answer, normalised as in
    tests/test_queries_oracle.py."""
    import duckdb

    import __spark_entry__ as entrymod

    from check import normalize

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in QUERY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(path, t)}.parquet'")
    sql = entrymod.oracle_sql()

    def answer(name):
        res = con.execute(sql[name])
        cols = [d[0] for d in res.description]
        return {"columns": sorted(cols), "rows": normalize(res.fetchall(), cols)}

    shared = os.path.join(CACHE, f"query_suite-golden-{source_hash()}.json")
    if not os.path.exists(shared):
        _dump_json(CACHE, os.path.basename(shared), {n: answer(n) for n in SEED_FREE_QUERIES})
    out = load_json(CACHE, os.path.basename(shared))
    out.update({n: answer(n) for n in QUERY_NAMES if n not in SEED_FREE_QUERIES})
    return out
