"""Deduplication operators for training-data pipelines.

Four families, all expressed as DataFrame programs over a generic
(doc_id:long, text:string) shape:

- exact            — hash-groupBy on md5(text) (one shuffle, map-side
                     partial agg free via Catalyst)
- ngram_jaccard    — EXACT near-dup pairs via distinct word-trigram
                     shingles + equi-join on shingle + group (the join is
                     the scalable trick: |pairs| touched only where
                     shingles collide; never a cross join)
- minhash_lsh      — the 100 TB path: 64-perm MinHash signatures in ONE
                     aggregation pass, banded LSH bucketing to generate
                     candidates, exact-Jaccard verification of candidates
                     (so output ≡ ngram_jaccard at high thresholds; LSH
                     only prunes the pair space)
- simhash          — 64-bit SimHash built from native bit-arithmetic
                     aggregations (no UDF), candidate pairs via 16-bit
                     band pigeonholing (hamming ≤ 3 ⇒ ≥1 of 4 bands
                     equal), verified with bit_count(xor)

Scale notes: every stage is shuffle-on-key (shingle, band hash) with
skew-safe small keys; signatures are fixed-width (64 longs) so the LSH
join shuffles O(docs·bands) tiny rows, not shingle sets. At 100 TB the
shingle join of `ngram_jaccard` is the one to avoid — that is exactly why
`minhash_lsh` exists; keep `ngram_jaccard` for verification samples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tor_spider_spark.partitioning import spread_input

# Mersenne prime 2^31-1: (a*h + b) stays within int64 for a,b,h < p
_MH_P = (1 << 31) - 1
_N_PERM = 64
_BANDS = 16  # 16 bands x 4 rows: P(candidate | j=0.8) ≈ 0.9998


def _mh_params(i: int) -> tuple[int, int]:
    """Deterministic per-permutation (a, b) — odd a, derived from i."""
    a = (2 * i + 1) * 0x9E3779B1 % _MH_P
    b = (i * 0x85EBCA77 + 0x27D4EB2F) % _MH_P
    return (a or 1), b


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """md5(text) hash-groups; keeper = min doc_id (deterministic)."""
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keeper_doc_id"))
    )


def incremental_dedup(batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """Cross-snapshot exact dedup: the (doc_id) rows of *batch* worth
    adding to an existing *corpus* — content (md5(text)) not already in
    the corpus AND first (min doc_id) within the batch.  This is the
    dedup a pipeline runs per ingest increment.

    The per-ingest incremental cost holds only when the caller maintains
    the corpus hash set: pass a *corpus* that already carries a
    ``content_hash`` column (the maintained hash table of an ingest
    pipeline — it is used as-is) and only the batch is hashed.  Passing
    raw corpus text is supported for convenience but RE-HASHES the whole
    corpus on every call (ADVICE r5 #3 — the earlier docstring claimed
    the incremental cost unconditionally).

    Scale shape: one shuffle of |batch| hashes (group → min id), one
    left_anti join against the corpus hash set — the content analog of
    the crawl's J1 seen anti-join, and like it the corpus side can sit
    behind the bloom probe (operators/bloom.py) once |corpus| crosses
    bloom_min_seen; at that point only probe-positive batch hashes reach
    the exact anti-join.  No driver collect, no corpus rewrite."""
    bh = batch.select("doc_id", F.md5("text").alias("content_hash"))
    if "content_hash" in corpus.columns:
        ch = corpus.select("content_hash").distinct()
    else:
        ch = corpus.select(F.md5("text").alias("content_hash")).distinct()
    return (
        bh.join(ch, "content_hash", "left_anti")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


def word_trigram_shingles(docs: DataFrame) -> DataFrame:
    """Distinct word-trigram shingles per doc. element_at is 1-based to
    match the DuckDB oracle's l[i].  Input is spread to core parallelism
    first (r6, guide §2.5): the docs table is typically one small parquet
    file whose 1-2 scan partitions would otherwise serialize the ~50x
    shingle explosion and everything downstream of it."""
    toks = (
        spread_input(docs)
        .select("doc_id", F.split("text", r"\s+").alias("l"))
        .where(F.size("l") >= 3)
    )
    return (
        toks.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("l") - 2),
                        lambda i: F.concat_ws(
                            " ",
                            F.element_at(F.col("l"), i),
                            F.element_at(F.col("l"), i + 1),
                            F.element_at(F.col("l"), i + 2),
                        ),
                    )
                )
            ).alias("sh"),
        )
    )


def word_trigram_shingle_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, h): xxhash64 of each distinct word-trigram shingle — the
    16-byte join/aggregation currency of the dedup family (r6, guide
    §2.3 "shuffle keys instead of payloads"): every downstream join and
    set operation works on the hash, never the ~30-byte shingle string.
    A hash collision between two DISTINCT shingles in compared documents
    could inflate one intersection count by 1; at 2^-64 per shingle pair
    (~2e-11 across the whole sf1.0 universe of 28k distinct shingles)
    this is the same negligible-collision contract xxhash64 already
    carries for url_hash (C5) and the MinHash signatures."""
    return word_trigram_shingles(docs).select("doc_id", F.xxhash64("sh").alias("h"))


def _doc_shingle_arrays(hashes: DataFrame) -> DataFrame:
    """(doc_id, hs: sorted array<long>, n): each document's full shingle-
    hash set as one row — the verification currency: set intersections
    become a per-row native array_intersect instead of a second shingle-
    level join (one shuffle of |shingle| rows, then doc-local)."""
    return hashes.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("h")).alias("hs"), F.count("*").alias("n")
    )


def _jaccard_verify(cand: DataFrame, arrays: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs (i, j): join each
    side's shingle-hash array on and compute c = |hs_i ∩ hs_j| with
    native array_intersect — no per-shingle join, no row explosion.
    The attach joins are left to the planner: both *arrays* subtrees hang
    off the same shingle-hash shuffle (ReuseExchange), and AQE converts
    them to broadcast joins from the ACTUAL post-shuffle size whenever
    the arrays fit — measured strictly faster at sf0.1 AND sf1.0 than
    the r6-draft shape that localCheckpointed the arrays, counted them,
    and forced the broadcast by hand (the count + checkpoint were pure
    fixed cost).  Above broadcast size the joins fall back to shuffle
    strategy — the 100 TB setting."""
    ai = arrays.select(
        F.col("doc_id").alias("i"), F.col("hs").alias("hi"), F.col("n").alias("ni")
    )
    aj = arrays.select(
        F.col("doc_id").alias("j"), F.col("hs").alias("hj"), F.col("n").alias("nj")
    )
    c = F.size(F.array_intersect("hi", "hj"))
    return (
        cand.join(ai, "i")
        .join(aj, "j")
        .withColumn("c", c)
        .withColumn("jac", F.round(F.col("c") / (F.col("ni") + F.col("nj") - F.col("c")), 6))
        .where(F.col("jac") >= threshold)
        .select("i", "j", "jac")
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float) -> DataFrame:
    """All pairs (i < j) with word-trigram Jaccard ≥ threshold (exact).

    r6 rewrite (guide §2.3/§3.2 — decide with small rows): the naive
    shingle self-join + pair count materializes one row per shared
    shingle per pair — measured 256M joined rows at sf1.0 (114M distinct
    pairs, 97% of them sharing ONE shingle where ≥ t·max(n_i,n_j) ≈ 40
    are needed to pass).  Instead, PREFIX FILTERING (Chaudhuri et al.
    SSJoin / Bayardo et al. "Scaling Up All Pairs", public algorithms):
    order each doc's shingles by ascending global document frequency
    (rarest first; ties by hash) and keep only the first
    n − ⌈t·n⌉ + 1 as its *prefix*.  Any pair with J ≥ t must share a
    shingle lying in BOTH prefixes (standard prefix-filter theorem — the
    globally smallest common shingle does), so the equi-join runs on the
    ~(1−t)·n prefix rows only, plus a length filter (J ≥ t ⇒
    t·n_j ≤ n_i ≤ n_j/t).  Candidates are then verified exactly via
    per-row array_intersect on the full hash sets.  Measured at sf1.0:
    19M candidate occurrences instead of 256M joined rows, 239 s → see
    OPTIMIZATION_r06.md.  ⌈t·n⌉ is computed as ceil(t·n − 1e-9) so float
    representation of t can only LENGTHEN a prefix (more candidates,
    never a miss); same epsilon discipline in the length filter."""
    hs = word_trigram_shingle_hashes(docs).localCheckpoint()
    arrays = _doc_shingle_arrays(hs)
    freq = hs.groupBy("h").agg(F.count("*").alias("k"))
    w_rank = Window.partitionBy("doc_id").orderBy("k", "h")
    w_doc = Window.partitionBy("doc_id")
    prefix_len = F.col("n") - F.ceil(F.col("n") * threshold - 1e-9) + 1
    pre = (
        hs.join(freq, "h")
        .withColumn("n", F.count("*").over(w_doc))
        .withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") <= prefix_len)
        .select("doc_id", "n", "h")
    )
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n") + F.lit(1e-9) >= F.col("b.n") * threshold)
            & (F.col("b.n") + F.lit(1e-9) >= F.col("a.n") * threshold),
        )
        .select(F.col("a.doc_id").alias("i"), F.col("b.doc_id").alias("j"))
    )
    # candidate occurrences are NOT distinct'd here: a pair surfaces once
    # per shared prefix shingle (measured 1.03 occurrences/pair at sf1.0),
    # so deduping the verified survivors (tiny) is far cheaper than one
    # more full exchange of the candidate set before verification
    return _jaccard_verify(cand, arrays, threshold).distinct()


def _minhash_signatures_from_hashes(hashes: DataFrame) -> DataFrame:
    """64-permutation MinHash in a single groupBy pass (64 min-aggregates
    over one shuffle) over a precomputed (doc_id, h) shingle-hash table —
    lets minhash_lsh_dedup_pairs shingle the corpus ONCE and share the
    result between the signature and verification stages (r6; the r5
    shape tokenized+shingled the corpus twice)."""
    sh = hashes.withColumn("hm", F.pmod(F.col("h"), F.lit(_MH_P)))
    aggs = []
    for i in range(_N_PERM):
        a, b = _mh_params(i)
        aggs.append(F.min(F.pmod(F.col("hm") * a + b, F.lit(_MH_P))).alias(f"m{i}"))
    sig = sh.groupBy("doc_id").agg(*aggs)
    return sig.select("doc_id", F.array(*[f"m{i}" for i in range(_N_PERM)]).alias("sig"))


def lsh_candidate_pairs(signatures: DataFrame, bands: int = _BANDS) -> DataFrame:
    """Band the signature; docs sharing any band-hash become candidates."""
    rows_per_band = _N_PERM // bands
    banded = signatures.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[F.col("sig")[bi * rows_per_band + r] for r in range(rows_per_band)]
                        ).alias("bh"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band", "b.bh")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("i"), F.col("b.doc_id").alias("j"))
        .distinct()
    )


def minhash_lsh_dedup_pairs(docs: DataFrame, threshold: float) -> DataFrame:
    """LSH candidates → exact word-trigram Jaccard verification.

    Output is the TRUE pair set at the threshold as long as LSH recall
    holds (16 bands × 4 rows ⇒ miss prob (1-j⁴)^16 < 2e-4 at j=0.8);
    verification guarantees no false positives ever.

    r6: the corpus is shingled ONCE (shared hash table feeds both the
    signature pass and verification), and verification is a per-row
    array_intersect over the doc hash-set arrays instead of a second
    per-shingle join — see _jaccard_verify."""
    hs = word_trigram_shingle_hashes(docs).localCheckpoint()
    arrays = _doc_shingle_arrays(hs)
    cand = lsh_candidate_pairs(_minhash_signatures_from_hashes(hs))
    return _jaccard_verify(cand, arrays, threshold)


def md5_60bit_hash(col):
    """60-bit token hash derivable in BOTH Spark and ANSI-ish SQL
    (DuckDB: ('0x' || substr(md5(t),1,15))::bigint) — used by the
    dedup_simhash oracle query so the DuckDB side can reproduce the
    signature bit-for-bit. Production simhash defaults to the faster
    native xxhash64."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _cc_single_task(edges: DataFrame) -> DataFrame:
    """Exact connected components of a SMALL edge set in one executor
    task: union-find with union-by-min-root, so every set's root is its
    minimum element and the output labels equal the iterative path's
    min-reachable-label exactly.  No driver collect — the graph flows to
    one task (coalesce, no shuffle) and labels come back as a DataFrame.

    This is the small-side of the size dispatch in connected_components
    (r6, same dual-regime pattern as politeness._global_rank): at bench
    scale the pair graphs are a few thousand to ~100k edges, where the
    iterative path's per-round cost is pure fixed overhead — measured
    5.4 s for 96k edges (≈10 shuffle stages + one localCheckpoint and
    one convergence collect per iteration) vs ~0.3 s here."""
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    node_type = edges.schema["a"].dataType
    schema = StructType(
        [StructField("doc_id", node_type), StructField("cluster", node_type)]
    )

    def solve(batches):
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for a, b in zip(pdf["a"].tolist(), pdf["b"].tolist()):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra  # min root wins: root == component min
        nodes = list(parent)
        labels = [find(n) for n in nodes]
        out = pd.DataFrame({"doc_id": nodes, "cluster": labels})
        for i in range(0, len(out), 100_000):
            yield out.iloc[i : i + 100_000]

    return edges.coalesce(1).mapInPandas(solve, schema=schema)


def connected_components(
    pairs: DataFrame, max_iter: int = 20, local_max_edges: int = 2_000_000
) -> DataFrame:
    """Near-dup CLUSTERS from dup pairs: (doc_id, cluster) where cluster =
    min doc_id reachable through the pair graph — the "keep one document
    per near-dup cluster" step of a training-data pipeline.

    Distributed min-label propagation with POINTER JUMPING: each iteration
    (1) pulls the min neighbor label across edges, then (2) shortcuts
    label ← label(label) — so label information travels 2^t hops after t
    iterations and convergence is O(log diameter), not O(diameter). A
    50,000-link chain converges in ~17 rounds where plain propagation
    needs 50,000 (VERDICT r2: the capped plain loop silently returned
    partial labels on chains deeper than max_iter). If the fixpoint is
    STILL not reached within max_iter — diameter > 2^max_iter cannot
    happen for any realistic input, so this means a logic bug — raise
    instead of returning wrong clusters.

    Deterministic fixpoint detection without collecting labels: count the
    nodes whose label changed this iteration (old label carried alongside
    the new one — no extra join) and stop at zero. Works for ANY
    orderable id type (long doc ids, string image ids) — r5 replaces the
    earlier label-SUM check, which was numeric-only. One tiny agg per
    iteration either way. Each iteration localCheckpoints to truncate
    lineage (standard iterative-algorithm hygiene). Scale shape: per
    iteration one shuffle of |edges| and two of |nodes| (the jump join)
    — the pointer-jump join is on the NODE table, which at dup-pair
    densities is the small side.

    r6 size dispatch: edge sets at or below *local_max_edges* (undirected
    input pairs; the count is on the materialized directed-distinct edge
    table) route to _cc_single_task — one-task union-find, identical
    labels, no per-iteration fixed costs.  The threshold bounds the
    single task at ~64 MB of edge keys and a few seconds of CPU; pass 0
    to force the iterative path (tests pin its convergence contract)."""
    edges = (
        pairs.select(F.col("i").alias("a"), F.col("j").alias("b"))
        .unionByName(pairs.select(F.col("j").alias("a"), F.col("i").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    if edges.count() <= 2 * local_max_edges:
        return _cc_single_task(edges)
    labels = (
        edges.select(F.col("a").alias("node")).distinct().withColumn("label", F.col("node"))
    ).localCheckpoint()
    for _ in range(max_iter):
        # (1) min label across edges
        neigh = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nl"))
        )
        stepped = labels.join(neigh, labels["node"] == neigh["a"], "left").select(
            "node",
            F.col("label").alias("old_label"),
            F.least(F.col("label"), F.coalesce("nl", "label")).alias("label"),
        )
        # (2) pointer jump: follow the label one more step (label is always
        # a node of the same component, so this never crosses components)
        jump = stepped.select(F.col("node").alias("jn"), F.col("label").alias("jl"))
        stepped = (
            stepped.join(jump, stepped["label"] == jump["jn"], "left")
            .select(
                "node",
                "old_label",
                F.least(F.col("label"), F.coalesce("jl", "label")).alias("label"),
            )
            .localCheckpoint()
        )
        n_changed = (
            stepped.agg(
                F.sum((F.col("label") != F.col("old_label")).cast("long")).alias("c")
            ).collect()[0][0]
            or 0
        )
        labels = stepped.drop("old_label")
        if n_changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            "(component diameter > 2^max_iter — input graph is pathological)"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster"))


def minhash_lsh_dedup_clusters(docs: DataFrame, threshold: float) -> DataFrame:
    """MinHash-LSH dup pairs → connected components → one keeper per
    cluster: (doc_id, cluster) for every document in a near-dup cluster
    (cluster = min doc_id; the keeper IS the cluster id)."""
    return connected_components(minhash_lsh_dedup_pairs(docs, threshold))


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    threshold: float = 0.2,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Benchmark DECONTAMINATION — the training-data step that flags
    corpus documents overlapping an evaluation suite so they can be
    dropped before training (the n-gram–overlap rule used by published
    LLM data pipelines; word-trigram shingles here, same unit as the
    dedup family, so one shingle definition serves both).

    Output: (doc_id, doc_shingles, overlap_shingles, overlap_frac,
    contaminated) for EVERY doc in *docs* — docs too short to shingle
    get (0, 0, 0.0, 0). *contaminated* compares the ROUNDED fraction to
    *threshold* (int 0/1) so engine and oracle agree at the boundary.

    Scale shape: benchmark suites are small by definition (thousands of
    prompts vs a 100 TB corpus), so the bench shingle set is DISTINCT'd
    and broadcast — the corpus-side scan + map-side broadcast join never
    shuffles doc text; the only corpus-sized exchanges are the two
    groupBy(doc_id) partial-agg counts. Set *broadcast_bench*=False for
    an abnormally large suite (falls back to a shuffle equi-join on the
    shingle string — same plan family as ngram_jaccard_pairs)."""
    bench_sh = word_trigram_shingles(bench).select("sh").distinct()
    if broadcast_bench:
        bench_sh = F.broadcast(bench_sh)
    doc_sh = word_trigram_shingles(docs)
    cnt = doc_sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    hits = doc_sh.join(bench_sh, "sh").groupBy("doc_id").agg(
        F.count("*").alias("h")
    )
    frac = F.round(
        F.coalesce(F.col("h") / F.col("n"), F.lit(0.0)), 6
    )
    return (
        docs.select("doc_id")
        .join(cnt, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n", F.lit(0).cast("long")).alias("doc_shingles"),
            F.coalesce("h", F.lit(0).cast("long")).alias("overlap_shingles"),
            frac.alias("overlap_frac"),
            (frac >= threshold).cast("int").alias("contaminated"),
        )
    )


def simhash_signatures(docs: DataFrame, token_hash=None) -> DataFrame:
    """64-bit SimHash from whitespace tokens — fully native bit arithmetic:
    per bit j, sum(±1) over token hashes; bit set iff sum > 0.
    *token_hash*: column fn token -> int64 (default native xxhash64)."""
    hash_fn = token_hash if token_hash is not None else F.xxhash64
    toks = (
        spread_input(docs)
        .select("doc_id", F.explode(F.split("text", r"\s+")).alias("t"))
        .withColumn("h", hash_fn(F.col("t")))
    )
    sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"s{j}")
            for j in range(64)
        ]
    )
    sim = F.lit(0).cast("long")
    for j in range(64):
        sim = sim.bitwiseOR(
            F.when(F.col(f"s{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(0)
        )
    return sums.select("doc_id", sim.alias("simhash"))


def hamming_near_dup_pairs(
    sig: DataFrame, id_col: str, sig_col: str, max_dist: int
) -> DataFrame:
    """All (i, j, hamming) pairs with hamming(sig_i, sig_j) ≤ *max_dist*
    over a 64-bit signature column — never a cross join.

    Multi-index pigeonhole (public technique — Norouzi et al., "Fast
    Search in Hamming Space with Multi-Index Hashing"): split the 64
    bits into b = max_dist+1 contiguous bands; any pair within distance
    max_dist has zero differing bits in at least one band, so an
    equi-join on (band_idx, band_value) generates every true pair as a
    candidate. Candidates are verified with native bit_count(xor).

    100 TB shape: the explode ships b small rows per signature and the
    join shuffles on (band, value) — O(rows·b), no pairwise blowup
    outside genuinely colliding buckets (AQE splits hub buckets). Both
    signatures ride along the band rows, so verification needs no
    second join against the input."""
    chunks = sig.select(
        F.col(id_col).alias("_id"),
        F.col(sig_col).alias("_sig"),
        F.explode(F.array(*_band_exprs(sig_col, max_dist))).alias("b"),
    ).select("_id", "_sig", "b.chunk", "b.cv")
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("i"),
            F.col("b._id").alias("j"),
            F.bit_count(F.col("a._sig").bitwiseXOR(F.col("b._sig"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_dist)
    )


def _band_exprs(sig_col: str, max_dist: int):
    """(band_idx, band_value) struct expressions tiling 64 bits into
    max_dist+1 contiguous bands — shared by the self-join and semi-join
    hamming operators."""
    if not 0 <= max_dist < 64:
        raise ValueError(f"max_dist must be in [0, 64): {max_dist}")
    n_bands = max_dist + 1
    width, extra = divmod(64, n_bands)
    exprs, off = [], 0
    for c in range(n_bands):
        w = width + (1 if c < extra else 0)
        # w == 64 (max_dist=0): the band is the whole signature — an
        # all-ones int64 mask is -1, not (1<<64)-1 (overflows int64)
        mask = -1 if w == 64 else (1 << w) - 1
        exprs.append(
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftrightunsigned(F.col(sig_col), off)
                .bitwiseAND(F.lit(mask))
                .alias("cv"),
            )
        )
        off += w
    return exprs


def hamming_semi_keys(
    left: DataFrame,
    id_col: str,
    sig_col: str,
    ref: DataFrame,
    ref_sig_col: str,
    max_dist: int,
) -> DataFrame:
    """Distinct *id_col* values of *left* rows whose signature is within
    hamming *max_dist* of ANY *ref* signature — the cross-set semi form
    of :func:`hamming_near_dup_pairs` (same pigeonhole banding, same
    100 TB shape: shuffle on (band, value), never a cross join)."""
    lb = left.select(
        F.col(id_col).alias("_id"),
        F.col(sig_col).alias("_sig"),
        F.explode(F.array(*_band_exprs(sig_col, max_dist))).alias("b"),
    ).select("_id", "_sig", "b.chunk", "b.cv")
    rb = ref.select(
        F.col(ref_sig_col).alias("_rsig"),
        F.explode(F.array(*_band_exprs(ref_sig_col, max_dist))).alias("b"),
    ).select("_rsig", "b.chunk", "b.cv")
    return (
        lb.join(rb, ["chunk", "cv"])
        .where(F.bit_count(F.col("_sig").bitwiseXOR(F.col("_rsig"))) <= max_dist)
        .select(F.col("_id").alias(id_col))
        .distinct()
    )


def simhash_dup_pairs(docs: DataFrame, max_hamming: int = 3, token_hash=None) -> DataFrame:
    """Pairs with SimHash hamming distance ≤ max_hamming. Candidates via
    pigeonhole banding (for the default 3: 4 × 16-bit chunks — distance
    ≤ 3 ⇒ some chunk is equal), verified with bit_count(xor). Delegates
    to :func:`hamming_near_dup_pairs`."""
    sig = simhash_signatures(docs, token_hash).localCheckpoint()
    return hamming_near_dup_pairs(sig, "doc_id", "simhash", max_hamming)


def phash_near_dup_clusters(images: DataFrame, max_dist: int = 6) -> DataFrame:
    """Image near-dup CLUSTERS: banded phash pairs → connected
    components — the "keep one image per near-dup cluster" pipeline
    step. Returns (image_id, cluster) with cluster = lexicographic min
    image_id reachable through the pair graph."""
    pairs = phash_near_dup_pairs(images, max_dist)
    return connected_components(pairs).select(
        F.col("doc_id").alias("image_id"), "cluster"
    )


def phash_near_dup_pairs(images: DataFrame, max_dist: int = 6) -> DataFrame:
    """Near-duplicate IMAGE pairs by perceptual-hash hamming distance
    over the input-table shape (image_id, ..., phash:int64) — the
    image-payload twin of :func:`simhash_dup_pairs`. The reference
    stores pages keyed by URL with no content dedup (tor-spider
    elasticpagestorage.go persists every fetch); this is the
    training-data extension: phash collapses re-encodes/resizes of the
    same image across mirrors, which URL-level dedup cannot see."""
    return hamming_near_dup_pairs(images, "image_id", "phash", max_dist)
