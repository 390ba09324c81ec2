"""Engine ≡ simulator: the north-rule correctness judge ("matching the
reference's crawl ordering and final URL-seen set under the same seed list
and politeness budget"), via the deterministic projection of SURVEY §2.8."""

from __future__ import annotations

import pytest

from tor_spider_spark.plans.driver import CrawlDriver


def _run(spark, tmp, smoke_dfs, smoke_fixture, smoke_cfg, use_bloom: bool):
    import dataclasses

    # bloom variant forces the probe path even at toy seen sizes
    cfg = dataclasses.replace(smoke_cfg, bloom_min_seen=0) if use_bloom else smoke_cfg
    drv = CrawlDriver(
        spark,
        str(tmp),
        smoke_dfs["corpus"],
        smoke_dfs["seeds"],
        smoke_dfs["robots"],
        smoke_fixture.blacklist,
        cfg,
        use_bloom=use_bloom,
    )
    drv.run()
    return drv


@pytest.mark.parametrize("use_bloom", [True, False], ids=["bloom", "exact-only"])
def test_engine_matches_simulator(
    spark, tmp_path, smoke_dfs, smoke_fixture, smoke_cfg, smoke_sim, use_bloom,
    assert_end_state,
):
    drv = _run(spark, tmp_path / f"run-{use_bloom}", smoke_dfs, smoke_fixture, smoke_cfg, use_bloom)

    # crawl ordering: per-round ranked schedule equality
    sched: dict[int, list[str]] = {}
    for r in drv.read("schedule").orderBy("round", "rank").collect():
        sched.setdefault(r["round"], []).append(r["url"])
    assert len(sched) == len(smoke_sim.schedule)
    for i, golden in enumerate(smoke_sim.schedule):
        assert sched[i] == golden, f"round {i}"

    # URL-seen set with first-seen round
    seen_eng = {r["url_hash"]: r["first_round"] for r in drv.read("seen").collect()}
    assert seen_eng == smoke_sim.seen_hashes()

    # pages row-set equality (payload bytes checked in test_payload_invariants)
    eng = sorted(
        (r["url"], r["round"], r["image_id"], r["caption"], r["phash"])
        for r in drv.read("pages").select("url", "round", "image_id", "caption", "phash").collect()
    )
    gold = sorted(
        (p["url"], p["round"], p["image_id"], p["caption"], p["phash"]) for p in smoke_sim.pages
    )
    assert eng == gold

    # final frontier and host_state (the delta claim's end state)
    assert_end_state(drv, smoke_sim)


def test_unscheduled_round0_seeds_carry_over(
    spark, tmp_path, smoke_dfs, smoke_fixture, smoke_cfg, assert_end_state
):
    """Regression (code-review r4 finding #1, reproduced): with
    round_limit below the seed count, the fresh-start seed frontier
    exists only in memory, and the delta claim silently dropped every
    seed not scheduled in round 0 — one-shot seeds were lost forever.
    The schedule and the final frontier/host_state must match the
    simulator exactly under a tiny round_limit."""
    import dataclasses

    from tor_spider_spark.simulator import simulate

    cfg = dataclasses.replace(smoke_cfg, round_limit=2, max_rounds=4)
    sim = simulate(smoke_fixture, cfg)
    drv = _run(spark, tmp_path / "rl2", smoke_dfs, smoke_fixture, cfg, use_bloom=False)
    sched: dict[int, list[str]] = {}
    for r in drv.read("schedule").orderBy("round", "rank").collect():
        sched.setdefault(r["round"], []).append(r["url"])
    for i in range(4):
        assert sched.get(i, []) == sim.schedule[i], f"round {i}"
    assert_end_state(drv, sim)


def test_file_chunking_knob_is_semantics_free(
    spark, tmp_path, smoke_dfs, smoke_fixture, smoke_cfg, smoke_sim
):
    """table_max_records_per_file (the 10^10 pruning knob) must only change
    the FILE layout of the claim tables, never any judged output — run the
    crawl with aggressive chunking and compare against the simulator."""
    import dataclasses

    cfg = dataclasses.replace(smoke_cfg, table_max_records_per_file=4, max_rounds=4)
    drv = _run(spark, tmp_path / "chunk", smoke_dfs, smoke_fixture, cfg, use_bloom=False)
    sched: dict[int, list[str]] = {}
    for r in drv.read("schedule").orderBy("round", "rank").collect():
        sched.setdefault(r["round"], []).append(r["url"])
    for i in range(4):
        assert sched.get(i, []) == smoke_sim.schedule[i], f"round {i}"
    # the knob actually engaged: more frontier files than rows/file alone
    # would give with one file per partition
    t = drv.tables["frontier"]
    n_files = sum(len(t._entry_files(e)) for e in t._read_manifest(t.latest_version()))
    assert n_files > 4, n_files


def test_metrics_and_lineage_written(spark, tmp_path, smoke_dfs, smoke_fixture, smoke_cfg):
    drv = _run(spark, tmp_path / "m", smoke_dfs, smoke_fixture, smoke_cfg, use_bloom=True)
    m = drv.read("metrics")
    names = {r["metric"] for r in m.select("metric").distinct().collect()}
    assert {"n_scheduled", "n_admitted", "n_pages", "n_scheduled_partition"} <= names
    rounds = m.select("round").distinct().count()
    assert rounds == 6


def test_body_size_cap_f9(spark, tmp_path, smoke_dfs, smoke_fixture, smoke_cfg, smoke_sim):
    """F9 (reference ships it disabled, spider.go:124,170): with a cap on,
    oversized payloads vanish from pages but the traversal (seen set) is
    unchanged — engine and simulator agree under the same cfg."""
    import dataclasses

    from tor_spider_spark.simulator import simulate

    cap = 1200  # below typical 32x32 PNG size, above most qjpg sizes
    cfg = dataclasses.replace(smoke_cfg, max_body_bytes=cap)
    sim = simulate(smoke_fixture, cfg)
    drv = _run(spark, tmp_path / "cap", smoke_dfs, smoke_fixture, cfg, use_bloom=False)

    assert {r["url_hash"]: r["first_round"] for r in drv.read("seen").collect()} == sim.seen_hashes()
    eng = sorted((r["url"], r["round"]) for r in drv.read("pages").select("url", "round").collect())
    gold = sorted((p["url"], p["round"]) for p in sim.pages)
    assert eng == gold
    assert len(eng) < len(smoke_sim.pages)  # the cap actually dropped rows
    for r in drv.read("pages").select("bytes").collect():
        assert r["bytes"] is None or len(r["bytes"]) <= cap


def test_phash_content_dedup_matches_simulator(
    spark, tmp_path, smoke_dfs, smoke_fixture, smoke_cfg, smoke_sim
):
    """r5 content dedup (cfg.phash_dedup_dist): pages whose phash is
    within k of a stored or lower-url same-round page are NOT stored;
    engine (banded hamming joins vs the pinned pages table) must equal
    the simulator's brute-force replay, and schedule/seen must be
    UNTOUCHED (storage-only, like the F9 body cap). k=16 because the
    SMOKE corpus has measured pairs at d≤16 but none at d≤6."""
    import dataclasses

    from tor_spider_spark.simulator import simulate

    cfg = dataclasses.replace(smoke_cfg, phash_dedup_dist=16)
    sim = simulate(smoke_fixture, cfg)
    drv = _run(spark, tmp_path / "phash-dedup", smoke_dfs, smoke_fixture, cfg, False)

    eng = sorted(
        (r["url"], r["round"], r["phash"])
        for r in drv.read("pages").select("url", "round", "phash").collect()
    )
    gold = sorted((p["url"], p["round"], p["phash"]) for p in sim.pages)
    assert eng == gold
    assert len(eng) < len(smoke_sim.pages)  # the dedup actually dropped rows
    # traversal unaffected: schedule and seen equal the undeduped run
    assert sim.schedule == smoke_sim.schedule
    assert sim.seen_hashes() == smoke_sim.seen_hashes()
    seen_eng = {r["url_hash"]: r["first_round"] for r in drv.read("seen").collect()}
    assert seen_eng == smoke_sim.seen_hashes()
