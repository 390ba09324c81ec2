"""Design-point rehearsal (VERDICT r4 next #2): every scale mechanism
engaged AT ONCE — the 10^10 configuration in miniature. Unit legs bench
each mechanism in isolation; what they miss is the interactions this soak
exercises for 32 rounds:

- bloom probe engaged every round (bloom_min_seen=0) AND forced onto the
  partition-aligned path (broadcast cap 0 — the multi-JVM/10^10 route);
- delta-cost claim (delete+append with carried files);
- chunked files (table_max_records_per_file) so pruning has real ranges;
- compaction + vacuum rotation mid-crawl (compaction rewrites the range
  layout the delta claim prunes on; vacuum must never free a carried
  file a live manifest still references);
- kill/resume at three checkpoints across compaction boundaries.

Asserts: 30+ rounds actually run, schedule ≡ simulator, file count
bounded (not O(rounds)), and the interrupted chain reproduces the
uninterrupted run exactly.
"""

from __future__ import annotations

import dataclasses
import os

import pytest

from tor_spider_spark.config import CrawlConfig
from tor_spider_spark.plans.driver import CrawlDriver
from tor_spider_spark.simulator import simulate

SOAK_CFG = CrawlConfig(
    max_rounds=32,
    round_limit=6,
    default_host_budget=2,
    bloom_min_seen=0,  # probe every round, even at toy seen sizes
    bloom_broadcast_max_bytes=0,  # force the partition-aligned probe
    table_max_records_per_file=4,  # aggressive chunking at toy scale
    compact_every=4,
    vacuum_keep_versions=2,
    # r5 content dedup engaged too: the banded page-store joins must
    # survive compaction/vacuum of the pages table they semi-join
    phash_dedup_dist=16,
)


def _drv(spark, tmp, smoke_dfs, smoke_fixture, cfg):
    return CrawlDriver(
        spark,
        str(tmp),
        smoke_dfs["corpus"],
        smoke_dfs["seeds"],
        smoke_dfs["robots"],
        smoke_fixture.blacklist,
        cfg,
        use_bloom=True,
    )


def _state(drv):
    return {
        "schedule": sorted(map(tuple, drv.read("schedule").collect())),
        "seen": sorted(map(tuple, drv.read("seen").collect())),
        "pages": sorted(
            map(tuple, drv.read("pages").select("url", "round", "caption").collect())
        ),
        "frontier": sorted(map(tuple, drv.read("frontier").collect())),
        "host_state": sorted(map(tuple, drv.read("host_state").collect())),
    }


def _parquet_files_on_disk(run_dir: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(run_dir):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


@pytest.fixture(scope="module")
def soak_run(spark, tmp_path_factory, smoke_dfs, smoke_fixture):
    tmp = tmp_path_factory.mktemp("design-point-soak")
    drv = _drv(spark, tmp, smoke_dfs, smoke_fixture, SOAK_CFG)
    summary = drv.run()
    return drv, summary, str(tmp)


def test_design_point_soak_32_rounds(spark, soak_run, smoke_fixture):
    drv, summary, run_dir = soak_run
    sim = simulate(smoke_fixture, SOAK_CFG)
    assert summary.rounds_run >= 30, summary.rounds_run

    # the forced configuration really engaged: probe ran partitioned
    # (broadcast cap 0 → probe() cannot return a broadcast probe)
    probe = drv.bloom.probe(drv.read("bloom_shards"), candidate_rows_hint=6)
    assert probe._broadcast is None

    # schedule ≡ simulator, all 32 rounds, under every mechanism at once
    sched: dict[int, list[str]] = {}
    for r in drv.read("schedule").orderBy("round", "rank").collect():
        sched.setdefault(r["round"], []).append(r["url"])
    for i, golden in enumerate(sim.schedule):
        assert sched.get(i, []) == golden, f"round {i}"

    # seen set equality — the bloom path admitted exactly the right rows
    assert {
        r["url_hash"]: r["first_round"] for r in drv.read("seen").collect()
    } == sim.seen_hashes()

    # FILE COUNT BOUNDED: compaction folds per-round commits, vacuum
    # frees expired ones. 32 delta rounds × chunked writes would be
    # hundreds of frontier files unbounded; the rotation caps the live
    # set and the disk set must not be O(rounds × chunks).
    for name in ("frontier", "host_state", "seen", "pages"):
        t = drv.tables[name]
        n_entries = len(t._read_manifest(t.latest_version()))
        assert n_entries <= 8, (name, n_entries)
    n_disk = _parquet_files_on_disk(run_dir)
    assert n_disk < 500, n_disk


def test_design_point_kill_resume_3_points(spark, tmp_path, smoke_dfs, smoke_fixture):
    """Kill at three checkpoints spanning compaction+vacuum boundaries
    and resume; the chained run must equal the uninterrupted one
    bit-for-bit — vacuum expiring pre-compaction versions must never
    strand a resume whose checkpoint pins carried delta files. (Shorter
    than the soak: 12 rounds with compact_every=3 exercises 4 full
    rotations; the 32-round mechanics are covered by the soak fixture.)"""
    cfg = dataclasses.replace(SOAK_CFG, max_rounds=12, compact_every=3)
    full = _drv(spark, tmp_path / "full", smoke_dfs, smoke_fixture, cfg)
    full.run()

    part_dir = tmp_path / "part"
    for stop in (4, 8, 12):
        drv = _drv(spark, part_dir, smoke_dfs, smoke_fixture, cfg)
        drv.run(max_rounds=stop, resume=True)
        # driver object discarded here = the kill; next loop iteration
        # resumes from the checkpoint alone

    assert _state(_drv(spark, part_dir, smoke_dfs, smoke_fixture, cfg)) == _state(full)


def test_design_point_cfg_is_scale_shaped():
    """Pin the soak's knob shape so a refactor can't silently turn off a
    mechanism (e.g. a renamed knob defaulting the probe back to
    broadcast)."""
    assert SOAK_CFG.bloom_min_seen == 0
    assert SOAK_CFG.bloom_knobs()["broadcast_max_bytes"] == 0
    assert SOAK_CFG.phash_dedup_dist is not None
    assert SOAK_CFG.table_max_records_per_file > 0
    assert SOAK_CFG.compact_every > 0 and SOAK_CFG.vacuum_keep_versions > 0
    replaced = dataclasses.replace(SOAK_CFG, bloom_broadcast_max_bytes=None)
    assert "broadcast_max_bytes" not in replaced.bloom_knobs()
