from __future__ import annotations

import pytest

from tor_spider_spark.config import CrawlConfig
from tor_spider_spark.fixtures.corpus import SMOKE, generate_fixture
from tor_spider_spark.session import get_spark
from tor_spider_spark.simulator import simulate


@pytest.fixture(scope="session")
def spark():
    s = get_spark("local[8]", app_name="tor-spider-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def smoke_fixture():
    return generate_fixture(SMOKE)


@pytest.fixture(scope="session")
def smoke_cfg():
    return CrawlConfig(max_rounds=6)


@pytest.fixture(scope="session")
def smoke_sim(smoke_fixture, smoke_cfg):
    return simulate(smoke_fixture, smoke_cfg)


@pytest.fixture(scope="session")
def smoke_dfs(spark, smoke_fixture):
    from tor_spider_spark.plans.driver import fixture_to_dfs

    return fixture_to_dfs(spark, smoke_fixture)


@pytest.fixture(scope="session")
def assert_end_state():
    """Check a finished CrawlDriver's committed frontier/host_state against
    a SimResult: the final frontier multiset and host → last_fetch_round."""

    def check(drv, sim):
        eng_frontier = sorted(
            map(tuple, drv.read("frontier").select(
                "url", "url_hash", "depth", "priority", "discovered_round", "is_seed"
            ).collect())
        )
        assert eng_frontier == sim.frontier_rows()
        eng_hosts = {r["host"]: r["last_fetch_round"] for r in drv.read("host_state").collect()}
        assert eng_hosts == sim.host_state

    return check
