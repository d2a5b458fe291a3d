"""Shared fixtures: one SparkSession per test session, one small fixture web.

The crawl fixture is deliberately small (a few hundred pages) so the full
engine-vs-oracle golden comparison stays inside pytest-friendly wall time;
the bench harness (bench.py) exercises the larger scales.
"""

from __future__ import annotations

import os
import shutil

import pytest

from twitter_crawler_spark.config import CrawlConfig
from twitter_crawler_spark.fixtures.webgen import generate_web
from twitter_crawler_spark.session import get_spark

# test-scale contract: fewer shards/buckets → fewer tasks per round, same code
# paths (the geometry is config, not logic)
TEST_CFG = CrawlConfig(
    max_rounds=6,
    seen_partitions=8,
    pages_buckets=8,
    host_salt=4,
)


@pytest.fixture(scope="session")
def spark():
    # test inputs are small: a bounded driver heap keeps this JVM's footprint
    # down while the parallelism and spark-submit tests start JVMs of their own
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    s = get_spark(
        app_name="tcs-tests",
        cores=8,
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("web") / "fx")
    generate_web(
        out,
        seed=7,
        n_pages=400,
        n_hosts=12,
        n_shorteners=4,
        n_seeds=8,
        span_rounds=5,
        mean_outdeg=6,
        pages_buckets=TEST_CFG.pages_buckets,
    )
    yield out
    shutil.rmtree(out, ignore_errors=True)
