"""``bench.py``'s crawl section: the crawl is perfbench's, and the counters
it prints are the engine's per-round counters summed over the crawl."""

from __future__ import annotations

import dataclasses

from perfbench.crawl import Shape
from tests.conftest import TEST_CFG
from twitter_crawler_spark.oracle.frontier_oracle import FrontierOracle


def test_bench_crawl_counts_equal_oracle_sums(spark, fixture_dir, tmp_path):
    """Round 0 plus two timed rounds: the bench counters equal the oracle's
    per-round counters summed over the same three rounds."""
    import bench

    shape = Shape(fixture={}, cfg=TEST_CFG, rounds=2)
    wall, got = bench.bench_crawl_once(spark, fixture_dir, shape, str(tmp_path / "s"))
    want = FrontierOracle(fixture_dir, dataclasses.replace(TEST_CFG, max_rounds=3)).run()
    assert [m["round"] for m in want.metrics] == [0, 1, 2]
    assert got == {k: sum(m[k] for m in want.metrics) for k in bench.WORK_COUNTERS}
    assert got["fetched"] > 0 and got["new_urls"] > 0 and wall > 0
    assert not (tmp_path / "s").exists()
