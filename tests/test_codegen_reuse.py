"""A crawl round reuses the code Spark generated for the rounds before it.

One round plans about 200 whole-stage and expression classes. Spark's
codegen cache holds 100 by default, so its LRU evicted a round's whole
working set and every round compiled it again with Janino
(``session.get_spark`` sizes the cache to 1024). What a later round still
compiles is code that differs between rounds, e.g. a round's own literals.
"""

from __future__ import annotations

import dataclasses

from twitter_crawler_spark.crawl.engine import CrawlEngine

from tests.conftest import TEST_CFG

# Janino compiles of round 3 of this crawl with Spark's default 100-entry
# codegen cache, on the test session and fixture (three runs: 202, 201, 202)
DEFAULT_CACHE_ROUND3_COMPILES = 202


def test_round_reuses_compiled_code(spark, fixture_dir, tmp_path):
    cfg = dataclasses.replace(TEST_CFG, compact_every=0)
    eng = CrawlEngine(spark, fixture_dir, str(tmp_path / "state"), cfg)
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    eng.run(max_rounds=3)
    c0 = compiles.getCount()
    eng.run(max_rounds=4)
    assert eng.store.snapshot().committed_round == 3
    round3 = compiles.getCount() - c0
    assert round3 <= DEFAULT_CACHE_ROUND3_COMPILES // 3, round3
