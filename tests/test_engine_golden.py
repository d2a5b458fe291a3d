"""The correctness gate: Spark engine ≡ pure-Python oracle on every golden
trace (BASELINE.json: "crawl ordering and final URL-seen membership set must
exactly match the reference's" — the oracle replays the reference frontier
semantics; see twitter_crawler_spark/oracle/frontier_oracle.py)."""

from __future__ import annotations

import dataclasses
import os
import re
import shutil

import pandas as pd
import pytest

from tests.conftest import TEST_CFG
from twitter_crawler_spark.crawl.engine import CrawlEngine
from twitter_crawler_spark.oracle.frontier_oracle import FrontierOracle


@pytest.fixture(scope="module")
def oracle_result(fixture_dir):
    return FrontierOracle(fixture_dir, TEST_CFG).run()


@pytest.fixture(scope="module")
def engine(spark, fixture_dir, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("state") / "s")
    eng = CrawlEngine(spark, fixture_dir, state, TEST_CFG)
    eng.run()
    return eng


def _engine_log(engine):
    return [
        (r.round, r.seq, r.url, r.host, r.depth, r.score, r.attempt)
        for r in engine.crawl_log().orderBy("round", "seq").collect()
    ]


def test_crawl_order_exact(engine, oracle_result):
    got = _engine_log(engine)
    want = [
        (c["round"], c["seq"], c["url"], c["host"], c["depth"], c["score"], c["attempt"])
        for c in oracle_result.crawl_order
    ]
    assert got == want


def test_url_seen_exact(engine, oracle_result):
    got = {r.url for r in engine.url_seen().collect()}
    assert got == oracle_result.url_seen


def test_edges_exact(engine, oracle_result):
    got = {(r.src_url, r.dst_url, r.round) for r in engine.edges().collect()}
    assert got == oracle_result.edges


def test_docs_byte_identical(engine, oracle_result):
    got = {r.url: (r.round, r.text_sha256) for r in engine.docs().collect()}
    sha = oracle_result.text_sha()
    want = {u: (rd, sha[u]) for u, (rd, _) in oracle_result.docs.items()}
    assert got == want


def test_evictions_exact(engine, oracle_result):
    got = sorted(r.url for r in engine.evictions().collect())
    assert got == sorted(oracle_result.evictions)


def test_round_metrics_totals(engine, oracle_result):
    """Round totals in the metrics table agree with the oracle's counters."""
    m = {
        r.round: r
        for r in engine.round_metrics().where("partition_id = -1").collect()
    }
    om = {r["round"]: r for r in oracle_result.metrics}
    assert set(m) == set(om)
    for rd, row in m.items():
        assert row.fetched == om[rd]["fetched"], rd
        assert row.new_urls == om[rd]["new_urls"], rd
        assert row.results == om[rd]["results"], rd
        assert row.evicted == om[rd]["evicted"], rd
        assert row.robots_blocked == om[rd]["robots_blocked"], rd
        assert row.dupes == om[rd]["dupes"], rd


def test_lineage_present(engine):
    rows = engine.round_metrics().where("partition_id = -1").collect()
    assert all(r.lineage and "inputs" in r.lineage for r in rows)


def test_init_state_leaves_nothing_cached(spark, fixture_dir, tmp_path):
    """init_state caches the seed frontier while it writes round -1; once it
    returns, nothing it cached is still held in executor storage (in a
    long-lived session every engine would otherwise pin another copy)."""
    eng = CrawlEngine(spark, fixture_dir, str(tmp_path / "s"), TEST_CFG)
    jsc = spark.sparkContext._jsc
    cache = spark._jsparkSession.sharedState().cacheManager()
    # the engine's static inputs stay cached for its lifetime: build them now
    for df in (eng.redirects, eng.robots, eng.politeness):
        df.count()
    entries, rdds = cache.numCachedEntries(), set(jsc.getPersistentRDDs().keySet())
    eng.init_state()
    assert eng.store.snapshot().committed_round == -1
    assert cache.numCachedEntries() == entries
    assert set(jsc.getPersistentRDDs().keySet()) == rdds


def test_zero_max_rounds_runs_no_round(spark, fixture_dir, tmp_path):
    """``max_rounds=0`` initialises the state and runs no round, in the
    engine and in the oracle alike."""
    eng = CrawlEngine(spark, fixture_dir, str(tmp_path / "s"), TEST_CFG)
    assert eng.run(max_rounds=0)["rounds"] == []
    assert eng.store.snapshot().committed_round == -1
    assert FrontierOracle(fixture_dir, TEST_CFG).run(max_rounds=0).crawl_order == []


def test_round_leaves_nothing_persisted(spark, fixture_dir, tmp_path):
    """A round frees its local checkpoints when it ends: past the engine's
    cached static inputs (all built by round 0), rounds add no persisted
    RDD, so a long crawl does not accumulate executor storage."""
    eng = CrawlEngine(spark, fixture_dir, str(tmp_path / "s"), TEST_CFG)
    jsc = spark.sparkContext._jsc
    eng.run(max_rounds=1)
    rdds = set(jsc.getPersistentRDDs().keySet())
    eng.run(max_rounds=3)
    assert eng.store.snapshot().committed_round == 2
    assert set(jsc.getPersistentRDDs().keySet()) <= rdds


def test_round_that_pops_nothing(spark, tmp_path):
    """A round whose frontier holds only rows due in a later round pops and
    fetches nothing, commits, and frees what it checkpointed; the crawl goes
    on and equals the oracle's. Here the seeds link nowhere and are
    revisited two rounds after their first fetch, so round 1 is empty."""
    from twitter_crawler_spark.fixtures.webgen import generate_web

    fx = str(tmp_path / "fx")
    generate_web(fx, seed=11, n_pages=60, n_hosts=6, n_shorteners=2, n_seeds=4,
                 span_rounds=4, mean_outdeg=0, pages_buckets=TEST_CFG.pages_buckets)
    cfg = dataclasses.replace(TEST_CFG, max_rounds=4, intervals=(0, 7200, 18000, 68400))
    want = FrontierOracle(fx, cfg).run()
    assert {c["round"] for c in want.crawl_order} == {0, 2, 3}

    eng = CrawlEngine(spark, fx, str(tmp_path / "s"), cfg)
    jsc = spark.sparkContext._jsc
    eng.run(max_rounds=1)
    rdds = set(jsc.getPersistentRDDs().keySet())
    eng.run()
    assert eng.store.snapshot().committed_round == 3
    assert set(jsc.getPersistentRDDs().keySet()) <= rdds
    assert _engine_log(eng) == [
        (c["round"], c["seq"], c["url"], c["host"], c["depth"], c["score"], c["attempt"])
        for c in want.crawl_order
    ]
    assert {r.url for r in eng.url_seen().collect()} == want.url_seen


def test_bucket_pruning_rule(engine):
    """The rule the capacity rebuild prunes its url_seen scan by: an empty
    bucket list plans an empty relation that reads no file, a partial list
    reaches the scan as a partition filter, and a list that covers every
    bucket adds no filter."""
    from twitter_crawler_spark.crawl.engine import _in_buckets

    def plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    df, n = engine.url_seen(), TEST_CFG.seen_partitions
    empty = _in_buckets(df, [], n)
    assert empty.inputFiles() == [] and empty.count() == 0
    some = _in_buckets(df, [2, 0], n)
    assert re.search(r"PartitionFilters: \[[^\]]*bucket#\d+ IN \(0,2\)", plan(some))
    assert {r.bucket for r in some.select("bucket").distinct().collect()} == {0, 2}
    every = _in_buckets(df, range(n), n)
    assert "PartitionFilters: []" in plan(every) and " IN (" not in plan(every)


def test_engine_construction_reads_inputs_without_inference(spark, fixture_dir, tmp_path):
    """The static inputs are read under their declared schemas, so building
    an engine launches at most the one job that finds the longest crawl
    delay, and no footer-inference job. An input whose columns drift from
    the declaration raises."""
    tracker = spark.sparkContext.statusTracker()

    def last_job() -> int:
        return max(tracker.getJobIdsForGroup(None), default=-1)

    j0 = last_job()
    CrawlEngine(spark, fixture_dir, str(tmp_path / "s"), TEST_CFG)
    assert last_job() - j0 <= 1

    fx = str(tmp_path / "fx")
    shutil.copytree(fixture_dir, fx)
    pol_path = os.path.join(fx, "politeness.parquet")
    pol = pd.read_parquet(pol_path)
    pol["crawl_delay_rounds"] = pol["crawl_delay_rounds"].astype("int64")
    pol.to_parquet(pol_path, index=False)
    with pytest.raises(ValueError, match="declares"):
        CrawlEngine(spark, fx, str(tmp_path / "s2"), TEST_CFG)
