"""The correctness gate: Spark engine ≡ pure-Python oracle on every golden
trace (BASELINE.json: "crawl ordering and final URL-seen membership set must
exactly match the reference's" — the oracle replays the reference frontier
semantics; see twitter_crawler_spark/oracle/frontier_oracle.py)."""

from __future__ import annotations

import dataclasses

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


def test_filterless_path_identical(spark, fixture_dir, tmp_path_factory, engine):
    """The bloom prefilter tier must be semantics-free: the pure exact
    anti-join path yields the identical crawl (SURVEY.md §5.4)."""
    state = str(tmp_path_factory.mktemp("state_nf") / "s")
    eng2 = CrawlEngine(spark, fixture_dir, state, TEST_CFG, use_filters=False)
    eng2.run()
    a = _engine_log(engine)
    b = _engine_log(eng2)
    assert a == b
    seen_a = {r.url for r in engine.url_seen().collect()}
    seen_b = {r.url for r in eng2.url_seen().collect()}
    assert seen_a == seen_b


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
    assert eng.store.committed_round() == -1
    assert cache.numCachedEntries() == entries
    assert set(jsc.getPersistentRDDs().keySet()) == rdds


def test_round_leaves_nothing_persisted(spark, fixture_dir, tmp_path):
    """A round frees its local checkpoints when it ends: past the engine's
    cached static inputs (all built by round 0), rounds add no persisted
    RDD, so a long crawl does not accumulate executor storage."""
    eng = CrawlEngine(spark, fixture_dir, str(tmp_path / "s"), TEST_CFG)
    jsc = spark.sparkContext._jsc
    eng.run(max_rounds=1)
    rdds = set(jsc.getPersistentRDDs().keySet())
    eng.run(max_rounds=3)
    assert eng.store.committed_round() == 2
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
    assert eng.store.committed_round() == 3
    assert set(jsc.getPersistentRDDs().keySet()) <= rdds
    assert _engine_log(eng) == [
        (c["round"], c["seq"], c["url"], c["host"], c["depth"], c["score"], c["attempt"])
        for c in want.crawl_order
    ]
    assert {r.url for r in eng.url_seen().collect()} == want.url_seen
