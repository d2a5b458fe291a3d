"""Engine-level pins for the bloom-shard capacity policy (round 5).

The saturation RECEIPT (FP rate before/after, scripts/
bloom_capacity_receipt.py → BLOOM_CAPACITY.json) runs at bench scale; here
the pytest-scale contract:

* outcome invariance — a crawl with deliberately tiny shards produces the
  SAME url_seen / crawl_log under fixed geometry (``bloom_max_load=inf``)
  and under autogrow (shard geometry moves where a dup is caught, never the
  outcome: the exact tier arbitrates);
* the policy actually fires — at least one bucket's bloom grows beyond the
  configured base bits, and the manifest's occupancy map tracks it;
* resume crosses a rebuild boundary — a second engine instance picking up
  the committed state mid-crawl (after compaction+rebuild rounds) finishes
  with goldens identical to the single-run crawl.
"""

from __future__ import annotations

import math

import pytest

from twitter_crawler_spark.config import CrawlConfig
from twitter_crawler_spark.crawl.engine import CrawlEngine

TINY = dict(
    max_rounds=6,
    seen_partitions=4,
    pages_buckets=8,
    host_salt=4,
    compact_every=2,
    bloom_bits_per_partition=64,       # 8-key capacity at max_load=1/8
)


def _goldens(eng):
    log = [
        (r.round, r.seq, r.url, r.attempt)
        for r in eng.crawl_log().orderBy("round", "seq").collect()
    ]
    seen = {r.url for r in eng.url_seen().collect()}
    return log, seen


@pytest.fixture(scope="module")
def tiny_fixture(tmp_path_factory):
    from twitter_crawler_spark.fixtures.webgen import generate_web

    out = str(tmp_path_factory.mktemp("bp_web") / "fx")
    generate_web(out, seed=19, n_pages=400, n_hosts=10, n_seeds=8,
                 span_rounds=5, pages_buckets=8)
    return out


def test_autogrow_preserves_goldens_and_fires(spark, tiny_fixture, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("bp_state"))
    fixed = CrawlEngine(spark, tiny_fixture, f"{base}/fixed",
                        CrawlConfig(bloom_max_load=math.inf, **TINY))
    fixed.run()
    grown = CrawlEngine(spark, tiny_fixture, f"{base}/grown",
                        CrawlConfig(**TINY))
    grown.run()
    assert _goldens(fixed) == _goldens(grown)
    load = grown.store.snapshot().bloom_load
    base_bits = TINY["bloom_bits_per_partition"]
    assert any(int(v[1]) > base_bits for v in load.values()), (
        "tiny shards never saturated — the policy path was not exercised"
    )
    # fixed geometry never grows
    fload = fixed.store.snapshot().bloom_load
    assert all(int(v[1]) == base_bits for v in fload.values())


def test_resume_across_rebuild_boundary(spark, tiny_fixture, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("bp_resume"))
    cfg = CrawlConfig(**TINY)
    single = CrawlEngine(spark, tiny_fixture, f"{base}/single", cfg)
    single.run()

    split = CrawlEngine(spark, tiny_fixture, f"{base}/split", cfg)
    split.run(max_rounds=4)  # past >= 1 compaction (+ any rebuild it fired)
    resumed = CrawlEngine(spark, tiny_fixture, f"{base}/split", cfg)
    resumed.run()  # picks up from the committed snapshot

    assert _goldens(single) == _goldens(resumed)
    # the resumed run sees the same final occupancy map as the single run
    assert single.store.snapshot().bloom_load == resumed.store.snapshot().bloom_load
