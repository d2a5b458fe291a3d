"""Config-variant goldens: crawl-once mode (the reference's ``withRemoving``,
topologies/SeachUrlOnlyTopology.scala:12) and unfiltered language — each
variant replays engine vs oracle on a few rounds."""

from __future__ import annotations

import dataclasses

import pytest

from tests.conftest import TEST_CFG
from twitter_crawler_spark.config import CrawlConfig
from twitter_crawler_spark.crawl.engine import CrawlEngine
from twitter_crawler_spark.crawl.state import RETIRED_TABLES
from twitter_crawler_spark.oracle.frontier_oracle import FrontierOracle

VARIANTS = {
    "crawl_once": dataclasses.replace(TEST_CFG, crawl_once=True, max_rounds=4),
    "no_lang_filter": dataclasses.replace(TEST_CFG, lang_filter=None, max_rounds=3),
    "no_evict": dataclasses.replace(TEST_CFG, evict_unproductive=False, max_rounds=3),
    # F6 insert-time fan-out (FutureTasksStorage.scala:23-30): copies at all
    # intervals, pop-once, no reinsert; enough rounds to reach the 2nd
    # interval (1h = 1 round tick) and exercise the per-round url dedup
    "fanout": dataclasses.replace(TEST_CFG, fanout_revisits=True, max_rounds=5),
    # partitioning geometry must never leak into results: different host
    # salt and seen shards, same oracle (the oracle has no notion of
    # partitions)
    "alt_geometry": dataclasses.replace(
        TEST_CFG, host_salt=2, seen_partitions=4, max_rounds=4,
    ),
    # merge-on-read layout geometry: one band per round tick (finest
    # pruning), compaction every 2 rounds, and a 2-generation cap so the
    # run exercises minor folds AND a major (size-tiered) merge — storage
    # layout knobs that must be invisible to the crawl semantics (the
    # oracle has no notion of bands, sidecar logs, generations, or
    # compaction)
    "fine_bands_frequent_compaction": dataclasses.replace(
        TEST_CFG, frontier_band_rounds=1, compact_every=2, max_log_gens=2,
        max_rounds=7,
    ),
    # the benchmark's compaction shape: a minor merge, then a major merge
    # at every later compaction (one generation cap), each written straight
    # from the prior slice and the round's own rows
    "major_every_compaction": dataclasses.replace(
        TEST_CFG, compact_every=2, max_log_gens=1, max_rounds=6,
    ),
}


def _assert_bounded_listing(eng: CrawlEngine, cfg: CrawlConfig) -> None:
    """Post-run, post-GC invariant: every table the round loop RE-READS has a
    file/dir population bounded by the compaction geometry (compact_every K,
    max_log_gens G) — independent of how many rounds ran. This is the
    listing/probe-cost contract behind the 50-round receipt
    (BENCH_SCALING.json ``long_crawl_50r``), pinned here on every
    compacting test run for free (pure filesystem asserts). The loop also
    reads crawl_log — the frontier's delete keys since the base and the
    host crawl-delay window — probing at most max(K, D) of its round dirs
    (D the longest crawl delay) and
    never listing the table; crawl_log,
    evictions and round_metrics are append-only OUTPUT logs that are never
    compacted, so their dir counts are exempt by design. The retired tables
    (frontier_del, hosts, hosts_new, hosts_touch, which crawl_log replaced,
    and frontier_ins, whose rows frontier now holds) are never written."""
    import os

    st = eng.store
    snap = st.snapshot()
    base = snap.frontier_base_round
    since_base = snap.committed_round - base
    assert since_base < cfg.compact_every  # compaction actually ran on time

    def round_dirs(tbl: str) -> list[int]:
        return [k for k, _ in st._round_dirs(tbl)]

    # frontier: the one base dir survives GC, then the insert rounds after it
    fr = round_dirs("frontier")
    assert fr[0] == base and len(fr) - 1 <= since_base and all(k > base for k in fr[1:]), fr
    for tbl in RETIRED_TABLES:
        assert not os.path.exists(os.path.join(st.root, tbl)), tbl
    # gains log: only rounds after the base fold
    rs = round_dirs("frontier_gains")
    assert len(rs) <= since_base and all(k > base for k in rs), rs
    # leveled logs: <= G generation dirs + the tail rounds since the newest
    for tbl in ("url_seen", "docs", "edges"):
        g = snap.log_gens.get(tbl, [])
        troot = os.path.join(st.root, tbl)
        gen_dirs = [d for d in os.listdir(troot) if d.startswith("gen=")] \
            if os.path.isdir(troot) else []
        assert len(g) <= cfg.max_log_gens, (tbl, g)
        assert sorted(gen_dirs) == sorted(f"gen={k}" for k in g), (tbl, gen_dirs)
        rs = round_dirs(tbl)
        newest = g[-1] if g else base
        assert all(k > newest for k in rs) and len(rs) <= since_base, (tbl, rs)
    # bloom sidecar: O(#buckets) files, every one referenced by the manifest
    # map (superseded shards are GC'd per commit)
    on_disk = set()
    for root, _dirs, files in os.walk(st.bloom_root):
        on_disk.update(os.path.join(root, f) for f in files)
    referenced = set(st.bloom_paths(snap).values())
    assert on_disk == referenced, (on_disk - referenced, referenced - on_disk)
    assert len(on_disk) <= cfg.seen_partitions


@pytest.mark.parametrize("name", sorted(VARIANTS))
def test_variant_matches_oracle(spark, fixture_dir, tmp_path_factory, name):
    cfg = VARIANTS[name]
    oracle = FrontierOracle(fixture_dir, cfg).run()
    state = str(tmp_path_factory.mktemp(f"var_{name}") / "s")
    eng = CrawlEngine(spark, fixture_dir, state, cfg)
    eng.run()
    if eng.store.snapshot().frontier_base_round >= 0:
        # at least one compaction folded during this run
        _assert_bounded_listing(eng, cfg)
    got = [
        (r.round, r.seq, r.url, r.depth, r.score, r.attempt)
        for r in eng.crawl_log().orderBy("round", "seq").collect()
    ]
    want = [
        (c["round"], c["seq"], c["url"], c["depth"], c["score"], c["attempt"])
        for c in oracle.crawl_order
    ]
    assert got == want, f"crawl order diverged for variant {name}"
    seen = {r.url for r in eng.url_seen().collect()}
    assert seen == oracle.url_seen


def test_config_rejects_short_schedule():
    """max_attempts > len(intervals) must fail fast (engine would silently
    truncate fan-out copies while the oracle would IndexError — ADVICE r2)."""
    with pytest.raises(ValueError, match="max_attempts"):
        CrawlConfig(max_attempts=5)
    CrawlConfig(max_attempts=3)  # shorter than schedule is fine
