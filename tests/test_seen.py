"""SeenShard (bloom) invariants.

The contract for the two-tier URL-seen test (SURVEY.md §2.3):
* bloom: NO false negatives ever; false positives allowed;
* the exact anti-join tier (exercised in the engine tests) is the arbiter.
"""

from __future__ import annotations

import numpy as np

from twitter_crawler_spark.config import CrawlConfig
from twitter_crawler_spark.crawl.seen import SeenShard, make_seen_check_fn, shard_path


def _shard(bits=1 << 14):
    return SeenShard(bits, 4)


def test_bloom_no_false_negatives():
    rng = np.random.default_rng(1)
    added = rng.integers(-(2**62), 2**62, 5000, dtype=np.int64)
    sh = _shard(bits=1 << 17)
    sh.add(added)
    assert sh.bloom_contains(added).all()


def test_bloom_false_positive_rate_bounded():
    rng = np.random.default_rng(2)
    added = rng.integers(-(2**62), 2**62, 2000, dtype=np.int64)
    probe = rng.integers(-(2**62), 2**62, 20000, dtype=np.int64)
    probe = np.setdiff1d(probe, added)
    sh = _shard(bits=1 << 17)
    sh.add(added)
    fp = sh.bloom_contains(probe).mean()
    # m/n ≈ 65, k=4 → theoretical fp ~ 1e-5; allow slack
    assert fp < 0.01, fp


def test_save_load_roundtrip(tmp_path):
    rng = np.random.default_rng(5)
    added = rng.integers(-(2**62), 2**62, 500, dtype=np.int64)
    sh = _shard()
    sh.add(added)
    p = str(tmp_path / "bucket=0.npz")
    sh.save(p)
    back = SeenShard.load(p)
    assert (back.bits == sh.bits).all()
    assert (back.m, back.k) == (sh.m, sh.k)


def test_check_fn_classification(tmp_path):
    import pandas as pd

    rng = np.random.default_rng(6)
    added = rng.integers(-(2**62), 2**62, 300, dtype=np.int64)
    sh = _shard(bits=1 << 17)
    sh.add(added)
    d = str(tmp_path)
    sh.save(shard_path(d, 3))
    check = make_seen_check_fn(
        {3: shard_path(d, 3)}, str(tmp_path / "new"), CrawlConfig()
    )
    fresh = rng.integers(-(2**62), 2**62, 300, dtype=np.int64)
    fresh = np.setdiff1d(fresh, added)
    pdf = pd.DataFrame(
        {
            "url_hash": np.concatenate([added, fresh]),
            "bucket": 3,
            "allowed": True,
        }
    )
    out = check(pdf)
    seen_part = out.iloc[: len(added)]
    new_part = out.iloc[len(added):]
    # every truly-seen hash must be routed to the exact tier
    assert seen_part["maybe_seen"].all()
    # almost all fresh hashes short-circuit as definitely-new
    assert (~new_part["maybe_seen"]).mean() > 0.99
    # a bucket with no shard yet: everything is definitely new
    assert not check(pdf.assign(bucket=4))["maybe_seen"].any()


def test_check_then_insert_negatives_equals_add_all_new(tmp_path):
    """The bloom check inserts only the allowed bloom-negative candidates
    and writes the shard. Over random hashes, the written bits equal those
    of adding every new url (the negatives plus the bloom-positive ones
    the exact tier finds new): a bloom-positive key sets no new bit. A
    robots-blocked candidate is never inserted, and a bucket whose
    candidates are all bloom-positive gets no shard file."""
    import pandas as pd

    cfg = CrawlConfig(bloom_bits_per_partition=1 << 11, bloom_num_hashes=3)
    rng = np.random.default_rng(11)
    for trial in range(5):
        seen = rng.integers(-(2**62), 2**62, 400, dtype=np.int64)
        committed = SeenShard(cfg.bloom_bits_per_partition, cfg.bloom_num_hashes)
        committed.add(seen)
        old_dir, new_dir = tmp_path / f"old{trial}", tmp_path / f"new{trial}"
        old_dir.mkdir()
        committed.save(shard_path(str(old_dir), 5))
        # candidates: duplicates of seen urls and fresh urls (a loaded
        # 2048-bit shard gives the fresh ones many false positives)
        fresh = np.setdiff1d(rng.integers(-(2**62), 2**62, 300, dtype=np.int64), seen)
        cand = np.concatenate([rng.choice(seen, 100, replace=False), fresh])
        allowed = rng.random(len(cand)) < 0.8
        out = make_seen_check_fn({5: shard_path(str(old_dir), 5)}, str(new_dir), cfg)(
            pd.DataFrame({"url_hash": cand, "bucket": 5, "allowed": allowed})
        )
        maybe = out["maybe_seen"].to_numpy()
        assert 0 < (maybe & ~np.isin(cand, seen)).sum(), "false positives occur"
        new_urls = cand[allowed & ~np.isin(cand, seen)]
        want = SeenShard.load(shard_path(str(old_dir), 5))
        want.add(new_urls)
        got = SeenShard.load(shard_path(str(new_dir), 5))
        assert (got.bits == want.bits).all() and got.m == want.m
    # only bloom-positive candidates: the bits cannot change, no file
    check = make_seen_check_fn({5: shard_path(str(old_dir), 5)}, str(tmp_path / "none"), cfg)
    out = check(pd.DataFrame({"url_hash": seen[:50], "bucket": 5, "allowed": True}))
    assert out["maybe_seen"].all()
    assert not (tmp_path / "none").exists()


def test_legacy_shard_meta_loads(tmp_path):
    """Legacy shard files still load, reading m and k from the front of
    their meta: those with a key count [m, k, n_added], those that also
    carry a cuckoo array with a 6-element meta [m, k, cuckoo buckets,
    cuckoo slots, overflowed, n_added], and the oldest ones whose 5-element
    meta has no key count."""
    rng = np.random.default_rng(5)
    keys = rng.integers(-(2**62), 2**62, 1234, dtype=np.int64)
    sh = _shard()
    sh.add(keys)
    cuckoo = np.ones((1 << 10, 4), np.uint16)
    for meta in ([sh.m, sh.k, 1234], [sh.m, sh.k, 1 << 10, 4, 1, 1234],
                 [sh.m, sh.k, 1 << 10, 4, 1]):
        legacy = str(tmp_path / f"legacy{len(meta)}.npz")
        extra = {"cuckoo": cuckoo} if len(meta) > 3 else {}
        np.savez_compressed(legacy, bits=sh.bits, meta=np.array(meta), **extra)
        old = SeenShard.load(legacy)
        assert (old.m, old.k) == (sh.m, sh.k)
        assert old.bloom_contains(keys).all()


def test_grown_geometry_doubles_until_headroom():
    from twitter_crawler_spark.config import CrawlConfig
    from twitter_crawler_spark.crawl.seen import grown_geometry

    cfg = CrawlConfig(bloom_bits_per_partition=1 << 10)
    assert grown_geometry(50, cfg) == 1 << 10  # under load: unchanged
    m = grown_geometry(500, cfg)
    # 500 keys: load ≤ max_load/2 = 1/16 needs m ≥ 8000 → 8192
    assert m == 1 << 13
    assert 500 <= (cfg.bloom_max_load / 2) * m
    # geometry is monotone in n and always a power-of-two multiple
    m2 = grown_geometry(5000, cfg)
    assert m2 > m and m2 % (1 << 10) == 0


def test_rebuild_fn_restores_fp_rate(tmp_path):
    """A saturated tiny bloom claims nearly everything seen; the rebuild fn
    (the compaction capacity policy) rebuilds from the authoritative key
    set with grown geometry and the FP rate collapses — with zero false
    negatives before OR after (the correctness invariant)."""
    import pandas as pd

    from twitter_crawler_spark.config import CrawlConfig
    from twitter_crawler_spark.crawl.seen import (
        grown_geometry,
        make_shard_rebuild_fn,
    )

    rng = np.random.default_rng(11)
    keys = np.unique(rng.integers(-(2**62), 2**62, 2000, dtype=np.int64))
    cfg = CrawlConfig(bloom_bits_per_partition=1 << 10)
    small = SeenShard(cfg.bloom_bits_per_partition, cfg.bloom_num_hashes)
    small.add(keys)
    probe = np.unique(rng.integers(-(2**62), 2**62, 20000, dtype=np.int64))
    probe = probe[~np.isin(probe, keys)]
    fp_small = small.bloom_contains(probe).mean()
    assert fp_small > 0.5  # saturated: the pruning tier stopped paying

    geom = {7: grown_geometry(len(keys), cfg)}
    rebuild = make_shard_rebuild_fn(str(tmp_path), geom, cfg)
    stats = rebuild(pd.DataFrame({"bucket": 7, "url_hash": keys}))
    assert int(stats["n_total"].iloc[0]) == len(keys)
    grown = SeenShard.load(shard_path(str(tmp_path), 7))
    assert grown.m == geom[7]
    assert grown.bloom_contains(keys).all()  # still no false negatives
    fp_grown = grown.bloom_contains(probe).mean()
    assert fp_grown < 0.05 < fp_small
