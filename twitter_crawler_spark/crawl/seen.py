"""URL-seen membership at scale (SURVEY.md §2.3 D1-D4).

Replaces the reference's three independent dedup mechanisms — Redis
``hexists`` (storages/RedisFutureStorage.scala:29), the in-memory ``urlSet``
(storages/FutureTasksStorage.scala:17) and Lucene ``isNew`` probes
(storages/GraphStorage.scala:134-141, TweetStorage.scala:53-60) — with a
two-tier membership test sharded by ``murmur3_64(url) % P``:

1. **Partitioned bloom filter** (bitmap sidecar per shard, persisted and
   versioned with each snapshot round): bloom-NEGATIVE candidates are
   *definitely new* and skip the exact tier.
2. **Exact anti-join** against the ``url_seen`` table — the final arbiter for
   the bloom-positive slice (exactness is mandated by the north rule).

The exact tier's input is every true duplicate plus the bloom's false
positives; no filter can remove the true duplicates, and the capacity
policy (``grown_geometry``) keeps the false positives rare, so a second
filter tier between the two has nothing left to prune (BASELINE.md,
"URL-seen tiers").

Shards are loaded *per bucket inside executor tasks* (``applyInPandas`` over
a bucket-grouped DataFrame), so at 10^10 urls each task touches only its own
~MBs-sized sidecar, never a global structure. Sidecars are versioned per
bucket: round k writes ``bloom/r=k/bucket=N.npz`` ONLY for buckets k
touched, and a reader resolves each bucket through the committed manifest's
``bloom_map`` (bucket → newest round, one dict lookup — O(1) per bucket
regardless of crawl length, no copy-forward of untouched shards and no
newest-first filesystem probing). Superseded shard files are GC'd after each
commit, so the sidecar tree stays O(#buckets) files. Resume always reads
filters consistent with the committed snapshot (SURVEY.md §7 hard part 3):
the map lives in the atomically-replaced manifest, and uncommitted round
dirs are removed by ``clean_uncommitted`` before any read.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd


class SeenShard:
    """Bloom bitmap for one url_hash bucket."""

    def __init__(
        self,
        bloom_bits: int,
        num_hashes: int,
        bits: np.ndarray | None = None,
        n_added: int = 0,
    ):
        assert bloom_bits % 64 == 0
        self.m = bloom_bits
        self.k = num_hashes
        self.bits = bits if bits is not None else np.zeros(bloom_bits // 64, np.uint64)
        # keys inserted over the shard's lifetime (callers pass distinct new
        # urls, so this is exact) — the occupancy input to the capacity
        # policy: compaction rebuilds a shard whose n_added/m load crossed
        # CrawlConfig.bloom_max_load with doubled geometry (a saturated
        # bloom degrades FP→1: correct but the pruning tier stops paying)
        self.n_added = int(n_added)

    # --- hashing: reuse the two murmur3_32 halves inside the 64-bit url_hash ---

    def _h12(self, h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        h = h.astype(np.int64).view(np.uint64)
        h1 = (h >> np.uint64(32)).astype(np.uint64)
        h2 = (h & np.uint64(0xFFFFFFFF)) | np.uint64(1)  # odd → full cycle
        return h1, h2

    # --- bloom -------------------------------------------------------------------

    def bloom_add(self, hashes: np.ndarray) -> None:
        h1, h2 = self._h12(hashes)
        for i in range(self.k):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(self.m)
            np.bitwise_or.at(
                self.bits, (pos >> np.uint64(6)).astype(np.int64),
                np.uint64(1) << (pos & np.uint64(63)),
            )

    def bloom_contains(self, hashes: np.ndarray) -> np.ndarray:
        h1, h2 = self._h12(hashes)
        out = np.ones(len(hashes), bool)
        for i in range(self.k):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(self.m)
            word = self.bits[(pos >> np.uint64(6)).astype(np.int64)]
            out &= ((word >> (pos & np.uint64(63))) & np.uint64(1)).astype(bool)
        return out

    def add(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        self.bloom_add(hashes)
        self.n_added += len(hashes)

    # --- persistence ------------------------------------------------------------------

    def save(self, path: str) -> None:
        tmp = path + ".tmp.npz"  # np.savez requires/infers the suffix
        with open(tmp, "wb") as f:
            np.savez_compressed(
                f, bits=self.bits, meta=np.array([self.m, self.k, self.n_added])
            )
        os.replace(tmp, path)

    @classmethod
    def load(cls, path: str) -> "SeenShard":
        z = np.load(path)
        meta = [int(x) for x in z["meta"]]
        # legacy shard files also hold a ``cuckoo`` array (never read here)
        # and a meta of [m, k, cuckoo buckets, cuckoo slots, overflowed] plus
        # n_added, which the oldest files lack
        if len(meta) == 3:
            n_added = meta[2]
        else:
            n_added = meta[5] if len(meta) > 5 else 0
        return cls(meta[0], meta[1], bits=z["bits"], n_added=n_added)


def shard_path(bloom_dir: str, bucket: int) -> str:
    return os.path.join(bloom_dir, f"bucket={bucket}.npz")


def make_seen_check_fn(bucket_paths: dict[int, str]):
    """applyInPandas fn over candidates grouped by ``bucket``: flag each
    candidate ``maybe_seen`` = bloom-positive, i.e. it needs the exact
    anti-join; a bloom-negative candidate is definitely new.
    ``bucket_paths`` is the committed manifest's bucket → shard-file map
    (SnapshotStore.bloom_paths) — one dict lookup per bucket, no filesystem
    probing. A bucket with no shard yet has an empty filter → everything is
    definitely new."""

    def check(pdf: pd.DataFrame) -> pd.DataFrame:
        maybe_seen = np.zeros(len(pdf), bool)
        if len(pdf):
            p = bucket_paths.get(int(pdf["bucket"].iloc[0]))
            if p is not None:
                maybe_seen = SeenShard.load(p).bloom_contains(
                    pdf["url_hash"].to_numpy(np.int64)
                )
        pdf = pdf.copy()
        pdf["maybe_seen"] = maybe_seen
        return pdf

    return check


# applyInPandas output schema shared by the update and rebuild fns (and the
# engine call sites): per-bucket stats the driver folds into the manifest's
# bloom_map (shard version) and bloom_load (capacity-policy occupancy) maps
SHARD_STATS_SCHEMA = "bucket int, n_total long, m_bits long"


def _write_shard_fn(new_bloom_dir: str, shard_for):
    """applyInPandas fn over url hashes grouped by ``bucket``: add them to
    ``shard_for(bucket)``, write the shard into this round's sidecar dir and
    return the bucket's stats row. Runs inside executor tasks — each task
    touches one shard file."""

    def write(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["bucket"].iloc[0])
        shard = shard_for(bucket)
        shard.add(pdf["url_hash"].to_numpy(np.int64))
        os.makedirs(new_bloom_dir, exist_ok=True)
        shard.save(shard_path(new_bloom_dir, bucket))
        return pd.DataFrame(
            {"bucket": [bucket], "n_total": [shard.n_added], "m_bits": [shard.m]}
        )

    return write


def make_seen_update_fn(bucket_paths: dict[int, str], new_bloom_dir: str, cfg):
    """applyInPandas fn over NEW urls grouped by ``bucket``: load the
    bucket's committed sidecar (manifest map lookup), add the new hashes,
    write this round's shard for JUST this bucket. Untouched buckets get no
    new file this round, and the superseded file is GC'd after the commit."""

    def shard_for(bucket: int) -> SeenShard:
        prev = bucket_paths.get(bucket)
        if prev is not None:
            return SeenShard.load(prev)
        return SeenShard(cfg.bloom_bits_per_partition, cfg.bloom_num_hashes)

    return _write_shard_fn(new_bloom_dir, shard_for)


def grown_geometry(n: int, cfg) -> int:
    """Target bloom size for n keys under the capacity policy: bits doubled
    from the configured base until the post-rebuild load n/m is at most
    half of ``bloom_max_load`` (headroom for the next compaction window).
    Growth is geometric, so a shard is rebuilt O(log n) times over the
    whole crawl regardless of length."""
    m = cfg.bloom_bits_per_partition
    while n > (cfg.bloom_max_load / 2) * m:
        m *= 2
    return m


def make_shard_rebuild_fn(new_bloom_dir: str, geom: dict[int, int], cfg):
    """applyInPandas fn over the FULL url_seen slice of saturated buckets
    (bucket-pruned scan — compaction reads these rows anyway), grouped by
    ``bucket``: build a fresh shard of the grown size ``geom[bucket]`` bits
    and write it into this round's sidecar dir. A bloom filter cannot be
    resized in place (bit positions are hash(m)-dependent), so growth =
    exact rebuild from the authoritative url_seen table at the compaction
    commit — the same atomic point that rewrites the frontier base. The
    superseded small shard is GC'd post-commit like any replaced shard."""
    return _write_shard_fn(
        new_bloom_dir, lambda bucket: SeenShard(geom[bucket], cfg.bloom_num_hashes)
    )
