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
~MBs-sized sidecar, never a global structure. The round's bloom check is
also its insert: having loaded a bucket's shard, it adds the allowed
bloom-negative candidates (a bloom-positive new url sets no new bit) and
writes the bucket's new shard, so no second pass over the new urls loads
the shards again. Sidecars are versioned per bucket: round k writes
``bloom/r=k/bucket=N.npz`` ONLY for buckets whose bits k changed, and a
reader resolves each bucket through the committed manifest's
``bloom_map`` (bucket → newest round, one dict lookup — O(1) per bucket
regardless of crawl length, no copy-forward of untouched shards and no
newest-first filesystem probing). Superseded shard files are GC'd after each
commit, so the sidecar tree stays O(#buckets) files. Resume always reads
filters consistent with the committed snapshot (SURVEY.md §7 hard part 3):
the map lives in the atomically-replaced manifest, and uncommitted round
dirs are removed by ``clean_uncommitted`` before any read.

Shard occupancy (keys inserted per bucket, the capacity policy's input) is
the manifest's ``bloom_load``: the driver grows a bucket's n by the round's
new-url count in that bucket. It is the only authority; a shard file holds
only its bits and geometry.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd


class SeenShard:
    """Bloom bitmap for one url_hash bucket."""

    def __init__(self, bloom_bits: int, num_hashes: int, bits: np.ndarray | None = None):
        assert bloom_bits % 64 == 0
        self.m = bloom_bits
        self.k = num_hashes
        self.bits = bits if bits is not None else np.zeros(bloom_bits // 64, np.uint64)

    # --- hashing: reuse the two murmur3_32 halves inside the 64-bit url_hash ---

    def _h12(self, h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        h = h.astype(np.int64).view(np.uint64)
        h1 = (h >> np.uint64(32)).astype(np.uint64)
        h2 = (h & np.uint64(0xFFFFFFFF)) | np.uint64(1)  # odd → full cycle
        return h1, h2

    # --- bloom -------------------------------------------------------------------

    def add(self, hashes: np.ndarray) -> None:
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

    # --- persistence ------------------------------------------------------------------

    def save(self, path: str) -> None:
        tmp = path + ".tmp.npz"  # np.savez requires/infers the suffix
        with open(tmp, "wb") as f:
            np.savez_compressed(
                f, bits=self.bits, meta=np.array([self.m, self.k])
            )
        os.replace(tmp, path)

    @classmethod
    def load(cls, path: str) -> "SeenShard":
        z = np.load(path)
        # meta starts [m, k]; a legacy file's meta goes on (with a key count
        # or cuckoo geometry) and it also holds a ``cuckoo`` array, neither
        # read here
        return cls(*(int(x) for x in z["meta"][:2]), bits=z["bits"])


def shard_path(bloom_dir: str, bucket: int) -> str:
    return os.path.join(bloom_dir, f"bucket={bucket}.npz")


def make_seen_check_fn(bucket_paths: dict[int, str], new_bloom_dir: str, cfg):
    """applyInPandas fn over candidates grouped by ``bucket``: flag each
    candidate ``maybe_seen`` = bloom-positive, i.e. it needs the exact
    anti-join; a bloom-negative candidate is definitely new.
    ``bucket_paths`` is the committed manifest's bucket → shard-file map
    (SnapshotStore.bloom_paths) — one dict lookup per bucket, no filesystem
    probing. A bucket with no shard yet has an empty filter → everything is
    definitely new.

    The check then inserts the bucket's allowed bloom-negative candidates
    into the shard it has loaded and writes it as this round's shard
    (``new_bloom_dir``). They are every new url that can set a bit: a
    bloom-positive new url finds its k bits set already, so the shard ends
    as if every new url were added. A bucket with no such candidate gets no
    new file. Each call reads committed shards only, so a retried task
    writes the same file again."""

    def check(pdf: pd.DataFrame) -> pd.DataFrame:
        maybe_seen = np.zeros(len(pdf), bool)
        if len(pdf):
            bucket = int(pdf["bucket"].iloc[0])
            p = bucket_paths.get(bucket)
            if p is not None:
                shard = SeenShard.load(p)
            else:
                shard = SeenShard(cfg.bloom_bits_per_partition, cfg.bloom_num_hashes)
            hashes = pdf["url_hash"].to_numpy(np.int64)
            maybe_seen = shard.bloom_contains(hashes)
            fresh = hashes[pdf["allowed"].to_numpy(bool) & ~maybe_seen]
            if len(fresh):
                shard.add(fresh)
                os.makedirs(new_bloom_dir, exist_ok=True)
                shard.save(shard_path(new_bloom_dir, bucket))
        pdf = pdf.copy()
        pdf["maybe_seen"] = maybe_seen
        return pdf

    return check


# applyInPandas output schema shared by the update and rebuild fns (and the
# engine call sites): per-bucket stats the driver folds into the manifest's
# bloom_map (shard version) and bloom_load (capacity-policy occupancy) maps
SHARD_STATS_SCHEMA = "bucket int, n_total long, m_bits long"


def _write_shard_fn(new_bloom_dir: str, bits_of, cfg):
    """applyInPandas fn over url hashes grouped by ``bucket``: add them to a
    fresh shard of ``bits_of(bucket)`` bits, write it into this round's
    sidecar dir and return the bucket's stats row (``n_total`` the hashes
    added). Runs inside executor tasks — each task touches one shard
    file."""

    def write(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["bucket"].iloc[0])
        shard = SeenShard(bits_of(bucket), cfg.bloom_num_hashes)
        shard.add(pdf["url_hash"].to_numpy(np.int64))
        os.makedirs(new_bloom_dir, exist_ok=True)
        shard.save(shard_path(new_bloom_dir, bucket))
        return pd.DataFrame(
            {"bucket": [bucket], "n_total": [len(pdf)], "m_bits": [shard.m]}
        )

    return write


def make_seen_update_fn(new_bloom_dir: str, cfg):
    """applyInPandas fn over the seed urls grouped by ``bucket``: build each
    bucket's first shard, of the configured geometry, in the round -1
    sidecar dir. ``init_state`` builds the seed shards with it; a round's
    new urls reach their shards through the bloom check
    (``make_seen_check_fn``)."""
    return _write_shard_fn(new_bloom_dir, lambda bucket: cfg.bloom_bits_per_partition, cfg)


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
    return _write_shard_fn(new_bloom_dir, lambda bucket: geom[bucket], cfg)
