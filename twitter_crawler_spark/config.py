"""Crawl contract constants and configuration.

Every semantic knob of the crawl is fixed here so that the pure-Python oracle
(tests/oracle) and the Spark engine share ONE contract. All times are LOGICAL
seconds (round r starts at ``t_r = r * round_tick``) — the reference leans on
``System.currentTimeMillis`` (storages/RedisFutureStorage.scala:20,56,100);
the engine replaces wall-clock with this logical clock so runs are exactly
reproducible (SURVEY.md §7 "No wall-clock anywhere").
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class CrawlConfig:
    """The crawl contract.

    References into /root/reference/src/main/scala/twitter/crawler/:

    * ``intervals``/``max_attempts``: revisit schedule ``[0, 1h, 5h, 19h]`` and
      removal at attempt cap — storages/RedisFutureStorage.scala:12,62-69.
    * ``crawl_once``: the ``withRemoving`` mode —
      topologies/SeachUrlOnlyTopology.scala:12.
    * ``evict_unproductive``: "Delete rare url" (0 results and not the first
      attempt) — storages/RedisFutureStorage.scala:123-143.
    * ``lang_filter``: server-side ``query.setLang("ru")`` —
      threads/RedisSearchThread.scala:17. Fetch results (page snapshots) are
      lang-filtered before counting/extraction, like the search API filtered
      tweets server-side.
    * cursor semantics: ``sinceId`` incremental scans —
      threads/RedisSearchThread.scala:18-19; a fetch of url U at round r sees
      exactly the snapshots with ``last_cursor < warc_ts_logical <= t_r``.
    * OPIC-style score: no reference impl (north-star requirement); integer
      micro-cash so summation is order-independent and ordering is exactly
      reproducible under any parallelism.
    """

    # revisit schedule, logical seconds (RedisFutureStorage.scala:12: 0,1h,5h,19h)
    intervals: tuple[int, ...] = (0, 3600, 18000, 68400)
    # a url is popped at most this many times (RedisFutureStorage.scala:62-65)
    max_attempts: int = 4
    # logical seconds per crawl round
    round_tick: int = 3600
    # only snapshots with this lang yield results; None disables the filter
    lang_filter: str | None = "ru"
    # crawl-once mode: never re-insert after a pop (withRemoving)
    crawl_once: bool = False
    # evict tasks that returned 0 results on a revisit (attempt >= 1)
    evict_unproductive: bool = True
    # F6 insert-time fan-out (storages/FutureTasksStorage.scala:23-30
    # putRTTasks): a scheduled url is inserted at ALL revisit intervals at
    # once (one frontier copy per interval, attempt = interval index); copies
    # are popped once and never reinserted, and at most one copy of a url is
    # popped per round (min attempt wins). False = the progressive
    # single-interval reinsert schedule (RedisFutureStorage.scala:62-69).
    # Interaction with evict_unproductive: under fan-out an unproductive
    # revisit evicts only the POPPED copy — the url's remaining fan-out
    # copies stay scheduled and will still be fetched at their intervals
    # (engine and oracle agree; the reference's delete-rare-url semantics
    # were defined for the progressive schedule where one copy exists).
    fanout_revisits: bool = False
    # OPIC: initial cash (integer micro-units) for a newly scheduled url
    init_cash: int = 1_000_000
    # politeness defaults for hosts absent from the politeness table
    default_budget: int = 4
    default_crawl_delay: int = 1
    # stop after this many rounds even if the frontier is non-empty
    max_rounds: int = 50
    # URL-seen sharding: bloom sidecars are partitioned by
    # murmur3_64(url) % seen_partitions (SURVEY.md §2.3 D1)
    seen_partitions: int = 16
    bloom_bits_per_partition: int = 1 << 17
    bloom_num_hashes: int = 4
    # bloom capacity policy: a shard whose lifetime-insert load n/m exceeds
    # bloom_max_load (FP ≈ (1−e^{−k·n/m})^k ≈ 2.4% at load 1/8, k=4) is
    # REBUILT at the next compaction commit from the authoritative url_seen
    # table with doubled geometry (see seen.grown_geometry) — without this a
    # fixed-geometry shard saturates on a long crawl and the bloom tier
    # silently stops paying (everything falls through to the exact
    # anti-join: correct, but the design claim dies). math.inf freezes the
    # geometry (the saturation receipt's fixed-geometry run uses it).
    bloom_max_load: float = 0.125
    # Inert: the URL-seen test has no cuckoo tier any more, and nothing
    # reads these two fields. They are kept only because the benchmark's
    # crawl_compact config (perfbench/crawl.py) still sets them.
    cuckoo_buckets_per_partition: int = 1 << 12
    cuckoo_target_load: float = 0.5
    # salting factor for the hot-host politeness window (SURVEY.md §2.4 skew note)
    host_salt: int = 8
    # Inert: the fetch join reads every pages bucket, so a fixture written
    # with any pages modulus crawls the same, and nothing reads this field.
    # It is kept only because the benchmark's configs (perfbench/crawl.py)
    # still set it.
    pages_buckets: int = 16
    # frontier merge-on-read layout (Iceberg delete-file analog): the banded
    # base is partitioned by band = next_fetch_ts div (round_tick *
    # frontier_band_rounds) so the due scan partition-prunes to due bands; a
    # round appends ins/gains sidecar logs (its crawl_log rows are the
    # deletes) instead of rewriting the frontier (a full rewrite per round
    # is ~1 TB of parquet writes per 0.001% delta at the 10^10-URL design
    # point)
    frontier_band_rounds: int = 4
    # fold the sidecar logs into a fresh banded base and merge the
    # url_seen/docs/edges round dirs into one generation every K committed
    # rounds (0 disables compaction); bounds sidecar-resolution and
    # listing costs to O(K), amortized rewrite cost to 1/K per round
    compact_every: int = 8
    # leveled compaction for the append-only logs (url_seen/docs/edges): a
    # MINOR compaction folds only the K-round tail into a NEW generation dir
    # (O(batch·K) bytes — it never rewrites the ever-growing history); once a
    # table holds this many generations the next compaction is MAJOR and
    # merges them into one (LSM size-tiering: the O(total) rewrite happens
    # every max_log_gens * compact_every rounds instead of every K)
    max_log_gens: int = 4

    def __post_init__(self) -> None:
        # Both the engine's schedule (intervals[:max_attempts] under fan-out)
        # and the oracle (intervals[j] for j < max_attempts) assume the
        # schedule covers every attempt; a shorter intervals tuple would make
        # them diverge (engine truncates, oracle raises IndexError) — fail
        # fast instead.
        if self.max_attempts > len(self.intervals):
            raise ValueError(
                f"max_attempts ({self.max_attempts}) exceeds the revisit "
                f"schedule length ({len(self.intervals)} intervals)"
            )

    @property
    def band_ticks(self) -> int:
        """Width of one frontier next_fetch_ts band in logical seconds."""
        return self.round_tick * self.frontier_band_rounds


# epoch base for mapping logical seconds <-> warc_ts timestamps in fixtures
EPOCH_BASE = 1_600_000_000  # 2020-09-13T12:26:40Z, arbitrary fixed instant


def sort_key(depth: int, score: int, url: str) -> tuple[int, int, str]:
    """Total order of frontier tasks, ORDER BY (depth ASC, score DESC, url
    ASC); shared by oracle and engine tests. The url tie-break mirrors the
    Redis zset lexicographic member order on score ties
    (storages/RedisFutureStorage.scala:50 zrangeWithScores)."""
    return (depth, -score, url)
