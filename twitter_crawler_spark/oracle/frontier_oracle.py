"""Pure-Python single-threaded crawl oracle (SURVEY.md §5.1).

Replays the reference's frontier semantics over the fixture web, producing the
golden traces the Spark engine must match EXACTLY:

* pop-min ordering with url tie-break — the Redis zset ascending (score,
  member-lex) order, storages/RedisFutureStorage.scala:50,94, generalized to
  the north-star key ``(depth ASC, OPIC-score DESC, url ASC)``;
* revisit intervals ``[0,1h,5h,19h]`` + attempt cap —
  storages/RedisFutureStorage.scala:12,62-69;
* insert-time dedup (``jedis.hexists``) — RedisFutureStorage.scala:29,80-84;
* unproductive eviction ("Delete rare url") — RedisFutureStorage.scala:123-143;
* incremental cursor (``sinceId``) — threads/RedisSearchThread.scala:18-19;
* crawl-once mode (``withRemoving``) — topologies/SeachUrlOnlyTopology.scala:12;
* per-host budget + crawl-delay politeness (batch analog of the adaptive
  pacing at threads/RedisRetweetsThread.scala:23-25).

Rounds use batch semantics (all pops of a round observe the same start-of-
round state; merges happen once at end of round) — this matches the Spark
engine's per-round DataFrame jobs and replaces the reference's wall-clock with
a logical round clock (``t_r = r * round_tick``).

This module deliberately uses the *scalar* twins of the extraction /
canonicalization functions so the oracle is an independent implementation
path from the vectorized engine code.
"""

from __future__ import annotations

import glob
import hashlib
import os
from dataclasses import dataclass, field

import pandas as pd

from twitter_crawler_spark.config import EPOCH_BASE, CrawlConfig, sort_key
from twitter_crawler_spark.functions.hashing import murmur3_64_scalar
from twitter_crawler_spark.functions.html import extract_links_scalar, extract_text_scalar
from twitter_crawler_spark.functions.urls import (
    canonicalize_scalar,
    host_of_scalar,
    path_of_scalar,
)


@dataclass
class Task:
    url: str
    host: str
    depth: int
    score: int
    attempt: int
    next_fetch_ts: int
    last_cursor: int
    src_round: int


@dataclass
class OracleResult:
    crawl_order: list[dict] = field(default_factory=list)
    url_seen: set[str] = field(default_factory=set)
    edges: set[tuple[str, str, int]] = field(default_factory=set)
    docs: dict[str, tuple[int, str]] = field(default_factory=dict)  # url -> (round, text)
    evictions: list[str] = field(default_factory=list)
    retired: list[str] = field(default_factory=list)
    rounds_run: int = 0
    metrics: list[dict] = field(default_factory=list)

    def text_sha(self) -> dict[str, str]:
        return {
            u: hashlib.sha256(t.encode("utf-8")).hexdigest()
            for u, (_, t) in self.docs.items()
        }


class FrontierOracle:
    def __init__(self, fixture_dir: str, cfg: CrawlConfig | None = None):
        self.cfg = cfg or CrawlConfig()
        self.dir = fixture_dir
        self._load()

    def _load(self) -> None:
        parts = sorted(glob.glob(os.path.join(self.dir, "pages", "bucket=*", "*.parquet")))
        pages = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
        pages["ts_logical"] = (
            pages["warc_ts"].astype("datetime64[ns, UTC]").astype("int64") // 1_000_000_000
            - EPOCH_BASE
        )
        self.pages: dict[str, list[tuple[int, str, str, str]]] = {}
        for url, grp in pages.groupby("url", sort=False):
            snaps = sorted(
                (int(r.ts_logical), r.html.decode("utf-8"), r.text, r.lang)
                for r in grp.itertuples()
            )
            self.pages[url] = snaps
        red = pd.read_parquet(os.path.join(self.dir, "redirects.parquet"))
        self.redirects = dict(zip(red.short_url, red.long_url))
        rob = pd.read_parquet(os.path.join(self.dir, "robots.parquet"))
        self.robots: dict[str, list[tuple[str, bool]]] = {}
        for r in rob.itertuples():
            self.robots.setdefault(r.host, []).append((r.prefix, bool(r.allow)))
        for h in self.robots:
            # longest prefix wins; on equal length a disallow beats an allow
            self.robots[h].sort(key=lambda pa: (-len(pa[0]), pa[1], pa[0]))
        pol = pd.read_parquet(os.path.join(self.dir, "politeness.parquet"))
        self.politeness = {
            r.host: (int(r.budget_per_round), int(r.crawl_delay_rounds))
            for r in pol.itertuples()
        }
        with open(os.path.join(self.dir, "seeds.txt")) as f:
            self.seeds = [line.strip() for line in f if line.strip()]

    # --- contract helpers ----------------------------------------------------

    def allowed(self, url: str) -> bool:
        host, path = host_of_scalar(url), path_of_scalar(url)
        for prefix, allow in self.robots.get(host, ()):  # pre-sorted longest-first
            if path.startswith(prefix):
                return allow
        return True

    def resolve_redirect(self, url: str) -> str:
        return self.redirects.get(url, url)

    def host_policy(self, host: str) -> tuple[int, int]:
        return self.politeness.get(
            host, (self.cfg.default_budget, self.cfg.default_crawl_delay)
        )

    # --- the crawl -------------------------------------------------------------

    def run(self, max_rounds: int | None = None) -> OracleResult:
        cfg = self.cfg
        if max_rounds is None:
            max_rounds = cfg.max_rounds
        res = OracleResult()
        # keyed by (url, attempt): unique in the progressive schedule (one
        # row per url) AND under F6 fan-out (insert-time copies carry
        # distinct attempt = interval index, FutureTasksStorage.scala:23-30)
        frontier: dict[tuple[str, int], Task] = {}
        last_fetch_round: dict[str, int] = {}

        def schedule(url: str, depth: int, t_base: int, src_round: int) -> None:
            """Insert a newly seen url: one copy at intervals[0] in the
            progressive schedule, one copy per interval under fan-out."""
            attempts = range(cfg.max_attempts) if cfg.fanout_revisits else (0,)
            for j in attempts:
                frontier[(url, j)] = Task(
                    url=url,
                    host=host_of_scalar(url),
                    depth=depth,
                    score=cfg.init_cash,
                    attempt=j,
                    next_fetch_ts=t_base + cfg.intervals[j],
                    last_cursor=-1,
                    src_round=src_round,
                )

        for url in self.seeds:
            if not self.allowed(url):
                continue
            if url in res.url_seen:
                continue
            res.url_seen.add(url)
            # seeds land at logical t = 0 (copies at intervals[j] - intervals[0])
            schedule(url, depth=0, t_base=-cfg.intervals[0], src_round=-1)

        for r in range(max_rounds):
            if not frontier:
                break
            t_r = r * cfg.round_tick
            # -- pop: due + host delay + per-host budget ------------------------
            due = [
                t
                for t in frontier.values()
                if t.next_fetch_ts <= t_r
                and (
                    t.host not in last_fetch_round
                    or r >= last_fetch_round[t.host] + self.host_policy(t.host)[1]
                )
            ]
            if cfg.fanout_revisits:
                # at most one copy of a url pops per round: min attempt wins
                best: dict[str, Task] = {}
                for t in due:
                    cur = best.get(t.url)
                    if cur is None or t.attempt < cur.attempt:
                        best[t.url] = t
                due = list(best.values())
            by_host: dict[str, list[Task]] = {}
            for t in due:
                by_host.setdefault(t.host, []).append(t)
            popped: list[Task] = []
            for host, ts in by_host.items():
                ts.sort(key=lambda t: sort_key(t.depth, t.score, t.url))
                popped.extend(ts[: self.host_policy(host)[0]])
            popped.sort(key=lambda t: sort_key(t.depth, t.score, t.url))

            m = {
                "round": r,
                "fetched": len(popped),
                "hits": 0,
                "results": 0,
                "new_urls": 0,
                "dupes": 0,
                "robots_blocked": 0,
                "evicted": 0,
            }
            gains: dict[str, int] = {}
            candidate_parents: dict[str, list[Task]] = {}

            for seq, t in enumerate(popped):
                res.crawl_order.append(
                    {
                        "round": r,
                        "seq": seq,
                        "url": t.url,
                        "host": t.host,
                        "depth": t.depth,
                        "score": t.score,
                        "attempt": t.attempt,
                    }
                )
                last_fetch_round[t.host] = r

            for t in popped:
                visible = [
                    (ts, html, text)
                    for (ts, html, text, lang) in self.pages.get(t.url, ())
                    if t.last_cursor < ts <= t_r
                    and (cfg.lang_filter is None or lang == cfg.lang_filter)
                ]
                n_results = len(visible)
                m["results"] += n_results
                outlinks: list[str] = []
                if n_results:
                    m["hits"] += 1
                    new_cursor = max(ts for ts, _, _ in visible)
                    seen_links: set[str] = set()
                    for _, html, _ in visible:
                        for href, _anchor in extract_links_scalar(html):
                            cu = canonicalize_scalar(href, t.url)
                            if cu is None:
                                continue
                            cu = self.resolve_redirect(cu)
                            if cu != t.url and cu not in seen_links:
                                seen_links.add(cu)
                                outlinks.append(cu)
                    outlinks.sort()
                    for dst in outlinks:
                        res.edges.add((t.url, dst, r))
                    if t.url not in res.docs:
                        latest = max(visible)  # max ts; ties → max html (n/a)
                        res.docs[t.url] = (r, extract_text_scalar(latest[1]))
                    if outlinks:
                        g = t.score // len(outlinks)
                        for dst in outlinks:
                            gains[dst] = gains.get(dst, 0) + g
                    t.score = 0  # cash distributed
                else:
                    new_cursor = t.last_cursor

                for dst in outlinks:
                    candidate_parents.setdefault(dst, []).append(t)

                # -- reinsert / evict / retire (batch: applied to dict now; all
                # pops observed start-of-round state already captured above) ---
                del frontier[(t.url, t.attempt)]
                if cfg.crawl_once:
                    continue
                if n_results == 0 and t.attempt >= 1 and cfg.evict_unproductive:
                    res.evictions.append(t.url)
                    m["evicted"] += 1
                    continue
                if cfg.fanout_revisits:
                    # fan-out copies are popped once and never reinserted
                    # (putRTTasks semantics: schedule happened at insert time)
                    continue
                if t.attempt + 1 >= cfg.max_attempts:
                    res.retired.append(t.url)
                    continue
                t.attempt += 1
                t.next_fetch_ts = t_r + cfg.intervals[t.attempt]
                t.last_cursor = new_cursor
                frontier[(t.url, t.attempt)] = t

            # -- schedule new urls (batch dedup vs seen) -------------------------
            for dst in sorted(candidate_parents):
                if not self.allowed(dst):
                    m["robots_blocked"] += 1
                    continue
                if dst in res.url_seen:
                    m["dupes"] += 1
                    continue
                res.url_seen.add(dst)
                parent_depth = min(p.depth for p in candidate_parents[dst])
                schedule(dst, depth=parent_depth + 1, t_base=t_r, src_round=r)
                m["new_urls"] += 1

            # -- apply OPIC gains to every pending frontier row (all copies
            # of a url under fan-out — mirrors the engine's join by url) ----
            if gains:
                for task in frontier.values():
                    g = gains.get(task.url)
                    if g is not None:
                        task.score += g

            res.metrics.append(m)
            res.rounds_run = r + 1

        return res
