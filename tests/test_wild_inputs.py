"""Real-world inputs either match the oracle or fail loudly: a seeds file
with CRLF endings, padded and blank lines; and the size gate on the
frontier's delete keys at its boundaries."""

from __future__ import annotations

import shutil

import pandas as pd

from tests.conftest import TEST_CFG
from twitter_crawler_spark.crawl import engine
from twitter_crawler_spark.crawl.engine import CrawlEngine
from twitter_crawler_spark.oracle.frontier_oracle import FrontierOracle


def test_seed_whitespace_matches_oracle(spark, fixture_dir, tmp_path):
    """Seed lines are stripped as the oracle's ``line.strip()`` strips them:
    CRLF endings, tab- and \\x0b-padded lines, whitespace-only lines and
    duplicates that differ only in whitespace. A bare-host seed (no path,
    with and without a port) has robots path ``/``, so a host that
    disallows ``/`` blocks it."""
    fx = str(tmp_path / "fx")
    shutil.copytree(fixture_dir, fx)
    with open(f"{fx}/seeds.txt") as f:
        urls = [line.strip() for line in f if line.strip()]
    assert len(urls) >= 4
    closed = ["closed.example", "closed.example:8080"]
    robots = pd.read_parquet(f"{fx}/robots.parquet")
    robots = pd.concat(
        [robots, pd.DataFrame({"host": closed, "prefix": "/", "allow": False})],
        ignore_index=True,
    )
    robots.to_parquet(f"{fx}/robots.parquet", index=False)
    lines = [
        f"\t{urls[0]}\t", "   ", f"{urls[1]} ", "\t", f"\x0b{urls[0]}",
        f" {urls[2]}\x1f", "\x0c \x0b", *urls[3:], f"{urls[1]}\t\t",
        f"http://{closed[0]}", f"https://{closed[1]}",
    ]
    with open(f"{fx}/seeds.txt", "w", newline="") as f:
        f.write("\r\n".join(lines) + "\r\n")

    oracle = FrontierOracle(fx, TEST_CFG)
    # two whitespace-only duplicates and the two bare-host seeds
    assert len(oracle.seeds) == len(urls) + 4
    assert not any(oracle.allowed(u) for u in oracle.seeds[-2:])
    eng = CrawlEngine(spark, fx, str(tmp_path / "s"), TEST_CFG)
    snap = eng.init_state()
    frontier = {r.url for r in eng.frontier_live().select("url").collect()}
    want = {u for u in oracle.seeds if oracle.allowed(u)}
    assert frontier == want and len(frontier) == snap.frontier_count

    eng.run(max_rounds=1)
    got = [(r.seq, r.url, r.score) for r in eng.crawl_log().orderBy("seq").collect()]
    want_log = [(c["seq"], c["url"], c["score"])
                for c in oracle.run(max_rounds=1).crawl_order]
    assert got == want_log


def _hinted(df) -> bool:
    return "strategy=broadcast" in df._jdf.queryExecution().optimizedPlan().toString()


def test_del_rows_gate_boundaries(spark, fixture_dir, tmp_path, monkeypatch):
    """The delete keys (crawl_log rows since the frontier base) broadcast
    into the live-frontier anti-join only while their count, the
    snapshot's ``del_rows``, is at most ``BROADCAST_DEL_ROWS_MAX``: 0 keys
    means no anti-join at all, a count at the cap is hinted, one over it is
    not."""
    eng = CrawlEngine(spark, fixture_dir, str(tmp_path / "s"), TEST_CFG)
    snap = eng.init_state()
    assert snap.del_rows == 0
    plan = eng._frontier_live(snap)._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" not in plan
    eng.run(max_rounds=2)
    snap = eng.store.snapshot()
    n = snap.del_rows
    assert n == eng.crawl_log().count() > 0
    for cap, hinted in ((n, True), (n - 1, False), (0, False)):
        monkeypatch.setattr(engine, "BROADCAST_DEL_ROWS_MAX", cap)
        assert _hinted(eng._frontier_live(snap)) is hinted, cap
