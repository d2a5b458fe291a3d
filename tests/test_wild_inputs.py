"""Real-world inputs either match the oracle or fail loudly: a seeds file
with CRLF endings, padded and blank lines, and a manifest written before
``frontier_del_rows`` existed."""

from __future__ import annotations

import json
import shutil

from tests.conftest import TEST_CFG
from twitter_crawler_spark.crawl.engine import CrawlEngine
from twitter_crawler_spark.oracle.frontier_oracle import FrontierOracle


def test_seed_whitespace_matches_oracle(spark, fixture_dir, tmp_path):
    """Seed lines are stripped as the oracle's ``line.strip()`` strips them:
    CRLF endings, tab- and \\x0b-padded lines, whitespace-only lines and
    duplicates that differ only in whitespace."""
    fx = str(tmp_path / "fx")
    shutil.copytree(fixture_dir, fx)
    with open(f"{fx}/seeds.txt") as f:
        urls = [line.strip() for line in f if line.strip()]
    assert len(urls) >= 4
    lines = [
        f"\t{urls[0]}\t", "   ", f"{urls[1]} ", "\t", f"\x0b{urls[0]}",
        f" {urls[2]}\x1f", "\x0c \x0b", *urls[3:], f"{urls[1]}\t\t",
    ]
    with open(f"{fx}/seeds.txt", "w", newline="") as f:
        f.write("\r\n".join(lines) + "\r\n")

    oracle = FrontierOracle(fx, TEST_CFG)
    assert len(oracle.seeds) == len(urls) + 2  # two whitespace-only duplicates
    eng = CrawlEngine(spark, fx, str(tmp_path / "s"), TEST_CFG)
    eng.init_state()
    assert eng.store.manifest()["history"][0]["seeds"] == len(oracle.seeds)
    frontier = {r.url for r in eng.frontier_live().select("url").collect()}
    want = {u for u in oracle.seeds if oracle.allowed(u)}
    assert frontier == want and len(frontier) == eng.store.state("frontier_count")

    eng.run(max_rounds=1)
    got = [(r.seq, r.url, r.score) for r in eng.crawl_log().orderBy("seq").collect()]
    want_log = [(c["seq"], c["url"], c["score"])
                for c in oracle.run(max_rounds=1).crawl_order]
    assert got == want_log


def _hinted(df) -> bool:
    return "strategy=broadcast" in df._jdf.queryExecution().optimizedPlan().toString()


def test_missing_del_rows_count_is_over_the_cap(spark, fixture_dir, tmp_path):
    """The frontier_del broadcast is size-gated on the manifest's row count.
    A manifest without the count (written before it existed) must leave the
    join unhinted, never force-broadcast a delete log of unknown size, and
    the count stays unknown until a compaction truncates the log."""
    eng = CrawlEngine(spark, fixture_dir, str(tmp_path / "s"), TEST_CFG)
    eng.run(max_rounds=2)
    st, cap = eng.store, TEST_CFG.broadcast_del_rows_max
    m = st.manifest()
    assert st.state("frontier_del_rows") > 0 and _hinted(eng._frontier_live(1))
    for rows, hinted in ((0, True), (cap, True), (cap + 1, False), (None, False)):
        m["state"].pop("frontier_del_rows", None)
        if rows is not None:
            m["state"]["frontier_del_rows"] = rows
        with open(st._manifest_path, "w") as f:
            json.dump(m, f)
        assert eng._broadcast_dels() is hinted, rows
        assert _hinted(eng._frontier_live(1)) is hinted, rows
    # a round on the legacy manifest keeps the count unknown
    eng.run(max_rounds=3)
    assert st.committed_round() == 2 and "frontier_del_rows" in st.manifest()["state"]
    assert st.state("frontier_del_rows") is None and not _hinted(eng._frontier_live(2))
