"""The round's one Arrow pass over its fetched pages ≡ the scalar twins.

``engine.make_extract_fn`` extracts, canonicalizes and hashes a page's links
in one ``mapInPandas`` pass. Its rows must equal, in order, what the
oracle's path gives: ``extract_links_scalar`` → ``canonicalize_scalar``
(links that canonicalize to nothing dropped) → ``murmur3_64_scalar``. And a
link to a shortener must reach the seen tier with the redirect's long url
and that url's hash.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from twitter_crawler_spark.crawl.engine import CrawlEngine, make_extract_fn
from twitter_crawler_spark.functions.hashing import murmur3_64_scalar
from twitter_crawler_spark.functions.html import extract_links_scalar
from twitter_crawler_spark.functions.urls import canonicalize_scalar
from twitter_crawler_spark.session import local_df

from tests.conftest import TEST_CFG

HREFS = [
    "rel/page.html",  # relative to the page's directory
    "//cdn.example/lib.js",  # scheme-relative
    "/root.html",  # host-relative
    "javascript:void(0)",
    "mailto:a@b.example",
    "http://h.example:80/p",
    "https://h.example:443/q",
    "HTTP://H.Example:8080/p",
    "page.html#frag",
    "#only-fragment",
    "  /padded  ",
    "　/ideographic-space　",
    "",
    "/café",
    "http://bücher.example/ü",
    "HTTPS://BÜCHER.example/Straße",
    "naïve.html",
]

PAGES = [
    ("http://a.example/dir/index.html",
     "".join(f'<a href="{h}">a{i}</a>' for i, h in enumerate(HREFS))),
    ("http://bücher.example/ü/seite", "".join(
        f'<a href="{h}">ü{i}</a> text' for i, h in enumerate(reversed(HREFS)))),
    ("https://c.example", '<p>no links</p>'),
    ("https://c.example/x", '<a href="/y">y</a><a href="https://c.example/x">self</a>'),
]


def _scalar_rows(pages) -> list[tuple]:
    rows = []
    for url, html in pages:
        for href, anchor in extract_links_scalar(html):
            dst = canonicalize_scalar(href, url)
            if dst is not None:
                rows.append((url, dst, murmur3_64_scalar(dst), anchor))
    return rows


def _batch(pages) -> pd.DataFrame:
    return pd.DataFrame({"url": [u for u, _ in pages],
                         "html": [h.encode("utf-8") for _, h in pages]})


def test_extract_fn_matches_scalar_twins():
    extract = make_extract_fn()
    got = [
        tuple(row)
        for out in extract([_batch(PAGES[:2]), _batch([]), _batch(PAGES[2:])])
        for row in out[["src_url", "dst", "dst_hash", "anchor"]].itertuples(index=False)
    ]
    want = _scalar_rows(PAGES)
    assert got == want
    # the pages exercise dropped hrefs and multibyte targets
    assert len(want) < sum(len(extract_links_scalar(h)) for _, h in PAGES)
    assert {"http://bücher.example/ü", "http://a.example/café"} <= {r[1] for r in want}
    assert list(extract([_batch([PAGES[2]])])) == []


def test_redirected_target_carries_long_url_hash(spark, fixture_dir, tmp_path):
    """A link to a short url reaches the candidates as the redirect's long
    url, and its ``url_hash`` is the hash of that long url."""
    eng = CrawlEngine(spark, fixture_dir, str(tmp_path / "state"), TEST_CFG)
    red = eng.redirects.select("short_url", "long_url").orderBy("short_url").limit(3).collect()
    assert red, "the fixture has shortener redirects"
    src = "http://src.example/page"
    html = "".join(f'<a href="{r.short_url}">s</a>' for r in red) + '<a href="/own">o</a>'
    fetched = local_df(spark, [(src, html.encode())], "url string, html binary")
    popped = local_df(spark, [(src, 7, 0, 100)],
                      "url string, url_hash long, depth int, score long")
    cand = eng._candidates(eng._outlinks(fetched, popped))
    got = {row.dst: row.url_hash for row in cand.select("dst", "url_hash").collect()}
    want = {r.long_url for r in red} | {"http://src.example/own"}
    assert set(got) == want
    assert all(h == murmur3_64_scalar(u) for u, h in got.items())
    bucket = F.pmod("url_hash", F.lit(TEST_CFG.seen_partitions))
    assert cand.where(F.col("bucket") != bucket).count() == 0


def test_kernels_stay_visible_to_the_tracer(spark, fixture_dir, tmp_path):
    """perfbench's tracer measures the kernels by wrapping the names the
    engine module holds them under. The fused pass reads them from there
    when a round builds it, so the wrapped kernels are the ones that run."""
    from perfbench.tracing import Tracer
    from twitter_crawler_spark.crawl import engine

    tr = Tracer(spark.sparkContext, str(tmp_path / "spans"))
    tr.wrap_pandas_udf(engine, "canonicalize_udf", "urls.canonicalize")
    tr.wrap_pandas_udf(engine, "murmur3_64_udf", "hashing.murmur3_64")
    try:
        eng = CrawlEngine(spark, fixture_dir, str(tmp_path / "state"), TEST_CFG)
        eng.run(max_rounds=2)
    finally:
        tr.restore()
    rows: dict[str, int] = {}
    for span in tr.worker_spans():
        rows[span["name"]] = rows.get(span["name"], 0) + span["rows"]
    # every edge is a canonicalized, hashed link
    assert rows.get("urls.canonicalize", 0) >= eng.edges().count() > 0
    assert rows.get("hashing.murmur3_64", 0) >= eng.edges().count()
