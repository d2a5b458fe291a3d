"""Outlink/text extraction: vectorized ≡ scalar, and byte-identical text
against the fixture's independently generated golden ``text`` column
(the BASELINE.json per-row invariant)."""

from __future__ import annotations

import glob
import os

import pandas as pd

from twitter_crawler_spark.functions.html import (
    decode_html,
    extract_links,
    extract_links_scalar,
    extract_text,
    extract_text_scalar,
)

HTML = [
    '<html><body><a href="/x">one</a> hello <a href="http://h.com/y">two</a></body></html>',
    "<p>no links here</p>",
    '<a href="a.html">rel</a><a href="//c.com/p">proto</a>',
    "",
    # non-ASCII whitespace: Python's \s and str.strip() take these, Java's
    # ASCII \s and F.trim do not
    "<p>a\xa0b</p>",
    "<p>\u3000x y z\u3000</p>",
    "<b>t</b>\x85",
]


def test_links_vectorized_matches_scalar():
    df = extract_links(pd.Series(HTML))
    got = {}
    for (row, _match), rec in df.iterrows():
        got.setdefault(row, []).append((rec["href"], rec["anchor"]))
    for i, h in enumerate(HTML):
        assert got.get(i, []) == extract_links_scalar(h), i


def test_text_vectorized_matches_scalar():
    got = list(extract_text(pd.Series(HTML)))
    want = [extract_text_scalar(h) for h in HTML]
    assert got == want


def test_engine_text_expression_matches_scalar(spark):
    """The engine's Spark text column equals the oracle's scalar extraction."""
    from pyspark.sql import functions as F

    from twitter_crawler_spark.crawl.engine import text_col

    df = spark.createDataFrame([(i, h) for i, h in enumerate(HTML)], "i int, html string")
    got = [r.text for r in df.select("i", text_col(F.col("html")).alias("text"))
           .orderBy("i").collect()]
    assert got == [extract_text_scalar(h) for h in HTML]


def test_fixture_text_byte_identical(fixture_dir):
    """Engine-extracted text must equal the generator's golden text column,
    which is built from the template parts by an independent code path."""
    parts = sorted(glob.glob(os.path.join(fixture_dir, "pages", "bucket=*", "*.parquet")))
    pdf = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
    html_str = decode_html(pdf["html"])
    got = extract_text(html_str)
    assert list(got) == list(pdf["text"]), "extracted text diverges from golden"
