"""Canonicalizer: vectorized pandas kernel ≡ scalar oracle twin.

The canonical url string defines the exact URL-seen membership and therefore
the whole crawl trace (BASELINE.json: exact URL-seen match) — the two
implementation paths must agree byte-for-byte.
"""

from __future__ import annotations

import warnings

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from twitter_crawler_spark.functions.urls import (
    canonicalize_scalar,
    canonicalize_series,
)

BASE = "http://www.example.com/a/b.html"

CASES = [
    ("http://Other.COM/X", "http://other.com/X"),
    ("HTTPS://h.com:443/p", "https://h.com/p"),
    ("http://h.com:80", "http://h.com/"),
    ("http://h.com:8080/p", "http://h.com:8080/p"),
    ("//cdn.com/lib.js", "http://cdn.com/lib.js"),
    ("/root.html", "http://www.example.com/root.html"),
    ("rel.html", "http://www.example.com/a/rel.html"),
    ("rel.html#frag", "http://www.example.com/a/rel.html"),
    ("#frag-only", None),
    ("", None),
    ("javascript:void(0)", None),
    ("mailto:x@y.z", None),
    ("ftp://h.com/f", None),
    ("  http://h.com/sp  ", "http://h.com/sp"),
]


def test_enumerated_cases_scalar():
    for href, want in CASES:
        assert canonicalize_scalar(href, BASE) == want, href


def test_enumerated_cases_vectorized():
    hrefs = pd.Series([c[0] for c in CASES])
    bases = pd.Series([BASE] * len(CASES))
    got = list(canonicalize_series(hrefs, bases))
    want = [c[1] for c in CASES]
    assert got == want


def test_missing_href_raises_no_future_warning():
    """A missing href (a link whose href attribute is absent) canonicalizes
    to None, and building the relative-url masks from the object-dtype
    hrefs asks pandas for no deprecated silent downcast."""
    hrefs = pd.Series(["//cdn.com/lib.js", None, "/root.html", "rel.html", None])
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        got = list(canonicalize_series(hrefs, pd.Series([BASE] * len(hrefs))))
    assert got == [
        "http://cdn.com/lib.js", None, "http://www.example.com/root.html",
        "http://www.example.com/a/rel.html", None,
    ]


_href = st.one_of(
    st.text(
        alphabet="abcDE/._-#:0123456789",
        max_size=30,
    ),
    st.builds(lambda h, p: f"http://{h}.com/{p}", st.text("abcZ", max_size=8), st.text("ab/#", max_size=10)),
    st.builds(lambda p: "//" + p, st.text("abc./", max_size=10)),
    st.builds(lambda p: "/" + p, st.text("abc./#", max_size=10)),
)


@given(st.lists(_href, min_size=1, max_size=40))
@settings(max_examples=80, deadline=None)
def test_vectorized_matches_scalar(hrefs):
    bases = [BASE, "https://HOST.org:443/x/y/z.html", "http://h.io"]
    for base in bases:
        got = list(
            canonicalize_series(pd.Series(hrefs), pd.Series([base] * len(hrefs)))
        )
        want = [canonicalize_scalar(h, base) for h in hrefs]
        assert got == want
