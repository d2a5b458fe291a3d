"""Outlink + text extraction from raw ``html`` bytes.

Replaces the reference's fetch-to-edges transform: URL entities exploded from
a status (threads/TwitterStreamListener.scala:33-52 → one status → N url rows)
and the Lucene ``content`` field (storages/TweetStorage.scala:41,48).

Both functions are vectorized over Arrow batches with pandas ``.str`` regex
kernels (C-level, no per-row Python interpreter loop), per the
BASELINE.json input_hint.

Text extraction contract (byte-identical invariant):
    decode utf-8 → replace every ``<...>`` tag with one space → collapse
    whitespace runs to single spaces → strip. The fixture generator builds the
    golden ``pages.text`` column from its template parts independently, so the
    pytest byte-identity check is a real cross-implementation comparison.
"""

from __future__ import annotations

import pandas as pd

_LINK_RE = r'<a\s+href="([^"]*)"\s*>([^<]*)</a>'
_TAG_RE = r"<[^>]*>"


def decode_html(html: pd.Series) -> pd.Series:
    """binary → str (utf-8, surrogates never occur in fixtures) — pandas
    ``bytes`` accessor decode (C loop), not a per-row Python lambda."""
    return html.str.decode("utf-8")


def extract_links(html_str: pd.Series) -> pd.DataFrame:
    """All ``<a href>`` links of each page.

    Returns a DataFrame indexed by (row position, match number) with columns
    ``href`` and ``anchor`` — the vectorized equivalent of the reference's
    ``getURLEntities foreach`` explode.
    """
    out = html_str.astype("string").str.extractall(_LINK_RE)
    out.columns = ["href", "anchor"]
    return out


def extract_text(html_str: pd.Series) -> pd.Series:
    """Canonical visible text (see module contract)."""
    s = html_str.astype("string")
    s = s.str.replace(_TAG_RE, " ", regex=True)
    s = s.str.replace(r"\s+", " ", regex=True).str.strip()
    return s


# ---- scalar twins for the pure-Python oracle ------------------------------


def extract_links_scalar(html_text: str) -> list[tuple[str, str]]:
    import re

    return re.findall(_LINK_RE, html_text)


def extract_text_scalar(html_text: str) -> str:
    import re

    s = re.sub(_TAG_RE, " ", html_text)
    return re.sub(r"\s+", " ", s).strip()
