"""URL canonicalization — the engine's analog of the reference's short-URL
expansion pipeline (utils/RedisUrlEnlarger.scala:86-112, utils/UrlEnlarger.scala:70-105),
made pure and deterministic (no network): the HTTP longurl.org expansion is
replaced by a static ``redirects`` fixture table applied with a broadcast join
*after* this function (SURVEY.md §2.2 P8).

Canonical form contract (shared by oracle + engine, pinned by tests):

1. strip surrounding whitespace;
2. drop the fragment (everything from the first ``#``);
3. resolve against the base url:
   * ``http://``/``https://`` prefix (case-insensitive) → already absolute;
   * ``//host/...`` → base scheme + rest;
   * ``/path`` → base scheme+host + path;
   * anything else → relative to the base url's directory;
4. lowercase scheme and host; strip default port (``:80`` http, ``:443`` https);
5. empty path → ``/``.

``..`` segments are not resolved (the fixture generator never emits them;
documented limitation). The scalar twin :func:`canonicalize_scalar` exists so
the test oracle is an independent implementation path from the vectorized one.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_SCHEME_RE = r"^(?i:https?)://"
# any scheme-looking prefix (e.g. javascript:, mailto:, data:) — dropped
# unless it is http/https
_NON_HTTP_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")
_NON_HTTP_SCHEME_PAT = r"^[A-Za-z][A-Za-z0-9+.-]*:"


def canonicalize_scalar(href: str, base_url: str) -> str | None:
    """Straight-line reference canonicalizer (oracle path)."""
    if href is None:
        return None
    href = href.strip()
    href = href.split("#", 1)[0]
    if href == "":
        return None
    low = href.lower()
    if _NON_HTTP_SCHEME.match(href) and not (
        low.startswith("http://") or low.startswith("https://")
    ):
        return None  # javascript:, mailto:, ftp:, data:, tel:, …
    if low.startswith("http://") or low.startswith("https://"):
        absu = href
    elif href.startswith("//"):
        absu = base_url.split("://", 1)[0] + ":" + href
    elif href.startswith("/"):
        scheme, rest = base_url.split("://", 1)
        host = rest.split("/", 1)[0]
        absu = f"{scheme}://{host}{href}"
    else:
        scheme0, rest0 = base_url.split("://", 1)
        base_dir = base_url.rsplit("/", 1)[0] if "/" in rest0 else base_url
        absu = f"{base_dir}/{href}"
    scheme, rest = absu.split("://", 1)
    scheme = scheme.lower()
    slash = rest.find("/")
    if slash == -1:
        host, path = rest, ""
    else:
        host, path = rest[:slash], rest[slash:]
    host = host.lower()
    if scheme == "http" and host.endswith(":80"):
        host = host[:-3]
    elif scheme == "https" and host.endswith(":443"):
        host = host[:-4]
    if path == "":
        path = "/"
    return f"{scheme}://{host}{path}"


def canonicalize_series(href: pd.Series, base_url: pd.Series) -> pd.Series:
    """Vectorized canonicalizer over Arrow batches (no per-row Python).

    Same contract as :func:`canonicalize_scalar`; implemented with pandas
    ``.str`` kernels + numpy masks.
    """
    href = href.astype("string").str.strip()
    href = href.str.split("#", n=1).str[0]
    base = base_url.astype("string")
    is_abs = href.str.contains(_SCHEME_RE, regex=True, na=False)
    non_http = href.str.contains(_NON_HTTP_SCHEME_PAT, regex=True, na=False) & ~is_abs
    empty = href.isna() | (href == "") | non_http
    is_proto_rel = href.str.startswith("//", na=False) & ~is_abs
    is_root_rel = href.str.startswith("/", na=False) & ~is_proto_rel & ~is_abs
    is_rel = ~(is_abs | is_proto_rel | is_root_rel | empty)

    base_scheme = base.str.split("://", n=1).str[0]
    base_rest = base.str.split("://", n=1).str[1]
    base_host = base_rest.str.split("/", n=1).str[0]
    # directory of the base path ('' when base has no path beyond host)
    base_path = "/" + base_rest.str.split("/", n=1).str[1].fillna("")
    base_dir = base_path.str.rsplit("/", n=1).str[0]

    absu = pd.Series(pd.NA, index=href.index, dtype="string")
    absu[is_abs] = href[is_abs]
    absu[is_proto_rel] = base_scheme[is_proto_rel] + ":" + href[is_proto_rel]
    absu[is_root_rel] = (
        base_scheme[is_root_rel] + "://" + base_host[is_root_rel] + href[is_root_rel]
    )
    absu[is_rel] = (
        base_scheme[is_rel]
        + "://"
        + base_host[is_rel]
        + base_dir[is_rel]
        + "/"
        + href[is_rel]
    )

    scheme = absu.str.split("://", n=1).str[0].str.lower()
    rest = absu.str.split("://", n=1).str[1]
    host = rest.str.split("/", n=1).str[0].str.lower()
    path_tail = rest.str.split("/", n=1).str[1]
    path = ("/" + path_tail.fillna("")).where(~absu.isna(), pd.NA)

    http80 = (scheme == "http") & (host.str.endswith(":80") == True)  # noqa: E712 — nullable bool, avoids object-downcast fillna
    https443 = (scheme == "https") & (host.str.endswith(":443") == True)  # noqa: E712
    host = host.mask(http80, host.str[:-3]).mask(https443, host.str[:-4])

    out = scheme + "://" + host + path
    out[empty] = pd.NA
    return out.astype(object).where(out.notna(), None)


@pandas_udf(StringType())
def canonicalize_udf(href: pd.Series, base_url: pd.Series) -> pd.Series:
    return canonicalize_series(href, base_url)


def host_of_scalar(url: str) -> str:
    return url.split("://", 1)[1].split("/", 1)[0]


def path_of_scalar(url: str) -> str:
    rest = url.split("://", 1)[1]
    i = rest.find("/")
    return rest[i:] if i >= 0 else "/"
