"""Deterministic synthetic Common-Crawl-style web generator (FIXTURES.md).

Generates, from an explicit integer seed (never wall-clock):

* ``pages/`` — parquet laid out in ``bucket=<murmur3_64(url) % B>/`` subdirs
  (the Iceberg ``bucket(url)`` partition analog; the crawl reads every bucket);
  one row per page *snapshot* ``(url, warc_ts, html, text, lang, bucket)``.
  Multiple snapshots per url appear over logical time — they drive the
  incremental-cursor semantics (the ``sinceId`` analog,
  threads/RedisSearchThread.scala:18-19).
* ``seeds.txt`` — crawl entry points (analog of ``twi_top100.txt``,
  common/package.scala:40-42).
* ``redirects.parquet`` — total short→long mapping (analog of the 340-pattern
  shortener list + longurl.org expansion, utils/RedisUrlEnlarger.scala:40-48,86-112).
* ``robots.parquet`` — per-host longest-prefix allow/deny rules.
* ``politeness.parquet`` — per-host budget + crawl delay.
* ``meta.json`` — generator parameters + epoch base.

Hosts are zipf-skewed so a few hot domains dominate (exercises the
salted-host repartition); ~8% of pages live under a robots-disallowed
``/private`` prefix; ~3% of links are dead (exercise unproductive eviction,
RedisFutureStorage.scala:123-143); ~5% go through shortener redirects.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

from twitter_crawler_spark.config import EPOCH_BASE
from twitter_crawler_spark.functions.hashing import murmur3_64

_VOCAB = (
    "web crawl frontier spark shuffle page link graph host budget score "
    "depth round fetch parse text index seen bloom cuckoo robot polite "
    "queue rank salt skew batch merge commit snapshot resume"
).split()


def _base36(n: int) -> str:
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    if n == 0:
        return "0"
    out = []
    while n:
        n, r = divmod(n, 36)
        out.append(digits[r])
    return "".join(reversed(out))


def generate_web(
    out_dir: str,
    seed: int = 42,
    n_pages: int = 2000,
    n_hosts: int = 40,
    n_shorteners: int = 8,
    n_seeds: int = 20,
    span_rounds: int = 10,
    mean_outdeg: int = 8,
    round_tick: int = 3600,
    pages_buckets: int = 16,
    ru_frac: float = 0.7,
) -> dict:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    # --- hosts (zipf weights) ---------------------------------------------
    hosts = np.array([f"h{i}.example" for i in range(n_hosts)])
    w = (np.arange(n_hosts) + 1.0) ** -1.2
    w /= w.sum()
    page_host_idx = rng.choice(n_hosts, size=n_pages, p=w)

    # --- page urls ----------------------------------------------------------
    is_private = rng.random(n_pages) < 0.08
    dirs = rng.integers(0, 7, size=n_pages)
    paths = np.where(
        is_private,
        [f"/private/p{k}.html" for k in range(n_pages)],
        [f"/d{d}/p{k}.html" for k, d in enumerate(dirs)],
    )
    urls = np.array([f"http://{hosts[h]}{p}" for h, p in zip(page_host_idx, paths)])
    url_of = {k: urls[k] for k in range(n_pages)}

    # --- shortener redirects -------------------------------------------------
    short_of: dict[int, str] = {}
    shortened = rng.random(n_pages) < 0.05
    for k in np.nonzero(shortened)[0]:
        sh = int(rng.integers(0, n_shorteners))
        short_of[int(k)] = f"http://sh{sh}.xx/{_base36(int(k) + 1000)}"
    redirects = pd.DataFrame(
        {"short_url": list(short_of.values()), "long_url": [url_of[k] for k in short_of]}
    )

    # --- langs ----------------------------------------------------------------
    lang_pool = np.array(["en", "de", "fr"])
    langs = np.where(
        rng.random(n_pages) < ru_frac, "ru", lang_pool[rng.integers(0, 3, size=n_pages)]
    )

    # --- link targets: zipf page popularity (preferential-attachment analog) --
    pop = (np.arange(n_pages) + 1.0) ** -0.8
    pop /= pop.sum()

    def draw_targets(src: int, n: int) -> list[int]:
        if n <= 0:
            return []
        t = rng.choice(n_pages, size=n + 2, p=pop)
        t = [int(x) for x in t if int(x) != src]
        return t[:n]

    # --- seeds: ru, allowed, spread over hosts; first snapshot forced to t=0 --
    seed_candidates = [
        k
        for k in range(n_pages)
        if langs[k] == "ru" and not is_private[k]
    ]
    seed_ids = []
    used_hosts: set[int] = set()
    for k in seed_candidates:
        if len(seed_ids) >= n_seeds:
            break
        if page_host_idx[k] not in used_hosts or len(used_hosts) >= min(n_hosts, n_seeds):
            seed_ids.append(k)
            used_hosts.add(int(page_host_idx[k]))
    seed_urls = sorted(url_of[k] for k in seed_ids)

    # --- snapshots + html ------------------------------------------------------
    span = span_rounds * round_tick
    n_snaps = 1 + (rng.random(n_pages) < 0.35).astype(int) + (
        rng.random(n_pages) < 0.12
    ).astype(int)
    early = rng.random(n_pages) < 0.25

    rows: list[tuple] = []
    for k in range(n_pages):
        outdeg = min(int(rng.poisson(mean_outdeg)), 20)
        base_targets = draw_targets(k, outdeg)
        ts0 = 0 if (early[k] or k in seed_ids) else int(rng.integers(0, span // 2))
        snap_ts = [ts0]
        for _ in range(n_snaps[k] - 1):
            snap_ts.append(int(rng.integers(ts0 + round_tick, ts0 + span)))
        snap_ts = sorted(set(snap_ts))
        targets_so_far = list(base_targets)
        for s, ts in enumerate(snap_ts):
            if s > 0:  # later snapshots add links (incremental results)
                targets_so_far = targets_so_far + draw_targets(k, int(rng.integers(1, 4)))
            parts: list[str] = [f"Page {k} rev {s}"]
            body: list[str] = []
            for i, t in enumerate(targets_so_far):
                filler = " ".join(
                    _VOCAB[int(x)] for x in rng.integers(0, len(_VOCAB), size=3)
                )
                href = _href_variant(rng, k, t, url_of, page_host_idx, dirs, short_of)
                anchor = f"a{k}x{i}"
                body.append(f'<p>{filler}</p><a href="{href}">{anchor}</a>')
                parts.extend([filler, anchor])
            tail = " ".join(_VOCAB[int(x)] for x in rng.integers(0, len(_VOCAB), size=4))
            parts.append(tail)
            html = (
                f"<html><head><title>Page {k} rev {s}</title></head><body>"
                + "".join(body)
                + f"<p>{tail}</p></body></html>"
            )
            text = " ".join(parts)
            rows.append((urls[k], ts, html.encode("utf-8"), text, langs[k]))

    pages = pd.DataFrame(rows, columns=["url", "ts_logical", "html", "text", "lang"])
    # UTC-aware microsecond instants: Spark cannot read TIMESTAMP(NANOS), and
    # tz-naive values would surface as TIMESTAMP_NTZ instead of TimestampType
    pages["warc_ts"] = pd.to_datetime(
        pages["ts_logical"] + EPOCH_BASE, unit="s", utc=True
    ).astype("datetime64[us, UTC]")
    pages["bucket"] = (
        np.asarray(murmur3_64(pages["url"]), dtype=np.int64) % pages_buckets
        + pages_buckets
    ) % pages_buckets

    pages_dir = os.path.join(out_dir, "pages")
    os.makedirs(pages_dir, exist_ok=True)
    for b, grp in pages.groupby("bucket"):
        bdir = os.path.join(pages_dir, f"bucket={b}")
        os.makedirs(bdir, exist_ok=True)
        grp[["url", "warc_ts", "html", "text", "lang"]].to_parquet(
            os.path.join(bdir, "part-0.parquet"), index=False
        )

    # --- robots ---------------------------------------------------------------
    robot_rows = []
    for i, h in enumerate(hosts):
        r = rng.random()
        if r < 0.5:
            robot_rows.append((h, "/private", False))
            if rng.random() < 0.3:
                robot_rows.append((h, "/private/open", True))
        if r > 0.9:  # a fully-closed host
            robot_rows.append((h, "/", False))
    robots = pd.DataFrame(robot_rows, columns=["host", "prefix", "allow"])

    # --- politeness -------------------------------------------------------------
    budgets = rng.integers(1, 9, size=n_hosts)
    budgets[:3] = rng.integers(1, 3, size=3)  # hot hosts capped low
    delays = np.where(rng.random(n_hosts) < 0.8, 1, rng.integers(2, 4, size=n_hosts))
    politeness = pd.DataFrame(
        {
            "host": hosts,
            "budget_per_round": budgets.astype("int32"),
            "crawl_delay_rounds": delays.astype("int32"),
        }
    )

    redirects.to_parquet(os.path.join(out_dir, "redirects.parquet"), index=False)
    robots.to_parquet(os.path.join(out_dir, "robots.parquet"), index=False)
    politeness.to_parquet(os.path.join(out_dir, "politeness.parquet"), index=False)
    with open(os.path.join(out_dir, "seeds.txt"), "w") as f:
        f.write("\n".join(seed_urls) + "\n")

    meta = {
        "seed": seed,
        "n_pages": n_pages,
        "n_hosts": n_hosts,
        "n_snapshots": len(pages),
        "n_seeds": len(seed_urls),
        "span_rounds": span_rounds,
        "round_tick": round_tick,
        "pages_buckets": pages_buckets,
        "epoch_base": EPOCH_BASE,
    }
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=2)
    return meta


def _href_variant(
    rng: np.random.Generator,
    src: int,
    dst: int,
    url_of: dict[int, str],
    page_host_idx: np.ndarray,
    dirs: np.ndarray,
    short_of: dict[int, str],
) -> str:
    """Render a link target as one of several href shapes so canonicalization
    (SURVEY.md §2.2 P8) is genuinely exercised."""
    u = url_of[dst]
    r = rng.random()
    if r < 0.03:  # dead link
        host = u.split("://", 1)[1].split("/", 1)[0]
        return f"http://{host}/missing/m{int(rng.integers(0, 10 ** 6))}.html"
    if r < 0.08 and dst in short_of:  # via shortener
        return short_of[dst]
    if r < 0.18:  # noisy absolute: uppercase + default port + fragment
        scheme, rest = u.split("://", 1)
        host, path = rest.split("/", 1)
        return f"HTTP://{host.upper()}:80/{path}#frag{src}"
    same_host = page_host_idx[src] == page_host_idx[dst]
    if r < 0.28 and same_host:  # root-relative
        return "/" + u.split("://", 1)[1].split("/", 1)[1]
    if r < 0.38 and same_host and dirs[src] == dirs[dst]:  # dir-relative
        return u.rsplit("/", 1)[1]
    return u
