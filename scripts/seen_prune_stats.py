"""Quantify the exact-tier url_seen partition pruning (BASELINE.md receipt).

Runs the bench-fixture crawl with ``CrawlEngine._exact_new`` wrapped to
record, per round, which buckets the doubly-bloom/cuckoo-positive candidate
slice occupies, then compares on-disk url_seen bytes the pruned scan touches
(candidate buckets only, across committed round dirs) vs a full-table scan
(all buckets — what the pre-round-3 code read every round).

At sandbox scale (16 buckets, dense candidates) the ratio is bounded by
#occupied-buckets/16; the design-point win is that at 10^10 urls with the
bloom tier passing only a few thousand candidates the pruned scan touches
O(candidates) buckets out of 10^4-10^5, not the whole table.

Run: python scripts/seen_prune_stats.py [n_pages] [rounds] [seen_partitions]
(the default P=16 is dense at sandbox scale — every bucket occupied, ratio
1.0; pass a larger P to see the pruning engage as buckets outnumber the
per-round flag-2 candidate count, the regime the 100 TB layout targets)
"""

from __future__ import annotations

import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from twitter_crawler_spark.config import CrawlConfig  # noqa: E402
from twitter_crawler_spark.crawl.engine import CrawlEngine  # noqa: E402
from twitter_crawler_spark.fixtures.webgen import generate_web  # noqa: E402
from twitter_crawler_spark.session import get_spark  # noqa: E402


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, fn))
    return total


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 8000
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    seen_p = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    n_seeds = max(50, n_pages // 20)
    fx = f"/tmp/tcs_bench_fx_p{n_pages}_s{n_seeds}"
    if not os.path.exists(os.path.join(fx, "meta.json")):
        shutil.rmtree(fx, ignore_errors=True)
        generate_web(fx, seed=42, n_pages=n_pages, n_hosts=max(20, n_pages // 40),
                     n_seeds=n_seeds, span_rounds=rounds, mean_outdeg=10)
    state = f"/tmp/tcs_prune_state_{os.getpid()}"
    shutil.rmtree(state, ignore_errors=True)

    recorded: list[tuple[int, list[int]]] = []
    orig = CrawlEngine._exact_new

    def recording(self, need_exact, seen_all, exact_buckets):
        # rounds run 0, 1, ... in order: the k-th call reads url_seen as of
        # committed round k - 1
        recorded.append((len(recorded) - 1, list(exact_buckets)))
        return orig(self, need_exact, seen_all, exact_buckets)

    CrawlEngine._exact_new = recording
    try:
        spark = get_spark(cores=8, extra_conf={"spark.ui.showConsoleProgress": "false"})
        cfg = CrawlConfig(max_rounds=rounds, seen_partitions=seen_p)
        eng = CrawlEngine(spark, fx, state, cfg)
        eng.run()
    finally:
        CrawlEngine._exact_new = orig

    P = seen_p
    seen_root = os.path.join(state, "url_seen")
    full_total = 0
    pruned_total = 0
    print(f"round  occupied/{P} buckets  full_scan_B  pruned_scan_B")
    for prev, buckets in recorded:
        full = pruned = 0
        for d in os.listdir(seen_root):
            if not d.startswith("r=") or int(d.split("=", 1)[1]) > prev:
                continue
            rdir = os.path.join(seen_root, d)
            full += dir_bytes(rdir)
            for b in buckets:
                pruned += dir_bytes(os.path.join(rdir, f"bucket={b}"))
        full_total += full
        pruned_total += pruned
        print(f"{prev + 1:5d}  {len(buckets):8d}           {full:10d}  {pruned:12d}")
    ratio = pruned_total / full_total if full_total else float("nan")
    print(f"TOTAL  full={full_total}B pruned={pruned_total}B "
          f"ratio={ratio:.3f} (bound {sum(len(b) for _, b in recorded) / (len(recorded) * P):.3f})")
    shutil.rmtree(state, ignore_errors=True)


if __name__ == "__main__":
    main()
