"""Saturation receipt for the bloom-shard capacity policy (VERDICT r4 #2).

Runs the SAME crawl twice on one fixture with deliberately tiny shard
geometry (1024-bit blooms — ~128-key capacity at bloom_max_load=0.125),
once with ``bloom_max_load=math.inf`` (fixed geometry: no shard is ever
rebuilt) and once with the policy on. Records, per round:

* measured bloom FP rate on genuinely-new urls (1 − bloom_negative/new:
  the fraction of new urls the saturated bloom wrongly claimed to have
  seen, each of which costs an exact-join row);
* exact-tier candidate share (1 − bloom_negative / (new+dupes)): the
  slice of candidates the bloom tier failed to classify, which must pay
  the url_seen anti-join;
* final per-bucket geometry and rebuild count under the policy.

Correctness invariant checked: the two runs' work counters (fetched / new /
dupes / blocked) are identical — shard geometry only moves WHERE a dup is
caught, never the outcome (the exact tier is the arbiter).

Writes BLOOM_CAPACITY.json. Usage: python scripts/bloom_capacity_receipt.py
"""

from __future__ import annotations

import json
import math
import shutil
import tempfile

from twitter_crawler_spark.config import CrawlConfig
from twitter_crawler_spark.crawl.engine import CrawlEngine
from twitter_crawler_spark.fixtures.webgen import generate_web
from twitter_crawler_spark.session import get_spark

TINY = dict(
    bloom_bits_per_partition=1 << 10,
    seen_partitions=8,
    compact_every=3,
    max_rounds=12,
)


def run(spark, fx: str, state: str, autogrow: bool) -> dict:
    cfg = CrawlConfig(**TINY) if autogrow else CrawlConfig(bloom_max_load=math.inf, **TINY)
    eng = CrawlEngine(spark, fx, state, cfg)
    eng.run()
    rows = (
        eng.round_metrics()
        .where("partition_id = -1")
        .orderBy("round")
        .collect()
    )
    per_round = []
    for m in rows:
        new, dupes = int(m["new_urls"]), int(m["dupes"])
        bn = int(m["bloom_negative"])
        per_round.append(
            {
                "round": int(m["round"]),
                "new": new,
                "dupes": dupes,
                "bloom_fp_on_new": round(1 - bn / new, 4) if new else None,
                "exact_tier_share": round(1 - bn / (new + dupes), 4)
                if new + dupes
                else None,
            }
        )
    load = eng.store.snapshot().bloom_load
    totals = {
        k: sum(int(m[k]) for m in rows)
        for k in ("fetched", "new_urls", "dupes", "robots_blocked")
    }
    base_bits = TINY["bloom_bits_per_partition"]
    return {
        "autogrow": autogrow,
        "totals": totals,
        "per_round": per_round,
        "final_geometry": {
            b: {"n": v[0], "m_bits": v[1]}
            for b, v in sorted(load.items())
        },
        "buckets_grown": sum(1 for v in load.values() if v[1] > base_bits),
    }


def main() -> None:
    spark = get_spark("bloom-capacity-receipt")
    tmp = tempfile.mkdtemp(prefix="bloomcap_")
    fx = f"{tmp}/fx"
    generate_web(fx, seed=7, n_pages=8000, n_hosts=60, n_seeds=40,
                 span_rounds=10, pages_buckets=16)
    out = {"geometry": {k: v for k, v in TINY.items()}}
    for label, ag in (("fixed", False), ("autogrow", True)):
        out[label] = run(spark, fx, f"{tmp}/state_{label}", ag)
        tail = [r for r in out[label]["per_round"] if r["round"] >= 8]
        print(label, "totals", out[label]["totals"],
              "tail fp_on_new", [r["bloom_fp_on_new"] for r in tail],
              "tail exact_share", [r["exact_tier_share"] for r in tail],
              flush=True)
    assert out["fixed"]["totals"] == out["autogrow"]["totals"], (
        "work counters diverged — shard geometry must not change outcomes"
    )
    out["counters_identical"] = True
    with open("BLOOM_CAPACITY.json", "w") as f:
        json.dump(out, f, indent=2, default=int)
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({
        "buckets_grown": out["autogrow"]["buckets_grown"],
        "fixed_last_fp": out["fixed"]["per_round"][-1]["bloom_fp_on_new"],
        "autogrow_last_fp": out["autogrow"]["per_round"][-1]["bloom_fp_on_new"],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
