"""Long-crawl receipt: per-round state-listing/probe cost stays FLAT.

VERDICT r3 item 4's done-criterion asks for "a 50-round crawl [that] shows
flat per-round listing/probe cost". Walls are weather on this host (see
BASELINE.md); the deterministic receipt is FILE/DIR COUNTS: every state
read path (read_log / read_rounds / bloom_paths) costs O(#files listed), so
if the on-disk file population is bounded, so is per-round listing cost.

Protocol: one 50-round crawl on a 2000-page fixture with a stretched
revisit schedule (11 attempts, cumulative offsets 0,1,3,6,...,45 rounds) so
the frontier stays busy the whole way. The engine is stepped ONE ROUND AT A
TIME via the resume path (run(max_rounds=r+1) re-opens from the committed
snapshot — also exercising resume 50x across 12 minor + 2 size-tiered major
compaction boundaries), and after each commit the script samples:

  * files/dirs under every state table (url_seen, docs, edges, frontier_*,
    crawl_log, ...) and under the bloom sidecar root;
  * len(store.bloom_paths()) — the per-task probe map (must stay = #buckets);
  * manifest size in bytes.

The same crawl is then repeated with compact_every=0 (compaction OFF): the
counterfactual shows counts growing O(rounds) while the compacted run's
counts are a bounded sawtooth — the difference is the receipt. Results are
merged into BENCH_SCALING.json under "long_crawl_50r".

Run:  python scripts/long_crawl_stats.py [--rounds 50] [--pages 2000]
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from twitter_crawler_spark.config import CrawlConfig
from twitter_crawler_spark.crawl.engine import CrawlEngine
from twitter_crawler_spark.crawl.state import SnapshotStore
from twitter_crawler_spark.fixtures.webgen import generate_web
from twitter_crawler_spark.session import get_spark

# 11-attempt schedule, cumulative pop offsets 0,1,3,6,10,15,21,28,36,45
# rounds: keeps URLs flowing through the frontier for the whole 50 rounds
LONG_CFG = CrawlConfig(
    intervals=tuple(3600 * k for k in range(11)),
    max_attempts=11,
    evict_unproductive=False,  # revisits past the snapshot span must survive
    max_rounds=50,
    seen_partitions=8,
    pages_buckets=8,
    host_salt=4,
    # period max_log_gens*compact_every = 18 rounds → the 50-round run
    # crosses TWO size-tiered MAJOR merges (≈ r23, r41), so the full leveled
    # sawtooth (minor growth → major fold) is visible twice in the series
    compact_every=6,
    max_log_gens=3,
)


# Tables the ROUND LOOP re-reads every round — the ones whose listing/probe
# cost must stay flat. crawl_log / evictions / round_metrics are append-only
# OUTPUT logs (the Iceberg fast-append analog) that are never compacted, so
# their dir count grows with rounds; the loop probes and reads only the
# last max(compact_every, D) crawl_log round dirs (delete keys since the
# frontier base, the host crawl-delay window) and never lists the log.
LOOP_READ_TABLES = (
    "frontier", "frontier_ins", "frontier_gains", "url_seen", "docs", "bloom",
)


def sample_state(state_dir: str, store: SnapshotStore) -> dict:
    per_table: dict[str, dict[str, int]] = {}
    files_total = 0
    loop_files = loop_dirs = 0
    for entry in sorted(os.scandir(state_dir), key=lambda e: e.name):
        if not entry.is_dir():
            continue
        nfiles = 0
        for _root, _dirs, files in os.walk(entry.path):
            nfiles += len(files)
        kids = sum(1 for e in os.scandir(entry.path) if e.is_dir())
        per_table[entry.name] = {"files": nfiles, "dirs": kids}
        files_total += nfiles
        if entry.name in LOOP_READ_TABLES:
            loop_files += nfiles
            loop_dirs += kids
    mpath = store._manifest_path
    return {
        "files_total": files_total,
        "loop_read_files": loop_files,
        "loop_read_dirs": loop_dirs,
        "bloom_probe_map_len": len(store.bloom_paths()),
        "manifest_bytes": os.path.getsize(mpath) if os.path.exists(mpath) else 0,
        "per_table": per_table,
    }


def run_stepped(spark, fx: str, cfg: CrawlConfig, rounds: int, label: str) -> dict:
    state = tempfile.mkdtemp(prefix=f"longcrawl_{label}_")
    series: list[dict] = []
    counters = {"fetched": 0, "new_urls": 0, "dupes": 0}
    try:
        for r in range(rounds):
            eng = CrawlEngine(spark, fx, state, cfg=cfg)
            t0 = time.time()
            summary = eng.run(max_rounds=r + 1)
            wall = time.time() - t0
            if summary["final_round"] < r:
                print(f"  [{label}] frontier empty at round {r}", flush=True)
                break
            s = sample_state(state, eng.store)
            s.update(round=r, wall_s=round(wall, 2))
            series.append(s)
            if r % 10 == 0 or r == rounds - 1:
                print(
                    f"  [{label}] r={r:2d} loop_files={s['loop_read_files']:4d} "
                    f"loop_dirs={s['loop_read_dirs']:3d} total={s['files_total']:4d} "
                    f"bloom_map={s['bloom_probe_map_len']} "
                    f"manifest={s['manifest_bytes']}B wall={wall:.1f}s",
                    flush=True,
                )
        final = CrawlEngine(spark, fx, state, cfg=cfg)
        log = final.crawl_log()
        counters = {
            "rounds_run": len(series),
            "pops_total": log.count(),
            "urls_seen": final.url_seen().count(),
        }
    finally:
        shutil.rmtree(state, ignore_errors=True)
    return {"series": series, "counters": counters}


def _slope(series: list[dict], key: str, from_round: int = 19) -> float:
    """OLS slope of key vs round over the steady tail (round >= from_round)."""
    xs = [s["round"] for s in series if s["round"] >= from_round]
    ys = [s[key] for s in series if s["round"] >= from_round]
    n = len(xs)
    if n < 2:
        return 0.0
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom


def summarize(series: list[dict]) -> dict:
    pick = [s for s in series if s["round"] in (9, 19, 29, 39, 49)]
    return {
        "loop_read_files_at": {s["round"] + 1: s["loop_read_files"] for s in pick},
        "loop_read_files_max": max(s["loop_read_files"] for s in series),
        "loop_read_dirs_max": max(s["loop_read_dirs"] for s in series),
        "loop_read_files_slope_r20_on": round(_slope(series, "loop_read_files"), 2),
        "files_total_at": {s["round"] + 1: s["files_total"] for s in pick},
        "files_total_slope_r20_on": round(_slope(series, "files_total"), 2),
        "bloom_probe_map_len_max": max(s["bloom_probe_map_len"] for s in series),
        "manifest_bytes_max": max(s["manifest_bytes"] for s in series),
        "wall_s_per_round": [s["wall_s"] for s in series],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=50)
    ap.add_argument("--pages", type=int, default=2000)
    ap.add_argument("--out", default="BENCH_SCALING.json")
    args = ap.parse_args()

    spark = get_spark(app_name="tcs-longcrawl", cores=8, shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    fx = tempfile.mkdtemp(prefix="longcrawl_fx_") + "/fx"
    generate_web(fx, seed=11, n_pages=args.pages, n_hosts=24, n_shorteners=4,
                 n_seeds=16, span_rounds=12, mean_outdeg=6,
                 pages_buckets=LONG_CFG.pages_buckets)

    print(f"== compaction ON (compact_every={LONG_CFG.compact_every}, "
          f"max_log_gens={LONG_CFG.max_log_gens}) ==", flush=True)
    on = run_stepped(spark, fx, LONG_CFG, args.rounds, "on")
    print("== compaction OFF (counterfactual) ==", flush=True)
    off_cfg = dataclasses.replace(LONG_CFG, compact_every=0)
    off = run_stepped(spark, fx, off_cfg, args.rounds, "off")

    assert on["counters"]["pops_total"] == off["counters"]["pops_total"], (
        "compaction must not change crawl semantics",
        on["counters"], off["counters"])
    assert on["counters"]["urls_seen"] == off["counters"]["urls_seen"]

    result = {
        "protocol": (
            "one 50-round crawl, engine re-opened from the committed snapshot "
            "every round (resume path 50x, crossing 12 minor + 2 size-tiered major "
            "compaction boundaries); per-round file/dir counts are the "
            "deterministic listing/probe-cost receipt, walls are weather; "
            "identical crawl counters assert compaction changes layout only"
        ),
        "cfg": {
            "pages": args.pages, "rounds": args.rounds,
            "compact_every": LONG_CFG.compact_every,
            "max_log_gens": LONG_CFG.max_log_gens,
            "intervals_rounds": [i // 3600 for i in LONG_CFG.intervals],
        },
        "counters": on["counters"],
        "compaction_on": summarize(on["series"]),
        "compaction_off": summarize(off["series"]),
        "per_table_final_on": on["series"][-1]["per_table"],
        "per_table_final_off": off["series"][-1]["per_table"],
    }
    print(json.dumps({k: result[k] for k in
                      ("counters", "compaction_on", "compaction_off")}, indent=2))

    merged = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            merged = json.load(f)
    merged["long_crawl_50r"] = result
    with open(args.out, "w") as f:
        json.dump(merged, f, indent=2)
    print(f"wrote {args.out} key long_crawl_50r", flush=True)
    shutil.rmtree(os.path.dirname(fx), ignore_errors=True)


if __name__ == "__main__":
    main()
