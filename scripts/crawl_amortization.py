"""Crawl fixed-cost amortization curve (VERDICT r2 item 7).

The design claim: a crawl round costs a roughly fixed number of driver
seconds (68-72 Spark jobs per round on the bench fixture, counted with
statusTracker — pop window, fetch join, 3-tier dedup, 7 parallel table
writes), so scheduling throughput RISES with fixture size as those fixed
seconds amortize over more per-round work — at the 10^10-URL design
point they are noise. This script measures the trend: the bench crawl at
increasing TCS_BENCH_PAGES, best-of-R walls each (interleaved across sizes
so a throttle burst poisons a pass, not a size), reporting
urls-scheduled+deduped/s and /s/core per size.

Usage: python scripts/crawl_amortization.py [sizes_csv] [reps] [cores]
Defaults: 8000,32000,128000  2  32. Appends `crawl_amortization` to
BENCH_SCALING.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, shutil, sys, time
sys.path.insert(0, {repo!r})
from twitter_crawler_spark.config import CrawlConfig
from twitter_crawler_spark.crawl.engine import CrawlEngine
from twitter_crawler_spark.session import get_spark
cores = int(sys.argv[1]); fx = sys.argv[2]; rounds = int(sys.argv[3])
state = f"/tmp/tcs_amort_state_{{os.getpid()}}"
shutil.rmtree(state, ignore_errors=True)
spark = get_spark(app_name=f"tcs-amort-{{cores}}", cores=cores,
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})
eng = CrawlEngine(spark, fx, state, CrawlConfig(max_rounds=rounds))
t0 = time.time(); eng.run(); wall = time.time() - t0
m = (eng.round_metrics().where("partition_id = -1")
     .selectExpr("sum(new_urls) n", "sum(dupes) d", "sum(robots_blocked) b",
                 "sum(fetched) f").collect()[0])
shutil.rmtree(state, ignore_errors=True)
print(json.dumps({{"wall_s": round(wall, 2),
                   "work": int(m.n + m.d + m.b), "fetched": int(m.f)}}))
"""

ROUNDS = 6


def fixture(n_pages: int) -> str:
    n_seeds = max(50, n_pages // 20)
    fx = f"/tmp/tcs_bench_fx_p{n_pages}_s{n_seeds}"
    if not os.path.exists(os.path.join(fx, "meta.json")):
        shutil.rmtree(fx, ignore_errors=True)
        sys.path.insert(0, REPO)
        from twitter_crawler_spark.fixtures.webgen import generate_web

        t0 = time.time()
        generate_web(fx, seed=42, n_pages=n_pages, n_hosts=max(20, n_pages // 40),
                     n_seeds=n_seeds, span_rounds=ROUNDS, mean_outdeg=10)
        print(f"# fixture {fx}: {time.time() - t0:.1f}s", file=sys.stderr)
    return fx


def main() -> None:
    sizes = [int(x) for x in (sys.argv[1] if len(sys.argv) > 1
                              else "8000,32000,128000").split(",")]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    cores = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    fxs = {n: fixture(n) for n in sizes}
    runs: dict[int, list[dict]] = {n: [] for n in sizes}
    for i in range(reps):
        for n in sizes:
            out = subprocess.run(
                [sys.executable, "-c", CHILD.format(repo=REPO),
                 str(cores), fxs[n], str(ROUNDS)],
                capture_output=True, text=True, timeout=4000,
            )
            if out.returncode != 0:
                raise RuntimeError(out.stderr[-2000:])
            r = json.loads(out.stdout.strip().splitlines()[-1])
            runs[n].append(r)
            print(f"# pass {i + 1}/{reps} pages={n}: {r['wall_s']}s "
                  f"work={r['work']}", file=sys.stderr)
    rows = []
    for n in sizes:
        best = min(runs[n], key=lambda r: r["wall_s"])
        rows.append({
            "pages": n,
            "rounds": ROUNDS,
            "work": best["work"],
            "fetched": best["fetched"],
            "best_wall_s": best["wall_s"],
            "raw_walls_s": [r["wall_s"] for r in runs[n]],
            "urls_per_sec": round(best["work"] / best["wall_s"], 2),
            "urls_per_sec_per_core": round(best["work"] / best["wall_s"] / cores, 3),
            "fixed_cost_s_per_round": round(best["wall_s"] / ROUNDS, 2),
        })
    section = {"cores": cores, "sizes": rows}
    print(json.dumps(section))
    path = os.path.join(REPO, "BENCH_SCALING.json")
    data = json.load(open(path)) if os.path.exists(path) else {}
    data["crawl_amortization"] = section
    with open(path, "w") as f:
        json.dump(data, f, indent=2)


if __name__ == "__main__":
    main()
