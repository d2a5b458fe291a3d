"""Benchmark harness (driver contract): prints ONE JSON line.

Two parts:

1. **Crawl bench** — the engine's own workload (BASELINE.md metric: URLs
   scheduled+deduped per second per executor-equivalent): perfbench's
   ``crawl_steady`` crawl, whose fixture (a deterministic synthetic web,
   seed 42, 8000 pages), shape and per-round counters ``perfbench/crawl.py``
   defines. The engine crawls it from a fresh state dir, round 0 and the
   shape's timed rounds in one ``run()``, and we count frontier-scheduling
   work (new urls scheduled + duplicate candidates rejected + robots blocks).
2. **Query bench** — headline operators from __spark_entry__ timed at
   $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).

Measurement protocol (round 3): this sandbox's host steals CPU in
multi-minute bursts (identical jobs vary 3-8x wall — see BENCH_SCALING.json
protocol notes), so single-shot timing is a coin flip. The query bench
therefore runs REPS full interleaved passes over the query list and reports
the per-query MIN plus all raw walls; the crawl section runs CRAWL_REPS
times and reports the best run. Interleaving means a throttle burst poisons
one pass, not one query.

Env knobs: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_SF_DIR,
TCS_BENCH_REPS (query passes, default 3), TCS_BENCH_CRAWL_REPS (default 2).
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.crawl import SHAPES, _engine_rounds, _fixture  # noqa: E402

HEADLINE_QUERIES = [
    "tpch_q1",
    "tpch_q3",
    "host_budget_rank",
    "opic_gains",
    "two_hop_pairs",
    "gap_entropy",
    "dedup_minhash_lsh",
    "doc_fingerprint",
    "ann_bruteforce_topk",
]


# the crawl section's work counters, summed over the crawl's rounds
WORK_COUNTERS = ("fetched", "new_urls", "dupes", "robots_blocked")


def bench_crawl_once(spark, fx: str, shape, state: str) -> tuple[float, dict]:
    """One crawl of ``shape`` over the fixture ``fx`` from a fresh state dir
    ``state``: the wall of ``eng.run()`` (round 0 and the shape's timed
    rounds) and the work counters summed over those rounds."""
    from twitter_crawler_spark.crawl.engine import CrawlEngine

    shutil.rmtree(state, ignore_errors=True)
    cfg = dataclasses.replace(shape.cfg, max_rounds=shape.rounds + 1)
    eng = CrawlEngine(spark, fx, state, cfg)
    t0 = time.time()
    eng.run()
    wall = time.time() - t0
    per_round = _engine_rounds(eng).values()
    shutil.rmtree(state, ignore_errors=True)
    return wall, {k: sum(m[k] for m in per_round) for k in WORK_COUNTERS}


def bench_crawl(spark, cores: int, reps: int) -> dict:
    shape = SHAPES["crawl_steady"]
    fx = _fixture(shape)
    state = f"/tmp/tcs_bench_state_{os.getpid()}"
    walls: list[float] = []
    counters: dict = {}
    for i in range(reps):
        wall, c = bench_crawl_once(spark, fx, shape, state)
        walls.append(round(wall, 2))
        counters = c  # deterministic engine: counters are identical per rep
        print(f"# crawl rep {i + 1}/{reps}: {wall:.1f}s {c}", file=sys.stderr)
    best = min(walls)
    scheduled_deduped = (
        counters["new_urls"] + counters["dupes"] + counters["robots_blocked"]
    )
    return {
        "pages": shape.fixture["n_pages"],
        "rounds": shape.rounds + 1,
        "wall_s": best,
        "raw_walls_s": walls,
        **counters,
        "urls_scheduled_deduped": scheduled_deduped,
        "urls_per_sec": round(scheduled_deduped / best, 2),
        "urls_per_sec_per_core": round(scheduled_deduped / best / cores, 3),
    }


def main() -> None:
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("TCS_BENCH_REPS", "3"))
    crawl_reps = int(os.environ.get("TCS_BENCH_CRAWL_REPS", "2"))
    from twitter_crawler_spark.session import get_spark

    spark = get_spark(
        app_name="tcs-bench",
        cores=cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # warm-up at the smallest SF: pays the codegen/parquet-footer/Arrow-pool
    # costs once so every measured pass is a usable sample (the first pass
    # used to be pure JVM warm-up)
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for name in HEADLINE_QUERIES:
            qs[name](spark, warm_dir).count()
    raw: dict[str, list[float]] = {name: [] for name in HEADLINE_QUERIES}
    rows: dict[str, int] = {}
    for rep in range(reps):
        for name in HEADLINE_QUERIES:
            t0 = time.time()
            n = qs[name](spark, sf_dir).count()
            dt = time.time() - t0
            raw[name].append(round(dt, 3))
            rows[name] = n
            print(f"# pass {rep + 1}/{reps} {name}: {n} rows in {dt:.2f}s", file=sys.stderr)

    timings = {name: min(walls) for name, walls in raw.items()}
    total = sum(timings.values())

    crawl = bench_crawl(spark, cores, crawl_reps)
    total += crawl["wall_s"]
    timings["crawl"] = crawl["wall_s"]
    raw["crawl"] = crawl["raw_walls_s"]

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "bench_total_wall",
                "value": round(total, 2),
                "unit": "sec",
                "queries": timings,
                "raw_walls": raw,
                "protocol": f"interleaved min-of-{reps} (crawl best-of-{crawl_reps})",
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "cores": cores,
                "crawl": crawl,
            }
        )
    )


if __name__ == "__main__":
    main()
