"""Two-cluster-size scaling evidence (BASELINE.md row 10).

No real cluster exists in this sandbox, so the north rule's N → 4N executor
criterion is evidenced by running IDENTICAL jobs on IDENTICAL input at
local[8] and local[32] (8 vs 32 cores = N vs 4N executor-equivalents) in
separate JVMs, reporting throughput at both plus

    efficiency = (throughput_32 / throughput_8) / 4.

Two workloads:

* **schedule** (primary — the BASELINE.md metric "URLs scheduled+deduped/s
  on a synthetic frontier"): one crawl round's scheduling dataflow at
  TCS_SCALE_URLS urls (default 2M) — Arrow murmur3 + canonicalize UDFs,
  salted politeness window, dedup anti-join. Data-parallel work dominates,
  which is the regime a multi-executor cluster at 10^10 urls lives in.
  Each child warms the JVM/python workers with a small run first, then
  measures.
* **crawl** (secondary): the full iterative engine on a generated fixture
  (TCS_SCALE_PAGES pages, default 20000). At sandbox scale this is
  driver-fixed-cost bound (each round is 68-72 Spark jobs over small data
  on the bench fixture, counted with statusTracker), so its efficiency
  UNDERSTATES cluster behaviour; reported for completeness.

Writes BENCH_SCALING.json and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD_SCHEDULE = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from twitter_crawler_spark.session import get_spark
from twitter_crawler_spark.crawl.schedule_bench import run_schedule_round
cores = int(sys.argv[1]); n = int(sys.argv[2]); reps = int(sys.argv[3])
parts = int(sys.argv[4])
# Faithful cluster protocol, two parts:
# 1. ActiveProcessorCount confines GC/JIT/netty pools to the measured cores,
#    like a real executor container — without it local[2] borrows ~23 hidden
#    G1 GC threads from the 32-core host and deflates apparent efficiency.
# 2. The shuffle partition count is FIXED across cluster sizes (partitions
#    are sized to the data, executors vary — identical physical work at both
#    N and 4N, only the parallelism differs). Tying partitions to cores gives
#    the small config fewer/bigger partitions and a different workload.
spark = get_spark(app_name=f"tcs-sched-{{cores}}", cores=cores,
                  shuffle_partitions=parts,
                  extra_conf={{
                      "spark.ui.showConsoleProgress": "false",
                      "spark.driver.extraJavaOptions":
                          f"-XX:ActiveProcessorCount={{cores}}",
                  }})
import os as _os
_variants = (True,) if _os.environ.get("TCS_SCALE_JVM_ONLY") == "1" else (True, False)
out = {{"cores": cores}}
for jvm_only in _variants:
    run_schedule_round(spark, 50_000, jvm_only=jvm_only)   # warm-up
    runs = [run_schedule_round(spark, n, jvm_only=jvm_only) for _ in range(reps)]
    best = min(runs, key=lambda r: r["wall_s"])  # min wall = least VM-steal noise
    best["all_walls"] = [r["wall_s"] for r in runs]
    out["jvm" if jvm_only else "arrow"] = best
print(json.dumps(out))
"""

CHILD_CRAWL = r"""
import json, os, shutil, sys, time
sys.path.insert(0, {repo!r})
from twitter_crawler_spark.config import CrawlConfig
from twitter_crawler_spark.crawl.engine import CrawlEngine
from twitter_crawler_spark.session import get_spark
cores = int(sys.argv[1]); fx = sys.argv[2]; rounds = int(sys.argv[3])
state = f"/tmp/tcs_scale_state_{{cores}}_{{os.getpid()}}"
shutil.rmtree(state, ignore_errors=True)
spark = get_spark(app_name=f"tcs-scale-{{cores}}", cores=cores,
                  shuffle_partitions=cores,
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})
cfg = CrawlConfig(max_rounds=rounds)
eng = CrawlEngine(spark, fx, state, cfg)
t0 = time.time(); eng.run(); wall = time.time() - t0
m = (eng.round_metrics().where("partition_id = -1")
     .selectExpr("sum(new_urls) n", "sum(dupes) d", "sum(robots_blocked) b",
                 "sum(fetched) f").collect()[0])
work = int(m.n + m.d + m.b)
shutil.rmtree(state, ignore_errors=True)
print(json.dumps({{"cores": cores, "wall_s": round(wall, 2), "work": work,
                   "fetched": int(m.f),
                   "throughput": round(work / wall, 2)}}))
"""


def run_child(template: str, args: list[str]) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", template.format(repo=REPO), *args],
        capture_output=True, text=True, timeout=3000,
    )
    if out.returncode != 0:
        raise RuntimeError(f"child {args} failed:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    n_urls = int(os.environ.get("TCS_SCALE_URLS", "4000000"))
    reps = os.environ.get("TCS_SCALE_REPS", "3")
    lo, hi = (int(x) for x in os.environ.get("TCS_SCALE_CORES", "2,8").split(","))
    result: dict = {}

    # INTERLEAVED measurement: the sandbox host throttles CPU in multi-minute
    # bursts (identical runs vary 5-20×), so lo/hi children alternate in time
    # and each config keeps its best (min-wall) observation — the only
    # estimate that survives the noise.
    best: dict[int, dict] = {}
    parts = int(os.environ.get("TCS_SCALE_PARTS", str(2 * hi)))
    for i in range(int(reps)):
        for cores in (lo, hi):
            r = run_child(CHILD_SCHEDULE, [str(cores), str(n_urls), "1", str(parts)])
            walls = " ".join(f"{k}={r[k]['wall_s']}s" for k in ("jvm", "arrow") if k in r)
            print(f"# schedule pass {i} local[{cores}]: {walls}", file=sys.stderr)
            cur = best.get(cores)
            if cur is None:
                best[cores] = r
            else:
                for v in [k for k in ("jvm", "arrow") if k in r]:
                    cur[v]["all_walls"] += r[v]["all_walls"]
                    if r[v]["wall_s"] < cur[v]["wall_s"]:
                        keep = cur[v]["all_walls"]
                        cur[v] = r[v]
                        cur[v]["all_walls"] = keep
    s_lo, s_hi = best[lo], best[hi]
    print(f"# schedule local[{lo}]: {s_lo}", file=sys.stderr)
    print(f"# schedule local[{hi}]: {s_hi}", file=sys.stderr)
    factor = hi / lo
    result["schedule"] = {
        "n_urls": n_urls,
        "shuffle_partitions": parts,
        "active_processor_count_pinned": True,
        f"local{lo}": s_lo,
        f"local{hi}": s_hi,
        "core_factor": factor,
        # headline criterion uses the pure-JVM dataflow: in local[N] the
        # Arrow-UDF python workers run outside the N task slots, so the
        # arrow variant's low-N throughput is inflated by hidden extra cores
        # (a local-mode artifact, not a property of the distributed plan)
        "scaling_efficiency": round(
            (s_hi["jvm"]["throughput"] / s_lo["jvm"]["throughput"]) / factor, 3
        ),
    }
    if "arrow" in s_lo and "arrow" in s_hi:
        result["schedule"]["scaling_efficiency_arrow"] = round(
            (s_hi["arrow"]["throughput"] / s_lo["arrow"]["throughput"]) / factor, 3
        )

    if os.environ.get("TCS_SCALE_CRAWL", "1") == "1":
        n_pages = int(os.environ.get("TCS_SCALE_PAGES", "20000"))
        rounds = int(os.environ.get("TCS_SCALE_ROUNDS", "5"))
        fx = f"/tmp/tcs_scale_fx_p{n_pages}"
        if not os.path.exists(os.path.join(fx, "meta.json")):
            shutil.rmtree(fx, ignore_errors=True)
            sys.path.insert(0, REPO)
            from twitter_crawler_spark.fixtures.webgen import generate_web

            t0 = time.time()
            generate_web(fx, seed=42, n_pages=n_pages,
                         n_hosts=max(40, n_pages // 40),
                         n_seeds=max(50, n_pages // 20), span_rounds=rounds,
                         mean_outdeg=12)
            print(f"# fixture {fx} in {time.time()-t0:.1f}s", file=sys.stderr)
        c_lo = run_child(CHILD_CRAWL, [str(lo), fx, str(rounds)])
        print(f"# crawl local[{lo}]: {c_lo}", file=sys.stderr)
        c_hi = run_child(CHILD_CRAWL, [str(hi), fx, str(rounds)])
        print(f"# crawl local[{hi}]: {c_hi}", file=sys.stderr)
        result["crawl"] = {
            "pages": n_pages,
            "rounds": rounds,
            f"local{lo}": c_lo,
            f"local{hi}": c_hi,
            "core_factor": factor,
            "scaling_efficiency": round(
                (c_hi["throughput"] / c_lo["throughput"]) / factor, 3
            ),
        }

    print(json.dumps(result))
    with open(os.path.join(REPO, "BENCH_SCALING.json"), "w") as f:
        json.dump(result, f, indent=2)


if __name__ == "__main__":
    main()
