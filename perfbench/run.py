"""Benchmark entry point; prints one JSON result as the last stdout line.

    python3 perfbench/run.py --workload crawl_compact --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke            # every workload at minimal size
    python3 perfbench/run.py --record-catalog   # re-record catalog oracle results

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced unit (which follows an untraced one, for the overhead).
See perfbench/README.md for the workloads, metrics and layers.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import catalog, crawl, harness, metrics, schedule  # noqa: E402

# crawl_steady (the bench.py crawl), schedule_bulk and catalog_full (the
# queries on the bench.py input) are runnable by name but not listed in
# BENCHMARK.json: with them, a benchmark's runs would not fit their time
# budget (perfbench/README.md, "Run time")
WORKLOADS = ("crawl_compact", "crawl_steady", "schedule_bulk", "catalog_queries",
             "catalog_full")


def run_workload(name: str, seed: int, seconds: float, trace: bool, smoke: bool):
    bench = harness.Bench(f"{name}-seed{seed}-trace{int(trace)}")
    try:
        if name.startswith("crawl_"):
            shape = crawl.SHAPES[name]
            if smoke:
                shape = crawl.smoke_shape(shape)
            return crawl.run(bench, shape, seconds, trace)
        if name == "schedule_bulk":
            n = schedule.SMOKE_N if smoke else schedule.N_URLS
            return schedule.run(bench, n, seconds, trace)
        sf = catalog.SMOKE_SF if smoke else catalog.WORKLOAD_SF[name]
        return catalog.run(bench, sf, seconds, trace)
    finally:
        bench.close()


def smoke() -> int:
    """Run every workload at minimal size, untraced and traced, and check
    that each prints every metric BENCHMARK.json names, with its unit."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    listed = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    if listed[0] != metrics.END_TO_END or listed[1] != metrics.PER_LAYER:
        problems.append("BENCHMARK.json metrics differ from perfbench/metrics.py")
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", "1", "--seconds", "0", "--trace", str(trace), "--smoke-size"]
            out = subprocess.run(cmd, capture_output=True, text=True, check=False)
            try:
                res = json.loads(out.stdout.strip().splitlines()[-1])
            except (IndexError, json.JSONDecodeError):
                problems.append(f"{name} trace={trace}: no result (exit {out.returncode})\n"
                                + out.stderr[-2000:])
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != listed[trace]:
                problems.append(f"{name} trace={trace}: metrics differ: "
                                f"{sorted(set(got) ^ set(listed[trace]))}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{name} trace={trace}: {res['failed']} failed")
            harness.log(f"smoke {name} trace={trace}: {len(got)} metrics, "
                        f"{res['attempted']} operations, {res['failed']} failed")
    for p in problems:
        harness.log(p)
    print(json.dumps({"smoke": "ok" if not problems else "failed",
                      "problems": len(problems)}))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="units of work repeat until this much time has passed "
                         "(at least one unit)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--smoke-size", action="store_true",
                    help="run --workload at its minimal size (used by --smoke)")
    ap.add_argument("--record-catalog", action="store_true")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if args.record_catalog:
        catalog.record()
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    attempted, failed, values = run_workload(
        args.workload, args.seed, args.seconds, bool(args.trace), args.smoke_size
    )
    units = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    print(harness.result_line(failed == 0, attempted, failed,
                              metrics.with_units(values, units)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
