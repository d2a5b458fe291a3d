"""Frontier write-amplification receipt (VERDICT r3 items 2 & 8).

The merge-on-read frontier claims: a round writes O(batch) frontier bytes
(ins/del/gains sidecars), not O(frontier) (the legacy full rewrite). This
script measures it directly: the SAME bench crawl runs in

* ``full`` mode — ``compact_every=1``: every round folds the sidecars into a
  fresh banded base, i.e. the legacy full-rewrite-per-round write pattern;
* ``delta`` mode — ``compact_every=0``: pure sidecar appends, no compaction
  (the steady-state write path between compactions).

Each child counts the bytes of every ``frontier*`` table write at write time
(before any GC), per round, plus wall; ``hosts*`` writes are counted the same
way (the hosts table got the identical merge-on-read treatment in round 4). The ratio delta/full is the
write-amplification saving; at the 10^10-URL design point the full rewrite
is ~1 TB/round for a 0.001% delta, so the ratio is the whole story.

Usage: python scripts/frontier_write_stats.py [pages] [rounds] [cores]
Defaults: 8000 6 32. Appends ``frontier_write_stats`` to BENCH_SCALING.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, shutil, sys, time
sys.path.insert(0, {repo!r})
from twitter_crawler_spark.config import CrawlConfig
from twitter_crawler_spark.crawl.engine import CrawlEngine
from twitter_crawler_spark.crawl.state import SnapshotStore
from twitter_crawler_spark.session import get_spark

cores = int(sys.argv[1]); fx = sys.argv[2]; rounds = int(sys.argv[3])
compact_every = int(sys.argv[4])

def du(path):
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total

frontier_bytes = {{}}  # round -> bytes written to frontier* tables
hosts_bytes = {{}}     # round -> bytes written to hosts* tables

_orig_round = SnapshotStore.write_round
_orig_gen = SnapshotStore.write_gen

def _count(table, round_, path):
    if table.startswith("frontier"):
        frontier_bytes[round_] = frontier_bytes.get(round_, 0) + du(path)
    elif table.startswith("hosts"):
        hosts_bytes[round_] = hosts_bytes.get(round_, 0) + du(path)

def write_round(self, df, table, round_):
    p = _orig_round(self, df, table, round_)
    _count(table, round_, p)
    return p

def write_gen(self, df, table, round_):
    p = _orig_gen(self, df, table, round_)
    if p is not None:
        _count(table, round_, p)
    return p

SnapshotStore.write_round = write_round
SnapshotStore.write_gen = write_gen

state = f"/tmp/tcs_fws_state_{{os.getpid()}}"
shutil.rmtree(state, ignore_errors=True)
spark = get_spark(app_name=f"tcs-fws", cores=cores,
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})
eng = CrawlEngine(spark, fx, state,
                  CrawlConfig(max_rounds=rounds, compact_every=compact_every))
t0 = time.time(); eng.run(); wall = time.time() - t0
live = eng.frontier_live().count()
shutil.rmtree(state, ignore_errors=True)
per_round = [frontier_bytes.get(k, 0) for k in range(-1, rounds)]
h_per_round = [hosts_bytes.get(k, 0) for k in range(-1, rounds)]
print(json.dumps({{
    "wall_s": round(wall, 2),
    "frontier_rows_live": live,
    "frontier_bytes_per_round": per_round,
    "frontier_bytes_total": sum(per_round),
    "steady_rounds_bytes": sum(per_round[2:]),  # skip init + round 0 warm-up
    "hosts_bytes_per_round": h_per_round,
    "hosts_steady_rounds_bytes": sum(h_per_round[2:]),
}}))
"""


def run(cores: int, fx: str, rounds: int, compact_every: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", CHILD.format(repo=REPO),
         str(cores), fx, str(rounds), str(compact_every)],
        capture_output=True, text=True, timeout=4000,
    )
    if out.returncode != 0:
        raise RuntimeError(out.stderr[-2000:])
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    pages = int(sys.argv[1]) if len(sys.argv) > 1 else 8000
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    cores = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    sys.path.insert(0, REPO)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from crawl_amortization import fixture

    fx = fixture(pages)
    full = run(cores, fx, rounds, compact_every=1)
    delta = run(cores, fx, rounds, compact_every=0)
    ratio = (
        delta["steady_rounds_bytes"] / full["steady_rounds_bytes"]
        if full["steady_rounds_bytes"] else None
    )
    h_ratio = (
        delta["hosts_steady_rounds_bytes"] / full["hosts_steady_rounds_bytes"]
        if full.get("hosts_steady_rounds_bytes") else None
    )
    section = {
        "pages": pages, "rounds": rounds, "cores": cores,
        "full_rewrite_per_round": full,
        "merge_on_read_delta": delta,
        "steady_delta_over_full_bytes": round(ratio, 4) if ratio else None,
        "hosts_steady_delta_over_full_bytes": round(h_ratio, 4) if h_ratio else None,
    }
    print(json.dumps(section))
    path = os.path.join(REPO, "BENCH_SCALING.json")
    data = json.load(open(path)) if os.path.exists(path) else {}
    data[f"frontier_write_stats_{pages}"] = section
    with open(path, "w") as f:
        json.dump(data, f, indent=2)


if __name__ == "__main__":
    main()
