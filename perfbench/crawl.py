"""Crawl workloads: a closed loop of crawl rounds from one driver process.

Each unit is a fresh state dir. Set-up is ``CrawlEngine(...)`` +
``init_state`` and round 0, which pays the cold start; the timed part is
rounds 1..R, ``CrawlEngine.run(max_rounds=r + 1)`` stepped one round per
call. After it, every round's counters and crawl-order digest are checked
against ``FrontierOracle`` on the same fixture and config; a round that
disagrees is a failed operation.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import statistics
import time

from twitter_crawler_spark.config import CrawlConfig
from twitter_crawler_spark.crawl.engine import CrawlEngine
from twitter_crawler_spark.fixtures import webgen
from twitter_crawler_spark.oracle.frontier_oracle import FrontierOracle

from perfbench import harness, metrics, schedule, tracing
from perfbench.harness import log, median

COUNTERS = ("fetched", "new_urls", "dupes", "robots_blocked", "evicted")


@dataclasses.dataclass(frozen=True)
class Shape:
    fixture: dict  # generate_web keyword arguments, seed included
    cfg: CrawlConfig
    rounds: int  # timed rounds, after round 0 (which is part of set-up)
    share_n: int = schedule.SHARE_N  # frontier URLs of the traced udf_share runs


# The 11-attempt revisit schedule of scripts/long_crawl_stats.py keeps URLs
# flowing through the frontier. Compaction runs every second round and a
# second generation triggers a major merge, so round 0 (set-up) and rounds 2
# and 4 take the ordinary path that appends the frontier and hosts sidecar
# logs, round 1 makes a minor merge and round 3 a major one. Four timed
# rounds are as many as the benchmark's run-time budget allows (README.md,
# "Run time"); round_p50_s is their upper median, the faster merge round, so
# one slow round, merge or ordinary, does not move it. The bloom shards start
# at 64 bits and are rebuilt only past load 1.0, to half that load, so bloom
# false positives stay common and the cuckoo tier and the exact tier both
# have work. Cuckoo shards are rebuilt up to 95% full, so later inserts
# overflow them and rebuilds keep happening after round 0.
_COMPACT_CFG = CrawlConfig(
    intervals=tuple(3600 * k for k in range(11)),
    max_attempts=11,
    evict_unproductive=False,
    seen_partitions=8,
    pages_buckets=8,
    host_salt=4,
    compact_every=2,
    max_log_gens=1,
    bloom_bits_per_partition=64,
    bloom_max_load=1.0,
    cuckoo_buckets_per_partition=16,
    cuckoo_target_load=0.95,
)

# Fixtures are fixed, not drawn from --seed: at sizes a run can afford, the
# crawl work of rounds 1-2 differs between generated webs by an IQR of
# 27-57% of its median (seeds 1-6, three fixture shapes), which would swamp
# any change in speed.
SHAPES = {
    "crawl_compact": Shape(
        fixture=dict(seed=42, n_pages=3000, n_hosts=40, n_seeds=600, span_rounds=6,
                     mean_outdeg=10, pages_buckets=8),
        cfg=_COMPACT_CFG,
        rounds=4,
    ),
    # the bench.py fixture shape and the default config
    "crawl_steady": Shape(
        fixture=dict(seed=42, n_pages=8000, n_hosts=200, n_seeds=400, span_rounds=6,
                     mean_outdeg=10),
        cfg=CrawlConfig(),
        rounds=5,
    ),
}


def smoke_shape(shape: Shape) -> Shape:
    fx = dict(shape.fixture, n_pages=300, n_hosts=12, n_seeds=20)
    return dataclasses.replace(shape, fixture=fx, rounds=1, share_n=schedule.SMOKE_N)


def _fixture(shape: Shape) -> str:
    key = harness.digest(sorted(shape.fixture.items()), harness.file_bytes(webgen.__file__))
    return harness.cached_dir("webfx", key, lambda d: webgen.generate_web(d, **shape.fixture))


def _order_digests(rows) -> dict[int, str]:
    """Per-round sha256 of the crawl order (round, seq, url, host, depth,
    score, attempt), rows already sorted by (round, seq)."""
    per: dict[int, list] = {}
    for row in rows:
        per.setdefault(row[0], []).append(list(row))
    return {r: hashlib.sha256(json.dumps(v).encode()).hexdigest() for r, v in per.items()}


def _oracle(fx: str, shape: Shape) -> dict:
    """Per-round oracle counters and crawl-order digests, cached with the
    fixture."""
    path = os.path.join(fx, f"oracle-{harness.digest(shape.cfg, shape.rounds)}.json")
    if not os.path.exists(path):
        res = FrontierOracle(fx, shape.cfg).run(max_rounds=shape.rounds + 1)
        order = _order_digests(
            (c["round"], c["seq"], c["url"], c["host"], c["depth"], c["score"], c["attempt"])
            for c in res.crawl_order
        )
        out = {str(m["round"]): {**{k: m[k] for k in COUNTERS}, "order": order.get(m["round"])}
               for m in res.metrics}
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, path)
    with open(path) as f:
        return {int(k): v for k, v in json.load(f).items()}


def _engine_rounds(eng: CrawlEngine) -> dict[int, dict]:
    """Per-round counters (round_metrics, partition -1) and crawl-order
    digests of a finished crawl."""
    cols = ("round",) + COUNTERS + ("hits", "bloom_negative", "cuckoo_rejected")
    out = {
        int(r["round"]): {c: int(r[c]) for c in cols[1:]}
        for r in eng.round_metrics().where("partition_id = -1").select(*cols).collect()
    }
    log_rows = (
        eng.crawl_log().orderBy("round", "seq")
        .select("round", "seq", "url", "host", "depth", "score", "attempt").collect()
    )
    for r, d in _order_digests(tuple(row) for row in log_rows).items():
        out.setdefault(r, {})["order"] = d
    return out


class CrawlUnit:
    """One crawl: set-up, timed rounds, oracle check."""

    def __init__(self, bench: harness.Bench, fx: str, shape: Shape,
                 tracer: tracing.Tracer | None = None):
        self.bench, self.fx, self.shape, self.tracer = bench, fx, shape, tracer
        self.jobs = tracing.JobCounter(bench.spark.sparkContext)

    def set_up(self) -> tuple[CrawlEngine, float, float]:
        """``CrawlEngine(...)`` + ``init_state``, then round 0, which pays
        the process's cold start (Python workers, code generation) and the
        frontier's first fill. Returns (engine, init_s, round0_s)."""
        state = self.bench.path("state")
        t0 = time.perf_counter()
        eng = CrawlEngine(self.bench.spark, self.fx, state, self.shape.cfg)
        eng.init_state()
        t1 = time.perf_counter()
        eng.run(max_rounds=1)
        return eng, t1 - t0, time.perf_counter() - t1

    def crawl(self, eng: CrawlEngine) -> dict:
        """The timed part: rounds 1..rounds, one ``run`` call each."""
        walls, jobs = [], []
        tr = self.tracer
        for r in range(1, self.shape.rounds + 1):
            j0 = self.jobs.last_job()
            if tr is not None:
                tr.round = r
                with tr.span("engine.round", jobs=True) as rec:
                    eng.run(max_rounds=r + 1)
                tr.round = None
                walls.append(rec["end"] - rec["start"])
            else:
                t0 = time.perf_counter()
                eng.run(max_rounds=r + 1)
                walls.append(time.perf_counter() - t0)
            j1 = self.jobs.last_job()
            jobs.append(j1 - j0)
            if tr is not None:
                rec["tasks"] = self.jobs.tasks(j0, j1)
        return {"walls": walls, "jobs": jobs}

    def check(self, eng: CrawlEngine, oracle: dict) -> tuple[int, int, dict]:
        """(attempted, failed, totals): every round, round 0 included, is an
        operation checked against the oracle; totals cover the timed rounds."""
        got = _engine_rounds(eng)
        failed = 0
        totals = dict.fromkeys(COUNTERS + ("hits", "bloom_negative", "cuckoo_rejected"), 0)
        for r in range(self.shape.rounds + 1):
            g, want = got.get(r, {}), oracle.get(r)
            ok = want is not None and all(g.get(k) == want[k] for k in COUNTERS + ("order",))
            if not ok:
                failed += 1
                log(f"round {r} disagrees with the oracle: engine {g} oracle {want}")
            if r > 0:
                for k in totals:
                    totals[k] += g.get(k, 0)
        all_rounds = {k: sum(g.get(k, 0) for g in got.values()) for k in COUNTERS}
        log(f"counters over rounds 0..{self.shape.rounds}: {all_rounds}")
        return self.shape.rounds + 1, failed, totals


def run(bench: harness.Bench, shape: Shape, seconds: float, trace: bool):
    fx = _fixture(shape)
    oracle = _oracle(fx, shape)
    bench.start()
    if trace:
        return _traced(bench, fx, shape, oracle)
    unit = CrawlUnit(bench, fx, shape)

    attempted = failed = 0
    results, inits, warms = [], [], []
    t_end = time.perf_counter() + seconds
    while not results or time.perf_counter() < t_end:
        eng, init_s, round0_s = unit.set_up()
        inits.append(init_s)
        warms.append(round0_s)
        res = unit.crawl(eng)
        a, f, totals = unit.check(eng, oracle)
        attempted, failed = attempted + a, failed + f
        res["work"] = totals["new_urls"] + totals["dupes"] + totals["robots_blocked"]
        results.append(res)
        log(f"session start {bench.start_s:.2f}s, init {init_s:.2f}s, round 0 "
            f"{round0_s:.2f}s, timed rounds {[round(w, 2) for w in res['walls']]} "
            f"jobs {res['jobs']} totals {totals}")

    walls = [sum(r["walls"]) for r in results]
    log(f"round_p50_s over {sum(len(r['walls']) for r in results)} rounds, "
        f"setup_s over {len(inits)} set-ups")
    return attempted, failed, {
        "setup_s": bench.start_s + median([i + w for i, w in zip(inits, warms)]),
        "wall_s": median(walls),
        "urls_per_s": sum(r["work"] for r in results) / sum(walls),
        "round_p50_s": statistics.median_high([w for r in results for w in r["walls"]]),
    }


def _traced(bench: harness.Bench, fx: str, shape: Shape, oracle: dict):
    """One traced unit, made as an untraced run's first unit is."""
    spark = bench.spark
    tr = tracing.Tracer(spark.sparkContext, bench.path("worker-spans"))
    tracing.install_crawl_layers(tr)
    try:
        traced = CrawlUnit(bench, fx, shape, tracer=tr)
        eng, _, round0_s = traced.set_up()
        res = traced.crawl(eng)
    finally:
        tr.restore()
    attempted, failed, totals = traced.check(eng, oracle)
    log(f"traced rounds {[round(w, 2) for w in res['walls']]} jobs {res['jobs']}")
    layers = metrics.crawl_layers(tr.spans, tr.worker_spans(), totals, eng.store.root)
    # the scheduling dataflow's Python-crossing share, measured here because
    # schedule_bulk is not one of the benchmark's listed workloads
    share, f = schedule.udf_share(spark, shape.share_n)
    layers.update({
        "schedule.udf_share": share,
        "session.start_s": bench.start_s,
        "session.warmup_s": round0_s,
        "session.jvm_peak_rss_mb": bench.jvm_peak_rss_mb(),
        "trace.overhead_s": tr.overhead_s(),
    })
    bench.dump_trace(tr)
    return attempted + 2, failed + f, layers
