"""schedule_bulk: the public ``run_schedule_round`` at a fixed frontier size.

The input is fixed (a pure function of ``n_urls``), so the seed is unused.
The check is the ``scheduled`` count recorded for that ``n_urls``: the
dataflow is deterministic at any parallelism. ``udf_share`` is also what
the traced crawl_compact run reports for this layer."""

from __future__ import annotations

import time

from twitter_crawler_spark.crawl.schedule_bench import run_schedule_round

from perfbench import harness, metrics, tracing
from perfbench.harness import log, median

N_URLS = 500_000
WARM_N = 20_000
SMOKE_N = 20_000
SHARE_N = 100_000  # frontier size of the udf_share runs a traced crawl makes
# scheduled count per n_urls, from run_schedule_round(jvm_only=False)
EXPECTED_SCHEDULED = {500_000: 562626, 100_000: 183112, 20_000: 42814}


def _run(spark, n: int, jvm_only: bool = False) -> tuple[float, int]:
    """One schedule run: (wall, 1 if its count disagrees else 0)."""
    t0 = time.perf_counter()
    res = run_schedule_round(spark, n, jvm_only=jvm_only)
    wall = time.perf_counter() - t0
    if jvm_only or res["scheduled"] == EXPECTED_SCHEDULED.get(n):
        return wall, 0
    log(f"schedule n={n}: scheduled {res['scheduled']}, recorded {EXPECTED_SCHEDULED.get(n)}")
    return wall, 1


def run(bench: harness.Bench, n: int, seconds: float, trace: bool):
    spark = bench.start()
    t0 = time.perf_counter()
    _, bad = _run(spark, min(WARM_N, n))
    warmup_s = time.perf_counter() - t0
    log(f"session start {bench.start_s:.2f}s, warm-up {warmup_s:.2f}s")

    walls: list[float] = []
    t_end = time.perf_counter() + seconds
    while not walls or time.perf_counter() < t_end:
        w, b = _run(spark, n)
        walls.append(w)
        bad += b
    attempted = 1 + len(walls)
    log(f"schedule runs {[round(w, 2) for w in walls]}")
    e2e = {
        "setup_s": bench.start_s + warmup_s,
        "wall_s": median(walls),
        "urls_per_s": n * len(walls) / sum(walls),
        "round_p50_s": median(walls),
    }
    if not trace:
        return attempted, bad, e2e

    tr = tracing.Tracer(spark.sparkContext, bench.path("worker-spans"))
    tracing.install_schedule_layers(tr)
    try:
        _, b = _run(spark, n)
    finally:
        tr.restore()
    share, b2 = udf_share(spark, n, udf_wall=e2e["wall_s"])
    bad += b + b2
    attempted += 1
    layers = metrics.kernel_layers(tr.worker_spans())
    layers.update({
        "session.start_s": bench.start_s,
        "session.warmup_s": warmup_s,
        "session.jvm_peak_rss_mb": bench.jvm_peak_rss_mb(),
        "schedule.udf_share": share,
        "trace.overhead_s": tr.overhead_s(),
    })
    bench.dump_trace(tr)
    return attempted, bad, layers


def udf_share(spark, n: int, udf_wall: float | None = None) -> tuple[float, int]:
    """((UDF wall - JVM-only wall) / UDF wall, failed runs) at ``n`` URLs,
    both walls warm: each variant compiles its own plan on its first run,
    so a variant without a warm ``udf_wall`` is run twice and timed on the
    second run."""
    bad = 0
    if udf_wall is None:
        _, bad = _run(spark, n)
        udf_wall, b = _run(spark, n)
        bad += b
    _run(spark, n, jvm_only=True)
    jvm_wall, _ = _run(spark, n, jvm_only=True)
    return (udf_wall - jvm_wall) / udf_wall, bad
