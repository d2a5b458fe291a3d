"""Catalog workloads: one closed-loop pass over 14 ``__spark_entry__`` queries.

The input is fixed, so the seed is unused: the repo's test tables (TPC-H-like
orders, an event stream, a text corpus and embeddings), copied byte for byte
into ``perfbench/data/`` so that a run reads only its checkout.
``catalog_queries`` runs on sf0.01 and ``catalog_full`` on sf0.1, the input
``bench.py`` uses; the sf0.001 tables serve the warm-up and the smoke run. Each
query's result is collected inside the timed part and compared, after it,
with the result its DuckDB ``oracle_sql()`` twin gave on the same tables.
Those oracle results are recorded under ``expected/catalog/<sf>/`` by
``run.py --record-catalog``: some twins take minutes in DuckDB, far longer
than a run may."""

from __future__ import annotations

import json
import os
import time

import pandas as pd
import pyarrow.parquet as pq

import __spark_entry__ as entry
from perfbench import harness, metrics, tracing
from perfbench.harness import log, median

DATA_DIR = os.path.join(harness.ROOT, "perfbench", "data")
EXPECTED_DIR = os.path.join(harness.ROOT, "perfbench", "expected", "catalog")
SMOKE_SF = "sf0.001"
SCALES = (SMOKE_SF, "sf0.01", "sf0.1")
WORKLOAD_SF = {"catalog_queries": "sf0.01", "catalog_full": "sf0.1"}

# tables each query reads (input rows per second is this workload's
# throughput; it has no URLs)
QUERY_TABLES = {
    "tpch_q1": ("lineitem",),
    "tpch_q3": ("lineitem", "orders", "customer"),
    "host_budget_rank": ("orders", "customer"),
    "opic_gains": ("lineitem", "orders"),
    "two_hop_pairs": ("lineitem",),
    "gap_entropy": ("events",),
    "ann_bruteforce_topk": ("embeddings",),
}


def input_digest(sf_dir: str) -> str:
    """Digest of the input tables' bytes."""
    return harness.digest(*((name, harness.file_bytes(os.path.join(sf_dir, name)))
                            for name in sorted(os.listdir(sf_dir))))


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.round(6) if len(df) else df
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def same_result(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal under the repo's correctness-gate rules
    (scripts/validate_entry.py), else the reason."""
    a, b = _norm(got), _norm(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    drift = [c for c in a.columns if {a[c].dtype.kind, b[c].dtype.kind} == {"i", "f"}]
    if drift:
        return f"int-vs-float drift in {drift}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False,
                                      rtol=0, atol=1e-9)
    except AssertionError as e:
        return str(e).splitlines()[0] if str(e) else "values differ"
    return None


def record(sfs=SCALES) -> None:
    """Run every query's DuckDB twin on each input and store the results."""
    import duckdb

    oracle = entry.oracle_sql()
    for sf in sfs:
        src, out = os.path.join(DATA_DIR, sf), os.path.join(EXPECTED_DIR, sf)
        con = duckdb.connect()
        for f in sorted(os.listdir(src)):
            t = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}/{f}')")
        os.makedirs(out, exist_ok=True)
        for q in metrics.CATALOG_QUERIES:
            t0 = time.perf_counter()
            df = con.execute(oracle[q]).fetchdf()
            df.to_parquet(os.path.join(out, f"{q}.parquet"), index=False)
            log(f"recorded {sf} {q}: {len(df)} rows in {time.perf_counter() - t0:.1f}s")
        con.close()
        with open(os.path.join(out, "input.json"), "w") as f:
            json.dump({"digest": input_digest(src)}, f, indent=1)


def _pass(spark, sf: str, tracer: tracing.Tracer | None = None) -> dict:
    """One pass: query → (wall, jobs, rows read, result frame)."""
    qs = entry.queries()
    jobs = tracing.JobCounter(spark.sparkContext)
    rows_in = _table_rows(sf)
    out = {}
    for q in metrics.CATALOG_QUERIES:
        j0 = jobs.last_job()
        t0 = time.perf_counter()
        if tracer is not None:
            with tracer.span(f"ops.{q}"):
                df = qs[q](spark, sf).toPandas()
        else:
            df = qs[q](spark, sf).toPandas()
        wall = time.perf_counter() - t0
        n_in = sum(rows_in[t] for t in QUERY_TABLES.get(q, ("documents",)))
        out[q] = (wall, jobs.last_job() - j0, n_in, df)
    return out


def _table_rows(sf: str) -> dict:
    return {f.removesuffix(".parquet"): pq.ParquetFile(os.path.join(sf, f)).metadata.num_rows
            for f in os.listdir(sf)}


def _expected(sf: str) -> dict | None:
    """Recorded oracle results per query, or None when the input is not
    the one they were recorded on."""
    want = os.path.join(EXPECTED_DIR, sf)
    with open(os.path.join(want, "input.json")) as f:
        if json.load(f)["digest"] != input_digest(os.path.join(DATA_DIR, sf)):
            log(f"{sf} input differs from the one the oracle results were recorded on")
            return None
    return {q: pd.read_parquet(os.path.join(want, f"{q}.parquet"))
            for q in metrics.CATALOG_QUERIES}


def _check(res: dict, expected: dict | None) -> int:
    """Failed queries of one pass against the recorded oracle results."""
    if expected is None:
        return len(res)
    failed = 0
    for q, (_w, _j, _n, df) in res.items():
        why = same_result(df, expected[q])
        if why:
            failed += 1
            log(f"{q} disagrees with its DuckDB twin: {why}")
    return failed


def run(bench: harness.Bench, sf_name: str, seconds: float, trace: bool):
    """Warm-up pays the session-wide first-query costs (first job, parquet
    reader, code generator) on sf0.001; each query's own plan compilation
    stays in its time, as for a user who runs it once. Warming every query
    up on sf0.001 costs 40 s and leaves an sf0.1 pass as slow."""
    sf = os.path.join(DATA_DIR, sf_name)
    warm_sf = os.path.join(DATA_DIR, SMOKE_SF)
    expected = _expected(sf_name)
    spark = bench.start()
    t0 = time.perf_counter()
    entry.queries()["tpch_q1"](spark, warm_sf).toPandas()
    warmup_s = time.perf_counter() - t0
    log(f"session start {bench.start_s:.2f}s, warm-up {warmup_s:.2f}s")
    if trace:
        return _traced(bench, sf, expected, warmup_s)

    passes = []
    failed = 0
    t_end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < t_end:
        res = _pass(spark, sf)
        log("pass: " + " ".join(f"{q}={w:.2f}s/{j}j" for q, (w, j, _n, _d) in res.items()))
        failed += _check(res, expected)
        passes.append(res)
    walls = [sum(w for w, _j, _n, _d in p.values()) for p in passes]
    e2e = {
        "setup_s": bench.start_s + warmup_s,
        "wall_s": median(walls),
        "urls_per_s": sum(n for p in passes for _w, _j, n, _d in p.values()) / sum(walls),
        # a catalog "round" is a pass; each query's wall is a per-layer metric
        "round_p50_s": median(walls),
    }
    return len(passes) * len(metrics.CATALOG_QUERIES), failed, e2e


def _traced(bench: harness.Bench, sf: str, expected: dict | None, warmup_s: float):
    """Per-layer figures come from one traced pass, made as an untraced
    run's timed pass is."""
    tr = tracing.Tracer(bench.spark.sparkContext, bench.path("worker-spans"))
    res = _pass(bench.spark, sf, tracer=tr)
    layers = {
        "session.start_s": bench.start_s,
        "session.warmup_s": warmup_s,
        "session.jvm_peak_rss_mb": bench.jvm_peak_rss_mb(),
        "trace.overhead_s": tr.overhead_s(),
    }
    for q, (w, j, _n, _d) in res.items():
        layers[f"ops.{q}_s"] = w
        layers[f"ops.{q}_jobs"] = j
    bench.dump_trace(tr)
    return len(res), _check(res, expected), layers
