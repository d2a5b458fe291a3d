"""Metric names and units, and the per-layer figures derived from spans.

Every traced run emits every per-layer metric. A layer that a workload does
not reach reports 0: it did no work there (README.md lists, per layer, the
workloads it should move on and those where it should read flat)."""

from __future__ import annotations

import os

from twitter_crawler_spark.crawl.state import LOG_TABLES, STATE_TABLES

from perfbench.harness import median

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "urls_per_s": "1/s",
    "round_p50_s": "s",
}

CATALOG_QUERIES = (
    "tpch_q1", "tpch_q3", "host_budget_rank", "opic_gains", "two_hop_pairs",
    "gap_entropy", "dedup_minhash_lsh", "doc_fingerprint", "ann_bruteforce_topk",
    "lm_perplexity", "dedup_ngram_jaccard", "decontaminate", "span_dedup", "bm25_topk",
)

STATE_WRITE_TABLES = STATE_TABLES + LOG_TABLES

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "engine.init_state_s": "s",
    "engine.init_state_jobs": "count",
    "engine.jobs_per_round": "count",
    "engine.tasks_per_round": "count",
    "engine.pre_write_s": "s",
    "engine.pre_write_jobs": "count",
    "state.write_busy_s": "s",
    "state.write_wall_s": "s",
    "state.write_calls": "count",
    **{f"state.write_s.{t}": "s" for t in STATE_WRITE_TABLES},
    "state.gen_write_s": "s",
    "state.read_s": "s",
    "state.read_calls": "count",
    "state.commit_s": "s",
    "state.gc_s": "s",
    "state.files_end": "count",
    "state.bytes_end": "bytes",
    "seen.bloom_negative": "count",
    "seen.cuckoo_rejected": "count",
    "seen.exact_rows": "count",
    "seen.prune_ratio": "ratio",
    "seen.exact_new_ratio": "ratio",
    "seen.rebuilds": "count",
    "seen.check_rows_per_s": "rows/s",
    "seen.update_rows_per_s": "rows/s",
    "seen.shard_load_s": "s",
    "fetch.fetched": "count",
    "fetch.hit_ratio": "ratio",
    "html.pages_per_s": "pages/s",
    "urls.canonicalize_rows_per_s": "rows/s",
    "hashing.murmur3_rows_per_s": "rows/s",
    "schedule.udf_share": "ratio",
    **{f"ops.{q}_s": "s" for q in CATALOG_QUERIES},
    **{f"ops.{q}_jobs": "count" for q in CATALOG_QUERIES},
    "trace.overhead_s": "s",
}


def with_units(values: dict, units: dict) -> dict:
    """name → (value, unit) for every name in ``units``; absent values are 0."""
    return {k: (float(values.get(k, 0.0)), u) for k, u in units.items()}


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _rate(spans: list[dict], names: tuple[str, ...], rows_of: str) -> float:
    """Rows of the ``rows_of`` spans per second busy in all ``names`` spans
    (summed over workers, so it is a per-worker rate)."""
    busy = sum(_dur(s) for s in spans if s["name"] in names)
    rows = sum(s["rows"] for s in spans if s["name"] == rows_of)
    return rows / busy if busy > 0 else 0.0


def kernel_layers(worker: list[dict]) -> dict:
    return {
        "html.pages_per_s": _rate(worker, ("html.decode_html", "html.extract_links"),
                                  "html.extract_links"),
        "urls.canonicalize_rows_per_s": _rate(worker, ("urls.canonicalize",),
                                              "urls.canonicalize"),
        "hashing.murmur3_rows_per_s": _rate(worker, ("hashing.murmur3_64",),
                                            "hashing.murmur3_64"),
    }


def crawl_layers(spans: list[dict], worker: list[dict], totals: dict,
                 state_dir: str) -> dict:
    """Per-layer figures of one traced crawl. ``totals``: engine counters
    summed over the timed rounds (round_metrics, partition -1)."""
    rounds = [s for s in spans if s["name"] == "engine.round"]
    in_rounds = [s for s in spans if s["round"] is not None and s["name"] != "engine.round"]
    t_lo = min(s["start"] for s in rounds)
    t_hi = max(s["end"] for s in rounds)
    worker = [s for s in worker if t_lo <= s["start"] <= t_hi]
    out: dict = {}

    inits = [s for s in spans if s["name"] == "engine.init_state"]
    out["engine.init_state_s"] = median([_dur(s) for s in inits])
    out["engine.init_state_jobs"] = median([s["job1"] - s["job0"] for s in inits])
    out["engine.jobs_per_round"] = median([s["job1"] - s["job0"] for s in rounds])
    out["engine.tasks_per_round"] = median([s["tasks"] for s in rounds])
    pre_s, pre_jobs = [], []
    for rd in rounds:
        writes = [s for s in in_rounds
                  if s["round"] == rd["round"] and s["name"] == "state.write_round"]
        if writes:
            first = min(writes, key=lambda s: s["start"])
            pre_s.append(first["start"] - rd["start"])
            pre_jobs.append(first["job0"] - rd["job0"])
    out["engine.pre_write_s"] = median(pre_s)
    out["engine.pre_write_jobs"] = median(pre_jobs)

    writes = [s for s in in_rounds if s["name"] in ("state.write_round", "state.write_gen")]
    out["state.write_busy_s"] = sum(_dur(s) for s in writes)
    out["state.write_wall_s"] = _union((s["start"], s["end"]) for s in writes)
    out["state.write_calls"] = len(writes)
    for s in writes:
        if s["name"] == "state.write_round":
            key = f"state.write_s.{s['table']}"
            out[key] = out.get(key, 0.0) + _dur(s)
    out["state.gen_write_s"] = sum(_dur(s) for s in writes if s["name"] == "state.write_gen")
    by_id = {s["id"]: s for s in spans}
    reads = [s for s in in_rounds if s["name"] in ("state.read_log", "state.read_rounds")
             and not by_id.get(s["parent"], {}).get("name", "").startswith("state.read")]
    out["state.read_s"] = sum(_dur(s) for s in reads)
    out["state.read_calls"] = len(reads)
    out["state.commit_s"] = sum(_dur(s) for s in in_rounds if s["name"] == "state.commit")
    out["state.gc_s"] = sum(_dur(s) for s in in_rounds if s["name"].startswith("state.gc_"))
    files = size = 0
    for root, _dirs, names in os.walk(state_dir):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    out["state.files_end"] = files
    out["state.bytes_end"] = size

    allowed = totals["new_urls"] + totals["dupes"]
    fast = totals["bloom_negative"] + totals["cuckoo_rejected"]
    exact = allowed - fast
    out["seen.bloom_negative"] = totals["bloom_negative"]
    out["seen.cuckoo_rejected"] = totals["cuckoo_rejected"]
    out["seen.exact_rows"] = exact
    out["seen.prune_ratio"] = fast / allowed if allowed else 0.0
    out["seen.exact_new_ratio"] = (totals["new_urls"] - fast) / exact if exact else 0.0
    out["seen.rebuilds"] = sum(s.get("buckets", 0) for s in in_rounds
                               if s["name"] == "seen.rebuild.factory")
    out["seen.check_rows_per_s"] = _rate(worker, ("seen.check",), "seen.check")
    out["seen.update_rows_per_s"] = _rate(worker, ("seen.update",), "seen.update")
    out["seen.shard_load_s"] = sum(_dur(s) for s in worker if s["name"] == "seen.shard_load")
    out["fetch.fetched"] = totals["fetched"]
    out["fetch.hit_ratio"] = totals["hits"] / totals["fetched"] if totals["fetched"] else 0.0
    out.update(kernel_layers(worker))
    return out
