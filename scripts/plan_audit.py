"""Physical-plan audit → PLANS.md.

Captures ``explain("formatted")`` for EVERY catalog query plus the crawl
engine's performance-critical dataflows, and asserts the physical properties
the 100 TB design depends on:

* universal bans on every catalog query — no ``BatchEvalPython`` (row-at-
  a-time Python), no ``CartesianProduct``, no unpartitioned window (a global
  single-partition ``Window.orderBy`` is the 10^10-row scale killer) — with
  per-query declared exceptions where a property is intentional (listed with
  justification in ``EXCEPTIONS``);
* per-query required properties (``WANTS``): parquet scans show
  PushedFilters / pruned ReadSchema, small-side joins broadcast, windows
  partitioned;
* the corpus dedup/hash tier contains NO Python plan node of any kind
  (``ArrowEval``/``MapInPandas`` additionally banned — pure JVM HOFs);
* the crawl fetch join broadcasts the popped batch over the pages scan,
  with the language filter pushed to it; neither the pop dataflow nor the
  crawl_log() view that derives the pop order has an unpartitioned window;
  the exact dedup tier anti-joins the whole ``url_seen`` view, and neither
  scan carries a bucket IN-list (a round's batch fills every bucket);
* the extract → candidates dataflow crosses into Python once before the
  bloom check: exactly one ``MapInPandas`` and no ``ArrowEvalPython`` in
  the plan a round runs (a cached relation's plan, which runs once per
  engine, is left out of the count);
* the live frontier's due scan reads the base and the later rounds'
  inserts as ONE ``frontier`` scan pruned to due bands, with no union;
* the live frontier right after a merge round, whose sidecar logs hold no
  round, is the bare base scan: the empty reads drop out of the plan.

Run: python scripts/plan_audit.py  (writes PLANS.md at repo root)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from twitter_crawler_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

# an unpartitioned windowspecdefinition starts directly with a sort-ordered
# expression instead of a partition list
UNPARTITIONED_WINDOW = r"windowspecdefinition\([^,)]+ (ASC|DESC)"
UNIVERSAL_BANS = ["BatchEvalPython", "CartesianProduct", UNPARTITIONED_WINDOW]
# a parquet scan of the frontier table (its detail block's file index)
_FRONTIER_SCAN = r"Location: [^\n]*/frontier/r="
# a bucket IN-list filter, which only the capacity rebuild's scan carries
_BUCKET_IN_LIST = r"bucket#\d+ IN \("

# per-query REQUIRED physical properties
WANTS: dict[str, list[str]] = {
    "tpch_q1": ["PushedFilters"],
    "tpch_q3": ["BroadcastHashJoin"],
    "host_budget_rank": ["BroadcastHashJoin", "Window"],
    "url_features": ["Window"],
    "anti_join_new": ["LeftAnti", "Broadcast"],
    "ts_range_join": ["PushedFilters"],
    # the tiny benchmark gram set must broadcast into the corpus-side explode
    "decontaminate": ["BroadcastHashJoin"],
    # packing's running sum must be a (shard-)partitioned window
    "sequence_pack": ["Window"],
    # the trigram "model" tables are alphabet-bounded → must broadcast
    "lm_perplexity": ["BroadcastHashJoin"],
}

# the corpus hashing/dedup tier must be pure JVM — ban every Python node
_JVM_ONLY = ["Python", "Arrow"]
JVM_ONLY_QUERIES = [
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash_pairs",
    "dedup_ngram_jaccard", "dedup_embedding_nn", "simhash_signatures",
    "doc_fingerprint", "lang_id", "quality_score", "token_count",
    "token_edges", "multimodal_meta", "ann_lsh_bucketed",
    "repetition_stats", "decontaminate", "sequence_pack",
    "lm_perplexity", "lsh_bucket_stats", "span_dedup", "bm25_topk",
]

# universal-ban exceptions, each with its reason (rendered into PLANS.md)
EXCEPTIONS: dict[str, dict[str, str]] = {
    "ann_bruteforce_topk": {
        "CartesianProduct": "by design: the exact-recall baseline scores every"
        " (query, corpus) pair — the scale path is ann_lsh_bucketed, which is"
        " audited with the ban",
    },
}


def _fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _round_tree(plan: str) -> str:
    """The node tree of a formatted plan without the subtrees under an
    ``InMemoryRelation`` (a cached plan runs when the cache fills, not each
    time the plan runs), followed by the detail blocks of the nodes kept
    (``(N) Exchange`` … ``Arguments: hashpartitioning(...)``)."""
    tree, details = plan.split("\n\n", 1) if "\n\n" in plan else (plan, "")
    out, cut, kept = [], None, set()
    for line in tree.splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        if cut is not None and depth > cut:
            continue
        cut = depth if "InMemoryRelation" in line else None
        out.append(line)
        kept.update(re.findall(r"\((\d+)\)\s*$", line))
    for block in details.split("\n\n"):
        m = re.match(r"\s*\((\d+)\) ", block)
        if m and m.group(1) in kept:
            out.append(block.strip())
    return "\n".join(out)


def main() -> None:
    import __spark_entry__ as entrymod
    from twitter_crawler_spark.config import CrawlConfig

    spark = get_spark(cores=8, shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    qs = entrymod.queries()
    # (name, plan, wants, bans, waived: {pattern: reason}); a section may
    # also pin how many nodes match a pattern in its plans' round trees
    sections: list[tuple[str, str, list[str], list[str], dict[str, str]]] = []
    counts: dict[str, dict[str, int]] = {}

    # 1. every catalog query: universal bans + declared wants/extras
    for name in sorted(qs):
        plan = _fmt(qs[name](spark, SF))
        waived = EXCEPTIONS.get(name, {})
        bans = [b for b in UNIVERSAL_BANS if b not in waived]
        if name in JVM_ONLY_QUERIES:
            bans = bans + _JVM_ONLY
        sections.append((name, plan, WANTS.get(name, []), bans, waived))

    # 2. the crawl fetch join (broadcast of the batch over the pages scan,
    # the default config's language filter pushed to it): the REAL engine
    # method
    from twitter_crawler_spark.crawl.engine import CrawlEngine
    from twitter_crawler_spark.fixtures.webgen import generate_web

    fx = "/tmp/tcs_audit_fx"
    if not os.path.exists(os.path.join(fx, "meta.json")):
        generate_web(fx, seed=11, n_pages=500, n_hosts=10, n_seeds=5, span_rounds=3)
    import shutil

    shutil.rmtree("/tmp/tcs_audit_state", ignore_errors=True)
    eng = CrawlEngine(spark, fx, "/tmp/tcs_audit_state", CrawlConfig(max_rounds=1))
    snap = eng.init_state()
    from pyspark.sql import functions as F

    frontier = eng._frontier_live(snap)
    sections.append((
        "crawl_fetch_join", _fmt(eng._fetch(frontier.limit(5), 3600)),
        ["BroadcastHashJoin", r"PushedFilters: \[[^\]]*EqualTo\(lang,ru\)"],
        [_BUCKET_IN_LIST], {},
    ))

    # 3. the crawl order: every window MUST be partitioned, both in the pop
    # (the REAL engine method and host view; no round has run, so the view
    # is empty and no host is held back) and in the crawl_log() view that
    # derives each round's pop order. The view needs committed rounds, so
    # its plan is taken after section 6.
    pop_plan = _fmt(eng._pop_survivors(frontier, eng._recent_fetches(1), 3600, 1))

    # 4. the exact dedup tier: an anti-join against the whole url_seen view
    # (the bloom-positive slice falls into every bucket each round, so a
    # bucket IN-list would prune nothing). Audits the REAL engine method
    # over the real layout.
    need_exact = (
        frontier.select(F.col("url").alias("dst"))
        .withColumn("parent_depth", F.lit(0))
        .limit(7)
    )
    seen_all = eng._read_log("url_seen", snap)
    exact_plan = _fmt(eng._exact_new(need_exact, seen_all))
    sections.append(
        ("crawl_seen_exact_tier", exact_plan, ["LeftAnti"], [_BUCKET_IN_LIST], {})
    )

    # 4b. extract → candidates → bloom check: the links cross into Python
    # once (one MapInPandas extracts, canonicalizes and hashes them) before
    # the bloom FlatMapGroupsInPandas; no ArrowEvalPython UDF column. The
    # REAL engine methods over a real fetch of the seed pages.
    cand_fetch = (
        eng._pages().join(F.broadcast(frontier.select("url")), "url")
        .select("url", "html")
    )
    cand_plan = _fmt(eng._flag(
        eng._candidates(eng._outlinks(cand_fetch, frontier)),
        eng.store.bloom_paths(snap), eng.store.bloom_dir(0),
    ))
    sections.append(
        ("crawl_candidates", cand_plan, ["FlatMapGroupsInPandas"], [], {})
    )
    # two shuffles: the outlinks' on src_url, and the one on bucket that the
    # candidate aggregation (by bucket, dst) and the bloom check's groups
    # share, so no Exchange sits between the aggregation and the check
    counts["crawl_candidates"] = {
        r"MapInPandas \(\d+\)": 1, r"ArrowEvalPython \(\d+\)": 0,
        r"\bExchange \(\d+\)": 2,
        r"Arguments: hashpartitioning\(bucket#\d+L?, \d+\)": 1,
    }

    # 5b. the live frontier right after a merge round: no round after the
    # base has inserts, crawl_log deletes or frontier_gains, and each empty
    # read drops out of the plan — the view is the bare base scan (one
    # frontier dir), with no anti-join and no gains join
    merge_state = "/tmp/tcs_audit_merge_state"
    shutil.rmtree(merge_state, ignore_errors=True)
    merged = CrawlEngine(spark, fx, merge_state, CrawlConfig(max_rounds=1, compact_every=1))
    merged.run(max_rounds=1)
    merged_snap = merged.store.snapshot()
    assert merged_snap.frontier_base_round == 0, "round 0 merged"
    sections.append((
        "crawl_frontier_after_merge", _fmt(merged._frontier_live(merged_snap)),
        [r"Location: [^\n]*frontier/r=0"],
        ["frontier_gains", "crawl_log"], {},
    ))
    counts["crawl_frontier_after_merge"] = {
        r"\bUnion\b": 0, r"LeftAnti": 0, r"Join": 0, _FRONTIER_SCAN: 1,
    }

    # 6. the host crawl-delay gate: each host's last fetch round is
    # max(round) over the last D-1 crawl_log rounds (D the longest crawl
    # delay). The crawl_log scan must read only host and round, and the
    # aggregate needs no window and no cartesian product. Run two real
    # rounds first so the window holds crawl_log dirs.
    assert eng.max_delay >= 2, "the audit fixture has a host with delay > 1"
    eng.run(max_rounds=2)
    snap = eng.store.snapshot()
    gate_plan = _fmt(eng._recent_fetches(snap.committed_round + 1))
    sections.append(
        (
            "crawl_host_gate",
            gate_plan,
            [r"ReadSchema: struct<round:int,host:string>"],
            ["Window", "CartesianProduct"],
            {},
        )
    )
    # 5. the merge-on-read frontier due scan, on a snapshot with inserts
    # after its base: the base and the inserts are one frontier scan (no
    # union), and it must partition-prune to due bands — the band filter
    # has to reach the parquet scan as a PartitionFilters entry, so a round
    # never reads future-scheduled frontier rows (the 10^10-row full-scan
    # killer)
    assert any(k > snap.frontier_base_round for k, _ in eng.store._round_dirs("frontier")), \
        "the audit snapshot holds frontier inserts after its base"
    t_r = (snap.committed_round + 1) * eng.cfg.round_tick
    sections.append(
        (
            "crawl_frontier_due_scan",
            _fmt(eng._frontier_live(snap, due_band=t_r // eng.cfg.band_ticks)),
            [r"PartitionFilters: \[[^\]]*band"],
            [UNPARTITIONED_WINDOW],
            {},
        )
    )
    counts["crawl_frontier_due_scan"] = {r"\bUnion\b": 0, _FRONTIER_SCAN: 1}
    sections.append(
        (
            "crawl_pop_order",
            [pop_plan, _fmt(eng.crawl_log())],
            ["Window"],
            [UNPARTITIONED_WINDOW],
            {},
        )
    )

    out = ["# PLANS — physical-plan audit (generated by scripts/plan_audit.py)",
           "",
           "Each section lists the physical properties the 100 TB design requires",
           "(`required:` line) and whether the captured plan exhibits them.",
           f"Universal bans on all {len(qs)} catalog queries: no BatchEvalPython,",
           "no CartesianProduct, no unpartitioned window (waivable per query,",
           "with the justification printed in the section).", ""]
    failures = []
    for name, plan, wants, bans, waived in sections:
        # a section may hold several plans; each must meet its checks
        plans = plan if isinstance(plan, list) else [plan]
        status = []
        for w in wants:
            ok = all(re.search(w, p) for p in plans)
            status.append(f"{w}={'OK' if ok else 'MISSING'}")
            if not ok:
                failures.append((name, w))
        for b in bans:
            bad = any(re.search(b, p) for p in plans)
            status.append(f"no-{b}={'VIOLATED' if bad else 'OK'}")
            if bad:
                failures.append((name, f"banned:{b}"))
        for pat, n in counts.get(name, {}).items():
            got = [len(re.findall(pat, _round_tree(p))) for p in plans]
            ok = all(g == n for g in got)
            status.append(f"{pat}×{n}={'OK' if ok else f'GOT {got}'}")
            if not ok:
                failures.append((name, f"count:{pat}"))
        out.append(f"## {name}\n\nrequired: {', '.join(status)}\n")
        for pat, reason in waived.items():
            out.append(f"waived `{pat}`: {reason}\n")
        for p in plans:
            out.append("```\n" + p.strip()[:4000] + "\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"audited {len(sections)} plans ({len(qs)} catalog queries + "
          f"{len(sections) - len(qs)} engine flows)")
    print("FAILURES:", failures or "none")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
