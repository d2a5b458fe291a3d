"""Resumability (north rule: "resumes mid-round without re-fetching").

* A crawl interrupted after round k and resumed in a NEW engine instance must
  produce exactly the state a single uninterrupted run produces.
* Crash debris (an uncommitted round directory) must be discarded on resume.
* No committed round is ever re-fetched: the crawl_log contains each
  (round, url) pop exactly once across the interrupted + resumed run.
"""

from __future__ import annotations

import collections
import dataclasses
import json
import os
import re
import shutil

import pandas as pd
import pytest

from tests.conftest import TEST_CFG
from twitter_crawler_spark.crawl.engine import CrawlEngine
from twitter_crawler_spark.crawl.state import COMPACTED_LOGS, Snapshot

ROUNDS = 4


def _trace(eng):
    return [
        (r.round, r.seq, r.url) for r in eng.crawl_log().orderBy("round", "seq").collect()
    ]


def test_resume_equals_single_run(spark, fixture_dir, tmp_path_factory):
    one = str(tmp_path_factory.mktemp("resume") / "oneshot")
    eng1 = CrawlEngine(spark, fixture_dir, one, TEST_CFG)
    eng1.run(max_rounds=ROUNDS)

    two = str(tmp_path_factory.mktemp("resume") / "interrupted")
    eng2a = CrawlEngine(spark, fixture_dir, two, TEST_CFG)
    eng2a.run(max_rounds=2)
    assert eng2a.store.snapshot().committed_round == 1

    # fresh instance = process restart; must pick up from the snapshot
    eng2b = CrawlEngine(spark, fixture_dir, two, TEST_CFG)
    summary = eng2b.run(max_rounds=ROUNDS)
    assert summary["start_round"] == 2

    assert _trace(eng1) == _trace(eng2b)
    seen1 = {r.url for r in eng1.url_seen().collect()}
    seen2 = {r.url for r in eng2b.url_seen().collect()}
    assert seen1 == seen2


def test_zero_refetch_on_resume(spark, fixture_dir, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("resume") / "zrf")
    CrawlEngine(spark, fixture_dir, state, TEST_CFG).run(max_rounds=2)
    eng = CrawlEngine(spark, fixture_dir, state, TEST_CFG)
    eng.run(max_rounds=ROUNDS)
    pops = collections.Counter(
        (r.round, r.url) for r in eng.crawl_log().collect()
    )
    dup = {k: c for k, c in pops.items() if c > 1}
    assert not dup, f"re-fetched pops: {dup}"


def test_resume_across_compaction_boundary(spark, fixture_dir, tmp_path_factory):
    """Compaction (compact_every=4 → rounds 3 and 7 here) folds the frontier
    sidecar logs into a fresh banded base, merges url_seen/docs/edges into
    generation dirs and GCs the folded round dirs. A run interrupted right
    before a compaction round and resumed by a fresh engine must still equal
    the uninterrupted run, and the manifest's arithmetic frontier count must
    equal the materialized merge-on-read view."""
    import dataclasses

    from twitter_crawler_spark.oracle.frontier_oracle import FrontierOracle

    cfg = dataclasses.replace(TEST_CFG, compact_every=4, max_rounds=9)
    rounds = 9

    one = str(tmp_path_factory.mktemp("compact") / "oneshot")
    eng1 = CrawlEngine(spark, fixture_dir, one, cfg)
    eng1.run(max_rounds=rounds)

    two = str(tmp_path_factory.mktemp("compact") / "interrupted")
    CrawlEngine(spark, fixture_dir, two, cfg).run(max_rounds=3)
    eng2 = CrawlEngine(spark, fixture_dir, two, cfg)
    eng2.run(max_rounds=rounds)

    # compaction must be invisible to the semantics: the compacted run is
    # still golden vs the pure-Python oracle
    want = [(c["round"], c["seq"], c["url"]) for c in FrontierOracle(
        fixture_dir, cfg).run().crawl_order]
    assert _trace(eng1) == want
    assert _trace(eng1) == _trace(eng2)
    assert {r.url for r in eng1.url_seen().collect()} == {
        r.url for r in eng2.url_seen().collect()
    }
    d1 = {r.url: r.text_sha256 for r in eng1.docs().collect()}
    d2 = {r.url: r.text_sha256 for r in eng2.docs().collect()}
    assert d1 == d2
    for eng in (eng1, eng2):
        snap = eng.store.snapshot()
        assert snap.frontier_base_round >= 0, "compaction ran"
        assert eng.frontier_live().count() == snap.frontier_count
    # folded round dirs are GC'd: only the base generation + tail remain
    snap = eng1.store.snapshot()
    base = snap.frontier_base_round
    frontier_rounds = sorted(int(d[2:]) for d in os.listdir(os.path.join(one, "frontier")))
    assert frontier_rounds[0] == base and all(k > base for k in frontier_rounds[1:])
    seen_dirs = sorted(os.listdir(os.path.join(one, "url_seen")))
    seen_gens = snap.log_gens.get("url_seen", [])
    assert seen_gens, "url_seen compacted at least once"
    for g in seen_gens:
        assert f"gen={g}" in seen_dirs
    assert all(
        not d.startswith("r=") or int(d.split("=")[1]) > base for d in seen_dirs
    )
    # leveled compaction: the generations cover disjoint round ranges and no
    # stray gen dirs survive outside the manifest list
    assert seen_gens == sorted(set(seen_gens))
    assert {d for d in seen_dirs if d.startswith("gen=")} == {
        f"gen={g}" for g in seen_gens
    }


def test_uncommitted_debris_discarded(spark, fixture_dir, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("resume") / "debris")
    eng = CrawlEngine(spark, fixture_dir, state, TEST_CFG)
    eng.run(max_rounds=2)
    committed = eng.store.snapshot().committed_round
    # simulate a crash mid-round: orphan round dir the manifest never saw
    orphan = eng.store.round_dir("crawl_log", committed + 1)
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "part-junk.parquet"), "w") as f:
        f.write("not parquet")
    eng2 = CrawlEngine(spark, fixture_dir, state, TEST_CFG)
    eng2.run(max_rounds=3)
    assert eng2.store.snapshot().committed_round == 2
    # the junk file must be gone (round re-ran cleanly)
    assert not os.path.exists(os.path.join(orphan, "part-junk.parquet"))


def test_read_rounds_skips_schema_less_empty_dirs(spark, tmp_path_factory):
    """A zero-row PARTITIONED write leaves a round dir with only _SUCCESS —
    no part file, no schema. On a long crawl a table goes quiet for a whole
    compaction window (docs once first-fetches dry up), so the tail can be
    ALL such dirs; reading the rounds or the log must yield an empty frame
    that reads no file, not an AnalysisException (found by
    the 50-round listing-cost receipt at round ~24)."""
    from twitter_crawler_spark.crawl.state import SnapshotStore

    st = SnapshotStore(str(tmp_path_factory.mktemp("state") / "s"))
    empty = _docs_rows(spark, 0)
    st.write_round(empty, "docs", 3)
    st.write_round(empty, "docs", 4)
    tail = st.read_rounds(spark, "docs", 4)
    assert tail.count() == 0 and tail.inputFiles() == []
    assert st.read_log(spark, "docs", 4, []).count() == 0
    # a mixed tail (one quiet round, one data-bearing) still unions fine
    st.write_round(_docs_rows(spark, 2), "docs", 5)
    assert st.read_rounds(spark, "docs", 5).count() == 2


def _docs_rows(spark, n: int):
    """``n`` rows in the declared ``docs`` schema."""
    return spark.range(n).selectExpr(
        "cast(id as string) as url", "0 as round", "'t' as text",
        "'h' as text_sha256", "cast(id % 4 as int) as bucket",
    )


# the benchmark's merge shape: a minor merge at round 1, a major one at
# round 3 (max_log_gens=1), ordinary rounds 0, 2 and 4
MERGE_CFG = dataclasses.replace(TEST_CFG, compact_every=2, max_log_gens=1)
MERGE_ROUNDS = 5
SNAPSHOT_KEYS = {f.name for f in dataclasses.fields(Snapshot)}


@pytest.fixture(scope="module")
def merge_oneshot(spark, fixture_dir, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("merge") / "oneshot")
    eng = CrawlEngine(spark, fixture_dir, state, MERGE_CFG)
    eng.run(max_rounds=MERGE_ROUNDS)
    return eng


def test_uncommitted_merge_round_resumes(spark, fixture_dir, tmp_path_factory,
                                         merge_oneshot):
    """A merge round writes each compacted log's generation straight from
    the prior slice ∪ its own rows: no ``r=<r>`` dir for url_seen/docs/edges.
    If it dies before its commit, its ``gen=<r>`` dirs are crash debris that
    the resume discards, and the resumed crawl equals the one-shot crawl."""
    state = str(tmp_path_factory.mktemp("merge") / "crashed")
    CrawlEngine(spark, fixture_dir, state, MERGE_CFG).run(max_rounds=1)

    eng = CrawlEngine(spark, fixture_dir, state, MERGE_CFG)
    commit = eng.store.commit

    def commit_unless_merge(snap):
        if snap.committed_round == 1:
            raise RuntimeError("crash before the merge round's commit")
        return commit(snap)

    eng.store.commit = commit_unless_merge
    with pytest.raises(RuntimeError, match="merge round"):
        eng.run(max_rounds=2)
    snap = eng.store.snapshot()
    assert snap.committed_round == 0
    for tbl in COMPACTED_LOGS:
        dirs = os.listdir(os.path.join(state, tbl))
        assert "gen=1" in dirs and "r=1" not in dirs, (tbl, sorted(dirs))
        assert tbl not in snap.log_gens

    resumed = CrawlEngine(spark, fixture_dir, state, MERGE_CFG)
    removed = resumed.store.clean_uncommitted(snap.committed_round)
    assert {f"{tbl}/gen=1" for tbl in COMPACTED_LOGS} <= set(removed)
    for tbl in COMPACTED_LOGS:
        assert "gen=1" not in os.listdir(os.path.join(state, tbl))
    resumed.run(max_rounds=MERGE_ROUNDS)

    one = merge_oneshot
    assert _trace(resumed) == _trace(one)
    for view in ("url_seen", "edges", "docs"):
        got = sorted(tuple(r) for r in getattr(resumed, view)().collect())
        want = sorted(tuple(r) for r in getattr(one, view)().collect())
        assert got == want, view
    # the major merge at round 3 left one generation per compacted log
    for tbl in COMPACTED_LOGS:
        assert resumed.store.snapshot().log_gens[tbl] == one.store.snapshot().log_gens[tbl] == [3]


def test_run_parses_manifest_once(spark, fixture_dir, tmp_path, monkeypatch):
    """``run`` parses the manifest once, however many rounds it runs: each
    round reads the snapshot the previous commit returned, and a commit
    builds the next snapshot from what it wrote."""
    import types

    from twitter_crawler_spark.crawl import state as state_mod

    parses = []

    def load(f):
        parses.append(f.name)
        return json.load(f)

    eng = CrawlEngine(spark, fixture_dir, str(tmp_path / "s"), MERGE_CFG)
    eng.run(max_rounds=0)  # round -1 only: the next run reads a manifest
    monkeypatch.setattr(state_mod, "json", types.SimpleNamespace(load=load, dump=json.dump))
    assert eng.run(max_rounds=3)["rounds"] == [0, 1, 2]
    assert len(parses) == 1, parses
    for r in (3, 4):
        eng.run(max_rounds=r + 1)
        assert len(parses) == r - 1, parses


def test_frontier_ins_layout_resumes(spark, fixture_dir, tmp_path, merge_oneshot):
    """A state dir written while an ordinary round kept its frontier
    inserts in a ``frontier_ins`` table resumes unchanged: recovery moves
    each committed ``frontier_ins/r=<k>`` dir to ``frontier/r=<k>``, and
    discards an uncommitted one with the rest of the crash debris."""
    state = str(tmp_path / "ins")
    CrawlEngine(spark, fixture_dir, state, MERGE_CFG).run(max_rounds=3)
    eng = CrawlEngine(spark, fixture_dir, state, MERGE_CFG)
    snap = eng.store.snapshot()
    moved = [k for k, _ in eng.store._round_dirs("frontier") if k > snap.frontier_base_round]
    assert moved == [2], moved
    os.makedirs(os.path.join(state, "frontier_ins"))
    for k in moved:
        os.rename(eng.store.round_dir("frontier", k), eng.store.round_dir("frontier_ins", k))
    debris = eng.store.round_dir("frontier_ins", 3)
    shutil.copytree(eng.store.round_dir("frontier_ins", 2), debris)

    eng.run(max_rounds=MERGE_ROUNDS)
    assert not os.path.exists(os.path.join(state, "frontier_ins"))
    _assert_equals_oneshot(eng, merge_oneshot)


def _assert_equals_oneshot(resumed, one):
    assert _trace(resumed) == _trace(one)
    for view in ("url_seen", "edges", "docs"):
        got = sorted(tuple(r) for r in getattr(resumed, view)().collect())
        want = sorted(tuple(r) for r in getattr(one, view)().collect())
        assert got == want, view
    assert resumed.store.snapshot().bloom == one.store.snapshot().bloom


@pytest.mark.parametrize("crash_round", [2, 3], ids=["ordinary", "merge"])
def test_crash_in_seen_tier_resumes(spark, fixture_dir, tmp_path,
                                    merge_oneshot, monkeypatch, crash_round):
    """A round's writes all follow its seen tier. If the bloom check fails,
    in an ordinary round or in a merge round, the round has written none
    of its tables, so the resume runs it again and equals the one-shot
    crawl."""
    from twitter_crawler_spark.crawl import engine

    state = str(tmp_path / "crashed")
    CrawlEngine(spark, fixture_dir, state, MERGE_CFG).run(max_rounds=crash_round)

    def failing_check_fn(*args):
        def check(pdf):
            raise RuntimeError("bloom check failed")

        return check

    monkeypatch.setattr(engine, "make_seen_check_fn", failing_check_fn)
    eng = CrawlEngine(spark, fixture_dir, state, MERGE_CFG)
    with pytest.raises(Exception, match="bloom check failed"):
        eng.run(max_rounds=crash_round + 1)
    monkeypatch.undo()
    snap = eng.store.snapshot()
    assert snap.committed_round == crash_round - 1

    k = crash_round
    merge = (k - snap.frontier_base_round) >= MERGE_CFG.compact_every
    assert merge == (crash_round == 3)
    kind = "gen" if merge else "r"
    outputs = [
        f"crawl_log/r={k}", f"evictions/r={k}", f"edges/{kind}={k}", f"docs/{kind}={k}",
        f"url_seen/{kind}={k}", f"bloom/r={k}", f"round_metrics/r={k}", f"frontier/r={k}",
    ] + ([] if merge else [f"frontier_gains/r={k}"])
    assert not any(os.path.exists(os.path.join(state, d)) for d in outputs), outputs

    resumed = CrawlEngine(spark, fixture_dir, state, MERGE_CFG)
    resumed.run(max_rounds=MERGE_ROUNDS)
    _assert_equals_oneshot(resumed, merge_oneshot)


@pytest.mark.parametrize("crash_round", [2, 3], ids=["ordinary", "merge"])
def test_crash_after_bloom_check_resumes(spark, fixture_dir, tmp_path,
                                         merge_oneshot, crash_round):
    """The bloom check writes the round's shards (``bloom/r=<k>``) before
    the write pool starts. If the pool then fails, in an ordinary round or
    in a merge round, those shards are uncommitted debris: the resume
    removes them, checks against the committed shards again and equals the
    one-shot crawl, the bloom records included."""
    state = str(tmp_path / "crashed")
    CrawlEngine(spark, fixture_dir, state, MERGE_CFG).run(max_rounds=crash_round)

    eng = CrawlEngine(spark, fixture_dir, state, MERGE_CFG)
    write_round, failed = eng.store.write_round, []

    def fail_first_write(df, table, round_):
        if round_ == crash_round and not failed:
            failed.append(table)
            raise RuntimeError("pool write failed")
        return write_round(df, table, round_)

    eng.store.write_round = fail_first_write
    with pytest.raises(RuntimeError, match="pool write failed"):
        eng.run(max_rounds=crash_round + 1)
    assert eng.store.snapshot().committed_round == crash_round - 1
    shards = os.path.join(state, "bloom", f"r={crash_round}")
    assert os.path.isdir(shards) and os.listdir(shards), "the check wrote shards"

    resumed = CrawlEngine(spark, fixture_dir, state, MERGE_CFG)
    resumed.run(max_rounds=MERGE_ROUNDS)
    _assert_equals_oneshot(resumed, merge_oneshot)


def test_state_reads_launch_no_jobs(spark, merge_oneshot):
    """Every state read passes its table's declared schema, so building the
    round's views of a committed snapshot — generations, tail rounds,
    sidecar logs, the frontier and the host crawl-delay view —
    launches no Spark job (a schema-less parquet read runs one
    footer-inference job per call)."""
    eng = merge_oneshot
    st = eng.store
    snap = st.snapshot()
    prev = snap.committed_round
    assert snap.log_gens["url_seen"] and any(
        k > snap.frontier_base_round for k, _ in st._round_dirs("frontier")
    ), "the snapshot holds generations and frontier inserts after its base"
    tracker = spark.sparkContext.statusTracker()

    def last_job() -> int:
        return max(tracker.getJobIdsForGroup(None), default=-1)

    j0 = last_job()
    for tbl in (*COMPACTED_LOGS, "crawl_log", "round_metrics"):
        st.read_log(spark, tbl, prev, snap.log_gens.get(tbl, []))
    for tbl in ("frontier", "frontier_gains", "crawl_log"):
        st.read_rounds(spark, tbl, prev, drop_r=False)
    eng._frontier_live(snap)
    eng._frontier_live(snap, due_band=0)
    eng._recent_fetches(prev + 1)
    eng._pages()
    assert last_job() == j0


def test_empty_compacted_log_registers_no_generation(spark, fixture_dir,
                                                     tmp_path_factory):
    """A language filter that matches no page leaves docs and edges empty:
    the merge round's generation write for them produces no data files, so
    no generation is listed and no gen dir is left behind — while url_seen
    (the seeds) still folds into its generation."""
    cfg = dataclasses.replace(TEST_CFG, lang_filter="zz", compact_every=1)
    state = str(tmp_path_factory.mktemp("merge") / "empty")
    eng = CrawlEngine(spark, fixture_dir, state, cfg)
    eng.run(max_rounds=1)
    assert eng.store.snapshot().log_gens == {"url_seen": [0]}
    for tbl in ("docs", "edges"):
        troot = os.path.join(state, tbl)
        assert not os.path.isdir(troot) or not os.listdir(troot), os.listdir(troot)


def _log_rounds(files) -> set[int]:
    """The crawl_log round dirs that a plan's input files lie in."""
    out = set()
    for f in files:
        m = re.search(r"/crawl_log/r=(-?\d+)/", f)
        assert m, f
        out.add(int(m.group(1)))
    return out


def test_host_gate_reads_only_delay_window(spark, fixture_dir, tmp_path,
                                           merge_oneshot, monkeypatch):
    """A host's last fetch round only matters while it can still hold the
    host back: r >= last_fetch_round + delay with delay <= D, the longest
    crawl delay (3 in the test fixture). So the host view of round r reads
    the crawl_log dirs r-D+1 … r-1 and no older one, whatever compaction
    did; with every delay 1 it reads no crawl_log dir at all. crawl_log is
    never compacted, so neither the host view nor the frontier's delete
    keys may list its root: they probe their round dirs by number."""
    eng = merge_oneshot
    snap = eng.store.snapshot()
    r = snap.committed_round + 1
    assert eng.max_delay == 3 and r > 3
    log_root = os.path.join(eng.store.root, "crawl_log")
    real_listdir = os.listdir

    def listdir(path="."):
        assert os.path.abspath(path) != os.path.abspath(log_root), \
            "listed the whole crawl_log"
        return real_listdir(path)

    monkeypatch.setattr(os, "listdir", listdir)
    files = eng._recent_fetches(r).inputFiles()
    eng._frontier_live(snap)
    monkeypatch.undo()
    assert _log_rounds(files) == set(range(r - eng.max_delay + 1, r))

    fx = str(tmp_path / "fx")
    shutil.copytree(fixture_dir, fx)
    pol_path = os.path.join(fx, "politeness.parquet")
    pol = pd.read_parquet(pol_path)
    pol["crawl_delay_rounds"] = pol["crawl_delay_rounds"].clip(upper=1)
    pol.to_parquet(pol_path, index=False)
    ones = CrawlEngine(spark, fx, eng.store.root, MERGE_CFG)
    assert ones.max_delay == 1 and ones._recent_fetches(r).inputFiles() == []


def test_pre_crawl_log_layout_resumes(spark, fixture_dir, tmp_path,
                                      merge_oneshot):
    """A state dir written while the frontier delete log and the hosts
    table still existed resumes unchanged: crawl_log holds every pop since
    round 0, and the leftover frontier_del/hosts* dirs and manifest keys
    are never read (their rows here would block every host and delete
    every frontier key). Its crawl_log dirs also stored each pop's ``seq``:
    the read ignores that column, and the derived one equals it."""
    from twitter_crawler_spark.oracle.frontier_oracle import FrontierOracle

    state = str(tmp_path / "legacy")
    CrawlEngine(spark, fixture_dir, state, MERGE_CFG).run(max_rounds=3)
    eng = CrawlEngine(spark, fixture_dir, state, MERGE_CFG)
    hosts = sorted({row.host for row in eng.crawl_log().collect()})
    # the crawl_log rows of rounds 0-2 as that layout stored them, seq
    # second (an engine of that era wrote exactly the oracle's crawl order)
    stored = pd.DataFrame(
        FrontierOracle(fixture_dir, MERGE_CFG).run(max_rounds=3).crawl_order
    ).astype({"round": "int32", "seq": "int32", "depth": "int32",
              "score": "int64", "attempt": "int32"})
    assert sorted(stored["round"].unique()) == [0, 1, 2]
    legacy = {
        f"crawl_log/r={k}": rows for k, rows in stored.groupby("round")
    }
    for d in legacy:
        shutil.rmtree(os.path.join(state, d))
    legacy.update({
        "hosts/r=1": pd.DataFrame({
            "host": hosts, "budget_per_round": 0, "crawl_delay_rounds": 99,
            "last_fetch_round": 2,
        }),
        "hosts_new/r=2": pd.DataFrame({"host": hosts}),
        "hosts_touch/r=2": pd.DataFrame({"host": hosts}),
        "frontier_del/r=2": eng.frontier_live().select("url", "attempt").toPandas(),
    })
    for d, pdf in legacy.items():
        os.makedirs(os.path.join(state, d))
        pdf.to_parquet(os.path.join(state, d, "part-0.parquet"), index=False)
    _write_legacy_manifest(eng, hosts_base_round=1, frontier_del_rows=0)

    eng.run(max_rounds=MERGE_ROUNDS)
    assert _trace(eng) == _trace(merge_oneshot)
    assert [t for t in _trace(eng) if t[0] <= 2] == [
        (int(k), int(q), u) for k, q, u in stored[["round", "seq", "url"]].values
    ]
    for d in legacy:
        assert os.listdir(os.path.join(state, d)) == ["part-0.parquet"], d


def test_cuckoo_era_state_resumes(spark, fixture_dir, tmp_path, merge_oneshot):
    """A state dir written while the URL-seen test still had its cuckoo
    tier resumes unchanged: its shard files carry a ``cuckoo`` array and a
    6-element meta, and its manifest has the older nested format (a round
    history, the bloom record in two maps) whose ``bloom_load`` holds an
    [n, m, ov] triple with ov (the cuckoo overflow flag) set. The resume
    reads both, ignores ov, equals the one-shot crawl, bloom occupancy
    included, and commits the flat format."""
    import numpy as np

    state = str(tmp_path / "cuckoo_era")
    eng = CrawlEngine(spark, fixture_dir, state, MERGE_CFG)
    eng.run(max_rounds=3)
    st = eng.store
    paths = st.bloom_paths(st.snapshot())
    assert paths, "the crawl wrote bloom shards"
    assert st.snapshot().del_rows > 0, "the legacy history's pops are summed"
    ov_bucket = _write_legacy_manifest(eng)
    for b, p in paths.items():
        with np.load(p) as z:
            m, k = (int(x) for x in z["meta"])
            bits = z["bits"]
        # the last meta field, the shard's key count, was never read on load
        np.savez_compressed(
            p, bits=bits, cuckoo=np.zeros((1 << 12, 4), np.uint16),
            meta=np.array([m, k, 1 << 12, 4, int(b == ov_bucket), 1 << 10]),
        )

    resumed = CrawlEngine(spark, fixture_dir, state, MERGE_CFG)
    resumed.run(max_rounds=MERGE_ROUNDS)
    # the bloom comparison shows the triple's ov cut
    _assert_equals_oneshot(resumed, merge_oneshot)
    with open(st._manifest_path) as f:
        assert set(json.load(f)) == SNAPSHOT_KEYS, "the resume wrote the flat format"


def _write_legacy_manifest(eng, **state) -> int:
    """Rewrite ``eng``'s committed manifest in the older nested format: the
    fields (and the extra keys ``state``) under ``state``, a per-round
    ``history`` rebuilt from round_metrics, and the bloom record split into
    ``bloom_map`` and ``bloom_load``, whose entry for the smallest bucket
    is an [n, m, ov] triple with the cuckoo-overflow flag ov set. The
    rewritten file parses to the same snapshot. Returns that bucket."""
    snap = eng.store.snapshot()
    with open(os.path.join(eng.fx, "seeds.txt")) as f:
        seeds = sum(1 for line in f if line.strip())
    history = [{"round": -1, "seeds": seeds}] + [
        {"round": m.round, "popped": m.fetched, "new_urls": m.new_urls,
         "wall_ms": m.wall_ms,
         **{k: json.loads(m.lineage)[k] for k in ("frontier", "compacted")}}
        for m in eng.round_metrics().where("partition_id = -1").orderBy("round").collect()
    ]
    ov_bucket = min(snap.bloom)
    manifest = {
        "committed_round": snap.committed_round,
        "history": history,
        "state": {
            "frontier_base_round": snap.frontier_base_round,
            "frontier_count": snap.frontier_count,
            "log_gens": snap.log_gens,
            "bloom_map": {str(b): rd for b, (rd, _n, _m) in snap.bloom.items()},
            "bloom_load": {
                str(b): [n, m, *([True] if b == ov_bucket else [])]
                for b, (_rd, n, m) in snap.bloom.items()
            },
            **state,
        },
    }
    with open(eng.store._manifest_path, "w") as f:
        json.dump(manifest, f)
    assert eng.store.snapshot() == snap
    return ov_bucket


def test_legacy_bloom_maps_must_agree():
    """The older manifest's two bloom maps are read only together: a
    bucket in one and not the other raises."""
    m = {
        "committed_round": 0, "history": [],
        "state": {"frontier_base_round": -1, "frontier_count": 1,
                  "bloom_map": {"0": -1, "1": 0}, "bloom_load": {"0": [1, 64]}},
    }
    with pytest.raises(ValueError, match="differ in buckets"):
        Snapshot.parse(m)


def test_manifest_is_the_snapshot(spark, fixture_dir, tmp_path):
    """Every commit writes the snapshot and nothing else: the file's keys
    are the ``Snapshot`` fields (no ``history``, ``state``, ``bloom_map``
    or ``bloom_load``) and it parses back to the snapshot the commit
    returned. ``del_rows`` is 0 at init and after each merge round, and
    the crawl_log rows since the base after an ordinary round. The round's
    lineage in round_metrics carries the rest of the per-round record: the
    frontier size after the round (the live view's count) and whether the
    round merged."""
    eng = CrawlEngine(spark, fixture_dir, str(tmp_path / "s"), MERGE_CFG)
    commit, snaps = eng.store.commit, []

    def commit_and_read(snap):
        out = commit(snap)
        with open(eng.store._manifest_path) as f:
            m = json.load(f)
        assert set(m) == SNAPSHOT_KEYS, sorted(m)
        assert Snapshot.parse(m) == out == snap
        snaps.append(out)
        return out

    eng.store.commit = commit_and_read
    for r in range(MERGE_ROUNDS):
        eng.run(max_rounds=r + 1)
        (lin,) = [json.loads(m.lineage) for m in eng.round_metrics()
                  .where(f"partition_id = -1 and round = {r}").collect()]
        assert lin["frontier"] == eng.frontier_live().count() == snaps[-1].frontier_count
        assert lin["compacted"] == (snaps[-1].frontier_base_round == r)

    assert [s.committed_round for s in snaps] == list(range(-1, MERGE_ROUNDS))
    merged = [s.frontier_base_round == s.committed_round for s in snaps]
    assert merged == [True, False, True, False, True, False]
    pops = {m["round"]: m["count"] for m in eng.crawl_log().groupBy("round").count().collect()}
    for s, merge in zip(snaps, merged):
        if merge:
            assert s.del_rows == 0, s
        else:
            since = range(s.frontier_base_round + 1, s.committed_round + 1)
            assert s.del_rows == sum(pops[k] for k in since) > 0, s
