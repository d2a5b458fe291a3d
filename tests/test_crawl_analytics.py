"""Integration: the analytics/corpus tier over the engine's OWN crawl
outputs (VERDICT r4 #5 — engine and analytics previously shared schemas but
never met in a test).

A small crawl runs end-to-end, then a representative operator slice runs
over its ``edges`` / ``docs`` / ``crawl_log`` tables and is checked against
independent pure-pandas/Python recomputations (NOT the dual-dialect
templates — a third representation):

* A6 degree_filter analog — per-source out-degree with a min-degree gate;
* A5 top_hubs analog — top in-degree targets with total-order tie-break;
* A1/A11 collect_series analog — per-url fetch series from the crawl log;
* exact dedup (sha256 group) over docs.text via the real sql_dedup_exact;
* MinHash-LSH candidate pairs over docs.text via the real sql_lsh_pairs,
  against an independent numpy/python MinHash implementation that mirrors
  the banding geometry AND the hot-bucket star-edge guard;
* S9 edge dump over the crawl's edges, and its TSV round trip.

Also pins the round-5 edges layout: a per-source scan of the edges log
partition-prunes on ``src_bucket`` (the receipt for VERDICT r4 #7).
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import TEST_CFG
from twitter_crawler_spark.crawl.engine import CrawlEngine
from twitter_crawler_spark.ops import exprs as E
from twitter_crawler_spark.ops.corpus import (
    LSH_BUCKET_CAP,
    sql_dedup_exact,
    sql_lsh_pairs,
)
from twitter_crawler_spark.ops.sinks import edge_dump, write_tsv

MIN_OUTDEG = 3


@pytest.fixture(scope="module")
def engine(spark, fixture_dir, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("ca_state") / "s")
    eng = CrawlEngine(spark, fixture_dir, state, TEST_CFG)
    eng.run()
    return eng


@pytest.fixture(scope="module")
def edges_pd(engine):
    return engine.edges().select("src_url", "dst_url", "round").toPandas()


@pytest.fixture(scope="module")
def docs_pd(engine):
    df = engine.docs().select("url", "text").toPandas()
    assert len(df) > 0
    return df.sort_values("url").reset_index(drop=True)


def test_degree_filter_over_crawl_edges(engine, edges_pd):
    got = (
        engine.edges()
        .groupBy("src_url").agg(F.count("*").alias("degree"))
        .where(F.col("degree") >= MIN_OUTDEG)
        .orderBy("src_url")
        .toPandas()
    )
    want = (
        edges_pd.groupby("src_url").size().rename("degree").reset_index()
    )
    want = want[want.degree >= MIN_OUTDEG].sort_values("src_url").reset_index(drop=True)
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_top_hubs_over_crawl_edges(engine, edges_pd):
    got = (
        engine.edges()
        .groupBy("dst_url").agg(F.count("*").alias("degree"))
        .orderBy(F.desc("degree"), F.asc("dst_url"))
        .limit(10)
        .toPandas()
    )
    want = (
        edges_pd.groupby("dst_url").size().rename("degree").reset_index()
        .sort_values(["degree", "dst_url"], ascending=[False, True])
        .head(10).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_collect_series_over_crawl_log(engine):
    got = (
        engine.crawl_log()
        .groupBy("url")
        .agg(F.count("*").alias("n"),
             F.min("round").alias("first_round"),
             F.max("round").alias("last_round"))
        .withColumn("span", F.col("last_round") - F.col("first_round"))
        .orderBy("url")
        .toPandas()
    )
    log = engine.crawl_log().select("url", "round").toPandas()
    g = log.groupby("url")["round"]
    want = pd.DataFrame({
        "url": sorted(log.url.unique()),
    })
    want["n"] = want.url.map(g.size())
    want["first_round"] = want.url.map(g.min())
    want["last_round"] = want.url.map(g.max())
    want["span"] = want.last_round - want.first_round
    assert (want.n > 1).any()  # revisits exist → the series is non-trivial
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def _docs_view(spark, docs_pd):
    """Crawl docs as the corpus `documents` shape: deterministic doc_id by
    url order (the analytics tier's integer key), text from the engine."""
    pdf = docs_pd.copy()
    pdf["doc_id"] = range(len(pdf))
    sdf = spark.createDataFrame(pdf[["doc_id", "text"]])
    sdf.createOrReplaceTempView("documents")
    return pdf


def test_exact_dedup_over_crawl_docs(spark, docs_pd):
    pdf = _docs_view(spark, docs_pd)
    got = spark.sql(sql_dedup_exact("spark")).toPandas()
    dig = pdf.text.map(lambda t: hashlib.sha256(t.encode()).hexdigest())
    want = (
        pdf.assign(digest=dig)
        .groupby("digest")
        .agg(keeper_id=("doc_id", "min"), n_copies=("doc_id", "size"))
        .reset_index()
        .sort_values("digest")
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def _py_minhash_pairs(pdf: pd.DataFrame) -> set[tuple[int, int]]:
    """Independent MinHash-LSH: same published geometry (k=16 perms, 4×4
    banding, polynomial token hash), different code path (pure python dicts,
    no SQL), INCLUDING the hot-bucket star-edge guard."""
    P, MULT, INIT = E.HASH_P, E.HASH_MULT, E.HASH_INIT

    def str_hash(t: str) -> int:
        acc = INIT
        for ch in t:
            acc = (acc * MULT + ord(ch)) % P
        return acc

    buckets: dict[tuple[int, int], list[int]] = defaultdict(list)
    for doc_id, text in zip(pdf.doc_id, pdf.text):
        toks = [t for t in re.sub(r"[^a-z0-9]+", " ", text.lower()).split() if t]
        hs = sorted({str_hash(t) for t in toks})
        if not hs:
            continue
        sig = [min((( (2 * j + 3) * x + 5 * j + 11) % P) for x in hs)
               for j in range(E.MINHASH_K)]
        for b in range(E.LSH_BANDS):
            key = INIT
            for r_ in range(E.LSH_ROWS):
                key = (key * MULT + sig[b * E.LSH_ROWS + r_]) % P
            buckets[(b, key)].append(int(doc_id))
    pairs: set[tuple[int, int]] = set()
    for members in buckets.values():
        members = sorted(members)
        if len(members) > LSH_BUCKET_CAP:  # hot bucket → star edges to min
            rep = members[0]
            pairs.update((rep, m) for m in members[1:])
        else:
            pairs.update(
                (a, b) for i, a in enumerate(members) for b in members[i + 1:]
            )
    return pairs


def test_minhash_lsh_over_crawl_docs(spark, docs_pd):
    pdf = _docs_view(spark, docs_pd)
    got = {
        (int(r.doc_a), int(r.doc_b))
        for r in spark.sql(sql_lsh_pairs("spark")).collect()
    }
    want = _py_minhash_pairs(pdf)
    assert got == want
    assert len(want) > 0  # the generated web has near-dup revisions


def test_edge_dump_over_crawl_edges(spark, engine, edges_pd, tmp_path):
    """S9: the edge dump is every crawled link as ``(src_url, dst_url,
    ts)``, ts the round's logical clock, in ``(src, dst, ts)`` order, and
    the TSV sink writes it so that it reads back unchanged."""
    got = edge_dump(engine.edges())
    want = (
        edges_pd.assign(ts=edges_pd["round"] * TEST_CFG.round_tick)
        [["src_url", "dst_url", "ts"]]
        .sort_values(["src_url", "dst_url", "ts"])
        .reset_index(drop=True)
    )
    assert len(want) > 0
    pd.testing.assert_frame_equal(got.toPandas(), want, check_dtype=False)

    path = str(tmp_path / "edges_tsv")
    write_tsv(got, path)
    # one TSV file; its rows are compared as a set, since coalescing a
    # sorted frame promises no row order
    back = spark.read.schema(got.schema).option("sep", "\t").csv(path)
    assert len(back.inputFiles()) == 1
    pd.testing.assert_frame_equal(
        back.toPandas().sort_values(["src_url", "dst_url", "ts"]).reset_index(drop=True),
        want, check_dtype=False,
    )


def test_edges_scan_prunes_on_src_bucket(engine):
    """Round-5 layout receipt: the edges log is partitioned by src_bucket,
    so a per-source analytics scan carries a PartitionFilters entry instead
    of reading the whole edge history."""
    df = engine.edges().where(F.col("src_bucket") == 3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert re.search(r"PartitionFilters: \[[^\]]*src_bucket", plan), plan[:2000]


def test_frontier_del_rows_tracks_pops(engine):
    """The size-gated broadcast of the frontier's delete keys counts them
    in the snapshot's ``del_rows``, which each round grows by its pops: with no
    compaction in this run (compact_every > max_rounds) the count must
    equal total pops, i.e. every crawl_log row."""
    m = engine.round_metrics().where("partition_id = -1").toPandas()
    snap = engine.store.snapshot()
    assert snap.frontier_base_round == -1
    assert snap.del_rows == int(m.fetched.sum()) == engine.crawl_log().count() > 0
