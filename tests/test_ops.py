"""Operator-tier tests over the driver testdata (sf0.001).

The SQL-expressible operators are gated by the driver's DuckDB side-by-side
check (scripts/validate_entry.py replicates it); here we pin:
* the full query registry runs and returns stable schemas;
* the operators whose Spark side is NOT spark.sql of the oracle template
  (info_transfer, multimodal_features, dedup_clusters) against independent
  pure-pandas/Python recomputations;
* independent twins for the curation tier (sampling, cleaning pipeline,
  decontamination, sequence packing, LM perplexity) so the dual-dialect
  templates are cross-checked by a third representation, not just DuckDB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from twitter_crawler_spark.ops.multimodal import features_reference

SF = "/root/testdata/sf0.001"


def test_registry_complete():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 30
    missing = set(oracles) - set(qs)
    assert not missing, f"oracle without query: {missing}"
    # every query is SQL-checkable: multimodal_features gained its
    # byte-arithmetic oracle in round 3, info_transfer its closed-form
    # dwell-measure oracle in round 4
    rows_only = set(qs) - set(oracles)
    assert rows_only == set()


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["o_orderkey", "o_custkey", "rk"]


def test_multimodal_features_match_reference(spark):
    got = entrymod.queries()["multimodal_features"](spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    want = pd.DataFrame(
        [features_reference(r.doc_id, r.text) for r in docs.itertuples()],
        columns=["doc_id", "n_bytes", "width", "height", "intensity_e6", "frame_count"],
    ).sort_values("doc_id").reset_index(drop=True)
    got = got.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_multimodal_sql_twin_matches_mapinpandas(spark):
    """3-way pin: the mapInPandas implementation, the Spark-SQL dialect of the
    byte-arithmetic twin, and (via the driver gate) the DuckDB dialect must
    all agree — here we check the first two."""
    from twitter_crawler_spark.ops.corpus import sql_multimodal_features

    got = entrymod.queries()["multimodal_features"](spark, SF).toPandas()
    spark.read.parquet(f"{SF}/documents.parquet").createOrReplaceTempView("documents")
    twin = spark.sql(sql_multimodal_features("spark")).toPandas()
    got = got.sort_values("doc_id").reset_index(drop=True)
    twin = twin.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, twin, check_dtype=False)


def test_multimodal_vectorized_matches_per_item_decode():
    """The whole-batch numpy path must agree byte-for-byte with the per-item
    decode_image loop (the real-codec shape) on adversarial payloads: empty,
    1-byte, NULL, and sizes straddling the tile remainder."""
    from twitter_crawler_spark.ops.multimodal import _features_batch

    payloads = [b"", b"\x07", b"\xff\x00", None, bytes(range(256)),
                b"x" * 63, b"abc" * 50, b"\x00" * 10]
    pdf = pd.DataFrame({"doc_id": range(len(payloads)), "payload": payloads})
    fast = pd.concat(_features_batch(iter([pdf]), fake=True), ignore_index=True)
    slow_rows = []
    from twitter_crawler_spark.ops.multimodal import decode_image, intensity_e6

    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        payload = bytes(payload) if payload is not None else b""
        img = decode_image(payload, fake=True)
        slow_rows.append((int(doc_id), len(payload), img.shape[1], img.shape[0],
                          intensity_e6(img), 1))
    slow = pd.DataFrame(slow_rows, columns=list(fast.columns))
    pd.testing.assert_frame_equal(fast, slow, check_dtype=False)


def test_documents_text_is_ascii_nonnull():
    """The multimodal SQL oracle equates length(text) with byte length
    (charcode == byte) — valid only for ASCII, non-NULL text. Assert the
    testdata satisfies it so a fixture change fails HERE, not as a confusing
    oracle hash mismatch (see sql_multimodal_features)."""
    docs = pd.read_parquet(f"{SF}/documents.parquet", columns=["text"])
    assert docs["text"].notna().all()
    assert docs["text"].map(lambda t: t.isascii()).all()


def test_require_shared_state_gate():
    from twitter_crawler_spark.crawl.engine import require_shared_state

    require_shared_state("local[8]", "/tmp/s", False)  # local: fine
    require_shared_state("spark://h:7077", "/mnt/nfs/s", True)  # declared: fine
    with pytest.raises(RuntimeError, match="shared filesystem"):
        require_shared_state("spark://h:7077", "/tmp/s", False)
    with pytest.raises(RuntimeError, match="shared filesystem"):
        require_shared_state("yarn", "/tmp/s", False)


def test_bucket_geometry_mismatch_fails_fast(spark, tmp_path):
    """A fixture written with one pages_buckets modulus driven by a config
    with another would make the bucket-pruned fetch join silently skip due
    pages (wrong results, no error) — the engine must refuse to construct."""
    from twitter_crawler_spark.config import CrawlConfig
    from twitter_crawler_spark.crawl.engine import CrawlEngine
    from twitter_crawler_spark.fixtures.webgen import generate_web

    fx = str(tmp_path / "fx")
    generate_web(fx, seed=13, n_pages=60, n_hosts=4, n_seeds=3,
                 span_rounds=2, pages_buckets=16)
    with pytest.raises(ValueError, match="pages_buckets"):
        CrawlEngine(spark, fx, str(tmp_path / "state"),
                    CrawlConfig(max_rounds=1, pages_buckets=8))


def test_info_transfer_matches_pandas(spark):
    """Pin the Spark plumbing (top-8 selection, pair enumeration, min-count
    filter, both directions) against a pandas recomputation. The IT metric
    itself is separately twin-pinned in tests/test_infotransfer.py against a
    literal transcription of the reference Scala."""
    from twitter_crawler_spark.ops.infotransfer import MIN_POINTS_IT, calculate_it

    got = entrymod.queries()["info_transfer"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    # parquet timestamps load as datetime64[us]; normalize to ns then seconds
    ev["tsl"] = (ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9).astype(
        np.int64
    )
    counts = ev.groupby("user_id").size().sort_values(ascending=False)
    # top-8 with (count desc, user_id asc) tie-break
    order = sorted(counts.index, key=lambda u: (-counts[u], u))[:8]
    series = {
        u: sorted(set(ev.loc[ev.user_id == u, "tsl"].tolist())) for u in order
    }
    rows = []
    for ua in sorted(order):
        for ub in sorted(order):
            if ua >= ub:
                continue
            a, b = series[ua], series[ub]
            if len(a) < MIN_POINTS_IT or len(b) < MIN_POINTS_IT:
                continue
            rows.append((ua, ub, len(a), len(b),
                         round(calculate_it(a, b), 6), round(calculate_it(b, a), 6)))
    want = pd.DataFrame(
        rows, columns=["user_a", "user_b", "n_a", "n_b", "it_ab", "it_ba"]
    ).sort_values(["user_a", "user_b"]).reset_index(drop=True)
    assert len(want) > 0
    got = got.sort_values(["user_a", "user_b"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@pytest.mark.parametrize("name", ["dedup_exact", "lang_id", "token_count",
                                  "repetition_stats", "ann_ivf_flat",
                                  "corpus_clean_report", "sample_stratified",
                                  "mixture_weights", "decontaminate",
                                  "sequence_pack", "lm_perplexity",
                                  "span_dedup", "bm25_topk"])
def test_corpus_queries_run(spark, name):
    df = entrymod.queries()[name](spark, SF)
    assert df.count() > 0


def test_ann_ivf_is_bruteforce_restricted_to_probed_cells(spark):
    """Semantic pin for the IVF index geometry: every neighbour the IVF
    query returns must out-rank (by exact cosine) everything ELSE in the
    probed cells — i.e. IVF ≡ brute force restricted to its inverted lists.
    Checked via the exact brute-force result: any brute-force top-3
    neighbour that IVF misses must live OUTSIDE the query's probed cells
    (recall loss comes only from the coarse quantizer, never from the
    per-cell ranking)."""
    qs = entrymod.queries()
    ivf = {
        (r.query_id, r.neighbor_id): (r.rank, r.cos_sim)
        for r in qs["ann_ivf_flat"](spark, SF).collect()
    }
    bf = {
        (r.query_id, r.neighbor_id): (r.rank, r.cos_sim)
        for r in qs["ann_bruteforce_topk"](spark, SF).collect()
    }
    assert len(ivf) > 0
    # exact-cosine agreement on the intersection
    for key, (_, cos) in ivf.items():
        if key in bf:
            assert abs(bf[key][1] - cos) < 1e-9, key
    # Recall floor: the synthetic embeddings are unstructured (near-uniform
    # cosines), so the information-free expectation is ~NPROBE/K = 2/8 = 0.25;
    # measured 0.267 at this fixture. The floor guards against the quantizer
    # or probe-join collapsing (empty cells, wrong join key → recall ~0), not
    # against data-dependent recall, which on clustered real data is what
    # NPROBE tunes.
    recall = len(set(ivf) & set(bf)) / len(bf)
    assert recall >= 0.2, f"IVF recall@3 collapsed: {recall}"


def test_corpus_clean_matches_pandas_twin(spark):
    """Independent twin for the composed cleaning pipeline: the dual-dialect
    gate runs the SAME SQL template in both engines, so a logic bug in the
    template would pass it — this twin re-derives the per-lang report in
    pure pandas (regex tokenizer, hashlib sha256, Python set keep-first over
    the LSH pair graph) and compares exactly. Pairs come from the shared
    sql_lsh_pairs template (same precedent as the dedup_clusters union-find
    pin: the candidate GRAPH is shared, the pipeline LOGIC is independent)."""
    import hashlib
    import re

    import duckdb

    from twitter_crawler_spark.ops.corpus import (
        CLEAN_MAX_DUPFRAC,
        CLEAN_MIN_TOKENS,
        sql_lsh_pairs,
    )

    got = (
        entrymod.queries()["corpus_clean_report"](spark, SF)
        .toPandas()
        .sort_values("lang")
        .reset_index(drop=True)
    )

    docs = pd.read_parquet(f"{SF}/documents.parquet")
    tok = lambda s: [t for t in re.sub(r"[^a-z0-9]+", " ", s.lower()).split(" ") if t]
    docs["toks"] = docs.text.map(tok)
    docs["n_tokens"] = docs.toks.map(len)
    docs["n_distinct"] = docs.toks.map(lambda t: len(set(t)))
    qual = docs[
        (docs.n_tokens >= CLEAN_MIN_TOKENS)
        & (docs.n_distinct / docs.n_tokens >= 1.0 - CLEAN_MAX_DUPFRAC)
    ]
    digest = qual.text.map(lambda s: hashlib.sha256(s.encode()).hexdigest())
    keepers = qual.assign(digest=digest).groupby("digest").doc_id.min()
    s1 = qual[qual.doc_id.isin(set(keepers))]

    con = duckdb.connect()
    con.execute(f"create view documents as select * from '{SF}/documents.parquet'")
    pairs = con.execute(sql_lsh_pairs("duckdb")).fetchdf()
    alive = set(s1.doc_id)
    dominated = {
        int(b) for a, b in zip(pairs.doc_a, pairs.doc_b)
        if int(a) in alive and int(b) in alive
    }
    s2 = s1[~s1.doc_id.isin(dominated)]

    rows = []
    for lang, grp in docs.groupby("lang"):
        n_docs = len(grp)
        n_qual = int((qual.lang == lang).sum())
        n_exact = int((s1.lang == lang).sum())
        kept = s2[s2.lang == lang]
        rows.append({
            "lang": lang,
            "n_docs": n_docs,
            "quality_removed": n_docs - n_qual,
            "exact_removed": n_qual - n_exact,
            "neardup_removed": n_exact - len(kept),
            "kept_docs": len(kept),
            "kept_tokens": int(kept.n_tokens.sum()),
            "avg_doc_tokens": round(float(kept.n_tokens.mean()), 6)
            if len(kept) else None,
        })
    want = pd.DataFrame(rows).sort_values("lang").reset_index(drop=True)
    assert (want[["quality_removed", "exact_removed", "neardup_removed"]]
            .to_numpy().sum() > 0)  # every tier of the fixture pipeline bites
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_sample_stratified_matches_numpy_twin(spark):
    """Independent twin for the deterministic stratified sample: recompute
    membership with numpy int64 arithmetic and compare counts AND the exact
    membership checksum."""
    from twitter_crawler_spark.ops.corpus import SAMPLE_MOD, SAMPLE_RATES, _KNUTH

    got = (
        entrymod.queries()["sample_stratified"](spark, SF)
        .toPandas()
        .sort_values("lang")
        .reset_index(drop=True)
    )
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    thresh = docs.lang.map({lg: int(r * SAMPLE_MOD) for lg, r in SAMPLE_RATES.items()})
    keep = (docs.doc_id.astype("int64") * _KNUTH) % SAMPLE_MOD < thresh
    want = (
        docs.assign(keep=keep.astype("int64"))
        .groupby("lang")
        .apply(lambda g: pd.Series({
            "total_docs": len(g),
            "sampled_docs": int(g.keep.sum()),
            "achieved_rate": round(float(g.keep.mean()), 6),
            "sample_checksum": int((g.keep * g.doc_id).sum()),
        }), include_groups=False)
        .reset_index()
        .sort_values("lang")
        .reset_index(drop=True)
    )
    assert want.sampled_docs.sum() > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def _py_tokens(text: str) -> list[str]:
    import re

    return [t for t in re.sub(r"[^a-z0-9]+", " ", text.lower()).split(" ") if t]


def test_decontaminate_matches_python_twin(spark):
    """Independent twin for benchmark decontamination: recompute the token
    5-gram sets with plain Python strings (no hashing at all — the twin uses
    the gram text itself, so it also proves the 60-bit gram hash is
    collision-free on the fixture) and re-derive every doc's contaminated
    count and keep verdict."""
    from twitter_crawler_spark.ops.corpus import DECON_BENCH_MOD, DECON_N

    got = (
        entrymod.queries()["decontaminate"](spark, SF)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    grams: dict[int, set[tuple[str, ...]]] = {}
    for doc_id, text in zip(docs.doc_id, docs.text):
        toks = _py_tokens(text)
        if len(toks) >= DECON_N:
            grams[int(doc_id)] = {
                tuple(toks[i : i + DECON_N]) for i in range(len(toks) - DECON_N + 1)
            }
    bench: set[tuple[str, ...]] = set()
    for doc_id, gs in grams.items():
        if doc_id % DECON_BENCH_MOD == 0:
            bench |= gs
    # EVERY non-holdout doc appears; sub-DECON_N-token docs carry no gram
    # (n_grams=0, keep=1) rather than vanishing from the report
    rows = [
        (doc_id, len(gs), len(gs & bench), int(not (gs & bench)))
        for doc_id in sorted(int(d) for d in docs.doc_id)
        if doc_id % DECON_BENCH_MOD != 0
        for gs in [grams.get(doc_id, set())]
    ]
    want = pd.DataFrame(rows, columns=["doc_id", "n_grams", "n_contaminated", "keep"])
    assert want.n_contaminated.sum() > 0  # the fixture's duplicated spans bite
    assert (want.keep == 0).sum() > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_sequence_pack_matches_python_twin(spark):
    """Independent twin + invariants for token-budget sequence packing: a
    pure-pandas per-shard running sum must reproduce every (seq_id,
    seq_offset) slot, every offset stays < the budget, and each shard's
    slots are gapless (cum_before advances by exactly n_tokens)."""
    from twitter_crawler_spark.ops.corpus import PACK_BUDGET, PACK_SHARDS

    got = (
        entrymod.queries()["sequence_pack"](spark, SF)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    tw = pd.DataFrame({
        "doc_id": docs.doc_id.astype("int64"),
        "n_tokens": [len(_py_tokens(t)) for t in docs.text],
    })
    tw["shard"] = tw.doc_id % PACK_SHARDS
    tw = tw.sort_values(["shard", "doc_id"]).reset_index(drop=True)
    cum = tw.groupby("shard").n_tokens.cumsum() - tw.n_tokens
    tw["seq_id"] = cum // PACK_BUDGET
    tw["seq_offset"] = cum % PACK_BUDGET
    want = (
        tw[["doc_id", "shard", "n_tokens", "seq_id", "seq_offset"]]
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert want.seq_id.max() > 0  # the fixture actually fills sequences
    assert (got.seq_offset < PACK_BUDGET).all()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_lm_perplexity_matches_python_twin(spark):
    """Independent twin for the self-trained trigram LM score: Counter-based
    trigram/prefix counts over the raw corpus and a per-doc mean of
    -log2(cnt3/cnt2), no SQL anywhere."""
    import math
    import re
    from collections import Counter

    got = (
        entrymod.queries()["lm_perplexity"](spark, SF)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    norm = {
        int(i): re.sub(r"[^a-z0-9]+", " ", t.lower()) for i, t in zip(docs.doc_id, docs.text)
    }
    tris: dict[int, list[str]] = {
        i: [s[k : k + 3] for k in range(len(s) - 2)] for i, s in norm.items() if len(s) >= 3
    }
    c3: Counter = Counter()
    c2: Counter = Counter()
    for ts in tris.values():
        c3.update(ts)
        c2.update(t[:2] for t in ts)
    rows = [
        (i, len(ts), round(sum(-math.log2(c3[t] / c2[t[:2]]) for t in ts) / len(ts), 6))
        for i, ts in sorted(tris.items())
    ]
    want = pd.DataFrame(rows, columns=["doc_id", "n_trigrams", "bits_per_trigram"])
    assert want.bits_per_trigram.min() > 0  # a corpus-trained LM is never certain
    assert want.bits_per_trigram.nunique() > 1  # scores actually separate docs
    pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-6, rtol=0)


def test_lm_perplexity_plan_has_no_lambda(spark):
    """Regression pin for the CollapseProject trap: trigram extraction must
    go through Generate(explode(positions)) with the normalized text
    materialized below it — NOT a transform() lambda, where Spark inlines
    the regexp_replace projection per array element (O(len^2) regex per
    doc, measured 8x slower). No HOF should survive in the optimized plan,
    and the normalization regex must sit below the Generate."""
    df = entrymod.queries()["lm_perplexity"](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" not in plan, "trigram extraction regressed to a HOF"
    gen = plan.index("Generate explode")
    # the normalization regex must be evaluated once per doc BELOW the
    # Generate: str.index raises ValueError if no regexp_replace exists
    # after the Generate node — surface that as a clear failure
    assert "regexp_replace" in plan[gen:], (
        "no regexp_replace below the Generate — normalization was hoisted "
        "or collapsed into a per-element projection"
    )


def test_dedup_clusters_matches_unionfind(spark):
    """3-way pin for the iterative large-star/small-star clustering: the
    Spark DataFrame algorithm vs an independent pure-Python union-find over
    the SAME candidate pairs (the DuckDB recursive-CTE twin is the third
    representation, checked by the driver gate / validate_entry.py).
    Union-by-min keeps each component's root at its min doc_id, matching
    the cluster_id contract."""
    import duckdb

    from twitter_crawler_spark.ops.corpus import sql_lsh_pairs

    got = (
        entrymod.queries()["dedup_clusters"](spark, SF)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from '{SF}/documents.parquet'"
    )
    pairs = con.execute(sql_lsh_pairs("duckdb")).fetchdf()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    parent = {int(d): int(d) for d in docs.doc_id}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs.doc_a, pairs.doc_b):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = pd.DataFrame(
        {
            "doc_id": sorted(parent),
            "cluster_id": [find(d) for d in sorted(parent)],
        }
    )
    assert want.cluster_id.nunique() < len(want)  # fixture has real clusters
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_url_features_tsv_job(spark, tmp_path):
    """S11: the composed feature-vector job written through the TSV sink
    (Main.scala:11-30 saveUrlFeatures → factors.csv analog) round-trips."""
    from pyspark.sql import functions as F
    from twitter_crawler_spark.ops.sinks import write_tsv

    df = entrymod.queries()["url_features"](spark, SF)
    rendered = df.select(
        "user_id", "n", "n_first_hour",
        F.coalesce(F.col("gap_entropy").cast("string"), F.lit("NaN")).alias("gap_entropy"),
        F.coalesce(F.col("fh_gap_entropy").cast("string"), F.lit("NaN")).alias("fh_gap_entropy"),
        F.coalesce(F.col("co_density").cast("string"), F.lit("NaN")).alias("co_density"),
    )
    out = str(tmp_path / "features_tsv")
    write_tsv(rendered, out)
    back = spark.read.option("sep", "\t").csv(out)
    assert back.count() == df.count()
    assert len(back.columns) == 6
    # numeric fields survive the round-trip
    total_n = back.agg(F.sum(F.col(back.columns[1]).cast("long"))).collect()[0][0]
    assert total_n == df.agg(F.sum("n")).collect()[0][0]


def test_tsv_sink_roundtrip(spark, tmp_path):
    """S8/S9 sink: TSV dump with <a|b|c> list encoding round-trips."""
    from twitter_crawler_spark.ops.sinks import NO_ENTITIES, encode_list, write_tsv
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, [])], ["id", "items"]
    ).select("id", encode_list(F.col("items")).alias("enc"))
    out = str(tmp_path / "tsv")
    write_tsv(df, out)
    back = spark.read.option("sep", "\t").csv(out).collect()
    got = {(r[0], r[1]) for r in back}
    assert got == {("1", "<a|b>"), ("2", NO_ENTITIES)}


def test_span_dedup_matches_python_twin(spark):
    """Independent twin for C4-style duplicate-span dedup: recompute the
    non-overlapping token windows with plain Python tuples (no hashing —
    also proves the 60-bit span hash collision-free on the fixture) and
    re-derive every doc's span counts and cross-doc duplicate fraction."""
    from twitter_crawler_spark.ops.corpus import SPAN_W

    got = (
        entrymod.queries()["span_dedup"](spark, SF)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    spans: dict[int, list[tuple[str, ...]]] = {}
    for doc_id, text in zip(docs.doc_id, docs.text):
        toks = _py_tokens(text)
        spans[int(doc_id)] = [
            tuple(toks[i : i + SPAN_W])
            for i in range(0, len(toks) - SPAN_W + 1, SPAN_W)
        ]
    ndocs: dict[tuple[str, ...], set[int]] = {}
    for doc_id, ss in spans.items():
        for s in ss:
            ndocs.setdefault(s, set()).add(doc_id)
    rows = []
    for doc_id in sorted(spans):
        ss = spans[doc_id]
        dup = sum(1 for s in ss if len(ndocs[s]) >= 2)
        rows.append((doc_id, len(ss), dup,
                     round(dup / len(ss), 6) if ss else 0.0))
    want = pd.DataFrame(rows, columns=["doc_id", "n_spans", "n_dup_spans",
                                       "dup_span_frac"])
    assert want.n_dup_spans.sum() > 0  # the fixture's dup docs share spans
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_bm25_matches_python_twin(spark):
    """Independent twin for BM25 retrieval: python floats, Lucene idf form,
    same (score desc, doc_id) tie-break, 1e-6 tolerance on the rounded
    score (the gap_entropy float class)."""
    import math

    from twitter_crawler_spark.ops.corpus import BM25_B, BM25_K1, BM25_QUERY_TERMS

    got = entrymod.queries()["bm25_topk"](spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    toks = {int(i): _py_tokens(t) for i, t in zip(docs.doc_id, docs.text)}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    df = {q: sum(1 for t in toks.values() if q in t) for q in BM25_QUERY_TERMS}
    rows = []
    for doc_id, t in toks.items():
        dl = len(t)
        score, matched = 0.0, 0
        for q in BM25_QUERY_TERMS:
            tf = t.count(q)
            if tf:
                matched += 1
                idf = math.log(1 + (n - df[q] + 0.5) / (df[q] + 0.5))
                score += idf * tf * (BM25_K1 + 1) / (
                    tf + BM25_K1 * (1 - BM25_B + BM25_B * dl / avgdl)
                )
        if matched:
            rows.append((doc_id, matched, round(score, 6)))
    rows.sort(key=lambda r: (-r[2], r[0]))
    want = pd.DataFrame(rows[:20], columns=["doc_id", "n_terms_matched", "bm25"])
    assert len(want) == 20
    pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-6, rtol=0)


def test_gram_explodes_have_no_per_element_regex(spark):
    """Regression pin for the CollapseProject trap on the n-gram/span ops
    (same class as test_lm_perplexity_plan_has_no_lambda): the token-hash
    folds must be computed per EXPLODED POSITION over the th1/th2 columns
    (Generate boundary), never via a transform() lambda that captures the
    computed projections — the trapped plans showed the tokenizer regex
    inlined 18-22x (once per array element), the fixed ones <= 9 (once per
    CTE reference)."""
    # bounds are crude canaries: the counts are once-per-CTE-reference
    # (constant per doc; jaccard's eg CTE is referenced 4x on top of the
    # LSH chain, hence its higher bound) — per-ELEMENT inlining multiplies
    # them by gram count and blows far past these
    for name, bound in (("span_dedup", 6), ("decontaminate", 12),
                        ("doc_fingerprint", 4), ("repetition_stats", 6),
                        ("dedup_ngram_jaccard", 44)):
        df = entrymod.queries()[name](spark, SF)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("Generate explode") >= 1, name
        n_regex = plan.count("regexp_replace")
        assert n_regex <= bound, (
            f"{name}: tokenizer regex appears {n_regex}x in the optimized "
            f"plan (> {bound}) — per-element inlining regressed"
        )


def test_gram_ops_survive_long_documents(spark):
    """Wall-clock regression pin for the per-element-regex class on
    web-realistic document lengths: the trapped array forms took 541 s
    (doc_fingerprint) / 13 s (repetition_stats) on 64 docs of 20k chars;
    the Generate forms run in ~2 s. The generous bound still fails the
    quadratic forms by an order of magnitude while shrugging off host
    throttle noise."""
    import time

    from twitter_crawler_spark.ops.corpus import (
        sql_doc_fingerprint,
        sql_lm_perplexity,
        sql_repetition_stats,
    )

    text = "lorem ipsum dolor sit amet consectetur " * 500  # ~20k chars
    pdf = pd.DataFrame({"doc_id": range(64),
                        "text": [text + str(i) for i in range(64)]})
    spark.createDataFrame(pdf).createOrReplaceTempView("documents")
    for name, sql in (("doc_fingerprint", sql_doc_fingerprint),
                      ("repetition_stats", sql_repetition_stats),
                      ("lm_perplexity", sql_lm_perplexity)):
        t0 = time.time()
        assert spark.sql(sql("spark")).count() == 64
        wall = time.time() - t0
        assert wall < 60, (
            f"{name} took {wall:.0f}s on 64x20k-char docs — a long-document "
            "trap (per-element regex or carried-wide-row explode) is back"
        )


def test_text_normalization_agrees_on_multibyte(spark):
    """The corpus ops that normalize case agree between Spark and DuckDB on
    text with U+0130 'İ', which the engines lowercase differently (Spark:
    'i' plus a combining dot; DuckDB: a bare 'i'). Two near-duplicates give
    dedup_ngram_jaccard a candidate pair to score."""
    import duckdb

    from twitter_crawler_spark.ops.corpus import (
        sql_dedup_ngram_jaccard,
        sql_doc_fingerprint,
        sql_lm_perplexity,
        sql_token_count,
    )

    base = " ".join(f"İstanbul w{i} KELVİN" for i in range(30))
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [base, base + " Ankara", "İİ İstanbul 9İ", "plain ascii Text 42"],
    })
    spark.createDataFrame(pdf, "doc_id long, text string").createOrReplaceTempView("documents")
    with duckdb.connect() as con:
        con.register("documents", pdf)
        for sql in (sql_dedup_ngram_jaccard, sql_doc_fingerprint,
                    sql_lm_perplexity, sql_token_count):
            got = spark.sql(sql("spark")).toPandas()
            want = con.execute(sql("duckdb")).fetchdf()
            assert len(want), sql.__name__
            key = list(want.columns)
            pd.testing.assert_frame_equal(
                got.sort_values(key).reset_index(drop=True),
                want.sort_values(key).reset_index(drop=True),
                check_dtype=False, atol=1e-6, rtol=0, obj=sql.__name__,
            )
