"""Corpus operators: dedup, similarity search, text statistics, multimodal
metadata — each generated for BOTH dialects ("spark", "duckdb") from the
shared templates in ops.exprs, so the DuckDB oracle is definitionally in
sync with the Spark implementation.

Scale notes (the 100 TB story, per query):

* All text hashing runs as Spark SQL higher-order functions — JVM-side,
  whole-stage-codegen'd, zero Python crossings (the per-row-Python ban in
  BASELINE.json input_hint).
* MinHash-LSH turns the quadratic near-dup search into an equi-join on
  (band, key): shuffle partitions by band key, hot buckets are bounded by
  banding geometry. The n-gram Jaccard query is deliberately scoped to
  within-source pairs (bounded blocks), never an unscoped cross join.
* Embedding kNN brute force is the correctness baseline; the LSH-bucketed
  variant is the scale path (hyperplane signs → bucket equi-join instead of
  a full cross product).
"""

from __future__ import annotations

from twitter_crawler_spark.ops import exprs as E

# ---------------------------------------------------------------------------
# template helpers
# ---------------------------------------------------------------------------


def _intdiv(a: str, b: str, d: str) -> str:
    return f"({a} div {b})" if d == "spark" else f"({a} // {b})"


def _xor(a: str, b: str, d: str) -> str:
    return f"({a} ^ {b})" if d == "spark" else f"xor({a}, {b})"


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


def sql_dedup_exact(d: str) -> str:
    """Exact dedup via content digest (hash-groupBy). Reference analog: the
    Lucene messageId dedup probe (storages/TweetStorage.scala:53-60) scaled
    to content identity."""
    digest = f"sha2(text, 256)" if d == "spark" else "sha256(text)"
    return f"""
SELECT {digest} AS digest,
       MIN(doc_id) AS keeper_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
ORDER BY digest
"""


# Bounded verify fan-out: at most this many LSH candidates are exact-verified
# per document (ranked by shared-band count) — caps per-item work and kills
# hot-cluster skew at 100 TB (a duplicate cluster of size m otherwise costs
# O(m²) verifications). The cap is applied on BOTH pair endpoints (doc_a and
# doc_b ranks), so a hub document keeps the bound no matter which side of the
# doc_a < doc_b ordering it lands on.
JACCARD_CAND_CAP = 8

# Hot-bucket guard for the LSH banding join: a (band, key) bucket of m docs
# would emit m(m−1)/2 candidate pairs — at 100 TB a degenerate band key (a
# boilerplate/empty-template duplicate cluster of 10⁶ docs, which real web
# corpora always contain) is a 10¹²-row shuffle block on ONE key. Buckets
# larger than this cap are near-certain duplicate clusters, so they are
# diverted to STAR edges (bucket-min representative → member): O(m) rows,
# connectivity within the bucket preserved EXACTLY (every member reaches
# every other through the representative), so the clustering consumer
# (dedup_clusters) is unchanged in semantics while the worst-case pair
# output drops from quadratic to linear in the hottest bucket. The diverted
# volume is surfaced by the ``lsh_bucket_stats`` report query — truncation
# is never silent.
LSH_BUCKET_CAP = 64


def _lsh_cte(d: str, cap: int = LSH_BUCKET_CAP) -> str:
    """Shared MinHash-LSH banding CTE chain (hashes → sig → bands →
    guarded pair_src) used by every LSH consumer. The signature is computed
    as ONE array column (single aggregate pass over the token hashes on the
    Spark side — see exprs.minhash_sig_col) and the band keys are folds over
    its elements.

    ``pair_src`` is the HOT-BUCKET-GUARDED candidate edge stream (doc_a <
    doc_b, with multiplicity = one row per shared band): buckets of ≤ cap
    docs self-join all-pairs as before; oversized buckets emit star edges
    to the bucket-min representative (see LSH_BUCKET_CAP). The bucket
    sizing is a window over (band, key) — one shuffle on the band key, and
    within-partition cost O(m log m) even for the degenerate bucket, versus
    the O(m²) join output it prevents. NULL band keys (empty-token docs)
    are excluded, matching the equi-join semantics they always had."""
    band_cols = ",\n       ".join(
        f"{E.band_key_arr('sig', b, d)} AS band{b}" for b in range(E.LSH_BANDS)
    )
    if d == "spark":
        bands = (
            "SELECT doc_id, band, key FROM sigs "
            "LATERAL VIEW stack("
            + str(E.LSH_BANDS)
            + ", "
            + ", ".join(f"{b}, band{b}" for b in range(E.LSH_BANDS))
            + ") AS band, key"
        )
    else:
        bands = " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, band{b} AS key FROM sigs"
            for b in range(E.LSH_BANDS)
        )
    return f"""hashes AS (
  SELECT doc_id, {E.token_hashes("text", d)} AS h FROM documents
),
presig AS (
  SELECT doc_id, {E.minhash_sig_col("h", d)} AS sig FROM hashes
),
sigs AS (
  SELECT doc_id, {band_cols} FROM presig
),
bands AS ({bands}),
sized AS (
  SELECT doc_id, band, key,
         COUNT(*) OVER (PARTITION BY band, key) AS bsz,
         MIN(doc_id) OVER (PARTITION BY band, key) AS rep
  FROM bands WHERE key IS NOT NULL
),
pair_src AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sized a JOIN sized b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  WHERE a.bsz <= {cap}
  UNION ALL
  SELECT rep AS doc_a, doc_id AS doc_b
  FROM sized WHERE bsz > {cap} AND doc_id > rep
)"""


def sql_dedup_ngram_jaccard(d: str) -> str:
    """Exact character-3-gram Jaccard as the VERIFY tier over MinHash-LSH
    candidate pairs (never an all-pairs scan): banding equi-join proposes
    candidates, a per-doc top-{JACCARD_CAND_CAP} cap (by shared-band count)
    bounds the verify fan-out, then DISTINCT gram rows score the survivors
    relationally: |A∩B| is a per-pair gram equi-join count and
    |A∪B| = |A|+|B|−|A∩B|. Grams are emitted ONLY for documents appearing
    in a capped candidate pair (semi-join on the candidate endpoints): at
    100 TB the char-gram extraction touches the candidate set, never the
    corpus. Gram POSITIONS are exploded through a Generate and each gram is
    a substring of the normalized-text COLUMN per exploded row — the
    array-building ``transform`` lambda form captures the computed
    normalization and re-runs its regex per element (the lm_perplexity
    CollapseProject trap: O(len²) per doc, 541 s for 64×20k-char docs in
    the doc_fingerprint case)."""
    norm = E.alnum_text("text", d)
    # two-level explode (258-char segments, stride 256, 2-char overlap) for
    # the same carried-wide-row reason as lm_perplexity: the DISTINCT is an
    # aggregate keyed on a slice of the parent string, so the parent must be
    # a short segment, not the whole (possibly 100k-char) document
    if d == "spark":
        seg_cte = ("SELECT doc_id, substring(s, off, 258) AS seg FROM nrm"
                   " LATERAL VIEW explode(sequence(1, greatest(length(s) - 2, 1), 256)) AS off"
                   " WHERE length(s) >= 3")
        eg = ("SELECT DISTINCT doc_id, substring(seg, pos, 3) AS gram FROM segs"
              " LATERAL VIEW explode(sequence(1, length(seg) - 2)) AS pos")
    else:
        seg_cte = ("SELECT doc_id, s[off:off+257] AS seg FROM nrm,"
                   " UNNEST(generate_series(1, greatest(length(s) - 2, 1), 256)) AS uo(off)"
                   " WHERE length(s) >= 3")
        eg = ("SELECT DISTINCT doc_id, seg[pos:pos+2] AS gram FROM segs,"
              " UNNEST(generate_series(1, length(seg) - 2)) AS u(pos)")
    return f"""
WITH {_lsh_cte(d)},
cand AS (
  SELECT doc_a, doc_b, COUNT(*) AS n_shared_bands
  FROM pair_src
  GROUP BY 1, 2
),
capped AS (
  SELECT doc_a, doc_b FROM (
    SELECT doc_a, doc_b,
           ROW_NUMBER() OVER (PARTITION BY doc_a
                              ORDER BY n_shared_bands DESC, doc_b) AS rka,
           ROW_NUMBER() OVER (PARTITION BY doc_b
                              ORDER BY n_shared_bands DESC, doc_a) AS rkb
    FROM cand
  ) ranked WHERE rka <= {JACCARD_CAND_CAP} AND rkb <= {JACCARD_CAND_CAP}
),
cand_docs AS (
  SELECT doc_a AS doc_id FROM capped UNION SELECT doc_b AS doc_id FROM capped
),
nrm AS (
  SELECT d.doc_id, {norm} AS s
  FROM documents d JOIN cand_docs cd ON cd.doc_id = d.doc_id
),
segs AS ({seg_cte}),
eg AS ({eg}),
gcnt AS (SELECT doc_id, COUNT(*) AS n FROM eg GROUP BY doc_id),
ints AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM capped c
  JOIN eg ga ON ga.doc_id = c.doc_a
  JOIN eg gb ON gb.doc_id = c.doc_b AND gb.gram = ga.gram
  GROUP BY 1, 2
),
scored AS (
  SELECT c.doc_a, c.doc_b,
         COALESCE(i.inter, 0) AS inter,
         COALESCE(na.n, 0) AS na, COALESCE(nb.n, 0) AS nb
  FROM capped c
  LEFT JOIN ints i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  LEFT JOIN gcnt na ON na.doc_id = c.doc_a
  LEFT JOIN gcnt nb ON nb.doc_id = c.doc_b
)
SELECT doc_a, doc_b,
       ROUND(CASE WHEN na + nb - inter = 0 THEN NULL
                  ELSE CAST(inter AS DOUBLE) / (na + nb - inter) END, 6) AS jaccard
FROM scored
ORDER BY jaccard DESC, doc_a, doc_b
LIMIT 20
"""


def sql_dedup_minhash_lsh(d: str, cap: int = LSH_BUCKET_CAP) -> str:
    """MinHash signatures + LSH banding: near-dup candidate pairs become an
    equi-join on (band, band_key) — the 100 TB-scalable plan (no cross
    join anywhere), hot-bucket-guarded (see LSH_BUCKET_CAP: oversized
    buckets contribute star edges to their representative instead of
    all-pairs). ``n_shared_bands`` counts the bands in which the pair
    either co-occurred in a small bucket or is (representative, member) of
    a hot bucket."""
    return f"""
WITH {_lsh_cte(d, cap)}
SELECT doc_a, doc_b, COUNT(*) AS n_shared_bands
FROM pair_src
GROUP BY 1, 2
ORDER BY n_shared_bands DESC, doc_a, doc_b
"""


def sql_lsh_pairs(d: str) -> str:
    """DISTINCT MinHash-LSH candidate pairs (doc_a < doc_b), no band count,
    no ordering — the shared edge list consumed by BOTH the iterative
    connected-components clustering (ops.components.q_dedup_clusters) and
    its recursive-CTE oracle (sql_dedup_clusters), so the two sides see a
    definitionally identical candidate graph."""
    return f"""
WITH {_lsh_cte(d)}
SELECT DISTINCT doc_a, doc_b FROM pair_src
"""


def sql_lsh_bucket_stats(d: str, cap: int = LSH_BUCKET_CAP) -> str:
    """Per-band report of the hot-bucket guard's effect: bucket counts, how
    many buckets exceeded LSH_BUCKET_CAP, how many doc-slots sit in hot
    buckets, and the candidate-pair volume with and without the guard
    (``pairs_unguarded`` = Σ m(m−1)/2; ``pairs_emitted`` = Σ_small m(m−1)/2
    + Σ_hot (m−1)). This is the 'never silent' side report the guard
    promises: a pipeline run logs diverted = unguarded − emitted per band,
    and a blow-up that WOULD have happened shows up here as a concrete row
    count instead of a dead cluster."""
    pairs_all = _intdiv("n_docs * (n_docs - 1)", "2", d)
    return f"""
WITH {_lsh_cte(d, cap)},
bsz AS (
  SELECT band, key, COUNT(*) AS n_docs
  FROM bands WHERE key IS NOT NULL
  GROUP BY band, key
)
SELECT band,
       COUNT(*) AS n_buckets,
       CAST(SUM(CASE WHEN n_docs > {cap} THEN 1 ELSE 0 END) AS BIGINT) AS hot_buckets,
       CAST(SUM(CASE WHEN n_docs > {cap} THEN n_docs ELSE 0 END) AS BIGINT) AS hot_docs,
       CAST(SUM({pairs_all}) AS BIGINT) AS pairs_unguarded,
       CAST(SUM(CASE WHEN n_docs > {cap} THEN n_docs - 1
                     ELSE {pairs_all} END) AS BIGINT) AS pairs_emitted
FROM bsz
GROUP BY band
ORDER BY band
"""


def sql_dedup_clusters(d: str) -> str:
    """DuckDB-only oracle for near-dup CLUSTERING: every document labeled
    with the minimum doc_id of its connected component in the MinHash-LSH
    candidate graph (singletons label themselves). Min-label propagation as
    a recursive CTE: a label l spreads across an edge to node n iff l < n,
    and the component minimum m satisfies m < n for every other member, so
    m reaches the whole component and MIN(lbl) per node is exactly the
    component minimum. The Spark side is NOT this SQL — it is the iterative
    alternating large-star/small-star DataFrame algorithm
    (ops/components.py), which this CTE gates."""
    if d != "duckdb":
        raise ValueError("dedup_clusters oracle is DuckDB-only; the Spark "
                         "side is the iterative algorithm in ops.components")
    return f"""
WITH RECURSIVE {_lsh_cte(d)},
pairs AS (
  SELECT DISTINCT doc_a, doc_b FROM pair_src
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
cc(node, lbl) AS (
    SELECT doc_id, doc_id FROM documents
  UNION
    SELECT e.v, cc.lbl
    FROM edges e JOIN cc ON cc.node = e.u
    WHERE cc.lbl < e.v
)
SELECT node AS doc_id, MIN(lbl) AS cluster_id
FROM cc
GROUP BY node
ORDER BY doc_id
"""


def sql_repetition_stats(d: str) -> str:
    """Gopher-style repetition / quality signals per document (Rae et al.
    2021 §A1.1 repetition filters, re-expressed relationally): duplicate-
    word fraction plus the fraction of word n-grams occupied by the single
    most frequent bigram / trigram. Pure set/windowless aggregation — the
    grams explode is linear in corpus size, grouped by (doc, n, gram), so
    the plan is two hash aggregates over a generate, no window, no join
    wider than doc_id. Docs with fewer than 3 tokens carry no defined
    trigram signal and are excluded (none exist in the fixture).

    Plan note: word-gram POSITIONS explode through a Generate and each
    bigram/trigram is concatenated from the token-array COLUMN per exploded
    row — the previous ``transform(sequence(...), i -> concat(toks[i]...))``
    lambdas captured the computed tokenization, which CollapseProject
    inlines and re-runs (split + regex) per gram: O(n_tokens²) per doc,
    measured 13.1 s → sub-second on 64×3.4k-token documents."""
    toks = E.tokens("text", d)
    n_tok = E.arr_size("toks", d)
    n_dis = E.arr_size(E.distinct("toks", d), d)
    if d == "spark":
        at = lambda i: f"element_at(toks, {i})"  # noqa: E731
        expl = (
            "SELECT doc_id, 2 AS n,"
            f" concat({at('pos')}, ' ', {at('pos + 1')}) AS gram"
            " FROM base LATERAL VIEW explode(sequence(1, n_tokens - 1)) AS pos"
            " UNION ALL "
            "SELECT doc_id, 3 AS n,"
            f" concat({at('pos')}, ' ', {at('pos + 1')}, ' ', {at('pos + 2')}) AS gram"
            " FROM base LATERAL VIEW explode(sequence(1, n_tokens - 2)) AS pos"
        )
    else:
        expl = (
            "SELECT doc_id, 2 AS n,"
            " concat(toks[pos], ' ', toks[pos + 1]) AS gram"
            " FROM base, UNNEST(generate_series(1, n_tokens - 1)) AS u2(pos)"
            " UNION ALL "
            "SELECT doc_id, 3 AS n,"
            " concat(toks[pos], ' ', toks[pos + 1], ' ', toks[pos + 2]) AS gram"
            " FROM base, UNNEST(generate_series(1, n_tokens - 2)) AS u3(pos)"
        )
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
base AS (
  SELECT doc_id, toks, {n_tok} AS n_tokens, {n_dis} AS n_distinct
  FROM t WHERE {n_tok} >= 3
),
e AS ({expl}),
c AS (SELECT doc_id, n, gram, COUNT(*) AS cnt FROM e GROUP BY 1, 2, 3),
m AS (SELECT doc_id, n, MAX(cnt) AS top_cnt, SUM(cnt) AS total FROM c GROUP BY 1, 2),
p AS (
  SELECT doc_id,
         MAX(CASE WHEN n = 2 THEN ROUND(CAST(top_cnt AS DOUBLE) / total, 6) END) AS top_bigram_frac,
         MAX(CASE WHEN n = 3 THEN ROUND(CAST(top_cnt AS DOUBLE) / total, 6) END) AS top_trigram_frac
  FROM m GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       ROUND(CAST(1 AS DOUBLE) - CAST(b.n_distinct AS DOUBLE) / b.n_tokens, 6) AS dup_word_frac,
       p.top_bigram_frac, p.top_trigram_frac
FROM base b JOIN p ON p.doc_id = b.doc_id
ORDER BY b.doc_id
"""


# SimHash near-pair banding: hamming ≤ SIMHASH_MAX_HAMMING over SIMHASH_BITS
# bits, pigeonholed into SIMHASH_CHUNKS equal chunks — any pair within the
# hamming radius must agree exactly on ≥ 1 chunk (3 flipped bits cannot touch
# all 4 chunks), so candidates come from an equi-join on (chunk_idx,
# chunk_val) and the exact hamming filter never sees an all-pairs product.
SIMHASH_CHUNKS = 4
SIMHASH_MAX_HAMMING = 3
_CHUNK_W = E.SIMHASH_BITS // SIMHASH_CHUNKS  # 15 bits per chunk


def sql_dedup_simhash(d: str) -> str:
    """SimHash near-pair report (hamming ≤ {SIMHASH_MAX_HAMMING} within a
    lang) via pigeonhole chunk banding — result-identical to the all-pairs
    formulation (the banding is exact, not approximate: 3 flipped bits cannot
    touch all 4 chunks) but the join is an equi-join on (lang, chunk,
    chunk_val).

    Scale geometry (round 3): the fingerprint is 60 bits (two independent
    sub-2^30 polynomial hashes per token, int64-exact in both engines), so
    each of the 4 chunks is 15 bits — a 2^15-value key space per (lang,
    chunk), which keeps candidate blocks tiny at 100 TB (the round-1/2
    16-bit/4-bit-chunk constants were toy-scale: key space lang × 4 × 16)."""
    chunk_vals = ",\n         ".join(
        f"({_intdiv('sh', str(1 << (_CHUNK_W * c)), d)} % {1 << _CHUNK_W}) AS c{c}"
        for c in range(SIMHASH_CHUNKS)
    )
    if d == "spark":
        chunks = (
            "SELECT doc_id, lang, sh, chunk, val FROM sc "
            "LATERAL VIEW stack("
            + str(SIMHASH_CHUNKS)
            + ", "
            + ", ".join(f"{c}, c{c}" for c in range(SIMHASH_CHUNKS))
            + ") AS chunk, val"
        )
    else:
        chunks = " UNION ALL ".join(
            f"SELECT doc_id, lang, sh, {c} AS chunk, c{c} AS val FROM sc"
            for c in range(SIMHASH_CHUNKS)
        )
    return f"""
WITH th AS (
  SELECT doc_id, lang, {E.token_hashes_wide("text", d)} AS h FROM documents
),
s AS (
  SELECT doc_id, lang, {E.simhash("h", d)} AS sh
  FROM th
),
sc AS (
  SELECT doc_id, lang, sh,
         {chunk_vals}
  FROM s
),
chunks AS ({chunks}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sh AS sh_a, b.sh AS sh_b
  FROM chunks a JOIN chunks b
    ON a.lang = b.lang AND a.chunk = b.chunk AND a.val = b.val
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count({_xor("sh_a", "sh_b", d)}) AS hamming
FROM cand
WHERE bit_count({_xor("sh_a", "sh_b", d)}) <= {SIMHASH_MAX_HAMMING}
ORDER BY hamming, doc_a, doc_b
"""


def sql_simhash_signatures(d: str) -> str:
    """The raw SimHash signature table (doc_id → 60-bit integer fingerprint)."""
    return f"""
WITH th AS (
  SELECT doc_id, {E.token_hashes_wide("text", d)} AS h FROM documents
)
SELECT doc_id, {E.simhash("h", d)} AS simhash60
FROM th
ORDER BY doc_id
"""


def sql_dedup_embedding_nn(d: str) -> str:
    """Embedding near-dup, LSH-routed (the scale path): each vector's nearest
    cosine neighbour among vectors sharing its (label, hyperplane-LSH
    bucket) — the bucket equi-join replaces the within-label all-pairs
    product (quadratic in the largest label at 100 TB). Vectors whose bucket
    holds no other same-label vector have no near-dup candidate and emit no
    row; ``ann_bruteforce_topk`` remains the exact-search baseline."""
    cos = E.cosine("a.embedding", "b.embedding", d)
    return f"""
WITH h AS (
  SELECT vec_id, label, embedding, {_lsh_bucket("embedding", d)} AS bucket
  FROM embeddings
),
p AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
         {cos} AS cos
  FROM h a JOIN h b
    ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
r AS (
  SELECT vec_id, nn_id, cos,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nn_id) AS rk
  FROM p
)
SELECT vec_id, nn_id, ROUND(cos, 6) AS cos_sim
FROM r WHERE rk = 1
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def sql_ann_bruteforce(d: str) -> str:
    """Brute-force top-3 cosine neighbours for the query set (vec_id < 10)."""
    cos = E.cosine("q.embedding", "c.embedding", d)
    return f"""
WITH q AS (SELECT * FROM embeddings WHERE vec_id < 10),
c AS (SELECT * FROM embeddings WHERE vec_id >= 10),
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cos
  FROM q JOIN c ON 1 = 1
),
r AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
  FROM s
)
SELECT query_id, rk AS rank, neighbor_id, ROUND(cos, 6) AS cos_sim
FROM r WHERE rk <= 3
ORDER BY query_id, rank
"""


def _lsh_bucket(emb: str, d: str, planes: int = 8, dim: int = 64) -> str:
    """Deterministic hyperplane-LSH bucket id: integer pseudo-random plane
    weights w_j[i] = ((i*31 + j*17) % 7) - 3; bit j = (emb · w_j) >= 0."""
    bits = []
    for j in range(planes):
        w = f"cast((((i * 31 + {j * 17}) % 7) - 3) as double)"
        if d == "spark":
            dotj = (
                f"aggregate(sequence(1, {dim}), cast(0 as double),"
                f" (acc, i) -> acc + cast(element_at({emb}, i) as double) * {w})"
            )
        else:
            dotj = (
                f"list_reduce(list_prepend(cast(0 as double),"
                f" list_transform(generate_series(1, {dim}),"
                f" i -> cast({emb}[i] as double) * {w})), (acc, v) -> acc + v)"
            )
        bits.append(f"(case when ({dotj}) >= 0 then {1 << j} else 0 end)")
    return "(" + " + ".join(bits) + ")"


def sql_ann_lsh(d: str) -> str:
    """LSH-bucketed ANN (the scale path): hyperplane-sign bucket equi-join
    replaces the cross product; per-bucket cosine top-3."""
    cos = E.cosine("q.embedding", "c.embedding", d)
    return f"""
WITH h AS (
  SELECT vec_id, label, embedding, {_lsh_bucket("embedding", d)} AS bucket
  FROM embeddings
),
q AS (SELECT * FROM h WHERE vec_id < 10),
c AS (SELECT * FROM h WHERE vec_id >= 10),
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cos
  FROM q JOIN c ON q.bucket = c.bucket
),
r AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
  FROM s
)
SELECT query_id, rk AS rank, neighbor_id, ROUND(cos, 6) AS cos_sim
FROM r WHERE rk <= 3
ORDER BY query_id, rank
"""


ANN_IVF_K = 8  # coarse-quantizer size (inverted lists)
ANN_IVF_NPROBE = 2  # cells scanned per query


def sql_ann_ivf(d: str) -> str:
    """IVF-FLAT ANN — the second scale path beside ``ann_lsh_bucketed``: a
    K-row coarse quantizer partitions candidates into inverted lists
    (cells); a query scores only its NPROBE nearest cells instead of the
    whole corpus.

    Centroids are deterministically seeded (the K lowest-id candidate
    vectors) rather than Lloyd-trained: the index GEOMETRY is the scale
    claim — centroid table stays K rows (broadcast) at any corpus size,
    assignment is one narrow candidates × K pass (BroadcastNestedLoopJoin
    with a constant-size build side, hinted in the spark dialect), and the
    search join is an equi-join on ``cell`` whose shuffle carries ~NPROBE/K
    of the corpus versus the brute-force cross product. Lloyd refinement is
    deliberately out: float centroid averaging is summation-order-dependent
    across engines, which would break the cross-engine hash gate (same
    reason the MinHash/SimHash tiers use integer arithmetic); a production
    index would train centroids offline and feed them in as the ``ct``
    table unchanged."""
    hint = "/*+ BROADCAST(ct) */ " if d == "spark" else ""
    cos_cc = E.cosine("c.embedding", "ct.embedding", d)
    cos_qc = E.cosine("q.embedding", "ct.embedding", d)
    cos_s = E.cosine("p.embedding", "a.embedding", d)
    return f"""
WITH ct AS (
  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id >= 10
  ORDER BY vec_id LIMIT {ANN_IVF_K}
),
assign0 AS (
  SELECT {hint}c.vec_id, c.embedding, ct.cid, {cos_cc} AS cos,
         ROW_NUMBER() OVER (PARTITION BY c.vec_id
                            ORDER BY {cos_cc} DESC, ct.cid) AS rk
  FROM embeddings c JOIN ct ON 1 = 1
  WHERE c.vec_id >= 10
),
a AS (SELECT vec_id, embedding, cid AS cell FROM assign0 WHERE rk = 1),
probe0 AS (
  SELECT {hint}q.vec_id, q.embedding, ct.cid,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
                            ORDER BY {cos_qc} DESC, ct.cid) AS rk
  FROM embeddings q JOIN ct ON 1 = 1
  WHERE q.vec_id < 10
),
p AS (SELECT vec_id, embedding, cid AS cell FROM probe0 WHERE rk <= {ANN_IVF_NPROBE}),
s AS (
  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id, {cos_s} AS cos
  FROM p JOIN a ON p.cell = a.cell
),
r AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
  FROM s
)
SELECT query_id, rk AS rank, neighbor_id, ROUND(cos, 6) AS cos_sim
FROM r WHERE rk <= 3
ORDER BY query_id, rank
"""


CLEAN_MIN_TOKENS = 25  # quality gate: drop short docs
CLEAN_MAX_DUPFRAC = 0.65  # quality gate: drop highly repetitive docs


def sql_corpus_clean(d: str) -> str:
    """Composed training-corpus cleaning pipeline — the flagship composition
    over the corpus tier, chaining four stages the way a pretraining data
    pipeline would: (1) quality gate (min tokens + max dup-word fraction),
    (2) exact dedup (sha256 digest, keep lowest doc_id), (3) MinHash-LSH
    near-dup removal (drop the higher doc_id of every surviving candidate
    pair — the keep-first rule), (4) per-lang report of what each stage
    removed and what survived.

    Composition notes for scale: the LSH banding is computed ONCE over all
    documents via the shared ``_lsh_cte`` template (banding is per-doc, so
    candidate pairs among survivors ≡ all-corpus pairs with both endpoints
    surviving — no second signature pass; under the hot-bucket guard a hot
    bucket's members are dominated via its representative, so if the
    representative itself fails an earlier gate its surviving near-twins
    are kept — the documented, deterministic guard policy); every stage is a hash
    aggregate / equi-join / anti-join (NOT EXISTS), so the whole pipeline
    is one shuffle chain with no cross product and no Python."""
    digest = "sha2(text, 256)" if d == "spark" else "sha256(text)"
    toks = E.tokens("text", d)
    return f"""
WITH {_lsh_cte(d)},
base AS (
  SELECT doc_id, lang, text, {E.arr_size(toks, d)} AS n_tokens,
         {E.arr_size(E.distinct(toks, d), d)} AS n_distinct
  FROM documents
),
qual AS (
  SELECT * FROM base
  WHERE n_tokens >= {CLEAN_MIN_TOKENS}
    AND CAST(n_distinct AS DOUBLE) / n_tokens >= {1.0 - CLEAN_MAX_DUPFRAC}
),
ex AS (SELECT doc_id, lang, n_tokens, {digest} AS digest FROM qual),
keepers AS (SELECT digest, MIN(doc_id) AS doc_id FROM ex GROUP BY 1),
s1 AS (
  SELECT e.doc_id, e.lang, e.n_tokens
  FROM ex e JOIN keepers k ON e.doc_id = k.doc_id
),
pairs AS (
  SELECT DISTINCT doc_a, doc_b FROM pair_src
),
dom AS (
  SELECT DISTINCT p.doc_b AS doc_id
  FROM pairs p
  JOIN s1 x ON p.doc_a = x.doc_id
  JOIN s1 y ON p.doc_b = y.doc_id
),
s2 AS (
  SELECT s1.doc_id, s1.lang, s1.n_tokens FROM s1
  WHERE NOT EXISTS (SELECT 1 FROM dom WHERE dom.doc_id = s1.doc_id)
),
a0 AS (SELECT lang, COUNT(*) AS n_docs FROM base GROUP BY 1),
a1 AS (SELECT lang, COUNT(*) AS n_qual FROM qual GROUP BY 1),
a2 AS (SELECT lang, COUNT(*) AS n_exact FROM s1 GROUP BY 1),
a3 AS (SELECT lang, COUNT(*) AS kept_docs,
              CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
              ROUND(AVG(CAST(n_tokens AS DOUBLE)), 6) AS avg_doc_tokens
       FROM s2 GROUP BY 1)
SELECT a0.lang,
       a0.n_docs,
       a0.n_docs - COALESCE(a1.n_qual, 0) AS quality_removed,
       COALESCE(a1.n_qual, 0) - COALESCE(a2.n_exact, 0) AS exact_removed,
       COALESCE(a2.n_exact, 0) - COALESCE(a3.kept_docs, 0) AS neardup_removed,
       COALESCE(a3.kept_docs, 0) AS kept_docs,
       COALESCE(a3.kept_tokens, 0) AS kept_tokens,
       a3.avg_doc_tokens
FROM a0
LEFT JOIN a1 ON a1.lang = a0.lang
LEFT JOIN a2 ON a2.lang = a0.lang
LEFT JOIN a3 ON a3.lang = a0.lang
ORDER BY a0.lang
"""


# Per-lang sampling rates for the stratified sample (premultiplied against
# SAMPLE_MOD below so the predicate is pure integer arithmetic).
SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.25, "zh": 0.1}
SAMPLE_MOD = 1_000_000
_KNUTH = 2654435761  # Knuth multiplicative constant


def sql_sample_stratified(d: str) -> str:
    """Deterministic hash-stratified sampling — the reproducible-sampling
    primitive a training-data pipeline needs at 100 TB: membership is a pure
    function of the key (keep iff (doc_id * Knuth) mod M < rate * M), so the
    sample is identical across runs, engines, partitionings and retries with
    NO RNG state, no shuffle, and no driver coordination — the predicate
    evaluates row-local inside the scan (whole-stage codegen). Per-stratum
    rates implement the curation mix. The report pins exact membership via
    an order-insensitive doc_id checksum, not just counts.

    The multiplicative hash keeps int64-exact in both engines at fixture
    ids; a production deployment swaps in xxhash64(key) & mask on the Spark
    side (same row-local shape) once cross-engine oracle parity is no longer
    the constraint."""
    thresh = "CASE lang " + " ".join(
        f"WHEN '{lg}' THEN {int(r * SAMPLE_MOD)}" for lg, r in sorted(SAMPLE_RATES.items())
    ) + " ELSE 0 END"
    return f"""
WITH s AS (
  SELECT lang, doc_id,
         CASE WHEN ((doc_id * {_KNUTH}) % {SAMPLE_MOD}) < ({thresh})
              THEN 1 ELSE 0 END AS keep
  FROM documents
)
SELECT lang,
       COUNT(*) AS total_docs,
       CAST(SUM(keep) AS BIGINT) AS sampled_docs,
       ROUND(CAST(SUM(keep) AS DOUBLE) / COUNT(*), 6) AS achieved_rate,
       CAST(SUM(keep * doc_id) AS BIGINT) AS sample_checksum
FROM s
GROUP BY lang
ORDER BY lang
"""


# Target per-lang token share for the mixture-weight query (uniform here;
# a real curation config feeds domain-specific targets).
MIX_TARGET_SHARE = 0.2


def sql_mixture_weights(d: str) -> str:
    """Pretraining mixture rebalancing: given the corpus's current per-lang
    token share, compute the per-lang sampling rate that moves the mix
    toward a uniform target share — rate ∝ target/current, normalized so the
    largest rate is 1.0 (you can only downsample, not mint data). Two hash
    aggregates and a broadcastable 1-row total: no window, no Python; at
    100 TB the per-stratum aggregate is the only shuffle and its key space
    is #strata."""
    toks = E.tokens("text", d)
    return f"""
WITH t AS (
  SELECT lang, CAST({E.arr_size(toks, d)} AS BIGINT) AS n_tokens FROM documents
),
agg AS (
  SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS tokens FROM t GROUP BY lang
),
tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total FROM agg),
w AS (
  SELECT a.lang, a.tokens,
         CAST(a.tokens AS DOUBLE) / tot.total AS cur_share,
         {MIX_TARGET_SHARE} / (CAST(a.tokens AS DOUBLE) / tot.total) AS raw_rate
  FROM agg a, tot
),
mx AS (SELECT MAX(raw_rate) AS m FROM w)
SELECT w.lang, w.tokens,
       ROUND(w.cur_share, 6) AS cur_share,
       CAST({MIX_TARGET_SHARE} AS DOUBLE) AS target_share,
       ROUND(w.raw_rate / mx.m, 6) AS sample_rate
FROM w, mx
ORDER BY w.lang
"""


# ---------------------------------------------------------------------------
# text statistics
# ---------------------------------------------------------------------------


def sql_lang_id(d: str) -> str:
    """Stopword-marker language id (deterministic argmax, ties → list order)."""
    toks = E.tokens("text", d)
    scores = E.lang_scores("t.toks", d)
    langs = list(E.LANG_MARKERS)
    score_cols = ",\n       ".join(f"{scores[lg]} AS s_{lg}" for lg in langs)
    # argmax with first-wins tie-break in declaration order
    pred = "CASE "
    for lg in langs:
        others = [f"s_{lg} >= s_{o}" for o in langs if o != lg]
        pred += f"WHEN {' AND '.join(others)} THEN '{lg}' "
    pred += "ELSE 'unk' END"
    return f"""
WITH t AS (SELECT doc_id, lang, {toks} AS toks FROM documents),
sc AS (
  SELECT doc_id, lang, {score_cols} FROM t
)
SELECT doc_id, lang AS labeled_lang, {pred} AS pred_lang,
       s_en, s_de, s_fr, s_es, s_zh
FROM sc
ORDER BY doc_id
"""


def sql_quality_score(d: str) -> str:
    """Document quality features: token counts, distinct ratio, punctuation
    density, mean token length — all exact rational arithmetic, rounded."""
    toks = E.tokens("text", d)
    n_tok = E.arr_size("toks", d)
    n_dis = E.arr_size(E.distinct("toks", d), d)
    tok_chars = E.arr_sum_bigint(E.transform("toks", "t -> length(t)", d), d)
    if d == "spark":
        n_punct = r"size(regexp_extract_all(text, '[^A-Za-z0-9\\s]', 0))"
    else:
        n_punct = r"len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))"
    return f"""
WITH t AS (SELECT doc_id, text, length(text) AS n_chars, {toks} AS toks FROM documents),
f AS (
  SELECT doc_id, n_chars,
         {n_tok} AS n_tokens,
         {n_dis} AS n_distinct,
         {tok_chars} AS tok_chars,
         {n_punct} AS n_punct
  FROM t
)
SELECT doc_id, n_chars, n_tokens, n_distinct, n_punct,
       ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS distinct_ratio,
       ROUND(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_density,
       ROUND(CAST(tok_chars AS DOUBLE) / n_tokens, 6) AS mean_tok_len
FROM f
WHERE n_tokens > 0
ORDER BY doc_id
"""


def sql_token_count(d: str) -> str:
    """Whitespace tokens vs BPE-ish regex tokens (letters / digits / single
    punct) — the two token-count estimators a data pipeline reports."""
    toks = E.tokens("text", d)
    # no lower(): case does not change where a letter run ends, and
    # lowercasing non-ASCII differs between the engines (see E.alnum_text)
    if d == "spark":
        bpe = "size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0))"
    else:
        bpe = "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))"
    return f"""
SELECT doc_id,
       {E.arr_size(toks, d)} AS ws_tokens,
       {bpe} AS bpe_tokens
FROM documents
ORDER BY doc_id
"""


def sql_doc_fingerprint(d: str) -> str:
    """Document fingerprints: whole-text polynomial hash + the minimum
    8-gram rolling hash (winnowing-style representative).

    Plan note: gram POSITIONS explode through a Generate and each gram is a
    substring of the normalized-text COLUMN, hashed per exploded row — the
    previous array form (``arr_min(transform(char_ngrams(...)))``) captured
    the computed normalization inside the lambda, and Spark's
    CollapseProject re-ran the regex per gram: O(len²) per doc, measured
    **541 s → 2.2 s** on 64×20k-char documents (the fixture's ~300-char
    docs hid it; web documents are 10-100× longer). MIN over hashed grams ≡
    min over the distinct-gram array. Docs whose normalized text is shorter
    than 8 chars emit NULL min_gram_hash in BOTH dialects (the array form
    silently diverged on them: Spark's ``sequence(1, len-7)`` with len < 8
    is the descending [1, 0] trap while DuckDB's generate_series is empty —
    a latent oracle divergence no fixture doc hit, now gone)."""
    full = E.str_hash("text", d)
    norm = E.alnum_text("text", d)
    gram_hash = E.str_hash("gram", d)
    if d == "spark":
        eg = ("SELECT doc_id, substring(s, pos, 8) AS gram FROM nrm"
              " LATERAL VIEW explode(sequence(1, length(s) - 7)) AS pos"
              " WHERE length(s) >= 8")
    else:
        eg = ("SELECT doc_id, s[pos:pos+7] AS gram FROM nrm,"
              " UNNEST(generate_series(1, length(s) - 7)) AS u(pos)"
              " WHERE length(s) >= 8")
    return f"""
WITH nrm AS (SELECT doc_id, {norm} AS s FROM documents),
eg AS ({eg}),
m AS (SELECT doc_id, MIN({gram_hash}) AS min_gram_hash FROM eg GROUP BY doc_id)
SELECT d.doc_id, {full} AS full_hash, m.min_gram_hash
FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# multimodal metadata (binary column plumbing; decode itself is stubbed in
# ops.multimodal — no image/audio libs in this environment)
# ---------------------------------------------------------------------------


def sql_token_edges(d: str) -> str:
    """P5 hashtag-entity explode analog (threads/TwitterStreamListener.scala:
    54-64 performHashTags → GraphStorage 'save_hash edges): per document,
    explode the distinct entity-like tokens (length ≥ 6) into edge rows and
    aggregate the (source, token) edge multiplicity — the status→hashtag
    fan-out re-expressed as a generate→groupBy dataflow."""
    toks = E.tokens("text", d)
    ent = (
        f"array_distinct(filter(toks, x -> length(x) >= 6))"
        if d == "spark"
        else "list_distinct(list_filter(toks, x -> length(x) >= 6))"
    )
    if d == "spark":
        src = f"t LATERAL VIEW explode({ent}) AS token"
    else:
        src = f"t, UNNEST({ent}) AS u(token)"
    return f"""
WITH t AS (SELECT doc_id, source, {toks} AS toks FROM documents)
SELECT source, token, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
FROM {src}
GROUP BY source, token
ORDER BY n_docs DESC, source, token
LIMIT 100
"""


def sql_multimodal_features(d: str) -> str:
    """Dual-dialect twin of ops.multimodal.q_multimodal_features: the fake
    decoder is deterministic byte arithmetic (h = 8 + b0 % 8, w = 8 + b1 % 8,
    pixels = payload bytes tiled to h*w), so its features are exactly
    SQL-expressible — pix_sum uses the closed form full_reps * sum(codes) +
    sum(first (h*w mod n) codes), and the mean is the floored integer
    intensity_e6 = pix_sum * 10^6 div (h*w), bit-identical to the Python path.
    Assumes 1-byte characters (charcode == byte value — the ASCII testdata
    satisfies this, and tests/test_ops.py asserts it at generation scale so a
    fixture change fails loudly instead of surfacing as a confusing oracle
    mismatch; the mapInPandas implementation itself is byte-general). NULL
    text is coalesced to '' — the zeros row the Python path emits for an
    absent payload. The Spark dialect exists only as a pytest 3-way pin; the
    engine-side implementation stays the Arrow mapInPandas pipeline."""
    codes = E.char_codes("coalesce(text, '')", d)
    code_sum = E.arr_sum_bigint("codes", d)
    b0 = E.arr_at("codes", 1, d)
    b1 = E.arr_at("codes", 2, d)
    hw = "(height * width)"
    rem_sum = E.arr_sum_bigint(E.first_k("codes", f"({hw} % n)", d), d)
    full_reps = _intdiv(hw, "n", d)
    pix = _intdiv("(pix_sum * 1000000)", hw, d)
    return f"""
WITH c AS (
  SELECT doc_id, length(coalesce(text, '')) AS n, {codes} AS codes
  FROM documents
),
dims AS (
  SELECT doc_id, n, codes,
         (CASE WHEN n >= 1 THEN 8 + ({b0} % 8) ELSE 8 END) AS height,
         (CASE WHEN n >= 2 THEN 8 + ({b1} % 8) ELSE 8 END) AS width,
         {code_sum} AS code_sum
  FROM c
),
px AS (
  SELECT doc_id, n, height, width,
         (CASE WHEN n = 0 THEN 0
               ELSE {full_reps} * code_sum + {rem_sum} END) AS pix_sum
  FROM dims
)
SELECT doc_id,
       CAST(n AS INT) AS n_bytes,
       CAST(width AS INT) AS width,
       CAST(height AS INT) AS height,
       CAST(CASE WHEN n = 0 THEN 0 ELSE {pix} END AS BIGINT) AS intensity_e6,
       CAST(1 AS INT) AS frame_count
FROM px
ORDER BY doc_id
"""


def sql_multimodal_meta(d: str) -> str:
    """Opaque binary payload + typed metadata: byte length + content digest.
    The payload here is the utf-8 encoding of text (the testdata has no
    binary column); the plumbing is identical for real image bytes."""
    if d == "spark":
        length = "octet_length(encode(text, 'UTF-8'))"
        digest = "sha2(encode(text, 'UTF-8'), 256)"
    else:
        length = "octet_length(encode(text))"
        digest = "sha256(text)"
    return f"""
SELECT doc_id, {length} AS n_bytes, {digest} AS payload_sha256
FROM documents
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# decontamination + sequence packing (training-set hygiene / batch shaping)
# ---------------------------------------------------------------------------

# token n-gram width for decontamination. 5 on the tiny-vocab fixture so the
# fixture's duplicated spans actually collide; production corpora use 8–13
# (GPT-3 used 13-gram decontamination, Brown et al. 2020 appendix C).
DECON_N = 5
# deterministic benchmark holdout: docs with doc_id % DECON_BENCH_MOD == 0
# stand in for the eval suites a real pipeline decontaminates against.
DECON_BENCH_MOD = 23


def _gram_hash_explode(n: int, d: str) -> str:
    """SELECT emitting one row per ordered token n-gram of each doc:
    ``(doc_id, gh)`` with gh the 60-bit dual-family fold over CTE columns
    ``th1``/``th2`` (two independent ordered token-hash arrays; all
    intermediates < 2^60, int64-exact in both engines; 60 bits keeps the
    gram-collision probability negligible at the 10^10-gram design point).

    Plan note (the lm_perplexity CollapseProject trap): positions are
    exploded through a Generate and each fold is computed per exploded row
    over the th1/th2 COLUMNS — never a transform() lambda capturing the
    computed token-hash projections, which Spark inlines and re-evaluates
    (tokenizer regex included) per array element: the decontaminate gate
    (Spark + DuckDB + compare) measured 58-97 s with the lambda form vs
    8 s with this Generate form at sf0.001."""
    if d == "spark":
        f1 = (f"aggregate(slice(th1, pos, {n}), cast({E.HASH_INIT} as bigint),"
              f" (acc, x) -> (acc * {E.HASH_MULT} + x) % {E.HASH_P})")
        f2 = (f"aggregate(slice(th2, pos, {n}), cast({E.HASH_INIT2} as bigint),"
              f" (acc, x) -> (acc * {E.HASH_MULT2} + x) % {E.HASH_P2})")
        return (f"SELECT doc_id, ({f1}) * {1 << 30} + ({f2}) AS gh FROM h"
                f" LATERAL VIEW explode(sequence(1, size(th1) - {n - 1})) AS pos"
                f" WHERE size(th1) >= {n}")
    f1 = (f"list_reduce(list_prepend(cast({E.HASH_INIT} as bigint),"
          f" th1[pos:pos+{n - 1}]), (acc, x) -> (acc * {E.HASH_MULT} + x) % {E.HASH_P})")
    f2 = (f"list_reduce(list_prepend(cast({E.HASH_INIT2} as bigint),"
          f" th2[pos:pos+{n - 1}]), (acc, x) -> (acc * {E.HASH_MULT2} + x) % {E.HASH_P2})")
    return (f"SELECT doc_id, ({f1}) * {1 << 30} + ({f2}) AS gh FROM h,"
            f" UNNEST(generate_series(1, len(th1) - {n - 1})) AS u(pos)"
            f" WHERE len(th1) >= {n}")


def sql_decontaminate(d: str) -> str:
    """Benchmark decontamination (GPT-3 appendix C / the standard eval-set
    hygiene pass): flag every training document sharing any token
    {DECON_N}-gram with the benchmark holdout. Relational shape built for
    100 TB: each side explodes to (doc_id, gram_hash) rows — ordered
    60-bit gram hashes, never gram strings — a REAL benchmark gram set is
    tiny (eval suites are MBs, not TBs) so Spark broadcasts it into the
    training explode with no shuffle of the corpus side, and the only wide
    operation is the final groupBy doc_id. Caveat on the fixture stand-in:
    the modulus holdout (doc_id % {DECON_BENCH_MOD}) is ~4% of the corpus'
    own grams — far larger relative to the corpus than real eval suites —
    so the BroadcastHashJoin the plan audit pins is asserted at fixture
    scale; at the design point the broadcast property comes from the eval
    suite's absolute size. Output: EVERY training doc (docs shorter
    than {DECON_N} tokens carry no gram, so n_grams=0 and keep=1) with its
    gram count, distinct contaminated-gram count, and the keep verdict."""
    toks = E.tokens("text", d)
    sz = "size" if d == "spark" else "len"
    th1 = E.transform("toks", f"t -> {E.str_hash('t', d)}", d)
    th2 = E.transform("toks", f"t -> {E.str_hash2('t', d)}", d)
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
h AS (
  SELECT doc_id, {th1} AS th1, {th2} AS th2
  FROM t WHERE {sz}(toks) >= {DECON_N}
),
e0 AS ({_gram_hash_explode(DECON_N, d)}),
e AS (SELECT DISTINCT doc_id, gh FROM e0),
gcount AS (SELECT doc_id, COUNT(*) AS n_grams FROM e GROUP BY doc_id),
bench AS (SELECT DISTINCT gh FROM e WHERE doc_id % {DECON_BENCH_MOD} = 0),
hits AS (
  SELECT e.doc_id, COUNT(*) AS n_hit
  FROM e JOIN bench b ON e.gh = b.gh
  WHERE e.doc_id % {DECON_BENCH_MOD} != 0
  GROUP BY e.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(gc.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(h2.n_hit, 0) AS BIGINT) AS n_contaminated,
       CASE WHEN COALESCE(h2.n_hit, 0) = 0 THEN 1 ELSE 0 END AS keep
FROM documents d
LEFT JOIN gcount gc ON gc.doc_id = d.doc_id
LEFT JOIN hits h2 ON h2.doc_id = d.doc_id
WHERE d.doc_id % {DECON_BENCH_MOD} != 0
ORDER BY d.doc_id
"""


# sequence packing: concatenate-and-chunk batch shaping (the T5/GPT
# pretraining input pipeline), distributed per shard.
PACK_BUDGET = 128   # tokens per packed training sequence
PACK_SHARDS = 8     # parallel packing streams (scales with the cluster)


def sql_sequence_pack(d: str) -> str:
    """Token-budget sequence packing: assign every document a (shard, seq_id,
    seq_offset) slot in a stream of fixed-{PACK_BUDGET}-token training
    sequences, concatenate-and-chunk style. Packing is inherently a running
    sum, so the scalable form is per-shard: shard = doc_id % {PACK_SHARDS}
    makes the running sum a window PARTITIONED BY shard (never a global
    single-partition window — the audit ban), each shard packs an
    independent stream, and shard count scales with the cluster. The
    assignment is a pure function of (doc_id order, token counts): identical
    across runs, engines, and partitionings — a resumable pipeline can
    recompute any slice without coordination."""
    toks = E.tokens("text", d)
    ntok = E.arr_size("toks", d)
    div = _intdiv("cum_before", str(PACK_BUDGET), d)
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
n AS (
  SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
         CAST({ntok} AS BIGINT) AS n_tokens
  FROM t
),
w AS (
  SELECT doc_id, shard, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cum_before
  FROM n
)
SELECT doc_id, shard, n_tokens,
       CAST({div} AS BIGINT) AS seq_id,
       CAST(cum_before % {PACK_BUDGET} AS BIGINT) AS seq_offset
FROM w
ORDER BY doc_id
"""


# C4/Dolma-style duplicate-span dedup granularity: non-overlapping windows
# of SPAN_W tokens stand in for the "3-sentence span" / "line" unit real
# pipelines dedup at (the fixture text has no sentence punctuation, so the
# unit is token-positional; the relational shape is identical).
SPAN_W = 8


def sql_span_dedup(d: str) -> str:
    """Cross-document duplicate-SPAN report (C4 §2.2 three-sentence-span
    dedup / RefinedWeb line-dedup, re-expressed relationally): split every
    document into non-overlapping {SPAN_W}-token spans, hash each span with
    the 60-bit dual-family fold (exact in both engines), and report per doc
    how many of its spans also occur in ANOTHER document — the signal a
    pipeline uses to strip shared boilerplate without dropping whole docs.

    Scale shape: one explode (linear in corpus tokens / {SPAN_W}), one
    groupBy span-hash (the only wide shuffle; span multiplicity is counted
    as DISTINCT docs so within-doc repetition — repetition_stats' job —
    does not inflate it), one join back onto the exploded stream, one
    groupBy doc. EVERY doc appears: docs shorter than {SPAN_W} tokens carry
    zero spans (n_spans=0, dup_span_frac=0) via the left join — never
    silently dropped."""
    toks = E.tokens("text", d)
    th1 = E.transform("toks", f"t -> {E.str_hash('t', d)}", d)
    th2 = E.transform("toks", f"t -> {E.str_hash2('t', d)}", d)
    # Plan note (the lm_perplexity CollapseProject trap, avoided up front):
    # span POSITIONS are exploded through a Generate and the fold is
    # computed per exploded row over the COLUMNS th1/th2 — never a
    # transform() lambda capturing the computed token-hash projections,
    # which Spark would inline and re-evaluate (tokenizer regex included)
    # per span. The Generate boundary pins th1/th2 to one eval per doc.
    if d == "spark":
        f1 = (f"aggregate(slice(th1, pos, {SPAN_W}), cast({E.HASH_INIT} as bigint),"
              f" (acc, x) -> (acc * {E.HASH_MULT} + x) % {E.HASH_P})")
        f2 = (f"aggregate(slice(th2, pos, {SPAN_W}), cast({E.HASH_INIT2} as bigint),"
              f" (acc, x) -> (acc * {E.HASH_MULT2} + x) % {E.HASH_P2})")
        expl = (f"SELECT doc_id, ({f1}) * {1 << 30} + ({f2}) AS sh FROM h"
                f" LATERAL VIEW explode(sequence(1, size(th1) - {SPAN_W - 1}, {SPAN_W})) AS pos"
                f" WHERE size(th1) >= {SPAN_W}")
    else:
        f1 = (f"list_reduce(list_prepend(cast({E.HASH_INIT} as bigint),"
              f" th1[pos:pos+{SPAN_W - 1}]), (acc, x) -> (acc * {E.HASH_MULT} + x) % {E.HASH_P})")
        f2 = (f"list_reduce(list_prepend(cast({E.HASH_INIT2} as bigint),"
              f" th2[pos:pos+{SPAN_W - 1}]), (acc, x) -> (acc * {E.HASH_MULT2} + x) % {E.HASH_P2})")
        expl = (f"SELECT doc_id, ({f1}) * {1 << 30} + ({f2}) AS sh FROM h,"
                f" UNNEST(generate_series(1, len(th1) - {SPAN_W - 1}, {SPAN_W})) AS u(pos)"
                f" WHERE len(th1) >= {SPAN_W}")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
h AS (SELECT doc_id, {th1} AS th1, {th2} AS th2 FROM t),
e AS ({expl}),
c AS (SELECT sh, COUNT(DISTINCT doc_id) AS n_docs FROM e GROUP BY sh),
per_doc AS (
  SELECT e.doc_id,
         COUNT(*) AS n_spans,
         CAST(SUM(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
  FROM e JOIN c ON c.sh = e.sh
  GROUP BY e.doc_id
)
SELECT d2.doc_id,
       CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       ROUND(CASE WHEN COALESCE(p.n_spans, 0) = 0 THEN 0.0
                  ELSE CAST(p.n_dup_spans AS DOUBLE) / p.n_spans END, 6)
         AS dup_span_frac
FROM documents d2 LEFT JOIN per_doc p ON p.doc_id = d2.doc_id
ORDER BY d2.doc_id
"""


# BM25 retrieval scoring: fixed query term set (a real pipeline feeds these
# from the retrieval request; fixed here for determinism), Lucene-style
# non-negative idf = ln(1 + (N - df + 0.5)/(df + 0.5)).
BM25_QUERY_TERMS = ("spark", "join", "window", "stream")
BM25_K1 = 1.2
BM25_B = 0.75


def sql_bm25_topk(d: str) -> str:
    """BM25 top-20 retrieval over the corpus for a fixed query-term set —
    the relevance-scoring primitive a training-data pipeline uses for
    quality-targeted sampling (e.g. 'books-like' selection) and that a
    retrieval tier uses directly.

    Scale shape: per-term tf is a JVM HOF over the token array (row-local
    in the scan — no explode of the corpus); df and avgdl are one bounded
    aggregate each (df keyed by |query| terms; avgdl a 1-row frame, both
    broadcast); the score is a row-local expression over tf columns. The
    only wide operation is the final top-k sort. All float math is
    ln/division rounded to 6 decimals — the same cross-engine tolerance
    class as gap_entropy (both engines' libm agree well past 1e-6)."""
    toks = E.tokens("text", d)
    sz = "size" if d == "spark" else "len"
    flt = "filter" if d == "spark" else "list_filter"
    tf_cols = ",\n         ".join(
        f"{sz}({flt}(toks, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(BM25_QUERY_TERMS)
    )
    df_cols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{i}"
        for i in range(len(BM25_QUERY_TERMS))
    )
    terms = " + ".join(
        f"(ln(1 + (s.n_docs - s.df_{i} + 0.5) / (s.df_{i} + 0.5))"
        f" * tf_{i} * ({BM25_K1} + 1)"
        f" / (tf_{i} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / s.avgdl)))"
        for i in range(len(BM25_QUERY_TERMS))
    )
    n_matched = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(len(BM25_QUERY_TERMS))
    )
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
f AS (
  SELECT doc_id, CAST({sz}(toks) AS DOUBLE) AS dl,
         {tf_cols}
  FROM t
),
s AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl,
         {df_cols}
  FROM f
),
scored AS (
  SELECT f.doc_id,
         CAST(({n_matched}) AS INT) AS n_terms_matched,
         ROUND({terms}, 6) AS bm25
  FROM f, s
)
SELECT doc_id, n_terms_matched, bm25
FROM scored
WHERE n_terms_matched > 0
ORDER BY bm25 DESC, doc_id
LIMIT 20
"""


def sql_lm_perplexity(d: str) -> str:
    """CCNet-style LM quality scoring (Wenzek et al. 2020), self-contained:
    score every document by the bits-per-trigram of a character-trigram
    language model trained on the corpus itself — no external model, fully
    deterministic. P(c3 | c1 c2) = cnt(c1c2c3) / cnt(c1c2-as-prefix), both
    counts from one trigram explode; per-doc score = avg over positions of
    -log2 of that conditional. The scale shape is the point: the trained
    "model" is the trigram count table, whose cardinality is bounded by the
    alphabet (≤ 37^3 here), NOT the corpus — so at 100 TB both count tables
    broadcast, and the plan is one explode, two bounded hash aggregates, and
    two broadcast joins back onto the exploded stream. Every log2 term is a
    ratio of identical integers in both engines; the per-doc sum is the only
    float accumulation (round-6 output, same tolerance class as
    gap_entropy).

    Plan note (two long-document traps, both fixed): (1) trigrams are
    extracted by exploding POSITIONS through a Generate and substring-ing a
    text COLUMN per exploded row — NOT by a ``transform(sequence(...), i ->
    substring(s, i, 3))`` HOF, where CollapseProject inlines the ``s``
    projection and re-runs the regexp per array ELEMENT (O(len²) regex per
    doc — measured 17 s at sf0.1; the Generate form is 2.2 s). (2) The
    explode is TWO-LEVEL — 258-char overlapping SEGMENTS first, then
    positions within a segment — because a single-level explode whose
    downstream aggregate groups by the substring carries the FULL
    normalized document through every exploded row (~len²/chunk bytes of
    row traffic: 64×20k-char docs measured 48 s single-level vs 6 s
    chunked, identical trigram multiset — segment offsets stride 256 with
    2 chars of overlap, so every global position appears exactly once).
    Prefix counts come from the already-tiny trigram table (one SUM over
    ≤ alphabet³ rows), not a second corpus pass."""
    norm = E.alnum_text("text", d)
    if d == "spark":
        seg = ("SELECT doc_id, substring(s, off, 258) AS seg FROM t"
               " LATERAL VIEW explode(sequence(1, greatest(length(s) - 2, 1), 256)) AS off"
               " WHERE length(s) >= 3")
        expl = ("SELECT doc_id, substring(seg, pos, 3) AS tri FROM seg"
                " LATERAL VIEW explode(sequence(1, length(seg) - 2)) AS pos")
    else:
        seg = ("SELECT doc_id, s[off:off+257] AS seg FROM t,"
               " UNNEST(generate_series(1, greatest(length(s) - 2, 1), 256)) AS uo(off)"
               " WHERE length(s) >= 3")
        expl = ("SELECT doc_id, seg[pos:pos+2] AS tri FROM seg,"
                " UNNEST(generate_series(1, length(seg) - 2)) AS u(pos)")
    return f"""
WITH t AS (SELECT doc_id, {norm} AS s FROM documents),
seg AS ({seg}),
e AS ({expl}),
c3 AS (SELECT tri, COUNT(*) AS cnt3 FROM e GROUP BY tri),
c2 AS (SELECT substring(tri, 1, 2) AS bi, CAST(SUM(cnt3) AS BIGINT) AS cnt2
       FROM c3 GROUP BY 1)
SELECT e.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       ROUND(AVG(-log2(CAST(c3.cnt3 AS DOUBLE) / c2.cnt2)), 6) AS bits_per_trigram
FROM e
JOIN c3 ON c3.tri = e.tri
JOIN c2 ON c2.bi = substring(e.tri, 1, 2)
GROUP BY e.doc_id
ORDER BY e.doc_id
"""


# registry: name → builder
CORPUS_SQL = {
    "dedup_exact": sql_dedup_exact,
    "dedup_ngram_jaccard": sql_dedup_ngram_jaccard,
    "dedup_minhash_lsh": sql_dedup_minhash_lsh,
    "lsh_bucket_stats": sql_lsh_bucket_stats,
    "dedup_simhash_pairs": sql_dedup_simhash,
    "simhash_signatures": sql_simhash_signatures,
    "dedup_embedding_nn": sql_dedup_embedding_nn,
    "ann_bruteforce_topk": sql_ann_bruteforce,
    "ann_lsh_bucketed": sql_ann_lsh,
    "ann_ivf_flat": sql_ann_ivf,
    "corpus_clean_report": sql_corpus_clean,
    "sample_stratified": sql_sample_stratified,
    "mixture_weights": sql_mixture_weights,
    "lang_id": sql_lang_id,
    "quality_score": sql_quality_score,
    "token_count": sql_token_count,
    "doc_fingerprint": sql_doc_fingerprint,
    "token_edges": sql_token_edges,
    "multimodal_meta": sql_multimodal_meta,
    "repetition_stats": sql_repetition_stats,
    "decontaminate": sql_decontaminate,
    "sequence_pack": sql_sequence_pack,
    "lm_perplexity": sql_lm_perplexity,
    "span_dedup": sql_span_dedup,
    "bm25_topk": sql_bm25_topk,
}

# oracles for queries whose Spark side is NOT spark.sql of the same template
# (multimodal_features runs as mapInPandas; dedup_clusters runs as the
# iterative large-star/small-star DataFrame algorithm — these SQL twins are
# their DuckDB gates)
EXTRA_ORACLE_SQL = {
    "multimodal_features": sql_multimodal_features,
    "dedup_clusters": sql_dedup_clusters,
}
