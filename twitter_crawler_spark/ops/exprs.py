"""Dual-dialect (Spark SQL / DuckDB SQL) expression templates.

One source of truth for every arithmetic definition the corpus operators use
(tokenization, polynomial hashing, MinHash permutations, SimHash bits), so
the Spark implementation and the DuckDB oracle can never drift. All hashes
are plain integer arithmetic over character codes — deliberately *not*
engine-builtin hashes (Spark murmur vs DuckDB hash are incompatible) — and
all intermediate values stay < 2^46 so 64-bit integer math is exact in both
engines.

Spark evaluates these via higher-order functions inside whole-stage codegen
(JVM-side, no Python), which is the point: dedup/fingerprinting at 100 TB
must not cross the Python boundary per row.
"""

from __future__ import annotations

# modulus for the polynomial rolling hash (fits all intermediates in int64)
HASH_P = 1_000_000_007
HASH_INIT = 7
HASH_MULT = 31
# second, independent hash family (for the wide 60-bit token hash): both
# moduli are < 2^30 so h1 * 2^30 + h2 < 2^60 stays int64-exact in both engines
HASH_P2 = 998_244_353
HASH_INIT2 = 13
HASH_MULT2 = 131

# MinHash: k permutations h_j(x) = (A_j * x + B_j) mod P
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4  # MINHASH_K = LSH_BANDS * LSH_ROWS
# SimHash fingerprint width: 60 bits (= 4 pigeonhole chunks × 15 bits — a
# realistic 2^15-value chunk key space; was a 16-bit toy in rounds 1-2)
SIMHASH_BITS = 60


def _a(j: int) -> int:
    return 2 * j + 3


def _b(j: int) -> int:
    return 5 * j + 11


# ---------------------------------------------------------------------------
# dialect helpers: d = "spark" | "duckdb"
# ---------------------------------------------------------------------------


def alnum_text(col: str, d: str) -> str:
    """A text column lowercased, each run of non-ASCII-alnum characters one
    space.

    Non-ASCII characters become separators BEFORE lowercasing: the engines
    lowercase some of them differently (Spark turns U+0130 'İ' into 'i' plus
    a combining dot, DuckDB into a bare 'i'), so lowercasing first would
    split such a word in two in Spark and keep it whole in DuckDB."""
    flags = "" if d == "spark" else ", 'g'"
    return f"lower(regexp_replace({col}, '[^A-Za-z0-9]+', ' '{flags}))"


def tokens(col: str, d: str) -> str:
    """Lowercased ASCII alnum tokens of a text column (array<string>)."""
    if d == "spark":
        return f"filter(split({alnum_text(col, d)}, ' '), t -> t != '')"
    return f"list_filter(string_split({alnum_text(col, d)}, ' '), t -> t != '')"


def distinct(arr: str, d: str) -> str:
    return f"array_distinct({arr})" if d == "spark" else f"list_distinct({arr})"


def transform(arr: str, lam: str, d: str) -> str:
    fn = "transform" if d == "spark" else "list_transform"
    return f"{fn}({arr}, {lam})"


def arr_min(arr: str, d: str) -> str:
    return f"array_min({arr})" if d == "spark" else f"list_min({arr})"


def arr_size(arr: str, d: str) -> str:
    return f"size({arr})" if d == "spark" else f"len({arr})"


def arr_sum_bigint(arr: str, d: str) -> str:
    """Exact integer sum of a bigint array."""
    if d == "spark":
        return f"aggregate({arr}, cast(0 as bigint), (acc, x) -> acc + x)"
    return f"coalesce(list_reduce(list_prepend(cast(0 as bigint), {arr}), (acc, x) -> acc + x), 0)"


def arr_at(arr: str, i: int, d: str) -> str:
    """1-indexed element access."""
    return f"element_at({arr}, {i})" if d == "spark" else f"{arr}[{i}]"


def first_k(arr: str, k: str, d: str) -> str:
    """First k elements of an array (k may be an expression; k=0 → empty)."""
    if d == "spark":
        return f"slice({arr}, 1, {k})"
    return f"list_slice({arr}, 1, {k})"


def seq(lo: str | int, hi: str | int, d: str) -> str:
    """Inclusive integer range as an array/list; empty when hi < lo (Spark's
    ``sequence`` would count down instead, e.g. [1, 0] for an empty
    string's ``seq(1, length(s))``)."""
    if d == "spark":
        return f"(case when {hi} >= {lo} then sequence({lo}, {hi}) else array() end)"
    return f"generate_series({lo}, {hi})"


def char_codes(s: str, d: str) -> str:
    """Array of the code points of a string expr, one per character
    (``ascii`` of a one-character substring is its code point in both
    engines, non-BMP characters included)."""
    lam = f"i -> cast(ascii(substring({s}, i, 1)) as bigint)"
    return transform(seq(1, f"length({s})", d), lam, d)


def str_hash(s: str, d: str) -> str:
    """Polynomial hash of a string expr: fold (acc*31 + code) mod P, init 7.

    Range [0, P); empty string hashes to HASH_INIT.
    """
    codes = char_codes(s, d)
    if d == "spark":
        return (
            f"aggregate({codes}, cast({HASH_INIT} as bigint),"
            f" (acc, x) -> (acc * {HASH_MULT} + x) % {HASH_P})"
        )
    return (
        f"list_reduce(list_prepend(cast({HASH_INIT} as bigint), {codes}),"
        f" (acc, x) -> (acc * {HASH_MULT} + x) % {HASH_P})"
    )


def token_hashes(col: str, d: str) -> str:
    """Distinct token hash array of a text column (order-insensitive uses only)."""
    return transform(distinct(tokens(col, d), d), f"t -> {str_hash('t', d)}", d)


def str_hash2(s: str, d: str) -> str:
    """Second independent polynomial hash (mult 131, init 13, mod P2)."""
    codes = char_codes(s, d)
    if d == "spark":
        return (
            f"aggregate({codes}, cast({HASH_INIT2} as bigint),"
            f" (acc, x) -> (acc * {HASH_MULT2} + x) % {HASH_P2})"
        )
    return (
        f"list_reduce(list_prepend(cast({HASH_INIT2} as bigint), {codes}),"
        f" (acc, x) -> (acc * {HASH_MULT2} + x) % {HASH_P2})"
    )


def token_hashes_wide(col: str, d: str) -> str:
    """Distinct 60-bit token hashes: h1 * 2^30 + h2 with two independent
    sub-2^30 polynomial hashes — gives SIMHASH_BITS=60 genuinely independent
    bits while every intermediate stays int64-exact in both engines."""
    lam = f"t -> ({str_hash('t', d)}) * {1 << 30} + ({str_hash2('t', d)})"
    return transform(distinct(tokens(col, d), d), lam, d)


def minhash_j(hashes_col: str, j: int, d: str) -> str:
    """j-th MinHash value over a bigint hash array column (null if empty)."""
    permuted = transform(hashes_col, f"x -> ({_a(j)} * x + {_b(j)}) % {HASH_P}", d)
    return arr_min(permuted, d)


def minhash_sig(hashes_col: str, d: str, k: int = MINHASH_K) -> list[str]:
    return [minhash_j(hashes_col, j, d) for j in range(k)]


def minhash_sig_col(hashes_col: str, d: str, k: int = MINHASH_K) -> str:
    """The whole k-wide MinHash signature as ONE array column.

    Spark evaluates it in a single ``aggregate`` pass with a k-element array
    accumulator (one traversal of the token-hash array, k fused least()
    updates per element) instead of k independent transform+array_min passes.
    Measured at sf0.1/local[32] (interleaved A/B, same JVM) the wall is a
    tie with the k-pass form — dedup_minhash_lsh's cost is dominated by the
    banded self-join's candidate-pair output (7.7M rows at sf0.1), not the
    signature computation — but the fused form keeps the expression tree
    O(1) in k (one aggregate vs k transform+min trees), which matters for
    codegen size as k grows past 16. DuckDB (the oracle side, where wall
    time is irrelevant) keeps the k independent list-min expressions; both
    sides compute min_j((A_j·x+B_j) mod P) over identical int64-exact
    intermediates, so values match bit-for-bit. Empty token array → NULL
    (matching arr_min-of-empty in the k-pass form).
    """
    if d == "spark":
        perms = ", ".join(f"({_a(j)} * x + {_b(j)}) % {HASH_P}" for j in range(k))
        agg = (
            f"aggregate({hashes_col}, array_repeat(cast({HASH_P} as bigint), {k}),"
            f" (acc, x) -> zip_with(acc, array({perms}), (m, v) -> least(m, v)))"
        )
        return f"(case when size({hashes_col}) = 0 then null else {agg} end)"
    vals = ", ".join(minhash_j(hashes_col, j, d) for j in range(k))
    return f"(case when len({hashes_col}) = 0 then null else [{vals}] end)"


def band_key_arr(sig_col: str, band: int, d: str, rows: int = LSH_ROWS) -> str:
    """Combine one band's rows of an ARRAY signature into a bigint bucket key
    (the array-signature analog of band_key)."""
    expr = f"cast({HASH_INIT} as bigint)"
    for r in range(rows):
        el = arr_at(sig_col, band * rows + r + 1, d)
        expr = f"(({expr}) * {HASH_MULT} + {el}) % {HASH_P}"
    return expr


def band_key(sig_cols: list[str], band: int, d: str, rows: int = LSH_ROWS) -> str:
    """Combine one band's MinHash rows into a single bigint bucket key."""
    expr = f"cast({HASH_INIT} as bigint)"
    for r in range(rows):
        expr = f"(({expr}) * {HASH_MULT} + {sig_cols[band * rows + r]}) % {HASH_P}"
    return expr


def simhash(hashes_col: str, d: str, bits: int = SIMHASH_BITS) -> str:
    """SimHash over a token-hash array: bit b set iff the majority of token
    hashes have bit b set (sum of ±1 > 0). Stays integer-exact."""
    terms = []
    for b in range(bits):
        votes = transform(
            hashes_col, f"x -> 2 * ((x div {1 << b}) % 2) - 1"
            if d == "spark"
            else f"x -> 2 * ((x // {1 << b}) % 2) - 1",
            d,
        )
        vote_sum = arr_sum_bigint(votes, d)
        terms.append(f"(case when ({vote_sum}) > 0 then {1 << b} else 0 end)")
    return "(" + " + ".join(terms) + ")"


# NOTE: a char_ngrams() array helper used to live here
# (transform(sequence(...), i -> substring(norm, i, n))). It was REMOVED in
# round 5: the lambda body captures the computed normalization, and Spark's
# CollapseProject inlines it so the regex re-runs per array ELEMENT —
# O(len²) per document (541 s for 64×20k-char docs in doc_fingerprint).
# Gram extraction must explode POSITIONS through a Generate and substring
# the normalized COLUMN per exploded row instead; see
# corpus.sql_doc_fingerprint / sql_dedup_ngram_jaccard / _gram_hash_explode
# and tests/test_ops.py::test_gram_explodes_have_no_per_element_regex.


def dot(a: str, b: str, d: str) -> str:
    """Dot product of two float arrays, accumulated left-to-right in double
    (identical summation order in both engines)."""
    if d == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
            f" cast(0 as double), (acc, v) -> acc + v)"
        )
    return (
        f"list_reduce(list_prepend(cast(0 as double),"
        f" list_transform(generate_series(1, len({a})),"
        f" i -> cast({a}[i] as double) * cast({b}[i] as double))), (acc, v) -> acc + v)"
    )


def norm(a: str, d: str) -> str:
    return f"sqrt({dot(a, a, d)})"


def cosine(a: str, b: str, d: str) -> str:
    return f"({dot(a, b, d)} / ({norm(a, d)} * {norm(b, d)}))"


# language-id stopword marker lists (deterministic heuristic; the synthetic
# corpus shares one vocabulary so this exercises the operator, not accuracy)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}


def lang_scores(tokens_col: str, d: str) -> dict[str, str]:
    """Per-language marker-hit counts over a token array column."""
    out = {}
    for lang, words in LANG_MARKERS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        if d == "spark":
            out[lang] = (
                f"size(filter({tokens_col}, t -> array_contains(array({lst}), t)))"
            )
        else:
            out[lang] = f"len(list_filter({tokens_col}, t -> list_contains([{lst}], t)))"
    return out
