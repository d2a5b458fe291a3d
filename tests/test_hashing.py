"""murmur3 vectorized kernel vs the scalar reference implementation.

The 64-bit url hash must be stable across Spark versions and identical
between the engine (numpy kernel inside a pandas UDF) and the pure-Python
oracle — it keys the seen-set sharding, the bloom sidecars and the
pages bucket layout (SURVEY.md §1.2).
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from twitter_crawler_spark.functions.hashing import (
    murmur3_32,
    murmur3_32_scalar,
    murmur3_64,
    murmur3_64_scalar,
)

# known vectors for MurmurHash3_x86_32 (public test vectors)
KNOWN = [
    (b"", 0, 0x00000000),
    (b"", 1, 0x514E28B7),
    (b"a", 0, 0x3C2569B2),
    (b"abc", 0, 0xB3DD93FA),
    (b"abcd", 0, 0x43ED676A),
    (b"Hello, world!", 0, 0xC0363E43),
    (b"The quick brown fox jumps over the lazy dog", 0, 0x2E4FF723),
]


def test_known_vectors_scalar():
    for data, seed, expect in KNOWN:
        assert murmur3_32_scalar(data, seed) == expect, data


def test_known_vectors_vectorized():
    strs = [d.decode() for d, s, _ in KNOWN if s == 0]
    out = murmur3_32(strs, seed=0)
    expect = [e for d, s, e in KNOWN if s == 0]
    assert [int(x) for x in out] == expect


@given(st.lists(st.text(min_size=0, max_size=64), min_size=1, max_size=50))
@settings(max_examples=50, deadline=None)
def test_vectorized_matches_scalar(strings):
    vec = murmur3_64(strings)
    for s, v in zip(strings, vec):
        assert int(v) == murmur3_64_scalar(s)


def test_empty_batch():
    assert murmur3_64([]).shape == (0,)


def test_signed_int64_range():
    vals = murmur3_64(["http://example.com/" + "x" * i for i in range(100)])
    assert vals.dtype == np.int64
    assert len(set(int(v) for v in vals)) == 100  # no trivial collisions
