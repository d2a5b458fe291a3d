"""The Spark and DuckDB forms of the ops/exprs.py string templates agree on
UTF-8 text: every corpus operator hashes and tokenizes through them, and the
DuckDB side is the oracle the Spark side is checked against."""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from twitter_crawler_spark.ops.exprs import char_codes, str_hash, tokens

# multibyte pieces worth forcing in: 2-, 3- and 4-byte UTF-8, combining
# marks (alone and after a base letter), an emoji with a skin-tone modifier,
# and characters whose lowercase form differs between the engines or is ASCII
SPECIAL = [
    "\u00e9", "\u0436", "\u4e2d", "\U0001f600", "\U0001f44d\U0001f3fd",
    "e\u0301", "\u0301", "\u0307", "\u0130", "\u212a", "\u00df", "\u03a3",
    "\u01c5", "\ufb00", "\uff21", "\U0001d400", "\U00010348",
]
TEXT = st.lists(
    st.one_of(
        st.sampled_from(SPECIAL), st.sampled_from(list(" aZ09-")), st.characters()
    ),
    max_size=12,
).map("".join)
COLS = {"codes": char_codes, "hash": str_hash, "tokens": tokens}


def _spark_rows(spark, pdf):
    df = spark.createDataFrame(pdf, "i int, s string")
    sel = [f"{fn('s', 'spark')} as {name}" for name, fn in COLS.items()]
    return [
        (r.codes, r.hash, r.tokens)
        for r in df.selectExpr("i", *sel).orderBy("i").collect()
    ]


def _duckdb_rows(pdf):
    sel = ", ".join(f"{fn('s', 'duckdb')} as {name}" for name, fn in COLS.items())
    with duckdb.connect() as con:
        con.register("t", pdf)
        return [tuple(r) for r in con.execute(f"select {sel} from t order by i").fetchall()]


@given(st.lists(TEXT, min_size=1, max_size=24))
@example(["", "\u00e9", "\u0436", "\U0001f44d\U0001f3fd", "\U0001f600",
          "\u0130stanbul", "a\x00b"])
@settings(max_examples=25, deadline=None)
def test_string_templates_agree_on_utf8(spark, strings):
    pdf = pd.DataFrame({"i": range(len(strings)), "s": strings})
    got = _spark_rows(spark, pdf)
    want = _duckdb_rows(pdf)
    for s, g, w in zip(strings, got, want):
        assert g == w, (s, [hex(ord(c)) for c in s])
    # char_codes is the Python code point list, so length and substring
    # agree with Python's view of the string too
    assert [g[0] for g in got] == [[ord(c) for c in s] for s in strings]
