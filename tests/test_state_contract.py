"""The snapshot store's declared-schema contract (crawl/state.py,
schemas.STORE_TABLES): a write whose schema drifts from the declaration
raises before any file is written, a dir whose layout lacks a declared
partition column raises instead of reading that column back as nulls, a
generation write that produced no data files leaves nothing behind, and a
read that finds no rows is a 0-row frame of the declared schema that the
optimizer drops from a union."""

from __future__ import annotations

import dataclasses
import os

import pytest
from pyspark.sql.types import StructType

from tests.conftest import TEST_CFG
from twitter_crawler_spark import schemas
from twitter_crawler_spark.crawl.engine import CrawlEngine
from twitter_crawler_spark.crawl.state import SnapshotStore
from twitter_crawler_spark.session import local_df


def _evictions(spark, round_expr: str = "cast(1 as int)"):
    return spark.range(3).selectExpr("cast(id as string) as url", f"{round_expr} as round")


def test_write_schema_drift_raises(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "s"))
    st.write_round(_evictions(spark), "evictions", 1)
    assert st.read_rounds(spark, "evictions", 1).count() == 3
    drifted = {
        "wrong type": _evictions(spark, "id"),
        "missing column": spark.range(3).selectExpr("cast(id as string) as url"),
        "extra column": _evictions(spark).selectExpr("*", "1 as extra"),
        "reordered": _evictions(spark).select("round", "url"),
    }
    for why, df in drifted.items():
        with pytest.raises(ValueError, match="declared"):
            st.write_round(df, "evictions", 2)
        assert not os.path.exists(st.round_dir("evictions", 2)), why
    with pytest.raises(ValueError, match="declared"):
        st.write_gen(_evictions(spark, "id"), "evictions", 2)
    # a partition column is declared with its type too
    seen = spark.range(4).selectExpr(
        "id as url_hash", "cast(id as string) as url", "0 as first_round",
        "id % 2 as bucket",
    )
    with pytest.raises(ValueError, match="declared"):
        st.write_round(seen, "url_seen", 0)
    st.write_round(seen.withColumn("bucket", seen.bucket.cast("int")), "url_seen", 0)
    assert st.read_log(spark, "url_seen", 0).count() == 4


def test_legacy_layout_raises(spark, tmp_path):
    """An ``edges`` round dir from before the src_bucket layout: its files
    sit at the top of the round dir, so a declared-schema read would return
    ``src_bucket`` as nulls. Every read path refuses it instead."""
    st = SnapshotStore(str(tmp_path / "s"))
    legacy = spark.range(3).selectExpr(
        "cast(id as string) as src_url", "'d' as dst_url", "'a' as anchor",
        "0 as round", "0L as ts", "cast(id % 2 as int) as src_bucket",
    )
    legacy.write.parquet(st.round_dir("edges", 0))
    with pytest.raises(ValueError, match="src_bucket"):
        st.read_rounds(spark, "edges", 0)
    with pytest.raises(ValueError, match="src_bucket"):
        st.read_log(spark, "edges", 0)
    # the same rows in the declared layout read back whole
    st.write_round(legacy, "edges", 1)
    got = st.read_rounds(spark, "edges", 1, min_round=1).collect()
    assert sorted(r.src_bucket for r in got) == [0, 0, 1]


def test_empty_generation_leaves_nothing(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "s"))
    empty = spark.range(0).selectExpr(
        "id as url_hash", "cast(id as string) as url", "0 as first_round",
        "cast(id as int) as bucket",
    )
    assert st.write_gen(empty, "url_seen", 4) is None
    assert not os.path.exists(st.gen_dir("url_seen", 4))
    assert st.write_gen(empty.union(spark.range(1).selectExpr(
        "id as url_hash", "'u' as url", "0 as first_round", "cast(id as int) as bucket",
    )), "url_seen", 5) == st.gen_dir("url_seen", 5)


def test_local_df_plans_no_python_rdd(spark):
    """``local_df`` plans a ``LocalRelation``, with rows or without, never
    the Python RDD (``LogicalRDD``) that ``createDataFrame`` makes of an
    empty pandas frame, which would start Python workers on every
    action."""
    ddl = "url string, ts_logical long, html binary"
    want = [(f.name, f.dataType) for f in StructType.fromDDL(ddl).fields]
    for rows in ([], [("u", 7, b"x")]):
        df = local_df(spark, rows, ddl)
        plan = df._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LocalRelation"
        assert "LogicalRDD" not in plan.toString()
        assert [(f.name, f.dataType) for f in df.schema.fields] == want
        assert [tuple(r) for r in df.collect()] == [(u, t, bytearray(h)) for u, t, h in rows]


def test_log_without_rounds_reads_empty(spark, fixture_dir, tmp_path):
    """A crawl that never evicts submits no ``evictions`` write, and its
    evictions view is an empty frame of the declared schema (planned
    JVM-only), not None; the other views read as usual."""
    state = str(tmp_path / "s")
    cfg = dataclasses.replace(TEST_CFG, evict_unproductive=False)
    eng = CrawlEngine(spark, fixture_dir, state, cfg)
    eng.run(max_rounds=3)
    assert not os.path.exists(os.path.join(state, "evictions"))
    ev = eng.evictions()
    assert ev.count() == 0
    assert [(f.name, f.dataType) for f in ev.schema.fields] == [
        (f.name, f.dataType) for f in schemas.EVICTIONS.fields
    ]
    assert "LogicalRDD" not in ev._jdf.queryExecution().analyzed().toString()
    assert eng.docs().count() > 0


def test_read_rounds_without_rows_is_empty_frame(spark, tmp_path):
    """``read_rounds`` on a table with no dir, on a round range past the
    last round and on a tail of ``_SUCCESS``-only dirs gives a 0-row frame
    of the declared schema, with ``r`` or without it, and neither building
    nor collecting it launches a job. Unioned onto a real read, it leaves
    the optimized plan as it was."""
    st = SnapshotStore(str(tmp_path / "s"))
    docs = spark.range(2).selectExpr(
        "cast(id as string) as url", "0 as round", "'t' as text",
        "'h' as text_sha256", "cast(id as int) as bucket",
    )
    st.write_round(docs, "docs", 0)
    st.write_round(docs.where("false"), "docs", 1)
    st.write_round(docs.where("false"), "docs", 2)
    assert sorted(os.listdir(st.round_dir("docs", 2))) == ["._SUCCESS.crc", "_SUCCESS"]
    tracker = spark.sparkContext.statusTracker()

    def last_job() -> int:
        return max(tracker.getJobIdsForGroup(None), default=-1)

    cases = {
        "missing table": ("evictions", 3, None),
        "past the last round": ("docs", 6, 3),
        "empty-dir tail": ("docs", 2, 1),
    }
    for why, (tbl, upto, lo) in cases.items():
        for drop_r in (True, False):
            j0 = last_job()
            df = st.read_rounds(spark, tbl, upto, min_round=lo, drop_r=drop_r)
            assert df.collect() == [] and df.inputFiles() == [], why
            assert last_job() == j0, why
            want = schemas.store_schema(tbl, not drop_r)
            assert [(f.name, f.dataType) for f in df.schema.fields] == [
                (f.name, f.dataType) for f in want.fields
            ], why
    base = st.read_rounds(spark, "docs", 0)
    both = base.unionByName(st.read_rounds(spark, "docs", 2, min_round=1))
    assert (both._jdf.queryExecution().optimizedPlan().toString()
            == base._jdf.queryExecution().optimizedPlan().toString())
    assert both.count() == 2
