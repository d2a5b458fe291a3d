"""Dev harness replicating the driver's correctness gate: run every
__spark_entry__ query on Spark AND its DuckDB oracle at a given sf dir and
compare them under ``perfbench.catalog.same_result`` (columns, row count,
int-vs-float drift, order-insensitive values)."""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from perfbench.catalog import same_result  # noqa: E402
from twitter_crawler_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main(sf_dir: str, only: list[str] | None = None) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    spark = get_spark(cores=8, shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows ({dt:.1f}s) [no oracle — rows-only]")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {type(e).__name__}: {e}")
            continue
        # same_result also fails an int column against a float one: the
        # correctness gate hashes values by dtype, so equal values differ
        reason = same_result(sdf, odf)
        if reason is None:
            print(f"OK    {name}: {len(sdf)} rows ({dt:.1f}s)")
        else:
            failures.append(name)
            print(f"FAIL  {name}: {reason}")
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    sys.exit(main(sf, only))
