"""Frontier-scheduling throughput workload (the BASELINE.md metric:
URLs scheduled+deduped per second on a synthetic frontier).

One crawl round's scheduling dataflow at parametric scale, built entirely
inside Spark (spark.range → expressions; no driver-side data): this is the
honest unit for the N → 4N scaling-efficiency evidence, because at bench
scale the work is dominated by the data-parallel stages (Arrow murmur3
hashing, canonicalization, the salted politeness window, the seen anti-join)
rather than per-round driver fixed costs — exactly the regime a
1000-executor cluster at 10^10 URLs lives in.

Stages (mirrors CrawlEngine._round, SURVEY.md §3.2):
  1. synthetic frontier of N urls over zipf-skewed hosts (cubic-skew rank);
  2. murmur3_64 Arrow UDF over every url (P8-adjacent hashing);
  3. salted two-stage per-host budget window (F5/F8) → popped batch;
  4. candidate explosion (3 outlinks per popped url) + canonicalize UDF (P3/P8);
  5. dedup: anti-join against a 'seen' fifth of the url space (D1-D4 exact
     arbiter tier);
  6. count of scheduled+deduped urls (the metric numerator).

Everything is a pure function of N and the constants — identical results at
any parallelism (the determinism invariant under test in §5.4).
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from twitter_crawler_spark.functions.hashing import murmur3_64_udf
from twitter_crawler_spark.functions.urls import canonicalize_udf

N_HOSTS = 4096
HOST_SALT = 8
BUDGET = 64


def synthetic_frontier(spark: SparkSession, n_urls: int):
    """Deterministic frontier: urls over cubic-skewed hosts + priority cols."""
    u = (F.col("id") * F.lit(2654435761)) % F.lit(1 << 31) / F.lit(float(1 << 31))
    host_rank = F.floor(F.pow(u, F.lit(3.0)) * F.lit(N_HOSTS)).cast("long")
    return (
        spark.range(n_urls)
        .withColumn("host", F.format_string("host%d.example.org", host_rank))
        .withColumn("url", F.format_string("http://host%d.example.org/page/%d", host_rank, F.col("id")))
        .withColumn("depth", (F.col("id") % 7).cast("int"))
        .withColumn("score", (F.col("id") * 37 % 1000003).cast("long"))
    )


def run_schedule_round(spark: SparkSession, n_urls: int, jvm_only: bool = False) -> dict:
    """Execute the scheduling dataflow once; returns counts + wall seconds.

    ``jvm_only=True`` swaps the two Arrow UDFs for pure-JVM equivalents
    (xxhash64 hashing, expression-based canonicalization). Local-mode
    scaling measurements use this variant for the N→4N criterion: in
    ``local[N]`` the Python UDF workers run OUTSIDE the N task slots, so a
    Python-UDF workload at local[2] silently consumes ~4 host cores and the
    apparent efficiency at local[8] is deflated — an artifact of local mode,
    not of the distributed plan. On a real cluster executor sizing provisions
    the Python workers explicitly, making their cost a constant factor. Both
    variants are reported in BENCH_SCALING.json.
    """
    t0 = time.time()
    frontier = synthetic_frontier(spark, n_urls)
    if jvm_only:
        frontier = frontier.withColumn("url_hash", F.xxhash64("url"))
    else:
        frontier = frontier.withColumn("url_hash", murmur3_64_udf("url"))
    order = [F.col("depth").asc(), F.col("score").desc(), F.col("url").asc()]
    w1 = Window.partitionBy("host", F.pmod("url_hash", F.lit(HOST_SALT))).orderBy(*order)
    w2 = Window.partitionBy("host").orderBy(*order)
    popped = (
        frontier.withColumn("rk1", F.row_number().over(w1))
        .where(F.col("rk1") <= BUDGET)
        .withColumn("rk2", F.row_number().over(w2))
        .where(F.col("rk2") <= BUDGET)
        .drop("rk1", "rk2")
    )
    # candidate outlinks: 3 per popped url, relative + absolute forms
    cand = popped.select(
        "url",
        F.explode(
            F.array(
                F.concat(F.lit("next/"), (F.col("id") * 3 + 1).cast("string")),
                F.concat(F.lit("/abs/"), (F.col("id") * 3 + 2).cast("string")),
                F.format_string(
                    "http://host%d.example.org/x/%d",
                    (F.col("id") % N_HOSTS), F.col("id") * 3 + 3,
                ),
            )
        ).alias("href"),
    )
    if jvm_only:
        # expression-based resolve: absolute hrefs pass through; root-relative
        # and relative hrefs resolve against the base url — same shape of
        # work (string surgery per candidate), all inside codegen
        base_dir = F.expr("substring_index(url, '/', 5)")
        host_part = F.expr("concat('http://', substring_index(substring_index(url, '://', -1), '/', 1))")
        cand = cand.withColumn(
            "dst",
            F.lower(
                F.when(F.col("href").startswith("http"), F.col("href"))
                .when(F.col("href").startswith("/"), F.concat(host_part, F.col("href")))
                .otherwise(F.concat(base_dir, F.lit("/"), F.col("href")))
            ),
        )
        cand = cand.select("dst").withColumn("dst_hash", F.xxhash64("dst"))
    else:
        cand = cand.withColumn("dst", canonicalize_udf("href", "url"))
        cand = cand.select("dst").withColumn("dst_hash", murmur3_64_udf("dst"))
    # 'seen' tier: one fifth of the hash space is already known
    new_urls = cand.where(F.pmod(F.abs(F.col("dst_hash")), F.lit(5)) != 0)
    # exact arbiter: anti-join the remainder against a seen table
    seen = (
        synthetic_frontier(spark, n_urls // 10)
        .select(F.col("url").alias("dst"))
    )
    scheduled = new_urls.join(seen, "dst", "left_anti")
    n_scheduled = scheduled.count()
    wall = time.time() - t0
    return {
        "n_urls": n_urls,
        "jvm_only": jvm_only,
        "scheduled": n_scheduled,
        "wall_s": round(wall, 2),
        "throughput": round(n_urls / wall, 1),
    }
