"""SparkSession factory with scale-oriented defaults.

All jobs (tests, bench, entry) go through :func:`get_spark` so the AQE /
shuffle / Arrow configuration is uniform. Design target is a multi-executor
cluster at 10^10-URL-frontier scale; the sandbox runs ``local[N]`` but every
setting below is cluster-meaningful.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the dir holding the package: the checkout, or the zip --py-files ships
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "twitter-crawler-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    local: bool = True,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    * AQE on: runtime partition coalescing + skew-join splitting — the crawl's
      fetch join and the seen anti-join both have zipf-skewed keys.
    * Arrow on: every Python crossing is an Arrow batch (pandas UDFs only;
      no per-row Python, per BASELINE.json input_hint).
    * UTC session timezone: parquet timestamps must mean the same instant to
      Spark, DuckDB (the correctness oracle) and the fixture generator.
    * Codegen cache sized to the crawl: a crawl round needs about 200
      generated classes, and a whole ``crawl_compact`` run about 380
      distinct ones. Spark's default cache holds 100, so its LRU evicted a
      round's working set before the next round and every round compiled
      it again. Janino compiles in ``crawl_compact`` rounds 1-4: 240/180/
      238/181 with 100 entries, 83/30/42/16 with 1024 (BASELINE.md, "A
      round compiles once").
    * ``local=False`` (the ``spark-submit`` path, jobs/crawl.py): no
      ``.master()`` call — the cluster manager from ``--master`` wins, and
      ``cores`` only sizes the default shuffle parallelism.
    * The Python workers import this package from the dir that holds it
      (the checkout, or the ``--py-files`` zip): it goes first on their
      ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``, ahead of any value
      ``extra_conf`` gives), so a driver started outside the checkout with
      no ``PYTHONPATH`` of its own still runs its UDFs.
    """
    extra_conf = dict(extra_conf or {})
    key = "spark.executorEnv.PYTHONPATH"
    extra_conf[key] = os.pathsep.join(filter(None, (_PKG_PARENT, extra_conf.get(key))))
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = SparkSession.builder.appName(app_name)
    if local:
        b = b.master(f"local[{cores}]")
    b = (
        b.config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # the popped fetch batch is small → let Spark broadcast it against the
        # huge pages table; 64 MB threshold is safe with 128 GiB driver
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # parquet min/max pruning for the warc_ts cursor predicate
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        # static conf: read once, when the session is created (see above)
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    for k, v in extra_conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_df(spark: SparkSession, rows, schema):
    """DataFrame from driver-local rows, planned without a Python RDD.

    ``spark.createDataFrame(list_of_tuples)`` takes the ``parallelize`` path:
    the rows become a Python RDD whose conversion re-launches a fleet of
    Python workers on EVERY action — measured 5-8 s per action for a 33-row
    frame at local[32], which made the per-round metrics write the single
    most expensive crawl stage. Rows go through pandas + Arrow instead,
    converted once on the driver into a ``LocalRelation`` (a LocalTableScan
    at action time). An empty pandas frame (or list) would fall back to the
    ``parallelize`` path (Spark 4.1 plans it as a ``LogicalRDD``), so no
    rows give an empty ``LocalRelation`` built on the JVM side. The
    optimizer's first pass drops it from every join and ``Union`` it
    feeds, before any other rule runs, so the plan is the one written
    without it. (A ``range(0)`` stays as a ``Union`` child; a ``false``
    filter over typed nulls becomes empty only mid-optimization, and the
    joins it removes leave ``CASE WHEN true`` projections and stacked
    limits behind.)

    ``schema`` may be a StructType, a DDL string ("a int, b string"), or a
    list of column names (the bare-minimum createDataFrame forms used here).
    """
    import pandas as pd
    from pyspark.sql import DataFrame
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    rows = list(rows)
    if not rows and isinstance(schema, StructType):
        jss = spark._jsparkSession
        jschema = jss.parseDataType(schema.json())
        return DataFrame(jss.createDataFrame(spark._jvm.java.util.ArrayList(), jschema), spark)
    names = schema.fieldNames() if isinstance(schema, StructType) else list(schema)
    pdf = pd.DataFrame(rows, columns=names)
    return spark.createDataFrame(pdf, schema)
