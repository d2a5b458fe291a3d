"""Explicit StructType schemas for every engine table (SURVEY.md §1.3).

The reference is schema-less (ad-hoc Neo4j property bags, Redis strings —
storages/GraphStorage.scala:88-115, storages/RedisFutureStorage.scala:61);
this engine is schema-first. ``pages`` is authoritative from
BASELINE.json.input_hint.

``STORE_TABLES`` declares every snapshot-store table together with the
partition columns of its directory layout; ``store_schema`` is the schema a
write must match and a read passes to the parquet reader, so no state read
runs a footer-inference job.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# input table (BASELINE.json input_hint) + engine-added bucket column for
# storage-partitioned fetch joins (Iceberg bucket(url) analog)
PAGES = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

# replaces the Redis zset + per-value hash fields (RedisFutureStorage.scala:14-29)
FRONTIER = StructType(
    [
        StructField("url", StringType(), False),
        StructField("url_hash", LongType(), False),
        StructField("host", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("score", LongType(), False),  # OPIC micro-cash (integer)
        StructField("attempt", IntegerType(), False),
        StructField("next_fetch_ts", LongType(), False),  # logical seconds
        StructField("last_cursor", LongType(), False),  # max warc_ts seen (logical)
        StructField("src_round", IntegerType(), False),
    ]
)

# replaces jedis.hexists / Lucene isNew (RedisFutureStorage.scala:29;
# GraphStorage.scala:136-141); bloom sidecars shard by url_hash % P
URL_SEEN = StructType(
    [
        StructField("url_hash", LongType(), False),
        StructField("url", StringType(), False),
        StructField("first_round", IntegerType(), False),
    ]
)

# replaces POSTED/RT/MENTION/TAGGED relationships (GraphStorage.scala:143-218)
# src_bucket = murmur3_64(src_url) % seen_partitions is the layout partition
# column: per-source analytics scans (J1/J5) partition-prune on it
EDGES = StructType(
    [
        StructField("src_url", StringType(), False),
        StructField("dst_url", StringType(), False),
        StructField("anchor", StringType()),
        StructField("round", IntegerType(), False),
        StructField("ts", LongType(), False),  # logical fetch time
        StructField("src_bucket", IntegerType(), False),
    ]
)

# replaces the Lucene tweet index (TweetStorage.scala:39-51)
DOCS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("round", IntegerType(), False),
        StructField("text", StringType()),
        StructField("text_sha256", StringType()),
    ]
)

# the golden crawl-order trace (implicit zset pop order,
# RedisFutureStorage.scala:50,94) and the one record of a round's pops: the
# frontier's equality-delete keys and the hosts' last fetch rounds. The pop
# order ``seq`` is not stored: CrawlEngine.crawl_log() derives it on read as
# the rank of (depth, -score, url) within the round. Dirs written when it
# was stored still read, since a read takes only the declared columns.
CRAWL_LOG = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("url", StringType(), False),
        StructField("host", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("score", LongType(), False),
        StructField("attempt", IntegerType(), False),
    ]
)

# per-round, per-partition lineage + fetch metrics (north rule)
ROUND_METRICS = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("fetched", LongType(), False),
        StructField("hits", LongType(), False),
        StructField("results", LongType(), False),
        StructField("new_urls", LongType(), False),
        StructField("dupes", LongType(), False),
        StructField("robots_blocked", LongType(), False),
        StructField("evicted", LongType(), False),
        StructField("bloom_negative", LongType(), False),
        # always 0: the URL-seen test has no cuckoo tier any more; the
        # column stays because the benchmark (perfbench/crawl.py) reads it
        StructField("cuckoo_rejected", LongType(), False),
        StructField("wall_ms", LongType(), False),
        StructField("lineage", StringType()),
    ]
)

# per-round OPIC cash owed to a url, folded into ``score`` at read time
FRONTIER_GAINS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("gain", LongType(), False),
    ]
)

# urls evicted as unproductive revisits
EVICTIONS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("round", IntegerType(), False),
    ]
)

REDIRECTS = StructType(
    [
        StructField("short_url", StringType(), False),
        StructField("long_url", StringType(), False),
    ]
)

ROBOTS = StructType(
    [
        StructField("host", StringType(), False),
        StructField("prefix", StringType(), False),
        StructField("allow", BooleanType(), False),
    ]
)

# per-host politeness input (threads/RedisRetweetsThread.scala:20-25 analog)
POLITENESS = StructType(
    [
        StructField("host", StringType(), False),
        StructField("budget_per_round", IntegerType(), False),
        StructField("crawl_delay_rounds", IntegerType(), False),
    ]
)


# the fixture's static inputs (``<name>.parquet``), read under these
# schemas; CrawlEngine checks each file's footer against its entry
STATIC_INPUTS: dict[str, StructType] = {
    "redirects": REDIRECTS,
    "robots": ROBOTS,
    "politeness": POLITENESS,
}


def _with_partition(schema: StructType, *cols: str) -> StructType:
    """``schema`` plus integer partition columns appended at the end (the
    layout's directory values — ``band=3``, ``bucket=5`` — read back as int)."""
    return StructType(
        list(schema.fields) + [StructField(c, IntegerType(), False) for c in cols]
    )


# the pages input with its ``bucket=<b>`` layout column
PAGES_LAYOUT = _with_partition(PAGES, "bucket")

# snapshot-store table → (schema, partition columns of one round or
# generation dir). The schema lists the data columns, then the partition
# columns, in the order the engine writes them.
STORE_TABLES: dict[str, tuple[StructType, tuple[str, ...]]] = {
    "frontier": (_with_partition(FRONTIER, "band"), ("band",)),
    "frontier_gains": (FRONTIER_GAINS, ()),
    "url_seen": (_with_partition(URL_SEEN, "bucket"), ("bucket",)),
    "docs": (_with_partition(DOCS, "bucket"), ("bucket",)),
    "edges": (EDGES, ("src_bucket",)),
    "crawl_log": (CRAWL_LOG, ()),
    "evictions": (EVICTIONS, ()),
    "round_metrics": (ROUND_METRICS, ()),
}


def store_schema(table: str, with_round: bool = False) -> StructType:
    """Declared schema of a snapshot-store table; ``with_round`` appends the
    ``r`` partition column that a read of ``<table>/r=<k>`` dirs (base path
    ``<table>``) carries."""
    schema = STORE_TABLES[table][0]
    return _with_partition(schema, "r") if with_round else schema
