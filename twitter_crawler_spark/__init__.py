"""twitter_crawler_spark — a PySpark-native batch-iterative URL-frontier crawler.

A brand-new engine (NOT a port) with the capabilities of the reference
``rodrask/twitter-crawler`` (Scala actors + Redis zset frontier + Neo4j graph +
Lucene index), re-imagined per BASELINE.json's north rule as:

* an iterative crawl loop over a Common-Crawl-style ``pages`` table
  (url, warc_ts, html, text, lang),
* a ``frontier`` DataFrame with priority (depth, host-budget, OPIC-style score),
  revisit intervals, attempt caps and unproductive-URL eviction
  (reference: storages/RedisFutureStorage.scala),
* a partitioned bloom-filter + exact-anti-join URL-seen set (reference:
  jedis.hexists / Lucene isNew dedup),
* per-host politeness budgets + robots.txt longest-prefix rules with a
  salted-host repartition for hot-domain skew,
* vectorized Arrow/pandas UDFs for canonicalization, murmur3 hashing and
  outlink/text extraction (no per-row Python),
* per-round atomic snapshot commits (Iceberg-style) enabling mid-crawl resume
  with zero re-fetch, with per-partition lineage + fetch metrics.
"""

__version__ = "0.1.0"

from twitter_crawler_spark.config import CrawlConfig  # noqa: F401
