from twitter_crawler_spark.functions.hashing import murmur3_32, murmur3_64, murmur3_64_udf  # noqa: F401
from twitter_crawler_spark.functions.urls import canonicalize_series, canonicalize_udf  # noqa: F401
