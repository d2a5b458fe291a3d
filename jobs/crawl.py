"""spark-submit entrypoint for the crawl (north-rule deployment path).

Packaging + launch (the ``--py-files`` contract from BASELINE.json):

    scripts/make_dist.sh                    # → dist/twitter_crawler_spark.zip
    spark-submit --master <cluster-or-local[N]> \
        --py-files dist/twitter_crawler_spark.zip \
        jobs/crawl.py --fixture <dir> --state <dir> --max-rounds 20

On a cluster the ``--master``/executor flags from spark-submit win (the
session factory skips ``.master()``); in this sandbox the same command runs
with ``--master local[N]``. The job is resumable: re-running with the same
``--state`` dir continues from the last committed snapshot (uncommitted
round debris is cleaned first), with zero re-fetch of committed rounds.
URL dedup always runs the bloom prefilter, then the exact anti-join over
url_seen for the bloom positives; it has no switch.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--fixture", required=True,
                   help="input dir: pages/ (bucketed parquet), seeds.txt, "
                        "redirects/robots/politeness parquet")
    p.add_argument("--state", required=True,
                   help="snapshot-store dir (created if absent; reuse to resume)")
    p.add_argument("--max-rounds", type=int, default=None,
                   help="stop before this round (default: CrawlConfig.max_rounds)")
    p.add_argument("--lang", default="ru",
                   help="lang filter ('' disables, mirroring setLang)")
    p.add_argument("--crawl-once", action="store_true")
    p.add_argument("--fanout-revisits", action="store_true")
    p.add_argument("--no-evict", action="store_true",
                   help="disable unproductive-url eviction")
    p.add_argument("--shuffle-partitions", type=int, default=None,
                   help="fixed shuffle partition count (size to the data, "
                        "not the executor count)")
    p.add_argument("--shared-state", action="store_true",
                   help="declare that --state (and its bloom sidecars) is on "
                        "a filesystem shared by all executors; REQUIRED for a "
                        "non-local --master (the engine fails fast otherwise, "
                        "because node-local sidecars silently lose dedup "
                        "state)")
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # imports deferred until after --py-files has placed the zip on sys.path
    import os

    from twitter_crawler_spark.config import CrawlConfig
    from twitter_crawler_spark.crawl.engine import CrawlEngine
    from twitter_crawler_spark.session import get_spark

    if args.shared_state:
        os.environ["TCS_STATE_SHARED"] = "1"

    spark = get_spark(app_name="tcs-crawl", local=False,
                      shuffle_partitions=args.shuffle_partitions)
    cfg = CrawlConfig(
        lang_filter=args.lang or None,
        crawl_once=args.crawl_once,
        fanout_revisits=args.fanout_revisits,
        evict_unproductive=not args.no_evict,
    )
    eng = CrawlEngine(spark, args.fixture, args.state, cfg)
    summary = eng.run(args.max_rounds)
    fetched = (
        eng.round_metrics()
        .where("partition_id = -1")
        .selectExpr("sum(fetched) f", "sum(new_urls) n", "sum(dupes) d")
        .collect()[0]
    )
    print(json.dumps({**summary, "fetched": int(fetched.f or 0),
                      "new_urls": int(fetched.n or 0), "dupes": int(fetched.d or 0)}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
