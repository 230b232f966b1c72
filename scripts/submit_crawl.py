#!/usr/bin/env python
"""spark-submit entry point for the crawl engine (north_rule: "run via
spark-submit --py-files on a multi-executor cluster").

The package ships as a zip on --py-files; this driver only parses args,
builds the session with the engine's settings (`session.ENGINE_CONF`;
spark-submit supplies the master), seeds the
catalog if empty, and runs N rounds with exact resume — rerunning the
same command after a crash continues from the last committed round.

Usage (see scripts/spark_submit.sh for the packaged invocation):
    spark-submit --master local[8] --py-files dist/oa_spider_spark.zip \
        scripts/submit_crawl.py --catalog /tmp/crawl_cat --rounds 3 \
        --seeds 50000 --hosts 24
On a real cluster, swap --master for yarn/k8s and size
--partitions ≈ 2-3× total executor cores.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--catalog", required=True, help="catalog root directory")
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--seeds", type=int, default=20_000)
    ap.add_argument("--hosts", type=int, default=24)
    ap.add_argument("--budget", type=int, default=None)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--hot-share", type=float, default=0.4)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from oa_spider_spark.session import ENGINE_CONF

    # set before the session starts, as the static codegen entries need;
    # builder entries take precedence over the same keys given with --conf
    builder = SparkSession.builder.appName("oa_spider_crawl")
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from oa_spider_spark import datagen
    from oa_spider_spark.frontier.round import run_crawl, seed_catalog
    from oa_spider_spark.tables import Catalog

    cat = Catalog(args.catalog)
    if cat.last_round() is None:
        seed_catalog(spark, cat, datagen.seed_frontier_df(
            spark, args.seeds, n_hosts=args.hosts, hot_share=args.hot_share,
            partitions=args.partitions,
        ))

    results = run_crawl(
        spark, cat, args.rounds,
        n_hosts=args.hosts,
        default_budget=args.budget or max(200, args.seeds // args.hosts),
        partitions=args.partitions,
    )
    for r in results:
        print(json.dumps({
            "round": r.round_id, "selected": r.selected, "ok": r.fetched_ok,
            "retried": r.retried, "failed": r.failed, "new_links": r.new_links,
            "bytes": r.bytes_fetched,
        }))
    print(json.dumps({"committed_rounds": cat.committed_rounds()}))


if __name__ == "__main__":
    main()
