#!/usr/bin/env bash
# Package oa_spider_spark as a --py-files zip and run a crawl via
# spark-submit (north_rule packaging contract). Args pass through to
# scripts/submit_crawl.py, which applies the engine's SparkConf entries
# (oa_spider_spark/session.py ENGINE_CONF); --master defaults to local[8].
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
MASTER="${SPARK_MASTER:-local[8]}"
mkdir -p "$REPO/dist"
(cd "$REPO" && rm -f dist/oa_spider_spark.zip \
  && zip -qr dist/oa_spider_spark.zip oa_spider_spark -x '*__pycache__*')
exec spark-submit --master "$MASTER" \
  --py-files "$REPO/dist/oa_spider_spark.zip" \
  "$REPO/scripts/submit_crawl.py" "$@"
