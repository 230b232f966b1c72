"""Crawl-round benchmark for oa_spider_spark (see README.md in this folder)."""
