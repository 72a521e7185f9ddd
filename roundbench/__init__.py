"""Crawl-round benchmark of dumb_crawler_spark (see README.md)."""
