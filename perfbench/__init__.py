"""Crawl-frontier benchmark for web_scraper_spark (see README.md)."""
