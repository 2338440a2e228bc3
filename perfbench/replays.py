"""Layer replays for the traced run.

Spark is lazy, so a lazy layer's cost shows up inside whichever call
forces it. Each replay calls one layer's public function alone, on the
inputs of the crawl that just ran, and forces it into the ``noop`` sink;
the inputs are materialized to parquet first so only the layer itself
is timed.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from perfbench.spans import count_jobs

FRONTIER_SCHEMA = (
    "url string, host string, depth int, seed_idx long, seed_url string, "
    "caption string, priority double"
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, group: str, fn) -> tuple[float, int]:
    """Seconds and Spark jobs of ``fn()`` under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    t = time.perf_counter()
    try:
        fn()
    finally:
        dt = time.perf_counter() - t
        sc.setLocalProperty("spark.jobGroup.id", None)
    return dt, count_jobs(sc, sc.statusTracker().getJobIdsForGroup(group)).jobs


def _frontier(spark, rows, path: str):
    """Materialize frontier rows once; replays read them from parquet."""
    spark.createDataFrame(rows, FRONTIER_SCHEMA).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def crawl_replays(spark, fx, log, seen_urls, budget, root, run_id):
    """Per-layer replays over one polite crawl's inputs: the fetched
    frontier (crawl log rows), the discovered set and the web parquet."""
    from urllib.parse import urlparse

    from web_scraper_spark.functions.urls import canonicalize_url
    from web_scraper_spark.operators.extract import extract_all
    from web_scraper_spark.operators.images import land_images
    from web_scraper_spark.operators.politeness import assign_rounds
    from web_scraper_spark.sources.fetch import fetch_join
    from web_scraper_spark.sources.robots import build_rules_table, filter_allowed

    os.makedirs(root, exist_ok=True)
    m: dict[str, float] = {}
    web = fx.web_df(spark)
    seed_url = {s: u for _r, d, s, u in fx.oracle.crawl_order if d == 0}
    rows = [
        (u, urlparse(u).netloc.lower(), d, s, seed_url.get(s, u), None, float(s))
        for _r, d, s, u in log
    ]
    frontier = _frontier(spark, rows, os.path.join(root, "frontier"))

    # sources.fetch
    fetched_path = os.path.join(root, "fetched")
    m["fetch.join_s"], _ = _timed(
        spark, f"{run_id}-fetch", lambda: _noop(fetch_join(frontier, web)))
    fetch_join(frontier, web).write.mode("overwrite").parquet(fetched_path)
    fetched = spark.read.parquet(fetched_path)
    agg = fetched.agg(
        F.count("*").alias("n"),
        F.sum((F.col("status") == 200).cast("long")).alias("ok"),
        F.sum(F.coalesce(F.length("body"), F.lit(0))).alias("body"),
    ).first()
    m["fetch.rows_per_s"] = agg.n / m["fetch.join_s"]
    m["fetch.ok_ratio"] = (agg.ok or 0) / agg.n
    m["fetch.body_mb"] = (agg.body or 0) / 1e6

    # operators.extract
    html_ok = fetched.where(
        (F.col("status") == 200) & F.col("content_type").contains("text/html"))
    extracted = html_ok.select(extract_all(
        F.col("seed_url"), F.col("body").cast("string"),
        F.when(F.col("depth") > 0, F.col("url")).otherwise(F.lit("")),
    ).alias("ex"))
    m["extract.udf_s"], _ = _timed(spark, f"{run_id}-extract", lambda: _noop(extracted))
    m["extract.pages_per_s"] = html_ok.count() / m["extract.udf_s"]

    # operators.images
    image_ok = fetched.where(
        (F.col("status") == 200) & F.col("content_type").startswith("image/"))
    landed = land_images(image_ok.select("url", "caption", "body"))
    m["images.land_s"], _ = _timed(spark, f"{run_id}-images", lambda: _noop(landed))
    m["images.landed"] = landed.count()

    # functions.urls: canonicalize + xxhash64 over the crawl's urls
    hashed = frontier.select(F.xxhash64(canonicalize_url(F.col("url"))).alias("h"))
    m["urls.canon_hash_s"], _ = _timed(spark, f"{run_id}-urls", lambda: _noop(hashed))

    # operators.politeness: the deepest depth's frontier, which the
    # budget splits into most rounds
    deepest = frontier.where(F.col("depth") == max(d for _r, d, _s, _u in log))
    handles: list = []

    def assign():
        nonlocal assigned
        assigned = assign_rounds(
            deepest.drop("seed_url", "caption"), budget, "range",
            release_handle=handles)
        _noop(assigned)

    assigned = None
    try:
        m["politeness.assign_s"], m["politeness.jobs"] = _timed(
            spark, f"{run_id}-politeness", assign)
        sizes = [r["count"] for r in assigned.groupBy(
            F.spark_partition_id().alias("p")).count().collect()]
        m["politeness.partition_skew"] = max(sizes) / (sum(sizes) / len(sizes))
    finally:
        for h in handles:
            h.release()

    # sources.robots: rules from the web's robots.txt rows, then the
    # filter over every discovered url
    pages = web.where(
        F.col("url").endswith("/robots.txt") & (F.col("status") == 200)
    ).select("host", "body")
    rules_path = os.path.join(root, "rules")
    m["robots.build_s"], _ = _timed(
        spark, f"{run_id}-robots-build", lambda: _noop(build_rules_table(pages)))
    build_rules_table(pages).write.mode("overwrite").parquet(rules_path)
    rules = spark.read.parquet(rules_path)
    disc = _frontier(
        spark,
        [(u, urlparse(u).netloc.lower(), 1, 0, u, None, 0.0) for u in sorted(seen_urls)],
        os.path.join(root, "discovered"),
    )
    allowed = filter_allowed(disc, rules)
    m["robots.filter_s"], _ = _timed(
        spark, f"{run_id}-robots-filter", lambda: _noop(allowed))
    m["robots.blocked_ratio"] = (len(seen_urls) - allowed.count()) / len(seen_urls)
    return m


def urls_replay(spark, stream, run_id) -> float:
    """canonicalize_url (inside ``candidates``) + xxhash64 over one
    seen-stream batch."""
    hashed = stream.candidates(spark, 0).select(F.xxhash64("url").alias("h"))
    dt, _ = _timed(spark, f"{run_id}-urls", lambda: _noop(hashed))
    return dt
