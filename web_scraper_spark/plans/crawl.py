"""The crawl pipeline: iterative BFS frontier over snapshot tables.

Spark translation of the reference's Kafka loop (SURVEY.md §3.1):

    seeds -> prepare/dedup -> [per depth: politeness rounds ->
    fetch -> extract -> merge-records / land-images / log] ->
    names MERGE -> company_records

Each global round is one snapshot-committed micro-batch (tag
``round-N``), so a killed driver resumes from the last committed round
with identical final state (SURVEY.md H5; tested in
tests/test_crawl_parity.py::test_resume).

Scale notes (the part that matters at 10^10 URLs / 1000 executors):
- the frontier only ever shuffles on its politeness keys (host) and the
  seen-set hash — both explicit, both salted/range-partitioned against
  hot-host skew (operators/politeness.py),
- raw HTML bytes never shuffle: fetch -> extract happen in the same
  stage (the fetch join's output feeds the extraction UDF pipelined,
  no exchange between them — check ``.explain``),
- the merge is a per-round groupBy(domain) of *extracted arrays* (tiny
  compared to HTML) + a keyed table MERGE,
- crawl-order logging appends only (round, depth, seed_idx, url).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from web_scraper_spark.functions.names import normalize_company_name, best_name
from web_scraper_spark.functions.phones import normalize_phone_list
from web_scraper_spark.functions.social import normalize_social_profile
from web_scraper_spark.functions.urls import (
    canonicalize_url,
    domain_from_url,
    host_of,
    prepare_url,
)
from web_scraper_spark.operators.extract import extract_all
from web_scraper_spark.operators.images import land_images
from web_scraper_spark.operators.politeness import assign_rounds
from web_scraper_spark.operators.seen import URLSeenSet
from web_scraper_spark.sources.fetch import fetch_join
from web_scraper_spark.sources.tables import SnapshotTable, merge_company_records

FRONTIER_SCHEMA = (
    "url string, host string, depth int, seed_idx long, seed_url string, "
    "caption string, priority double, round_offset long"
)

# Optional phase profiling (optimization-guide §1.5): set
# SPARK_GRAFT_CRAWL_PROFILE=1 to print per-phase driver wall times.
_PROFILE = bool(os.environ.get("SPARK_GRAFT_CRAWL_PROFILE"))


class _phase:
    _acc: dict[str, list[float]] = {}

    def __init__(self, name: str):
        self.name = name

    def __enter__(self):
        self.t0 = time.monotonic()

    def __exit__(self, *exc):
        if _PROFILE:
            dt = time.monotonic() - self.t0
            self._acc.setdefault(self.name, []).append(dt)
            print(f"[crawl-profile] {self.name}: {dt:.3f}s", flush=True)


def _parquet_num_rows(path: str) -> int:
    """Total row count of a just-written parquet dir from file footers —
    a driver-side metadata read (no Spark job)."""
    import pathlib

    import pyarrow.parquet as pq

    total = 0
    for f in pathlib.Path(path).glob("*.parquet"):
        total += pq.ParquetFile(str(f)).metadata.num_rows
    return total


@dataclass
class CrawlResult:
    crawl_log: DataFrame  # (round, depth, seed_idx, url)
    url_seen: DataFrame  # (url)
    company_records: DataFrame
    images: DataFrame
    metrics: DataFrame
    rounds: int


def _seed_frontier(spark: SparkSession, seeds: list[str]) -> DataFrame:
    """Seed stage (A1/B1/F1): CSV order, skip blanks, prepare, first-
    occurrence dedup, seed_idx = acceptance order."""
    rows = [(i, s) for i, s in enumerate(seeds)]
    # scale-adaptive slicing (optimization guide §2): the default
    # createDataFrame parallelizes into defaultParallelism slices, so a
    # 300-row seed list becomes 32 near-empty partitions and every map
    # stage over it pays 32 task launches. Slice by row count instead;
    # large seed lists still fan out to full parallelism.
    n_slices = max(1, min(spark.sparkContext.defaultParallelism, len(rows) // 2048))
    raw = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_slices), "row_idx long, raw string"
    )
    from web_scraper_spark.functions.urls import strip_ws

    prepared = (
        raw.where(strip_ws(F.coalesce(F.col("raw"), F.lit(""))) != "")
        .withColumn("url", prepare_url(F.col("raw")))
    )
    first = prepared.groupBy("url").agg(F.min("row_idx").alias("first_row"))
    from pyspark.sql import Window

    w = Window.orderBy("first_row")
    return (
        first.withColumn(
            "seed_idx", (F.row_number().over(w) - F.lit(1)).cast("long")
        )
        .select(
            "url",
            host_of(F.col("url")).alias("host"),
            F.lit(0).cast("int").alias("depth"),
            "seed_idx",
            F.col("url").alias("seed_url"),
            F.lit(None).cast("string").alias("caption"),
        )
    )


def _seed_frontier_from_table(spark: SparkSession, table_path: str) -> DataFrame:
    """Handoff from the streaming ingest (streaming/frontier.py): the
    landed frontier SnapshotTable becomes the batch crawl's depth-0 seed
    set. URLs arrive already prepared + cross-batch deduped; acceptance
    order (the crawl's ``seed_idx`` ordering invariant) is re-derived
    deterministically as (ingest batch, url) — within a micro-batch the
    file stream has no row order, so (batch, url) is the finest
    deterministic order the stream can guarantee. Parity with a direct
    ``seeds`` list therefore holds when the direct list enumerates each
    batch's URLs in lexicographic order (pinned by
    tests/test_streaming_frontier.py)."""
    from pyspark.sql import Window

    t = SnapshotTable(spark, table_path)
    df = t.read()
    if df is None:
        raise ValueError(f"seed_table {table_path!r} has no committed snapshot")
    w = Window.orderBy(F.asc("_batch"), F.asc("url"))  # _batch = ingest batch_id
    return (
        # min(_batch) per url, not dropDuplicates: a URL re-ingested in a
        # later batch (second ingest run into the same table — the
        # streaming dedup state does not span queries) must resolve to a
        # DETERMINISTIC batch or every later seed_idx shifts between runs
        df.select("url", "host", F.col("seed_idx").alias("_batch"))
        .groupBy("url", "host")
        .agg(F.min("_batch").alias("_batch"))
        .withColumn("seed_idx", (F.row_number().over(w) - F.lit(1)).cast("long"))
        .select(
            "url",
            "host",
            F.lit(0).cast("int").alias("depth"),
            "seed_idx",
            F.col("url").alias("seed_url"),
            F.lit(None).cast("string").alias("caption"),
        )
    )


def _with_priority(df: DataFrame, priority_expr) -> DataFrame:
    """Attach the frontier's priority column (the priority-queue
    dimension; lower drains first). Default = seed_idx, i.e. the
    reference's FIFO-by-seed-order behavior."""
    if priority_expr is None:
        return df.withColumn("priority", F.col("seed_idx").cast("double"))
    return df.withColumn("priority", priority_expr(df).cast("double"))


def _prepare_record_batch(extracted: DataFrame) -> DataFrame:
    """Extracted rows (any number of rounds) -> one merge row per domain
    (storage_service.py:86-94 projections). The combine follows the
    oracle's message-processing order — (depth, seed_idx, url) — which is
    exactly per-domain first-occurrence order because politeness rounds
    split *within* a host by that same (seed_idx, url) rank."""
    rec = (
        extracted.withColumn("domain", domain_from_url(F.col("seed_url")))
        .where(F.col("domain").isNotNull())
        .select(
            "domain",
            "depth",
            "seed_idx",
            F.col("seed_url").alias("url"),
            "phone_numbers",
            "social_media_links",
            "addresses",
            F.filter(
                F.transform(
                    F.col("social_media_links"),
                    lambda s: normalize_social_profile(s),
                ),
                lambda p: p.isNotNull(),
            ).alias("social_media_profiles"),
            normalize_phone_list(F.col("phone_numbers")).alias(
                "normalized_phone_numbers"
            ),
        )
    )
    combined = rec.groupBy("domain").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    "depth", "seed_idx", "url", "phone_numbers",
                    "social_media_links", "addresses",
                    "social_media_profiles", "normalized_phone_numbers",
                )
            )
        ).alias("rs")
    )

    def flat(c: str):
        return F.array_distinct(
            F.flatten(F.transform(F.col("rs"), lambda r: r[c]))
        ).alias(c)

    return combined.select(
        "domain",
        flat("phone_numbers"),
        flat("social_media_links"),
        flat("addresses"),
        flat("social_media_profiles"),
        flat("normalized_phone_numbers"),
        F.element_at(F.col("rs"), -1)["url"].alias("url"),
        F.lit(None).cast("string").alias("company_name"),
        F.lit(None).cast("string").alias("searchable_name"),
    )


def run_crawl(
    spark: SparkSession,
    seeds: list[str],
    web: DataFrame,
    names_rows: list[tuple] | None = None,
    *,
    workdir: str,
    politeness_budget: int | None = None,
    politeness_method: str = "range",
    dedup_contacts: bool = False,
    resume: bool = False,
    max_depth: int = 1,
    use_robots: bool = False,
    robots_agent: str = "*",
    ingest_sitemaps: bool = False,
    live: bool = False,
    live_proxy: str | None = None,
    live_timeout_s: float = 15.0,
    priority_expr=None,
    seen_mode: str = "exact",
    expire_history: bool = True,
    seed_table: str | None = None,
    export_warc: bool = False,
) -> CrawlResult:
    """Run (or resume) the full crawl. ``dedup_contacts=False`` mirrors
    the reference's duplicate-fetch behavior (SURVEY.md F5); True enables
    the graft's full URL-seen dedup at every depth. ``live=True`` swaps
    the hermetic fetch-join for the real threaded fetcher (same
    interface; per-host crawl delays ride the frontier as a column from
    the robots rules) — exercised through the loopback proxy in CI.
    ``robots_agent``: RFC 9309 §2.2.1 product token (default '*' =
    wildcard groups only). ``ingest_sitemaps=True``: robots-advertised
    sitemap pages join the depth-0 frontier (hermetic mode only — a live
    crawl learns rules per depth, after staging). ``expire_history``:
    trim every table to its current snapshot (+ the frontier's resume
    tag) on completion. ``seed_table``: path to a streaming-ingested
    frontier SnapshotTable (streaming/frontier.ingest_seed_stream) to
    seed from instead of the ``seeds`` list — the batch half of the
    stream-to-crawl handoff. ``export_warc=True``: archive every fetch
    attempt (incl. timeouts, status 0) as gzipped WARC response records
    under ``<workdir>/warc/round=NNNNN/`` — sources/warc.py, audit
    artifact outside the snapshot commit protocol."""
    frontier_t = SnapshotTable(spark, os.path.join(workdir, "frontier"))
    log_t = SnapshotTable(spark, os.path.join(workdir, "crawl_log"))
    extracted_t = SnapshotTable(spark, os.path.join(workdir, "extracted_log"))
    records_t = SnapshotTable(spark, os.path.join(workdir, "company_records"))
    images_t = SnapshotTable(spark, os.path.join(workdir, "images"))
    discovered_t = SnapshotTable(spark, os.path.join(workdir, "discovered_log"))
    if seen_mode == "exact":
        seen = URLSeenSet(spark, os.path.join(workdir, "url_seen"))
    elif seen_mode == "bloom":
        from web_scraper_spark.operators.seen import BloomURLSeenSet

        seen = BloomURLSeenSet(spark, os.path.join(workdir, "url_seen"))
    elif seen_mode == "cuckoo":
        from web_scraper_spark.operators.seen import CuckooURLSeenSet

        seen = CuckooURLSeenSet(spark, os.path.join(workdir, "url_seen"))
    else:
        raise ValueError(f"unknown seen_mode {seen_mode!r}")
    approx_seen = seen_mode != "exact"
    if approx_seen and not dedup_contacts:
        raise ValueError(
            "approximate seen modes only apply with dedup_contacts=True "
            "(parity mode never reads the seen set mid-crawl)"
        )

    # frames this call persists for the whole crawl; released before it
    # returns. A ``web`` the caller had already cached stays cached.
    own_cache: list[DataFrame] = []
    if web is not None and web.storageLevel == StorageLevel.NONE:
        web = web.cache()
        own_cache.append(web)

    # robots rule table (graft; SURVEY.md §4 custom #5). Hermetic mode
    # reads the /robots.txt rows straight off the synthetic web; a live
    # crawl fetches them in a pre-pass per newly-seen host (below) and
    # appends to a cached rules table that survives resume. Rules are
    # #hosts rows -> the filter join broadcasts them.
    robots_rules = None
    robots_t = SnapshotTable(spark, os.path.join(workdir, "robots_rules"))
    if use_robots and web is not None:
        from web_scraper_spark.sources.robots import build_rules_table

        robots_pages = web.where(
            F.col("url").endswith("/robots.txt") & (F.col("status") == 200)
        ).select("host", "body")
        robots_rules = build_rules_table(robots_pages, robots_agent).cache()
        robots_rules.count()
        own_cache.append(robots_rules)

    def _ensure_robots(df: DataFrame) -> None:
        """Live robots pre-pass: fetch ``http://host/robots.txt`` once per
        NEWLY-seen host through the same live fetch machinery, append the
        parsed rules to the cached table, refresh the broadcastable rules
        view. Outcome handling follows RFC 9309 §2.3.1: 200 -> parsed
        rules; 4xx ("unavailable") -> no restrictions, cached permanently;
        timeout/5xx ("unreachable") -> assume complete disallow, cached as
        TRANSIENT so the next pre-pass retries the host (transient rows
        are excluded from the anti-join). The latest row per host wins in
        the rules view."""
        nonlocal robots_rules
        import time as _time

        from web_scraper_spark.sources.fetch import fetch_live
        from web_scraper_spark.sources.robots import build_rules_table

        hosts = df.select("host").dropDuplicates(["host"])
        known = robots_t.read()
        if known is not None and not {"disallow_re", "sitemaps"} <= set(known.columns):
            # cache written by an older rules schema: rules are cheap to
            # re-fetch, so bust the cache rather than migrate it
            robots_t.reset()
            known = None
        if known is not None:
            hosts = hosts.join(
                known.where(~F.col("transient")).select("host"),
                "host",
                "left_anti",
            ).dropDuplicates(["host"])
        if not hosts.isEmpty():
            reqs = hosts.select(
                "host",
                F.concat(
                    F.lit("http://"), F.col("host"), F.lit("/robots.txt")
                ).alias("url"),
            )
            fetched = fetch_live(
                reqs, {}, timeout_s=live_timeout_s, proxy=live_proxy
            ).cache()

            def _row(cond, disallow, disallow_re, transient):
                return fetched.where(cond).select(
                    "host",
                    disallow.alias("disallow"),
                    disallow_re.alias("disallow_re"),
                    F.array().cast("array<string>").alias("allow"),
                    F.array().cast("array<string>").alias("allow_re"),
                    F.lit(None).cast("double").alias("crawl_delay"),
                    F.array().cast("array<string>").alias("sitemaps"),
                    F.lit(transient).alias("transient"),
                )

            got = build_rules_table(
                fetched.where(F.col("status") == 200).select("host", "body"),
                robots_agent,
            ).withColumn("transient", F.lit(False))
            unavailable = _row(
                F.col("status").between(400, 499),
                F.array().cast("array<string>"),
                F.array().cast("array<string>"),
                False,
            )
            unreachable = _row(
                (F.col("status") == 0) | (F.col("status") >= 500),
                F.array(F.lit("/")),
                # '/' is a plain prefix -> null regex, matched startswith
                # like every other prefix rule (single source of
                # semantics; review r2)
                F.array(F.lit(None).cast("string")),
                True,
            )
            robots_t.append(
                got.unionByName(unavailable)
                .unionByName(unreachable)
                .withColumn("fetched_at", F.lit(_time.time()))
            )
            fetched.unpersist()
        cached = robots_t.read()
        if cached is None:
            robots_rules = None
        else:
            # latest fetch wins; on a (rare) same-instant tie prefer the
            # definitive row over the transient disallow-all
            latest = Window.partitionBy("host").orderBy(
                F.desc("fetched_at"), F.asc("transient")
            )
            from web_scraper_spark.sources.robots import RULES_COLS

            robots_rules = (
                cached.withColumn("_rn", F.row_number().over(latest))
                .where(F.col("_rn") == 1)
                .select("host", *RULES_COLS)
            )

    def _robots_filter(df: DataFrame) -> DataFrame:
        if not use_robots:
            return df
        if web is None:
            _ensure_robots(df)
        if robots_rules is None:
            return df
        from web_scraper_spark.sources.robots import filter_allowed

        # live crawls keep crawl_delay as a frontier column: the fetcher
        # paces from it per partition, so no driver-side rules collect
        # (VERDICT r2) — the rules table can be 10^8 hosts
        return filter_allowed(df, robots_rules, keep_delay=live)

    # Frontier state = active (the current depth, politeness-assigned,
    # written ONCE partitioned by round_offset) ∪ staged (next-depth
    # delta dirs, one per producing round, assigned only when the current
    # depth drains — mirrors the oracle's per-depth rounds_for batching).
    # Per-round consumption is a MANIFEST update (commit_dirs drops the
    # consumed round's partition dir and lists the new staged delta):
    # write amplification is O(frontier) per DEPTH, not per round — at
    # 10^9-row frontiers with hundreds of politeness rounds the old
    # rewrite-the-remainder checkpoint was the dominant write cost.
    def _stage_depth(df: DataFrame) -> dict[int, str]:
        """Assign politeness rounds and write the depth's frontier once;
        returns {round_offset: partition_dir}. Robots filtering precedes
        scheduling: blocked URLs consume no politeness slots and never
        reach the crawl log (url_seen keeps them — they were
        discovered)."""
        handles: list = []
        assigned = assign_rounds(
            _robots_filter(df), politeness_budget, politeness_method,
            release_handle=handles,
        )
        try:
            path = frontier_t.write_data(assigned, partition_by=["round_offset"])
        finally:
            # free the scheduler's checkpoint blocks so a many-depth crawl
            # never accumulates pinned frontier copies (VERDICT r3 nit) —
            # in finally so a failed write doesn't leak the checkpoint
            # either (the crawl resumes from the last committed round and
            # re-runs assign_rounds). Explicit handle (ADVICE r4), not the
            # result-attribute path.
            for h in handles:
                h.release()
        out: dict[int, str] = {}
        for name in os.listdir(path):
            if name.startswith("round_offset="):
                out[int(name.split("=", 1)[1])] = os.path.join(path, name)
        return out

    if resume and frontier_t.last_tag() is not None:
        tag = frontier_t.last_tag()
        round_no = int(tag.rsplit("-", 1)[1]) + 1
        extra = frontier_t.snapshot_extra(tag) or {}
        if not extra and frontier_t.read_at_tag(tag) is not None:
            # a tagged snapshot WITH data but WITHOUT the partitioned-
            # frontier metadata is a pre-refactor checkpoint — failing
            # loudly beats silently treating a mid-crawl state as done
            raise ValueError(
                f"checkpoint {tag!r} predates the partitioned frontier "
                "format (no resume metadata); restart without resume=True"
            )
        active_dirs = {int(k): v for k, v in (extra.get("active") or {}).items()}
        staged_dirs: list[str] = list(extra.get("staged") or [])
        depth_now = int(extra.get("depth", 0))
        state_paths = list(active_dirs.values()) + staged_dirs
        state = (
            spark.read.parquet(*state_paths).cache()
            if state_paths
            else spark.createDataFrame([], FRONTIER_SCHEMA).drop("round_offset")
        )
        if dedup_contacts:
            # restore the seen ⊇ enqueued invariant: a crash between the
            # frontier commit and the (post-commit) seen insert may have
            # lost the last round's discoveries from the seen set;
            # re-adding the checkpointed frontier is idempotent (approx
            # modes test membership before inserting)
            if approx_seen:
                # the discovered LOG may also have missed that round's
                # urls (a Bloom/Cuckoo filter can't be enumerated, so the
                # log is the reported url_seen set) — re-append the
                # checkpointed frontier first; duplicates collapse under
                # the final dropDuplicates (ADVICE r1)
                discovered_t.append(state.select("url"))
                seen.filter_and_add(state.select("url"))
            else:
                seen.add(state.select("url"))
        state.unpersist()
    else:
        # fresh run: clear any stale state from a previous run in this dir
        # (incl. the live robots cache — rules may have changed upstream)
        for t in (frontier_t, log_t, extracted_t, records_t, images_t,
                  discovered_t, seen.table, robots_t):
            t.reset()
        with _phase("seed_frontier"):
            seeds_df = _with_priority(
                _seed_frontier_from_table(spark, seed_table)
                if seed_table is not None
                else _seed_frontier(spark, seeds),
                priority_expr,
            ).cache()
        seed_frames = [seeds_df]
        if ingest_sitemaps and robots_rules is not None and web is not None:
            # graft: robots-advertised sitemaps seed extra depth-0 pages,
            # attributed to the seed of the SAME host (hosts with no seed
            # are out of crawl scope and drop in the inner join); dedup
            # against the seeds keeps the seed rows' identity stable
            from web_scraper_spark.sources.sitemaps import sitemap_frontier

            sm = sitemap_frontier(robots_rules, web).withColumnRenamed(
                "url", "sm_url"
            )
            # deterministic representative seed per host: min seed_idx
            # (ADVICE r3 — the plain host join fanned each sitemap URL out
            # to every seed of the host and dropDuplicates kept an
            # arbitrary row, breaking ordered-parity reproducibility)
            host_seed = (
                seeds_df.groupBy("host")
                .agg(
                    F.min_by(
                        F.struct("seed_idx", "seed_url"), F.col("seed_idx")
                    ).alias("_rep")
                )
                .select("host", F.col("_rep.seed_idx"), F.col("_rep.seed_url"))
            )
            extra = (
                host_seed
                .join(sm, "host")
                .join(
                    seeds_df.select(F.col("url").alias("sm_url")),
                    "sm_url",
                    "left_anti",
                )
                # cross-HOST duplicates need the same determinism as
                # multi-seed hosts: two seeded hosts advertising the same
                # URL must resolve to the min-(seed_idx, host)
                # representative, not an arbitrary dropDuplicates row
                .groupBy("sm_url")
                .agg(
                    F.min_by(
                        F.struct("host", "seed_idx", "seed_url"),
                        F.struct("seed_idx", "host"),
                    ).alias("_r")
                )
                .select(
                    F.col("sm_url").alias("url"),
                    F.col("_r.host"),
                    F.lit(0).cast("int").alias("depth"),
                    F.col("_r.seed_idx"),
                    F.col("_r.seed_url"),
                    F.lit(None).cast("string").alias("caption"),
                )
            )
            seeds_df = seeds_df.unionByName(
                _with_priority(extra, priority_expr)
            ).cache()
            seed_frames.append(seeds_df)
        if dedup_contacts:
            if approx_seen:
                # discovered-log append BEFORE the filter insert: a crash
                # between the two re-appends on resume (idempotent under
                # the final dropDuplicates) — the reverse order would let
                # the filter block re-discovery while the log lost the
                # urls forever (ADVICE r1)
                discovered_t.append(seeds_df.select("url"))
                seen.filter_and_add(seeds_df.select("url"))
            else:
                seen.add(seeds_df.select("url"))
        else:
            with _phase("seed_discovered_append"):
                discovered_t.append(seeds_df.select("url"))
        with _phase("stage_depth0"):
            active_dirs = _stage_depth(seeds_df)
        for df in seed_frames:
            df.unpersist()
        staged_dirs = []
        round_no = 0
        depth_now = 0

    while True:
        if not active_dirs:
            if not staged_dirs:
                break
            with _phase("stage_depth"):
                active_dirs = _stage_depth(spark.read.parquet(*staged_dirs))
            staged_dirs = []
            depth_now += 1  # staged rows are always depth_now + 1
            # robots filtering may have emptied the whole staged depth —
            # re-check before taking min() of the dir map
            continue
        # partition dirs only exist for nonempty rounds, so dict emptiness
        # IS row emptiness — the old per-round isEmpty() jobs are gone
        cur_offset = min(active_dirs)
        current = spark.read.parquet(active_dirs[cur_offset])
        # round size, from parquet footers (driver-side, ~ms): drives the
        # scale-adaptive partition sizing below
        cur_rows = _parquet_num_rows(active_dirs[cur_offset])

        # ---- fetch + route --------------------------------------------
        if live:
            from web_scraper_spark.operators.politeness import salted_key
            from web_scraper_spark.sources.fetch import fetch_live

            # salted host partitioning: a hot host spreads across
            # partitions while each partition paces its hosts locally
            # from the frontier's own crawl_delay column (joined on by
            # _robots_filter at staging time — no rules collect)
            paced = current.repartition(salted_key(F.col("host"), F.col("url")))
            fetched = (
                fetch_live(paced, {}, timeout_s=live_timeout_s, proxy=live_proxy)
                .drop("crawl_delay")
                .cache()
            )
        else:
            fetched = fetch_join(current, web).cache()

        # ---- crawl log + lineage in ONE write (canonical crawl order,
        # SURVEY.md §3.4; per-partition lineage columns ride along).
        # attempt_no uniquifies legitimate same-key duplicate fetches so
        # the at-least-once replay dedup never collapses them ------------
        log_w = Window.partitionBy("round", "depth", "seed_idx", "url").orderBy(
            "partition_id"
        )
        with _phase("log_append"):
         log_t.append(
            fetched.select(
                F.lit(round_no).alias("round"),
                F.col("depth"),
                F.col("seed_idx"),
                canonicalize_url(F.col("url")).alias("url"),
                host_of(canonicalize_url(F.col("url"))).alias("host"),
                F.spark_partition_id().alias("partition_id"),
                (F.col("status") == 200).cast("long").alias("ok"),
                # round wall-clock: lets the as-of robots enrichment
                # (plans/report.py attempts_robots_asof) attribute each
                # attempt to the rules snapshot in effect when it ran
                F.lit(float(time.time())).alias("ts"),
            ).withColumn("attempt_no", F.row_number().over(log_w)),
            tag=None,
         )
        # ---- optional WARC archive of this round's fetches -------------
        # Reads the cached `fetched` like the log/extract actions above;
        # one .warc.gz per partition, idempotent under resume (the round
        # dir is re-exported whole via atomic os.replace, and record ids
        # are deterministic). Audit artifact, not crawl state — it rides
        # outside the SnapshotTable commit protocol on purpose.
        if export_warc:
            from web_scraper_spark.sources.warc import write_warc

            warc_dir = os.path.join(workdir, "warc", f"round={round_no:05d}")
            write_warc(fetched, warc_dir).collect()  # <= #partitions rows

        html_ok = fetched.where(
            (F.col("status") == 200) & F.col("content_type").contains("text/html")
        )
        image_ok = fetched.where(
            (F.col("status") == 200) & F.col("content_type").startswith("image/")
        )

        # ---- extract (same stage as fetch — HTML never shuffles) ------
        extracted = html_ok.select(
            "seed_idx",
            "seed_url",
            "depth",
            "url",
            extract_all(
                F.col("seed_url"),
                F.col("body").cast("string"),
                F.when(F.col("depth") > 0, F.col("url")).otherwise(F.lit("")),
            ).alias("ex"),
        ).select("seed_idx", "seed_url", "depth", "url", "ex.*")
        if not dedup_contacts:
            # parity mode: materialize the slim extracted rows into a
            # row-count-derived number of partitions (AQE cannot coalesce
            # inside a cached plan — canChangeCachedPlanOutputPartitioning
            # is off — so an explicit scale-adaptive repartition does the
            # sizing): the 4+ downstream scans per round (record log,
            # contact/image explodes, staging) then run over a handful of
            # right-sized partitions instead of re-walking the UDF
            # stage's 32 near-empty ones (guide §2/§6). The UDF stage
            # itself keeps its full input parallelism — repartition is a
            # post-UDF exchange of slim rows only. Dedup mode keeps the
            # original partitioning: its dropDuplicates(["url"]) keeps
            # the first row per url, and perturbing partitioning upstream
            # of it could change WHICH duplicate survives (parity-pinned).
            n_slim = max(1, min(
                spark.sparkContext.defaultParallelism, cur_rows // 2048
            ))
            extracted = extracted.repartition(n_slim)
        extracted = extracted.cache()

        # ---- log extracted records (merged once after the loop: the
        # per-round log is what checkpoints; the final MERGE is a single
        # keyed aggregation instead of rounds x full-table rewrites) ----
        with _phase("extract_append"):
            extracted_t.append(
                extracted.select(
                    "depth", "seed_idx", "seed_url",
                    "phone_numbers", "social_media_links", "addresses",
                )
            )

        # ---- land images (graft route; reference drops these) ---------
        with _phase("images"):
         if not image_ok.isEmpty():
            landed = land_images(image_ok.select("url", "caption", "body"))
            existing = images_t.read()
            if existing is not None:
                # duplicate discoveries can split across politeness
                # sub-rounds; the landing table is keyed by image_id
                landed = landed.join(
                    existing.select("image_id"), "image_id", "left_anti"
                )
            images_t.append(landed)

        # ---- next frontier --------------------------------------------
        contacts = (
            extracted.where(F.col("depth") < max_depth)
            .select(
                "seed_idx",
                "seed_url",
                F.explode("contact_links").alias("url"),
            )
            .withColumn("caption", F.lit(None).cast("string"))
        )
        image_links = (
            # images are discovered on depth-0 pages only (contact pages
            # carry none in the fixture; the oracle pins the same rule)
            extracted.where(F.col("depth") == 0)
            .select(
                "seed_idx",
                "seed_url",
                F.explode("images").alias("img"),
            )
            .select(
                "seed_idx", "seed_url",
                F.col("img.src").alias("url"),
                F.col("img.caption").alias("caption"),
            )
        )
        discovered = contacts.unionByName(image_links).withColumn(
            "host", host_of(F.col("url"))
        )
        if dedup_contacts:
            # cache: the membership test against the whole seen set is
            # the priciest per-round op — evaluate it once, not per action
            deduped = discovered.dropDuplicates(["url"])
            if approx_seen:
                # crash-safe two-phase: test-only now, insert after the
                # frontier commit below
                novel = seen.filter_and_add(deduped.select("url"), insert=False)
                discovered = deduped.join(novel, "url", "left_semi").cache()
            else:
                discovered = seen.filter_new(deduped).cache()
        else:
            # parity mode never READS the seen set mid-crawl (F5: no
            # contact dedup), so discoveries go to an append-only log —
            # no per-round dedup shuffle; one distinct at the end.
            # Appended UNCONDITIONALLY: a pre-write isEmpty() probe costs
            # the same driver job as writing an empty delta, and nonempty
            # rounds (the common case) save the probe entirely
            with _phase("discovered_append"):
                discovered_t.append(discovered.select("url"))
        next_depth = _with_priority(
            discovered.select(
                "url", "host",
                (F.lit(depth_now) + 1).cast("int").alias("depth"),
                "seed_idx", "seed_url", "caption",
            ),
            priority_expr,
        )
        with _phase("stage_next"):
            # one delta dir per producing round — staged rows are written
            # exactly once, never rewritten. Written unconditionally, then
            # emptiness is read off the parquet footers driver-side (~ms):
            # the old isEmpty() pre-probe was a full extra Spark job per
            # round re-walking the discovery subtree (guide §1.2 — fewer
            # passes). An empty delta dir is uncommitted, so removing it
            # leaves no orphan.
            path = frontier_t.write_data(next_depth)
            if _parquet_num_rows(path) > 0:
                staged_dirs.append(path)
            else:
                import shutil

                shutil.rmtree(path, ignore_errors=True)

        # ---- checkpoint: manifest-only commit (remaining round dirs +
        # staged deltas + resume metadata) under one tag ------------------
        remaining = {k: v for k, v in active_dirs.items() if k != cur_offset}
        frontier_t.commit_dirs(
            list(remaining.values()) + staged_dirs,
            tag=f"round-{round_no}",
            extra={
                "active": {str(k): v for k, v in remaining.items()},
                "staged": staged_dirs,
                "depth": depth_now,
            },
        )
        if dedup_contacts:
            # seen-set insert AFTER the frontier commit: a crash between
            # the two re-fetches at most one round's discoveries on
            # resume (at-least-once) instead of silently LOSING them
            # (filter_new would have dropped a replayed round's own
            # discoveries had they been committed first)
            if not discovered.isEmpty():
                if approx_seen:
                    # log append BEFORE the filter insert: once the filter
                    # holds a url it blocks re-discovery, so a crash in
                    # between must leave the url already in the log
                    # (append is idempotent under the final
                    # dropDuplicates; ADVICE r1 — the old order silently
                    # dropped a crashed round's discoveries from url_seen)
                    discovered_t.append(discovered.select("url"))
                    seen.filter_and_add(discovered.select("url"))
                else:
                    seen.add(discovered.select("url"))
            discovered.unpersist()
        round_no += 1
        active_dirs = remaining
        fetched.unpersist()
        extracted.unpersist()

    # ---- post-loop housekeeping: compact the append-heavy tables so the
    # next epoch (or resume) reads one file set per table. The seen set
    # owns its compaction (exact mode dedups on (hash, url) there) -------
    with _phase("compact"):
        # four independent single-writer tables: overlap their compaction
        # jobs so the tail tasks of one backfill the others' idle cores
        # (guide §2.6)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=4) as pool:
            futs = [pool.submit(t.compact) for t in (log_t, extracted_t, discovered_t)]
            futs.append(pool.submit(seen.compact))
            for f in futs:
                f.result()
    if expire_history:
        # reclaim expired history + its data dirs (Iceberg
        # expire_snapshots analog): every returned DataFrame reads a
        # CURRENT snapshot and the frontier's visible resume tag is
        # preserved, so nothing observable changes — only disk. At
        # hundreds of politeness rounds the consumed round dirs are the
        # dominant leftover storage.
        with _phase("expire"):
            for t in (frontier_t, log_t, extracted_t, discovered_t,
                      images_t, records_t, robots_t, seen.table):
                t.expire_snapshots(keep_last=1)

    # ---- one-shot records MERGE over the full extracted log ------------
    with _phase("records_merge"):
        all_extracted = extracted_t.read()
        if all_extracted is not None and not all_extracted.isEmpty():
            merge_company_records(records_t, _prepare_record_batch(all_extracted))

    # ---- names side-input MERGE (SURVEY.md §3.2, scalars last) --------
    if names_rows:
        names_df = spark.createDataFrame(
            [(i, *r) for i, r in enumerate(names_rows)],
            "row_idx long, domain string, commercial string, legal string, alln string",
        )
        names_batch = (
            names_df.withColumn("dom", domain_from_url(F.col("domain")))
            .where(F.col("dom").isNotNull())
            .withColumn(
                "name", best_name(F.col("legal"), F.col("commercial"), F.col("alln"))
            )
            .where(F.col("name").isNotNull())
            # the merge is keyed by domain: two CSV rows normalizing to
            # the same domain must collapse to the LAST one (the
            # reference's per-message upsert makes later rows win)
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("dom").orderBy(F.desc("row_idx"))
                ),
            )
            .where(F.col("_rn") == 1)
            .select(
                F.col("dom").alias("domain"),
                F.array().cast("array<string>").alias("phone_numbers"),
                F.array().cast("array<string>").alias("social_media_links"),
                F.array().cast("array<string>").alias("addresses"),
                F.array().cast("array<string>").alias("social_media_profiles"),
                F.array().cast("array<string>").alias("normalized_phone_numbers"),
                prepare_url(F.col("domain")).alias("url"),
                F.col("name").alias("company_name"),
                normalize_company_name(F.col("name")).alias("searchable_name"),
            )
        )
        merge_company_records(records_t, names_batch)

    empty_records = spark.createDataFrame(
        [],
        "domain string, phone_numbers array<string>, social_media_links array<string>, "
        "addresses array<string>, social_media_profiles array<string>, "
        "normalized_phone_numbers array<string>, url string, company_name string, "
        "searchable_name string",
    )
    # logical-key dedup makes the log safe under at-least-once replay (a
    # crash between the log append and the frontier commit re-runs the
    # round); legitimate duplicate fetches (F5) differ in seed_idx so
    # they survive this
    log_raw = log_t.read()
    log_df = (
        log_raw.dropDuplicates(["round", "depth", "seed_idx", "url", "attempt_no"])
        if log_raw is not None
        else spark.createDataFrame(
            [],
            "round int, depth int, seed_idx long, url string, "
            "partition_id int, ok long, attempt_no int",
        )
    )
    # per-(round, partition) lineage derives from the fused log columns
    metrics_df = log_df.groupBy("round", "depth", "partition_id").agg(
        F.count("*").alias("attempted"), F.sum("ok").alias("ok")
    )
    if dedup_contacts and not approx_seen:
        url_seen_df = seen.snapshot_urls()
    else:
        # parity mode and approx modes enumerate from the discovered log
        # (a Bloom/Cuckoo filter cannot list its members)
        d = discovered_t.read()
        url_seen_df = (
            d.dropDuplicates(["url"]) if d is not None
            else spark.createDataFrame([], "url string")
        )
    for df in own_cache:
        df.unpersist()
    return CrawlResult(
        crawl_log=log_df.select("round", "depth", "seed_idx", "url"),
        url_seen=url_seen_df,
        company_records=records_t.read() if records_t.exists() else empty_records,
        images=images_t.read() if images_t.exists() else None,
        metrics=metrics_df,
        rounds=round_no,
    )
