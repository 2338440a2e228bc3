"""URL-seen set variants: exact vs Bloom vs Cuckoo agree at fixture
scale; Cuckoo supports deletion (re-crawl)."""

import os

from pyspark.sql import functions as F


def _urls(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("http://h"), (F.col("id") % 97).cast("string"),
                 F.lit(".test/p/"), F.col("id").cast("string")).alias("url")
    )


def test_exact_bloom_cuckoo_agree(spark, tmp_path):
    from web_scraper_spark.operators.seen import (
        BloomURLSeenSet, CuckooURLSeenSet, URLSeenSet,
    )

    batch1 = _urls(spark, 0, 3000)
    batch2 = _urls(spark, 1500, 4500)  # half dupes

    exact = URLSeenSet(spark, str(tmp_path / "exact"))
    exact.add(batch1)
    exact_novel2 = {r.url for r in exact.filter_new(batch2).collect()}
    exact.add(batch2)

    bloom = BloomURLSeenSet(spark, str(tmp_path / "bloom"), num_partitions=8)
    b1 = {r.url for r in bloom.filter_and_add(batch1).collect()}
    b2 = {r.url for r in bloom.filter_and_add(batch2).collect()}

    cuckoo = CuckooURLSeenSet(spark, str(tmp_path / "cuckoo"), num_partitions=8)
    c1 = {r.url for r in cuckoo.filter_and_add(batch1).collect()}
    c2 = {r.url for r in cuckoo.filter_and_add(batch2).collect()}

    all1 = {r.url for r in batch1.distinct().collect()}
    assert b1 == all1 and c1 == all1  # sized for zero FP at this scale
    assert b2 == exact_novel2 and c2 == exact_novel2


def test_cuckoo_deletion_allows_refetch(spark, tmp_path):
    from web_scraper_spark.operators.seen import CuckooURLSeenSet

    cuckoo = CuckooURLSeenSet(spark, str(tmp_path / "ck"), num_partitions=4)
    batch = _urls(spark, 0, 500)
    assert cuckoo.filter_and_add(batch).count() == 500
    assert cuckoo.filter_and_add(batch).count() == 0  # all seen
    # forget half -> they become fetchable again
    forget = _urls(spark, 0, 250)
    cuckoo.delete(forget)
    again = {r.url for r in cuckoo.filter_and_add(batch).collect()}
    assert again == {r.url for r in forget.collect()}


def test_crawl_dedup_with_approx_seen_modes(spark, tmp_path):
    """The crawl's dedup path over Bloom/Cuckoo seen sets (sized for zero
    FP at fixture scale) produces the same final state as exact mode."""
    from web_scraper_spark.plans.crawl import run_crawl
    from web_scraper_spark.sources.synthetic_web import build_web, web_host_df

    seeds, web = build_web(15)
    webdf = web_host_df(spark, 15)

    exact = run_crawl(spark, seeds, webdf, None,
                      workdir=str(tmp_path / "ex"), dedup_contacts=True)
    exact_log = sorted((r["round"], r.depth, r.seed_idx, r.url)
                       for r in exact.crawl_log.collect())
    exact_seen = {r.url for r in exact.url_seen.collect()}

    for mode in ("bloom", "cuckoo"):
        res = run_crawl(spark, seeds, webdf, None,
                        workdir=str(tmp_path / mode), dedup_contacts=True,
                        seen_mode=mode)
        got_log = sorted((r["round"], r.depth, r.seed_idx, r.url)
                         for r in res.crawl_log.collect())
        assert got_log == exact_log, mode
        assert {r.url for r in res.url_seen.collect()} == exact_seen, mode


def test_bloom_incremental_commits_dirty_partitions_only(spark, tmp_path):
    """VERDICT r4 item 5: a batch touching few partitions must commit
    only those partitions' bitsets (manifest-recorded), not rewrite all
    P blobs — and novelty semantics must be unchanged."""
    from web_scraper_spark.operators.seen import BloomURLSeenSet

    bloom = BloomURLSeenSet(spark, str(tmp_path / "bi"), num_partitions=8)
    assert bloom.filter_and_add(_urls(spark, 0, 2000)).count() == 2000

    manifest1 = bloom.table._read_manifest()
    dirs1 = bloom.table._current_dirs(manifest1)
    pid_map1 = bloom._dir_pid_map(manifest1)
    assert len(dirs1) == 1 and len(pid_map1[dirs1[0]]) == 8  # all dirty

    # batch 2: three urls -> at most 3 dirty partitions
    few = _urls(spark, 2000, 2003)
    assert bloom.filter_and_add(few).count() == 3
    manifest2 = bloom.table._read_manifest()
    dirs2 = bloom.table._current_dirs(manifest2)
    assert len(dirs2) == 2 and dirs2[0] == dirs1[0]  # append, no rewrite
    new_pids = bloom._dir_pid_map(manifest2)[dirs2[1]]
    assert 1 <= len(new_pids) <= 3

    # latest-wins state: everything seen so far filters to zero novel
    assert bloom.filter_and_add(_urls(spark, 0, 2003)).count() == 0

    # all-duplicate batch dirties nothing -> manifest-only no-op (no dir)
    n_dirs_before = len(bloom.table._current_dirs())
    assert bloom.filter_and_add(few).count() == 0
    assert len(bloom.table._current_dirs()) == n_dirs_before


def test_bloom_compact_collapses_generations(spark, tmp_path):
    """compact() must resolve latest-wins FIRST (a naive snapshot rewrite
    would read stale generations of a partition alongside fresh ones)."""
    from web_scraper_spark.operators.seen import BloomURLSeenSet

    bloom = BloomURLSeenSet(spark, str(tmp_path / "bc"), num_partitions=4)
    for lo in (0, 500, 1000):
        bloom.filter_and_add(_urls(spark, lo, lo + 700))
    assert len(bloom.table._current_dirs()) == 3
    bloom.compact()
    dirs = bloom.table._current_dirs()
    assert len(dirs) == 1
    assert bloom.table.read().count() == 4  # one blob per partition
    # semantics preserved: all seen urls stay seen, new urls stay novel
    assert bloom.filter_and_add(_urls(spark, 0, 1700)).count() == 0
    assert bloom.filter_and_add(_urls(spark, 1700, 1800)).count() == 100


def test_bloom_orphan_dir_is_invisible(spark, tmp_path):
    """The commit's crash window (bits dir renamed into data/, manifest
    not yet replaced) must leave the table reading the OLD state — the
    manifest, not the directory listing, defines the snapshot."""
    import os

    from web_scraper_spark.operators.seen import BloomURLSeenSet

    bloom = BloomURLSeenSet(spark, str(tmp_path / "bo"), num_partitions=4)
    batch = _urls(spark, 0, 800)
    bloom.filter_and_add(batch)

    # simulate the crash: an orphan data dir full of bogus bits
    orphan = bloom.table._new_data_dir()
    os.makedirs(orphan)
    spark.createDataFrame(
        [(0, bytes(bloom.m // 8))], "partition_id int, bits binary"
    ).write.mode("overwrite").parquet(orphan)

    # state read ignores the orphan; re-offering the batch finds 0 novel
    assert bloom.filter_and_add(batch).count() == 0


def test_cuckoo_incremental_commits_and_delete_dirty(spark, tmp_path):
    """Cuckoo shares the incremental blob-commit machinery: small batches
    and deletions commit only the touched partitions; all-duplicate
    batches commit nothing."""
    from web_scraper_spark.operators.seen import CuckooURLSeenSet

    ck = CuckooURLSeenSet(spark, str(tmp_path / "ci"), num_partitions=8)
    assert ck.filter_and_add(_urls(spark, 0, 1500)).count() == 1500
    dirs1 = ck.table._current_dirs()
    assert len(dirs1) == 1

    few = _urls(spark, 1500, 1502)
    assert ck.filter_and_add(few).count() == 2
    manifest = ck.table._read_manifest()
    dirs2 = ck.table._current_dirs(manifest)
    assert len(dirs2) == 2
    assert 1 <= len(ck._dir_pid_map(manifest)[dirs2[1]]) <= 2

    # all-dupe batch: nothing dirty, no new dir
    assert ck.filter_and_add(few).count() == 0
    assert len(ck.table._current_dirs()) == 2

    # deletion dirties only the touched partitions and makes urls novel again
    ck.delete(few)
    assert len(ck.table._current_dirs()) == 3
    assert ck.filter_and_add(few, insert=False).count() == 2

    # compact collapses generations, semantics preserved
    ck.compact()
    assert len(ck.table._current_dirs()) == 1
    assert ck.filter_and_add(_urls(spark, 0, 1500)).count() == 0
    assert ck.filter_and_add(few).count() == 2


def test_exact_seen_compact_dedups(spark, tmp_path):
    """ADVICE r1: resume re-adds are idempotent only if compaction
    collapses the (hash, url) duplicates — URLSeenSet owns that."""
    from web_scraper_spark.operators.seen import URLSeenSet

    s = URLSeenSet(spark, str(tmp_path / "cse"))
    batch = _urls(spark, 0, 200)
    s.add(batch)
    s.add(batch)  # simulated resume re-add
    assert s.table.read().count() == 400
    s.compact()
    assert s.table.read().count() == 200
    assert s.snapshot_urls().count() == 200
    # novelty unchanged by compaction
    assert s.filter_new(batch).isEmpty()


def _plan_nodes(spark, run):
    """Run ``run()``; return its result and the physical-plan node names
    of every SQL execution it started (final plans, AQE included)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def execution_ids():
        lst = store.executionsList()
        return {lst.apply(i).executionId() for i in range(lst.size())}

    before = execution_ids()
    out = run()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    names = []
    for eid in sorted(execution_ids() - before):
        nodes = store.planGraph(eid).allNodes()
        names += [nodes.apply(i).name() for i in range(nodes.size())]
    return out, names


def test_filter_and_add_shuffles_candidates_only(spark, tmp_path):
    """The filter state never enters the JVM: both passes run one job
    whose only exchange is the candidates' shuffle by partition_id, with
    no scan of the state table — and the grouped function raises no
    pyspark type-hint inference warning."""
    import warnings

    from web_scraper_spark.operators.seen import BloomURLSeenSet

    bloom = BloomURLSeenSet(spark, str(tmp_path / "plan"), num_partitions=8)
    bloom.filter_and_add(_urls(spark, 0, 1000))
    for insert in (False, True):
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            novel, nodes = _plan_nodes(
                spark,
                lambda: bloom.filter_and_add(_urls(spark, 500, 1500), insert=insert),
            )
        assert nodes.count("Exchange") == 1, nodes
        assert not [n for n in nodes if n.startswith("Scan")], nodes
        assert not [w for w in caught if "type hints" in str(w.message)]
        assert novel.count() == 500


def test_earlier_spark_written_state_layout_still_resolves(spark, tmp_path):
    """Workdirs written before per-pid blob files stay resumable: a
    Spark-written FULL dir (several pids per part file, no pid list, as
    compact() used to write it) under an incremental Spark-written dir
    (pids listed in blob_dir_pids) loads, filters, takes new per-pid
    generations on top, and compacts into the new layout."""
    from web_scraper_spark.operators.seen import BloomURLSeenSet

    src = BloomURLSeenSet(spark, str(tmp_path / "src"), num_partitions=8)
    src.filter_and_add(_urls(spark, 0, 2000))
    full = src.table.read().select("partition_id", "bits").collect()
    src.filter_and_add(_urls(spark, 2000, 2020))
    newest = src.table._current_dirs()[-1]
    delta = spark.read.parquet(newest).select("partition_id", "bits").collect()

    legacy = BloomURLSeenSet(spark, str(tmp_path / "legacy"), num_partitions=8)
    schema = "partition_id int, bits binary"
    legacy.table.overwrite(spark.createDataFrame(full, schema).coalesce(2))
    delta_dir = legacy.table.write_data(spark.createDataFrame(delta, schema).coalesce(1))
    legacy.table.commit_dirs(
        legacy.table._current_dirs() + [delta_dir],
        extra={"blob_dir_pids": {delta_dir: sorted(r.partition_id for r in delta)}},
    )

    assert legacy.filter_and_add(_urls(spark, 0, 2020), insert=False).count() == 0
    assert legacy.filter_and_add(_urls(spark, 2020, 2120)).count() == 100
    assert len(legacy.table._current_dirs()) == 3
    assert legacy.filter_and_add(_urls(spark, 0, 2120), insert=False).count() == 0
    legacy.compact()
    (only,) = legacy.table._current_dirs()
    assert sorted(os.listdir(only)) == [f"pid-{p:05d}.parquet" for p in range(8)]
    assert legacy.filter_and_add(_urls(spark, 0, 2120), insert=False).count() == 0
    assert legacy.filter_and_add(_urls(spark, 2120, 2170)).count() == 50


def test_retried_store_rewrites_identical_blob(spark, tmp_path):
    """A retried task re-runs its group, possibly in another shuffle
    order, into the same generation dir: it must leave one
    byte-identical file per pid. Cuckoo inserts are order-sensitive at
    high load, so this holds only because groups are sorted by hash."""
    import functools

    import pandas as pd

    from web_scraper_spark.operators.seen import (
        CuckooURLSeenSet, _cuckoo_kernel, _grouped,
    )

    rows = _urls(spark, 0, 240).select(
        "url", F.xxhash64("url").alias("hash")
    ).collect()
    pdf = pd.DataFrame([tuple(r) for r in rows], columns=["url", "hash"])
    kernel = functools.partial(
        _cuckoo_kernel, m=64, max_kicks=CuckooURLSeenSet.MAX_KICKS,
        insert=True, delete=False,
    )
    gen = tmp_path / "gen"
    store = _grouped(kernel, {}, str(gen))
    first = store((3,), pdf)
    blob = (gen / "pid-00003.parquet").read_bytes()
    second = store((3,), pdf.iloc[::-1].reset_index(drop=True))
    assert os.listdir(gen) == ["pid-00003.parquet"]
    assert (gen / "pid-00003.parquet").read_bytes() == blob
    assert list(first["url"]) == list(second["url"])
