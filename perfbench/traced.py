"""The traced pass: an untraced unit, a wrapped unit, then layer replays.

Per-layer metrics are derived from the wrapped unit's spans (calls that
trigger Spark work) and from the replays (lazy layers forced alone).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

from perfbench.replays import crawl_replays, urls_replay
from perfbench.spans import (
    RunCounter,
    SpanRecorder,
    Wrappers,
    median,
    release_persisted,
    tree_size,
)


def _unit_in(sc, wl, wd, group):
    with RunCounter(sc, group) as rc:
        r = wl.unit(wd)
    return r, rc


def _round_windows(r, root_span) -> list[tuple[float, float]]:
    """Crawl round windows: unit start to the first round commit, then
    between successive round commits."""
    edges = [root_span.start] + r.detail["commit_times"]
    return list(zip(edges, edges[1:]))


def image_failures(images, oracle) -> list[str]:
    """Ids of landed image rows that fail ``verify_image_row`` against the
    oracle's captions."""
    from web_scraper_spark.sources.synthetic_web import verify_image_row

    captions = {i["image_id"]: i["caption"] for i in oracle.images}
    return [
        r.image_id for r in images
        if not verify_image_row(
            r.image_id, bytes(r.bytes), r.caption, captions.get(r.image_id, "")
        )[0]
    ]


def traced_run(spark, wl, work, out_dir, setup: dict) -> dict:
    """Returns the run's result: ``correct``, ``attempted``, ``failed``
    and every per-layer metric by name (the bypassed ones as 0)."""
    sc = spark.sparkContext
    run_id = os.path.basename(out_dir)

    # 1. untraced unit: the JVM's first, as ``--trace 0`` measures it
    wd = os.path.join(work, "unit-untraced")
    os.makedirs(wd)
    try:
        plain = _unit_in(sc, wl, wd, "untraced")[0]
    finally:
        shutil.rmtree(wd, ignore_errors=True)
        release_persisted(spark)

    # 2. wrapped unit
    rec = SpanRecorder(sc, run_id)
    wd = os.path.join(work, "unit-traced")
    os.makedirs(wd, exist_ok=True)
    try:
        with Wrappers(rec):
            with rec.root_span(wl.name) as root:
                traced, rc = _unit_in(sc, wl, wd, root.group)
        seen_bytes = tree_size(os.path.join(wd, "url_seen"))[1]
        rec.attach_job_counts()
        counts = rc.counts(extra_groups=rec.groups())
        leaked = rc.leaked()
        crawl = "rounds" in traced.detail
        m = _span_metrics(rec, root, traced, crawl)
        m["seen.state_mb"] = seen_bytes / 1e6

        # 3. layer replays on the same inputs
        t = time.perf_counter()
        if crawl:
            got = traced.detail["got"]
            m.update(crawl_replays(
                spark, wl.fx, got["log"], got["seen"], wl.budget,
                os.path.join(work, "replay"), run_id,
            ))
            res = traced.detail["result"]
            images = res.images.collect() if res.images is not None else []
            m["images.verify_failed"] = len(image_failures(images, wl.fx.oracle))
        else:
            m["urls.canon_hash_s"] = urls_replay(spark, wl.stream, run_id)
        replay_s = time.perf_counter() - t
    finally:
        shutil.rmtree(wd, ignore_errors=True)
        release_persisted(spark)

    # the wrappers' own time outside the calls they wrap: the untraced
    # unit is no reference, being the JVM's first and so the slower
    overhead_s = sum(s.attrs.get("overhead_s", 0.0) for s in rec.spans)
    m.update({
        "spark.jobs": counts.jobs,
        "spark.stages": counts.stages,
        "spark.tasks": counts.tasks,
        "spark.failed_tasks": counts.failed_tasks,
        "spark.leaked_persisted": leaked,
        "trace.overhead_ratio": traced.wall_s / (traced.wall_s - overhead_s),
        "run.wall_s": plain.wall_s,
        "run.items_per_s": plain.items / plain.wall_s,
        **setup,
    })
    if crawl:
        rounds = traced.detail["rounds"]
        m["crawl.rounds"] = rounds
        m["crawl.jobs_per_round"] = counts.jobs / rounds
        m["crawl.tasks_per_round"] = counts.tasks / rounds
    for k in wl.bypassed:
        if k in m:
            raise RuntimeError(f"{k} is measured but listed as bypassed")
        m[k] = 0.0
    failed = len(plain.failures) + len(traced.failures) + counts.failed_tasks
    attempted = plain.checks + traced.checks + counts.tasks
    m["check.error_rate"] = failed / attempted

    rec.dump(out_dir, extra={
        "workload": wl.name,
        "seed": wl.seed,
        "wall_untraced_s": plain.wall_s,
        "wall_traced_s": traced.wall_s,
        "tracing_overhead_s": overhead_s,
        "replay_s": replay_s,
        "failures": plain.failures + traced.failures,
    })
    for u in plain.failures + traced.failures:
        print(f"perfbench: check failed: {u}", file=sys.stderr, flush=True)
    return {
        "correct": not (traced.failures or plain.failures),
        "attempted": attempted,
        "failed": failed,
        "metrics": m,
    }


def _span_metrics(rec: SpanRecorder, root, r, crawl: bool) -> dict:
    m: dict[str, float] = {}
    table_spans = [s for s in rec.spans if s.name.startswith("tables.")]
    m["tables.calls"] = len(table_spans)
    m["tables.files_written"] = sum(s.attrs.get("files", 0) for s in rec.spans)
    written = sum(s.attrs.get("bytes", 0) for s in rec.spans)
    m["tables.bytes_written"] = written
    m["tables.write_amp"] = written / r.disk_bytes if r.disk_bytes else 0.0
    m["tables.compact_s"] = rec.total("tables.compact") + rec.total("seen.compact")
    m["tables.expire_s"] = rec.total("tables.expire_snapshots")

    seen = rec.named("seen.filter_and_add")
    m["seen.test_s"] = sum(s.dur for s in seen if not s.attrs["insert"])
    m["seen.insert_s"] = sum(s.dur for s in seen if s.attrs["insert"])
    m["seen.dirty_partitions"] = sum(s.attrs.get("dirty_partitions", 0) for s in seen)

    if crawl:  # seen time per round window
        m["tables.merge_s"] = rec.total("tables.merge_company_records")
        m["crawl.stage_depth_s"] = rec.total("tables.write_data", partitioned=True)
        windows = _round_windows(r, root)
        per_step = [
            sum(s.dur for s in seen if lo <= s.start < hi) for lo, hi in windows
        ]
        per_step = [x for x in per_step if x > 0]
        m["crawl.round_self_s"] = median(rec.self_time(root, lo, hi) for lo, hi in windows)
        m["crawl.round_mean_s"] = (windows[-1][1] - windows[0][0]) / len(windows)
    else:  # seen stream: one step per batch
        per_step = r.detail["steps"]
        m["seen.fp_rate"] = r.detail["fp_rate"]
        m["seen.novel_ratio"] = r.detail["novel"] / r.detail["candidates"]
    m["seen.batch_p50_s"] = median(per_step)
    if len(per_step) > 2:  # else left out, and the run fails on it
        m["seen.growth"] = per_step[-1] / per_step[1]
    return m
