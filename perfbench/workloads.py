"""The workloads: setup, one closed-loop unit of work, output check.

A unit is submitted only after the previous one returned (one client).
Each unit runs in a fresh workdir that is deleted afterwards; its
timing covers the program's calls and the forcing of their outputs,
never the fixture, the oracle or the comparison against it.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field
from urllib.parse import urlparse

from perfbench.fixtures import SeenStream, build_web_fixture
from perfbench.spans import CommitClock, tree_cpu_s, tree_size


@dataclass
class UnitResult:
    wall_s: float
    cpu_s: float  # CPU seconds of this process tree over the same region
    items: int  # pages fetched (crawl) or candidate URLs (seen stream)
    checks: int
    failures: list[str]
    disk_bytes: int
    detail: dict = field(default_factory=dict)


@dataclass
class SetupTimes:
    fixture_s: float = 0.0
    oracle_s: float = 0.0


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _rows(df, *cols):
    return [tuple(r[c] for c in cols) for r in df.collect()]


class Workload:
    """One workload. Its measured units run in a fresh JVM with no
    warm-up unit before them: the first crawl in a JVM takes 40-57 s on
    a 4-vCPU VM and a warm one 21-36 s, no cheaper warm-up shortens the
    first much, and a crawl-sized warm-up per run does not fit the
    benchmark's time budget. So every run measures its JVM's first unit,
    after the fixture's Spark work."""

    name = ""
    # per-layer metrics of layers this workload never runs: the traced
    # run reports them as 0 and fails on any other metric it lacks
    bypassed: tuple[str, ...] = ()

    def __init__(self, spark, seed: int, root: str):
        self.spark = spark
        self.seed = seed
        self.root = root
        self.setup = SetupTimes()

    def prepare(self) -> None:
        """Build fixtures and ground truth (untimed)."""

    def unit(self, workdir: str) -> UnitResult:
        raise NotImplementedError


# -- crawl -------------------------------------------------------------------

class CrawlPolite(Workload):
    """Production configuration: politeness budget, robots, URL dedup
    through the Bloom seen set. Few pages, several rounds; the per-round
    fixed cost of the driver loop dominates."""

    name = "crawl_polite"
    n_domains = 40
    # 22 drains the hot host's 40 contact pages plus its 0-3 images in 2
    # depth-1 rounds for every seed, so the round count (3) never varies
    budget = 22
    crawl_kw = {"use_robots": True, "dedup_contacts": True, "seen_mode": "bloom"}
    bypassed = ("seen.fp_rate", "seen.novel_ratio")

    def prepare(self) -> None:
        inputs = _fresh(os.path.join(self.root, "inputs"))
        fx = self.fx = build_web_fixture(
            self.spark, self.n_domains, self.seed,
            os.path.join(inputs, "web.parquet"),
            self.budget, self.crawl_kw["use_robots"],
        )
        self.setup.fixture_s = fx.build_s + fx.write_s
        self.setup.oracle_s = fx.oracle_s

    def _crawl(self, workdir):
        from web_scraper_spark.plans.crawl import run_crawl

        fx = self.fx
        return run_crawl(
            self.spark, fx.seeds, fx.web_df(self.spark), None,
            workdir=workdir, politeness_budget=self.budget, **self.crawl_kw,
        )

    @staticmethod
    def _collect(res) -> dict:
        """Force every output of the crawl (part of the timed region)."""
        return {
            "log": _rows(res.crawl_log, "round", "depth", "seed_idx", "url"),
            "seen": {r.url for r in res.url_seen.collect()},
        }

    def unit(self, workdir: str) -> UnitResult:
        with CommitClock() as clock:
            cpu, t = tree_cpu_s(), time.perf_counter()
            res = self._crawl(workdir)
            got = self._collect(res)
            wall, cpu = time.perf_counter() - t, tree_cpu_s() - cpu
        disk = tree_size(workdir)[1]
        checks, failures = self.check(got)
        return UnitResult(
            wall_s=wall,
            cpu_s=cpu,
            items=len(got["log"]),
            checks=checks,
            failures=failures,
            disk_bytes=disk,
            detail={"rounds": res.rounds, "result": res, "got": got,
                    "commit_times": list(clock.times)},
        )

    def check(self, got) -> tuple[int, list[str]]:
        oracle, log = self.fx.oracle, got["log"]
        failures = []
        per_round_host = Counter(
            (rnd, urlparse(url).netloc.lower()) for rnd, _d, _s, url in log
        )
        over = [k for k, n in per_round_host.items() if n > self.budget]
        if over:
            failures.append(f"politeness budget exceeded for {over[:3]}")
        deep = Counter(url for _r, depth, _s, url in log if depth > 0)
        twice = [u for u, n in deep.items() if n > 1]
        if twice:
            failures.append(f"fetched twice at depth>0: {twice[:3]}")
        # the oracle simulates with robots on, so a robots-disallowed url
        # in the log is one the oracle never fetches
        crawled = {u for *_x, u in log}
        want = {u for *_x, u in oracle.crawl_order}
        if crawled - want:
            failures.append(
                "urls the oracle never fetches (robots-disallowed or "
                f"unreachable): {sorted(crawled - want)[:3]}")
        if want - crawled:
            failures.append(f"urls the oracle fetches, missing: {sorted(want - crawled)[:3]}")
        if got["seen"] != oracle.url_seen:
            failures.append("url_seen differs from the oracle")
        return 5, failures


# -- seen stream -------------------------------------------------------------

class SeenStreamWorkload(Workload):
    """Overlapping URL batches through ``BloomURLSeenSet.filter_and_add``
    (default constructor): a test-only pass, then the insert, per batch."""

    name = "seen_stream"
    batch_size = 20000
    n_batches = 3
    bypassed = (
        "crawl.rounds", "crawl.jobs_per_round", "crawl.tasks_per_round",
        "crawl.round_mean_s", "crawl.round_self_s", "crawl.stage_depth_s", "tables.merge_s",
        "politeness.assign_s", "politeness.jobs", "politeness.partition_skew",
        "robots.build_s", "robots.filter_s", "robots.blocked_ratio",
        "fetch.join_s", "fetch.rows_per_s", "fetch.ok_ratio", "fetch.body_mb",
        "extract.udf_s", "extract.pages_per_s",
        "images.land_s", "images.landed", "images.verify_failed",
    )

    def prepare(self) -> None:
        t = time.perf_counter()
        self.stream = SeenStream(self.seed, self.batch_size, self.n_batches)
        self.setup.fixture_s = time.perf_counter() - t

    def _run(self, workdir: str):
        from web_scraper_spark.operators.seen import BloomURLSeenSet

        stream = self.stream
        seen = BloomURLSeenSet(self.spark, os.path.join(workdir, "url_seen"))
        steps, novel = [], []
        for i in range(stream.n_batches):
            t = time.perf_counter()
            cand = stream.candidates(self.spark, i)
            tested = [r.url for r in seen.filter_and_add(cand, insert=False).collect()]
            inserted = [r.url for r in seen.filter_and_add(cand).collect()]
            steps.append(time.perf_counter() - t)
            novel.append((tested, inserted))
        return steps, novel

    def unit(self, workdir: str) -> UnitResult:
        cpu, t = tree_cpu_s(), time.perf_counter()
        steps, novel = self._run(workdir)
        wall, cpu = time.perf_counter() - t, tree_cpu_s() - cpu
        disk = tree_size(workdir)[1]
        failures, true_new, dropped = [], 0, 0
        for i, (tested, inserted) in enumerate(novel):
            lo, hi = self.stream.new_bounds(i)
            ids = [int(u.rsplit("/", 1)[1]) for u in inserted]
            true_new += hi - lo
            extra = [x for x in ids if not lo <= x < hi]
            if extra or len(set(ids)) != len(ids):
                failures.append(f"batch {i}: {len(extra)} seen urls reported new")
            if sorted(tested) != sorted(inserted):
                failures.append(f"batch {i}: test pass and insert pass disagree")
            want_urls = {self.stream.url_of(x) for x in ids}
            if want_urls != set(inserted):
                failures.append(f"batch {i}: url text changed in the seen set")
            dropped += (hi - lo) - len(set(ids) & set(range(lo, hi)))
        n_cand = self.stream.batch_size * self.stream.n_batches
        return UnitResult(
            wall_s=wall,
            cpu_s=cpu,
            items=n_cand,
            checks=3 * len(novel),
            failures=failures,
            disk_bytes=disk,
            detail={
                "steps": steps,
                "fp_rate": dropped / true_new,
                "novel": sum(len(ins) for _t, ins in novel),
                "candidates": n_cand,
            },
        )


WORKLOADS = {w.name: w for w in (CrawlPolite, SeenStreamWorkload)}
