"""Spans, CPU and Spark job counters, and the wrappers that record spans.

The wrappers are installed around the program's public calls from the
benchmark's side only (nothing inside the program is instrumented):
``SnapshotTable`` writes and commits, ``merge_company_records`` and the
seen-set methods. Every span runs under its own Spark job group, so the
jobs, stages and tasks it triggers are attributed to it through the
``StatusTracker`` after the run.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP_PROP = "spark.jobGroup.id"


# -- CPU counter -------------------------------------------------------------

def tree_cpu_s() -> float:
    """CPU seconds (user + system) used by this process and every process
    under it (the JVM and its Python workers): live ones from their own
    counters, ended ones through their parents' counts of reaped
    children. Time the hypervisor steals from the VM is not counted."""
    parent, cpu = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state; ppid, utime, stime, cutime, cstime
        # are fields 4, 14-17 of stat(5)
        parent[int(entry)] = int(fields[1])
        cpu[int(entry)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo += [c for c, p in parent.items() if p == pid]
    return total / os.sysconf("SC_CLK_TCK")


# -- Spark counters ----------------------------------------------------------

@dataclass
class JobCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0


def count_jobs(sc, job_ids) -> JobCounts:
    """Jobs, executed stages and their tasks for ``job_ids`` (a skipped
    stage, whose output was reused, runs no task and is not counted)."""
    tracker = sc.statusTracker()
    out = JobCounts()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out.jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None:
                continue
            ran = st.numCompletedTasks + st.numFailedTasks
            if ran:
                out.stages += 1
                out.tasks += ran
                out.failed_tasks += st.numFailedTasks
    return out


class RunCounter:
    """Counts the Spark work of one closed-loop unit: jobs in the unit's
    own job group plus jobs started by threads that carry no group (the
    crawl compacts its tables from a thread pool)."""

    def __init__(self, sc, group: str):
        self.sc = sc
        self.group = group

    def __enter__(self):
        self._ungrouped = set(self.sc.statusTracker().getJobIdsForGroup(None))
        self._persisted = persisted_count(self.sc)
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty(_GROUP_PROP, None)
        return False

    def counts(self, extra_groups=()) -> JobCounts:
        tracker = self.sc.statusTracker()
        ids = set(tracker.getJobIdsForGroup(self.group))
        for g in extra_groups:
            ids |= set(tracker.getJobIdsForGroup(g))
        ids |= set(tracker.getJobIdsForGroup(None)) - self._ungrouped
        return count_jobs(self.sc, sorted(ids))

    def leaked(self) -> int:
        return persisted_count(self.sc) - self._persisted


def persisted_count(sc) -> int:
    return int(sc._jsc.getPersistentRDDs().size())


def release_persisted(spark) -> None:
    """Drop every cached table and persisted RDD, so each unit starts from
    the same cache state whatever the previous one left behind."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


# -- spans -------------------------------------------------------------------

@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    group: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class SpanRecorder:
    """In-memory span store; one root span per traced unit."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self.root: Span | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        with self._lock:
            sid = len(self.spans)
            s = Span(
                sid, name, 0.0,
                parent=parent.id if parent else None,
                run_id=self.run_id,
                group=f"{self.run_id}-{sid}",
                attrs=dict(attrs),
            )
            self.spans.append(s)
        prev_group = self.sc.getLocalProperty(_GROUP_PROP)
        self.sc.setJobGroup(s.group, name)
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_GROUP_PROP, prev_group)

    @contextmanager
    def root_span(self, name: str):
        with self.span(name) as s:
            self.root = s
            try:
                yield s
            finally:
                self.root = None

    def attach_job_counts(self) -> None:
        tracker = self.sc.statusTracker()
        for s in self.spans:
            c = count_jobs(self.sc, tracker.getJobIdsForGroup(s.group))
            s.attrs.update(jobs=c.jobs, stages=c.stages, tasks=c.tasks,
                           failed_tasks=c.failed_tasks)

    def groups(self) -> list[str]:
        return [s.group for s in self.spans]

    # -- analysis --
    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span, lo: float | None = None,
                  hi: float | None = None) -> float:
        """Duration of ``span`` (clipped to [lo, hi]) minus the union of
        its children's intervals inside that window."""
        lo = span.start if lo is None else max(lo, span.start)
        hi = span.end if hi is None else min(hi, span.end)
        if hi <= lo:
            return 0.0
        ivs = sorted(
            (max(c.start, lo), min(c.end, hi))
            for c in self.children(span)
            if c.end > lo and c.start < hi
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (hi - lo) - covered

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str, **match) -> float:
        return sum(
            s.dur for s in self.named(name)
            if all(s.attrs.get(k) == v for k, v in match.items())
        )

    def self_table(self) -> list[dict]:
        """Per span name: calls, total, self time and Spark jobs."""
        rows: dict[str, dict] = {}
        for s in self.spans:
            r = rows.setdefault(s.name, {"layer": s.name, "calls": 0, "total_s": 0.0,
                                         "self_s": 0.0, "jobs": 0, "tasks": 0})
            r["calls"] += 1
            r["total_s"] += s.dur
            r["self_s"] += self.self_time(s)
            r["jobs"] += s.attrs.get("jobs", 0)
            r["tasks"] += s.attrs.get("tasks", 0)
        return sorted(rows.values(), key=lambda r: -r["self_s"])

    def dump(self, out_dir: str, extra: dict | None = None) -> None:
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "spans.json"), "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [
                        {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
                         "parent": s.parent, "run_id": s.run_id, **s.attrs}
                        for s in self.spans
                    ],
                    **(extra or {}),
                },
                f,
                indent=1,
            )
        table = self.self_table()
        with open(os.path.join(out_dir, "self_time.txt"), "w") as f:
            f.write(f"{'layer':32s} {'calls':>6s} {'total_s':>9s} {'self_s':>9s} "
                    f"{'jobs':>6s} {'tasks':>7s}\n")
            for r in table:
                f.write(f"{r['layer']:32s} {r['calls']:6d} {r['total_s']:9.3f} "
                        f"{r['self_s']:9.3f} {r['jobs']:6d} {r['tasks']:7d}\n")


def median(xs) -> float:
    return float(statistics.median(list(xs)))


# -- wrappers ----------------------------------------------------------------

def _new_dirs(dirs_before: dict[str, set], roots: list[str]) -> list[str]:
    out = []
    for r in roots:
        try:
            now = set(os.listdir(r))
        except FileNotFoundError:
            continue
        out += [os.path.join(r, d) for d in now - dirs_before.get(r, set())]
    return out


def _listing(roots: list[str]) -> dict[str, set]:
    out = {}
    for r in roots:
        try:
            out[r] = set(os.listdir(r))
        except FileNotFoundError:
            out[r] = set()
    return out


def _written(dirs: list[str]) -> tuple[int, int]:
    """Data files and their bytes under ``dirs`` (checksums and commit
    markers excluded)."""
    files = nbytes = 0
    for d in dirs:
        f, b = tree_size(d, data_only=True)
        files += f
        nbytes += b
    return files, nbytes


def tree_size(path: str, data_only: bool = False) -> tuple[int, int]:
    """(files, bytes) of the regular files under ``path``; ``data_only``
    skips hidden and ``_``-prefixed files."""
    files = nbytes = 0
    for dirpath, _sub, names in os.walk(path):
        for n in names:
            if data_only and n.startswith((".", "_")):
                continue
            try:
                nbytes += os.lstat(os.path.join(dirpath, n)).st_size
            except FileNotFoundError:
                continue
            files += 1
    return files, nbytes


def _overhead(span: Span, t0: float) -> None:
    """Record the wrapper's own time, from ``t0`` to now, outside the
    wrapped call: the tracing overhead."""
    span.attrs["overhead_s"] = time.perf_counter() - t0 - span.dur


class Wrappers:
    """Installs span-recording wrappers on the program's classes and
    restores the originals on exit."""

    TABLE_METHODS = ("append", "write_data", "commit_dirs", "compact",
                     "expire_snapshots")

    def __init__(self, rec: SpanRecorder):
        self.rec = rec
        self._saved: list[tuple[object, str, object]] = []

    def _patch(self, owner, attr, fn):
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, fn)

    def __enter__(self):
        import web_scraper_spark.plans.crawl as crawl_mod
        import web_scraper_spark.sources.tables as tables_mod
        from web_scraper_spark.operators import seen as seen_mod

        rec = self.rec
        T = tables_mod.SnapshotTable

        def table_wrapper(name, orig):
            def wrapped(self, *a, **kw):
                t0 = time.perf_counter()
                roots = [os.path.join(self.root, "data")]
                before = _listing(roots)
                attrs = {"table": os.path.basename(self.root)}
                if name == "write_data" and (kw.get("partition_by") or
                                             (len(a) > 1 and a[1])):
                    attrs["partitioned"] = True
                with rec.span(f"tables.{name}", **attrs) as s:
                    out = orig(self, *a, **kw)
                if name != "commit_dirs":
                    s.attrs["files"], s.attrs["bytes"] = _written(
                        _new_dirs(before, roots))
                _overhead(s, t0)
                return out
            return wrapped

        for m in self.TABLE_METHODS:
            self._patch(T, m, table_wrapper(m, getattr(T, m)))

        orig_merge = tables_mod.merge_company_records

        def merge(target, batch):
            t0 = time.perf_counter()
            roots = [os.path.join(target.root, "data")]
            before = _listing(roots)
            with rec.span("tables.merge_company_records") as s:
                orig_merge(target, batch)
            s.attrs["files"], s.attrs["bytes"] = _written(_new_dirs(before, roots))
            _overhead(s, t0)

        self._patch(crawl_mod, "merge_company_records", merge)

        B = seen_mod.BloomURLSeenSet
        orig_fa = B.filter_and_add

        def filter_and_add(self, candidates, insert=True):
            t0 = time.perf_counter()
            # bits are written to scratch, then renamed into the table
            roots = [os.path.join(self.table.root, d) for d in ("scratch", "data")]
            before = _listing(roots)
            pids_before = sum(
                len(v) for v in self._dir_pid_map(self.table._read_manifest()).values())
            with rec.span("seen.filter_and_add", insert=bool(insert)) as s:
                out = orig_fa(self, candidates, insert)
            pids_after = sum(
                len(v) for v in self._dir_pid_map(self.table._read_manifest()).values())
            s.attrs["dirty_partitions"] = max(0, pids_after - pids_before)
            s.attrs["files"], s.attrs["bytes"] = _written(_new_dirs(before, roots))
            _overhead(s, t0)
            return out

        self._patch(B, "filter_and_add", filter_and_add)

        orig_compact = seen_mod._BlobStateSeenSet.compact

        def seen_compact(self):
            t0 = time.perf_counter()
            with rec.span("seen.compact") as s:
                out = orig_compact(self)
            _overhead(s, t0)
            return out

        self._patch(seen_mod._BlobStateSeenSet, "compact", seen_compact)
        return self

    def __exit__(self, *exc):
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()
        return False


class CommitClock:
    """Untraced round clock: timestamps of the frontier's per-round
    ``commit_dirs`` calls (tag ``round-N``). One list append per round,
    no job groups and no spans."""

    def __init__(self):
        self.times: list[float] = []
        self._orig = None

    def __enter__(self):
        import web_scraper_spark.sources.tables as tables_mod

        T = tables_mod.SnapshotTable
        orig = self._orig = T.commit_dirs
        times = self.times

        def commit_dirs(self, dirs, tag=None, extra=None):
            orig(self, dirs, tag, extra)
            if tag is not None and tag.startswith("round-"):
                times.append(time.perf_counter())

        T.commit_dirs = commit_dirs
        return self

    def __exit__(self, *exc):
        import web_scraper_spark.sources.tables as tables_mod

        tables_mod.SnapshotTable.commit_dirs = self._orig
        return False
