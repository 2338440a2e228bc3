"""Partitioned URL-seen set (SURVEY.md F1 graft) — exact and Bloom modes.

The reference's seen set is an in-memory Python set at the seed producer
(run_url_producer.py:24,41-43). At a 10^10-URL frontier that set is ~1 TB
of strings — so the graft design is: canonicalize -> ``xxhash64`` ->
partition by hash -> per-partition membership.

Two interchangeable implementations behind ``URLSeenSet``:

- **exact** (default; correctness runs): the seen set is a SnapshotTable
  ``url_seen(hash, url)`` bucketed by hash; novelty = left-anti join on
  (hash, url). This is itself scalable — a sort-merge anti-join against a
  hash-partitioned table — just heavier than Bloom at the extreme tail.
  False-positive budget 0 (BASELINE.md requirement for parity runs).
- **bloom** (bench scale): per-partition numpy bitsets persisted as one
  parquet blob file per partition in ``url_seen_bloom(partition_id,
  bits)``. Only the candidates are shuffled: they are grouped by
  ``pmod(xxhash64(url), P)`` into one ``applyInPandas`` pass, and the
  Python worker that owns a group loads its partition's blob straight
  from the table's files, tests/updates it, and stores the updated blob
  itself. The filter state never enters the JVM — no state scan, no
  state shuffle, no Arrow round trip of the bitsets. False positives
  drop URLs (never re-fetch), which is the standard crawler trade; size
  the bitset for the target FP rate.

Both modes expose: ``filter_new(candidates) -> new_urls`` and
``add(urls)``; parity tests run both and assert identical output on
fixture scale (where Bloom is sized to zero collisions).
"""

from __future__ import annotations

import functools
import glob
import os
import random
import re
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from web_scraper_spark.sources.tables import SnapshotTable

_SEEN_SCHEMA = "hash long, url string"


class URLSeenSet:
    """Exact-mode seen set over a SnapshotTable."""

    def __init__(self, spark: SparkSession, root: str, num_buckets: int = 32):
        self.spark = spark
        self.table = SnapshotTable(spark, root)
        self.num_buckets = num_buckets

    def _with_hash(self, urls: DataFrame) -> DataFrame:
        return urls.withColumn("hash", F.xxhash64(F.col("url")))

    def filter_new(self, candidates: DataFrame) -> DataFrame:
        """Rows of ``candidates`` whose ``url`` is not in the seen set.
        Duplicate urls WITHIN the batch are kept (reference F5 semantics:
        cross-page duplicates in one round are all fetched); callers that
        want batch-level dedup do it explicitly."""
        seen = self.table.read()
        if seen is None:
            return candidates
        cand = self._with_hash(candidates)
        # anti-join on (hash, url): hash prunes via sort-merge/bloom pushdown,
        # url equality makes it exact
        out = cand.join(
            seen.withColumnRenamed("url", "_seen_url"),
            (cand["hash"] == seen["hash"]) & (cand["url"] == F.col("_seen_url")),
            "left_anti",
        )
        return out.drop("hash")

    def add(self, urls: DataFrame) -> None:
        """Insert (idempotent — duplicates collapse on next compact)."""
        batch = self._with_hash(urls.select("url").dropDuplicates(["url"]))
        batch = batch.repartition(self.num_buckets, F.col("hash"))
        self.table.append(batch.select("hash", "url"))

    def compact(self) -> None:
        """Compaction owns the logical-key dedup: cross-append duplicates
        (idempotent resume re-adds) collapse here, keeping the documented
        ``add`` invariant true and the table size O(distinct urls)."""
        self.table.compact(dedup_cols=["hash", "url"])

    def snapshot_urls(self) -> DataFrame:
        seen = self.table.read()
        if seen is None:
            return self.spark.createDataFrame([], "url string")
        return seen.select("url").dropDuplicates(["url"])


def _next_scratch(root: str, keep: int = 2) -> str:
    """Allocate a scratch dir for the write-once materialization and
    garbage-collect all but the ``keep`` most recent ones (the previous
    call's returned DataFrame may still reference its dir lazily; two
    generations is the documented lifetime)."""
    import shutil

    base = os.path.join(root, "scratch")
    os.makedirs(base, exist_ok=True)
    existing = sorted(
        (os.path.join(base, d) for d in os.listdir(base)),
        key=os.path.getmtime,
    )
    for old in existing[: max(0, len(existing) - (keep - 1))]:
        shutil.rmtree(old, ignore_errors=True)
    return os.path.join(base, uuid.uuid4().hex)


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — decorrelates the position bases from the
    partition key. Without this, partitioning by ``hash % P`` pins the low
    bits of every hash in a partition, collapsing ``hash % m`` (m a power
    of two) onto m/P possible values and inflating the FP rate ~1000x."""
    h = h + np.uint64(0x9E3779B97F4A7C15)
    h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return h ^ (h >> np.uint64(31))


def _bloom_positions(hashes: np.ndarray, k: int, m: int) -> np.ndarray:
    """k positions per hash via double hashing h1 + i*h2 (Kirsch-
    Mitzenmacher) over independently mixed bases; vectorized numpy,
    shape (n, k)."""
    raw = hashes.astype(np.uint64)
    h1 = _mix64(raw)
    h2 = _mix64(raw ^ np.uint64(0xA5A5A5A5A5A5A5A5)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m)).astype(np.int64)


# -- per-partition blob files ------------------------------------------------
# One generation dir holds one single-row parquet file per dirty partition,
# named by its pid; the file names ARE the dirty-pid list of the commit.

_BLOB_FILE = re.compile(r"pid-(\d+)\.parquet")


def _blob_name(pid: int) -> str:
    return f"pid-{pid:05d}.parquet"


def _load_blob(path: str | None, pid: int) -> bytes | None:
    """The blob of ``pid`` from ``path`` (None: partition never stored).
    Per-pid files hold one row; Spark-written files of the earlier
    layout hold several partitions' rows."""
    if path is None:
        return None
    with pq.ParquetFile(path) as f:
        t = f.read(columns=["partition_id", "bits"])
    ids = t.column("partition_id").to_pylist()
    return t.column("bits")[ids.index(pid)].as_py()


def _store_blob(gen_dir: str, pid: int, blob: bytes) -> None:
    """Write ``pid``'s blob as ``gen_dir/pid-NNNNN.parquet`` via a hidden
    tmp file + ``os.replace``: a reader sees the whole file or none, and
    a retried task attempt overwrites the same name with the same bytes.
    Snappy-compressed (sparse bitsets shrink well); no statistics on the
    blob column, which would copy the blob into the footer."""
    os.makedirs(gen_dir, exist_ok=True)
    name = _blob_name(pid)
    tmp = os.path.join(gen_dir, f".{name}.{uuid.uuid4().hex}")
    table = pa.table({
        "partition_id": pa.array([pid], pa.int32()),
        "bits": pa.array([blob], pa.binary()),
    })
    pq.write_table(
        table, tmp, compression="snappy", use_dictionary=False,
        write_statistics=["partition_id"],
    )
    os.replace(tmp, os.path.join(gen_dir, name))


def _copy_blob(gen_dir: str, item: tuple[int, str]) -> None:
    pid, path = item
    _store_blob(gen_dir, pid, _load_blob(path, pid))


def _grouped(kernel, files: dict[int, str], gen_dir: str):
    """The per-partition function of the candidate ``applyInPandas``:
    load the partition's blob, run ``kernel(pid, blob, hashes) ->
    (novel_mask, new_blob | None)``, store a changed blob, return the
    novel urls. Candidates are deduplicated and sorted by (hash, url)
    first, so a new blob is a pure function of the old blob and the
    candidate SET — shuffle order cannot change it, and a retried task
    rewrites identical bytes. Deliberately unannotated: pyspark infers
    the UDF eval type from complete type hints only."""

    def apply(key, pdf):
        pid = int(key[0])
        pdf = pdf.drop_duplicates("url").sort_values(["hash", "url"])
        hashes = pdf["hash"].to_numpy(np.int64).view(np.uint64)
        novel, blob = kernel(pid, _load_blob(files.get(pid), pid), hashes)
        if blob is not None:
            _store_blob(gen_dir, pid, blob)
        return pd.DataFrame({"url": pdf["url"].to_numpy()[novel]})

    return apply


class _BlobStateSeenSet:
    """Shared machinery for seen sets whose state is P per-partition
    binary blobs in a SnapshotTable (Bloom bitsets, cuckoo slot tables).
    Subclasses supply only the numpy kernel; this class resolves, loads,
    stores and commits the blobs.

    Per call: the driver maps pid -> latest blob file from the manifest
    (P entries, shipped in the UDF closure); the candidates alone are
    shuffled by ``partition_id``; each group's worker reads its blob
    file with pyarrow and writes a changed blob as ``pid-NNNNN.parquet``
    into the call's generation dir; the driver renames that dir into the
    table and commits it manifest-only. Commits are INCREMENTAL (VERDICT
    r4 item 5): only dirty partitions are written, once, and all of them
    land under ONE manifest rename — there is no partial-state crash
    window. Latest-wins: a pid's blob is the one in the newest current
    dir that holds it.

    Executors must see the table root as the same POSIX path as the
    driver (local disk, or a shared/network filesystem on a cluster) —
    the same assumption ``SnapshotTable``'s ``os.replace`` manifest
    commits already make.

    Dirs written by the earlier layout (Spark part files holding several
    pids each, full snapshots from ``compact`` and incremental ``kind=
    bits`` dirs listed in ``blob_dir_pids``) still resolve, so existing
    workdirs stay resumable."""

    spark: SparkSession
    table: SnapshotTable
    P: int

    _PIDS_KEY = "blob_dir_pids"

    def _dir_pid_map(self, manifest: dict) -> dict:
        """dir -> list[pid] for INCREMENTAL state dirs of the current
        snapshot (carried in the snapshot's extra); dirs absent from the
        map are FULL snapshots (every partition) of the earlier layout."""
        cur = manifest.get("current")
        if cur is None:
            return {}
        snap = next(s for s in manifest["snapshots"] if s["id"] == cur)
        return (snap.get("extra") or {}).get(self._PIDS_KEY, {})

    def _blob_files(self) -> dict[int, str]:
        """pid -> the file holding its latest blob; pids never stored are
        absent. Dirs are walked NEWEST-first. A per-pid dir resolves from
        the manifest's pid list and the file names alone; a Spark-written
        dir of the earlier layout costs a read of its part files'
        ``partition_id`` column, and a FULL one shadows everything older."""
        manifest = self.table._read_manifest()
        pid_map = self._dir_pid_map(manifest)
        files: dict[int, str] = {}
        for d in reversed(self.table._current_dirs(manifest)):
            pids = pid_map.get(d)
            if pids and os.path.exists(os.path.join(d, _blob_name(pids[0]))):
                for p in pids:
                    files.setdefault(p, os.path.join(d, _blob_name(p)))
                continue
            for path in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                with pq.ParquetFile(path) as f:
                    ids = f.read(columns=["partition_id"]).column(0)
                for p in ids.to_pylist():
                    files.setdefault(p, path)
            if pids is None:
                break
        return files

    def _commit_generation(self, gen_dir: str, replace: bool = False) -> None:
        """Rename the generation dir into the table and commit it
        manifest-only, recording its pids (read off the file names) so
        later calls resolve them without opening anything. ``replace``:
        the dir becomes the whole state (compaction). Crash windows match
        append(): before the rename nothing changed; between rename and
        manifest replace the dir is an unreferenced orphan — the table
        still reads the old state."""
        names = os.listdir(gen_dir) if os.path.isdir(gen_dir) else []
        pids = sorted(
            int(m.group(1)) for m in map(_BLOB_FILE.fullmatch, names) if m
        )
        if not pids:  # nothing dirty
            return
        manifest = self.table._read_manifest()
        new_dir = self.table._new_data_dir()
        os.replace(gen_dir, new_dir)
        old = [] if replace else self.table._current_dirs(manifest)
        pid_map = {
            d: p for d, p in self._dir_pid_map(manifest).items() if d in old
        }
        pid_map[new_dir] = pids
        self.table.commit_dirs(old + [new_dir], extra={self._PIDS_KEY: pid_map})

    def _run(self, candidates: DataFrame, kernel) -> DataFrame:
        """One shuffle of the candidates by ``partition_id``; each group's
        worker applies ``kernel`` against its partition's blob and stores
        the changed blob itself. The novel urls are materialized once in
        a scratch dir and the dirty blobs committed before returning."""
        files = self._blob_files()
        scratch = _next_scratch(self.table.root)
        gen_dir = os.path.join(scratch, "blobs")
        url_dir = os.path.join(scratch, "urls")
        hashed = F.xxhash64(F.col("url"))
        cand = candidates.select(
            "url",
            hashed.alias("hash"),
            F.pmod(hashed, F.lit(self.P)).cast("int").alias("partition_id"),
        )
        (
            cand.groupBy("partition_id")
            .applyInPandas(_grouped(kernel, files, gen_dir), "url string")
            .write.mode("overwrite")
            .parquet(url_dir)
        )
        self._commit_generation(gen_dir)
        return self.spark.read.schema("url string").parquet(url_dir)

    def compact(self) -> None:
        """Collapse the generations into ONE dir holding the latest blob
        of every stored partition: a distributed pass over the pids, each
        task loading and storing its blobs like ``filter_and_add`` does.
        One current dir is already compact."""
        if len(self.table._current_dirs()) <= 1:
            return
        items = sorted(self._blob_files().items())
        gen_dir = os.path.join(_next_scratch(self.table.root), "blobs")
        sc = self.spark.sparkContext
        sc.parallelize(items, min(len(items), sc.defaultParallelism)).foreach(
            functools.partial(_copy_blob, gen_dir)
        )
        self._commit_generation(gen_dir, replace=True)


def _bloom_kernel(pid, blob, hashes, *, m: int, k: int, insert: bool):
    """Bloom test (and set, when ``insert``) over one partition's bitset;
    vectorized. A fresh URL always sets >=1 new bit, so any fresh URL
    under ``insert`` dirties the blob."""
    bits = (
        np.frombuffer(blob, dtype=np.uint8) if blob is not None
        else np.zeros(m // 8, dtype=np.uint8)
    )
    pos = _bloom_positions(hashes, k, m)
    bytes_idx = pos >> 3
    masks = (1 << (pos & 7)).astype(np.uint8)
    fresh = ~((bits[bytes_idx] & masks) == masks).all(axis=1)
    if not (insert and fresh.any()):
        return fresh, None
    bits = bits.copy()
    np.bitwise_or.at(bits, bytes_idx[fresh].ravel(), masks[fresh].ravel())
    return fresh, bits.tobytes()


class BloomURLSeenSet(_BlobStateSeenSet):
    """Bloom-mode seen set: per-partition bitsets in a SnapshotTable.

    ``bits_per_partition`` defaults to 2^23 bits (1 MiB) per partition;
    with k=7 that holds ~600k URLs/partition at <1% FP. Size up for the
    10^10 design point: 1024 partitions x 2^33 bits = 1 TiB of bitset
    spread across executors, ~10^10 URLs at <1% FP.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        num_partitions: int = 32,
        bits_per_partition: int = 1 << 23,
        num_hashes: int = 7,
    ):
        self.spark = spark
        self.table = SnapshotTable(spark, root)
        self.P = num_partitions
        self.m = bits_per_partition
        self.k = num_hashes

    def filter_and_add(self, candidates: DataFrame, insert: bool = True) -> DataFrame:
        """One pass: returns the NOVEL URLS (column ``url`` only) and —
        when ``insert`` — persists updated bitsets. ``insert=False`` is
        the crash-safe test-only pass: callers that must checkpoint
        between discovering and committing novelty (the crawl loop) test
        first, checkpoint, then call again with ``insert=True``.
        Callers needing the full candidate rows join against the result —
        the common paths (counting, enqueueing plain URLs) skip that
        second shuffle entirely.

        The call is EAGER: one Spark write runs inside it, and an insert
        has committed by the time it returns — callers need no action on
        the result to make it durable. The result reads the novel urls
        back from the call's scratch dir (valid until two later calls).

        State I/O is O(touched partitions): only DIRTY partitions (>=1
        new bit set) write a blob, once, and all of them commit under one
        manifest rename. At the 10^10 design point (1024 x 1 GiB
        bitsets) a batch touching 5% of partitions writes ~50 GiB instead
        of 2 TiB, and reads only the blobs of partitions it has
        candidates for."""
        kernel = functools.partial(_bloom_kernel, m=self.m, k=self.k, insert=insert)
        return self._run(candidates, kernel)


def _cuckoo_fp(h: np.ndarray) -> np.ndarray:
    fp = (_mix64(h) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1  # 0 means empty slot
    return fp


def _cuckoo_indices(h: np.ndarray, fp: np.ndarray, m: int):
    mu = np.uint64(m)
    i1 = (_mix64(h ^ np.uint64(0x1234567887654321)) % mu).astype(np.int64)
    alt = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) % mu
    i2 = ((i1.astype(np.uint64) ^ alt) % mu).astype(np.int64)
    return i1, i2


def _cuckoo_kernel(
    pid, blob, hashes, *, m: int, max_kicks: int, insert: bool, delete: bool
):
    """Cuckoo lookup (vectorized), then per-item deletes or inserts with
    a bounded eviction walk. The walk's randomness is seeded by the pid
    and items arrive sorted, so the result is deterministic."""
    slots = (
        np.frombuffer(blob, dtype=np.uint16).reshape(m, 4).copy()
        if blob is not None
        else np.zeros((m, 4), dtype=np.uint16)
    )
    fp = _cuckoo_fp(hashes)
    i1, i2 = _cuckoo_indices(hashes, fp, m)
    # vectorized membership: fp present in bucket i1 or i2
    present = (
        (slots[i1] == fp[:, None]).any(axis=1)
        | (slots[i2] == fp[:, None]).any(axis=1)
    )
    changed = False
    if delete:
        for row in np.nonzero(present)[0]:
            for b in (i1[row], i2[row]):
                hit = np.nonzero(slots[b] == fp[row])[0]
                if len(hit):
                    slots[b, hit[0]] = 0
                    changed = True
                    break
        return np.zeros(len(hashes), dtype=bool), slots.tobytes() if changed else None
    fresh = ~present
    rng = random.Random(pid)
    for row in np.nonzero(fresh)[0] if insert else ():
        f = fp[row]
        placed = False
        for b in (i1[row], i2[row]):
            empty = np.nonzero(slots[b] == 0)[0]
            if len(empty):
                slots[b, empty[0]] = f
                placed = changed = True
                break
        if not placed:
            b = i1[row]
            path: list[tuple[int, int]] = []
            for _ in range(max_kicks):
                s = rng.randrange(4)
                path.append((b, s))
                f, slots[b, s] = slots[b, s], f
                b = int((np.uint64(b) ^ ((np.uint64(f) * np.uint64(0x5BD1E995)) % np.uint64(m))) % np.uint64(m))
                empty = np.nonzero(slots[b] == 0)[0]
                if len(empty):
                    slots[b, empty[0]] = f
                    placed = changed = True
                    break
            if not placed:
                # kick exhaustion: UNDO the eviction chain so no
                # previously-stored fingerprint is lost — only the NEW
                # item passes through unstored (fail-open)
                for b_undo, s_undo in reversed(path):
                    f, slots[b_undo, s_undo] = slots[b_undo, s_undo], f
    return fresh, slots.tobytes() if changed else None


class CuckooURLSeenSet(_BlobStateSeenSet):
    """Cuckoo-filter mode: per-partition partial-key cuckoo tables
    (buckets x 4 slots of 16-bit fingerprints) behind the same
    ``filter_and_add`` interface as Bloom. Trade-offs vs Bloom:
    supports DELETION (re-crawl scheduling can forget URLs) and ~same
    space at <3% load penalty; inserts can fail at very high load
    (items then pass through as novel — fail-open, never drops novel
    URLs silently beyond the standard FP rate).

    Lookups are fully vectorized; inserts walk an eviction loop per
    *novel* item inside the Arrow batch (bounded 500 kicks).
    """

    MAX_KICKS = 500

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        num_partitions: int = 32,
        buckets_per_partition: int = 1 << 18,  # x4 slots x 2B = 2 MiB
    ):
        if buckets_per_partition & (buckets_per_partition - 1):
            # the partial-key alternate index i2 = i1 XOR h(fp) is only an
            # involution (evicted items stay findable) when m is a power
            # of two
            raise ValueError("buckets_per_partition must be a power of two")
        self.spark = spark
        self.table = SnapshotTable(spark, root)
        self.P = num_partitions
        self.m = buckets_per_partition

    def filter_and_add(
        self, candidates: DataFrame, delete: bool = False, insert: bool = True
    ) -> DataFrame:
        """delete=False: returns novel urls + (when ``insert``) stores
        them — ``insert=False`` is the crash-safe test-only pass; eager
        like BloomURLSeenSet.filter_and_add. delete=True: removes the
        given urls from the filter instead. State commits are
        incremental, like Bloom's: only partitions whose slot table
        actually CHANGED (an insert landed or a deletion zeroed a slot)
        store a blob."""
        kernel = functools.partial(
            _cuckoo_kernel, m=self.m, max_kicks=self.MAX_KICKS,
            insert=insert, delete=delete,
        )
        return self._run(candidates, kernel)

    def delete(self, urls: DataFrame) -> None:
        self.filter_and_add(urls, delete=True)
