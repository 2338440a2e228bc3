"""Seeded benchmark inputs and their ground truth.

Everything here runs before the timed region: the synthetic web, its
parquet copy, the oracle's expected crawl, and the URL batches of the
seen-set stream with their exact novelty truth.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WEB_SCHEMA = (
    "url string, host string, depth int, status int, content_type string, "
    "body binary"
)


@dataclass
class WebFixture:
    """One synthetic web plus the oracle's answer for one crawl config."""

    n_domains: int
    seed: int
    seeds: list[str]
    rows: list  # list[WebRow]
    oracle: object  # OracleResult
    path: str  # parquet copy of ``rows``
    build_s: float = 0.0
    oracle_s: float = 0.0
    write_s: float = 0.0

    def web_df(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)


def build_web_fixture(
    spark: SparkSession,
    n_domains: int,
    seed: int,
    path: str,
    politeness_budget: int | None,
    use_robots: bool,
) -> WebFixture:
    """Generate the web with ``build_web``, write it to parquet (the
    crawl reads the web from there) and run the oracle simulator."""
    from web_scraper_spark.oracle.simulator import simulate
    from web_scraper_spark.sources.synthetic_web import build_web

    t = time.perf_counter()
    seeds, rows = build_web(n_domains, seed)
    build_s = time.perf_counter() - t

    t = time.perf_counter()
    oracle = simulate(
        seeds, rows, None, politeness_budget=politeness_budget, use_robots=use_robots
    )
    oracle_s = time.perf_counter() - t

    t = time.perf_counter()
    n_slices = max(1, min(spark.sparkContext.defaultParallelism, len(rows) // 512))
    spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(r.url, r.host, r.depth, r.status, r.content_type, r.body) for r in rows],
            n_slices,
        ),
        WEB_SCHEMA,
    ).write.mode("overwrite").parquet(path)
    write_s = time.perf_counter() - t

    return WebFixture(
        n_domains, seed, seeds, rows, oracle, path,
        build_s=build_s, oracle_s=oracle_s, write_s=write_s,
    )


# -- URL-seen stream ---------------------------------------------------------

HOT_HOST = "hot-0000.test"


@dataclass
class SeenStream:
    """``n_batches`` batches of ``batch_size`` URL ids; batch i covers ids
    ``[base + i*step, base + i*step + batch_size)`` with ``step =
    batch_size // 2``, so each batch overlaps the previous one by 50% and
    the truly new ids of batch i>0 are its upper half."""

    seed: int
    batch_size: int
    n_batches: int
    n_hosts: int = 997

    @property
    def step(self) -> int:
        return self.batch_size // 2

    @property
    def base(self) -> int:
        return 1_000_000 * (1 + self.seed % 1000)

    def bounds(self, i: int) -> tuple[int, int]:
        lo = self.base + i * self.step
        return lo, lo + self.batch_size

    def new_bounds(self, i: int) -> tuple[int, int]:
        lo, hi = self.bounds(i)
        return (lo, hi) if i == 0 else (hi - self.step, hi)

    def url_of(self, i: int) -> str:
        """Python mirror of :meth:`candidates` (ground-truth side)."""
        return f"http://{self._host_py(i)}/p/{i}"

    def _host_py(self, i: int) -> str:
        mixed = (i * 2654435761 + self.seed) % (1 << 32)
        if mixed % 10 == 0:
            return HOT_HOST
        return f"h{mixed % self.n_hosts:04d}.test"

    def candidates(self, spark: SparkSession, i: int) -> DataFrame:
        """Batch ``i`` as a one-column ``url`` DataFrame, canonicalized
        the way the frontier canonicalizes before hashing. 10% of the ids
        land on one hot host."""
        from web_scraper_spark.functions.urls import canonicalize_url

        lo, hi = self.bounds(i)
        mixed = F.pmod(
            F.col("id") * F.lit(2654435761) + F.lit(self.seed), F.lit(1 << 32)
        )
        host = F.when(F.pmod(mixed, F.lit(10)) == 0, F.lit(HOT_HOST)).otherwise(
            F.concat(
                F.lit("h"),
                F.lpad(F.pmod(mixed, F.lit(self.n_hosts)).cast("string"), 4, "0"),
                F.lit(".test"),
            )
        )
        raw = F.concat(F.lit("http://"), host, F.lit("/p/"), F.col("id").cast("string"))
        n_parts = spark.sparkContext.defaultParallelism
        return spark.range(lo, hi, numPartitions=n_parts).select(
            canonicalize_url(raw).alias("url")
        )

