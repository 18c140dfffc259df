"""Engine configuration mirroring the reference's crawl settings.

Reference: /root/reference/src/common/config.py:27-30
  CRAWL_DELAY = 1 (politeness — becomes the round structure, not a sleep)
  MAX_DEPTH = 3
  MAX_URLS_PER_DOMAIN = 100
"""

from __future__ import annotations

import os
from dataclasses import dataclass


@dataclass(frozen=True)
class CrawlConfig:
    """Per-job crawl parameters (reference config.py:27-30 defaults)."""

    max_depth: int = 3
    max_urls_per_domain: int = 100
    job_id: str = "job-test-0001"
    respect_robots: bool = True
    # failed-fetch retry budget (crawler_node.py:160 max_retries=3 and
    # :887-916 _retry_failed_tasks): a failed URL re-enters the next
    # round's pending with retry_count+1 until the budget is exhausted
    max_retries: int = 3
    # fetch fault-injection for tests: when > 0, the fetch of ``url``
    # transiently fails while retry_count < crc32(url) % flaky_mod —
    # deterministic on both the engine (F.crc32) and oracle (zlib.crc32)
    # sides. 0 disables (production).
    flaky_mod: int = 0


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """The driver heap when SPARK_GRAFT_DRIVER_MEM is unset: 48g, or 40% of
    the host's physical memory if that is less. A heap sized past physical
    memory grows until the OS kills the JVM."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(48 << 10, int(phys_bytes * 0.4) >> 20)}m"


@dataclass(frozen=True)
class EngineConfig:
    """Session-level knobs; env-overridable for the bench harness."""

    cores: int = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions: int = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "0")) or 0
    driver_memory: str = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
    sf_dir: str = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # AQE partition-coalescing floor (spark.sql.adaptive.coalescePartitions.
    # minPartitionSize, default 1m). The default is sized for I/O-bound
    # shuffles; CPU-heavy post-shuffle stages (per-token hashing, regex,
    # vote aggregates) deserve a task well below 1 MB of shuffle bytes, so
    # a small floor keeps every core busy while AQE still coalesces truly
    # empty partitions. Scale-adaptive by construction: once per-partition
    # bytes exceed the floor (any real cluster input), coalescing behaves
    # exactly as before — this only stops tiny-but-expensive stages from
    # being serialized onto one or two cores.
    min_coalesced_partition_bytes: str = os.environ.get(
        "SPARK_GRAFT_MIN_COALESCED_PARTITION", "64k"
    )
    # Threshold below which a base-table scan is round-robin rebalanced to
    # the session parallelism (plans/registry._read). Parquet row groups
    # are the scan split unit and small tables are single-row-group files,
    # so without this every map-heavy pipeline runs as ONE task until its
    # first exchange. A table at or above the threshold already yields
    # >= parallelism scan splits, so the rebalance is a no-op at scale.
    small_table_rebalance_bytes: int = int(
        os.environ.get("SPARK_GRAFT_SMALL_TABLE_BYTES", str(64 << 20))
    )

    def resolved_shuffle_partitions(self) -> int:
        # match parallelism to cores in local mode, not the 200 default:
        # at cluster scale this is set to ~2-3x total executor cores (or
        # left to AQE coalescing from a high initial value).
        return self.shuffle_partitions or max(self.cores, 8)
