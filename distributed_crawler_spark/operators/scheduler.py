"""The iterative crawl driver: bounded Spark job per round, append-only
state, per-partition lineage rows, exact checkpoint resume.

Replaces the reference's master poll loops (master_node.py:1210-1216) and
its SQS visibility-timeout/retry machinery (SURVEY.md §2.10): a crashed
round is simply re-run — rounds are idempotent because dedup and budget
are deterministic functions of the prior state.

State layout (append-only — the frontier is NEVER rewritten; at cluster
scale each directory is an Iceberg table and each round a snapshot):

    state_dir/
      job=J/                (multi-job: state partitioned by job_id —
                             master_node.py:161-170's (url, job_id) key)
        pending/round=R/    (url, host, depth, retry_count)
        cohort/round=R/     (url, host, depth, status, round, retry_count)
        extracted/round=R/  parse output (incl. parent depth)
        lineage/round=R/    (round, partition_id, urls_in, urls_out, bytes, wall_ms)
        frontier_rollup/round=R/  compacted per-url frontier through round R
                            (written lazily by reporting calls; one table
                             replaces the O(R) cohort union)

Every state read passes the table's declared schema (``SCHEMAS``), so no
read runs a footer-inference job; a column an older layout lacks reads
back as NULL, which the shims fill.

Resume: the max round with a lineage marker is the last committed round;
restart reads pending/round=R+1. The URL-seen set and the per-host
counts are not stored: seen is the first attempts of pending/round=0..R,
read by explicit round paths, and counts group seen by host. (north_rule:
"resumable from checkpoint with per-partition lineage + metrics".)
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..functions.urls import get_domain, normalize_url
from .frontier import fetch_extract, schedule_candidates, with_retry_count
from .politeness import host_budget_filter, robots_filter

PENDING, COHORT, EXTRACTED, LINEAGE = "pending", "cohort", "extracted", "lineage"
ROLLUP = "frontier_rollup"

_FRONTIER = "url STRING, host STRING, depth INT, status STRING, round INT, retry_count INT"

# the DDL schema each state table's writer produces (pinned by
# tests/test_crawl_parity.py::test_state_schemas_match_writers)
SCHEMAS = {
    PENDING: "url STRING, host STRING, depth INT, retry_count INT",
    COHORT: _FRONTIER,
    EXTRACTED: (
        "url STRING, title STRING, description STRING, keywords STRING, "
        "text STRING, links ARRAY<STRING>, language STRING, "
        "fetch_ts TIMESTAMP, depth INT"
    ),
    LINEAGE: (
        "round INT, partition_id INT, urls_in BIGINT, urls_out BIGINT, "
        "bytes BIGINT, wall_ms INT"
    ),
    ROLLUP: _FRONTIER + ", last_round INT",
}


def _collapse_frontier(df: DataFrame) -> DataFrame:
    """Collapse attempt rows to the per-url frontier row (DynamoDB
    url-table semantics, master_node.py:404-428): first-attempt
    round/depth, latest-attempt status, max retry_count. ``last_round``
    (the attempt round) rides along so rollups of rollups stay correct."""
    return df.groupBy("url").agg(
        F.first("host").alias("host"),
        F.min("depth").alias("depth"),
        F.max_by("status", F.col("last_round")).alias("status"),
        F.min("round").alias("round"),
        F.max("retry_count").alias("retry_count"),
        F.max("last_round").alias("last_round"),
    )


def _p(state_dir: str, table: str, rnd: int) -> str:
    return os.path.join(state_dir, table, f"round={rnd}")


def _exists(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def seed_frontier(
    spark: SparkSession,
    seeds: DataFrame,
    robots: DataFrame,
    cfg: CrawlConfig,
) -> DataFrame:
    """Normalize seed URLs (master_node.py:266) and apply the same gates
    candidates face (robots, host budget) to produce round-0 pending."""
    cand = (
        seeds.select(normalize_url(F.col("url")).alias("url"))
        .filter(F.col("url").isNotNull())
        .distinct()
        .withColumn("host", get_domain(F.col("url")))
        .withColumn("depth", F.lit(0))
    )
    if cfg.respect_robots:
        cand = robots_filter(cand, robots)
    return host_budget_filter(
        cand, None, cfg.max_urls_per_domain, salt_buckets=cfg.salt_buckets
    ).select("url", "host", "depth", F.lit(0).alias("retry_count"))


class CrawlScheduler:
    """Runs the round loop against a pages corpus, persisting state."""

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        robots: DataFrame,
        state_dir: str,
        cfg: CrawlConfig | None = None,
    ) -> None:
        self.spark = spark
        self.pages = pages
        self.robots = robots
        self.state_dir = state_dir
        self.cfg = cfg or CrawlConfig()
        # multi-job frontier (master_node.py:161-170 keys the url table on
        # (url, job_id)): all state is partitioned by job — the Iceberg
        # partition-column analog — so concurrent jobs in one state_dir
        # have independent seen-sets, budgets, and rounds
        self._root = os.path.join(state_dir, f"job={self.cfg.job_id}")

    # -- state reconstruction ------------------------------------------

    def committed_rounds(self) -> list[int]:
        d = os.path.join(self._root, LINEAGE)
        if not os.path.isdir(d):
            return []
        rounds = []
        for name in os.listdir(d):
            if name.startswith("round=") and _exists(os.path.join(d, name)):
                rounds.append(int(name.split("=")[1]))
        return sorted(rounds)

    def _read(self, table: str, *rounds: int) -> DataFrame:
        """Rounds of one state table under its declared schema. Each
        round is named by its path, never partition-discovered: a
        directory scan would also pick up merge_upsert's ``round=R.tmp-*``
        and ``.bak`` siblings."""
        paths = [_p(self._root, table, r) for r in rounds]
        return self.spark.read.schema(SCHEMAS[table]).parquet(*paths)

    def _seen_and_counts(self, pending_round: int):
        """seen = every URL ever scheduled: the first attempts of
        pending/round=0..R (a retry was counted when first scheduled);
        counts = (host, n_scheduled) over seen, the budget each host has
        consumed. Neither is stored. The URL-seen anti-join scans all of
        seen every round anyway, so the counts aggregate adds a second
        scan of the same files, not a new cost order (at cluster scale:
        pending bucketed on xxhash64(url), so the anti-join's seen side
        never shuffles)."""
        seen = (
            with_retry_count(self._read(PENDING, *range(pending_round + 1)))
            .filter(F.col("retry_count") == 0)
            .select("url", "host")
        )
        counts = seen.groupBy("host").agg(F.count("*").alias("n_scheduled"))
        return seen, counts

    # -- the loop --------------------------------------------------------

    def run(
        self,
        seeds: DataFrame | None = None,
        resume: bool = False,
        stop_after_round: int | None = None,
    ) -> dict:
        """Run the crawl to completion (or resume it). Returns summary
        stats. ``seeds`` is required for a fresh run. ``stop_after_round``
        simulates a crash between rounds (resume-test hook)."""
        cfg = self.cfg
        if resume:
            committed = self.committed_rounds()
            # a job with no committed round can still be resumable: a
            # submitted-but-never-run frontier (submit_urls on a fresh
            # job — the submit_url.py fire-and-forget shape) has a
            # round-0 pending cohort and no lineage yet
            if not committed and not _exists(_p(self._root, PENDING, 0)):
                resume = False
        if not resume:
            if seeds is None:
                raise ValueError("seeds required for a fresh run")
            # wipe only THIS job's subtree — other jobs sharing the
            # state_dir must be untouched
            if os.path.isdir(self._root):
                shutil.rmtree(self._root)
            pending0 = seed_frontier(self.spark, seeds, self.robots, cfg)
            pending0.write.mode("overwrite").parquet(_p(self._root, PENDING, 0))
            start_round = 0
        else:
            start_round = (committed[-1] + 1) if committed else 0
            pend_path = _p(self._root, PENDING, start_round)
            if not _exists(pend_path) or (
                self._read(PENDING, start_round).limit(1).count() == 0
            ):
                # crawl already finished
                return self.summary()

        rnd = start_round
        # retry-only rounds may extend past max_depth (retries keep their
        # ORIGINAL depth — crawler_node.py re-queues the same task), and a
        # retried parent succeeding late can push still-in-depth children
        # into later rounds, so the backstop is (a) RELATIVE to where this
        # invocation started — a resume past the fresh-run bound must still
        # drain its pending tail — and (b) sized for the worst delayed
        # chain (each of max_depth+1 levels delayed by max_retries rounds).
        # The real terminator is the empty-pending break below.
        bound = start_round + (cfg.max_depth + 1) * (cfg.max_retries + 1)
        while rnd <= bound and _exists(_p(self._root, PENDING, rnd)):
            self._run_round(rnd)
            if stop_after_round is not None and rnd >= stop_after_round:
                break
            nxt = _p(self._root, PENDING, rnd + 1)
            if not _exists(nxt):
                break
            # empty next cohort ⇒ done
            if self._read(PENDING, rnd + 1).limit(1).count() == 0:
                break
            rnd += 1
        return self.summary()

    def _run_round(self, rnd: int) -> None:
        t0 = time.monotonic()
        cfg = self.cfg
        seen, counts = self._seen_and_counts(rnd)
        cohort, extracted, fetched = fetch_extract(
            self._read(PENDING, rnd), self.pages, rnd, cfg.flaky_mod
        )
        # the fetch join runs once per round: Spark substitutes this cache
        # into the extracted, cohort and lineage plans built on it; it is
        # released when the round ends
        fetched.persist()
        try:
            extracted.write.mode("overwrite").parquet(_p(self._root, EXTRACTED, rnd))
            cohort.write.mode("overwrite").parquet(_p(self._root, COHORT, rnd))
            # pending_{r+1} is ALWAYS written (even past the last
            # processable round): unprocessed candidates/retries must
            # surface as status='pending' frontier rows, not silently
            # vanish. materialization barrier: schedule from the
            # just-written extracted table so the parse UDF runs exactly
            # once per round
            next_pending = schedule_candidates(
                self._read(EXTRACTED, rnd), self.robots, seen, counts, cfg, rnd
            )
            # failed-URL retry re-feed (crawler_node.py:887-916): failures
            # with budget left re-enter the next round at the SAME depth;
            # they are already in `seen`, so the anti-join above can never
            # emit them as candidates — no dedup needed within pending
            retries = cohort.filter(
                (F.col("status") == "failed")
                & (F.col("retry_count") < cfg.max_retries)
            ).select(
                "url", "host", "depth", (F.col("retry_count") + 1).alias("retry_count")
            )
            next_pending.unionByName(retries).write.mode("overwrite").parquet(
                _p(self._root, PENDING, rnd + 1)
            )

            # lineage: per-partition input/output/byte counts over the
            # partitions of the fetch join; committing this row is what
            # marks the round durable (written LAST — the commit point; a
            # crash before this re-runs the whole round idempotently)
            wall_ms = int((time.monotonic() - t0) * 1000)
            html = F.col("html")
            lineage = (
                fetched.withColumn("partition_id", F.spark_partition_id())
                .groupBy("partition_id")
                .agg(
                    F.count("*").alias("urls_in"),
                    F.count(html).alias("urls_out"),
                    F.coalesce(F.sum(F.length(html)), F.lit(0)).alias("bytes"),
                )
                .select(
                    F.lit(rnd).alias("round"), "partition_id", "urls_in",
                    "urls_out", "bytes", F.lit(wall_ms).alias("wall_ms"),
                )
            )
            lineage.write.mode("overwrite").parquet(_p(self._root, LINEAGE, rnd))
        finally:
            fetched.unpersist()

    def submit_urls(self, urls: DataFrame) -> int:
        """submit_url.py parity (client/submit_url.py:15-43: a crawl_url
        command enqueued onto the master's command queue; the master
        seeds it into the live crawl): inject NEW urls into this job's
        frontier mid-flight or after completion — normalized and
        robots/per-submission-budget gated exactly like a seed batch
        (seed_frontier; the reference likewise enqueues submitted urls
        unconditionally against the CUMULATIVE budget, which then governs
        their discovered links), deduped against the job's full URL-seen
        set — merged into the next unprocessed pending cohort.
        ``run(resume=True)`` then drains them through the normal round
        machinery at depth 0. Returns the number actually scheduled."""
        from ..sources.storage import merge_upsert

        committed = self.committed_rounds()
        nxt = committed[-1] + 1 if committed else 0
        seeded = seed_frontier(self.spark, urls, self.robots, self.cfg)
        pend_path = _p(self._root, PENDING, nxt)
        if committed or _exists(pend_path):
            # through round nxt: a seeded-but-never-run job has only its
            # round-0 cohort
            seen, _ = self._seen_and_counts(nxt)
            seeded = seeded.join(seen.select("url"), "url", "left_anti")
        n = seeded.count()
        if n == 0:
            return 0
        # seen is read from pending, so the swap that merges the cohort
        # in also updates seen: no stored table can go stale on a crash
        if _exists(pend_path):
            merge_upsert(self.spark, pend_path, seeded, key="url")
        else:
            seeded.write.mode("overwrite").parquet(pend_path)
        return n

    def resend_failed(self) -> int:
        """Admin 'resend_urls' command (master_node.py:994-1062
        _handle_resend_urls_command): re-queue every url whose LATEST
        status is failed and whose retry budget is not exhausted into the
        next pending round (status back to pending, retry_count+1), then
        ``run(resume=True)`` processes them. Returns the number resent.

        With automatic per-round retry this is mostly for state crawled
        under a smaller max_retries (bump the config, resend, resume)."""
        from ..sources.storage import merge_upsert

        committed = self.committed_rounds()
        if not committed:
            return 0
        nxt = committed[-1] + 1
        failed = (
            self.frontier()
            .filter(
                (F.col("status") == "failed")
                & (F.col("retry_count") < self.cfg.max_retries)
            )
            .select(
                "url",
                "host",
                "depth",
                (F.col("retry_count") + 1).cast("int").alias("retry_count"),
            )
        )
        n = failed.count()
        if n == 0:
            return 0
        pend_path = _p(self._root, PENDING, nxt)
        if _exists(pend_path):
            merge_upsert(self.spark, pend_path, failed, key="url")
        else:
            failed.write.mode("overwrite").parquet(pend_path)
        return n

    # -- results ---------------------------------------------------------

    def _frontier_rollup(self, committed: list[int]) -> DataFrame:
        """Compacted per-url frontier through the last committed round
        (VERDICT r03 next #6 — the old frontier() unioned every cohort
        round per call, O(R) reads in the reporting path). The rollup for
        round R is written once, as (newest existing rollup) ∪ (the
        cohorts since it) collapsed in ONE job — so a reporting call
        reads ONE table plus only the cohorts added since the previous
        report, and repeat calls within a round read exactly one table.
        Rounds are deterministic, so a crash re-run reproduces the same
        rollup content. At cluster scale this is the Iceberg MERGE
        maintaining the reference's DynamoDB url table.

        The rollup is a derived CACHE, not primary state: superseded
        rollup rounds are pruned after each write (storage stays one
        frontier copy, not O(rounds)), and if the state dir is not
        writable (read-only mount, another user's crawl) the method
        falls back to the direct cohort union — reporting always works,
        compaction is best-effort. Single concurrent reporter assumed,
        like every other writer in this layout (sources/storage.py)."""
        last = committed[-1]
        last_path = _p(self._root, ROLLUP, last)
        if not _exists(last_path):
            have = [r for r in committed if _exists(_p(self._root, ROLLUP, r))]
            base = have[-1] if have else None
            df = with_retry_count(
                self._read(COHORT, *(r for r in committed if base is None or r > base))
            ).select(
                "url", "host", "depth", "status", "round", "retry_count",
                F.col("round").alias("last_round"),
            )
            if base is not None:
                df = self._read(ROLLUP, base).unionByName(df)
            collapsed = _collapse_frontier(df)
            try:
                collapsed.write.mode("overwrite").parquet(last_path)
            except Exception as e:
                # unwritable state dir (read-only mount, other-user state)
                # OR a failing write (disk full): report from the
                # un-materialized plan (the pre-compaction behavior, O(R)
                # reads) — but say so, or a persistently failing write
                # silently re-inflates every future report
                import warnings

                warnings.warn(
                    f"frontier rollup write failed ({e!r}); reporting "
                    "falls back to direct cohort reads",
                    stacklevel=2,
                )
                return collapsed
            # prune superseded rollups, KEEPING the immediately-previous
            # generation: a lazy frontier() DataFrame captured before this
            # write still references it (rollups are caches — hold results
            # across runs by materializing, not by keeping the plan)
            for r in have[:-1]:
                shutil.rmtree(_p(self._root, ROLLUP, r), ignore_errors=True)
        return self._read(ROLLUP, last)

    def frontier(self) -> DataFrame:
        """The frontier as the reference's url table sees it: ONE row per
        url — round/depth of the FIRST attempt (crawl order is defined on
        first scheduling), status of the LATEST attempt, max retry_count
        (DynamoDB url-frontier row semantics: status/retry_count updated
        in place, master_node.py:404-428). Reads the compacted rollup +
        the live pending cohort — input-file count is constant per round,
        not O(rounds)."""
        committed = self.committed_rounds()
        parts = []
        if committed:
            parts.append(self._frontier_rollup(committed))
        nxt = (committed[-1] + 1) if committed else 0
        if _exists(_p(self._root, PENDING, nxt)):
            parts.append(
                with_retry_count(self._read(PENDING, nxt)).select(
                    "url", "host", "depth",
                    F.lit("pending").alias("status"),
                    F.lit(nxt).alias("round"),
                    "retry_count",
                    F.lit(nxt).alias("last_round"),
                )
            )
        if not parts:
            # fresh/wrong state dir: empty frontier, not an IndexError
            return self.spark.createDataFrame(
                [],
                "url STRING, host STRING, depth INT, status STRING, "
                "round INT, retry_count INT, job_id STRING",
            )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        # collapse pending retries onto the rolled-up rows (no-op when
        # there are none; one hash aggregate, partial map-side combine)
        return _collapse_frontier(df).select(
            "url", "host", "depth", "status", "round", "retry_count",
            F.lit(self.cfg.job_id).alias("job_id"),
        )

    def crawl_order(self) -> DataFrame:
        """Canonical crawl order: (seq, round, url) ordered by
        (round, url) over scheduled URLs — the defined total order the
        reference's emergent BFS converges to (SURVEY.md §7.4.1).

        Scale shape: a bare ``Window.orderBy`` would pull the whole
        frontier into ONE partition; instead the frontier is
        range-partitioned on the order key, numbered per partition, and
        offset by the exclusive prefix sum of partition counts (the
        partition-count table is #partitions rows — driver-trivial)."""
        from pyspark.sql import Window

        base = (
            self.frontier()
            .select("round", "url")
            .repartitionByRange("round", "url")
            .withColumn("pid", F.spark_partition_id())
        )
        counts = base.groupBy("pid").agg(F.count("*").alias("n"))
        w_off = Window.orderBy("pid").rowsBetween(
            Window.unboundedPreceding, -1
        )
        offsets = counts.select(
            "pid", F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("offset")
        )
        w_in = Window.partitionBy("pid").orderBy("round", "url")
        return (
            base.withColumn("rn", F.row_number().over(w_in))
            .join(F.broadcast(offsets), "pid")
            .select(
                (F.col("offset") + F.col("rn")).cast("int").alias("seq"),
                "round",
                "url",
            )
        )

    def url_seen(self) -> DataFrame:
        return self.frontier().select("url", F.xxhash64("url").alias("url_hash"))

    def extracted_all(self) -> DataFrame:
        committed = self.committed_rounds()
        if not committed:
            raise FileNotFoundError(
                f"no crawl state found at {self.state_dir} (no committed rounds)"
            )
        # pre-retry-layout shim (mirrors with_retry_count): extracted
        # tables written before the depth column read it back as NULL,
        # and before retries existed a page's round WAS its depth
        parts = [
            self._read(EXTRACTED, r).withColumn(
                "depth", F.coalesce(F.col("depth"), F.lit(r))
            )
            for r in committed
        ]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def lineage_all(self) -> DataFrame:
        committed = self.committed_rounds()
        if not committed:
            raise FileNotFoundError(
                f"no crawl state found at {self.state_dir} (no committed rounds)"
            )
        return self._read(LINEAGE, *committed)

    def summary(self) -> dict:
        front = self.frontier()
        by_status = {
            r["status"]: r["n"]
            for r in front.groupBy("status").agg(F.count("*").alias("n")).collect()
        }
        return {
            "rounds": self.committed_rounds(),
            "by_status": by_status,
            "total_scheduled": sum(by_status.values()),
        }
