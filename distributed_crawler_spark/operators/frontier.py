"""One crawl round as a pure DataFrame → DataFrame transformation.

This is the Spark-first recast of the reference's whole distributed loop
(SURVEY.md §3.1): what the reference does with 4 SQS hops + DynamoDB
point-lookups per URL (master_node.py:315-448 _enqueue_url,
crawler_node.py:402-596 fetch, 666-837 result handling,
master_node.py:450-539 result→enqueue recursion) becomes one bounded
Spark job per round:

    pending_r → fetch-join pages → parse UDF → extracted_r
             → explode links → normalize → depth gate
             → admit (anti-join seen → robots filter → salted host-budget
               window) → pending_{r+1}

``politeness.admit`` is the same gate the seed frontier, the model
crawl and the bench jobs call, so the admission order lives in one
function.

Scale notes:
  * the fetch join keys on unique canonical urls; with frontier and pages
    both bucketed on xxhash64(url) (Iceberg bucket transform at cluster
    scale) it is a storage-partitioned join — the 10^10-row corpus never
    shuffles.
  * URL-seen dedup is one exact ``left_anti`` join against the seen
    set, the scaling bottleneck (SURVEY §7.4.3); the seen side stays
    bucketed on xxhash64(url) so only the candidate side shuffles. A
    membership filter would only pay if it persisted between rounds and
    were probed instead of the exact set — a separate design that needs
    its own workload and measurement.
  * all per-row work is in one Arrow-vectorized parse UDF; everything
    else is JVM-native and whole-stage-codegen'd.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..functions.extract import parse_page_udf
from ..functions.urls import get_domain
from .politeness import admit


@dataclass
class RoundResult:
    """Outputs of one crawl round (all lazy DataFrames)."""

    cohort: DataFrame        # (url, host, depth, status, round, retry_count)
    extracted: DataFrame     # (url, title, description, keywords, text, links, language, fetch_ts)
    next_pending: DataFrame  # (url, host, depth, retry_count) for round+1
    fetched: DataFrame       # pending ⋈ pages (for lineage byte counts)


def with_retry_count(df: DataFrame) -> DataFrame:
    """Back-compat shim: rows written before the retry path existed are
    first attempts. Read under the declared state schema such a file's
    retry_count is NULL; a caller's own frame may lack the column."""
    if "retry_count" not in df.columns:
        return df.withColumn("retry_count", F.lit(0))
    return df.withColumn("retry_count", F.coalesce(F.col("retry_count"), F.lit(0)))


def fetch_extract(
    pending: DataFrame, pages: DataFrame, round_no: int, flaky_mod: int = 0
):
    """Phase 1: simulated fetch (left join marks misses as failed) +
    Arrow parse. Returns (cohort, extracted, fetched) lazy frames.

    A miss (no such page) fails every attempt; with ``flaky_mod`` fault
    injection, a hit also fails transiently while
    retry_count < crc32(url) % flaky_mod (crawler_node.py retry model:
    transient fetch errors succeed on a later attempt)."""
    pending = with_retry_count(pending)
    fetched = pending.join(
        pages.select("url", "warc_ts", "html"), on="url", how="left"
    )

    hit = F.col("html").isNotNull()
    if flaky_mod > 0:
        hit = hit & ~(
            F.col("retry_count") < F.crc32(F.col("url")) % F.lit(flaky_mod)
        )
    cohort = fetched.select(
        "url",
        "host",
        "depth",
        F.when(hit, F.lit("completed")).otherwise(F.lit("failed")).alias("status"),
        F.lit(round_no).alias("round"),
        "retry_count",
    )

    # one ArrowEvalPython node: the multi-field struct select does NOT
    # duplicate the UDF (verified by tests/test_plans.py)
    parsed = (
        fetched.filter(hit)
        .withColumn("parsed", parse_page_udf(F.col("html"), F.col("url")))
    )
    extracted = parsed.select(
        "url",
        F.col("parsed.title").alias("title"),
        F.col("parsed.description").alias("description"),
        F.col("parsed.keywords").alias("keywords"),
        F.col("parsed.text").alias("text"),
        F.col("parsed.links").alias("links"),
        F.col("parsed.language").alias("language"),
        F.col("warc_ts").alias("fetch_ts"),
        # parent depth rides along so discovered links get depth+1 even
        # when a retried page succeeds in a LATER round (round ≠ depth)
        "depth",
    )
    return cohort, extracted, fetched


def schedule_candidates(
    extracted: DataFrame,
    robots: DataFrame,
    seen: DataFrame,
    host_counts: DataFrame | None,
    cfg: CrawlConfig,
) -> DataFrame:
    """Phase 2: link discovery → depth gate → ``admit`` (URL-seen
    anti-join → robots → salted budget window) → pending_{round+1}. Pass
    a *materialized* ``extracted`` (the just-written table read back) so
    the parse UDF is never re-executed for scheduling.

    Candidate depth is PARENT depth + 1 (master_node.py _enqueue_url's
    new_depth = task.depth + 1), min over parents when several pages link
    to the same url in one round — with retries a page can succeed in a
    round later than its depth, and its children must not be penalized.
    There is deliberately NO round-number gate here: even past the last
    processable round, admissible candidates are recorded as pending
    (they surface as status='pending' frontier rows, like the oracle's
    unprocessed tail)."""
    candidates = (
        extracted.select(
            F.explode("links").alias("url"),
            (F.col("depth") + 1).alias("depth"),
        )
        # links are already normalized http(s) URLs (parse_page_py), so
        # only dedup within the round; canonical order for budget is url asc
        .groupBy("url")
        .agg(F.min("depth").alias("depth"))
        .filter(F.col("depth") <= cfg.max_depth)
        .withColumn("host", get_domain(F.col("url")))
    )

    return admit(
        candidates,
        cfg.max_urls_per_domain,
        seen=seen,
        robots=robots if cfg.respect_robots else None,
        prior=host_counts,
    ).select("url", "host", "depth", F.lit(0).alias("retry_count"))


def crawl_round(
    pending: DataFrame,
    pages: DataFrame,
    robots: DataFrame,
    seen: DataFrame,
    host_counts: DataFrame | None,
    cfg: CrawlConfig,
    round_no: int,
) -> RoundResult:
    """Single-plan composition of both phases (tests / one-shot queries).
    The scheduler calls the phases separately with a materialization
    barrier between them so the parse runs exactly once per round.

    pending: (url, host, depth); pages: input_hint corpus table;
    seen: (url) every URL ever scheduled; host_counts: (host, n_scheduled).
    """
    cohort, extracted, fetched = fetch_extract(
        pending, pages, round_no, cfg.flaky_mod
    )
    next_pending = schedule_candidates(extracted, robots, seen, host_counts, cfg)
    return RoundResult(cohort, extracted, next_pending, fetched)


def snapshot_delta(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "url",
    fp_col: str = "fp",
) -> DataFrame:
    """Recrawl snapshot diff: classify every URL across two crawl
    snapshots as added / removed / changed / same — the incremental-
    crawl primitive (Common Crawl publishes exactly this delta between
    monthly snapshots; the reference can only crawl from scratch, its
    visited-set has no notion of content change).

    Inputs are (key, content-fingerprint) projections — fingerprint the
    text BEFORE the join so the shuffle carries (url, long) pairs, never
    page bodies. One full outer join hash-partitioned on the key; both
    sides prune to two columns at the scan.
    """
    o = old.select(F.col(key_col).alias("url"), F.col(fp_col).alias("__old"))
    n = new.select(F.col(key_col).alias("url"), F.col(fp_col).alias("__new"))
    j = o.join(n, "url", "full_outer")
    status = (
        F.when(F.col("__old").isNull(), F.lit("added"))
        .when(F.col("__new").isNull(), F.lit("removed"))
        .when(F.col("__old") == F.col("__new"), F.lit("same"))
        .otherwise(F.lit("changed"))
    )
    return j.select("url", status.alias("status"))
