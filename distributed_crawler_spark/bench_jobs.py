"""Benchmark jobs for the frontier-throughput north metric.

``frontier_round_job`` is the round-candidate scheduling pipeline at an
amplified scale: explode candidate links → normalize (native) → within-
round dedup → ``admit`` (URL-seen anti-join → robots broadcast join →
salted per-host budget window). Throughput = candidate URLs in / wall
seconds — "URLs scheduled+deduped/sec" per BASELINE.json.

Amplification replicates the arithmetic corpus model ``amp`` times with
re-derived doc ids, so the job's size scales linearly while keeping the
mega-domain skew (40% of URLs on host 0) that the salted window must
absorb.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus import HOST_MOD, LINK_COEFFS, MEGA_LT, MEGA_MOD
from .functions.urls import normalize_url
from .operators.politeness import admit


def _amplified_pages(spark: SparkSession, sf_dir: str, amp: int) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id"
    )
    n = docs.count()
    # the source table is a single small file (1 input split) — without an
    # explicit repartition the amplification explode would run on one task
    # and serialize the whole job; at cluster scale the corpus arrives
    # pre-bucketed, this models that
    par = spark.sparkContext.defaultParallelism * 2
    amped = docs.repartition(par).withColumn(
        "k", F.explode(F.sequence(F.lit(0), F.lit(amp - 1)))
    )
    d = (F.col("doc_id") + F.col("k") * n).alias("d")
    host_id = F.when(F.col("d") % MEGA_MOD < MEGA_LT, F.lit(0)).otherwise(
        F.col("d") % HOST_MOD
    )
    return (
        amped.select(d)
        .select(
            F.col("d"),
            host_id.alias("host_id"),
            F.lit(n * amp).alias("n_total"),
        )
        .select(
            "d",
            F.concat(F.lit("h"), F.col("host_id").cast("string"), F.lit(".example.com")).alias("host"),
            F.concat(
                F.lit("https://h"), F.col("host_id").cast("string"),
                F.lit(".example.com/p/"), F.col("d").cast("string"),
            ).alias("url"),
            "n_total",
        )
    )


def frontier_round_job(
    spark: SparkSession, sf_dir: str, amp: int = 32, budget: int = 100
) -> dict:
    """One frontier scheduling round at amplified scale. Returns counts +
    wall seconds."""
    pages = _amplified_pages(spark, sf_dir, amp)

    # candidate links: 3 per page with noise (trailing slash / fragment)
    # so normalization does real work
    d = F.col("d")
    n = F.col("n_total")
    targets = F.array(*[(F.lit(a) * d + F.lit(b)) % n for a, b in LINK_COEFFS])
    cand_raw = pages.select(F.explode(targets).alias("t")).select(
        F.concat(
            F.lit("https://h"),
            F.when(F.col("t") % MEGA_MOD < MEGA_LT, F.lit(0))
            .otherwise(F.col("t") % HOST_MOD)
            .cast("string"),
            F.lit(".example.com/p/"),
            F.col("t").cast("string"),
            # deterministic noise: 1/3 trailing slash, 1/3 fragment
            F.when(F.col("t") % 3 == 0, F.lit("/"))
            .when(F.col("t") % 3 == 1, F.lit("#frag"))
            .otherwise(F.lit("")),
        ).alias("raw_url")
    )

    # "seen" = 20% of the corpus already scheduled
    seen = pages.filter(d % 5 == 0).select("url")

    robots = (
        pages.select(F.col("host")).distinct()
        .filter(F.regexp_extract(F.col("host"), r"^h(\d+)", 1).cast("int") % 7 == 3)
        .select("host", F.lit("/p/1").alias("path_prefix"))
    )

    t0 = time.monotonic()
    cand = (
        cand_raw.select(normalize_url(F.col("raw_url")).alias("url"))
        .distinct()
        .withColumn(
            "host", F.regexp_extract(F.col("url"), r"^https://([^/]*)", 1)
        )
    )
    scheduled = admit(cand, budget, seen=seen, robots=robots)
    n_scheduled = scheduled.count()
    wall = time.monotonic() - t0

    n_candidates = 3 * pages.count()
    return {
        "amp": amp,
        "n_candidates": n_candidates,
        "n_scheduled": n_scheduled,
        "seconds": round(wall, 3),
        "urls_per_sec": round(n_candidates / wall, 1),
    }


def crawl_index_round_bench_job(
    spark: SparkSession,
    corpus_dir: str,
    amp: int = 2,
    budget: int = 100,
    max_pages: int | None = None,
) -> dict:
    """The reference's FULL per-page pipeline as one bounded job:
    fetch → parse (crawler_node.py:86-129) → link scheduling
    (master_node.py:315-448) → stemmed postings build
    (indexer_node.py:75-94,181-225). This is the north-metric job for
    scaling runs: the indexing stage is the CPU-dominant part of the
    real system (NLTK-path tokenize+stem per token), exactly as in the
    reference where the Whoosh indexer was the slow node.

    One combined Arrow UDF produces (links, terms) per page; the result
    is persisted (the in-memory analog of the scheduler's extracted-table
    materialization barrier) so both the frontier branch and the postings
    branch consume a single parse+stem evaluation."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    from .functions.extract import parse_page_py
    from .functions.text import process_text_py

    schema = StructType(
        [
            StructField("links", ArrayType(StringType())),
            StructField("terms", ArrayType(StringType())),
        ]
    )

    # no type hints: `from __future__ import annotations` stringifies them
    # and the local `pd` alias isn't resolvable by the hint inspector
    @pandas_udf(schema)
    def parse_index_udf(html, url):
        links, terms = [], []
        for h, u in zip(html, url):
            d = parse_page_py(
                bytes(h).decode("utf-8", "ignore") if h is not None else None, u
            )
            links.append(d["links"])
            terms.append(process_text_py(d["text"]))
        return pd.DataFrame({"links": links, "terms": terms}, copy=False)

    parse_index = parse_index_udf.asNondeterministic()

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    robots = spark.read.parquet(os.path.join(corpus_dir, "robots.parquet"))
    par = spark.sparkContext.defaultParallelism * 2

    base = pages.select("url", "html")
    if max_pages is not None:
        base = base.limit(max_pages)
    pending = (
        base.repartition(par)
        .withColumn("k", F.explode(F.sequence(F.lit(0), F.lit(amp - 1))))
        .select(
            F.concat(F.col("url"), F.lit("?k="), F.col("k").cast("string")).alias("url"),
            "html",
            "k",
        )
    )

    t0 = time.monotonic()
    parsed = pending.select(
        "url", "k", parse_index(F.col("html"), F.col("url")).alias("p")
    ).persist()

    # branch 1: postings (term, url, tf) — the inverted index build
    postings = (
        parsed.select("url", F.explode(F.col("p.terms")).alias("term"))
        .groupBy("term", "url")
        .agg(F.count("*").alias("tf"))
    )
    n_postings = postings.count()

    # branch 2: frontier scheduling
    links = parsed.select(
        "k", F.explode(F.col("p.links")).alias("base_link")
    ).select(
        F.concat(F.col("base_link"), F.lit("?k="), F.col("k").cast("string")).alias("url")
    )
    cand = links.distinct().withColumn(
        "host", F.regexp_extract(F.col("url"), r"^https://([^/]*)", 1)
    )
    scheduled = admit(cand, budget, seen=pending, robots=robots)
    n_scheduled = scheduled.count()
    wall = time.monotonic() - t0
    parsed.unpersist()

    n_pages = pending.count()
    return {
        "amp": amp,
        "n_pages": n_pages,
        "n_scheduled": n_scheduled,
        "n_postings": n_postings,
        "seconds": round(wall, 3),
        "urls_per_sec": round(n_pages / wall, 1),
    }
