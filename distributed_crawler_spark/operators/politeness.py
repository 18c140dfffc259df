"""Robots.txt enforcement and per-host politeness budgets.

Reference semantics reproduced:
  * robots allow/deny — /root/reference/src/common/utils.py:53-66
    (prefix rules per host; **default-allow** when the host has no rules /
    robots fetch fails) and the behavioral spec in
    src/tests/test_crawl_quality.py:195-220 (Disallow path prefixes).
  * per-domain budget — /root/reference/src/master/master_node.py:340-343,
    439-441: at most max_urls_per_domain URLs ever enqueued per host,
    consumed in crawl order; URL #101 is dropped permanently.

Scale design:
  * robots rules are a small per-host table → **broadcast join** (no
    shuffle of the 10^10-row candidate set).
  * the budget is a per-host top-k ranking window. A mega-domain holding
    40% of candidates would make one window partition dominate, so we use
    **two-phase salted ranking**: rank within (host, salt) first — any URL
    ranked > budget inside its salt bucket cannot be in the host's global
    top-budget — then the exact window runs over ≤ SALT_BUCKETS × budget
    survivors per host. No partition processes more than ~budget×k rows.

``admit`` composes the URL-seen anti-join, robots and the budget into
the one admission gate every frontier builder calls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# salt sub-partitions per host in phase 1 of the budget window
SALT_BUCKETS = 16


def robots_filter(
    candidates: DataFrame,
    robots: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
) -> DataFrame:
    """Drop candidate URLs disallowed by the per-host prefix rules.

    ``robots`` is (host, path_prefix) disallow rows. Default-allow: hosts
    with no rules pass (utils.py:64-66). A prefix of '/' disallows the
    entire host.

    Zero-shuffle: rules are pre-aggregated to one array per host (tiny),
    broadcast, and applied with a map-side array `exists` — the candidate
    side never moves. (A join producing one output row per matching rule
    would need a dedup shuffle over the 10^10-row candidate set.)
    """
    rules_per_host = robots.groupBy("host").agg(
        F.collect_list("path_prefix").alias("__prefixes")
    ).withColumnRenamed("host", host_col)
    path = F.regexp_replace(F.col(url_col), r"^[a-z]+://[^/]*", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    joined = candidates.join(F.broadcast(rules_per_host), on=host_col, how="left")
    denied = F.col("__prefixes").isNotNull() & F.exists(
        F.col("__prefixes"), lambda p: path.startswith(p)
    )
    return joined.filter(~denied).select(*candidates.columns)


def salted_prefilter(
    candidates: DataFrame,
    max_urls_per_domain: int,
    host_col: str = "host",
    order_col: str = "url",
    salt_buckets: int = SALT_BUCKETS,
    order_cols: list | None = None,
) -> DataFrame:
    """Phase 1 of the budget window: rank within (host, salt) and keep
    rank ≤ budget. Any URL ranked > budget inside its salt bucket cannot
    be in the host's global top-budget, so this caps the rows reaching
    the exact per-host window at salt_buckets × budget PER HOST — a
    mega-domain with 10^8 candidate URLs contributes at most 16×budget
    rows to the phase-2 partition (the skew bound the north_rule's
    'no partition > 2× median task time' requires).

    ``order_cols`` overrides the within-host total order (e.g.
    [score.desc(), url] for priority crawling); the phase-1 bound holds
    for ANY total order as long as phase 2 uses the same one, because a
    row's rank within its salt subset is ≤ its global host rank.
    ``order_col`` stays the unique salt key either way."""
    ordering = order_cols if order_cols is not None else [order_col]
    salted = candidates.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(order_col)), F.lit(salt_buckets))
    )
    w_salt = Window.partitionBy(host_col, "__salt").orderBy(*ordering)
    return (
        salted.withColumn("__srn", F.row_number().over(w_salt))
        .filter(F.col("__srn") <= max_urls_per_domain)
        .drop("__salt", "__srn")
    )


def host_budget_filter(
    candidates: DataFrame,
    prior_host_counts: DataFrame | None,
    max_urls_per_domain: int,
    host_col: str = "host",
    order_col: str = "url",
    salt_buckets: int = SALT_BUCKETS,
    order_cols: list | None = None,
) -> DataFrame:
    """Keep, per host, the first (budget − already_consumed) candidates in
    canonical order (ascending ``order_col`` — the defined crawl order
    within a round, SURVEY.md §2.7 frontier priority), or in the custom
    total order ``order_cols`` when given (e.g. PageRank-descending for
    importance-first budget consumption — frontier_priority).

    ``prior_host_counts`` is (host, n_scheduled) consumed so far across
    earlier rounds (master_node.py:340-343 counter); None ⇒ zero.

    Two-phase salted top-k (see module docstring) keeps the mega-domain
    window partition bounded.
    """
    out_cols = candidates.columns
    pre = salted_prefilter(
        candidates, max_urls_per_domain, host_col, order_col, salt_buckets,
        order_cols=order_cols,
    )

    # phase 2: exact per-host ranking over the bounded survivor set
    ordering = order_cols if order_cols is not None else [order_col]
    w_host = Window.partitionBy(host_col).orderBy(*ordering)
    ranked = pre.withColumn("host_budget_rank", F.row_number().over(w_host))
    if prior_host_counts is not None:
        prior = prior_host_counts.select(
            F.col("host").alias(host_col), F.col("n_scheduled").alias("__prior")
        )
        # no broadcast hint: the counts table is per-HOST (10^8+ rows at
        # web scale — over any broadcast limit); ranked is already
        # hash-partitioned by host from the phase-2 window, so the join
        # co-partitions, and AQE still broadcasts when it is truly small
        ranked = ranked.join(prior, host_col, "left").withColumn(
            "__prior", F.coalesce(F.col("__prior"), F.lit(0))
        )
    else:
        ranked = ranked.withColumn("__prior", F.lit(0))
    return (
        ranked.filter(
            F.col("host_budget_rank") + F.col("__prior") <= max_urls_per_domain
        )
        .select(*out_cols, "host_budget_rank")
    )


def admit(
    candidates: DataFrame,
    budget: int,
    *,
    seen: DataFrame | None = None,
    robots: DataFrame | None = None,
    prior: DataFrame | None = None,
    order_cols: list | None = None,
) -> DataFrame:
    """The admission gate of every frontier: the reference's
    ``_enqueue_url`` (master_node.py:315-448) after its depth gate, as
    three set operations in its order:

      1. URL-seen dedup — an exact ``left_anti`` join on url against
         ``seen`` (master_node.py:336-339,352-391);
      2. robots — ``robots_filter`` against ``robots``;
      3. per-host budget — ``host_budget_filter`` keeping each host's
         first (budget − prior) candidates in ``order_cols`` order
         (url asc by default); ``prior`` is (host, n_scheduled).

    A step whose argument is None is skipped (no ``prior`` charges
    nothing). Returns the candidates' columns plus host_budget_rank."""
    if seen is not None:
        candidates = candidates.join(seen.select("url"), "url", "left_anti")
    if robots is not None:
        candidates = robots_filter(candidates, robots)
    return host_budget_filter(candidates, prior, budget, order_cols=order_cols)


def politeness_waves(
    scheduled: DataFrame,
    concurrent_per_host: int = 1,
    host_col: str = "host",
    rank_col: str = "host_budget_rank",
) -> DataFrame:
    """Within-round fetch waves — the batch analog of the reference's
    politeness delay (CRAWLER_DOWNLOAD_DELAY=1.0s + 1 concurrent request
    per host, crawler_node.py:239-240 / config.py:13-14): at most
    ``concurrent_per_host`` URLs of a host are fetched per wave, so a
    host with k scheduled URLs is spread over ceil(k / concurrent) waves.
    Executors process wave w for every host before wave w+1 (orderBy
    wave), which bounds per-host request concurrency exactly like the
    reference's per-domain delay queue.

    Pure column arithmetic over the already-computed budget rank — no
    extra shuffle."""
    wave = ((F.col(rank_col) - 1) / concurrent_per_host).cast("int")
    return scheduled.withColumn("wave", wave)


def crawl_delay_schedule(
    candidates: DataFrame,
    delay_ms,
    host_col: str = "host",
    order_col: str = "url",
    order_partitions: int = 32,
) -> DataFrame:
    """Crawl-delay-aware fetch timetable: for every candidate URL, its
    per-host fetch slot (0-based position in canonical order) and the
    earliest fetch time offset ``slot * delay_ms`` — the batch analog of
    a per-host delay queue honoring robots.txt ``Crawl-delay`` (the
    reference hardcodes one global CRAWLER_DOWNLOAD_DELAY, config.py:14;
    real crawlers honor the per-host directive, which is what makes the
    delay a *column*, not a constant).

    Unlike the budget window (host_budget_filter) this is an UNBOUNDED
    per-host enumeration — every URL gets a slot, so the salted top-k
    prefilter cannot bound the mega-host partition. Instead it reuses the
    crawl-order prefix-sum shape (scheduler.py:524-545): range-partition
    on (host, url) so each (partition, host) cell is a bounded contiguous
    slice of the host's order, rank locally inside the cell, then add the
    host's exclusive cell-count prefix (a window over the tiny
    cells-per-host table — ≤ #partitions rows per host). No single task
    ever ranks more than one range partition's worth of the mega-host.

    ``delay_ms`` is a Column evaluated against the candidate row (e.g. a
    robots-table join result or an arithmetic rule).
    """
    out_cols = candidates.columns
    base = (
        candidates
        .repartitionByRange(order_partitions, host_col, order_col)
        .withColumn("__pid", F.spark_partition_id())
    )
    w_cell = Window.partitionBy("__pid", host_col).orderBy(order_col)
    base = base.withColumn("__rk", F.row_number().over(w_cell))
    cells = base.groupBy("__pid", host_col).agg(F.count("*").alias("__n"))
    w_off = (
        Window.partitionBy(host_col)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = cells.select(
        "__pid", host_col, F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off")
    )
    # no broadcast hint: offsets is ~(#hosts + #partitions) rows — small
    # here, but per-HOST at web scale; both sides are already keyed on
    # (__pid, host), and AQE broadcasts when it is truly small
    return (
        base.join(offsets, ["__pid", host_col])
        .withColumn("slot", (F.col("__off") + F.col("__rk") - 1).cast("long"))
        .withColumn("delay_ms", delay_ms.cast("long"))
        .withColumn("fetch_offset_ms", (F.col("slot") * F.col("delay_ms")).cast("long"))
        .select(*out_cols, "slot", "delay_ms", "fetch_offset_ms")
    )


def blocklist_filter(
    candidates: DataFrame,
    blocked_domains: DataFrame,
    path_keywords: list[str] | None = None,
    url_col: str = "url",
    host_col: str = "host",
    max_suffix_labels: int = 4,
) -> DataFrame:
    """UT1/RefinedWeb-style URL blocklist gate — the curated adult/spam
    domain+keyword filter every Common-Crawl pipeline applies before (or
    instead of) content-based quality scoring (RefinedWeb §3.1, FineWeb).
    The reference has no notion of it: its frontier accepts any host the
    seed graph reaches (master_node.py's only gates are robots + budget).

    ``blocked_domains`` is a one-column (domain) table; an entry blocks
    the exact host AND every subdomain of it (UT1 list semantics).
    ``path_keywords`` block any URL whose path contains one of them.

    Scale shape — the candidate side NEVER shuffles: a UT1-class list is
    ~10^6 domains (a few tens of MB) → broadcast; parent-domain matching
    is decomposed into ``max_suffix_labels`` map-side equi-joins, one per
    label-suffix length (host 'a.b.example.com' probes 'a.b.example.com',
    'b.example.com', 'example.com', ...), instead of an un-joinable LIKE
    or an explode+regroup that would re-shuffle 10^10 rows on url. The
    keyword gate is one in-JVM array `exists` over a literal array.

    Returns the candidates with ``blocked_domain`` (the matching list
    entry, longest suffix wins, null if none), ``kw_blocked``, and
    ``allowed``; gate with ``.filter("allowed")``.
    """
    out_cols = candidates.columns
    labels = F.split(F.col(host_col), r"\.")
    out = candidates
    match_cols = []
    # probe range derived from the list's ACTUAL label-count span
    # (ADVICE r06: a fixed [2, max_suffix_labels] silently ignored
    # single-label entries and entries longer than the cap). The list is
    # broadcast-small by contract, so the 1-row min/max action is free;
    # an empty list keeps the default range (no probe can match anyway).
    # Collect contract: one global-aggregate row.
    span = blocked_domains.select(
        F.size(F.split(F.col(blocked_domains.columns[0]), r"\.")).alias("n")
    ).agg(F.min("n").alias("lo"), F.max("n").alias("hi")).collect()[0]
    k_lo = span["lo"] or 2
    k_hi = span["hi"] or max_suffix_labels
    for k in range(k_hi, k_lo - 1, -1):
        # the k-label suffix of the host, null when the host is shorter
        # (a k-label host is probed at exactly k..2, so nothing is missed)
        suffix = F.when(
            F.size(labels) >= k,
            F.array_join(F.slice(labels, -k, k), "."),
        )
        blk = blocked_domains.select(
            F.col(blocked_domains.columns[0]).alias(f"__blk_{k}")
        ).distinct()
        out = out.withColumn(f"__sfx_{k}", suffix).join(
            F.broadcast(blk),
            F.col(f"__sfx_{k}") == F.col(f"__blk_{k}"),
            "left",
        )
        match_cols.append(F.col(f"__blk_{k}"))
    path = F.regexp_replace(F.col(url_col), r"^[a-z]+://[^/]*", "")
    kw = F.lit(False)
    if path_keywords:
        kw = F.exists(
            F.array(*[F.lit(k) for k in path_keywords]),
            lambda k: F.contains(path, k),
        )
    return (
        out.withColumn("blocked_domain", F.coalesce(*match_cols, F.lit(None).cast("string")))
        .withColumn("kw_blocked", kw)
        .withColumn(
            "allowed", F.col("blocked_domain").isNull() & ~F.col("kw_blocked")
        )
        .select(*out_cols, "blocked_domain", "kw_blocked", "allowed")
    )
