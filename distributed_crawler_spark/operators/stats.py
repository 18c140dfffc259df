"""Monitoring / dashboard analytics — every Flask endpoint of the
reference's dashboard becomes one aggregate (SURVEY.md §2.5, §3.3).

Reference semantics reproduced (each was a full DynamoDB scan + Python
loop; here they're pushed-down parquet scans + hash aggregates):
  * status counts        — dashboard.py:377-417
  * domain top-10        — dashboard.py:525-569
  * hourly crawl history — dashboard.py:419-523 (hour bucket + zero-fill)
  * crawl rate (per min) — dashboard.py:578-615 (last-hour count / 60)
  * error rate           — monitoring.py:444-449 (failed/total·100)
  * latest heartbeat     — monitoring.py:494-525 (group-by-latest per key)
  * row counts           — dashboard.py:740
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def status_counts(df: DataFrame, status_col: str = "status") -> DataFrame:
    return df.groupBy(F.col(status_col).alias("status")).agg(
        F.count("*").alias("n")
    )


def top_domains(frontier: DataFrame, host_col: str = "host", k: int = 10) -> DataFrame:
    return (
        frontier.groupBy(F.col(host_col).alias("host"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.col("host"))
        .limit(k)
    )


def hourly_history(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Events per hour with zero-filled gaps over the observed span
    (dashboard.py:419-523 zero-fills 24h; here: min..max of the data via a
    sequence() join — no driver-side loop)."""
    counted = df.groupBy(F.date_trunc("hour", F.col(ts_col)).alias("hour")).agg(
        F.count("*").alias("n")
    )
    span = df.agg(
        F.date_trunc("hour", F.min(ts_col)).alias("lo"),
        F.date_trunc("hour", F.max(ts_col)).alias("hi"),
    )
    hours = span.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    return (
        hours.join(counted, "hour", "left")
        .select("hour", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
        .orderBy("hour")
    )


def crawl_rate_per_minute(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Rows in the last hour of the data / 60 (dashboard.py:578-615 uses
    wall-clock now(); here the anchor is max(ts) so the result is
    deterministic)."""
    anchor = df.agg(F.max(ts_col).alias("hi"))
    return (
        df.crossJoin(F.broadcast(anchor))
        .filter(F.col(ts_col) >= F.col("hi") - F.expr("INTERVAL 1 HOUR"))
        .agg(F.round(F.count("*") / 60.0, 4).alias("rate_per_min"))
    )


def error_rate(df: DataFrame, flag_col, total_alias: str = "error_rate_pct") -> DataFrame:
    """failed/total*100 (monitoring.py:444-449); flag_col is a boolean
    Column marking failures."""
    return df.agg(
        F.round(
            F.sum(F.when(flag_col, 1).otherwise(0)) * 100.0 / F.count("*"), 4
        ).alias(total_alias)
    )


def latest_per_key(df: DataFrame, key_col: str, ts_col: str, value_cols: list[str]) -> DataFrame:
    """Group-by-latest (heartbeat upsert, monitoring.py:494-525):
    max_by on the timestamp, deterministic."""
    aggs = [F.max_by(c, F.col(ts_col)).alias(c) for c in value_cols]
    return df.groupBy(key_col).agg(F.max(ts_col).alias(ts_col), *aggs)


def hll_cardinality(
    df: DataFrame, col: str, p: int = 10, id_alias: str = "hll_estimate"
) -> DataFrame:
    """HyperLogLog cardinality with EXPLICIT registers (Flajolet et al.
    2007) — the oracle-portable twin of approx_count_distinct for the
    URL-seen telemetry (SURVEY §2.5; dashboard.py:740's count presented
    as a sketch at frontier scale). Spark's builtin HLL++ sketch is an
    opaque binary whose estimate no other engine reproduces; this one is
    pure relational algebra over the portable 60-bit md5 hash
    (functions/hashing.py), so DuckDB re-derives the IDENTICAL estimate
    and the driver hash-compares it (plans/porter_sql.py round-6 theme:
    "not SQL-expressible" claims usually aren't true).

    Determinism at 100 TB: the register aggregation is an exact integer
    max/sum (2^(R-rho) as BIGINT — no double summation, so partial-
    aggregate order can't wiggle the estimate); the only float ops are
    one division and one ln on the final 1-row scalars. Shuffle is one
    hash-agg over at most 2^p register rows after map-side combine."""
    m = 1 << p
    w_bits = 60 - p
    r = w_bits + 1
    alpha_num = (0.7213 / (1 + 1.079 / m)) * m * m * float(1 << r)
    from ..functions.hashing import phash

    h = phash(F.col(col))
    idx = h.bitwiseAND(F.lit(m - 1))
    w = F.shiftrightunsigned(h, p)
    rho = F.lit(r) - F.when(w == 0, F.lit(0)).otherwise(F.length(F.bin(w)))
    regs = (
        df.select(idx.alias("ridx"), rho.cast("int").alias("rho"))
        .groupBy("ridx")
        .agg(F.max("rho").alias("mj"))
    )
    aggd = regs.agg(
        F.sum(F.pow(F.lit(2.0), F.lit(r) - F.col("mj")).cast("long")).alias(
            "s_present"
        ),
        F.count("*").alias("n_regs"),
    )
    nrows = df.agg(F.count("*").alias("n_rows"))
    s_total = F.col("s_present") + (F.lit(m) - F.col("n_regs")) * F.lit(1 << r)
    v = (F.lit(m) - F.col("n_regs")).cast("long")
    e_raw = F.lit(alpha_num) / s_total.cast("double")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(e_raw)
    return (
        aggd.crossJoin(F.broadcast(nrows))
        .select(
            F.round(est, 4).alias(id_alias),
            F.col("n_regs").cast("long").alias("n_registers_set"),
            v.alias("n_zero_registers"),
            F.col("n_rows").cast("long").alias("n_rows"),
        )
    )


def hll_cardinality_sql(src_rel: str, expr: str, p: int = 10) -> str:
    """DuckDB mirror of hll_cardinality over ``{src_rel}.{expr}`` —
    byte-for-byte the same register math (same constants embedded from
    the same Python floats)."""
    from ..functions.hashing import phash_sql

    m = 1 << p
    w_bits = 60 - p
    r = w_bits + 1
    alpha_num = (0.7213 / (1 + 1.079 / m)) * m * m * float(1 << r)
    return f"""
hraw AS (SELECT {phash_sql(expr)} AS h FROM {src_rel}),
hregs AS (
  SELECT h & {m - 1} AS ridx,
         ({r} - CASE WHEN (h >> {p}) = 0 THEN 0
                     ELSE length(bin(h >> {p})) END) AS rho
  FROM hraw),
hmax AS (SELECT ridx, max(rho) AS mj FROM hregs GROUP BY ridx),
hagg AS (SELECT sum((1::BIGINT << ({r} - mj)))::BIGINT AS s_present,
                count(*) AS n_regs FROM hmax),
hn AS (SELECT count(*) AS n_rows FROM hraw),
hest AS (
  SELECT (s_present + ({m} - n_regs) * (1::BIGINT << {r})) AS s_total,
         ({m} - n_regs)::BIGINT AS v, n_regs, n_rows
  FROM hagg, hn)
SELECT round(CASE WHEN ({alpha_num!r} / s_total::DOUBLE) <= {2.5 * m!r} AND v > 0
                  THEN {float(m)!r} * ln({float(m)!r} / v::DOUBLE)
                  ELSE {alpha_num!r} / s_total::DOUBLE END, 4) AS hll_estimate,
       n_regs::BIGINT AS n_registers_set,
       v AS n_zero_registers,
       n_rows::BIGINT AS n_rows
FROM hest
"""


def host_trap_stats(
    pages: DataFrame,
    content_key,
    host_col: str = "host",
    url_col: str = "url",
    path_col: str = "path",
    min_urls: int = 20,
    max_dup_ratio: float = 1.5,
) -> DataFrame:
    """Crawler-trap detection (Heritrix/Nutch-style): per host, compare
    how many URLs were seen against how much DISTINCT content they serve
    and how many URL *templates* (path with digit runs collapsed) they
    span. A trap host mints unbounded URLs — session ids, calendars,
    faceted search — over a tiny content set; a frontier that keeps
    scheduling it starves real hosts long before any budget fires. The
    reference has no such guard (its per-domain cap is the only defense,
    master_node.py:340-343); at 10^10 URLs a cap alone still wastes the
    whole cap on each trap.

    ``content_key`` is a Column: the page-content identity (hash of the
    body, simhash, etc.). Flag = many URLs AND URLs-per-distinct-content
    ≥ max_dup_ratio.

    One hash aggregate keyed on host; both distinct counts are two-phase
    partial aggregations (no distinct-explosion: Spark plans
    count(DISTINCT x) per group as re-aggregation on (host, x) partials),
    so the mega-host stays map-side-combined. Output is per-host (≤ #hosts
    rows) — the frontier joins it back as a broadcast gate.
    """
    template = F.regexp_replace(F.col(path_col), "[0-9]+", "N")
    per_host = (
        pages.select(
            F.col(host_col).alias("host"),
            F.col(url_col).alias("url"),
            template.alias("__tpl"),
            content_key.alias("__ck"),
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("__ck").alias("n_contents"),
            F.countDistinct("__tpl").alias("n_templates"),
        )
    )
    ratio = F.round(F.col("n_urls") / F.col("n_contents"), 4)
    return per_host.select(
        "host",
        "n_urls",
        "n_contents",
        "n_templates",
        ratio.alias("dup_ratio"),
        (
            (F.col("n_urls") >= F.lit(min_urls))
            & (ratio >= F.lit(float(max_dup_ratio)))
        ).alias("trap_flag"),
    )


def dust_rule_mining(
    pages: DataFrame,
    rules: list[tuple[str, str, str]],
    url_col: str = "url",
    ck_col: str = "ck",
    min_support: int = 2,
    min_precision: float = 0.95,
) -> DataFrame:
    """DUST — "Different URLs with Similar Text" rule mining (Bar-Yossef
    et al., WWW 2007 / the DustBuster idea, restricted to a fixed rule
    grammar the way production crawlers deploy it): given crawled pages
    with a content key, VALIDATE each candidate URL-rewrite rule (strip
    query string, strip /index.html, strip trailing slash, ...) by
    counting, over every URL the rule rewrites, whether the rewritten
    URL was also crawled and served the SAME content (support) or
    DIFFERENT content (violation). Rules that hold become frontier-side
    canonicalizers — alias URLs are collapsed BEFORE fetch, the one
    dedup channel content hashing can never provide (it needs the fetch
    it would save). The reference normalizes scheme/fragment only
    (utils.py:15-36); it refetches every session-id alias.

    ``rules`` is (name, java_regex_pattern, replacement) — patterns
    should anchor so Spark's replace-all semantics equal replace-first.
    ``pages`` must be one row per url (post URL-dedup).

    Returns one row per rule: n_candidates (urls the rule rewrites),
    n_evidence (rewritten url also crawled), support, violations,
    rule_precision = support/n_evidence, valid.

    Scale shape: rule application is a map-only projection; the only
    shuffle is ONE url equi-join of the rewritten slice (urls a rule
    actually changes — a small fraction of the corpus) against the page
    table, then a k-row aggregate. Nothing pairwise, nothing content-
    sized in flight."""
    if not rules:
        raise ValueError("dust_rule_mining needs at least one candidate rule")
    base = pages.select(
        F.col(url_col).alias("__u"), F.col(ck_col).alias("__ck")
    )
    cands = None
    for name, pat, rep in rules:
        t = F.regexp_replace(F.col("__u"), pat, rep)
        c = base.select(
            F.lit(name).alias("rule"),
            F.col("__u").alias("src_url"),
            t.alias("dst_url"),
            F.col("__ck").alias("src_ck"),
        ).filter(F.col("dst_url") != F.col("src_url"))
        cands = c if cands is None else cands.unionByName(c)
    targets = base.select(
        F.col("__u").alias("dst_url"), F.col("__ck").alias("dst_ck")
    )
    ev = cands.join(targets, "dst_url", "left")
    agg = ev.groupBy("rule").agg(
        F.count("*").alias("n_candidates"),
        F.count("dst_ck").alias("n_evidence"),
        F.coalesce(
            F.sum((F.col("dst_ck") == F.col("src_ck")).cast("int")), F.lit(0)
        ).alias("support"),
        F.coalesce(
            F.sum(
                (F.col("dst_ck").isNotNull() & (F.col("dst_ck") != F.col("src_ck"))).cast("int")
            ),
            F.lit(0),
        ).alias("violations"),
    )
    prec = F.when(
        F.col("n_evidence") > 0,
        F.round(F.col("support") / F.col("n_evidence"), 4),
    )
    return agg.select(
        "rule",
        "n_candidates",
        "n_evidence",
        "support",
        "violations",
        prec.alias("rule_precision"),
        F.coalesce(
            (F.col("support") >= min_support) & (prec >= min_precision),
            F.lit(False),
        ).alias("valid"),
    )
