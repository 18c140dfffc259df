"""Crawl BFS over the arithmetic corpus model — the oracle-checkable twin
of the HTML-corpus scheduler (operators/scheduler.py).

Same gates as the reference's _enqueue_url (master_node.py:315-448):
depth → seen-dedup → robots → host budget (consumed in canonical url-asc
order), through the scheduler's gate, ``politeness.admit``; the "fetch"
is the links equi-join. The DuckDB oracle is the same BFS unrolled into
per-round CTEs by ``bfs_sql``.

Robots is applied once, to the page set, not once per round, so each
round admits with ``seen`` and the budget only. That is
exact: whether robots admit a URL depends only on its host and path, so
the gate is a per-row filter that commutes with the link join and the
URL-seen anti-join. The inputs are built from one pages frame and
checkpointed, and each round plans against small checkpoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus import (
    HOST_MOD,
    LINK_COEFFS,
    MEGA_LT,
    MEGA_MOD,
    _doc_count,
    links_of_pages,
    model_pages_df,
    model_sql_ctes,
    robots_of_pages,
    seeds_of_pages,
)
from ..operators.politeness import admit, robots_filter


def model_crawl_inputs(
    spark: SparkSession, sf_dir: str, budget: int, with_links: bool = True
) -> tuple[DataFrame, DataFrame | None]:
    """Local checkpoints of the round-0 schedule (url, host) — seeds gated
    by robots and the host budget — and, if ``with_links``, of the link
    graph cut to robots-admissible targets (src_url, url, host, doc_id)."""
    pages = model_pages_df(spark, sf_dir)
    admissible = robots_filter(
        pages.select("url", "host", "doc_id"), robots_of_pages(pages)
    )
    if with_links:  # read by the seed and the link joins: gate it once
        admissible = admissible.localCheckpoint()
    sched0 = (
        admit(seeds_of_pages(admissible), budget)
        .select("url", "host")
        .localCheckpoint()
    )
    if not with_links:
        return sched0, None
    links = (
        links_of_pages(pages, _doc_count(spark, sf_dir))
        .select("src_url", F.col("dst_url").alias("url"))
        .join(admissible, "url")
    )
    return sched0, links.localCheckpoint()


def fresh_targets(links: DataFrame, frontier: DataFrame) -> DataFrame:
    """One BFS expansion: the distinct targets (url, host, doc_id) linked
    from ``frontier``'s urls. URL-seen dedup is ``admit``'s."""
    return (
        links.join(frontier.select(F.col("url").alias("src_url")), "src_url")
        .select("url", "host", "doc_id")
        .distinct()
    )


def host_counts(sched: DataFrame) -> DataFrame:
    """(host, n_scheduled): the budget already consumed per host."""
    return sched.groupBy("host").agg(F.count("*").cast("long").alias("n_scheduled"))


def model_bfs(
    spark: SparkSession, sf_dir: str, max_depth: int = 2, budget: int = 100
) -> DataFrame:
    """Scheduled set (url, host, depth) of a BFS crawl over the arithmetic
    link graph."""
    sched0, links = model_crawl_inputs(spark, sf_dir, budget)
    sched = sched0.withColumn("depth", F.lit(0))
    for rnd in range(1, max_depth + 1):
        # `sched` is the whole round state: the frontier is its last
        # depth, the seen set is all of it, the budget used its host counts
        fresh = fresh_targets(links, sched.filter(F.col("depth") == rnd - 1))
        cur = admit(fresh, budget, seen=sched, prior=host_counts(sched))
        sched = sched.unionByName(cur.select("url", "host", F.lit(rnd).alias("depth")))
        if rnd < max_depth:  # the last round stays lazy for the caller
            sched = sched.localCheckpoint()
    return sched


def _round0_cte(budget: int) -> str:
    """sched0 CTE: seeds gated by robots + host budget (canonical url-asc
    consumption) — shared by bfs_sql and retry_sql."""
    return f"""
sched0 AS (
  SELECT c.url, c.host, 0 AS depth FROM (
    SELECT p.url, p.host,
           row_number() OVER (PARTITION BY p.host ORDER BY p.url) AS rn
    FROM seeds s JOIN pages p USING (url)
    WHERE NOT EXISTS (SELECT 1 FROM robots r
                      WHERE r.host = p.host AND starts_with(p.path, r.path_prefix))
  ) c WHERE c.rn <= {budget}
)"""


def html_round0_sql(budget: int = 100) -> str:
    """crawl_html_round0's next_pending as DuckDB SQL — an INDEPENDENT
    re-derivation from the corpus GENERATOR's formulas, not from the
    HTML. html_pages_df embeds exactly three scheme-valid links per page
    (corpus.py): absolute to target t1 = (2d+1) % n, a RELATIVE path to
    t2 = (3d+7) % n that resolves against the PARENT page's host
    (dangling when host(t2) != host(d) — which is why candidates here
    derive host/path from the URL string, never by joining pages), and
    t3 = (5d+13) % n carrying a #fragment the parser must strip;
    javascript:/mailto: links must be dropped. If the Arrow parse UDF
    missed a link, mis-resolved the relative, kept the fragment, or the
    scheduler mis-gated dedup/robots/budget, this hash check fails —
    the 'HTML parsing is not SQL-expressible' limitation only means the
    oracle cannot parse ARBITRARY html, not that the round's output is
    unpredictable."""
    model = model_sql_ctes().strip().rstrip(",")
    a1, b1 = LINK_COEFFS[0]
    a2, b2 = LINK_COEFFS[1]
    a3, b3 = LINK_COEFFS[2]

    def url_of(t: str) -> str:
        return (
            f"'https://h' || (CASE WHEN {t} % {MEGA_MOD} < {MEGA_LT} THEN 0 "
            f"ELSE {t} % {HOST_MOD} END) || '.example.com/p/' || ({t})"
        )

    return f"""WITH {model},
sched0 AS (
  SELECT c.url, c.host, c.host_id, c.doc_id FROM (
    SELECT p.url, p.host, p.host_id, p.doc_id,
           row_number() OVER (PARTITION BY p.host ORDER BY p.url) AS rn
    FROM seeds s JOIN pages p USING (url)
    WHERE NOT EXISTS (SELECT 1 FROM robots r
                      WHERE r.host = p.host AND starts_with(p.path, r.path_prefix))
  ) c WHERE c.rn <= {budget}
),
hlinks AS (
  SELECT l.dst AS url
  FROM sched0 s, nn,
  LATERAL (SELECT unnest([
    {url_of(f'({a1}*s.doc_id+{b1}) % nn.n')},
    'https://h' || s.host_id || '.example.com/p/' || (({a2}*s.doc_id+{b2}) % nn.n),
    {url_of(f'({a3}*s.doc_id+{b3}) % nn.n')}
  ]) AS dst) l
),
cand AS (
  SELECT c.url,
         regexp_extract(c.url, '^[a-z]+://([^/]+)', 1) AS host,
         regexp_replace(c.url, '^[a-z]+://[^/]*', '') AS path
  FROM (SELECT DISTINCT url FROM hlinks) c
  WHERE NOT EXISTS (SELECT 1 FROM sched0 x WHERE x.url = c.url)
),
fresh AS (
  SELECT url, host,
         row_number() OVER (PARTITION BY host ORDER BY url) AS rn
  FROM cand
  WHERE NOT EXISTS (SELECT 1 FROM robots r
                    WHERE r.host = cand.host AND starts_with(cand.path, r.path_prefix))
)
SELECT url, host, 1 AS depth, 0 AS retry_count
FROM fresh WHERE rn <= {budget}
"""


def anchor_links_cte() -> str:
    """``alinks`` CTE — every (src doc, target url, anchor text) triple
    of the generated web, re-derived from the generator's arithmetic
    link formulas (see anchor_texts_sql for the per-anchor semantics).
    Requires the model CTEs (pages, nn) in scope."""
    a1, b1 = LINK_COEFFS[0]
    a2, b2 = LINK_COEFFS[1]
    a3, b3 = LINK_COEFFS[2]

    def url_of(t: str) -> str:
        return (
            f"'https://h' || (CASE WHEN {t} % {MEGA_MOD} < {MEGA_LT} THEN 0 "
            f"ELSE {t} % {HOST_MOD} END) || '.example.com/p/' || ({t})"
        )

    return f"""alinks AS (
  SELECT p.doc_id AS src, {url_of(f'({a1}*p.doc_id+{b1}) % nn.n')} AS url,
         'next' AS anchor
  FROM pages p, nn
  UNION ALL
  SELECT p.doc_id,
         'https://h' || p.host_id || '.example.com/p/' || (({a2}*p.doc_id+{b2}) % nn.n),
         'rel'
  FROM pages p, nn
  UNION ALL
  SELECT p.doc_id, {url_of(f'({a3}*p.doc_id+{b3}) % nn.n')}, 'frag'
  FROM pages p, nn
)"""


def anchor_texts_sql() -> str:
    """Inbound anchor-text aggregation as DuckDB SQL — like
    html_round0_sql, an INDEPENDENT re-derivation from the corpus
    GENERATOR's formulas rather than from the HTML: every page embeds
    anchors 'next' (absolute t1 = (2d+1)%n), 'rel' (relative /p/t2,
    t2 = (3d+7)%n, resolving against the PARENT host), 'frag'
    (t3 = (5d+13)%n with a fragment the parser must strip), plus
    javascript:/mailto: anchors that must be dropped.  A parser that
    attributes anchor text to the wrong href, loses an empty/duplicate
    anchor, or mis-resolves the relative target hash-fails here."""
    model = model_sql_ctes().strip().rstrip(",")
    return f"""WITH {model},
{anchor_links_cte()}
SELECT url,
       count(*)::BIGINT AS n_inlinks,
       count(DISTINCT src)::BIGINT AS n_sources,
       array_to_string(list_sort(list_distinct(list(anchor))), ' ') AS anchors
FROM alinks
GROUP BY url
ORDER BY url
"""


def bfs_sql(max_depth: int = 2, budget: int = 100) -> str:
    """The identical BFS as DuckDB SQL (rounds unrolled into CTEs)."""
    ctes = [model_sql_ctes().strip().rstrip(",")]
    ctes.append(
        _round0_cte(budget)
        + """,
seen0 AS (SELECT url, host, depth FROM sched0)"""
    )
    for rnd in range(1, max_depth + 1):
        prev, seen_prev = f"sched{rnd-1}", f"seen{rnd-1}"
        ctes.append(
            f"""
cand{rnd} AS (SELECT DISTINCT l.dst_url AS url
              FROM links l JOIN {prev} s ON l.src_url = s.url),
fresh{rnd} AS (
  SELECT p.url, p.host,
         row_number() OVER (PARTITION BY p.host ORDER BY p.url) AS rn
  FROM cand{rnd} c JOIN pages p ON p.url = c.url
  WHERE NOT EXISTS (SELECT 1 FROM {seen_prev} x WHERE x.url = c.url)
    AND NOT EXISTS (SELECT 1 FROM robots r
                    WHERE r.host = p.host AND starts_with(p.path, r.path_prefix))
),
prior{rnd} AS (SELECT host, count(*) AS n FROM {seen_prev} GROUP BY host),
sched{rnd} AS (
  SELECT f.url, f.host, {rnd} AS depth
  FROM fresh{rnd} f LEFT JOIN prior{rnd} pr ON pr.host = f.host
  WHERE f.rn + coalesce(pr.n, 0) <= {budget}
),
seen{rnd} AS (SELECT * FROM {seen_prev} UNION ALL SELECT * FROM sched{rnd})"""
        )
    body = ",".join(ctes)
    return f"WITH {body}\nSELECT url, host, depth FROM seen{max_depth}"


def model_retry(
    spark: SparkSession,
    sf_dir: str,
    budget: int = 100,
    max_retries: int = 3,
    fail_mod: int = 5,
) -> DataFrame:
    """Failed-fetch retry loop over the model round-0 frontier
    (crawler_node.py:160,887-916 semantics as the scheduler implements
    them): the fetch of ``url`` transiently fails while
    retry_count < md5-hash(url) % fail_mod, failures re-enter the next
    attempt until max_retries; urls with fail_times > max_retries end
    'failed'. Returns (url, host, status, retry_count) — the final
    frontier row per url. Iterative DataFrame loop, all native."""
    # a checkpoint: the attempt loop below reads it once per attempt
    pend, _ = model_crawl_inputs(spark, sf_dir, budget, with_links=False)
    # portable deterministic hash (== DuckDB ('0x'||substr(md5(u),1,15))::BIGINT)
    ft = (
        F.conv(F.substring(F.md5(F.col("url")), 1, 15), 16, 10).cast("long")
        % fail_mod
    )
    cur = pend.withColumn("retry_count", F.lit(0))
    finished: DataFrame | None = None
    for k in range(max_retries + 1):
        fails_now = F.col("retry_count") < ft
        ok = cur.filter(~fails_now).withColumn("status", F.lit("completed"))
        if k < max_retries:
            done = ok
            cur = cur.filter(fails_now).withColumn(
                "retry_count", F.col("retry_count") + F.lit(1)
            )
        else:
            done = ok.unionByName(
                cur.filter(fails_now).withColumn("status", F.lit("failed"))
            )
        finished = done if finished is None else finished.unionByName(done)
    return finished.select("url", "host", "status", "retry_count")


def retry_sql(budget: int = 100, max_retries: int = 3, fail_mod: int = 5) -> str:
    """model_retry's closed form as DuckDB SQL: a url with
    fail_times = hash % fail_mod completes at attempt fail_times when
    fail_times <= max_retries, else fails with retry_count = max_retries."""
    ctes = [model_sql_ctes().strip().rstrip(","), _round0_cte(budget)]
    body = ",".join(ctes)
    return f"""WITH {body},
ft AS (SELECT url, host,
              ('0x' || substr(md5(url), 1, 15))::BIGINT % {fail_mod} AS ft
       FROM sched0)
SELECT url, host,
       CASE WHEN ft <= {max_retries} THEN 'completed' ELSE 'failed' END AS status,
       least(ft, {max_retries})::INT AS retry_count
FROM ft"""
