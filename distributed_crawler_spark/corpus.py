"""Deterministic synthetic Common-Crawl-style corpus.

Two surfaces, one arithmetic model:

1. **Arithmetic model** (``model_*``): pages / link graph / robots rules /
   seeds derived purely arithmetically from the driver-provided
   ``documents`` table (doc_id), so the exact same corpus is expressible
   as native Spark expressions AND as a DuckDB SQL CTE block — this is
   what makes the crawl-round queries oracle-checkable.

2. **HTML corpus** (``build_html_corpus``): a real pages table matching
   BASELINE.json:input_hint — ``(url:string, warc_ts:timestamp,
   html:binary, text:string, lang:string)`` — where ``html`` embeds the
   document text, metadata, absolute/relative/javascript:/mailto:/fragment
   links (exercising crawler_node.py:86-129 and the reference's
   test_crawl_quality.py:82-136 behaviors), and ``text`` is the golden
   soup-path extraction (indexer_node.py:133-158) — the byte-identical
   target.

Graph properties required by FIXTURES.md §1: reachable depth > max_depth,
a mega-domain (host 0 holds ~40% of URLs → skew/salting path), cross-domain
links, duplicate in-links (dedup path), dangling relative links
(fetch-miss path), robots-disallowed hosts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.extract import extract_text_soup_udf

# doc-count cache (per sf_dir): the arithmetic model needs N as a plan
# LITERAL — a 1-row crossJoin would plan a BroadcastNestedLoopJoin into
# every model query (guarded against in tests/test_plans.py)
_N_CACHE: dict[str, int] = {}


def _doc_count(spark: SparkSession, sf_dir: str) -> int:
    if sf_dir not in _N_CACHE:
        _N_CACHE[sf_dir] = (
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
        )
    return _N_CACHE[sf_dir]

# Bump when html_pages_df's OUTPUT changes: every on-disk cache of a
# built corpus (conftest, registry query corpus, bench corpus) keys its
# path on this, so a code change can never serve a stale corpus built
# by an older generator.
CORPUS_FORMAT = 2

# ---- the arithmetic model constants (shared Spark ↔ DuckDB) --------------
HOST_MOD = 97            # non-mega hosts: doc_id % 97
MEGA_MOD, MEGA_LT = 5, 2  # doc_id % 5 < 2  → host 0 (the mega-domain, ~40%)
LINK_COEFFS = [(2, 1), (3, 7), (5, 13)]   # targets: (a*d + b) % N
ROBOTS_MOD = 7
ROBOTS_PAGE_REMAINDER = 3   # host_id % 7 == 3 → Disallow: /p/1
ROBOTS_PAGE_PREFIX = "/p/1"
ROBOTS_ALL_REMAINDER = 5    # host_id % 7 == 5 → Disallow: /
SEED_COUNT = 10
# rel=canonical: pages with doc_id % CANON_MOD >= CANON_MIN_REMAINDER
# declare <link rel="canonical"> to the block base doc_id - (doc_id %
# CANON_MOD) — duplicate clusters of up to 1 + (CANON_MOD -
# CANON_MIN_REMAINDER) variants; the base never declares one itself.
CANON_MOD, CANON_MIN_REMAINDER = 6, 3


def _host_id_expr(d):
    return F.when(d % MEGA_MOD < MEGA_LT, F.lit(0)).otherwise(d % HOST_MOD)


def _url_expr(host_id, d):
    return F.concat(
        F.lit("https://h"), host_id.cast("string"), F.lit(".example.com/p/"),
        d.cast("string"),
    )


def model_pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic pages: (doc_id, host_id, host, url, path, text, lang).
    Pure native expressions over the documents table — no Python."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    d = F.col("doc_id")
    host_id = _host_id_expr(d)
    return docs.select(
        d.alias("doc_id"),
        host_id.alias("host_id"),
        F.concat(F.lit("h"), host_id.cast("string"), F.lit(".example.com")).alias("host"),
        _url_expr(host_id, d).alias("url"),
        F.concat(F.lit("/p/"), d.cast("string")).alias("path"),
        F.col("text"),
        F.col("lang"),
    )


def model_links_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic link graph: (src_url, dst_url, dst_doc_id), 3 out-links
    per page to (a*d+b) % N (N baked in as a literal — see _doc_count)."""
    return links_of_pages(model_pages_df(spark, sf_dir), _doc_count(spark, sf_dir))


def links_of_pages(pages: DataFrame, n_docs: int) -> DataFrame:
    """model_links_df over an already-built model pages frame."""
    n = F.lit(n_docs)
    d = F.col("doc_id")
    targets = F.array(*[(F.lit(a) * d + F.lit(b)) % n for a, b in LINK_COEFFS])
    exploded = pages.select(
        F.col("url").alias("src_url"), F.explode(targets).alias("t")
    )
    t = F.col("t")
    host_id_t = _host_id_expr(t)
    return exploded.select(
        "src_url", _url_expr(host_id_t, t).alias("dst_url"), t.alias("dst_doc_id")
    )


def model_robots_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic robots rules: (host, path_prefix) disallow rows.
    Hosts absent from this table are allowed by default (utils.py:64-66)."""
    return robots_of_pages(model_pages_df(spark, sf_dir))


def robots_of_pages(pages: DataFrame) -> DataFrame:
    """model_robots_df over an already-built model pages frame."""
    hosts = pages.select("host_id", "host").distinct()
    hid = F.col("host_id")
    return (
        hosts.filter(hid % ROBOTS_MOD == ROBOTS_PAGE_REMAINDER)
        .select("host", F.lit(ROBOTS_PAGE_PREFIX).alias("path_prefix"))
        .unionByName(
            hosts.filter(hid % ROBOTS_MOD == ROBOTS_ALL_REMAINDER)
            .select("host", F.lit("/").alias("path_prefix"))
        )
    )


def model_seeds_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeds = urls of doc_id < SEED_COUNT."""
    return seeds_of_pages(model_pages_df(spark, sf_dir)).select("url")


def seeds_of_pages(pages: DataFrame) -> DataFrame:
    """The seed rows of a model pages frame (any columns, doc_id kept)."""
    return pages.filter(F.col("doc_id") < SEED_COUNT)


def url_for_doc(d):
    """Public arithmetic url expression for a doc-id column — the same
    derivation as model_pages_df's url, usable without a pages join."""
    return _url_expr(_host_id_expr(d), d)


def host_id_for_doc(d):
    """Public arithmetic host-id expression for a doc-id column."""
    return _host_id_expr(d)


# ---- redirect model -------------------------------------------------------
# A slice of pages are 301s (the reference's requests.get follows these
# implicitly, crawler_node.py fetch path; at warehouse scale the hop
# chain must be resolved as data):
#   * step chains: 1 <= d % REDIR_STEP_MOD <= REDIR_STEP_MAX  ->  d-1
#     (chains of up to REDIR_STEP_MAX hops ending at a non-redirect)
#   * one adversarial 2-cycle family (takes precedence):
#     d % REDIR_CYCLE_MOD == REDIR_CYCLE_FWD -> (d+1) % N
#     d % REDIR_CYCLE_MOD == REDIR_CYCLE_BWD -> d-1
#     (a step chain that runs INTO a cycle node also becomes unresolvable)
REDIR_STEP_MOD, REDIR_STEP_MAX = 16, 5
REDIR_CYCLE_MOD = 257
REDIR_CYCLE_FWD, REDIR_CYCLE_BWD = 100, 101
REDIR_MAX_HOPS = 32


def model_redirects_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic redirect table: (src_doc_id, dst_doc_id)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n = F.lit(_doc_count(spark, sf_dir))
    d = F.col("doc_id")
    is_cycle = (d % REDIR_CYCLE_MOD).isin(REDIR_CYCLE_FWD, REDIR_CYCLE_BWD)
    is_step = (d % REDIR_STEP_MOD >= 1) & (d % REDIR_STEP_MOD <= REDIR_STEP_MAX)
    dst = (
        F.when(d % REDIR_CYCLE_MOD == REDIR_CYCLE_FWD, (d + 1) % n)
        .when(d % REDIR_CYCLE_MOD == REDIR_CYCLE_BWD, d - 1)
        .otherwise(d - 1)
    )
    return docs.filter(is_cycle | is_step).select(
        d.alias("src_doc_id"), dst.alias("dst_doc_id")
    )


def redirects_sql_cte() -> str:
    """DuckDB CTE body for the redirect table (requires the model's nn
    CTE in scope), byte-equivalent to model_redirects_df."""
    return f"""
redir AS (
  SELECT doc_id AS src_doc_id,
         CASE WHEN doc_id % {REDIR_CYCLE_MOD} = {REDIR_CYCLE_FWD}
                THEN (doc_id + 1) % nn.n
              WHEN doc_id % {REDIR_CYCLE_MOD} = {REDIR_CYCLE_BWD}
                THEN doc_id - 1
              ELSE doc_id - 1 END AS dst_doc_id
  FROM documents, nn
  WHERE doc_id % {REDIR_CYCLE_MOD} IN ({REDIR_CYCLE_FWD}, {REDIR_CYCLE_BWD})
     OR (doc_id % {REDIR_STEP_MOD} BETWEEN 1 AND {REDIR_STEP_MAX})
)
"""


# ---- sitemap model ---------------------------------------------------------
# Hosts with host_id % 9 == 2 (plus the mega-host 0) publish sitemaps
# listing their pages with doc_id % 4 == 1; the mega-host shards its list
# into chunk = (doc_id DIV 4) % 4 child sitemaps behind a <sitemapindex>
# that references only shards 0..2 — shard 3 exists on the host but is
# unreferenced (the orphan a correct ingester must NOT surface), and a
# referenced shard may be absent at tiny scale (the dangling reference a
# correct ingester must tolerate).
SITEMAP_HOST_MOD, SITEMAP_HOST_REMAINDER = 9, 2
SITEMAP_INCLUDE_MOD, SITEMAP_INCLUDE_REMAINDER = 4, 1
SITEMAP_CHUNK_DIV, SITEMAP_CHUNK_MOD = 4, 4
SITEMAP_INDEXED_CHUNKS = 3
SITEMAP_EPOCH = "2024-01-01 00:00:00"


def model_sitemaps_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic sitemap table: (host, name, body) — real sitemaps.org
    XML bodies built natively (concat over sorted collected entries; no
    Python). Lastmod = SITEMAP_EPOCH + doc_id seconds, the warc_ts
    arithmetic."""
    from .operators.sitemap import INDEX_OPEN, URLSET_OPEN, XML_HEADER

    pages = model_pages_df(spark, sf_dir)
    d = F.col("doc_id")
    hid = F.col("host_id")
    inc = pages.filter(
        (d % SITEMAP_INCLUDE_MOD == SITEMAP_INCLUDE_REMAINDER)
        & ((hid % SITEMAP_HOST_MOD == SITEMAP_HOST_REMAINDER) | (hid == 0))
    )
    lastmod = F.date_format(
        F.to_timestamp(F.lit(SITEMAP_EPOCH))
        + F.make_interval(secs=d.cast("double")),
        "yyyy-MM-dd'T'HH:mm:ss'Z'",
    )
    ent = inc.select(
        "host",
        "host_id",
        d.alias("doc_id"),
        (F.expr(f"doc_id DIV {SITEMAP_CHUNK_DIV}") % SITEMAP_CHUNK_MOD).alias("chunk"),
        F.concat(
            F.lit("<url><loc>"), F.col("url"),
            F.lit("</loc><lastmod>"), lastmod, F.lit("</lastmod></url>"),
        ).alias("entry"),
    )

    def entries_concat():
        return F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "entry"))),
                lambda x: x["entry"],
            ),
        )

    def urlset_body(ents):
        return F.concat(F.lit(XML_HEADER + URLSET_OPEN), ents, F.lit("</urlset>"))

    plain = (
        ent.filter(F.col("host_id") != 0)
        .groupBy("host")
        .agg(entries_concat().alias("ents"))
        .select(
            "host",
            F.lit("sitemap.xml").alias("name"),
            urlset_body(F.col("ents")).alias("body"),
        )
    )
    shards = (
        ent.filter(F.col("host_id") == 0)
        .groupBy("host", "chunk")
        .agg(entries_concat().alias("ents"))
        .select(
            "host",
            F.concat(
                F.lit("sitemap_"), F.col("chunk").cast("string"), F.lit(".xml")
            ).alias("name"),
            urlset_body(F.col("ents")).alias("body"),
        )
    )
    idx_body = (
        XML_HEADER
        + INDEX_OPEN
        + "".join(
            f"<sitemap><loc>https://h0.example.com/sitemap_{c}.xml</loc></sitemap>"
            for c in range(SITEMAP_INDEXED_CHUNKS)
        )
        + "</sitemapindex>"
    )
    index = (
        ent.filter(F.col("host_id") == 0)
        .select("host")
        .distinct()
        .select(
            "host",
            F.lit("sitemap.xml").alias("name"),
            F.lit(idx_body).alias("body"),
        )
    )
    return plain.unionByName(shards).unionByName(index)


# ---- the same model as DuckDB SQL CTEs (oracle side) ---------------------

def model_sql_ctes() -> str:
    """WITH-clause body (no leading WITH) defining pages/links/robots/seeds
    over the pre-registered `documents` view, byte-equivalent to the
    model_*_df outputs."""
    a1, b1 = LINK_COEFFS[0]
    a2, b2 = LINK_COEFFS[1]
    a3, b3 = LINK_COEFFS[2]
    return f"""
nn AS (SELECT count(*) AS n FROM documents),
pages AS (
  SELECT doc_id,
         CASE WHEN doc_id % {MEGA_MOD} < {MEGA_LT} THEN 0
              ELSE doc_id % {HOST_MOD} END AS host_id,
         'h' || (CASE WHEN doc_id % {MEGA_MOD} < {MEGA_LT} THEN 0
                      ELSE doc_id % {HOST_MOD} END) || '.example.com' AS host,
         'https://h' || (CASE WHEN doc_id % {MEGA_MOD} < {MEGA_LT} THEN 0
                              ELSE doc_id % {HOST_MOD} END)
            || '.example.com/p/' || doc_id AS url,
         '/p/' || doc_id AS path,
         text, lang
  FROM documents
),
links AS (
  SELECT p.url AS src_url,
         'https://h' || (CASE WHEN t.t % {MEGA_MOD} < {MEGA_LT} THEN 0
                              ELSE t.t % {HOST_MOD} END)
            || '.example.com/p/' || t.t AS dst_url,
         t.t AS dst_doc_id
  FROM pages p, nn,
       LATERAL (SELECT unnest([({a1}*p.doc_id+{b1}) % nn.n,
                               ({a2}*p.doc_id+{b2}) % nn.n,
                               ({a3}*p.doc_id+{b3}) % nn.n]) AS t) t
),
robots AS (
  SELECT DISTINCT host, '{ROBOTS_PAGE_PREFIX}' AS path_prefix
  FROM pages WHERE host_id % {ROBOTS_MOD} = {ROBOTS_PAGE_REMAINDER}
  UNION ALL
  SELECT DISTINCT host, '/' AS path_prefix
  FROM pages WHERE host_id % {ROBOTS_MOD} = {ROBOTS_ALL_REMAINDER}
),
seeds AS (SELECT url FROM pages WHERE doc_id < {SEED_COUNT})
"""


# ---- real HTML corpus (input_hint shape) ----------------------------------

def html_pages_df(
    spark: SparkSession,
    sf_dir: str,
    text_repeat: int = 1,
    extra_links: int = 0,
) -> DataFrame:
    """pages table per input_hint: (url, warc_ts, html:binary, text, lang).

    html embeds: lang attr, <title>, meta description/keywords, body text,
    a <script> block (must be stripped from extracted text), and five links:
    absolute (t1), relative same-host path to t2 (dangling when host(t2) !=
    host(d) — the fetch-miss path), javascript:, mailto:, and t3 with a
    #fragment (normalized away). ``text`` is the golden soup-path
    extraction computed by the same UDF the engine uses.

    ``text_repeat``/``extra_links`` inflate page size toward realistic
    web-page weight (the bench corpus uses ~8KB pages; unit-test corpus
    stays small).
    """
    pages = model_pages_df(spark, sf_dir)
    n = F.lit(_doc_count(spark, sf_dir))
    d = F.col("doc_id")
    targets = [(F.lit(a) * d + F.lit(b)) % n for a, b in LINK_COEFFS]
    t1, t2, t3 = targets
    url_t1 = _url_expr(_host_id_expr(t1), t1)
    url_t3 = _url_expr(_host_id_expr(t3), t3)
    body_parts = []
    for r in range(text_repeat):
        body_parts += [F.lit(f"<p id=\"s{r}\">"), F.col("text"), F.lit("</p>")]
    link_parts = []
    for j in range(extra_links):
        tj = (F.lit(7 + 2 * j) * d + F.lit(11 + j)) % n
        link_parts += [
            F.lit('<a href="'), _url_expr(_host_id_expr(tj), tj),
            F.lit(f'">more{j}</a>'),
        ]
    t_can = d - (d % CANON_MOD)
    canonical = F.when(
        d % CANON_MOD >= CANON_MIN_REMAINDER,
        F.concat(
            F.lit('<link rel="canonical" href="'),
            _url_expr(_host_id_expr(t_can), t_can),
            F.lit('">'),
        ),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit('<html lang="'), F.col("lang"), F.lit('"><head><title>Doc '),
        d.cast("string"), F.lit(" page</title>"),
        F.lit('<meta name="description" content="synthetic doc '),
        d.cast("string"), F.lit(" of the corpus"),
        F.lit('"><meta name="keywords" content="'),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 3)),
        F.lit('">'), canonical, F.lit("</head><body>"), *body_parts,
        F.lit("<script>var x = "), d.cast("string"), F.lit(";</script>"),
        F.lit('<a href="'), url_t1, F.lit('">next</a>'),
        F.lit('<a href="/p/'), t2.cast("string"), F.lit('">rel</a>'),
        F.lit('<a href="javascript:void(0)">js</a>'),
        F.lit('<a href="mailto:a@example.com">mail</a>'),
        *link_parts,
        F.lit('<a href="'), url_t3, F.lit('#frag">frag</a>'),
        F.lit("</body></html>"),
    )
    with_html = (
        pages.withColumn("html", html.cast("binary"))
        .withColumn(
            "warc_ts",
            F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(secs=d.cast("double")),
        )
    )
    return with_html.select(
        "url", "warc_ts", "html",
        extract_text_soup_udf(F.col("html")).alias("text"),
        "lang",
    )


def build_html_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    buckets: int = 32,
    text_repeat: int = 1,
    extra_links: int = 0,
) -> str:
    """Materialize the HTML corpus + seeds + robots as parquet under
    out_dir. Pages are repartitioned by xxhash64(url) — the same bucketing
    the frontier uses, so the per-round fetch join co-partitions (at
    cluster scale: Iceberg `bucket(N, url_hash)` storage-partitioned join,
    no corpus shuffle)."""
    os.makedirs(out_dir, exist_ok=True)
    pages = html_pages_df(spark, sf_dir, text_repeat, extra_links)
    (
        pages.repartition(buckets, F.xxhash64(F.col("url")))
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "pages.parquet"))
    )
    model_seeds_df(spark, sf_dir).write.mode("overwrite").parquet(
        os.path.join(out_dir, "seeds.parquet")
    )
    model_robots_df(spark, sf_dir).write.mode("overwrite").parquet(
        os.path.join(out_dir, "robots.parquet")
    )
    return out_dir


def replicate_sf_dir(
    spark: SparkSession, src_dir: str, out_dir: str, k: int = 4
) -> str:
    """Deterministic K-fold analytic scale-up of a testdata sf dir (the
    second bench scale point — an O(corpus)-per-query regression is
    invisible at a single sf). Replicas are built so per-query OUTPUT
    semantics scale linearly, never quadratically:

      * documents — doc_id += r*N (contiguous, so the arithmetic crawl
        model's host/link derivations extend naturally); every token of
        replica r >= 1 gets an ``_r{r}`` suffix, making replicas
        LEXICALLY DISJOINT — near-dup/dedup operators find only
        within-replica pairs (k x base), not k^2 cross-replica pairs of
        identical texts, and query-term postings stay constant-size while
        the index grows k x (exactly what the indexed paths must prove).
      * embeddings — vec_id offset; the vector is ROTATED by r positions
        (cross-replica cosine ~ random, so neighbor counts scale
        linearly; identical copies would all be mutual neighbors).
      * events — event_id/user_id offset, timestamps kept (rate/history
        windows densify rather than stretch).
      * orders/customer/lineitem — order and customer keys offset per
        key domain so FK joins keep base selectivity; nation/region/
        part/supplier stay single-copy dims (broadcast sides do not grow
        with the fact tables, matching a real warehouse).
    """
    import shutil

    n_docs = _doc_count(spark, src_dir)

    def reps(df, make):
        out = make(df, 0)
        for r in range(1, k):
            out = out.unionByName(make(df, r))
        return out

    def write(name, df):
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))

    docs = spark.read.parquet(os.path.join(src_dir, "documents.parquet"))
    write(
        "documents",
        reps(
            docs,
            lambda df, r: df.select(
                (F.col("doc_id") + F.lit(r * n_docs)).alias("doc_id"),
                (
                    F.col("text")
                    if r == 0
                    else F.regexp_replace("text", r"(\S+)", rf"$1_r{r}")
                ).alias("text"),
                "lang",
                "source",
                # the suffix rewrite lengthens the text, so replicas
                # recompute n_chars to keep the n_chars == length(text)
                # invariant that holds in the base corpus
                (
                    F.col("n_chars")
                    if r == 0
                    else F.length(
                        F.regexp_replace("text", r"(\S+)", rf"$1_r{r}")
                    ).cast("long")
                ).alias("n_chars"),
            ),
        ),
    )

    emb = spark.read.parquet(os.path.join(src_dir, "embeddings.parquet"))
    n_vec = emb.count()
    dim = len(emb.select("embedding").first()["embedding"])

    def emb_rep(df, r):
        rot = r % dim
        rotated = (
            F.col("embedding")
            if rot == 0
            else F.concat(
                F.slice("embedding", rot + 1, dim - rot),
                F.slice("embedding", 1, rot),
            )
        )
        return df.select(
            (F.col("vec_id") + F.lit(r * n_vec)).alias("vec_id"),
            rotated.alias("embedding"),
            "label",
        )

    write("embeddings", reps(emb, emb_rep))

    ev = spark.read.parquet(os.path.join(src_dir, "events.parquet"))
    n_ev = ev.count()
    write(
        "events",
        reps(
            ev,
            lambda df, r: df.select(
                (F.col("event_id") + F.lit(r * n_ev)).alias("event_id"),
                "ts",
                (F.col("user_id") + F.lit(r * 1_000_000)).alias("user_id"),
                "event_type",
                "value",
                "props",
            ),
        ),
    )

    orders = spark.read.parquet(os.path.join(src_dir, "orders.parquet"))
    write(
        "orders",
        reps(
            orders,
            lambda df, r: df.select(
                (F.col("o_orderkey") + F.lit(r * 1_000_000_000)).alias("o_orderkey"),
                (F.col("o_custkey") + F.lit(r * 10_000_000)).alias("o_custkey"),
                "o_orderstatus",
                "o_totalprice",
                "o_orderdate",
                "o_orderpriority",
            ),
        ),
    )
    cust = spark.read.parquet(os.path.join(src_dir, "customer.parquet"))
    write(
        "customer",
        reps(
            cust,
            lambda df, r: df.select(
                (F.col("c_custkey") + F.lit(r * 10_000_000)).alias("c_custkey"),
                "c_name",
                "c_nationkey",
                "c_acctbal",
                "c_mktsegment",
            ),
        ),
    )
    li = spark.read.parquet(os.path.join(src_dir, "lineitem.parquet"))
    write(
        "lineitem",
        reps(
            li,
            lambda df, r: df.select(
                (F.col("l_orderkey") + F.lit(r * 1_000_000_000)).alias("l_orderkey"),
                *[c for c in li.columns if c != "l_orderkey"],
            ),
        ),
    )

    # single-copy dims: broadcast sides stay fixed-size
    for name in ("region", "nation", "supplier", "part"):
        src = os.path.join(src_dir, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        if os.path.isdir(src):
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(src, dst)
        elif os.path.exists(src):
            spark.read.parquet(src).write.mode("overwrite").parquet(dst)
    return out_dir
