"""Physical-plan regression guards: the expensive parse UDF must appear
exactly once per plan, broadcasts must be broadcasts, filters must reach
the parquet scan."""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_single_parse_eval_in_bench_links(spark, corpus_dir):
    from distributed_crawler_spark.functions.extract import parse_page_udf

    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet").select("url", "html")
    pending = pages.withColumn(
        "k", F.explode(F.sequence(F.lit(0), F.lit(3)))
    ).select(
        F.concat("url", F.lit("?k="), F.col("k").cast("string")).alias("url"), "html", "k"
    )
    links = pending.select(
        "k",
        F.explode(parse_page_udf(F.col("html"), F.col("url"))["links"]).alias("bl"),
    )
    assert _plan(links).count("ArrowEvalPython") == 1


def test_single_parse_eval_in_crawl_round(spark, corpus_dir):
    from distributed_crawler_spark.config import CrawlConfig
    from distributed_crawler_spark.operators.frontier import crawl_round

    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    robots = spark.read.parquet(f"{corpus_dir}/robots.parquet")
    seeds = spark.read.parquet(f"{corpus_dir}/seeds.parquet")
    pending = seeds.select(
        "url",
        F.regexp_extract("url", r"^https://([^/]*)", 1).alias("host"),
        F.lit(0).alias("depth"),
    )
    res = crawl_round(pending, pages, robots, pending.select("url"), None, CrawlConfig(), 0)
    assert _plan(res.extracted).count("ArrowEvalPython") == 1
    # next_pending in single-plan mode re-evaluates parse at most once
    assert _plan(res.next_pending).count("ArrowEvalPython") == 1


def test_robots_filter_broadcasts(spark, corpus_dir):
    from distributed_crawler_spark.operators.politeness import robots_filter

    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet").select("url").withColumn(
        "host", F.regexp_extract("url", r"^https://([^/]*)", 1)
    )
    robots = spark.read.parquet(f"{corpus_dir}/robots.parquet")
    plan = _plan(robots_filter(pages, robots))
    assert "BroadcastHashJoin" in plan
    # the CANDIDATE side must not shuffle: the only hash exchange allowed
    # is the tiny rules-side collect_list aggregation
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Exchange hashpartitioning(host#" in plan or plan.count("Exchange hashpartitioning") == 0


def test_filter_pushdown_to_parquet(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_shipdate") <= "1995-01-01")
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: scan must read only the 3 needed columns
    assert "l_extendedprice" not in plan


def test_dim_join_broadcasts(spark, sf_dir):
    from distributed_crawler_spark.plans import registry

    plan = _plan(registry.QUERIES["join_enrich"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3


def test_bucketed_fetch_join_no_shuffle(spark, corpus_dir):
    """Both sides bucketed on url → sort-merge join with ZERO Exchange:
    the storage-partitioned fetch join (SURVEY §2.4 / §4.1)."""
    from distributed_crawler_spark.sources.bucketed import (
        bucketed_fetch_join,
        write_bucketed,
    )

    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(pages, "t_pages_b", buckets=8)
        write_bucketed(pages.select("url"), "t_frontier_b", buckets=8)
        j = bucketed_fetch_join(spark, "t_frontier_b", "t_pages_b", how="inner")
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert plan.count("Exchange") == 0
        assert j.count() == pages.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_pages_b")
        spark.sql("DROP TABLE IF EXISTS t_frontier_b")


def test_sql_surface_equivalence(spark, sf_dir):
    """The engine is equally drivable through spark.sql: registering the
    tables as views and running the SQL form of a registry query gives
    the identical result set (Catalyst produces the same plan either way)."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("lineitem_v")
    sql_df = spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 4) AS sum_qty,
               count(*) AS count_order
        FROM lineitem_v
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """
    )
    df_df = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.count("*").alias("count_order"),
        )
    )
    assert sorted(map(tuple, sql_df.collect())) == sorted(map(tuple, df_df.collect()))


# queries whose semantics are intentionally pairwise/cross:
_CARTESIAN_OK = {
    "ann_cosine_topk",      # query-vector broadcast literal
    "embedding_neardup",    # exact pairwise baseline (capped id range);
                            # scale path is embedding_neardup_lsh (checked)
    "crawl_rate",           # 1-row anchor crossJoin
    "time_range_filter",    # 1-row anchor crossJoin
    "freshness_boost",      # 1-row anchor crossJoin
    "search_bm25",          # 1-row avgdl/n crossJoins
    "search_bm25_stemmed",  # same 1-row avgdl/n crossJoins
    "search_bm25f",         # 1-row avgdl/n crossJoins per field
    "unigram_logprob",      # 1-row total crossJoin
    "ann_ivf_topk",
    "ann_ivf_topk_fixed",   # 16-row broadcast codebook crossJoin
    "ann_ivf_topk_kmeans",  # same broadcast-codebook assignment shape
                            # (k literal centroids via ivf_assign_fixed)
    "url_cardinality_hll",  # 1-row register-agg x 1-row count crossJoin
    "semantic_dedup",       # broadcast-codebook assignment (16 literal
                            # centroids via ivf_assign_fixed)
    "mixture_sample",       # 1-row (S, N) totals crossJoin onto the
                            # tiny per-source picks table
    "lm_perplexity",        # 1-row vocab-size crossJoin (the |V| scalar)
    "hits_scores",          # 1-row L1-total crossJoins per half-iteration
}


def test_no_unexpected_cartesian_products(spark, sf_dir):
    """Every registry query's physical plan is checked for
    CartesianProduct / BroadcastNestedLoopJoin — allowed only where the
    operator is intentionally pairwise or joins a 1-row anchor."""
    from distributed_crawler_spark.plans import registry

    offenders = {}
    for name, fn in registry.QUERIES.items():
        if name in _CARTESIAN_OK or name == "crawl_html_round0":
            continue
        plan = _plan(fn(spark, sf_dir))
        bad = [
            kw for kw in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if kw in plan
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def _formatted_plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_indexed_phrase_pushes_term_filters(spark, tmp_path):
    """Every phrase word must reach the postings parquet scan as a term
    equality (row-group skip on the term-sorted snapshot) — the whole
    point of the positional index vs a raw-text scan."""
    from distributed_crawler_spark.operators.search import (
        phrase_from_index,
        write_index_snapshot,
    )

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "beta alpha")], "doc_id INT, text STRING"
    )
    idx = str(tmp_path / "pp_idx")
    write_index_snapshot(docs, idx, analyzer="raw")
    plan = _formatted_plan(phrase_from_index(spark, idx, "alpha beta"))
    assert plan.count("PushedFilters") >= 2
    for w in ("alpha", "beta"):
        assert f"EqualTo(term,{w})" in plan, plan


def test_bm25f_idf_reads_termstats_not_aggregate(spark, tmp_path):
    """idf for composed BM25F comes from the precomputed termstats table
    (pushed term filter), never a groupBy over matched postings."""
    from distributed_crawler_spark.operators.query import (
        search_composed_indexed,
        write_multifield_index,
    )

    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "alpha alpha")], "doc_id INT, text STRING"
    )
    idx = str(tmp_path / "ts_plan_idx")
    write_multifield_index({"body": docs}, idx, analyzer="raw")
    plan = _formatted_plan(
        search_composed_indexed(spark, idx, "alpha", scoring="bm25f")
    )
    assert "termstats" in plan


def test_fuzzy_plans_carry_no_levenshtein(spark, tmp_path):
    """Fuzzy retrieval is Whoosh's two-step (term-DICT expansion, then a
    plain term-set postings lookup): the match plan must contain no
    levenshtein anywhere — the edit distance runs once, over distinct
    terms, at expansion time (VERDICT r04 wrong #1: levenshtein over
    postings rows scans the corpus index instead of a vocabulary)."""
    from distributed_crawler_spark.operators.query import (
        search_composed_indexed,
        write_multifield_index,
    )
    from distributed_crawler_spark.operators.search import fuzzy_tf_scores

    docs = spark.createDataFrame(
        [(0, "spark spam sparse"), (1, "spark bark")], "doc_id INT, text STRING"
    )
    # live path: expansion against distinct postings terms
    df = fuzzy_tf_scores(docs, "spak", max_edits=1)
    assert "levenshtein" not in _plan(df).lower()
    assert {r["doc_id"] for r in df.collect()} == {0, 1}

    # indexed composed path: expansion against the snapshot's termstats
    # table; the resolved set reaches the postings scan as In(term, ...)
    idx = str(tmp_path / "fz_plan_idx")
    write_multifield_index({"body": docs}, idx, analyzer="raw")
    out = search_composed_indexed(spark, idx, "spak~")
    plan = _formatted_plan(out)
    assert "levenshtein" not in plan.lower()
    assert "In(term, [spam,spark])" in plan, plan
    assert {r["doc_id"] for r in out.collect()} == {0, 1}

    # no dictionary hit -> empty result, still no levenshtein in the plan
    empty = search_composed_indexed(spark, idx, "zzzzzz~")
    assert "levenshtein" not in _plan(empty).lower()
    assert empty.count() == 0


def test_simhash_vote_pipeline_single_exchange(spark, sf_dir):
    """The simhash vote pipelines (narrow and wide) hash-partition the
    docs once on the id; every downstream groupBy clusters on a superset
    of (id), so Catalyst must plan them with exactly ONE exchange —
    re-shuffling count-collapsed vote rows three more times was pure
    waste at corpus scale."""
    from distributed_crawler_spark.operators.dedup import simhash, simhash_wide

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert _plan(simhash(docs, bits=60)).count("Exchange") == 1
    assert _plan(simhash_wide(docs, band_width=11, n_bands=5)).count("Exchange") == 1


def test_rep_signals_single_exchange(spark, sf_dir):
    """Gopher repetition signals: the doc-id window exchange is the
    plan's only shuffle — n_tokens / top-bigram / duplicated-trigram all
    come from ONE tagged-gram aggregation pass (the previous
    three-branch form re-tokenized and re-shuffled the corpus per
    signal)."""
    from distributed_crawler_spark.operators.textstats import repetition_signals

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert _plan(repetition_signals(docs)).count("Exchange") == 1


def test_hll_single_exchange_no_python(spark):
    """The explicit-register HLL must be ONE map-side-combined hash agg
    over at most 2^p register rows — no window, no Python, and the only
    exchanges are the register agg + the two 1-row final aggs."""
    from distributed_crawler_spark.operators.stats import hll_cardinality

    df = spark.range(10_000).select(
        F.concat(F.lit("u"), F.col("id")).alias("u")
    )
    plan = _plan(hll_cardinality(df, "u"))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Window" not in plan
    # register agg partials combine map-side before the exchange
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "partial_max" in plan or "HashAggregate" in plan


def test_ivf_assignment_broadcasts_codebook(spark, sf_dir):
    """Assignment is a broadcast cross-join + map-side-combined argmax:
    the vectors side must NOT shuffle on anything but the final id agg,
    and the flat cosine must stay JVM-side (no HOF interpreter rows in
    the aggregate path is not assertable from text, but no Python is)."""
    from distributed_crawler_spark.operators.similarity import ivf_assign_fixed

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = [[float(i == j) for j in range(64)] for i in range(8)]
    plan = _plan(ivf_assign_fixed(emb, cents))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_paragraph_dedup_shuffle_carries_hashes_not_text(spark, sf_dir):
    """remove_dup_paragraphs' first-occurrence selection shuffles (hash,
    id, idx) triples only: neither the raw text nor any paragraph string
    column may appear in any Exchange output — at 100 TB the dedup
    shuffle is ~24 bytes/paragraph, not the corpus.  Round 7 replaced
    the row_number Window with a map-side-combinable min(struct(id,
    idx)) aggregate (same total order, no sort): the plan must now have
    NO Window at all, and the keeper selection must appear as a partial
    min() aggregate so only one row per distinct paragraph hash crosses
    the exchange."""
    from distributed_crawler_spark.operators.dedup import remove_dup_paragraphs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _formatted_plan(remove_dup_paragraphs(docs, para_tokens=8))
    lines = plan.splitlines()
    # the sort-based window form is gone for good
    assert not any("Window" in line for line in lines), plan
    # first-occurrence = min(struct) aggregate with a map-side partial
    assert "partial_min" in plan, plan
    # no string column named text/para in any Exchange output
    exch_out = [
        line
        for i, line in enumerate(lines)
        if "Exchange" in lines[i - 1] or "Exchange" in line
    ]
    assert "text" not in " ".join(exch_out), exch_out
    # and no Python anywhere
    assert "EvalPython" not in plan


def test_mixture_sample_corpus_never_shuffles(spark, sf_dir):
    """temperature_mixture_sample: the docs side reaches the filter via a
    broadcast join of the tiny per-source picks table — the only
    hash-exchange in the plan is the per-source count aggregate (over
    source cardinality rows), never the corpus itself."""
    from distributed_crawler_spark.operators.textstats import (
        temperature_mixture_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    plan = _plan(temperature_mixture_sample(docs))
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    # count agg partials combine map-side; the corpus row flow joins
    # broadcast-side without an Exchange of its own
    assert plan.count("Exchange hashpartitioning") <= 1


def test_redirect_resolution_progress_is_exponential_per_round(spark):
    """Behavioral proof of pointer doubling (the executed plan hides
    earlier rounds behind checkpoints): a 1000-hop chain resolves with
    EXACT hops under doubling_rounds(1024) = 10 self-join rounds — a
    hop-at-a-time loop would have followed only 10 hops. Also JVM-only:
    no Python in the final plan."""
    from distributed_crawler_spark.operators.graph import (
        doubling_rounds,
        resolve_chains,
    )

    assert doubling_rounds(32) == 5
    assert doubling_rounds(1024) == 10
    n = 1001
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    redirects = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id long, dst long"
    )
    res = resolve_chains(nodes, redirects, max_hops=1024)
    row = {r["id"]: r for r in res.collect()}
    assert (row[0]["final_id"], row[0]["hops"], row[0]["resolved"]) == (
        n - 1,
        n - 1,
        True,
    )
    assert "EvalPython" not in _plan(
        resolve_chains(nodes, redirects, max_hops=32)
    )


def test_bpe_pair_counts_partial_aggregate_no_python(spark, sf_dir):
    """The per-round pair count must map-side combine (partial + final
    HashAggregate pair) and stay JVM-only — the round's only shuffle
    carries (symbol, symbol, long) triples."""
    import os

    from distributed_crawler_spark.operators.bpe import (
        _initial_seq,
        _pair_counts,
        word_freqs,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    seqs = word_freqs(docs).select("word", "freq", _initial_seq().alias("seq"))
    syms = seqs.select(
        "freq", F.filter(F.split("seq", r"\|\|"), lambda x: x != "").alias("syms")
    )
    plan = _plan(_pair_counts(syms))
    assert "EvalPython" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final for the sum
    assert "partial_sum" in plan or "partial" in plan.lower()


def test_host_pagerank_contraction_prunes_to_doc_id(spark, sf_dir):
    """The host-graph contraction must read ONLY doc_id from the corpus
    (column pruning: text/lang never enter the scan) — the contraction
    is the page-scale step, everything after runs on ~100 hosts."""
    from distributed_crawler_spark.plans import registry

    df = registry.QUERIES["host_pagerank"](spark, sf_dir)
    plan = _formatted_plan(df)
    scans = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln and "documents" not in ln
    ] + [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans, "no parquet scan in plan"
    for ln in scans:
        assert "text" not in ln, ln


def test_model_crawl_queries_leave_no_cached_plans(spark, sf_dir):
    """Repeated crawl_bfs / retry_cohort calls must not pile up cached
    plans in the session: their materialized inputs and round state are
    local checkpoints, which the CacheManager never holds."""
    from distributed_crawler_spark.plans import registry

    spark.catalog.clearCache()
    for _ in range(3):
        registry.QUERIES["crawl_bfs"](spark, sf_dir)
        registry.QUERIES["retry_cohort"](spark, sf_dir)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_crawl_bfs_job_count(spark, sf_dir):
    """One warm crawl_bfs call (build plus noop write) runs a bounded
    number of Spark jobs: the model inputs are built once and each round
    plans against small checkpoints."""
    from distributed_crawler_spark.corpus import _doc_count
    from distributed_crawler_spark.plans import registry

    _doc_count(spark, sf_dir)  # warm: the cold call adds the doc-count jobs
    sc = spark.sparkContext
    group = "test-crawl-bfs-job-count"
    sc.setJobGroup(group, "crawl_bfs job count")
    try:
        registry.QUERIES["crawl_bfs"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    # 30 measured on this fixture; the per-round union/cache form ran 45
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 30
