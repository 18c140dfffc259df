"""Command-line surface — the rebuild of the reference's client entry
points (client.py:15-46 submit-crawl, submit_url.py, search/search.py
cli_search, dashboard stats endpoints) as one spark-submit-able CLI:

    python -m distributed_crawler_spark.cli crawl --corpus DIR --state DIR \
        [--seeds FILE] [--max-depth 3] [--budget 100] [--resume]
    python -m distributed_crawler_spark.cli submit URL... --corpus DIR \
        --state DIR [--no-run]
    python -m distributed_crawler_spark.cli search --state DIR "query terms" \
        [--mode bm25|tf|substring] [--topk 10]
    python -m distributed_crawler_spark.cli stats --state DIR
    python -m distributed_crawler_spark.cli build-corpus --sf-dir DIR --out DIR

On a cluster the same module runs via
``spark-submit --py-files distributed_crawler_spark.zip -m ...`` — the
session factory is the only local-mode-specific piece.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import functions as F


def _crawl(args) -> None:
    from .config import CrawlConfig
    from .operators.scheduler import CrawlScheduler
    from .session import get_spark

    spark = get_spark(cores=args.cores)
    pages = spark.read.parquet(f"{args.corpus}/pages.parquet")
    robots = spark.read.parquet(f"{args.corpus}/robots.parquet")
    cfg = CrawlConfig(
        max_depth=args.max_depth,
        max_urls_per_domain=args.budget,
        max_retries=args.max_retries,
        job_id=args.job_id,
    )
    sched = CrawlScheduler(spark, pages, robots, args.state, cfg)
    if args.resume:
        summary = sched.run(resume=True)
    else:
        if args.seeds:
            seeds = spark.read.text(args.seeds).withColumnRenamed("value", "url")
        else:
            seeds = spark.read.parquet(f"{args.corpus}/seeds.parquet")
        summary = sched.run(seeds=seeds)
    print(json.dumps(summary))


def _resend(args) -> None:
    """Re-queue failed URLs with retry budget left and resume — the
    master's resend_urls command (master_node.py:994-1062)."""
    from .config import CrawlConfig
    from .operators.scheduler import CrawlScheduler
    from .session import get_spark

    spark = get_spark(cores=args.cores)
    pages = spark.read.parquet(f"{args.corpus}/pages.parquet")
    robots = spark.read.parquet(f"{args.corpus}/robots.parquet")
    cfg = CrawlConfig(
        max_depth=args.max_depth,
        max_urls_per_domain=args.budget,
        max_retries=args.max_retries,
        job_id=args.job_id,
    )
    sched = CrawlScheduler(spark, pages, robots, args.state, cfg)
    n = sched.resend_failed()
    summary = sched.run(resume=True) if n else sched.summary()
    summary["resent"] = n
    print(json.dumps(summary))


def _submit(args) -> None:
    """Submit URLs into an existing crawl (submit_url.py analog: the
    reference's crawl_url command to the master's queue). By default the
    crawl resumes immediately to drain them; --no-run only enqueues
    (the reference's fire-and-forget submit)."""
    from .config import CrawlConfig
    from .operators.scheduler import CrawlScheduler
    from .session import get_spark

    spark = get_spark(cores=args.cores)
    pages = spark.read.parquet(f"{args.corpus}/pages.parquet")
    robots = spark.read.parquet(f"{args.corpus}/robots.parquet")
    cfg = CrawlConfig(
        max_depth=args.max_depth,
        max_urls_per_domain=args.budget,
        job_id=args.job_id,
    )
    sched = CrawlScheduler(spark, pages, robots, args.state, cfg)
    if args.urls_file:
        urls = spark.read.text(args.urls_file).withColumnRenamed("value", "url")
    else:
        urls = spark.createDataFrame([(u,) for u in args.url], "url STRING")
    n = sched.submit_urls(urls)
    if n and not args.no_run:
        summary = sched.run(resume=True)
    else:
        summary = sched.summary()
    summary["submitted"] = n
    print(json.dumps(summary))


def _index(args) -> None:
    """Build a persistent index snapshot from a crawl's extracted pages
    (the indexer-node role, indexer_node.py:181-225). ``--multifield``
    persists one snapshot per field (title/body — the MultifieldParser
    schema) for `search --index DIR --mode query`; ``--analyzer`` and
    ``--positions`` are the write_index_snapshot knobs. This is the SAME
    code path the registry's cached benchmark indexes use
    (write_index_snapshot / write_multifield_index) — the CLI owns the
    snapshot lifecycle (build / inspect / drop), the tempdir memos are
    only the bench harness's once-per-corpus cache of it."""
    from .operators import search
    from .session import get_spark

    spark = get_spark(cores=args.cores)
    extracted = spark.read.parquet(
        f"{args.state}/job={args.job_id}/extracted/round=*"
    )
    docs = extracted.select(F.col("url").alias("doc_id"), F.col("text"))
    positions = not args.no_positions
    if args.multifield:
        from .operators.query import write_multifield_index

        fields = {
            "title": extracted.select(
                F.col("url").alias("doc_id"), F.col("title").alias("text")
            ),
            "body": docs,
        }
        out = write_multifield_index(
            fields, args.out, analyzer=args.analyzer
        )
        info = {"index": out, "fields": sorted(fields), "analyzer": args.analyzer}
    else:
        out = search.write_index_snapshot(
            docs, args.out, analyzer=args.analyzer, positions=positions
        )
        info = {"index": out, "analyzer": args.analyzer, "positions": positions}
    print(json.dumps(info))


def _index_inspect(args) -> None:
    """Print an index snapshot's metadata (single-field meta.json or the
    multifield fields.json tree with per-field meta) — the index
    lifecycle's read side; no Spark session needed."""
    import os

    root = args.index
    fields_json = os.path.join(root, "fields.json")
    meta_json = os.path.join(root, "meta.json")
    if os.path.exists(fields_json):
        with open(fields_json) as f:
            top = json.load(f)
        fields = {}
        for name in top["fields"]:
            with open(os.path.join(root, f"field={name}", "meta.json")) as f:
                fields[name] = json.load(f)
        print(json.dumps({"layout": "multifield", "id_col": top["id_col"],
                          "fields": fields}))
    elif os.path.exists(meta_json):
        with open(meta_json) as f:
            meta = json.load(f)
        print(json.dumps({"layout": "single", **meta}))
    else:
        raise SystemExit(f"{root} is not an index snapshot "
                         "(no meta.json / fields.json)")


def _index_drop(args) -> None:
    """Delete an index snapshot — refuses anything that doesn't look
    like one (meta.json / fields.json probe), so a mistyped path can't
    rm -rf arbitrary state."""
    import os
    import shutil

    root = args.index
    if not (
        os.path.exists(os.path.join(root, "meta.json"))
        or os.path.exists(os.path.join(root, "fields.json"))
    ):
        raise SystemExit(f"refusing to drop {root}: not an index snapshot")
    shutil.rmtree(root)
    print(json.dumps({"dropped": root}))


def _search(args) -> None:
    from .operators import search
    from .session import get_spark

    if not args.index and not args.state:
        raise SystemExit("search requires --state or --index")
    if getattr(args, "scoring", "tf") != "tf" and not (
        args.index and args.mode == "query"
    ):
        # never silently return tf-ranked results the user didn't ask for
        raise SystemExit(
            "--scoring bm25f applies only to --index ... --mode query "
            "(the live path scores tf; use --mode bm25 for single-field BM25)"
        )
    if getattr(args, "slop", 1) != 1 and not (args.index and args.mode == "phrase"):
        # same silent-ignore class: sloppy matching needs the positional
        # index (composed queries carry slop inline as '"a b"~N')
        raise SystemExit(
            "--slop applies only to --index ... --mode phrase; in "
            '--mode query write the slop inline: "a b"~N'
        )
    spark = get_spark(cores=args.cores)
    if args.index:
        # query the persisted index (stemmed terms, zero query-time Python)
        from .functions.text import process_text_py

        if args.mode == "query":
            # composed query over a multifield index snapshot
            # (write_multifield_index layout); --scoring bm25f scores the
            # tree the way the reference's searcher does
            from .operators.query import search_composed_indexed

            out = search_composed_indexed(
                spark, args.index, args.query, topk=args.topk,
                scoring=getattr(args, "scoring", "tf"),
            )
        elif args.mode == "phrase":
            # phrase against the positional postings (PhrasePlugin analog)
            out = search.phrase_from_index(
                spark, args.index, args.query, topk=args.topk,
                slop=getattr(args, "slop", 1),
            )
        else:
            terms = process_text_py(args.query)
            if args.mode == "bm25":
                out = search.bm25_from_index(spark, args.index, terms, topk=args.topk)
            else:
                out = search.tf_from_index(spark, args.index, terms, topk=args.topk)
        _emit_results(spark, args, out)
        return
    sched_extracted = spark.read.parquet(
        f"{args.state}/job={args.job_id}/extracted/round=*"
    )
    docs = sched_extracted.select(
        F.col("url").alias("doc_id"), F.col("text")
    )
    terms = args.query.lower().split()
    if args.mode == "bm25":
        out = search.bm25_scores(docs, terms, topk=args.topk)
    elif args.mode == "tf":
        out = search.tf_scores(search.build_postings(docs), terms, topk=args.topk)
    elif args.mode == "phrase":
        # raw-text phrase scan over the extracted docs (no index yet)
        out = (
            search.phrase_match(docs, args.query)
            .orderBy(F.desc("n_occurrences"), F.col("doc_id"))
            .limit(args.topk)
        )
    elif args.mode == "query":
        # composed multifield query language (MultifieldParser analog):
        # fielded terms / phrases / wildcard / fuzzy / AND OR NOT, with
        # the index analyzer (lower/stopword/Porter) applied to both the
        # postings and the query terms — Whoosh parses against the
        # schema analyzer the same way
        from .functions.text import porter_stem
        from .operators.query import search_composed

        fields = {
            "title": sched_extracted.select(
                F.col("url").alias("doc_id"), F.col("title").alias("text")
            ),
            "body": docs,
        }
        out = search_composed(
            fields,
            args.query,
            topk=args.topk,
            term_transform=lambda t: porter_stem(t.lower()),
            postings_fn=search.build_postings_stemmed,
        )
    else:
        titles = sched_extracted.select(
            F.col("url").alias("doc_id"),
            F.col("title"),
            F.col("description"),
        )
        out = search.substring_scores(
            titles, args.query, F.col("title"), F.col("description"), topk=args.topk
        )
    if args.enrich:
        # result enrichment (search_interface.py:459-476 analog): join
        # hits with frontier status/depth
        from .config import CrawlConfig
        from .operators.scheduler import CrawlScheduler

        sched = CrawlScheduler(spark, None, None, args.state, CrawlConfig(job_id=args.job_id))
        meta = sched.frontier().select(
            F.col("url").alias("doc_id"), "status", "depth"
        )
        out = out.join(meta, "doc_id", "left")
    _emit_results(spark, args, out)


def _emit_results(spark, args, out) -> None:
    """Collect + print hits; with --track, record the executed search in
    the analytics log (track_search, search_interface.py:66-105) so
    `suggest` can consume it."""
    rows = out.collect()
    if getattr(args, "track", None):
        from .operators.analytics import track_searches

        track_searches(spark, args.track, [(args.query, len(rows))])
    for row in rows:
        print(json.dumps(row.asDict(), default=str))


def _export(args) -> None:
    """Archive export (Common-Crawl round trip): ``--state`` writes the
    crawl's extracted docs as WET conversion shards (url, fetch_ts,
    text); ``--corpus`` writes the page table as WARC response shards
    (url, html). One shard per partition, manifest printed as JSON."""
    from .session import get_spark
    from .sources.warc import export_warc, export_wet

    if bool(args.state) == bool(args.corpus):
        raise SystemExit("export needs exactly one of --state / --corpus")
    spark = get_spark(cores=args.cores)
    if args.state:
        docs = spark.read.parquet(
            f"{args.state}/job={args.job_id}/extracted/round=*"
        ).select("url", F.col("fetch_ts").alias("warc_ts"), "text")
        manifest = export_wet(docs, args.out, compress=not args.no_compress)
    else:
        pages = spark.read.parquet(f"{args.corpus}/pages.parquet").select(
            "url",
            F.current_timestamp().alias("warc_ts"),
            F.col("html").cast("binary").alias("html"),
        )
        manifest = export_warc(pages, args.out, compress=not args.no_compress)
    rows = manifest.collect()
    print(
        json.dumps(
            {
                "out": args.out,
                "shards": len(rows),
                "n_records": sum(r["n_records"] for r in rows),
                "n_bytes": sum(r["n_bytes"] for r in rows),
            }
        )
    )


def _suggest(args) -> None:
    from .operators.analytics import query_log
    from .operators.search import suggest
    from .session import get_spark

    spark = get_spark(cores=args.cores)
    qlog = query_log(spark, args.log)
    out = suggest(qlog, args.prefix, k=args.topk, results_col="results_count")
    for row in out.collect():
        print(json.dumps(row.asDict(), default=str))


def _stats(args) -> None:
    from .config import CrawlConfig
    from .operators import stats
    from .operators.scheduler import CrawlScheduler
    from .session import get_spark

    spark = get_spark(cores=args.cores)
    sched = CrawlScheduler(spark, None, None, args.state, CrawlConfig(job_id=args.job_id))
    front = sched.frontier()
    out = {
        "by_status": {r["status"]: r["n"] for r in stats.status_counts(front).collect()},
        "top_domains": [
            (r["host"], r["n"]) for r in stats.top_domains(front).collect()
        ],
        "lineage_rounds": sched.committed_rounds(),
        "urls_total": front.count(),
    }
    print(json.dumps(out))


def _build_corpus(args) -> None:
    from .corpus import build_html_corpus
    from .session import get_spark

    spark = get_spark(cores=args.cores)
    out = build_html_corpus(
        spark, args.sf_dir, args.out,
        text_repeat=args.text_repeat, extra_links=args.extra_links,
    )
    print(json.dumps({"corpus": out}))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="distributed_crawler_spark")
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--job-id", default="job-test-0001",
                   help="frontier job scope (multi-job state_dir)")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl", help="run/resume a crawl (client.py analog)")
    c.add_argument("--corpus", required=True)
    c.add_argument("--state", required=True)
    c.add_argument("--seeds", help="text file, one URL per line")
    c.add_argument("--max-depth", type=int, default=3)
    c.add_argument("--budget", type=int, default=100)
    c.add_argument("--max-retries", type=int, default=3)
    c.add_argument("--resume", action="store_true")
    c.set_defaults(fn=_crawl)

    rs = sub.add_parser(
        "resend", help="re-queue failed URLs and resume (resend_urls analog)"
    )
    rs.add_argument("--corpus", required=True)
    rs.add_argument("--state", required=True)
    rs.add_argument("--max-depth", type=int, default=3)
    rs.add_argument("--budget", type=int, default=100)
    rs.add_argument("--max-retries", type=int, default=3)
    rs.set_defaults(fn=_resend)

    sm = sub.add_parser(
        "submit", help="submit URLs into an existing crawl (submit_url.py analog)"
    )
    sm.add_argument("url", nargs="*", help="URLs to submit")
    sm.add_argument("--urls-file", default=None, help="text file, one URL per line")
    sm.add_argument("--corpus", required=True)
    sm.add_argument("--state", required=True)
    sm.add_argument("--max-depth", type=int, default=3)
    sm.add_argument("--budget", type=int, default=100)
    sm.add_argument("--no-run", action="store_true",
                    help="only enqueue; do not resume the crawl")
    sm.set_defaults(fn=_submit)

    ix = sub.add_parser(
        "index", help="build a persistent index snapshot (indexer_node analog)"
    )
    ix.add_argument("--state", required=True)
    ix.add_argument("--out", required=True)
    ix.add_argument("--analyzer", choices=["stemmed", "raw"], default="stemmed",
                    help="term pipeline: 'stemmed' = the reference's "
                         "lower/stopword/Porter analyzer; 'raw' = "
                         "whitespace tokens")
    ix.add_argument("--no-positions", action="store_true",
                    help="skip positional postings (disables phrase "
                         "queries against this snapshot)")
    ix.add_argument("--multifield", action="store_true",
                    help="one snapshot per field (title/body) for "
                         "`search --index DIR --mode query`")
    ix.set_defaults(fn=_index)

    ii = sub.add_parser("index-inspect", help="print index snapshot metadata")
    ii.add_argument("--index", required=True)
    ii.set_defaults(fn=_index_inspect)

    idrop = sub.add_parser("index-drop", help="delete an index snapshot")
    idrop.add_argument("--index", required=True)
    idrop.set_defaults(fn=_index_drop)

    s = sub.add_parser("search", help="search extracted docs (search.py analog)")
    s.add_argument("query")
    s.add_argument("--state", default=None)
    s.add_argument("--index", default=None,
                   help="query a persisted index snapshot instead of rebuilding")
    s.add_argument("--scoring", choices=["tf", "bm25f"], default="tf",
                   help="leaf scoring for --mode query on an index")
    s.add_argument("--slop", type=int, default=1,
                   help="max gap between consecutive phrase words for "
                        "--mode phrase (Whoosh SpanNear2 semantics: "
                        "in-order spans, occurrence count = distinct "
                        "(start, end) spans; 1 = exact adjacency)")
    s.add_argument("--mode", choices=["bm25", "tf", "substring", "query", "phrase"],
                   default="bm25",
                   help="'query' = composed multifield query language "
                        "(fielded terms, phrases, wildcard, fuzzy, AND/OR/NOT). "
                        "NOTE: quoted phrases are ANALYZED on the --index "
                        "path (stemmed index: stopwords dropped, words "
                        "stemmed, adjacency in the analyzed stream) but "
                        "matched as RAW TEXT on the live --state path — "
                        "the same quoted string can return different doc "
                        "sets on the two paths")
    s.add_argument("--topk", type=int, default=10)
    s.add_argument("--track", default=None,
                   help="analytics log dir: record this search (query + "
                        "results count) for `suggest`")
    s.add_argument("--enrich", action="store_true",
                   help="join results with frontier status/depth")
    s.set_defaults(fn=_search)

    ex = sub.add_parser(
        "export",
        help="write WET (--state: extracted text) or WARC (--corpus: "
             "html pages) archive shards",
    )
    ex.add_argument("--state", default=None)
    ex.add_argument("--corpus", default=None)
    ex.add_argument("--out", required=True)
    ex.add_argument("--no-compress", action="store_true")
    ex.set_defaults(fn=_export)

    sg = sub.add_parser(
        "suggest",
        help="prefix suggestions from the tracked search log "
             "(get_search_suggestions analog)",
    )
    sg.add_argument("prefix")
    sg.add_argument("--log", required=True)
    sg.add_argument("--topk", type=int, default=5)
    sg.set_defaults(fn=_suggest)

    st = sub.add_parser("stats", help="crawl status (dashboard analog)")
    st.add_argument("--state", required=True)
    st.set_defaults(fn=_stats)

    b = sub.add_parser("build-corpus", help="synthesize an HTML page corpus")
    b.add_argument("--sf-dir", required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--text-repeat", type=int, default=1)
    b.add_argument("--extra-links", type=int, default=0)
    b.set_defaults(fn=_build_corpus)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
