"""Search & ranking — the reference's "query engine" rebuilt as DataFrame
aggregation (SURVEY.md §2.8).

Reference semantics reproduced:
  * postings build      — indexer's term→(url, tf) index (Whoosh schema,
    indexer_node.py:108-118; add_document 181-225) as explode + groupBy.
  * TF scoring          — search_interface.py:436-441 (sum stored per-url
    term counts for query terms).
  * BM25 ranking        — Whoosh's default BM25F retrieval
    (indexer_node.py:246-251); classic BM25 with k1=1.2, b=0.75 and the
    Lucene/Robertson idf = ln(1 + (N - df + 0.5)/(df + 0.5)).
  * substring scoring   — search_interface.py:209-227 (+3 title contains,
    +2 description contains) and the term-granular variant :496-590.
  * per-doc top-k terms — indexer_node.py:91-93 FreqDist.most_common(10).
  * suggest             — search_interface.py:822-846 (prefix + frequency
    top-5).

Scale notes: postings/docstats are built once per corpus snapshot (at
cluster scale: written as an Iceberg table bucketed by term). Per-query
work touches only the query terms' postings — Catalyst pushes
``term IN (...)`` into the parquet scan. The df/idf side of BM25 is a
handful of rows per query → broadcast. Scores are rounded to 4 decimals
to make cross-engine comparison (and top-k tie-breaks) deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75
SCORE_DECIMALS = 4

# persisted stemmed-postings of the most recent bm25 call (dropped on the
# next call — keeps repeated queries from accumulating storage)
_BM25_LIVE_CACHES: list[DataFrame] = []


def tokenize(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokenization (portable to the SQL oracle; the NLTK
    stem/stopword pipeline of indexer_node.py:75-94 is in
    functions/text.py as the non-oracle path)."""
    return df.withColumn("token", F.explode(F.split(F.col(text_col), " "))).filter(
        F.col("token") != ""
    )


def build_postings(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc, term, tf) — the inverted index as a table."""
    return (
        tokenize(docs.select(id_col, text_col), text_col)
        .groupBy(id_col, F.col("token").alias("term"))
        .agg(F.count("*").alias("tf"))
    )


def stemmed_tokens(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc, token) through the reference indexer's full analyzer
    (indexer_node.py:75-94: lower → alnum tokenize → stopword filter →
    Porter stem) — what the Whoosh index actually stores, so a query for
    'running' matches a doc containing 'run'. One Arrow-vectorized UDF
    (asNondeterministic: pure, but Catalyst must not duplicate it when
    the array feeds explode alongside the id column)."""
    from ..functions.text import process_text_udf

    stem = process_text_udf.asNondeterministic()
    return docs.select(
        F.col(id_col), F.explode(stem(F.col(text_col))).alias("token")
    )


def build_postings_stemmed(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc, term, tf) over STEMMED terms — the parity twin of the
    reference's NLTK-processed Whoosh index (indexer_node.py:75-94,216)."""
    return (
        stemmed_tokens(docs, id_col, text_col)
        .groupBy(id_col, F.col("token").alias("term"))
        .agg(F.count("*").alias("tf"))
    )


def build_postings_pos(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc, term, tf, positions) over whitespace tokens — positional
    postings (the Whoosh TEXT field stores term positions by default,
    indexer_node.py:108-118), enabling phrase queries against the index
    instead of a raw-text scan. Positions are 0-based indices into the
    split; empty tokens (double spaces) keep their slots so adjacency
    means literal adjacency in the source text."""
    toks = docs.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "token")
    ).filter(F.col("token") != "")
    return toks.groupBy(id_col, F.col("token").alias("term")).agg(
        F.count("*").alias("tf"),
        F.sort_array(F.collect_list("pos")).alias("positions"),
    )


def build_postings_stemmed_pos(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc, term, tf, positions) over STEMMED terms. Positions index the
    POST-analyzer token stream (stopwords removed, stream renumbered) —
    so an analyzed phrase query ("breaking the news" → [break, news])
    matches by plain adjacency, the same renumbering applied to both
    sides. (Whoosh keeps pre-filter positions with gaps; the renumbered
    form is equivalent for adjacency once both sides use one analyzer,
    and documented as the divergence.)"""
    from ..functions.text import process_text_udf

    stem = process_text_udf.asNondeterministic()
    toks = docs.select(
        F.col(id_col), F.posexplode(stem(F.col(text_col))).alias("pos", "token")
    )
    return toks.groupBy(id_col, F.col("token").alias("term")).agg(
        F.count("*").alias("tf"),
        F.sort_array(F.collect_list("pos")).alias("positions"),
    )


def doc_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stemmed: bool = False,
) -> DataFrame:
    """(doc, dl) document lengths in (analyzed) tokens."""
    toks = (
        stemmed_tokens(docs.select(id_col, text_col), id_col, text_col)
        if stemmed
        else tokenize(docs.select(id_col, text_col), text_col)
    )
    return toks.groupBy(id_col).agg(F.count("*").alias("dl"))


def tf_scores(
    postings: DataFrame, query_terms: list[str], id_col: str = "doc_id", topk: int = 10
) -> DataFrame:
    """search_interface.py:436-441: score = Σ tf over query terms."""
    return (
        postings.filter(F.col("term").isin(query_terms))
        .groupBy(id_col)
        .agg(F.sum("tf").alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(topk)
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    topk: int = 10,
    stemmed: bool = False,
) -> DataFrame:
    """Classic BM25 over the postings table, fully declarative:

        score(d, q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))

    idf/df/avgdl are tiny aggregates (broadcast side); the only big join
    keys on the postings of the query terms (pre-filtered scan).
    With ``stemmed``, postings and dl use the reference's NLTK-analyzer
    twin (pass query_terms already stemmed, e.g. via process_text_py);
    the stemmed postings are persisted for the plan's lifetime so the
    Porter UDF runs ONE pass (stats/df/avgdl all derive from it), with
    the previous invocation's cache dropped on entry.
    """
    if stemmed:
        for df in _BM25_LIVE_CACHES:
            df.unpersist()
        _BM25_LIVE_CACHES.clear()
        postings = build_postings_stemmed(docs, id_col, text_col).persist()
        _BM25_LIVE_CACHES.append(postings)
    else:
        # eager: stats, df, avgdl and the scoring join all consume this
        # frame — several as independent broadcast-subquery jobs that
        # would each recompute the tokenize+aggregate pipeline
        postings = build_postings(docs, id_col, text_col).localCheckpoint(
            eager=True
        )
    # dl = Σ tf over the doc's terms — identical to a separate token-count
    # pass but reuses the postings (zero-token docs are absent from both)
    stats = postings.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))
    n_docs = docs.agg(F.count("*").alias("n"))
    qp = postings.filter(F.col("term").isin(query_terms))
    df_t = qp.groupBy("term").agg(F.count("*").alias("df"))
    avgdl = stats.agg(F.avg("dl").alias("avgdl"))

    idf = (
        df_t.crossJoin(F.broadcast(n_docs))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            ),
        )
        .select("term", "idf")
    )

    scored = (
        qp.join(F.broadcast(idf), "term")
        .join(stats, id_col)
        .crossJoin(F.broadcast(avgdl))
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (K1 + 1))
            / (
                F.col("tf")
                + F.lit(K1)
                * (F.lit(1 - B) + F.lit(B) * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("term_score"), SCORE_DECIMALS).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(topk)


def substring_scores(
    docs: DataFrame,
    query: str,
    title_col,
    desc_col,
    id_col: str = "doc_id",
    topk: int = 20,
) -> DataFrame:
    """search_interface.py:209-227 (v1): 3 if query in title else 2 if in
    description; keep score>0, top-k. title_col/desc_col are Columns."""
    q = F.lit(query.lower())
    score = (
        F.when(F.contains(F.lower(title_col), q), F.lit(3))
        .when(F.contains(F.lower(desc_col), q), F.lit(2))
        .otherwise(F.lit(0))
    )
    return (
        docs.select(F.col(id_col), score.alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(topk)
    )


def term_boost_scores(
    docs: DataFrame,
    query_terms: list[str],
    title_col,
    desc_col,
    id_col: str = "doc_id",
    topk: int = 20,
) -> DataFrame:
    """Term-granular variant (search_interface.py:496-590): +3 per term in
    title, +1 per term in description; additive when-chain, no UDF."""
    score = F.lit(0)
    for t in query_terms:
        tl = F.lit(t.lower())
        score = (
            score
            + F.when(F.contains(F.lower(title_col), tl), F.lit(3)).otherwise(F.lit(0))
            + F.when(F.contains(F.lower(desc_col), tl), F.lit(1)).otherwise(F.lit(0))
        )
    return (
        docs.select(F.col(id_col), score.alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(topk)
    )


def top_terms_per_doc(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 10
) -> DataFrame:
    """indexer_node.py:91-93: FreqDist(tokens).most_common(10) per doc —
    ranking window, deterministic tie-break on term."""
    postings = build_postings(docs, id_col, text_col)
    w = Window.partitionBy(id_col).orderBy(F.desc("tf"), F.col("term"))
    return (
        postings.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "rank")
    )


def suggest(
    queries_df: DataFrame,
    prefix: str,
    query_col: str = "query",
    k: int = 5,
    results_col: str | None = None,
) -> DataFrame:
    """search_interface.py:822-846: repeated queries with prefix,
    frequency-ordered top-5. When ``results_col`` is given, queries whose
    every occurrence returned zero results are dropped
    (search_interface.py:835-841 ``if data['has_results']``)."""
    grouped = queries_df.filter(F.col(query_col).startswith(prefix)).groupBy(
        query_col
    )
    if results_col is not None:
        agg = grouped.agg(
            F.count("*").alias("freq"),
            F.max(results_col).alias("_max_results"),
        ).filter(F.col("_max_results") > 0)
    else:
        agg = grouped.agg(F.count("*").alias("freq"))
    return (
        agg.select(query_col, "freq")
        .orderBy(F.desc("freq"), F.col(query_col))
        .limit(k)
    )


def highlight_snippets(
    docs: DataFrame,
    term: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    frag_chars: int = 150,
    surround: int = 50,
) -> DataFrame:
    """Search-result highlighting (indexer_node.py:253-280: Whoosh
    HtmlFormatter + ContextFragmenter with maxchars=150, surround=50):
    a window of ``frag_chars`` starting ``surround`` before the first
    case-insensitive match, match wrapped in <b></b>. JVM-native
    (locate/substr/regexp_replace) — no UDF."""
    import re as _re

    pos = F.locate(term.lower(), F.lower(F.col(text_col)))
    start = F.greatest(pos - surround, F.lit(1))
    snippet = F.substring(F.col(text_col), start.cast("int"), frag_chars)
    # escape the term (regex metachars like 'c++', 'a.b' must match
    # literally) and $/\ in the replacement (Java Matcher group syntax)
    highlighted = F.regexp_replace(
        snippet, "(?i)(" + _re.escape(term) + ")", "<b>$1</b>"
    )
    return (
        docs.filter(pos > 0)
        .select(F.col(id_col), highlighted.alias("snippet"))
    )


def highlight_snippets_multi(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    frag_chars: int = 150,
    surround: int = 50,
) -> DataFrame:
    """Multi-term highlighting (Whoosh ContextFragmenter semantics,
    indexer_node.py:253-280): one fragment per (doc, query term) PRESENT
    in the doc — a window of ``frag_chars`` starting ``surround`` before
    that term's first case-insensitive match — and EVERY query term
    occurring inside the fragment is <b>-wrapped (the r02 version
    fragmented only around one term's first match). Fully native: the
    term list is exploded (a handful of rows per doc), locate/substr/
    regexp_replace stay in whole-stage codegen."""
    import re as _re

    terms_arr = F.array(*[F.lit(t.lower()) for t in terms])
    e = (
        docs.select(F.col(id_col), F.col(text_col))
        # lower once per doc, not once per (doc, term) after the explode
        .withColumn("__ltext", F.lower(F.col(text_col)))
        .withColumn("term", F.explode(terms_arr))
    )
    pos = F.expr("locate(term, __ltext)")
    start = F.greatest(pos - surround, F.lit(1))
    snippet = F.substring(F.col(text_col), start.cast("int"), frag_chars)
    combined = "(?i)(" + "|".join(_re.escape(t) for t in terms) + ")"
    highlighted = F.regexp_replace(snippet, combined, "<b>$1</b>")
    return e.filter(pos > 0).select(
        F.col(id_col), "term", highlighted.alias("snippet")
    )


def expand_fuzzy_terms(
    term_dict: DataFrame, query_term: str, max_edits: int = 1
) -> list[str]:
    """Resolve a fuzzy query term against the term DICTIONARY — Whoosh's
    own fuzzy algorithm (FuzzyTerm expands against the term dict, then
    does ordinary postings lookups; indexer_node.py:233-239): the edit
    distance runs over DISTINCT terms only, never over postings rows.
    ``term_dict`` is any DataFrame with a ``term`` column (a snapshot's
    termstats table, or ``postings.select("term").distinct()`` on live
    paths). Returns the matched terms sorted (deterministic plans), to be
    fed back as an ``isin`` literal predicate that Catalyst pushes to the
    term-sorted postings scan. At scale postings >> distinct terms, so
    this is the difference between scanning the corpus index and
    scanning a dictionary (VERDICT r04 wrong #1)."""
    rows = (
        term_dict.select("term")
        .distinct()
        .filter(F.levenshtein(F.col("term"), F.lit(query_term)) <= max_edits)
        .collect()
    )
    return sorted(r["term"] for r in rows)


def fuzzy_tf_scores(
    docs: DataFrame,
    query_term: str,
    max_edits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    topk: int = 10,
) -> DataFrame:
    """Fuzzy term search (Whoosh FuzzyTermPlugin analog,
    indexer_node.py:233-239): terms within ``max_edits`` Levenshtein
    distance of the query term, tf summed per doc. Two-step like Whoosh:
    expand against the term dictionary first (levenshtein over distinct
    terms only), then match postings with the resolved term set — the
    match plan carries no edit-distance computation at all."""
    postings = build_postings(docs, id_col, text_col)
    terms = expand_fuzzy_terms(postings, query_term, max_edits)
    pred = F.col("term").isin(terms) if terms else F.lit(False)
    return (
        postings.filter(pred)
        .groupBy(id_col)
        .agg(F.sum("tf").alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(topk)
    )


def phrase_match(
    docs: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Phrase search (Whoosh PhrasePlugin analog): exact-phrase
    occurrence count per doc via length arithmetic — no UDF, no regex."""
    text = F.col(text_col)
    n_occ = (
        (F.length(text) - F.length(F.replace(text, F.lit(phrase), F.lit(""))))
        / len(phrase)
    ).cast("long")
    return docs.select(F.col(id_col), n_occ.alias("n_occurrences")).filter(
        F.col("n_occurrences") > 0
    )


def phrase_scores_positional(
    postings: DataFrame, words: list[str], id_col: str = "doc_id", slop: int = 1
) -> DataFrame:
    """Phrase matching against POSITIONAL postings with WHOOSH SEMANTICS
    (PhrasePlugin over a positional TEXT field, indexer_node.py:108-118,
    :238). Whoosh lowers a phrase to ``SpanNear2(terms, slop, ordered=
    True, mindist=1)`` (whoosh/query/positional.py Phrase.matcher;
    spans.py SpanNear2._get_spans): spans fold left-to-right — a span
    (s, e) extends to the next word's position q iff q - e ∈ [1, slop]
    (ordered needs q ≥ s; mindist=1 rejects overlap, so q > e), merging
    to (s, q) — and the match count is the number of DISTINCT merged
    spans, a SET (two chains sharing an end but starting differently are
    two occurrences; "a a b" at slop 2 has spans (0,2) and (1,2)).

    slop=1 (exact adjacency, the Whoosh default; '"a b"~N' raises it)
    keeps the cheaper end-position form — with every gap exactly 1 the
    start is determined by the end, so distinct ends ≡ distinct spans —
    as an array intersection with the previous candidates shifted by
    one. slop>1 carries (start, end) span structs through higher-order
    array functions over the (tiny, per-doc) position arrays. Each
    word's predicate is a term equality pushed to the (term-sorted)
    postings scan; the joins key on the doc id and each side is only
    that term's rows — no raw-text scan anywhere. Duplicate words in the
    phrase reuse the same postings row at different chain depths, which
    both forms handle naturally."""
    if not words:
        raise ValueError("empty phrase")
    if slop < 1:
        raise ValueError(f"slop must be >= 1, got {slop}")
    cand = None
    for i, w in enumerate(words):
        part = postings.filter(F.col("term") == w).select(
            F.col(id_col), F.col("positions").alias(f"__pos{i}")
        )
        if cand is None:
            if slop == 1:
                cand = part.withColumnRenamed("__pos0", "__cand")
            else:
                cand = part.select(
                    F.col(id_col),
                    F.transform(
                        F.col("__pos0"),
                        lambda p: F.struct(p.alias("s"), p.alias("e")),
                    ).alias("__cand"),
                )
            continue
        joined = cand.join(part, id_col)
        if slop == 1:
            new_cand = F.array_intersect(
                F.transform(F.col("__cand"), lambda p: p + F.lit(1)),
                F.col(f"__pos{i}"),
            )
        else:
            # SpanNear2 step: every (span, q) pair with q - span.e in
            # [1, slop] merges to (span.s, q); array_distinct is the
            # span SET (sorted() over a set in whoosh)
            new_cand = F.array_distinct(
                F.flatten(
                    F.transform(
                        F.col(f"__pos{i}"),
                        lambda q: F.transform(
                            F.filter(
                                F.col("__cand"),
                                lambda sp: ((q - sp["e"]) >= F.lit(1))
                                & ((q - sp["e"]) <= F.lit(slop)),
                            ),
                            lambda sp: F.struct(sp["s"].alias("s"), q.alias("e")),
                        ),
                    )
                )
            )
        cand = joined.select(F.col(id_col), new_cand.alias("__cand"))
    return (
        cand.select(F.col(id_col), F.size("__cand").cast("long").alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )


def phrase_from_index(
    spark, index_dir: str, phrase: str, topk: int | None = None, slop: int = 1
) -> DataFrame:
    """Phrase search against the persisted index snapshot — the analyzer
    recorded in meta.json is applied to the phrase (stemmed index ⇒ the
    query words go through the same lower/stopword/Porter pipeline, so
    'breaking the news' matches the renumbered [break, news] stream),
    then matched by position adjacency. Requires a positions-bearing
    snapshot (write_index_snapshot positions=True)."""
    import json
    import os

    if not os.path.exists(os.path.join(index_dir, "meta.json")) and os.path.exists(
        os.path.join(index_dir, "fields.json")
    ):
        raise ValueError(
            "this is a multifield index root: point at one field "
            "(index_dir/field=NAME) or run the phrase through "
            "search_composed_indexed as a quoted query"
        )
    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    if not meta.get("positions"):
        raise ValueError(
            "index snapshot has no positional postings; rebuild with "
            "write_index_snapshot(..., positions=True) for phrase queries"
        )
    if meta.get("analyzer", "stemmed") == "stemmed":
        from ..functions.text import process_text_py

        words = process_text_py(phrase)
        if not words:
            raise ValueError(f"phrase analyzes to no terms: {phrase!r}")
    else:
        words = [w for w in phrase.split(" ") if w]
    postings = spark.read.parquet(os.path.join(index_dir, "postings"))
    out = phrase_scores_positional(postings, words, meta["id_col"], slop=slop)
    if topk is not None:
        out = out.orderBy(F.desc("n_occurrences"), F.col(meta["id_col"])).limit(topk)
    return out


def wildcard_tf_scores(
    docs: DataFrame,
    prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    topk: int = 10,
) -> DataFrame:
    """Wildcard term search (Whoosh WildcardPlugin analog): 'prefix*'
    terms, tf summed per doc. The startswith predicate is
    codegen-friendly (no regex engine in the hot loop)."""
    postings = build_postings(docs, id_col, text_col)
    return (
        postings.filter(F.col("term").startswith(prefix))
        .groupBy(id_col)
        .agg(F.sum("tf").alias("score"), F.countDistinct("term").alias("n_terms"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(topk)
    )


class SearchCache:
    """Result cache with TTL + bounded size
    (search_interface.py:44-63: dict cache, 300 s TTL, ~LRU at 100
    entries). Driver-side memo over collected top-k results — top-k
    outputs are tiny, so caching rows (not DataFrames) avoids pinning
    executors' memory. Clock injectable for deterministic tests."""

    def __init__(self, ttl_seconds: float = 300.0, max_entries: int = 100, clock=None):
        import time as _time

        self.ttl = ttl_seconds
        self.max_entries = max_entries
        self._clock = clock or _time.monotonic
        self._store: dict[str, tuple[float, list]] = {}
        self.hits = 0
        self.misses = 0

    def get_or_compute(self, key: str, compute):
        now = self._clock()
        entry = self._store.get(key)
        if entry is not None and now - entry[0] <= self.ttl:
            self.hits += 1
            # LRU touch: re-insert to the end (dicts preserve order)
            self._store[key] = self._store.pop(key)
            return entry[1]
        self.misses += 1
        rows = compute()
        self._store.pop(key, None)
        self._store[key] = (now, rows)
        while len(self._store) > self.max_entries:
            self._store.pop(next(iter(self._store)))  # evict oldest
        return rows


def bm25f_scores(
    fields: list[tuple[DataFrame, float, float]],
    query_terms: list[str],
    n_docs: DataFrame,
    id_col: str = "doc_id",
    topk: int = 10,
) -> DataFrame:
    """BM25F — Whoosh's actual default scorer (indexer_node.py:23,246-251
    searches title/content/description/keywords as weighted fields).

    ``fields`` is [(docs_df with (id, text), boost, b_field)]. Per-field
    term frequencies are length-normalized with the field's own b and
    avg length, boost-weighted, and summed into one pseudo-frequency
    before the k1 saturation:

        wtf(t,d) = Σ_f boost_f · tf_{t,f,d} / (1 − b_f + b_f·len_f/avglen_f)
        score(d) = Σ_t idf(t) · wtf / (k1 + wtf)

    All aggregation-and-join declarative; idf from the union of fields.
    """
    parts = []
    for i, (docs, boost, b_f) in enumerate(fields):
        postings = build_postings(docs, id_col)
        stats = doc_stats(docs, id_col)
        avgdl = stats.agg(F.avg("dl").alias("avgdl"))
        norm_tf = (
            postings.filter(F.col("term").isin(query_terms))
            .join(stats, id_col)
            .crossJoin(F.broadcast(avgdl))
            .select(
                id_col,
                "term",
                (
                    F.lit(boost)
                    * F.col("tf")
                    / (F.lit(1 - b_f) + F.lit(b_f) * F.col("dl") / F.col("avgdl"))
                ).alias("wtf"),
            )
        )
        parts.append(norm_tf)
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    wtf = union.groupBy(id_col, "term").agg(F.sum("wtf").alias("wtf"))

    # document frequency over any field
    df_any = wtf.groupBy("term").agg(F.count("*").alias("df"))
    idf = (
        df_any.crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            F.log(
                F.lit(1.0)
                + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    return (
        wtf.join(F.broadcast(idf), "term")
        .withColumn("term_score", F.col("idf") * F.col("wtf") / (F.lit(K1) + F.col("wtf")))
        .groupBy(id_col)
        .agg(F.round(F.sum("term_score"), SCORE_DECIMALS).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(topk)
    )


# ---- persistent index snapshot (the Whoosh on-disk index analog) ---------

def write_index_snapshot(
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 16,
    analyzer: str = "stemmed",
    positions: bool = True,
) -> str:
    """indexer_node.py:181-225 analog: persist the inverted index once
    per corpus snapshot — postings (doc, term, tf, positions)
    range-partitioned and sorted BY TERM (parquet row-group min/max stats
    make a ``term IN (...)`` query skip everything else), doc lengths,
    and the corpus constants (n_docs, avgdl) in meta.json. Queries then
    run against the index with ZERO per-query Python (the Porter pass
    happens here, once — exactly the reference's indexer-node/search
    split). ``analyzer`` picks the term pipeline: "stemmed" (the
    reference's StemmingAnalyzer twin — default) or "raw" (whitespace
    tokens, SQL-oracle-portable). ``positions`` stores per-term position
    arrays (Whoosh TEXT fields store positions by default,
    indexer_node.py:108-118) so phrase queries run against the index."""
    import json
    import os

    builders = {
        ("stemmed", True): build_postings_stemmed_pos,
        ("stemmed", False): build_postings_stemmed,
        ("raw", True): build_postings_pos,
        ("raw", False): build_postings,
    }
    postings = builders[(analyzer, positions)](docs, id_col, text_col).persist()
    (
        postings.repartitionByRange(buckets, F.col("term"))
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(os.path.join(index_dir, "postings"))
    )
    stats = postings.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))
    stats.write.mode("overwrite").parquet(os.path.join(index_dir, "docstats"))
    # term statistics (the Whoosh term-dictionary df): precomputed once so
    # query-time idf is a pushed filter on this tiny table instead of a
    # groupBy-shuffle over every matched posting (a wildcard matching a
    # hot prefix would otherwise aggregate millions of rows per query)
    (
        postings.groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
        .repartitionByRange(max(buckets // 4, 1), F.col("term"))
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(os.path.join(index_dir, "termstats"))
    )
    n_docs = stats.count()
    avgdl = stats.agg(F.avg("dl").alias("a")).collect()[0]["a"] or 0.0
    postings.unpersist()
    with open(os.path.join(index_dir, "meta.json"), "w") as f:
        json.dump(
            {
                "n_docs": n_docs,
                "avgdl": avgdl,
                "id_col": id_col,
                "analyzer": analyzer,
                "positions": positions,
            },
            f,
        )
    return index_dir


def _read_index(spark, index_dir: str):
    import json
    import os

    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    postings = spark.read.parquet(os.path.join(index_dir, "postings"))
    stats = spark.read.parquet(os.path.join(index_dir, "docstats"))
    return postings, stats, meta


def tf_from_index(
    spark, index_dir: str, query_terms: list[str], topk: int = 10
) -> DataFrame:
    """TF scoring against the persisted index: the term filter reaches the
    parquet scan (row-group skip), no tokenization at query time."""
    postings, _, meta = _read_index(spark, index_dir)
    return tf_scores(postings, query_terms, meta["id_col"], topk)


def bm25_from_index(
    spark, index_dir: str, query_terms: list[str], topk: int = 10
) -> DataFrame:
    """BM25 against the persisted index. n/avgdl come from meta.json as
    LITERALS — the per-query 1-row crossJoins of the build-on-the-fly
    path disappear; the only joins are the query-term postings (pushed
    scan) × broadcast idf × docstats. df comes from the precomputed
    termstats (a snapshot's table, or a stream-maintained index's
    base-plus-deltas LSM view — streaming/indexer.py read_termstats);
    indexes without term stats fall back to a groupBy over the matched
    postings."""
    from ..streaming.indexer import read_termstats

    postings, stats, meta = _read_index(spark, index_dir)
    id_col = meta["id_col"]
    n, avgdl = float(meta["n_docs"]), float(meta["avgdl"]) or 1.0

    qp = postings.filter(F.col("term").isin(query_terms))
    ts = read_termstats(spark, index_dir)
    if ts is not None:
        df_t = ts.filter(F.col("term").isin(query_terms))
    else:
        df_t = qp.groupBy("term").agg(F.count("*").alias("df"))
    idf = (
        df_t.withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.lit(n) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            ),
        )
        .select("term", "idf")
    )
    scored = (
        qp.join(F.broadcast(idf), "term")
        .join(stats, id_col)
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (K1 + 1))
            / (
                F.col("tf")
                + F.lit(K1) * (F.lit(1 - B) + F.lit(B) * F.col("dl") / F.lit(avgdl))
            ),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("term_score"), SCORE_DECIMALS).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(topk)
