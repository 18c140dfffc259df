"""Text analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting — all native
column expressions (JVM, codegen'd; zero Python).

These extend the reference's indexer text pipeline (indexer_node.py:75-94
tokenize/stopword/stem) to the filters a web-scale corpus pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import phash

# tiny function-word marker lists per language (n-gram heuristic stand-in:
# highest marker-hit-rate wins; 'unk' when nothing matches)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "es": ["el", "la", "los", "que", "es", "y", "un", "una"],
    "fr": ["le", "la", "les", "est", "et", "un", "une", "que"],
}

EN_STOPWORDS = [
    "the", "and", "of", "to", "a", "in", "that", "it", "is", "was",
    "for", "on", "are", "as", "with", "his", "they", "i", "at", "be",
]


def _tokens(text_col):
    return F.filter(F.split(text_col, " "), lambda t: t != "")


def token_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace token count + a BPE-ish subword proxy count
    (alnum runs and single punctuation marks, the usual pre-tokenizer
    regex shape)."""
    toks = _tokens(F.col(text_col))
    bpe_ish = F.regexp_extract_all(
        F.col(text_col), F.lit(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"), 0
    )
    return docs.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(bpe_ish).alias("n_subword_tokens"),
        F.length(F.col(text_col)).alias("n_chars_measured"),
    )


def language_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Marker-word language ID: for each language, the fraction of tokens
    that are marker words; argmax wins (ties broken by max language code).
    Returns (id, pred_lang, best_ratio).

    Plan: explode tokens once → broadcast-join a (token, langs[]) marker
    table → ONE hash aggregate per doc with conditional per-lang sums —
    everything whole-stage-codegen'd, one shuffle. (The earlier version
    ran 4 higher-order lambda filters per row; HOFs are interpreted, and
    it was 13.8 s / 31% of the bench suite at sf0.1.) Markers shared by
    two languages (la/que/un es+fr) are one row with both langs so the
    left join never duplicates token rows and n stays exact."""
    spark = docs.sparkSession
    token_langs: dict[str, list[str]] = {}
    for lang, markers in sorted(LANG_MARKERS.items()):
        for m in markers:
            token_langs.setdefault(m, []).append(lang)
    marker_df = spark.createDataFrame(
        [(t, sorted(ls)) for t, ls in sorted(token_langs.items())],
        "token STRING, langs ARRAY<STRING>",
    )

    exploded = docs.select(
        F.col(id_col),
        # explode_outer keeps empty docs as one null-token row, so the
        # aggregate still emits them (n clamps to 1, all hits 0 → 'unk')
        F.explode_outer(_tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    joined = exploded.join(F.broadcast(marker_df), "token", "left")
    aggs = [
        F.greatest(
            F.sum(F.when(F.col("token").isNotNull(), 1).otherwise(0)), F.lit(1)
        ).alias("n")
    ]
    for lang in sorted(LANG_MARKERS):
        aggs.append(
            F.sum(
                F.when(F.array_contains("langs", lang), 1).otherwise(0)
            ).alias(f"h_{lang}")
        )
    per_doc = joined.groupBy(id_col).agg(*aggs)

    # argmax by (ratio, lang): array_max on structs orders by first field
    # then second, so ties deterministically pick the max lang code.
    ratio_cols = [
        F.struct(
            F.round(F.col(f"h_{lang}") / F.col("n"), 6).alias("ratio"),
            F.lit(lang).alias("lang"),
        )
        for lang in sorted(LANG_MARKERS)
    ]
    best = F.array_max(F.array(*ratio_cols))
    return per_doc.select(
        F.col(id_col),
        F.when(best["ratio"] > 0, best["lang"]).otherwise(F.lit("unk")).alias("pred_lang"),
        best["ratio"].alias("best_ratio"),
    )


def quality_scores(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality features + composite score:
    length, mean word length, stopword ratio, punctuation ratio,
    alpha ratio. score = stopword_ratio·2 + alpha_ratio − punct_ratio
    clipped to [0, 3] — the usual cheap quality gate shape."""
    text = F.col(text_col)
    toks = _tokens(text)
    n_toks = F.greatest(F.size(toks), F.lit(1))
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
    n_chars = F.greatest(F.length(text), F.lit(1))
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0))
    n_alpha = F.size(F.regexp_extract_all(text, F.lit(r"[a-zA-Z]"), 0))
    mean_wlen = (n_chars - (F.size(toks) - 1)) / n_toks
    stop_ratio = n_stop / n_toks
    punct_ratio = n_punct / n_chars
    alpha_ratio = n_alpha / n_chars
    score = F.least(
        F.greatest(stop_ratio * 2 + alpha_ratio - punct_ratio, F.lit(0.0)),
        F.lit(3.0),
    )
    return docs.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.round(mean_wlen, 4).alias("mean_word_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        F.round(score, 4).alias("quality_score"),
    )


def fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprints: full-content md5, a 60-bit
    numeric fingerprint, and a normalized fingerprint (lowercased,
    whitespace-collapsed) that survives trivial reformatting."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return docs.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("content_md5"),
        phash(F.col(text_col)).alias("fingerprint"),
        F.md5(norm).alias("normalized_md5"),
    )


def repetition_signals(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1:
    high top-n-gram / duplicated-n-gram fractions mark boilerplate and
    spam): per doc,

        top2_frac = occurrences(most frequent 2-gram) * 2 / n_tokens
        dup3_frac = Σ_{3-grams with count >= 2} count * 3 / n_tokens

    token-fraction variants of the paper's character fractions (the
    synthetic corpus is uniform-length words, so they rank identically),
    both capped at 1.0 since overlapping occurrences can push the raw
    ratio over it. All native, ONE PASS: posexplode + per-doc lead()
    window, then every position emits tagged (kind, gram) entries —
    kind 1 = the token (for n_tokens), 2 = bigram, 3 = trigram — so the
    token count, top-bigram count, and duplicated-trigram mass all come
    from one tagged aggregation. The window's doc-id exchange is the
    plan's ONLY shuffle (both groupBys cluster on supersets of the id)
    — the previous three-branch form re-tokenized and re-shuffled the
    corpus once per signal (round 5, plan-asserted)."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok")
    ).filter(F.col("tok") != "")
    w = Window.partitionBy(id_col).orderBy("pos")
    grams = toks.select(
        F.col(id_col),
        F.col("tok"),
        F.lead("tok", 1).over(w).alias("t1"),
        F.lead("tok", 2).over(w).alias("t2"),
    )
    entries = F.array(
        F.struct(F.lit(1).alias("kind"), F.col("tok").alias("gram")),
        F.struct(
            F.lit(2).alias("kind"),
            F.when(
                F.col("t1").isNotNull(), F.concat_ws(" ", "tok", "t1")
            ).alias("gram"),
        ),
        F.struct(
            F.lit(3).alias("kind"),
            F.when(
                F.col("t2").isNotNull(), F.concat_ws(" ", "tok", "t1", "t2")
            ).alias("gram"),
        ),
    )
    counts = (
        grams.select(F.col(id_col), F.explode(entries).alias("e"))
        .select(id_col, F.col("e.kind").alias("kind"), F.col("e.gram").alias("gram"))
        .filter(F.col("gram").isNotNull())
        .groupBy(id_col, "kind", "gram")
        .agg(F.count("*").alias("cnt"))
    )
    per_doc = counts.groupBy(id_col).agg(
        F.sum(F.when(F.col("kind") == 1, F.col("cnt"))).alias("n_tokens"),
        F.max(F.when(F.col("kind") == 2, F.col("cnt"))).alias("top2_cnt"),
        F.sum(
            F.when((F.col("kind") == 3) & (F.col("cnt") >= 2), F.col("cnt"))
        ).alias("dup3_cnt"),
    )
    return per_doc.select(
        F.col(id_col),
        "n_tokens",
        F.round(
            F.least(
                F.lit(1.0),
                F.coalesce(F.col("top2_cnt"), F.lit(0)) * 2.0 / F.col("n_tokens"),
            ),
            4,
        ).alias("top2_frac"),
        F.round(
            F.least(
                F.lit(1.0),
                F.coalesce(F.col("dup3_cnt"), F.lit(0)) * 3.0 / F.col("n_tokens"),
            ),
            4,
        ).alias("dup3_frac"),
    )


def hash_sample(
    docs: DataFrame,
    fraction_pct: int,
    key_col: str = "doc_id",
    seed: str = "s0",
    bucket_col: str | None = None,
) -> DataFrame:
    """DETERMINISTIC corpus sampling (the training-data down-sampling /
    mixing-weights primitive): keep a row iff
    portable_hash(seed || key) mod 100 < fraction_pct. Unlike
    DataFrame.sample(), the decision is a pure function of the key — the
    same rows are selected on every engine, every run, every partition
    layout (reproducible data recipes; per-domain quotas compose by
    keying on the domain). Uses the md5-derived portable hash
    (functions/hashing.py phash; DuckDB twin phash_sql). With
    ``bucket_col`` the 0-99 bucket is kept as an output column."""
    h = phash(F.concat(F.lit(seed), F.col(key_col).cast("string")))
    bucket = F.pmod(h, F.lit(100))
    out = docs.filter(bucket < fraction_pct)
    if bucket_col is not None:
        out = out.withColumn(bucket_col, bucket)
    return out


# GPT-2-style BPE PRE-tokenizer (the "BPE-ish regex"): contractions,
# optional-space letter runs, optional-space digit runs, optional-space
# punctuation runs, whitespace runs. Restricted to the Java-regex ∩ RE2
# subset (the functions/pii.py discipline) so the DuckDB oracle runs the
# SAME pattern: GPT-2's \s+(?!\S) lookahead is not RE2-expressible, so
# interior multi-space runs tokenize as one whitespace token instead of
# reserving the final space — a documented, deterministic divergence.
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc BPE-pretokenizer statistics: token count, distinct-token
    count, and chars-per-token (the LM-cost proxy used to budget
    training corpora — whitespace word counts undercount punctuation-
    and digit-heavy text). One JVM-native regexp_extract_all projection;
    the token array is bound once (Catalyst HOF-inlining discipline)."""
    bound = docs.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("__len"),
        F.regexp_extract_all(
            F.col(text_col), F.lit(BPE_PRETOKEN_RE), 0
        ).alias("__bt"),
    )
    return bound.select(
        F.col(id_col),
        F.size("__bt").alias("n_bpe_tokens"),
        F.size(F.array_distinct("__bt")).alias("n_unique_bpe"),
        F.round(
            F.col("__len") / F.greatest(F.size("__bt"), F.lit(1)), 4
        ).alias("chars_per_token"),
    )


def temperature_mixture_sample(
    docs: DataFrame,
    domain_col: str = "source",
    key_col: str = "doc_id",
    seed: str = "m0",
    target_total: int | None = None,
    granularity: int = 1_000_000,
) -> DataFrame:
    """Temperature-weighted mixture sampling (alpha = 0.5) — the
    multilingual/multi-source re-balancing step of an LM data recipe
    (mC4 / XLM-R style alpha-sampling): a domain with c docs gets an
    expected share proportional to c^alpha, so head domains are
    down-weighted and tail domains up-weighted relative to natural
    frequency.

    The whole computation is INTEGER arithmetic so the result is
    bit-exact across engines, runs, and partition layouts (the
    pagerank_int discipline — no float sums whose value depends on
    reduction order):

        c_d    = count(domain)                       (exact bigint)
        w_d    = floor(sqrt(c_d))                    (IEEE sqrt is
                 correctly rounded, so floor matches on every engine)
        S      = sum_d w_d                           (integer sum, exact)
        T      = target_total (default: corpus_size div 2)
        picks_d = (T * w_d) div S                    (floor division)
        keep doc <=> pmod(phash(seed||key), G) * c_d < picks_d * G

    so each domain keeps ~picks_d docs chosen by the deterministic
    portable hash. The min(1, .) cap is implicit: picks_d >= c_d makes
    the inequality true for every hash value. Overflow bound (bigint):
    with G = 1e6 the largest product is max(G*c_d, T*G) — safe past a
    10^10-doc corpus (1e16 << 2^63).

    Plan shape: one groupBy(domain) count (map-side combined), the
    per-domain picks table broadcast back — no shuffle of the corpus
    itself. Extends the reference's uniform frontier consumption
    (master_node.py task dispatch has no notion of source weighting).
    """
    # materialize the tiny per-domain counts once (localCheckpoint — the
    # graph.py discipline): both the picks table and the (S, N) totals
    # derive from it, and without truncation Catalyst re-expands the
    # lineage into TWO full corpus scans
    counts = (
        docs.groupBy(domain_col)
        .agg(F.count("*").alias("__c"))
        .localCheckpoint(eager=True)
    )
    w = counts.withColumn("__w", F.floor(F.sqrt(F.col("__c"))).cast("long"))
    tot = w.agg(
        F.sum("__w").alias("__s"), F.sum("__c").alias("__n")
    )
    per = w.crossJoin(F.broadcast(tot))
    t_expr = (
        F.lit(int(target_total))
        if target_total is not None
        else F.expr("__n div 2")
    )
    per = per.select(
        domain_col,
        "__c",
        (t_expr * F.col("__w")).cast("long").alias("__tw"),
        "__s",
    ).select(
        domain_col, "__c", F.expr("__tw div __s").alias("__picks")
    )
    g = F.lit(int(granularity))
    h = F.pmod(phash(F.concat(F.lit(seed), F.col(key_col).cast("string"))), g)
    return (
        docs.join(F.broadcast(per), domain_col)
        .filter(h * F.col("__c") < F.col("__picks") * g)
        .drop("__c", "__picks")
    )


def training_shard_assignment(
    docs: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
    seed: str = "sh0",
) -> DataFrame:
    """Deterministic GLOBAL SHUFFLE into training shards — the terminal
    step of an LM data pipeline: examples must reach the trainer in a
    pseudo-random order that is reproducible (resumable training, exact
    ablations) and engine/layout-independent, which DataFrame.sample or
    rand()-sorts cannot give.

        shard = pmod(phash(seed || id), n_shards)
        pos   = row_number within shard ordered by (phash(seed' || id), id)

    The within-shard order hash uses a DIFFERENT seed than the shard
    hash: ordering by a function of the sharding hash would correlate
    position with shard assignment. Output (id, shard, pos) is the
    complete deterministic writer plan; `write_training_shards` applies
    it. Scale shape: the shard hash is uniform so shards are balanced
    within binomial noise (no mega-key skew by construction — the skew
    problem politeness windows have does not exist here), and the only
    shuffle is the per-shard window exchange on the 60-bit-hash-keyed
    rows."""
    h_order = phash(F.concat(F.lit(seed + ":o:"), F.col(id_col).cast("string")))
    from pyspark.sql.window import Window

    shard = F.pmod(
        phash(F.concat(F.lit(seed), F.col(id_col).cast("string"))),
        F.lit(int(n_shards)),
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("__ho", id_col)
    return (
        docs.select(F.col(id_col), shard.alias("shard"), h_order.alias("__ho"))
        .withColumn("pos", F.row_number().over(w))
        .drop("__ho")
    )


def write_training_shards(
    docs: DataFrame,
    out_dir: str,
    n_shards: int = 16,
    id_col: str = "doc_id",
    seed: str = "sh0",
) -> None:
    """Materialize the deterministic global shuffle: one directory
    partition per shard (shard=K/), rows orderable by pos. At cluster
    scale this is repartition(n_shards on shard) + sortWithinPartitions
    — each trainer data-loader reads its shard sequentially."""
    plan = training_shard_assignment(docs, n_shards, id_col, seed)
    (
        docs.join(plan, id_col)
        .repartition(int(n_shards), "shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )


def domain_quota_sample(
    docs: DataFrame,
    quota: int,
    domain_col: str = "source",
    key_col: str = "doc_id",
    seed: str = "q0",
) -> DataFrame:
    """Per-domain down-sampling quota (the other half of the mixing-
    weights primitive beside hash_sample's global fraction): keep at most
    ``quota`` docs per domain, chosen by DETERMINISTIC hash order —
    uniform within the domain, reproducible on every engine/run/layout.
    Output carries ``quota_rank`` (1-based position in the domain's hash
    order). Reuses the salted two-phase budget window
    (politeness.host_budget_filter), so a mega-domain holding most of
    the corpus contributes at most salt_buckets x quota rows to the
    exact-ranking partition — the same skew bound the crawl's host
    budget carries."""
    from .politeness import host_budget_filter

    keyed = docs.withColumn(
        "__qh", phash(F.concat(F.lit(seed), F.col(key_col).cast("string")))
    )
    out = host_budget_filter(keyed, None, quota, host_col=domain_col, order_col="__qh")
    return out.drop("__qh").withColumnRenamed("host_budget_rank", "quota_rank")


def sequence_packing(
    docs: DataFrame,
    seq_len: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "pk0",
    order_partitions: int = 32,
) -> DataFrame:
    """GPT-style sequence packing plan: concatenate all documents in a
    deterministic pseudo-random order and split the token stream into
    fixed-length training sequences. Output per doc: its global first-
    token position, the sequence containing that token, and the offset
    inside it — the complete packing layout (a doc may span sequences;
    downstream writers slice by tok_pos ranges).

    Token positions are a GLOBAL exclusive prefix sum, computed without
    ever collapsing to one partition (the bare Window.orderBy trap):
    range-partition on the order key, per-partition running sum, then
    add the exclusive per-partition totals (a #partitions-row broadcast)
    — crawl_order's distributed prefix-sum shape (scheduler.py:524-545)
    applied to token counts. Positions are exact for ANY range
    boundaries (each partition is a contiguous slice of the total
    order), so sampling-dependent boundary placement cannot move the
    result; everything is integer arithmetic, bit-exact across engines.
    """
    from pyspark.sql.window import Window

    h = phash(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    base = (
        docs.select(
            F.col(id_col),
            F.size(_tokens(F.col(text_col))).cast("long").alias("n_tokens"),
            h.alias("__oh"),
        )
        .repartitionByRange(order_partitions, "__oh", id_col)
        .withColumn("__pid", F.spark_partition_id())
    )
    w_in = (
        Window.partitionBy("__pid")
        .orderBy("__oh", id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    base = base.withColumn(
        "__cum", F.sum("n_tokens").over(w_in) - F.col("n_tokens")
    )
    totals = base.groupBy("__pid").agg(F.sum("n_tokens").alias("__n"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__pid", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off")
    )
    return (
        base.join(F.broadcast(offsets), "__pid")
        .select(
            id_col,
            "n_tokens",
            (F.col("__off") + F.col("__cum")).cast("long").alias("tok_pos"),
        )
        .select(
            id_col,
            "n_tokens",
            "tok_pos",
            F.expr(f"tok_pos DIV {int(seq_len)}").alias("seq_id"),
            F.pmod(F.col("tok_pos"), F.lit(int(seq_len))).cast("long").alias("seq_offset"),
        )
    )


def bigram_lm_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_pred=None,
    vocab_prune_mod: int = 4,
    vocab_seed: str = "v0",
    head_cutoff: float = 3.30,
    mid_cutoff: float = 3.45,
) -> DataFrame:
    """CCNet-style language-model quality filter (Wenzek et al. 2020):
    score every document by its per-bigram negative log-likelihood under
    an add-one-smoothed bigram LM trained on a held-in reference slice,
    then bucket into head/middle/tail — the filter that selected
    CCNet/LLaMA training data (their KenLM 5-gram becomes a bigram here;
    the plan shape is identical).

    Determinism/oracle contract: the vocabulary is the training slice's
    distinct tokens *pruned by a hash rule* (phash(seed:term) %
    vocab_prune_mod != 0 — the deterministic stand-in for a min-count /
    SentencePiece truncation), OOV tokens on BOTH sides map to <unk>,
    P(w|p) = (c2(p,w)+1) / (c1(p)+|V|+1) (the +1 slot is <unk>), and the
    bucket thresholds compare against the ROUNDED nll, so the bucket is
    a pure function of values both engines agree on to 4 decimals.

    Scale shape: tokens are positioned once (posexplode of one projected
    split array — Catalyst does NOT CSE expressions into HOF lambdas),
    bigrams come from one lead() window keyed on doc id (bounded per
    key), and the LM tables are vocabulary-bounded (≤ |V|²) — broadcast
    to every executor exactly like CCNet ships its KenLM binary to every
    worker; for an LM too big to broadcast, drop the hints and the gram
    joins degrade to shuffle hash joins on the gram key. The corpus
    itself shuffles once (on doc id, for adjacency)."""
    from pyspark.sql.window import Window

    if train_pred is None:
        train_pred = F.col(id_col) % 10 == 0
    arr = docs.select(
        F.col(id_col), train_pred.alias("__train"), _tokens(F.col(text_col)).alias("__t")
    )
    toks = arr.select(
        id_col, "__train", F.posexplode("__t").alias("pos", "term")
    )
    vocab = (
        toks.filter(F.col("__train"))
        .select("term")
        .distinct()
        .filter(
            F.pmod(
                phash(F.concat(F.lit(vocab_seed + ":"), F.col("term"))),
                F.lit(int(vocab_prune_mod)),
            )
            != 0
        )
    )
    vsize = vocab.agg(F.count("*").alias("__v"))
    mapped = (
        toks.join(F.broadcast(vocab.withColumn("__in", F.lit(True))), "term", "left")
        .select(
            id_col,
            "__train",
            "pos",
            F.when(F.col("__in").isNotNull(), F.col("term"))
            .otherwise(F.lit("<unk>"))
            .alias("w"),
        )
    )
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    big = (
        mapped.withColumn("w_next", F.lead("w").over(w_doc))
        .filter(F.col("w_next").isNotNull())
    )
    c2 = big.filter(F.col("__train")).groupBy("w", "w_next").agg(
        F.count("*").alias("c2")
    )
    c1 = big.filter(F.col("__train")).groupBy("w").agg(F.count("*").alias("c1"))
    scored = (
        big.join(F.broadcast(c2), ["w", "w_next"], "left")
        .join(F.broadcast(c1), "w", "left")
        .crossJoin(F.broadcast(vsize))
        .withColumn(
            "__ll",
            F.log(
                (F.coalesce(F.col("c2"), F.lit(0)) + 1)
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("__v") + 1)
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(-F.avg("__ll"), 4).alias("nll"),
    )
    bucket = (
        F.when(F.col("nll") < F.lit(float(head_cutoff)), F.lit("head"))
        .when(F.col("nll") < F.lit(float(mid_cutoff)), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return per_doc.select(id_col, "n_bigrams", "nll", bucket.alias("ppl_bucket"))


def c4_line_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """The C4 line-level cleaning pass (Raffel et al. 2020 §2.2 — the
    rule set behind C4/mC4 and the first stage of most CC pipelines):
    keep only lines that (a) end in a terminal punctuation mark, (b) have
    at least ``min_words`` words, (c) contain no 'lorem ipsum', no curly
    brace '{', and no 'javascript' (case-insensitive for the phrases);
    then drop documents with fewer than ``min_kept_lines`` surviving
    lines. The reference indexes extracted text raw (indexer_node.py) —
    it has no notion of boilerplate-line removal.

    Returns (id, n_lines, n_kept, kept_doc, text_clean) — one row per
    input document, ``text_clean`` the kept lines re-joined with
    newlines in original order.

    Scale shape: predicates are all in-JVM string ops evaluated in the
    scan projection; the ONLY shuffle is the per-doc reassembly
    aggregate, and dropped lines enter it as NULL structs (collect_list
    skips them) so the shuffle carries surviving text only — a page of
    boilerplate costs its line count, not its byte count."""
    line = F.col("__line")
    words = F.size(F.filter(F.split(line, " "), lambda x: x != ""))
    kept = (
        F.substring(line, -1, 1).isin(".", "!", "?", '"')
        & (words >= min_words)
        & ~F.contains(F.lower(line), F.lit("lorem ipsum"))
        & ~F.contains(line, F.lit("{"))
        & ~F.contains(F.lower(line), F.lit("javascript"))
    )
    # coalesce: a null text must behave like '' (one empty, dropped
    # line), not silently remove the document from the output
    lines = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("__idx", "__line"),
    ).select(
        id_col,
        "__idx",
        kept.alias("__kept"),
        F.when(kept, F.struct(F.col("__idx"), F.col("__line"))).alias("__kl"),
    )
    agg = lines.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_lines"),
        F.sum(F.col("__kept").cast("int")).cast("int").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("__kl")), lambda s: s["__line"]
            ),
            "\n",
        ).alias("text_clean"),
    )
    return agg.select(
        id_col,
        "n_lines",
        "n_kept",
        (F.col("n_kept") >= min_kept_lines).alias("kept_doc"),
        "text_clean",
    )
