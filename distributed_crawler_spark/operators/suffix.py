"""Generalized suffix array over a tokenized corpus by prefix doubling,
plus rank-adjacent LCP and EXACT duplicated-substring detection — the
ExactSubstr half of Lee et al. 2022 ("Deduplicating Training Data Makes
Language Models Better"), whose probabilistic approximation lives in
operators/dedup.py (span fingerprints).  The reference has no analog
(its dedup is a whole-URL DynamoDB get, crawler_node.py:60-84); this is
the training-pipeline operator a 100-TB corpus needs for exact
substring-level dedup.

Algorithm notes (all public literature):
- Suffix array by PREFIX DOUBLING (Manber & Myers 1990): round k sorts
  suffixes by their first 2^k tokens using the pair (rank_k(i),
  rank_k(i + 2^k)); ceil(log2(maxlen)) rounds total.  Each round is one
  self-join on (doc, pos) plus one distributed dense-rank — shuffles
  carry (doc_id, pos, long) triples only, never suffix text, which is
  what makes the log-round formulation the 100-TB shape (a direct sort
  of suffix STRINGS shuffles O(total_text * avg_suffix_len) bytes;
  doubling shuffles O(total_tokens * log maxlen) longs).
- Dense rank / row number over a total order WITHOUT the bare
  Window.orderBy single-partition trap: range-partition on the order
  key, number within partitions, add broadcast per-partition offsets —
  the crawl_order prefix-sum shape (scheduler.py:524-545), reused here
  as `prefix_sum` / `global_row_number`.
- LCP between rank-adjacent suffixes by direct token comparison
  (zip_with + first-mismatch, all JVM-side): one hash join per side to
  re-attach token arrays — linear in corpus size, same cost class as
  any dedup pass.  (The join-free alternative — binary lifting over the
  retained per-round rank tables — trades the two corpus joins for
  2*log(maxlen) joins on (doc,pos,long) tables; at petabyte scale with
  wide documents that trade can win, noted here for the record.)
- Duplicated-substring semantics: a suffix is a *duplicated start* iff
  its rank-neighborhood shares a >= min_len token prefix, i.e. it lies
  in a maximal run of rank-consecutive suffixes whose adjacent LCPs are
  all >= min_len (every pair inside such a run shares >= min_len tokens,
  since pairwise LCP is the min of adjacent LCPs).  Runs entirely inside
  ONE document are self-repetition, not duplication, and are gated out
  (cross-doc runs only).  dup_len for a member is its max adjacent LCP
  — the length of its longest duplicated prefix with any other suffix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    val_col: str,
    out: str,
    partitions: int = 32,
    inclusive: bool = True,
) -> DataFrame:
    """Global running sum of ``val_col`` over the total order given by
    ``order_cols`` (which must be a unique key), computed without ever
    collapsing to one partition: range-partition on the order key,
    per-partition running sum, then add the exclusive per-partition
    totals (a #partitions-row broadcast).  Exact for any range
    boundaries — each partition is a contiguous slice of the order."""
    base = df.repartitionByRange(partitions, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    hi = 0 if inclusive else -1
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    base = base.withColumn(
        "__cum", F.coalesce(F.sum(val_col).over(w_in), F.lit(0))
    )
    totals = base.groupBy("__pid").agg(F.sum(val_col).alias("__n"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__pid", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off")
    )
    return (
        base.join(F.broadcast(offsets), "__pid")
        .withColumn(out, (F.col("__off") + F.col("__cum")).cast("long"))
        .drop("__pid", "__cum", "__off")
    )


def global_row_number(
    df: DataFrame, order_cols: list[str], out: str, partitions: int = 32
) -> DataFrame:
    """1-based global row number over a total order whose key columns
    are unique — prefix_sum of 1s (the scalable Window.orderBy)."""
    return prefix_sum(
        df.withColumn("__one", F.lit(1)), order_cols, "__one", out, partitions
    ).drop("__one")


def global_dense_rank(
    df: DataFrame, key_cols: list[str], out: str, partitions: int = 32
) -> tuple[DataFrame, int]:
    """Dense rank of the key tuple over ALL rows in ONE range shuffle
    (vs the textbook distinct + rank + join-back, which is three):
    range-partition + sort within partitions, per-partition new-key
    flags and running flag counts, then a driver-side merge of the
    #partitions boundary summaries (flag total + first/last key per
    partition) that both offsets each partition and cancels the
    double-counted run start when one key's run crosses a partition
    boundary (RangePartitioner may split equal keys).  Returns
    (ranked_df, n_distinct) — the merge computes the global distinct
    count as a by-product, which the prefix-doubling loop uses as its
    early-stop WITHOUT an extra job.

    Key columns must be NON-NULL (a null key makes the new-key flag
    comparison null; every caller here ranks tokens or coalesced
    ranks).  The returned frame is eagerly localCheckpoint'ed (it is
    scanned twice: once for the summaries, once downstream)."""
    key_struct = F.struct(*[F.col(c) for c in key_cols])
    base = df.repartitionByRange(partitions, *key_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = Window.partitionBy("__pid").orderBy(*key_cols)
    prev = F.lag(key_struct).over(w)
    base = base.withColumn(
        "__flag",
        F.when(prev.isNull() | (prev != key_struct), 1).otherwise(0),
    )
    base = base.withColumn(
        "__cum",
        F.sum("__flag").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).localCheckpoint(eager=True)
    stats = (
        base.groupBy("__pid")
        .agg(
            F.sum("__flag").alias("fl"),
            F.min(key_struct).alias("fk"),
            F.max(key_struct).alias("lk"),
        )
        .collect()
    )
    stats.sort(key=lambda r: r["__pid"])
    offsets, offset, prev_last = [], 0, None
    for r in stats:
        corr = 1 if prev_last is not None and tuple(r["fk"]) == prev_last else 0
        offsets.append((r["__pid"], offset, corr))
        offset += r["fl"] - corr
        prev_last = tuple(r["lk"])
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets, "__pid INT, __off LONG, __corr INT")
    ranked = (
        base.join(F.broadcast(off_df), "__pid")
        .withColumn(
            out, (F.col("__off") + F.col("__cum") - F.col("__corr")).cast("long")
        )
        .drop("__pid", "__flag", "__cum", "__off", "__corr")
    )
    return ranked, offset


def _tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, toks) with empty docs dropped — split on single spaces,
    mirroring the oracle's string_split(text, ' ')."""
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.split(F.col(text_col), " ").alias("toks"),
    ).filter(F.length(F.col(text_col)) > 0)


def suffix_array(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    partitions: int = 32,
) -> DataFrame:
    """Generalized (multi-document) suffix array at token granularity:
    (doc_id, pos, sa_rank) for every 1-based token position, where
    sa_rank is the 1-based position of suffix (doc_id, pos) in the
    lexicographic order of ALL suffixes (token-wise comparison, ties
    between identical suffixes broken by (doc_id, pos)).

    Prefix doubling with the ONE-shuffle dense rank (global_dense_rank:
    range-partition + boundary-merged partition summaries, vs the
    textbook distinct + rank + join-back at three shuffles a round);
    per-round state is checkpointed inside the rank (the hits_int
    pattern — one (doc,pos,long) frame, lineage never grows).  The
    rank's driver-side merge yields the global distinct count as a
    by-product, so the loop early-stops the moment every suffix holds a
    distinct rank WITHOUT any extra job."""
    toks = _tokens(docs, id_col, text_col)
    maxlen = toks.agg(F.max(F.size("toks"))).collect()[0][0]
    if maxlen is None:
        return docs.sparkSession.createDataFrame(
            [], "doc_id LONG, pos INT, sa_rank LONG"
        )
    s = toks.select(
        "doc_id", F.posexplode("toks").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    cur, n_distinct = global_dense_rank(s, ["tok"], "rk", partitions)
    cur = cur.select("doc_id", "pos", "rk")
    n_total = cur.count()  # one scan of the checkpointed frame
    k = 1
    while k < maxlen and n_distinct < n_total:
        right = cur.select(
            "doc_id", (F.col("pos") - k).alias("pos"), F.col("rk").alias("rk2")
        )
        pair = cur.join(right, ["doc_id", "pos"], "left").na.fill({"rk2": 0})
        cur, n_distinct = global_dense_rank(
            pair, ["rk", "rk2"], "nrk", partitions
        )
        cur = cur.select("doc_id", "pos", F.col("nrk").alias("rk"))
        k *= 2
    return global_row_number(
        cur, ["rk", "doc_id", "pos"], "sa_rank", partitions
    ).select("doc_id", "pos", "sa_rank")


def lcp_edges(
    docs: DataFrame,
    sa: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    partitions: int = 32,
) -> DataFrame:
    """LCP (in tokens) between rank-adjacent suffixes: one row per edge
    (sa_rank r, r+1) with the left side's identity and the token LCP.
    Token arrays are re-attached by two hash joins on doc_id; the
    compare itself is zip_with + array_position — JVM-native, no UDF."""
    if sa is None:
        sa = suffix_array(docs, id_col, text_col, partitions)
    toks = _tokens(docs, id_col, text_col)
    left = sa.alias("a")
    right = sa.select(
        (F.col("sa_rank") - 1).alias("sa_rank"),
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("pos_b"),
    ).alias("b")
    adj = left.join(right, "sa_rank")
    adj = (
        adj.join(toks.select(F.col("doc_id"), F.col("toks").alias("ta")), "doc_id")
        .join(
            toks.select(
                F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb")
            ),
            "doc_b",
        )
    )
    m = F.least(
        F.size("ta") - F.col("pos") + 1, F.size("tb") - F.col("pos_b") + 1
    )
    sl_a = F.slice(F.col("ta"), F.col("pos"), m)
    sl_b = F.slice(F.col("tb"), F.col("pos_b"), m)
    fmm = F.array_position(
        F.zip_with(sl_a, sl_b, lambda x, y: x != y), F.lit(True)
    )
    lcp = F.when(fmm == 0, m).otherwise(fmm - 1)
    return adj.select(
        "sa_rank",
        F.col("doc_id").alias("doc_a"),
        F.col("pos").alias("pos_a"),
        "doc_b",
        "pos_b",
        lcp.cast("long").alias("lcp"),
    )


def exact_substr_dups(
    docs: DataFrame,
    min_len: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    partitions: int = 32,
) -> DataFrame:
    """Exact duplicated-substring report per document: for every doc
    holding at least one CROSS-DOCUMENT duplicated span of >= min_len
    tokens, (doc_id, n_dup_starts, max_dup_len) — the number of token
    positions starting such a span and the longest duplicated prefix
    length among them.  See the module docstring for the run/island
    semantics.

    Scale shape after the suffix array: the strong-edge frame (adjacent
    LCP >= min_len) is OUTPUT-bounded — proportional to duplicated
    positions, not corpus size — and every step over it (member
    explode, island prefix-sum, cross-doc gate) shuffles only that
    small frame plus one (sa_rank -> doc_id) join back to the array."""
    spans = _dup_member_spans(docs, min_len, id_col, text_col, partitions)
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_starts"),
            F.max("dup_len").cast("long").alias("max_dup_len"),
        )
        .orderBy("doc_id")
    )


def _dup_member_spans(
    docs: DataFrame,
    min_len: int,
    id_col: str,
    text_col: str,
    partitions: int,
) -> DataFrame:
    """Internal: (doc_id, pos, dup_len) for every suffix in a CROSS-DOC
    duplicate island — the per-position middle of exact_substr_dups."""
    sa = suffix_array(docs, id_col, text_col, partitions).localCheckpoint(
        eager=True
    )
    edges = lcp_edges(docs, sa, id_col, text_col, partitions)
    strong = edges.filter(F.col("lcp") >= min_len).select(
        "sa_rank", "lcp"
    ).localCheckpoint(eager=True)
    # each strong edge (r, r+1) contributes BOTH endpoints; explode, NOT
    # a self-union — a self-union of the checkpointed frame trips a
    # Catalyst constraint-rewrite crash (UnionBase.rewriteConstraints,
    # "key not found: sa_rank"), and the explode is one fewer scan
    members = (
        strong.select(
            F.explode(
                F.array(F.col("sa_rank"), F.col("sa_rank") + 1)
            ).alias("sa_rank"),
            "lcp",
        )
        .groupBy("sa_rank")
        .agg(F.max("lcp").alias("dup_len"))
    )
    # island start: member with no strong edge ending at it
    starts = strong.select((F.col("sa_rank") + 1).alias("sa_rank"))
    members = members.join(
        starts.withColumn("__cont", F.lit(1)).distinct(), "sa_rank", "left"
    ).withColumn("__flag", F.when(F.col("__cont").isNull(), 1).otherwise(0))
    members = prefix_sum(
        members, ["sa_rank"], "__flag", "island", partitions
    ).drop("__cont", "__flag")
    withdoc = members.join(sa.select("sa_rank", "doc_id", "pos"), "sa_rank")
    # "spans >= 2 distinct docs" ⟺ min(doc) != max(doc) over the raw
    # island members — map-side-combinable, no countDistinct rewrite
    xdoc = (
        withdoc.groupBy("island")
        .agg(F.min("doc_id").alias("__mn"), F.max("doc_id").alias("__mx"))
        .filter(F.col("__mn") != F.col("__mx"))
        .select("island")
    )
    return withdoc.join(xdoc, "island").select("doc_id", "pos", "dup_len")
