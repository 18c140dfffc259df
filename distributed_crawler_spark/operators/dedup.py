"""Deduplication operators for large-scale training-data pipelines.

The reference only deduplicates URLs (exact set membership,
master_node.py:69-70,336-391); a 100 TB text corpus additionally needs
content-level dedup. All operators here are pure DataFrame compositions
(no UDFs): hashing is md5-based (portable to the DuckDB oracle, see
functions/hashing.py), shingling uses transform/sequence array lambdas.

Scale notes:
  * exact dedup: one hash-aggregate, shuffles only (hash, id) pairs.
  * minhash-LSH: signatures are H per-doc mins computed from an exploded
    (doc, shingle, seed) frame — map-side partial min, tiny shuffle;
    band buckets then self-join only within buckets (the classic
    shingle→minhash→band→bucket-join pipeline). Candidate pairs are
    verified with exact Jaccard before being reported.
  * simhash: bit-vote aggregation per doc — one explode + one groupBy.
  * n-gram Jaccard: exact pairwise, but joined only on shared shingles
    (inverted-index join), never a cross product.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import phash

# ngram_jaccard_pairs(hot_df=HOT_DF_DISABLED): the caller asserts no
# shingle can be hot (a bounded slice), so the hot-key probe is skipped
HOT_DF_DISABLED = 1 << 30


def token_array(text_col):
    """Whitespace tokens with empty runs dropped — matches the oracle
    tokset CTEs.  Callers should bind this ONCE in a projection before
    shingling: Catalyst inlines (not CSE-shares) expressions referenced
    inside higher-order-function lambdas, so an unprojected token array
    re-splits the text per transform element (measured 10x on sf0.1)."""
    return F.filter(F.split(text_col, " "), lambda t: t != F.lit(""))


def shingles_from_tokens(toks_col, n: int = 3):
    """Word n-gram shingle array (with in-doc duplicates) from an
    ALREADY-PROJECTED token-array column; tokens never leave the JVM."""
    # sequence(1, k) DESCENDS when k < 1 — guard the short-doc case
    idx = F.when(
        F.size(toks_col) >= n, F.sequence(F.lit(1), F.size(toks_col) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.array_join(F.slice(toks_col, i, n), " "))


def shingle_array(text_col, n: int = 3):
    """Shingle array straight from a text column.  Convenience form:
    the token split is inlined into each lambda element, so prefer
    projecting token_array() first on hot paths (see shingles())."""
    return shingles_from_tokens(token_array(text_col), n)


def shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle).  Two-step
    select so the token split evaluates once per doc, not once per
    shingle element."""
    toks = docs.select(F.col(id_col), token_array(F.col(text_col)).alias("_toks"))
    return (
        toks.select(F.col(id_col), F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("shingle"))
        .distinct()
    )


def shingle_fps(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Distinct word n-gram shingles per doc as 128-BIT FINGERPRINTS
    (id, k1, k2) — the Jaccard join/aggregation path never needs the
    shingle TEXT, only identity, so each token is hashed once
    (xxhash64) and a shingle's fingerprint is two independent xxhash64
    folds over its n consecutive token hashes (the span_dup_stats
    fingerprint contract; collision odds ~2^-128). Versus exploding
    ~30-byte shingle strings this shuffles 16 bytes/shingle and skips
    the per-shingle array_join/slice string builds entirely; the whole
    derivation — per-doc DISTINCT included (array_distinct on the
    fingerprint array before the explode, so no dedup exchange ever
    runs) — is map-only: zero shuffles, zero windows."""
    fwd = ", ".join(f"element_at(_th, i + {j})" for j in range(n))
    rev = ", ".join(f"element_at(_th, i + {j})" for j in reversed(range(n)))
    fps = (
        f"CASE WHEN size(_th) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size(_th) - {n - 1}),"
        f" i -> struct(xxhash64({fwd}) AS k1, xxhash64({rev}, 7) AS k2)))"
        f" ELSE array() END"
    )
    toks = docs.select(
        F.col(id_col), token_array(F.col(text_col)).alias("_t")
    ).select(
        F.col(id_col), F.expr("transform(_t, t -> xxhash64(t))").alias("_th")
    )
    return (
        toks.select(F.col(id_col), F.explode(F.expr(fps)).alias("_fp"))
        .select(F.col(id_col), F.col("_fp.k1").alias("k1"), F.col("_fp.k2").alias("k2"))
    )


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content with the
    canonical (min id) keeper and the duplicate count."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keeper"), F.count("*").alias("n_copies"))
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, seed, minhash): min over shingles of seeded portable hashes.
    Partial aggregation makes this map-side cheap."""
    sh = shingles(docs, id_col, text_col, shingle_n)
    seeds = F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("seed")
    return (
        sh.select(id_col, "shingle", seeds)
        .withColumn(
            "h",
            phash(
                F.concat(F.col("seed").cast("string"), F.lit(":"), F.col("shingle"))
            ),
        )
        .groupBy(id_col, "seed")
        .agg(F.min("h").alias("minhash"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding, exact-Jaccard
    verified: (id_a < id_b, jaccard). Buckets join only docs sharing a
    band signature — no pairwise blowup."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(docs, id_col, text_col, num_hashes, shingle_n)
    banded = (
        sig.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy(id_col, "band")
        .agg(F.sort_array(F.collect_list(F.struct("seed", "minhash"))).alias("sig"))
        .withColumn("band_key", F.md5(F.concat_ws(",", F.col("band"), F.col("sig.minhash").cast("string"))))
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band_key")
    b = banded.select(F.col(id_col).alias("id_b"), "band_key")
    cand = (
        a.join(b, "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    verified = ngram_jaccard_for_pairs(cand, docs, id_col, text_col, shingle_n)
    return verified.filter(F.col("jaccard") >= jaccard_threshold)


def ngram_jaccard_for_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact Jaccard over shingle sets for given candidate (id_a, id_b)
    pairs: |A∩B| via a shingle join, |A∪B| = |A|+|B|−|A∩B|.  Shingles
    travel as 128-bit fingerprints (shingle_fps), never as strings, and
    the fingerprint frame is EAGERLY materialized — it feeds the
    intersection join twice plus the size aggregate, and those branches
    run concurrently inside one job (a lazy persist would be computed
    by each racing branch)."""
    sh = shingle_fps(docs, id_col, text_col, shingle_n).localCheckpoint(eager=True)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    sh_a = sh.select(F.col(id_col).alias("id_a"), "k1", "k2")
    sh_b = sh.select(F.col(id_col).alias("id_b"), "k1", "k2")
    inter = (
        pairs.join(sh_a, "id_a").join(sh_b, ["id_b", "k1", "k2"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
    )


def _jaccard_filter(cand: DataFrame, sizes: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """(id_a, id_b, n_inter) + per-doc sizes -> exact-Jaccard-filtered
    pairs. The sizes table is one row per doc and broadcastable.

    The raw double is compared FIRST and round(., 4) runs only on the
    survivors: Spark's round(double) constructs a BigDecimal per row
    (Double.toString -> BigDecimal -> setScale), ~13 us/row cold — with
    ~10^8 candidate pairs that was the single hottest code path of the
    whole suite (thread dumps showed all 32 task threads inside
    BigDecimal.<init>). round(j,4) >= t implies j >= t - 5e-5, so the
    eps-margin prefilter drops no row the rounded filter would keep."""
    j_raw = F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
    return (
        cand.join(sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .filter(j_raw >= threshold - 1e-4)
        .withColumn("jaccard", F.round(j_raw, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _pair_counts_join(sh: DataFrame, id_col: str, n_part: int) -> DataFrame:
    """(id_a < id_b, n_inter) shared-shingle counts via the inverted-
    index self-join. The join EXPLODES (per-shingle doc-frequency d
    emits d^2 rows) and AQE sizes partitions from the join's ~tens-of-MB
    INPUT, so an explicit repartition on the key — exempt from AQE
    coalescing, count derived from the session parallelism — keeps the
    aggregate's per-task hash state bounded."""
    sh_a = sh.repartition(n_part, "k1", "k2").select(
        F.col(id_col).alias("id_a"), "k1", "k2"
    )
    sh_b = sh.repartition(n_part, "k1", "k2").select(
        F.col(id_col).alias("id_b"), "k1", "k2"
    )
    return (
        sh_a.join(sh_b, ["k1", "k2"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    hot_df: int | None = None,
) -> DataFrame:
    """All near-duplicate pairs by exact n-gram Jaccard ≥ threshold,
    candidate-generated through the shared-shingle inverted index.
    Shingles travel as 128-bit fingerprints (shingle_fps) — the
    self-join and aggregates only need shingle IDENTITY, so nothing
    string-shaped ever shuffles — and the fingerprint frame is EAGERLY
    materialized (concurrent branches of one job would otherwise race a
    lazy persist and recompute it).

    HOT-SHINGLE handling (the stop-word problem of all-pairs similarity
    joins, cf. Bayardo et al. WWW'07): a shingle shared by d docs emits
    d^2 join rows in ONE partition — boilerplate shingles (d ~ 10^4
    here; navigation chrome at web scale) serialize the whole job on a
    few tasks and bloat the pair aggregate with millions of pairs that
    share nothing else. Shingles with document frequency ≥ ``hot_df``
    (default derived from the session parallelism; env override
    SPARK_GRAFT_HOT_SHINGLE_DF) are therefore EXCLUDED from the
    inverted-index join and their contribution is reconstructed
    EXACTLY:

      * cold-pair counts n_cold come from the normal join (per-key work
        now bounded by hot_df^2);
      * only candidates whose UPPER BOUND n_cold + min(h_a, h_b) — h_x
        = the doc's hot-shingle count — can reach the threshold survive
        (Jaccard is monotone in n_inter, so this drops no true pair);
      * survivors get their exact hot intersection from a join against
        the tiny (doc, hot-shingle) table, then the exact Jaccard
        filter;
      * pairs sharing ONLY hot shingles never appear in the cold join —
        provably such a passing pair has h_x ≥ t/(1+t)·sz_x on BOTH
        ends ("hot-dominated" docs), a set computed directly; all pairs
        within it are verified exactly (and excluded from the cold path
        so nothing is double-counted). If that set is implausibly large
        the operator falls back to the plain exact join.

    Every branch computes the same exact Jaccard; the hot path is a
    pure execution-shape change (parity-tested against the plain path
    with hot_df forced low)."""
    sh = shingle_fps(docs, id_col, text_col, shingle_n).localCheckpoint(eager=True)
    spark = sh.sparkSession
    dp = spark.sparkContext.defaultParallelism
    n_part = dp * 8
    if hot_df is None:
        hot_df = int(os.environ.get("SPARK_GRAFT_HOT_SHINGLE_DF", "0")) or max(
            256, 8 * dp
        )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    if hot_df >= HOT_DF_DISABLED:
        # caller-asserted "no hot shingles possible" (bounded slices):
        # skip the probe ACTION entirely, not just guarantee its
        # emptiness — the plain join is exact either way
        cand = _pair_counts_join(sh, id_col, n_part)
        return _jaccard_filter(cand, sizes, id_col, threshold)
    # the df aggregate is the hot-key PROBE; checkpointing its (tiny —
    # at most n_shingle_rows/hot_df keys by construction) result means
    # the existence check below, the hot-dominated probe, and the main
    # job's semi/anti splits all read the materialized keys instead of
    # each re-running the full-frame aggregation (measured: the lazy
    # form re-aggregated the fingerprint frame 3-4x per execution)
    hot_keys = (
        sh.groupBy("k1", "k2")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= hot_df)
        .select("k1", "k2")
        .localCheckpoint(eager=True)
    )
    hk = hot_keys.limit(1).collect()
    if not hk:
        # common case: no hot shingles — exactly the plain exact join
        # (the checkpoint above cost the same one aggregation pass the
        # previous probe did)
        cand = _pair_counts_join(sh, id_col, n_part)
        return _jaccard_filter(cand, sizes, id_col, threshold)

    t_eff = threshold - 1e-4  # round(., 4) boundary guard for the BOUND filters
    # hot path: per-doc total size AND hot-shingle count come from ONE
    # pass (left join against the broadcast hot keys + one aggregate)
    # and are materialized once — sizes/hsz are one row per doc and
    # referenced by the hd probe plus four broadcast joins each
    stats = (
        sh.join(
            F.broadcast(hot_keys.withColumn("_hot", F.lit(1))),
            ["k1", "k2"],
            "left",
        )
        .groupBy(id_col)
        .agg(F.count("*").alias("sz"), F.count("_hot").alias("h"))
        .localCheckpoint(eager=True)
    )
    sizes = stats.select(id_col, "sz")
    hot = sh.join(F.broadcast(hot_keys), ["k1", "k2"], "left_semi")
    cold = sh.join(F.broadcast(hot_keys), ["k1", "k2"], "left_anti")
    # only docs that HAVE hot shingles, like the groupBy-over-hot form
    # (consumers coalesce the missing rows to 0)
    hsz = stats.filter(F.col("h") > 0).select(id_col, "h")
    # hot-dominated docs: the only possible ends of a hot-only passing pair
    hd = (
        sizes.join(hsz, id_col)
        .filter(F.col("h") * (1.0 + t_eff) >= t_eff * F.col("sz"))
        .select(id_col)
    )
    hd_ids = [r[0] for r in hd.limit(5001).collect()]
    if len(hd_ids) > 5000:
        # degenerate corpus (most docs mostly boilerplate): plain path
        cand = _pair_counts_join(sh, id_col, n_part)
        return _jaccard_filter(cand, sizes, id_col, threshold)

    n_cold = _pair_counts_join(cold, id_col, n_part)
    hsz_a = hsz.select(F.col(id_col).alias("id_a"), F.col("h").alias("h_a"))
    hsz_b = hsz.select(F.col(id_col).alias("id_b"), F.col("h").alias("h_b"))
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    n_up = F.col("n_inter") + F.least(
        F.coalesce(F.col("h_a"), F.lit(0)), F.coalesce(F.col("h_b"), F.lit(0))
    )
    cand0 = (
        n_cold.join(F.broadcast(sz_a), "id_a")
        .join(F.broadcast(sz_b), "id_b")
        .join(F.broadcast(hsz_a), "id_a", "left")
        .join(F.broadcast(hsz_b), "id_b", "left")
        .filter(n_up >= t_eff * (F.col("sz_a") + F.col("sz_b") - n_up))
        .select("id_a", "id_b", "n_inter")
    )
    hot_a = hot.select(F.col(id_col).alias("id_a"), "k1", "k2")
    hot_b = hot.select(F.col(id_col).alias("id_b"), "k1", "k2")
    n_hot = (
        cand0.select("id_a", "id_b")
        .join(hot_a, "id_a")
        .join(hot_b, ["id_b", "k1", "k2"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_hot"))
    )
    exact_cold = (
        cand0.join(n_hot, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            (F.col("n_inter") + F.coalesce(F.col("n_hot"), F.lit(0))).alias(
                "n_inter"
            ),
        )
    )
    p1 = _jaccard_filter(exact_cold, sizes, id_col, threshold)
    if not hd_ids:
        return p1
    # brute-exact pairs within the (tiny) hot-dominated set; the cold
    # path excludes both-ends-hd pairs so the union never double-counts
    p1 = p1.filter(
        ~(F.col("id_a").isin(hd_ids) & F.col("id_b").isin(hd_ids))
    )
    shd = sh.filter(F.col(id_col).isin(hd_ids))
    cand_hd = (
        shd.select(F.col(id_col).alias("id_a"), "k1", "k2")
        .join(shd.select(F.col(id_col).alias("id_b"), "k1", "k2"), ["k1", "k2"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    p2 = _jaccard_filter(cand_hd, sizes, id_col, threshold)
    return p1.unionByName(p2)


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """Per-doc SimHash: tokens vote ±1 on each bit of their hash; the
    signature packs the winning bits. (id, simhash). One up-front
    exchange on the doc id serves all three aggregations (each clusters
    on a superset of id), so the vote pipeline itself is shuffle-free."""
    toks = (
        docs.repartition(F.col(id_col))
        .select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .filter(F.col("token") != "")
        .withColumn("h", phash(F.col("token")))
        # repeated tokens vote with their count — collapses the bit
        # explosion below from n_tokens×bits to distinct_tokens×bits rows
        .groupBy(id_col, "h")
        .agg(F.count("*").alias("cnt"))
    )
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit")
    votes = (
        toks.select(id_col, "h", "cnt", bit)
        .withColumn(
            "vote",
            # F.shiftright needs a literal count — the SQL form takes a column
            F.when(
                F.expr("shiftright(h, CAST(bit AS INT)) & 1") == 1, F.col("cnt")
            ).otherwise(-F.col("cnt")),
        )
        .groupBy(id_col, "bit")
        .agg(F.sum("vote").alias("v"))
    )
    return (
        votes.withColumn(
            "bitval",
            F.when(
                F.col("v") > 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"),
            ).otherwise(F.lit(0).cast("long")),
        )
        .groupBy(id_col)
        .agg(F.sum("bitval").cast("long").alias("simhash"))
    )


def plan_simhash_banding_wide(
    n_docs: int, max_hamming: int = 4, max_band_width: int = 60
) -> tuple[int, int]:
    """(band_width, n_bands) for the WIDE (array-of-longs) simhash —
    the path past plan_simhash_banding's single-long saturation: one
    word per band, so band width is capped only by the portable 60-bit
    hash, not by 63/n_bands. At 10^10 docs, h=4: width 36, 5 bands —
    headroom to ~2^58 docs."""
    import math

    n_bands = max_hamming + 1
    w = min(
        max(math.ceil(math.log2(max(n_docs, 2))) + 2, 1), max_band_width
    )
    return w, n_bands


def simhash_wide(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    band_width: int = 16,
    n_bands: int = 5,
) -> DataFrame:
    """ARRAY-OF-LONGS SimHash: one word PER BAND, each band voting on
    ``band_width`` (<= 60) bits of its own seeded token hash
    (phash('<band>:<token>') — SQL-portable, so the whole operator is
    oracle-checkable). This is the 10^10-doc shape: total signature bits
    = n_bands x band_width with no single-long packing cap, while the
    banded join below keys on (band index, word) directly. Returns
    (id, sig: array<long>, length n_bands, sig[b] = band b's word).

    Vote build (round 6, VERDICT r05 next #3): ONE aggregate per
    (id, band) with band_width conditional sums — no bit-row
    amplification. The 16x A/B that this was the follow-up to measured
    the wide-aggregate form 1.7-1.9x FASTER than the bit-explode at
    both sf0.1 (2.95 vs 4.9 s) and 16x (6.09 vs 11.59 s), reversing
    the r03 narrow-path measurement (BENCH/SIMHASH_AB.md); identical
    outputs, oracle unchanged.

    Shuffle shape: ONE up-front exchange on the doc id — every groupBy
    in the vote pipeline clusters on a superset of (id), so
    hash-partitioning the docs once satisfies every aggregation's
    distribution and Catalyst plans them exchange-free (plan-asserted)."""
    toks = (
        docs.repartition(F.col(id_col))
        .select(
            F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy(id_col, "token")
        .agg(F.count("*").alias("cnt"))
    )
    band = F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band")
    per_band = toks.select(id_col, "token", "cnt", band).withColumn(
        "h",
        phash(F.concat(F.col("band").cast("string"), F.lit(":"), F.col("token"))),
    )
    votes = [
        F.sum(
            F.when(
                F.expr(f"shiftright(h, {b}) & 1") == 1, F.col("cnt")
            ).otherwise(-F.col("cnt"))
        ).alias(f"v{b}")
        for b in range(band_width)
    ]
    per = per_band.groupBy(id_col, "band").agg(*votes)
    word = F.lit(0).cast("long")
    for b in range(band_width):
        word = word + F.when(
            F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    words = per.select(
        F.col(id_col), F.col("band"), word.cast("long").alias("word")
    )
    return words.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("band", "word"))),
            lambda s: s["word"],
        ).alias("sig")
    )


def simhash_band_pairs_wide(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    max_hamming: int = 4,
) -> DataFrame:
    """Near-duplicate pairs over WIDE signatures: the band index is the
    array position, so candidates come from an equi-join on
    (band, word) — same pigeonhole-exact recall as simhash_band_pairs
    (n_bands = len(sig) > max_hamming by construction of
    plan_simhash_banding_wide) — and the exact hamming verify is a
    zip_with/aggregate popcount over the word arrays. No cross product,
    no UDFs, no signature-width cap."""
    banded = sigs.select(
        F.col(id_col), F.col(sig_col), F.posexplode(sig_col).alias("band", "word")
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col(sig_col).alias("sa"), "band", "word"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col(sig_col).alias("sb"), "band", "word"
    )
    hamming = F.aggregate(
        F.zip_with("sa", "sb", lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, ["band", "word"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def plan_simhash_banding(
    n_docs: int, max_hamming: int = 4, bits_cap: int = 63
) -> tuple[int, int]:
    """(bits, n_bands) for simhash banding, SIZED FROM THE CORPUS
    (VERDICT r04 next #3 — previously a manual knob): n_bands =
    max_hamming + 1 (the pigeonhole-minimal band count, which maximizes
    per-block width and therefore selectivity), block width =
    ceil(log2 n_docs) + 2 so random block collisions stay ~n/2^w ≈ n/4n
    per bucket — the banded join's candidate set stays near the true
    near-dup set instead of degenerating toward all-pairs as the corpus
    grows. Width is capped by the single-long packed signature
    (bits_cap = 63: bit 63 is the sign). NAMED LIMIT: the cap saturates
    at n_docs ≈ 2^(63//(h+1) - 2) (~10^3 docs at h=4); beyond it
    selectivity is fixed at 2^12 values per band — a 10^10-doc corpus
    uses the WIDE path (plan_simhash_banding_wide / simhash_wide /
    simhash_band_pairs_wide above: one long per band, width capped only
    at 60), same band-equi-join + exact-verify plan shape."""
    import math

    n_bands = max_hamming + 1
    w_avail = max(bits_cap // n_bands, 1)
    w = min(math.ceil(math.log2(max(n_docs, 2))) + 2, w_avail)
    return max(w, 1) * n_bands, n_bands


def simhash_band_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    bits: int = 60,
    n_bands: int = 5,
    max_hamming: int = 4,
) -> DataFrame:
    """SimHash near-duplicate pairs via signature BANDING — the scale
    path: split each signature into ``n_bands`` contiguous blocks; any
    pair with hamming ≤ max_hamming differs in at most max_hamming blocks,
    so with n_bands > max_hamming at least one block is identical
    (pigeonhole) and the pair surfaces from an equi-join on
    (band, block_value). Recall is exactly 100% — the output equals the
    all-pairs filter — with no cross product anywhere. Exact hamming
    verify after the join. At larger corpora widen the signature (and
    blocks) to keep block values selective; the plan shape is unchanged.
    Returns (id_a, id_b, hamming), id_a < id_b.
    """
    assert n_bands > max_hamming, "pigeonhole guarantee needs n_bands > max_hamming"
    band_structs = []
    off = 0
    base, extra = divmod(bits, n_bands)
    for b in range(n_bands):
        w = base + (1 if b < extra else 0)
        mask = (1 << w) - 1
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.expr(f"shiftright({sig_col}, {off}) & {mask}").alias("key"),
            )
        )
        off += w
    banded = sigs.select(
        F.col(id_col), F.col(sig_col), F.explode(F.array(*band_structs)).alias("bk")
    ).select(
        F.col(id_col),
        F.col(sig_col),
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col(sig_col).alias("sa"), "band", "key"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col(sig_col).alias("sb"), "band", "key"
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def span_dup_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-doc duplicated-span statistics — the train-data dedup signal
    pipelines gate on (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better": remove/downweight docs whose n-token
    spans largely occur elsewhere). For each doc: how many distinct
    n-gram spans it has and what fraction of them appear in ≥1 OTHER doc.

    Shape: one span inverted index (groupBy span-key → doc-frequency),
    joined back and re-aggregated per doc — shuffles on the span key, no
    pairwise product anywhere. Span STRINGS are never built: counting
    only needs identity, so each token is hashed once and a span's
    128-bit fingerprint is xxhash64 over its n consecutive token hashes
    (derived MAP-SIDE from the per-doc token-hash array — round 7: the
    earlier window-lead() form paid a full-corpus sort shuffle on the
    doc id before any span existed; the array transform needs no
    exchange at all and produces the identical fingerprints).
    Returns (id, n_spans, n_dup_spans, dup_frac)."""
    # the rows are already per-doc distinct, but the explicit distinct()
    # gives the two consumers (doc-frequency aggregate + join back) a
    # SHARED exchange to reuse (ReusedExchange) instead of each
    # recomputing the map pipeline — A/B'd 1.6 s vs 2.4 s at sf1.0,
    # and cheaper than an eager checkpoint (no extra job)
    sh = shingle_fps(docs, id_col, text_col, n).distinct()
    per_span = sh.groupBy("k1", "k2").agg(F.count("*").alias("n_docs"))
    return (
        sh.join(per_span, ["k1", "k2"])
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 4),
        )
    )


def remove_dup_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Duplicated-span REMOVAL — the action behind span_dup_stats'
    measurement (Lee et al. 2022: training pipelines don't just score
    duplicated spans, they excise them). Every token covered by any
    n-token span that occurs in >= 2 DISTINCT docs is dropped, and the
    doc's text is rebuilt from the surviving tokens (whitespace
    re-canonicalized — the same tokenizer semantics every other text
    operator here uses). Returns (id, clean_text, n_tokens, n_removed);
    clean_text = '' when the whole doc was duplicated spans.

    Shape (round 7 — windows removed): per-doc token-hash ARRAY, span
    fingerprints as a map-side transform (no sort shuffle on the doc id
    — the earlier lead()-window form paid two), dup-key inverted index,
    covered positions folded back to ONE int-set per doc, and the text
    re-sliced from the token array in the same map. Shuffles carry only
    (doc, position, long) triples on the span key and doc id; no
    pairwise product anywhere."""
    fwd = ", ".join(f"element_at(_th, i + {j})" for j in range(n))
    rev = ", ".join(f"element_at(_th, i + {j})" for j in reversed(range(n)))
    span_expr = (
        f"CASE WHEN size(_th) >= {n} THEN "
        f"transform(sequence(1, size(_th) - {n - 1}),"
        f" i -> struct(i AS p, xxhash64({fwd}) AS k1, xxhash64({rev}, 7) AS k2))"
        f" ELSE array() END"
    )
    base = docs.select(
        F.col(id_col), token_array(F.col(text_col)).alias("_t")
    ).select(
        F.col(id_col),
        "_t",
        F.expr("transform(_t, t -> xxhash64(t))").alias("_th"),
    )
    # the NARROW span frame is the one worth materializing (two
    # consumers: dup-key aggregate + coverage join) — checkpointing
    # `base` instead would write the full token-string AND token-hash
    # arrays (~20x the bytes) for one saved cheap map re-evaluation
    spans = base.select(
        F.col(id_col), F.explode(F.expr(span_expr)).alias("_s")
    ).select(
        F.col(id_col),
        F.col("_s.p").alias("p"),
        F.col("_s.k1").alias("k1"),
        F.col("_s.k2").alias("k2"),
    ).localCheckpoint(eager=True)
    # "appears in >= 2 DISTINCT docs" ⟺ min(doc) != max(doc) over the
    # RAW span occurrences (a span repeating only within one doc has
    # min == max) — one map-side-combinable aggregate instead of a
    # full-frame (id, k1, k2) distinct exchange followed by the count
    dup_keys = (
        spans.groupBy("k1", "k2")
        .agg(F.min(id_col).alias("_mn"), F.max(id_col).alias("_mx"))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("k1", "k2")
    )
    covered = (
        spans.join(dup_keys, ["k1", "k2"])
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("p"), F.col("p") + F.lit(n - 1))).alias("p"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("p").alias("_cov"))
    )
    clean = F.when(F.size("_t") == 0, F.lit("")).otherwise(
        F.array_join(
            F.transform(
                F.filter(
                    F.sequence(F.lit(1), F.size("_t")),
                    lambda p: ~F.array_contains(
                        F.coalesce(F.col("_cov"), F.array().cast("array<int>")), p
                    ),
                ),
                lambda p: F.element_at("_t", p.cast("int")),
            ),
            " ",
        )
    )
    return base.join(covered, id_col, "left").select(
        F.col(id_col),
        clean.alias("clean_text"),
        F.size("_t").cast("long").alias("n_tokens"),
        F.coalesce(F.size("_cov"), F.lit(0)).cast("long").alias("n_removed"),
    )


def ngram_decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag every training document that
    shares at least one word n-gram with the eval/benchmark set (the
    GPT-3 appendix-C / PaLM-style contamination gate run before any
    training-data release).

    Returns (id, n_contaminated, example_gram): one row per CONTAMINATED
    training doc with its count of distinct overlapping n-grams and the
    lexicographically-first overlapping gram (deterministic evidence
    row).

    Scale shape: benchmarks are tiny relative to the corpus (10^4-10^6
    distinct grams vs 10^10 docs), so the eval gram set is explicitly
    ``F.broadcast``; the training side is one scan with the in-JVM
    shingle transform (tokens never leave the JVM) joined STRAIGHT into
    the broadcast gram set — the per-doc gram distinct runs AFTER the
    join, on the surviving hits only (a distinct-before-join form paid
    a corpus-wide (doc, gram-string) exchange for rows the join was
    about to drop; distinct-gram intersection counts are identical
    either way). The corpus never shuffles on gram; only the
    (doc, matched-gram) hits reach the final per-doc aggregation."""
    ev_grams = (
        eval_docs.select(token_array(F.col(text_col)).alias("_toks"))
        .select(F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("gram"))
        .distinct()
    )
    toks = train.select(F.col(id_col), token_array(F.col(text_col)).alias("_toks"))
    tr_grams = toks.select(
        F.col(id_col),
        F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("gram"),
    )
    return (
        tr_grams.join(F.broadcast(ev_grams), "gram")
        .groupBy(id_col)
        .agg(
            F.countDistinct("gram").alias("n_contaminated"),
            F.min("gram").alias("example_gram"),
        )
    )


def remove_dup_paragraphs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    para_tokens: int = 8,
) -> DataFrame:
    """CCNet-style paragraph-level deduplication: drop every paragraph
    whose content already appeared earlier in the corpus (earlier =
    smaller (doc, paragraph-index) pair), keeping only the globally
    FIRST occurrence, then reassemble each document from its surviving
    paragraphs.  This is the boilerplate-killer of web-corpus pipelines
    (cookie banners, nav menus, license footers repeat across millions
    of pages while full-document dedup never fires); the reference
    deduplicates whole URLs only (master_node.py:69-70,336-391).

    Paragraph boundary: the corpus model's text is single-line, so a
    "paragraph" here is a fixed window of ``para_tokens`` whitespace
    tokens (non-overlapping, last one short) — the operator is agnostic:
    swap the segmenter for split-on-newline when the input has real
    paragraph structure.

    Returns (id, n_paras, n_kept, text_dedup), one row per input doc
    (text_dedup = '' when every paragraph was removed).

    Scale shape: paragraph TEXT never enters the dedup shuffle — each
    paragraph is reduced to its portable 60-bit hash immediately, so the
    first-occurrence window shuffles only (hash, id, idx) triples
    (~24 bytes/paragraph at 100 TB, not the paragraphs themselves); the
    surviving indices are re-joined to the original docs (shuffle keyed
    on id) and the text is re-sliced from the token array locally.
    Dedup key is the 60-bit hash, same on both engines (collision odds
    ~n^2/2^61 — the documented md5-prefix contract every other dedup
    operator here shares)."""
    p = int(para_tokens)
    toks = docs.select(
        F.col(id_col), token_array(F.col(text_col)).alias("__toks")
    )
    # non-overlapping P-token windows; guard the empty doc (sequence()
    # DESCENDS when stop < start — same pitfall as shingles_from_tokens)
    nseg = F.ceil(F.size("__toks") / p).cast("int")
    seg_idx = F.when(nseg > 0, F.sequence(F.lit(0), nseg - 1)).otherwise(
        F.array().cast("array<int>")
    )
    segged = toks.select(
        F.col(id_col),
        F.col("__toks"),
        F.transform(
            seg_idx,
            lambda i: phash(F.array_join(F.slice("__toks", i * p + 1, p), " ")),
        ).alias("__seg_hashes"),
    )
    paras = segged.select(
        F.col(id_col), F.posexplode("__seg_hashes").alias("idx", "h")
    )
    # global first occurrence per hash = min(struct(id, idx)) — the same
    # total order the previous row_number window used, but as a
    # MAP-SIDE-COMBINABLE aggregate: no sort, and only one (hash ->
    # keeper) row per distinct paragraph crosses the exchange (round 7)
    kept = (
        paras.groupBy("h")
        .agg(F.min(F.struct(F.col(id_col), F.col("idx"))).alias("__f"))
        .select(F.col(f"__f.{id_col}").alias(id_col), F.col("__f.idx").alias("idx"))
    )
    kept_per_doc = kept.groupBy(id_col).agg(
        F.sort_array(F.collect_list("idx")).alias("__kept_idx")
    )
    rebuilt = (
        segged.join(kept_per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.size("__seg_hashes").alias("n_paras"),
            F.coalesce(F.size("__kept_idx"), F.lit(0)).cast("int").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.coalesce(
                        F.col("__kept_idx"), F.array().cast("array<int>")
                    ),
                    lambda i: F.array_join(
                        F.slice("__toks", i * p + 1, p), " "
                    ),
                ),
                " ",
            ).alias("text_dedup"),
        )
    )
    return rebuilt


def cdc_chunk_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    base: int = 31,
    modulus: int = 1 << 20,
    divisor: int = 64,
) -> DataFrame:
    """Content-defined chunking (Rabin-style rolling hash — the
    LBFS/rsync/venti lineage) plus cross-document chunk dedup stats:
    a chunk boundary is cut after position i when a hash of the last
    ``window`` characters satisfies H % divisor == 0, so boundaries
    RESYNCHRONIZE after insertions — two near-identical documents share
    most chunks even when every fixed-size block would shift (the
    property that makes CDC the storage dedup for WARC archives and
    snapshot stores; pytest demonstrates it with a 1-char prefix edit).

    The hash is POSITIONAL, not sequential: H(i) = sum_{j<window}
    code(c[i-j]) * base^j (mod modulus) depends only on the window
    ending at i, so every position computes independently — one
    whole-stage-codegen'd filter() over the char-code array, no scan
    dependency, no UDF, and the identical arithmetic runs as the staged
    DuckDB oracle.  Expected chunk length is ``divisor`` characters.

    Output per non-empty doc: (doc_id, n_chunks, n_shared,
    shared_chars) — n_shared counts this doc's chunk OCCURRENCES whose
    content also appears in at least one OTHER doc; shared_chars sums
    their lengths (the bytes a chunk store would not write twice).

    Scale shape: chunking is a pure map; the dedup stat is ONE hash
    shuffle keyed by chunk content with map-side combine, then one
    join back on doc id.  (At petabyte scale key the shuffle by
    xxhash64(chunk) instead of the raw string; kept raw here so the
    oracle joins on identical keys.)"""
    pows = ", ".join(str(pow(base, j, modulus)) for j in range(window))
    sel = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__t"),
    ).filter(F.length("__t") > 0)
    sel = sel.withColumn(
        "__codes", F.expr("transform(split(__t, ''), c -> CAST(ascii(c) AS BIGINT))")
    )
    sel = sel.withColumn(
        "__cuts",
        F.expr(
            f"""filter(sequence({window}, greatest(length(__t), {window})),
              i -> i < length(__t) AND
                   aggregate(sequence(0, {window - 1}),
                             CAST(0 AS BIGINT),
                             (acc, j) -> acc + element_at(__codes, i - j)
                                             * element_at(array({pows}), j + 1)
                   ) % {modulus} % {divisor} = 0)"""
        ),
    )
    chunks = sel.select(
        "doc_id",
        F.explode(
            F.expr(
                """zip_with(concat(array(0), __cuts),
                            concat(__cuts, array(length(__t))),
                            (s, e) -> substring(__t, s + 1, e - s))"""
            )
        ).alias("chunk"),
    )
    # the distinct-doc count is only ever thresholded at 2, and
    # "appears in >= 2 distinct docs" ⟺ min(doc) != max(doc) over the
    # raw occurrences — a map-side-combinable min/max pair instead of
    # the two-exchange countDistinct rewrite
    freq = (
        chunks.groupBy("chunk")
        .agg(F.min("doc_id").alias("__mn"), F.max("doc_id").alias("__mx"))
        .select(
            "chunk", (F.col("__mn") != F.col("__mx")).alias("__shared")
        )
    )
    return (
        chunks.join(freq, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("__shared"), 1).otherwise(0))
            .cast("long")
            .alias("n_shared"),
            F.sum(
                F.when(F.col("__shared"), F.length("chunk")).otherwise(0)
            )
            .cast("long")
            .alias("shared_chars"),
        )
    )
