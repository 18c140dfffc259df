"""Distributed BPE merge learning — the tokenizer-vocabulary step of a
training-data pipeline (Sennrich et al. 2016, the GPT-2 recipe): learn
the top-M byte-pair merges from corpus word frequencies.

The reference pipeline has no tokenizer training at all (its NLTK path
consumes a fixed vocabulary); a 100-TB corpus engine must learn the
vocabulary FROM the corpus, and the canonical algorithm is inherently
iterative — each chosen merge changes the next round's pair counts, so
it cannot collapse into one aggregation.

Scale shape per merge round (this is how production distributed BPE
trainers are built):

  * pair counting is ONE map-side-combined groupBy over (left, right)
    symbol pairs weighted by word frequency — the corpus itself was
    reduced to a (word, freq) table once, up front (the only
    corpus-sized shuffle in the whole job);
  * the argmax is a 1-row driver action (the chosen pair is the only
    thing that must be globally agreed per round — same tiny-side
    contract as the BM25 avgdl literal);
  * applying the merge is a pure map (literal string replace) over the
    (word, freq) table — no shuffle.

Symbol sequences are encoded as '||'-delimited strings
('||l||o||w||</w>||'): the pattern '|a||b|' → '|ab|' preserves the
shared boundary bar, so LEFT-TO-RIGHT NON-OVERLAPPING replace merges
every occurrence including back-to-back ones ('a b a b' → 'ab ab' in
one pass) — exactly BPE's greedy in-word merge order, and exactly what
SQL replace() does, which is what makes the unrolled DuckDB oracle
possible.  Symbols never contain '|' (words are [a-z0-9]+ after
normalization; the end marker is '</w>').
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

END_MARK = "</w>"

# The distributed learn loop costs ONE Spark job per merge round (pair
# count + argmax) — invisible at merges=6, but a production 32k-50k-merge
# vocabulary would mean 32k+ sequential driver round-trips (~hours of
# pure scheduling) even though each round's data work is one
# map-side-combined aggregate.  The standard fix: after the ONE
# corpus-scale shuffle (word_freqs), the distinct-word table is tiny by
# Zipf's law, so when it fits the driver (<= this many rows) the merge
# loop runs in plain Python over the collected table — bit-identical
# arithmetic (exact integer counts, the same (cnt DESC, l ASC, r ASC)
# tie-break, and str.replace == SQL replace: left-to-right
# non-overlapping on the same delimited encoding).  Corpora whose
# vocabulary exceeds the cap keep the distributed loop unchanged.
COLLECT_WORDS_MAX = 2_000_000

# encode_bpe_stats force-broadcasts the (word, n_syms) segmentation map
# only up to this many words: a 200k-row hash relation is a few MB on
# each executor, while one near COLLECT_WORDS_MAX would pin hundreds of
# MB there.  Larger vocabularies leave the join to the planner.
BROADCAST_WORDS_MAX = 200_000


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over normalized lowercase [a-z0-9]+ tokens."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", " ")
    return (
        docs.select(F.explode(F.split(norm, " +")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def _initial_seq() -> F.Column:
    # '||a||b||c||</w>||' — one '(.)' → '$1||' pass, so the encoding is
    # reproducible as the same regex in the oracle
    return F.concat(
        F.lit("||"),
        F.regexp_replace(F.col("word"), "(.)", "$1||"),
        F.lit(END_MARK + "||"),
    )


def _pair_counts(seqs: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word freq — index-based
    (transform over sequence) so the oracle can mirror it 1:1."""
    return (
        # single-symbol words carry no pairs; the filter also guards
        # Spark's sequence(1, 0), which DESCENDS ([1, 0]) rather than
        # producing an empty range like DuckDB's generate_series
        seqs.filter(F.size("syms") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1),"
                    " i -> struct(syms[i-1] AS l, syms[i] AS r))"
                )
            ).alias("p"),
        )
        .select("freq", F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .groupBy("l", "r")
        .agg(F.sum("freq").alias("cnt"))
    )


def _learn_collected(
    rows: list, merges: int
) -> tuple[list[tuple], list[tuple]]:
    """Pure-Python merge loop over the COLLECTED (word, freq, seq)
    table — see COLLECT_WORDS_MAX.  Returns (merge rows, final
    (word, freq, seq) rows).  Bit-identical to the distributed loop:
    symbols are ASCII so Python/UTF8-binary string order agree, counts
    are exact ints, and str.replace is the same left-to-right
    non-overlapping replace as SQL replace()."""
    table = [(r["word"], int(r["freq"]), r["seq"]) for r in rows]
    out: list[tuple] = []
    for rank in range(1, merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for _w, freq, seq in table:
            syms = [s for s in seq.split("||") if s]
            for i in range(1, len(syms)):
                p = (syms[i - 1], syms[i])
                counts[p] = counts.get(p, 0) + freq
        if not counts:
            break
        (l, r), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((rank, l, r, l + r, cnt))
        pat, rep = f"|{l}||{r}|", f"|{l}{r}|"
        table = [(w, f_, seq.replace(pat, rep)) for w, f_, seq in table]
    return out, table


def _learn(
    docs: DataFrame, merges: int, text_col: str
) -> tuple[list[tuple], DataFrame, int | None]:
    """Shared learn loop: returns (merge rows, final (word, freq, seq)
    frame with all merges applied — persisted; caller unpersists,
    and the number of distinct words when the collected fast path ran
    — the frame is then a LocalRelation of that many rows — or None
    when the distributed loop ran and the size is unknown).
    When the distinct-word table fits the driver (COLLECT_WORDS_MAX)
    the merge rounds run driver-side in one collect instead of one
    Spark job per round; the distributed loop below is the fallback
    for larger vocabularies (same results either way)."""
    spark: SparkSession = docs.sparkSession
    wf = word_freqs(docs, text_col).select(
        "word", "freq", _initial_seq().alias("seq")
    )
    head = wf.limit(COLLECT_WORDS_MAX + 1).collect()
    if len(head) <= COLLECT_WORDS_MAX:
        out, table = _learn_collected(head, merges)
        final = spark.createDataFrame(
            table, "word string, freq long, seq string"
        ).persist()
        return out, final, len(head)
    # the (word, freq, seq) table is small relative to the corpus (one
    # row per DISTINCT word) and is re-read every round
    wf = wf.persist()
    out: list[tuple] = []
    for rank in range(1, merges + 1):
        syms = wf.select(
            "freq",
            F.filter(F.split("seq", r"\|\|"), lambda x: x != "").alias("syms"),
        )
        best = (
            _pair_counts(syms)
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, cnt = best[0]["l"], best[0]["r"], best[0]["cnt"]
        out.append((rank, l, r, l + r, cnt))
        nxt = wf.select(
            "word",
            "freq",
            F.expr(
                "replace(seq,"
                f" '|' || {_sql_str(l)} || '||' || {_sql_str(r)} || '|',"
                f" '|' || {_sql_str(l)} || {_sql_str(r)} || '|')"
            ).alias("seq"),
        ).persist()
        wf.unpersist()
        wf = nxt
    return out, wf, None


def learn_bpe(
    docs: DataFrame, merges: int = 6, text_col: str = "text"
) -> DataFrame:
    """Learn the top-``merges`` BPE merges; returns one row per merge:
    (rank, lhs, rhs, merged, pair_count), rank 1-based in learn order.
    Ties broken (count DESC, lhs ASC, rhs ASC) so the result is
    deterministic and engine-independent (counts are exact integers)."""
    spark: SparkSession = docs.sparkSession
    out, wf, _ = _learn(docs, merges, text_col)
    wf.unpersist()
    return spark.createDataFrame(
        out, "rank long, lhs string, rhs string, merged string, pair_count long"
    )


def encode_bpe_stats(
    docs: DataFrame,
    merges: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ENCODE half of the tokenizer loop: apply the learned merges
    back to the corpus and report per-doc (n_tokens_ws, n_tokens_bpe)
    — whitespace words vs BPE symbols, the compression a vocabulary is
    judged by.

    Scale shape: the word→final-segmentation map already exists as the
    learn loop's end state (one row per DISTINCT word), so encoding is
    corpus → explode words → ONE equi-join against that map → one
    per-doc aggregation; the merge loop itself never reruns over the
    corpus.  Docs with no [a-z0-9]+ token yield no row (nothing to
    encode) — mirrored by the oracle's inner join.

    The map side is explicitly ``F.broadcast`` when the collected learn
    path ran and the vocabulary is KNOWN to hold <= BROADCAST_WORDS_MAX
    words (a few MB per executor): the segmentation frame is then a
    LocalRelation whose stats Catalyst cannot estimate, and without
    the hint the planner broadcast the EXPLODED CORPUS word list
    instead (the parquet scan's pre-explode size estimate looked small)
    — a driver-serial build of a multi-million-row hash relation, and
    the exactly wrong side at any real scale.  Larger or unknown-size
    vocabularies keep the planner's choice."""
    _, wf, n_words = _learn(docs, merges, text_col)
    n_syms = F.size(
        F.filter(F.split("seq", r"\|\|"), lambda x: x != "")
    ).cast("long")
    seg = wf.select("word", n_syms.alias("n_syms"))
    if n_words is not None and n_words <= BROADCAST_WORDS_MAX:
        seg = F.broadcast(seg)
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", " ")
    doc_words = (
        docs.select(F.col(id_col), F.explode(F.split(norm, " +")).alias("word"))
        .filter(F.col("word") != "")
    )
    out = (
        doc_words.join(seg, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens_ws"),
            F.sum("n_syms").cast("long").alias("n_tokens_bpe"),
        )
    )
    wf.unpersist()
    return out


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"
