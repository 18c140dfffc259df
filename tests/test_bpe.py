"""BPE merge learning (operators/bpe.py) vs an independent pure-Python
reference implementing the published algorithm (Sennrich 2016) directly
on symbol TUPLES — no string encoding — so an encoding/replace bug in
the engine cannot also hide in the reference."""

from __future__ import annotations

import os
import re
from collections import Counter

from distributed_crawler_spark.operators.bpe import END_MARK, learn_bpe

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _py_bpe(texts: list[str], merges: int):
    words = Counter()
    for t in texts:
        for w in re.sub(r"[^a-z0-9 ]", " ", t.lower()).split():
            words[w] += 1
    seqs = {w: tuple(w) + (END_MARK,) for w in words}
    out = []
    for rank in range(1, merges + 1):
        counts = Counter()
        for w, freq in words.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += freq
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), cnt = best
        out.append((rank, l, r, l + r, cnt))
        for w, s in seqs.items():
            # greedy left-to-right in-word merge, back-to-back included
            ns, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    ns.append(l + r)
                    i += 2
                else:
                    ns.append(s[i])
                    i += 1
            seqs[w] = tuple(ns)
    return out


def test_learn_bpe_matches_python_reference_on_corpus(spark):
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    texts = [r["text"] for r in docs.select("text").collect()]
    want = _py_bpe(texts, 6)
    got = [
        (r["rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in learn_bpe(docs, merges=6).orderBy("rank").collect()
    ]
    assert got == want


def test_back_to_back_and_merged_symbol_pairs(spark):
    """'aaaa' must merge pairwise left-to-right ((aa)(aa), not a(aa)a),
    and later rounds must pair MERGED symbols ('aa'+'aa')."""
    texts = ["aaaa aaaa aaaa b"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    want = _py_bpe(texts, 3)
    got = [
        (r["rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in learn_bpe(df, merges=3).orderBy("rank").collect()
    ]
    assert got == want
    # sanity on the reference itself: first merge is (a, a) seen 9 times
    # (3 per 'aaaa': greedy counting scans positions 1..3)
    assert want[0][1:] == ("a", "a", "aa", 9)
    # later rounds pair MERGED symbols ('</w>' < 'aa' lexicographically,
    # so round 2 ties resolve to ('aa','</w>'), then round 3 merges the
    # merged-symbol pair ('aa','aa</w>'))
    assert {(w[1], w[2]) for w in want[1:]} == {
        ("aa", "</w>"),
        ("aa", "aa</w>"),
    }


def test_distributed_learn_loop_matches_python_reference(spark, monkeypatch):
    """The distributed merge loop (one Spark job per merge, taken when
    the vocabulary exceeds COLLECT_WORDS_MAX), forced with the cap at 0,
    learns the reference's merges on the corpus and on back-to-back
    and merged-symbol pairs."""
    from distributed_crawler_spark.operators import bpe

    monkeypatch.setattr(bpe, "COLLECT_WORDS_MAX", 0)
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    corpus = [r["text"] for r in docs.select("text").collect()]
    small = ["aaaa aaaa aaaa b"]
    cases = [
        (docs, corpus, 6),
        (spark.createDataFrame([(t,) for t in small], "text string"), small, 3),
    ]
    for df, texts, merges in cases:
        got = [
            (r["rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
            for r in learn_bpe(df, merges=merges).orderBy("rank").collect()
        ]
        assert got == _py_bpe(texts, merges)


def test_tie_break_is_lexicographic(spark):
    """Equal-count pairs resolve (lhs, rhs) ascending on both engines."""
    df = spark.createDataFrame([("cd ab",)], "text string")
    got = learn_bpe(df, merges=1).collect()
    want = _py_bpe(["cd ab"], 1)
    assert (got[0]["lhs"], got[0]["rhs"]) == (want[0][1], want[0][2]) == ("a", "b")


def test_exhausted_corpus_stops_early(spark):
    """A corpus with fewer possible merges than requested returns the
    shorter list rather than looping on empty counts."""
    df = spark.createDataFrame([("a",)], "text string")
    rows = learn_bpe(df, merges=5).orderBy("rank").collect()
    want = _py_bpe(["a"], 5)
    got = [
        (r["rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"]) for r in rows
    ]
    assert got == want
    # 'a</w>' has exactly one pair, then 'a</w>' is a single symbol
    assert len(got) == 1 and got[0][1:] == ("a", END_MARK, "a" + END_MARK, 1)


def test_encode_stats_match_python_reference(spark, monkeypatch):
    """Per-doc whitespace vs BPE token counts equal a reference that
    re-learns the merges and re-segments each doc independently; BPE
    count is bounded by [ws count, chars + ws] and monotone non-
    increasing in merges applied.  Checked with the segmentation map
    force-broadcast and, with the cap at 0, left to the planner."""
    import os

    from distributed_crawler_spark.operators import bpe
    from distributed_crawler_spark.operators.bpe import encode_bpe_stats

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    rows = docs.select("doc_id", "text").collect()
    texts = [r["text"] for r in rows]
    merges = [(m[1], m[2]) for m in _py_bpe(texts, 6)]

    def seg_len(word: str) -> int:
        s = list(word) + [END_MARK]
        for l, r in merges:
            ns, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    ns.append(l + r)
                    i += 2
                else:
                    ns.append(s[i])
                    i += 1
            s = ns
        return len(s)

    want = {}
    for r in rows:
        words = re.sub(r"[^a-z0-9 ]", " ", r["text"].lower()).split()
        if words:
            want[r["doc_id"]] = (len(words), sum(seg_len(w) for w in words))
    for cap in (bpe.BROADCAST_WORDS_MAX, 0):
        monkeypatch.setattr(bpe, "BROADCAST_WORDS_MAX", cap)
        got = {
            r["doc_id"]: (r["n_tokens_ws"], r["n_tokens_bpe"])
            for r in encode_bpe_stats(docs, merges=6).collect()
        }
        assert got == want, cap
    for ws, n_bpe in got.values():
        assert ws <= n_bpe  # every word is >= 1 symbol, incl. </w>
