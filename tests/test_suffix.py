"""Generalized suffix array (prefix doubling) + exact substring dedup:
python-reference parity on seeded random corpora with planted
duplicates, plus physical-plan guards for the scale claims the
operator docstrings make."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from distributed_crawler_spark.operators.suffix import (
    exact_substr_dups,
    global_dense_rank,
    global_row_number,
    lcp_edges,
    prefix_sum,
    suffix_array,
)

VOCAB = ["ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen"]


def _mk_corpus(seed: int, n_docs: int, with_dups: bool = True):
    """Seeded word-salad docs; optionally plant a shared 10-token span
    into several docs (cross-doc) and a repeated span within one doc
    (self-repetition — must NOT count as cross-doc duplication)."""
    rng = random.Random(seed)
    docs = []
    span = [rng.choice(VOCAB) for _ in range(10)]
    for d in range(n_docs):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(5, 40))]
        if with_dups and d % 3 == 0:
            at = rng.randint(0, len(words))
            words[at:at] = span
        docs.append((d, " ".join(words)))
    # one doc with ONLY self-repetition of a unique span
    selfspan = ["zz%d" % i for i in range(9)]
    docs.append((n_docs, " ".join(selfspan + ["mid"] + selfspan)))
    return docs


def _py_suffix_array(docs):
    """Direct O(n^2 log n) reference: sort token-tuple suffixes."""
    sufs = []
    for d, text in docs:
        toks = text.split(" ")
        for p in range(1, len(toks) + 1):
            sufs.append((tuple(toks[p - 1 :]), d, p))
    sufs.sort()
    return [(d, p, i + 1) for i, (_, d, p) in enumerate(sufs)]


def _py_exact_dups(docs, min_len=8):
    """Independent reference for exact_substr_dups: direct suffix sort,
    adjacent LCP, run segmentation, cross-doc gate."""
    sa = []
    for d, text in docs:
        toks = text.split(" ")
        for p in range(1, len(toks) + 1):
            sa.append((tuple(toks[p - 1 :]), d, p))
    sa.sort()
    lcp = []
    for i in range(len(sa) - 1):
        a, b = sa[i][0], sa[i + 1][0]
        m = min(len(a), len(b))
        j = 0
        while j < m and a[j] == b[j]:
            j += 1
        lcp.append(j)
    members = {}  # rank(0-based) -> dup_len
    for i, v in enumerate(lcp):
        if v >= min_len:
            members[i] = max(members.get(i, 0), v)
            members[i + 1] = max(members.get(i + 1, 0), v)
    out = {}
    ranks = sorted(members)
    island = []
    islands = []
    for r in ranks:
        if island and r == island[-1] + 1 and lcp[r - 1] >= min_len:
            island.append(r)
        else:
            if island:
                islands.append(island)
            island = [r]
    if island:
        islands.append(island)
    for isl in islands:
        docs_in = {sa[r][1] for r in isl}
        if len(docs_in) < 2:
            continue
        for r in isl:
            d = sa[r][1]
            cnt, mx = out.get(d, (0, 0))
            out[d] = (cnt + 1, max(mx, members[r]))
    return sorted((d, c, m) for d, (c, m) in out.items())


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_suffix_array_python_parity(spark, seed):
    docs = _mk_corpus(seed, 12)
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING").repartition(5)
    got = sorted(
        (r.doc_id, r.pos, r.sa_rank) for r in suffix_array(df).collect()
    )
    want = sorted(_py_suffix_array(docs))
    assert got == want


@pytest.mark.parametrize("seed", [7, 8])
def test_exact_substr_dups_python_parity(spark, seed):
    docs = _mk_corpus(seed, 15)
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING").repartition(7)
    got = sorted(
        (r.doc_id, r.n_dup_starts, r.max_dup_len)
        for r in exact_substr_dups(df, min_len=8).collect()
    )
    want = _py_exact_dups(docs, min_len=8)
    assert got == want
    # the planted cross-doc span must be found, and the self-repetition
    # doc (highest id) must NOT be reported
    assert got, "planted duplicates not detected"
    assert all(d != 15 for d, _, _ in got)


def test_suffix_array_pathological_repetition(spark):
    """Worst case for prefix doubling: near-unary strings (massive rank
    ties that survive many rounds, LCPs ~ doc length) and full-document
    duplicates (ties that NEVER resolve and fall to the (doc,pos)
    tie-break).  Also exercises early-stop never firing before the
    final round."""
    docs = [
        (0, " ".join(["a"] * 30)),
        (1, " ".join(["a"] * 30)),          # exact duplicate of 0
        (2, " ".join(["a"] * 17 + ["b"] + ["a"] * 12)),
        (3, "b " + " ".join(["a"] * 25)),
        (4, "c"),
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING").repartition(3)
    got = sorted((r.doc_id, r.pos, r.sa_rank) for r in suffix_array(df).collect())
    want = sorted(_py_suffix_array(docs))
    assert got == want
    dups = sorted(
        (r.doc_id, r.n_dup_starts, r.max_dup_len)
        for r in exact_substr_dups(df, min_len=8).collect()
    )
    want_dups = _py_exact_dups(docs, min_len=8)
    assert dups == want_dups
    # the full-duplicate pair must be reported with a 30-token span
    by_doc = dict((d, (n, m)) for d, n, m in dups)
    assert by_doc[0][1] == 30 and by_doc[1][1] == 30


def test_lcp_edges_match_direct_compare(spark):
    docs = _mk_corpus(42, 10)
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    sa = {(r.doc_id, r.pos): r.sa_rank for r in suffix_array(df).collect()}
    toks = {d: t.split(" ") for d, t in docs}
    by_rank = sorted(((v, k) for k, v in sa.items()))
    edges = {r.sa_rank: r.lcp for r in lcp_edges(df).collect()}
    assert len(edges) == len(by_rank) - 1
    for i in range(len(by_rank) - 1):
        (_, (da, pa)), (_, (db, pb)) = by_rank[i], by_rank[i + 1]
        a, b = toks[da][pa - 1 :], toks[db][pb - 1 :]
        m = min(len(a), len(b))
        j = 0
        while j < m and a[j] == b[j]:
            j += 1
        assert edges[by_rank[i][0]] == j, f"rank {by_rank[i][0]}"


def test_prefix_sum_and_row_number(spark):
    rows = [(i * 3 % 101, i % 7 + 1) for i in range(101)]
    df = spark.createDataFrame(rows, "k LONG, v LONG").repartition(9)
    ps = {
        r.k: r.s
        for r in prefix_sum(df, ["k"], "v", "s", partitions=8).collect()
    }
    acc = 0
    for k, v in sorted(rows):
        acc += v
        assert ps[k] == acc
    rn = {
        r.k: r.rn
        for r in global_row_number(df, ["k"], "rn", partitions=8).collect()
    }
    for i, (k, _) in enumerate(sorted(rows)):
        assert rn[k] == i + 1


@pytest.mark.parametrize("seed,nkeys", [(1, 3), (2, 50)])
def test_global_dense_rank_vs_reference(spark, seed, nkeys):
    """One-shuffle dense rank vs a python reference, with FEW distinct
    keys over MANY partitions so key runs are guaranteed to cross range
    partition boundaries (the double-start correction path)."""
    rng = random.Random(seed)
    rows = [(rng.randrange(nkeys), rng.randrange(nkeys), i) for i in range(500)]
    df = spark.createDataFrame(rows, "a LONG, b LONG, rid LONG").repartition(11)
    ranked, n_distinct = global_dense_rank(df, ["a", "b"], "rk", partitions=8)
    got = {(r.a, r.b, r.rid): r.rk for r in ranked.collect()}
    keys = sorted({(a, b) for a, b, _ in rows})
    want_rank = {k: i + 1 for i, k in enumerate(keys)}
    assert n_distinct == len(keys)
    assert len(got) == len(rows)
    for (a, b, rid), rk in got.items():
        assert rk == want_rank[(a, b)], (a, b, rid)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_lcp_edges_no_python_no_cartesian(spark):
    """The LCP compare is zip_with + array_position (JVM higher-order
    functions), never a UDF; adjacency is an equi-join on sa_rank."""
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "b c d e")], "doc_id LONG, text STRING"
    )
    plan = _plan(lcp_edges(docs))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_global_dense_rank_single_range_shuffle(spark):
    """global_dense_rank's whole point: ONE range exchange on the key,
    no hash exchange of the data, no join back against a distinct-key
    table (the broadcast offset join is the only join)."""
    df = spark.range(1000).select(
        (F.col("id") % 37).alias("a"), (F.col("id") % 11).alias("b")
    )
    ranked, n = global_dense_rank(df, ["a", "b"], "rk", partitions=8)
    assert n == ranked.select("a", "b").distinct().count()
    plan = _plan(ranked)
    # post-checkpoint plan: scan of the checkpointed RDD + broadcast join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan
