"""Connected-components (large-star/small-star) parity vs a pure-Python
union-find reference, edge-case shapes, and the iteration bound."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from distributed_crawler_spark.operators import graph


def _uf_components(pairs):
    """Min-label union-find reference."""
    par: dict[int, int] = {}

    def find(x):
        par.setdefault(x, x)
        while par[x] != x:
            par[x] = par[par[x]]
            x = par[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            par[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in par}


def _cc(spark, pairs):
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    return {
        r["node"]: r["component"]
        for r in graph.connected_components(df).collect()
    }


def test_chain_pair_and_self_loop(spark):
    # path 0-1-2-3-4 (transitive closure), disjoint pair, a duplicate
    # reversed edge, and a pure self-loop node (singleton component)
    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (7, 7)]
    assert _cc(spark, pairs) == {
        0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 10: 10, 11: 10, 7: 7,
    }


def test_star_and_reverse_path(spark):
    # star centered at the LARGEST id plus a descending path — exercises
    # both the large-star (big hub) and small-star (long chain) halves
    star = [(100, i) for i in range(5)]
    path = [(i + 1, i) for i in range(50, 60)]
    got = _cc(spark, star + path)
    assert all(got[n] == 0 for n in [100, 0, 1, 2, 3, 4])
    assert all(got[n] == 50 for n in range(50, 61))


def test_randomized_vs_union_find(spark):
    rng = random.Random(1234)
    for _ in range(3):
        pairs = [
            (rng.randrange(300), rng.randrange(300)) for _ in range(220)
        ]
        pairs = [p for p in pairs if p[0] != p[1]]
        assert _cc(spark, pairs) == _uf_components(pairs)


def test_distributed_path_matches_collected(spark):
    """The round-7 collect+union-find fast path and the alternating-star
    distributed fixpoint (forced via max_collect=0) must return
    identical assignments — component min-id labels are unique."""
    rng = random.Random(987)
    pairs = [(rng.randrange(400), rng.randrange(400)) for _ in range(300)]
    pairs = [p for p in pairs if p[0] != p[1]]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    fast = {
        r["node"]: r["component"]
        for r in graph.connected_components(df).collect()
    }
    dist = {
        r["node"]: r["component"]
        for r in graph.connected_components(df, max_collect=0).collect()
    }
    assert fast == dist == _uf_components(pairs)


def test_long_path_converges_within_bound(spark):
    # a 200-node path is the adversarial diameter case for star
    # contraction; O(log n) rounds must find the single component
    pairs = [(i, i + 1) for i in range(200)]
    got = _cc(spark, pairs)
    assert set(got.values()) == {0}


def _pr_py(nodes, edges, iters=5, scale=1_000_000, num=85, den=100):
    """Pure-Python integer PageRank reference."""
    od: dict[int, int] = {}
    for s, _ in edges:
        od[s] = od.get(s, 0) + 1
    score = {v: scale for v in nodes}
    base = (scale * (den - num)) // den
    for _ in range(iters):
        inc = {v: 0 for v in nodes}
        for s, t in edges:
            inc[t] += score[s] // od[s]
        score = {v: base + (num * inc[v]) // den for v in nodes}
    return score


def test_pagerank_int_vs_python(spark):
    import random

    from pyspark.sql import functions as F

    rng = random.Random(5)
    nodes = list(range(60))
    edges = [
        (rng.randrange(60), rng.randrange(60)) for _ in range(180)
    ]  # multi-edges + self-loops allowed; some nodes dangling
    exp = _pr_py(nodes, edges)
    ndf = spark.createDataFrame([(v,) for v in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["score"]
        for r in graph.pagerank_int(ndf, edf, iters=5).collect()
    }
    assert got == exp
    # bit-exactness under a different partitioning
    got2 = {
        r["node"]: r["score"]
        for r in graph.pagerank_int(ndf.repartition(7), edf.repartition(13), iters=5).collect()
    }
    assert got2 == exp


def _pr_py_weighted(nodes, wedges, iters=5, scale=1_000_000, num=85, den=100):
    """Weighted integer PageRank reference: per-edge (score*w)//sum(w)."""
    od: dict[int, int] = {}
    for s, _, w in wedges:
        od[s] = od.get(s, 0) + w
    score = {v: scale for v in nodes}
    base = (scale * (den - num)) // den
    for _ in range(iters):
        inc = {v: 0 for v in nodes}
        for s, t, w in wedges:
            inc[t] += (score[s] * w) // od[s]
        score = {v: base + (num * inc[v]) // den for v in nodes}
    return score


def test_weighted_pagerank_vs_python_and_expansion(spark):
    """Weighted scores match the reference, and a weight-w edge is NOT
    generally equal to w parallel unit edges (per-edge floor division
    differs) — the weighted form is its own semantics, exact on both
    engines; weight=1 must equal the unweighted call bit-for-bit."""
    import random

    rng = random.Random(17)
    nodes = list(range(40))
    wedges = [
        (rng.randrange(40), rng.randrange(40), rng.randrange(1, 9))
        for _ in range(120)
    ]
    exp = _pr_py_weighted(nodes, wedges)
    ndf = spark.createDataFrame([(v,) for v in nodes], "node long")
    edf = spark.createDataFrame(wedges, "src long, dst long, w long")
    got = {
        r["node"]: r["score"]
        for r in graph.pagerank_int(ndf, edf, iters=5, weight="w").collect()
    }
    assert got == exp
    # weight=1 on every edge ≡ the unweighted call (bit-exact reduction)
    unit = [(s, t, 1) for s, t, _ in wedges]
    udf_ = spark.createDataFrame(unit, "src long, dst long, w long")
    got_w1 = {
        r["node"]: r["score"]
        for r in graph.pagerank_int(ndf, udf_, iters=5, weight="w").collect()
    }
    plain = spark.createDataFrame(
        [(s, t) for s, t, _ in wedges], "src long, dst long"
    )
    got_plain = {
        r["node"]: r["score"]
        for r in graph.pagerank_int(ndf, plain, iters=5).collect()
    }
    assert got_w1 == got_plain == _pr_py_weighted(nodes, unit)


def test_keep_one_per_cluster(spark):
    docs = spark.range(8).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (6, 7)], "id_a long, id_b long"
    )
    kept = sorted(
        r["doc_id"]
        for r in graph.keep_one_per_cluster(docs, pairs).collect()
    )
    # cluster {1,3,5} keeps 1; {6,7} keeps 6; 0/2/4 are singletons
    assert kept == [0, 1, 2, 4, 6]


def test_keep_one_from_materialized_clusters_equivalent(spark):
    """keep_one over the materialized assignment table ≡ keep_one over
    the pair frame it came from (the dedup_keep_one production split)."""
    from distributed_crawler_spark.operators.graph import (
        dedup_clusters,
        keep_one_from_clusters,
        keep_one_per_cluster,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "id_a LONG, id_b LONG"
    )
    docs = spark.createDataFrame(
        [(i,) for i in range(25)], "doc_id LONG"
    )
    a = sorted(r["doc_id"] for r in keep_one_per_cluster(docs, pairs).collect())
    b = sorted(
        r["doc_id"]
        for r in keep_one_from_clusters(docs, dedup_clusters(pairs)).collect()
    )
    assert a == b and 2 not in a and 3 not in a and 11 not in a
