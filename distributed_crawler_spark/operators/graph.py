"""Distributed connected components — duplicate-cluster formation.

The reference deduplicates URLs by exact set membership only
(master_node.py:69-70,336-391); a training-data pipeline additionally
needs CONTENT near-dup clustering: MinHash-LSH / n-gram-Jaccard emit
*pairs*, and the standard curation step (RefinedWeb, SlimPajama, Dolma)
closes them transitively into duplicate clusters and keeps one document
per cluster.  Transitive closure over 10^10+ nodes is a graph problem,
so this module implements the alternating **large-star / small-star**
algorithm of Kiveris et al., "Connected Components in MapReduce and
Beyond" (SoCC 2014) as pure DataFrame compositions:

  * every round is two (groupBy-min + self-join) passes that shuffle
    only (node, node) id pairs — no adjacency lists are materialized,
    no vertex ever holds its whole component;
  * the edge set provably shrinks toward a forest of depth-1 stars in
    O(log n) rounds (the paper's Thm 3.2), so the driver loop runs ~10
    iterations at 10^10 nodes, each a fixed-shape shuffle;
  * convergence is detected with an order-independent aggregate
    signature (count + two salted bit_xor hash folds), ONE map-side
    combined aggregate per round — never a driver-side edge collect.

Unlike the fixed-iteration Lloyd loop (similarity.kmeans_lloyd), the
data-dependent stopping rule here cannot diverge from the DuckDB
oracle: the fixpoint of large/small-star IS the true component
assignment, which the oracle computes independently via a recursive
CTE — intermediate states never surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import phash

# When the pair graph fits the driver, transitive closure runs as one
# collect + union-find instead of O(log n) alternating-star rounds (each
# round ~6 small shuffles + a signature action — pure latency once the
# edge set is thousands of rows, which is what near-dup thresholds
# produce even from huge corpora).  Connected components with min-id
# labels are unique, so both paths return identical assignments; the
# distributed fixpoint remains the path for graphs over the cap
# (parity-tested both ways).
COLLECT_EDGES_MAX = 2_000_000


def _components_collected(rows) -> dict[int, int]:
    """Union-find with path compression over collected (a, b) rows;
    labels = the component's smallest node id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        a, b = r[0], r[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    label: dict[int, int] = {}
    for x in parent:
        r = find(x)
        if r not in label or x < label[r]:
            label[r] = x
    return {x: label[find(x)] for x in parent}


def _canonical(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge set as canonical (big, small) pairs: self-loops
    dropped, duplicates merged."""
    e = edges.select(
        F.greatest(F.col(src), F.col(dst)).cast("long").alias("big"),
        F.least(F.col(src), F.col(dst)).cast("long").alias("small"),
    )
    return e.filter(F.col("big") != F.col("small")).distinct()


def large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al. §3): for every node u, connect
    every strictly LARGER neighbor to min(N(u) ∪ {u}).  Emitted edges
    are (v, m) with m < v, so the output is already canonical."""
    both = edges.select(
        F.col("big").alias("u"), F.col("small").alias("v")
    ).unionAll(edges.select(F.col("small").alias("u"), F.col("big").alias("v")))
    mins = both.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
    return (
        both.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("big"), F.col("m").alias("small"))
        .distinct()
    )


def small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: key each edge by its LARGER endpoint u; with
    m = min of u's smaller-neighbors, connect u and every other smaller
    neighbor to m."""
    mins = edges.groupBy("big").agg(F.min("small").alias("m"))
    neigh = edges.join(mins, "big").select(
        F.col("small").alias("big"), F.col("m").alias("small")
    )
    star = mins.select(F.col("big"), F.col("m").alias("small"))
    return (
        neigh.filter(F.col("big") != F.col("small"))
        .unionAll(star)
        .distinct()
    )


def _signature(edges: DataFrame):
    """Order-independent edge-set signature: one aggregate action, no
    collect of edges.  bit_xor folds are overflow-free (unlike sum,
    which throws under ANSI mode) and the two salts make a collision
    that ALSO preserves the edge count astronomically unlikely."""
    key = F.concat_ws(",", F.col("big"), F.col("small"))
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(phash(key)).alias("x1"),
        F.bit_xor(phash(F.concat(F.lit("s2:"), key))).alias("x2"),
    ).collect()[0]
    return (row["n"], row["x1"], row["x2"])


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 20,
    max_collect: int | None = None,
) -> DataFrame:
    """(node, component) for every node appearing in `edges`, where
    component = the smallest node id reachable from it.  Edge sets that
    fit the driver (<= max_collect rows; default COLLECT_EDGES_MAX)
    close in one collect + union-find; larger graphs alternate
    large-star / small-star until the edge-set signature is stable —
    `max_iters` is a safety bound far above the O(log n) expectation
    (20 rounds covers n ~ 2^20 adversarial paths; dedup graphs are
    near-star-shaped and converge in 2-4).  Components with min-id
    labels are unique, so the two paths agree exactly
    (tests/test_graph_cc.py parity-checks them)."""
    # one narrow projection of the input, EAGERLY materialized so an
    # expensive upstream pair pipeline (LSH banding, Jaccard
    # verification) is evaluated exactly once.  A lazy persist is not
    # enough: nodes' unionAll references it twice and those branches'
    # stages run CONCURRENTLY inside one job, racing the cache and
    # computing the whole pair pipeline's post-shuffle tail twice
    # (measured ~2x the pair aggregate's task-seconds at sf1.0); the
    # eager checkpoint is one job and every consumer reads its blocks.
    base = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).localCheckpoint(eager=True)
    if max_collect is None:
        max_collect = COLLECT_EDGES_MAX
    if max_collect > 0:
        head = base.limit(max_collect + 1).collect()
        if len(head) <= max_collect:
            comp = _components_collected(head)
            spark = edges.sparkSession
            return spark.createDataFrame(
                sorted(comp.items()), "node long, component long"
            )
    nodes = (
        base.select(F.col("a").alias("node"))
        .unionAll(base.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur = _canonical(base, "a", "b").persist()
    sig = _signature(cur)
    for _ in range(max_iters):
        # localCheckpoint truncates the per-round lineage (each round
        # is 2 joins + 2 aggs on top of the last; 20 rounds of stacked
        # plans would otherwise blow up Catalyst re-analysis); lazy so
        # the signature scan below is the job that materializes it —
        # one action per round, not two.
        nxt = small_star(large_star(cur)).localCheckpoint(eager=False)
        nsig = _signature(nxt)
        cur.unpersist()
        cur = nxt
        if nsig == sig:
            break
        sig = nsig
    # fixpoint: a forest of depth-1 stars (child=big → root=small);
    # roots map to themselves.
    comp = cur.select(
        F.col("big").alias("node"), F.col("small").alias("component")
    )
    return (
        nodes.join(comp, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
    )


def pagerank_int(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 5,
    scale: int = 1_000_000,
    damp_num: int = 85,
    damp_den: int = 100,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Integer-arithmetic PageRank — frontier prioritization over the
    crawl link graph (the score production crawlers rank fetch queues
    by; the reference's FIFO frontier has no notion of it).

    Scores are integers in units of 1/scale: every node starts at
    ``scale``; each round every edge carries ``score // out_degree``
    and a node's new score is ``(scale * (den-num)) // den +
    (num * incoming) // den`` (the per-node-base PageRank variant,
    damping num/den).  ALL arithmetic is nonnegative-integer division,
    so the result is BIT-EXACT regardless of partitioning, join order,
    or engine — the DuckDB oracle replays the same unrolled iterations
    with no float-rounding caveat (contrast kmeans_lloyd's
    round(avg, 6) contract).

    Scale shape per iteration: one (src) join + one map-side-combined
    groupBy(dst) sum + one left join back to the node list — shuffles
    carry (id, long) pairs only.  A fixed iteration count (PageRank
    converges geometrically; 5-10 rounds rank-stabilizes web graphs),
    so the lineage is a short static chain — no checkpoints needed.

    ``weight`` names an integer edge-weight column for WEIGHTED
    PageRank (the contracted-graph case: a host→host edge carries the
    page-link count): out-degree becomes sum(w) and each edge carries
    ``(score * w) // sum(w)`` — still exact integer arithmetic, with
    weight=1 reducing bit-exactly to the unweighted form.  (Overflow
    headroom: score ≤ ~n·scale and the product multiplies by w, so
    score·w must stay under 2^63 — at scale=10^6 that allows
    n·w ~ 9·10^12, far past any host graph's needs.)"""
    # the edge list and out-degree table are re-read by EVERY iteration's
    # join (guide §5: reuse + recompute cost): without a persist the whole
    # upstream edge pipeline — for host_pagerank a page-scale explode +
    # contraction groupBy — re-runs iters+1 times inside the one final
    # action. Persisted, it materializes once (MEMORY_AND_DISK) and each
    # iteration reads the cache; the ContextCleaner drops the blocks when
    # the returned frame is released.
    e = edges.select(
        F.col(src).cast("long").alias("src"),
        F.col(dst).cast("long").alias("dst"),
        (F.col(weight) if weight else F.lit(1)).cast("long").alias("w"),
    ).persist()
    odeg = e.groupBy("src").agg(F.sum("w").alias("od")).persist()
    base = (scale * (damp_den - damp_num)) // damp_den
    scores = nodes.select(
        F.col(node_col).cast("long").alias("node"), F.lit(scale).cast("long").alias("score")
    )
    for _ in range(iters):
        contrib = (
            e.join(scores, F.col("src") == F.col("node"))
            .join(odeg, "src")
            .select("dst", F.expr("(score * w) DIV od").alias("c"))
        )
        incoming = contrib.groupBy("dst").agg(F.sum("c").alias("inc"))
        scores = (
            scores.select("node")
            .join(incoming, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.expr(f"({damp_num} * coalesce(inc, 0L)) DIV {damp_den}")
                ).alias("score"),
            )
        )
    return scores


def dedup_clusters(
    pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate clusters from a near-dup PAIR frame (id_a, id_b):
    (doc_id, cluster_id, cluster_size) for every clustered doc, where
    cluster_id is the component's smallest doc id (the keeper)."""
    cc = connected_components(pairs)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "component").select(
        F.col("node").alias(id_col),
        F.col("component").alias("cluster_id"),
        "cluster_size",
    )


def keep_one_per_cluster(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The curation action: drop every clustered document except its
    cluster's smallest id.  Singleton docs (no near-dup partner) pass
    through.  One left-anti join against the (small) drop list — the
    corpus itself is never reshuffled."""
    cc = connected_components(pairs)
    drop = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(drop, id_col, "left_anti")


def keep_one_from_clusters(
    docs: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """``keep_one_per_cluster`` over a MATERIALIZED cluster-assignment
    table (doc_id, cluster_id, ...) — the production shape: cluster
    formation is the expensive iterative job and its assignments are
    written once (dedup_clusters → parquet/Iceberg); every curation
    action afterwards is one left-anti join against the tiny drop list,
    never a re-clustering.  Equivalent to keep_one_per_cluster on the
    pair frame the clusters came from (pytest-asserted)."""
    drop = clusters.filter(F.col(id_col) != F.col("cluster_id")).select(id_col)
    return docs.join(drop, id_col, "left_anti")


def anchor_text_agg(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """Inbound anchor-text aggregation over the web graph: for every
    link TARGET, the inlink count, distinct-source count, and the
    sorted distinct anchor texts pointing at it.

    The ranking/quality feature the reference's extractor throws away
    (crawler_node.py:86-129 keeps a@href, drops the anchor text): search
    engines index anchor text as a page field (BM25F 'anchor'), and
    crawl schedulers use inlink counts for frontier priority.  Targets
    need not have been fetched — anchor text is the classic signal for
    pages you HAVEN'T crawled yet.

    Scale shape: Arrow-batched anchor parse → explode → ONE hash
    shuffle on the target url with partial (map-side) aggregation for
    all three measures; anchor strings are tiny relative to pages, and
    no join touches the corpus.
    """
    from ..functions.extract import extract_anchors_udf

    pairs = pages.select(
        F.col(url_col).alias("src_url"),
        F.explode(extract_anchors_udf(F.col(html_col), F.col(url_col))).alias("lnk"),
    ).select("src_url", F.col("lnk.url").alias("url"), F.col("lnk.anchor").alias("anchor"))
    return pairs.groupBy("url").agg(
        F.count(F.lit(1)).cast("long").alias("n_inlinks"),
        F.countDistinct("src_url").cast("long").alias("n_sources"),
        F.concat_ws(" ", F.array_sort(F.collect_set("anchor"))).alias("anchors"),
    )


def hits_int(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 3,
    scale: int = 1_000_000,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Integer-arithmetic HITS (Kleinberg 1999) — hub/authority scores
    over the crawl link graph: the complementary frontier signal to
    PageRank (a high-hub page is a good place to DISCOVER new urls; a
    high-authority page is a good page to FETCH).

    Same bit-exactness contract as pagerank_int, with L1 normalization
    replacing Kleinberg's L2 so every step stays in integers: each half-
    iteration sums the opposite score over in/out-links, then rescales
    to a total of ``n * scale`` via ``(raw * n * scale) // sum(raw)`` —
    exact integer division after an exact integer sum, so partitioning,
    join order, and engine cannot move any score. (Overflow headroom:
    raw ≤ max_degree·scale and the rescale multiplies by n·scale, so at
    extreme graph sizes lower ``scale``; 10^6 holds to ~10^6-node
    graphs with mega-hubs, plenty for per-partition frontier ranking.)

    Scale shape per half-iteration: one (src or dst) join + one
    map-side-combined sum + one 1-row total broadcast — shuffles carry
    (id, long) pairs only, the pagerank_int shape run twice."""
    # persisted: each half-iteration's join re-reads the edge list inside
    # the normalize actions — 2x iters evaluations without the cache
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).persist()
    ns = nodes.select(F.col(node_col).cast("long").alias("node")).persist()
    # n*scale as a driver literal: one count action up front instead of
    # a lazy 1-row aggregate re-evaluated inside every half-iteration
    n_scale = ns.count() * scale

    def _normalize(raw: DataFrame, col: str) -> DataFrame:
        # rescale to sum = n*scale; nodes missing from raw hold 0.
        # raw is persisted and its total is taken as a 1-row ACTION so
        # the rescale divides by a literal — a lazy broadcast aggregate
        # here would nest 2 full-lineage re-evaluations per
        # half-iteration (6x per HITS round), the difference between a
        # ~1 s and a ~10 s plan at sf0.1. Bit-exact either way: the
        # total is an exact integer sum.
        raw = raw.persist()
        tot = raw.agg(F.sum(col)).collect()[0][0]
        if not tot:
            # empty/edgeless graph: the sum aggregate returns NULL and the
            # rescale literal would be invalid SQL (ADVICE r06) — every
            # node simply scores zero
            raw.unpersist()
            return ns.select(
                "node", F.lit(0).cast("long").alias(col)
            ).localCheckpoint(eager=True)
        out = (
            ns.join(raw, "node", "left")
            .select(
                "node",
                F.expr(f"(coalesce({col}, 0L) * {n_scale}L) DIV {tot}L").alias(col),
            )
            # eager: materialize while raw is cached, then release it —
            # per-round state is one (node, long) frame, never a
            # growing persist set
            .localCheckpoint(eager=True)
        )
        raw.unpersist()
        return out

    hub = ns.select("node", F.lit(scale).cast("long").alias("h"))
    auth = None
    for _ in range(iters):
        a_raw = (
            e.join(hub, F.col("src") == F.col("node"))
            .groupBy("dst")
            .agg(F.sum("h").alias("a"))
            .withColumnRenamed("dst", "node")
        )
        auth = _normalize(a_raw, "a")
        h_raw = (
            e.join(auth, F.col("dst") == F.col("node"))
            .groupBy("src")
            .agg(F.sum("a").alias("h"))
            .withColumnRenamed("src", "node")
        )
        hub = _normalize(h_raw, "h")
    return hub.join(auth, "node").select(
        "node", F.col("h").alias("hub"), F.col("a").alias("authority")
    )


def doubling_rounds(max_hops: int) -> int:
    """Self-join rounds pointer doubling needs to follow max_hops hops:
    ceil(log2(max_hops)) — 5 rounds for 32 hops, 10 for 1024."""
    import math

    return max(1, math.ceil(math.log2(max_hops)))


def resolve_chains(
    nodes: DataFrame,
    redirects: DataFrame,
    id_col: str = "id",
    dst_col: str = "dst",
    max_hops: int = 32,
) -> DataFrame:
    """Redirect-chain resolution by POINTER DOUBLING: for every node,
    the terminal node reached by following redirect edges, in
    ceil(log2(max_hops)) shuffle rounds instead of max_hops rounds.

    The reference resolves redirects one HTTP hop at a time inside
    requests.get (crawler_node.py fetch path) — per-row sequential
    chasing.  At warehouse scale the redirect map is a TABLE, and a
    naive iterative join costs one shuffle per hop (a 30-hop chain =
    30 shuffles over the full frontier).  Pointer doubling keeps state
    (id, ptr, hops, done) where after round k every row has followed
    min(2^k, chain) hops: each round self-joins the state on ptr = id
    and composes the two half-paths, accumulating EXACT hop counts
    (partner rows are complete sub-chain summaries, so the sums
    decompose the true chain length).  5 rounds resolve 32 hops; 2-cycle
    or over-length chains simply never reach a terminal row and come
    back resolved=false — no cycle detection pass needed.

    Input: nodes (id_col), redirects (id_col -> dst_col; at most one
    edge per source).  A dst outside `nodes` is treated as terminal.
    Output: (id, final_id, hops, resolved) for every node; non-redirect
    nodes resolve to themselves with hops=0.  All-integer state, so the
    result is bit-exact across engines and partitionings."""
    import math

    r = redirects.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(dst_col).cast("long").alias("ptr"),
    )
    state = (
        nodes.select(F.col(id_col).cast("long").alias("id"))
        .join(r, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("ptr"), F.col("id")).alias("ptr"),
            F.when(F.col("ptr").isNull(), F.lit(0))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("hops"),
            F.col("ptr").isNull().alias("done"),
        )
    )
    rounds = doubling_rounds(max_hops)
    for _ in range(rounds):
        partner = state.select(
            F.col("id").alias("p_id"),
            F.col("ptr").alias("p_ptr"),
            F.col("hops").alias("p_hops"),
            F.col("done").alias("p_done"),
        )
        pending = state.filter(~F.col("done"))
        settled = state.filter(F.col("done"))
        stepped = pending.join(
            partner, pending["ptr"] == partner["p_id"], "left"
        ).select(
            "id",
            F.coalesce(F.col("p_ptr"), F.col("ptr")).alias("ptr"),
            (F.col("hops") + F.coalesce(F.col("p_hops"), F.lit(0))).alias("hops"),
            # a ptr with no state row points outside `nodes`: terminal
            F.coalesce(F.col("p_done"), F.lit(True)).alias("done"),
        )
        # lineage truncation: each round stacks a join on the last —
        # lazy so the next round's join is the materializing job (the
        # checkpoint truncates the PLAN at call time either way: all
        # three downstream references — settled, pending, partner —
        # share one RDD, so the round is computed once; eager=True was
        # A/B'd in round 7 and only added 5 sequential driver jobs,
        # 1.5 -> 2.8 s at sf1.0)
        state = settled.unionByName(stepped).localCheckpoint(eager=False)
    # Final classification is by MEMBERSHIP, not the in-loop done flag:
    # the flag lags the pointer by one round (a row landing on the
    # terminal via a still-pending partner isn't flagged until it joins
    # the terminal's own state), so after r rounds the flag only covers
    # chains ≤ 2^r - 1 while the pointer itself has followed a full
    # 2^r = max_hops.  ptr ∉ redirect-sources ⇔ a terminal was reached
    # within max_hops — and hops is then the exact chain length (partner
    # contributions are exact sub-chain summaries that never overshoot
    # a terminal).
    srcs = r.select(F.col("id").alias("t_id")).distinct()
    return state.join(srcs, state["ptr"] == srcs["t_id"], "left").select(
        "id",
        F.when(F.col("t_id").isNull(), F.col("ptr")).alias("final_id"),
        F.when(F.col("t_id").isNull(), F.col("hops")).alias("hops"),
        F.col("t_id").isNull().alias("resolved"),
    )
