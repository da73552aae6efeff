"""Graph operators over relational edge sets.

Triangle counting via compact-forward wedge closure (Schank & Wagner
2005; the standard distributed formulation, e.g. Suri & Vassilvitskii
2011 "Counting Triangles and the Curse of the Last Reducer"): orient
every edge low→high so each triangle is enumerated exactly once and
wedge fan-out is bounded by forward out-degree.

Three physical regimes:

- **broadcast** — the oriented edge set ships to every task for both
  the wedge join and the closure semi-join. Right while the
  support-cut edge set is small; breaks when the graph densifies
  (its own 10× probe grows ~6×).
- **merge** — both joins run as shuffled sort-merge on their keys
  (wedge on ``e1.v = e2.u``; closure on ``(a, c)``): no single-task
  memory ceiling, the 100 TB path.
- **auto** (default) — NO hints: AQE re-plans at runtime from the TRUE
  post-shuffle sizes, converting sort-merge to broadcast when the
  built edge relation is under the broadcast threshold. A static
  Catalyst-stats gate is WRONG here — the pre-execution estimate for
  an aggregated self-join relation is join-product-derived and wildly
  pessimistic (353 MB for a few-KB edge set at sf0.001), so it would
  never pick broadcast; only the runtime sizes know the truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fink_broker_spark.plans.materialize import materialize


def copurchase_edges(
    li: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    min_support: int = 2,
) -> DataFrame:
    """Oriented (u < v) co-occurrence edges with a support cut.

    The self-join fans out per order as |order|²/2 — bounded by basket
    size, not table size; the support HAVING-cut then bounds the edge
    set that the closure joins consume.

    The base projection is spread by the order key before the join
    (guide §2.5): HashPartitioning(order) satisfies the self-join's
    clustering, so the join/fan-out/partial-agg stage is pinned at
    core width instead of being AQE-byte-coalesced to ~1 task (the
    pair fan-out is per-ROW work on a byte-small relation; measured
    1.83 → 1.03 s for the materialized edge set at sf0.1, a cost every
    graph query pays).  Guarded no-op when the scan is already wide.
    """
    from fink_broker_spark.plans.partitioning import ensure_keyed_parallelism

    base = ensure_keyed_parallelism(li.select(order_col, item_col), order_col)
    return (
        base.alias("a")
        .join(base.alias("b"), on=order_col)
        .filter(F.col(f"a.{item_col}") < F.col(f"b.{item_col}"))
        .select(
            F.col(f"a.{item_col}").alias("u"),
            F.col(f"b.{item_col}").alias("v"),
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
        .select("u", "v")
    )


def triangle_closure(edges: DataFrame, regime: str = "auto") -> DataFrame:
    """All triangles (a < b < c) of an oriented ``(u, v)`` edge set.

    ``regime``: ``"auto"`` (no hints — AQE picks broadcast vs
    sort-merge from runtime shuffle sizes; the production default) |
    ``"broadcast"`` | ``"merge"`` (forced, for plan tests and for
    pinning the no-memory-ceiling path). All regimes produce identical
    rows — only the physical join strategy differs (plan-asserted in
    tests).
    """
    if regime not in ("auto", "broadcast", "merge"):
        raise ValueError(f"unknown regime {regime!r}")
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    ac = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    if regime == "broadcast":
        e2 = F.broadcast(e2)
        ac = F.broadcast(ac)
    elif regime == "merge":
        e2 = e2.hint("shuffle_merge")
        ac = ac.hint("shuffle_merge")
    wedges = e1.join(e2, F.col("e1.v") == F.col("e2.u")).select(
        F.col("e1.u").alias("a"),
        F.col("e1.v").alias("b"),
        F.col("e2.v").alias("c"),
    )
    # the key-list join puts join keys first (a, c, b) — pin the order
    return wedges.join(ac, on=["a", "c"], how="left_semi").select(
        "a", "b", "c"
    )


def triangle_counts(edges: DataFrame, regime: str = "auto") -> DataFrame:
    """Per-anchor triangle counts plus the NULL-anchor grand total.

    The rollup gives both groupings in ONE aggregation — a union of two
    groupBys would re-execute the whole wedge/closure pipeline twice
    (anchor ids are never null, so the NULL row is unambiguous).

    Empty-graph contract: a triangle-free graph returns an EMPTY
    DataFrame — engine-native rollup semantics (the Expand has no
    input rows), NOT a (NULL, 0) grand-total row; consumers wanting
    the explicit zero should coalesce driver-side (driftlab ``sparse``
    layout pins this on both engines).
    """
    closed = triangle_closure(edges, regime)
    return closed.rollup("a").agg(F.count(F.lit(1)).alias("n_triangles"))


def symmetrize(edges: DataFrame) -> DataFrame:
    """Directed (src, dst) view of an oriented (u < v) edge set — both
    directions, so degree/propagation operators see the undirected
    graph."""
    return edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))


def min_label_propagation(sym: DataFrame, rounds: int = 3) -> DataFrame:
    """Bounded synchronous min-label propagation over a symmetrized
    ``(src, dst)`` edge set: every round, label(v) ← min over the
    closed neighbourhood N[v] = {v} ∪ neighbours(v), unrolled
    ``rounds`` times — pure integer MIN algebra, so a fixed depth
    oracles exactly (the full-depth variant is the pointer-jumping CC
    in :mod:`ext.dedup`). Returns ``(node, lbl)``; ``rounds=0`` gives
    ``(node, node)``. Node ids are non-NULL (every caller's edge set
    passes a ``u < v`` filter).

    Every edge also yields the self-loop ``(src, src)``, so N[v] is a
    single relation: round 1 is one ``groupBy(dst).min(src)`` (labels
    start as the node ids, no label table to join) and every later
    round is ONE src-keyed join with the previous labels + ONE
    dst-keyed min — the PageRank shuffle pair; label state stays
    distributed. Each round reads the previous labels ONCE, so the
    unrolled plan grows linearly in ``rounds`` and needs no per-round
    materialization. A node of degree d gets d copies of its
    self-loop; MIN ignores them, and taking the loops per edge spares
    a node-set ``distinct`` and its shuffle stage.

    Shared by the ``label_propagation``, ``graph_modularity`` and
    ``neardup_clusters`` queries so the iteration count and tie rules
    can never drift between the community finders and the grader.
    """
    if rounds <= 0:
        return sym.select(F.col("src").alias("node")).distinct().select(
            "node", F.col("node").alias("lbl")
        )
    closed = sym.select("src", "dst").unionAll(
        sym.select("src", F.col("src").alias("dst"))
    )
    labels = closed.groupBy(F.col("dst").alias("node")).agg(
        F.min("src").alias("lbl")
    )
    for _ in range(rounds - 1):
        labels = (
            closed.join(
                labels.select(F.col("node").alias("src"), "lbl"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lbl").alias("lbl"))
        )
    return labels


#: PageRank fixed-point scale: ranks are BIGINT units of 1e-9
PAGERANK_UNIT = 1_000_000_000


def pagerank_fixedpoint(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Fixed-iteration PageRank in EXACT fixed-point integer arithmetic
    (damping 0.85, rank = BIGINT units of 1e-9).

    Why integer: float PageRank sums contributions in nondeterministic
    order — cross-engine (and cross-run) hash parity dies. Here every
    step is integral: contribution = ``rank DIV degree``, damped rank =
    ``0.15·UNIT DIV N + (85·Σcontrib) DIV 100`` — both engines truncate
    positives identically, so 3 iterations are reproducible bit-for-bit
    anywhere (Page et al. 1999; fixed-point trick standard in e.g.
    Pregel integer aggregations).

    Scale shape: per iteration ONE join of the rank table with the
    (degree-annotated) edge list on ``src`` + ONE dst-keyed sum — both
    shuffles on the node key, so a pre-partitioned edge list is reused
    by AQE across iterations; rank state is |nodes| rows, never
    collected to the driver. ``iters`` is small and fixed (unrolled
    into one plan) — the checkpointed-loop variant for deep iteration
    is ``ext/dedup.py``'s pointer-jumping pattern.
    """
    sym = symmetrize(edges)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    nodes = sym.select(F.col("src").alias("node")).distinct()
    n1 = nodes.agg(F.count(F.lit(1)).alias("n"))
    # hoist the loop invariants (r10 optimization): the (node, n) base
    # and the degree-annotated edge list are identical in every
    # iteration, but inside the unrolled loop each iteration re-planned
    # them from scratch (the captured r10 before-plan re-derives the
    # node distinct, the 1-row count AND the edge-degree join three
    # times — 26 Exchange nodes).  Materializing each ONCE (node-sized
    # and edge-sized respectively) leaves per-iteration work at the
    # contribution join + the dst-keyed sum, the true algorithmic
    # minimum.  Results bit-identical (pure loop-invariant hoisting).
    # lineage-truncation tradeoff: see __spark_entry__._materialize
    base = nodes.crossJoin(F.broadcast(n1)).transform(materialize)
    ranks = base.select(
        "node", "n", F.expr(f"{PAGERANK_UNIT} DIV n").alias("ru")
    )
    ed = sym.join(deg, "src").transform(materialize)
    for _ in range(iters):
        contrib = (
            ed.join(
                ranks.select(F.col("node").alias("src"), "ru"), "src"
            )
            .select(F.col("dst").alias("node"), F.expr("ru DIV d").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        base_units = 15 * PAGERANK_UNIT // 100
        ranks = base.join(contrib, "node", "left").select(
            "node",
            "n",
            F.expr(
                f"{base_units} DIV n + (85 * coalesce(s, 0)) DIV 100"
            ).alias("ru"),
        )
    return ranks.select("node", F.col("ru").alias("rank_units"))


def bounded_sssp(
    wedges: DataFrame, iters: int = 3
) -> DataFrame:
    """Single-source shortest paths, Bellman-Ford relaxation unrolled
    ``iters`` rounds, from the minimum node id of a symmetric weighted
    edge list ``(src, dst, w)`` — exact integer distances, so the
    iterative min-plus algebra is reproducible bit-for-bit anywhere
    (the weighted companion to :func:`khop_reach`'s unweighted BFS).

    Scale shape: per round ONE src-keyed join of the frontier with the
    edge list + ONE dst-keyed min — the PageRank shuffle pattern; the
    distance table is ≤ |nodes| rows.  Nodes farther than ``iters``
    hops are absent (their distance is not yet settled — a bounded
    relaxation reports only what it has proven).
    """
    # r11: the old form union+distinct'ed the FULL node set and
    # checkpointed it — only to throw away every row but one: the
    # distance init `nodes ⋈ broadcast(min(node))` keeps exactly the
    # minimum-id source row.  min(src) over the symmetric edge list IS
    # min over the node set (src-set = dst-set = nodes by symmetry,
    # and MIN is distinct-insensitive), so the node-set aggregate, its
    # checkpoint job, and the init join all vanish (guide §1.2 "don't
    # compute things you throw away").  The NULL filter preserves the
    # empty-graph contract: an empty edge list yields an empty dist
    # (the old inner join's behavior), never a (NULL, 0) row.
    # Per-round checkpointing was MEASURED SLOWER here (2.67 → 3.29 s
    # at sf0.1): the three blocking checkpoint jobs cost more than the
    # dist-subtree duplication they remove, because AQE's runtime
    # exchange reuse already dedupes the identical dist subtrees.
    dist = (
        wedges.agg(F.min("src").alias("node"))
        .filter(F.col("node").isNotNull())
        .select("node", F.lit(0).cast("long").alias("dist"))
    )
    for _ in range(iters):
        relaxed = dist.join(
            wedges, dist["node"] == wedges["src"]
        ).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    return dist


def khop_reach(edges: DataFrame, exclude_self: bool = True) -> DataFrame:
    """Per-node 1-hop and ≤2-hop reachable-set sizes (exact, distinct).

    The 2-hop set is ONE self-join on the hop boundary — never an
    all-pairs product; fan-out is Σ d(v)² over neighbors, the standard
    frontier-expansion cost. Integer-exact everywhere.

    The distinct COUNT is computed as a 64-bit-word bitmap aggregate
    (word = floor(nb/64), bit = nb mod 64; ``bit_or`` per (node, word),
    Σ ``bit_count`` per node — the exact-popcount design of
    ``bitmap_segments``) instead of a row-level ``distinct`` + count:
    the map-side partial ``bit_or`` collapses the Σ d(v)² expansion
    rows to ≤ |reach|/64 words per node BEFORE the exchange, so the
    shuffle carries up to 64× fewer rows and the separate
    distinct-Exchange disappears (optimization guide §2.3 "aggregate
    before you shuffle"; measured plan: 2 Exchange + dedupe pass →
    1 Exchange).  Exact-identical to the distinct-count by
    construction: each (node, nb) sets exactly one bit.

    Both counts ride ONE aggregation pass (guide §2.4 "remove shuffles
    outright"): the union is tagged with an is-1-hop flag and each
    (node, word) group folds TWO bitmaps — ``bit_or(bit)`` for the
    ≤2-hop set and ``bit_or(bit WHERE tag)`` for the 1-hop subset —
    so the former separate 1-hop aggregation pipeline and the final
    ``n1 ⋈ n2`` sort-merge join vanish (plan: 6 Exchange + 2 joins →
    4 Exchange + 1 join, the wedge join itself).  Equivalence: every
    node has ≥1 one-hop row (``two``'s node = a.src always appears in
    ``one``), so the old inner join kept exactly the per-node rows the
    fused groupBy emits, and ``bit_or`` over the tagged subset sets
    exactly the 1-hop bits; aggregates ignore the NULLed non-tagged
    rows.  Pinned by the brute-force test and a single-join plan pin.
    """
    from fink_broker_spark.operators.relational import replicated_skew_join

    sym = symmetrize(edges)
    one = sym.select(F.col("src").alias("node"), F.col("dst").alias("nb"))
    # SALTED wedge join (guide §2.5 "salting also splits a single
    # oversized key"): the hop boundary joins on the neighbor id, so a
    # hub node's entire wedge fan-out lands on ONE reducer — AQE's
    # skew-split divides oversized partitions, not a single hot key.
    # The probe side is salted by its own src (varies within the hot
    # key), the build side replicated nsalts×; result-identical by
    # replicated_skew_join's contract (pinned by the brute-force test).
    # The replication cost is bounded: the edge relation is support-cut
    # upstream, and at sf0.1 the whole wedge input is ~7.7k rows
    # (max degree 10 — measured r11), so the salt is pure scale
    # insurance at zero bench cost.
    two = replicated_skew_join(
        sym.select(F.col("src").alias("node"), F.col("dst").alias("__k")),
        sym.select(F.col("src").alias("__k"), F.col("dst").alias("nb")),
        on=["__k"],
        salt_col="node",
        nsalts=8,
    ).select("node", "nb")
    if exclude_self:
        two = two.filter(F.col("nb") != F.col("node"))

    tagged = one.withColumn("__one", F.lit(True)).unionAll(
        two.withColumn("__one", F.lit(False))
    )
    # exact floor-division word for ANY sign of nb (DIV truncates
    # toward zero on negatives; pmod is always non-negative)
    words = tagged.select(
        "node",
        F.expr("(nb - pmod(nb, 64)) DIV 64").alias("__w"),
        # SQL form: the python shiftleft() only takes literal shifts
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(pmod(nb, 64) AS INT))"
        ).alias("__bit"),
        "__one",
    )
    per_word = words.groupBy("node", "__w").agg(
        F.bit_or("__bit").alias("__bm2"),
        F.bit_or(F.when(F.col("__one"), F.col("__bit"))).alias("__bm1"),
    )
    return per_word.groupBy("node").agg(
        F.sum(F.bit_count("__bm1")).cast("long").alias("n_1hop"),
        F.sum(F.bit_count("__bm2")).cast("long").alias("n_2hop"),
    )


#: resource-allocation fixed-point scale: RA = Σ 10^9 div deg(w)
RA_UNIT = 1_000_000_000


def link_prediction(
    edges: DataFrame,
    k: int = 25,
    max_degree: int = 200,
) -> DataFrame:
    """Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003):
    for node pairs NOT currently connected, score the likelihood of a
    future edge by (a) the common-neighbor count and (b) the
    resource-allocation index Σ_{w ∈ CN(a,b)} 1/deg(w) (Zhou et al.
    2009 — down-weights hub-mediated wedges).  Returns the top ``k``
    candidate pairs.

    Exactness: RA is computed as ``Σ (10^9 div deg(w))`` — one integral
    division per common neighbor (Spark ``div`` ≡ DuckDB ``//`` on
    positive operands), summed as BIGINT; no floats anywhere.

    Scale shape: wedges are generated by ONE self-join of the
    symmetrized adjacency through the middle node ``w``, so candidate
    volume is Σ_w deg(w)² — quadratic in HUB degree.  ``max_degree``
    prunes hub middles *before* the wedge join (the same df-cap
    discipline as PPJoin's prefix cut): at 100 TB the routing relation
    is bounded by Σ min(deg, D)², and dropping hub-mediated wedges
    biases AGAINST exactly the pairs RA down-weights anyway.  The
    existing-edge exclusion is a broadcast-size-agnostic left_anti
    equi-join; the final top-k is a TakeOrderedAndProject.
    """
    sym = symmetrize(edges)
    deg = sym.groupBy(F.col("src").alias("w")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    mid = deg.filter(F.col("deg") <= max_degree)
    # adjacency annotated with the middle node's degree, hubs pruned
    adj = sym.join(
        mid, sym["src"] == mid["w"]
    ).select(F.col("src").alias("w"), F.col("dst").alias("x"), "deg")
    wedges = (
        adj.alias("l")
        .join(adj.alias("r"), "w")
        .filter(F.col("l.x") < F.col("r.x"))
        .select(
            F.col("l.x").alias("a"),
            F.col("r.x").alias("b"),
            F.col("l.deg").alias("wdeg"),
        )
    )
    scored = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.sum(
            F.expr(f"CAST({RA_UNIT} AS BIGINT) div wdeg")
        ).alias("ra_scaled9"),
    )
    candidates = scored.join(
        edges,
        (scored["a"] == edges["u"]) & (scored["b"] == edges["v"]),
        "left_anti",
    )
    return candidates.orderBy(
        F.col("common_neighbors").desc(),
        F.col("ra_scaled9").desc(),
        F.col("a"),
        F.col("b"),
    ).limit(k)


def neighbor_feature_agg(
    edges: DataFrame,
    feats: DataFrame,
    max_degree: int = 200,
    mean_scale: int = 10_000,
) -> DataFrame:
    """GNN-style neighborhood feature aggregation (the GraphSAGE /
    message-passing sampling shape, Hamilton et al. 2017): for every
    node, the sum/count/scaled-mean of an integer feature over its
    1-hop neighbors and over its 2-hop WALKS (multiplicity preserved —
    each length-2 path contributes once, exactly the unnormalized
    A²·x message-passing aggregate, self-walks excluded).

    Exactness: features are exact BIGINTs; means are emitted as
    ``(sum · mean_scale) div n`` fixed-point integers (integral
    division, identical truncation both engines) — no FP anywhere.

    Scale shape: 1-hop is ONE equi-join adjacency→features + groupBy;
    2-hop walks are ONE self-join through the middle node with the
    same ``max_degree`` hub prune as :func:`link_prediction` (volume
    Σ min(deg, D)²).  Feature lookups join on the DESTINATION node —
    at 100 TB both joins are plain shuffles, AQE free to broadcast the
    (node, feat) dimension when it fits.

    ``feats``: (node, feat) with feat integral (e.g. price cents).
    """
    sym = symmetrize(edges)
    fx = feats.select(F.col("node").alias("x"), F.col("feat"))
    one = sym.select(F.col("src").alias("node"), F.col("dst").alias("x"))
    h1 = (
        one.join(fx, "x")
        .groupBy("node")
        .agg(
            F.sum("feat").alias("h1_sum"),
            F.count(F.lit(1)).alias("h1_n"),
        )
    )
    deg = sym.groupBy(F.col("src").alias("w")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    mid = deg.filter(F.col("deg") <= max_degree).select("w")
    walks = (
        sym.alias("a")
        .join(mid, F.col("a.dst") == mid["w"])
        .join(sym.alias("b"), F.col("a.dst") == F.col("b.src"))
        .filter(F.col("b.dst") != F.col("a.src"))
        .select(F.col("a.src").alias("node"), F.col("b.dst").alias("x"))
    )
    h2 = (
        walks.join(fx, "x")
        .groupBy("node")
        .agg(
            F.sum("feat").alias("h2_sum"),
            F.count(F.lit(1)).alias("h2_n"),
        )
    )
    return (
        h1.join(h2, "node", "left")
        .select(
            "node",
            "h1_sum",
            "h1_n",
            F.expr(f"(h1_sum * CAST({int(mean_scale)} AS BIGINT)) div h1_n")
            .alias("h1_mean_scaled"),
            F.coalesce("h2_sum", F.lit(0).cast("long")).alias("h2_sum"),
            F.coalesce("h2_n", F.lit(0).cast("long")).alias("h2_n"),
            F.when(
                F.col("h2_n").isNotNull() & (F.col("h2_n") > 0),
                F.expr(
                    f"(h2_sum * CAST({int(mean_scale)} AS BIGINT)) div h2_n"
                ),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("h2_mean_scaled"),
        )
    )
