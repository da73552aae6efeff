"""Graph queries over the part-supplier graph that ``lineitem`` induces:
triangles, PageRank, reachability, components, cores and link
features.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fink_broker_spark.plans.materialize import materialize
from fink_broker_spark.queries.registry import query
from fink_broker_spark.sources.parquet import load_table


ORACLE_TRIANGLE_COUNT = """
WITH pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
),
closed AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM pairs e1 JOIN pairs e2 ON e1.v = e2.u
  WHERE EXISTS (SELECT 1 FROM pairs p WHERE p.u = e1.u AND p.v = e2.v)
)
SELECT a, count(*) AS n_triangles FROM closed GROUP BY a
UNION ALL
-- engine-native rollup semantics: Spark's rollup over an EMPTY closed
-- set emits zero rows (the Expand has no input), so the grand-total
-- row exists only when triangles exist (driftlab sparse layout)
SELECT CAST(NULL AS BIGINT), count(*) FROM closed HAVING count(*) > 0
"""


@query("triangle_count", oracle=ORACLE_TRIANGLE_COUNT)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the co-purchase graph (parts sharing an
    order, support ≥ 2): the standard compact-forward algorithm —
    orient every edge low→high, join edge(a,b) with edge(b,c), then
    semi-join the wedge closure (a,c) against the edge set. Orienting
    first means each triangle is produced exactly ONCE (a<b<c) and the
    wedge fan-out is bounded by out-degree, the classic distributed
    triangle trick. Support cut bounds the edge set; all counts exact.

    Output: triangles per anchor node (lowest id) plus the global
    total as anchor NULL. Physical strategy is ``ext/graph.py``'s
    ``auto`` regime: NO join hints — AQE re-plans from the true
    runtime shuffle sizes and broadcasts the support-cut edge set
    while it is small (a static Catalyst-stats gate would see the
    pessimistic join-product estimate and never broadcast);
    ``triangle_count_merge`` pins the forced sort-merge path — the
    no-memory-ceiling regime once the graph densifies."""
    from fink_broker_spark.ext.graph import copurchase_edges, triangle_counts

    li = load_table(spark, sf_dir, "lineitem")
    # the closure consumes the edge relation three times (e1, e2, and
    # the a-c semi-join side) — uncut, each consumer re-derives the
    # basket self-join (materialize-once pattern)
    edges = materialize(copurchase_edges(li, min_support=2))
    return triangle_counts(edges, regime="auto")


@query("triangle_count_merge", oracle=ORACLE_TRIANGLE_COUNT)
def q_triangle_count_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-merge regime of ``q_triangle_count`` (``ext/graph.py:
    triangle_closure``): identical rows, but both closure joins run as
    shuffled sort-merge — no broadcast of the edge set, no single-task
    memory ceiling. This is the regime the auto gate picks once the
    support-cut edge relation outgrows ~64 MB; registering it
    separately keeps the scale path oracled green, plan-asserted
    (``tests/test_ext.py``)."""
    from fink_broker_spark.ext.graph import copurchase_edges, triangle_counts

    li = load_table(spark, sf_dir, "lineitem")
    # same three-consumer materialize as the auto regime above
    edges = materialize(copurchase_edges(li, min_support=2))
    return triangle_counts(edges, regime="merge")


ORACLE_PAGERANK = """
WITH pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
),
edges AS (
  SELECT u AS src, v AS dst FROM pairs
  UNION ALL SELECT v AS src, u AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (
  SELECT node, 1000000000 // n AS ru FROM nodes CROSS JOIN nn
),
c1 AS (
  SELECT e.dst AS node, SUM(r.ru // d.d) AS s
  FROM edges e JOIN r0 r ON r.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY 1
),
r1 AS (
  SELECT nodes.node,
         150000000 // n + (85 * COALESCE(c1.s, 0)) // 100 AS ru
  FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.node = nodes.node
),
c2 AS (
  SELECT e.dst AS node, SUM(r.ru // d.d) AS s
  FROM edges e JOIN r1 r ON r.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY 1
),
r2 AS (
  SELECT nodes.node,
         150000000 // n + (85 * COALESCE(c2.s, 0)) // 100 AS ru
  FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.node = nodes.node
),
c3 AS (
  SELECT e.dst AS node, SUM(r.ru // d.d) AS s
  FROM edges e JOIN r2 r ON r.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY 1
),
r3 AS (
  SELECT nodes.node,
         150000000 // n + (85 * COALESCE(c3.s, 0)) // 100 AS ru
  FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.node = nodes.node
)
SELECT node, CAST(ru AS BIGINT) AS rank_units
FROM r3 ORDER BY rank_units DESC, node LIMIT 20
"""


@query("pagerank", oracle=ORACLE_PAGERANK)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over the co-purchase graph in EXACT
    fixed-point integer arithmetic (``ext/graph.py:pagerank_fixedpoint``
    — ranks are BIGINT 1e-9 units; every step is integral DIV, so the
    iterative float-sum nondeterminism that normally makes PageRank
    unhashable never exists). Top-20 by rank with node-id tiebreak.

    The oracle unrolls the same three iterations as nested CTEs —
    genuinely iterative algorithms CAN be oracle-checked when each
    step is exact integer algebra."""
    from fink_broker_spark.ext.graph import copurchase_edges, pagerank_fixedpoint

    li = load_table(spark, sf_dir, "lineitem")
    # degree/node/rank state and all 3 iterations re-reference the
    # edge relation — uncut, the plan re-derived the basket self-join
    # 56×; inside pagerank_fixedpoint, symmetrize/
    # deg/ed become cheap projections of the materialized blocks
    edges = materialize(copurchase_edges(li, min_support=2))
    pr = pagerank_fixedpoint(edges, iters=3)
    return pr.orderBy(F.desc("rank_units"), "node").limit(20)


ORACLE_KHOP_REACH = """
WITH pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
),
edges AS (
  SELECT u AS src, v AS dst FROM pairs
  UNION ALL SELECT v AS src, u AS dst FROM pairs
),
one AS (SELECT src AS node, dst AS nb FROM edges),
two AS (
  SELECT a.src AS node, b.dst AS nb
  FROM edges a JOIN edges b ON a.dst = b.src
  WHERE b.dst <> a.src
),
reach AS (
  SELECT DISTINCT node, nb FROM (
    SELECT * FROM one UNION ALL SELECT * FROM two
  )
),
n2 AS (SELECT node, COUNT(*) AS n_2hop FROM reach GROUP BY 1),
n1 AS (
  SELECT node, COUNT(*) AS n_1hop
  FROM (SELECT DISTINCT node, nb FROM one) GROUP BY 1
)
SELECT n1.node, n1.n_1hop, n2.n_2hop
FROM n1 JOIN n2 ON n1.node = n2.node
ORDER BY n_2hop DESC, n1.node LIMIT 20
"""


@query("khop_reach", oracle=ORACLE_KHOP_REACH)
def q_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hop and ≤2-hop reachable-set sizes per node on the
    co-purchase graph (``ext/graph.py:khop_reach``): frontier expansion
    as ONE hop-boundary self-join + distinct — never an all-pairs
    product. Top-20 by 2-hop reach, node tiebreak; integer-exact."""
    from fink_broker_spark.ext.graph import copurchase_edges, khop_reach

    li = load_table(spark, sf_dir, "lineitem")
    # khop consumes the symmetrized edges three times (1-hop relation +
    # both wedge-join sides), each side referencing edges twice via
    # symmetrize — uncut, the basket self-join re-derives 6× (16 static
    # lineitem scans) — materialize once
    edges = materialize(copurchase_edges(li, min_support=2))
    return khop_reach(edges).orderBy(F.desc("n_2hop"), "node").limit(20)


ORACLE_LABEL_PROPAGATION = """
WITH pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
),
edges AS (
  SELECT u AS src, v AS dst FROM pairs
  UNION ALL SELECT v AS src, u AS dst FROM pairs
),
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
m1 AS (
  SELECT e.dst AS node, MIN(l.lbl) AS nl
  FROM edges e JOIN l0 l ON l.node = e.src GROUP BY 1
),
l1 AS (
  SELECT l0.node, LEAST(l0.lbl, COALESCE(m1.nl, l0.lbl)) AS lbl
  FROM l0 LEFT JOIN m1 ON m1.node = l0.node
),
m2 AS (
  SELECT e.dst AS node, MIN(l.lbl) AS nl
  FROM edges e JOIN l1 l ON l.node = e.src GROUP BY 1
),
l2 AS (
  SELECT l1.node, LEAST(l1.lbl, COALESCE(m2.nl, l1.lbl)) AS lbl
  FROM l1 LEFT JOIN m2 ON m2.node = l1.node
),
m3 AS (
  SELECT e.dst AS node, MIN(l.lbl) AS nl
  FROM edges e JOIN l2 l ON l.node = e.src GROUP BY 1
),
l3 AS (
  SELECT l2.node, LEAST(l2.lbl, COALESCE(m3.nl, l2.lbl)) AS lbl
  FROM l2 LEFT JOIN m3 ON m3.node = l2.node
)
SELECT lbl, COUNT(*) AS community_size
FROM l3 GROUP BY 1
ORDER BY community_size DESC, lbl LIMIT 20
"""


@query("label_propagation", oracle=ORACLE_LABEL_PROPAGATION)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-iteration min-label propagation (synchronous BFS-min,
    3 rounds) over the co-purchase graph — the fixed-depth twin of
    ``ext/dedup.py``'s full pointer-jumping connected components:
    label(v) ← min(label(v), min over neighbors). Every step is
    integer MIN algebra, so 3 unrolled rounds oracle exactly (the
    full-depth variant needs the checkpointed loop and is attested by
    ``dedup_groups``). Output: community sizes at depth 3.

    Scale: per round ONE src-keyed join + ONE dst-keyed min — the same
    shuffle pair as ``pagerank``; label state stays distributed."""
    from fink_broker_spark.ext.graph import (
        copurchase_edges,
        min_label_propagation,
        symmetrize,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # every LP round joins the edge relation, so it is materialized
    # once — otherwise each round re-derives the basket self-join
    sym = materialize(
        symmetrize(copurchase_edges(li, min_support=2))
    )
    labels = min_label_propagation(sym, rounds=3)
    return (
        labels.groupBy("lbl")
        .agg(F.count(F.lit(1)).alias("community_size"))
        .orderBy(F.desc("community_size"), "lbl")
        .limit(20)
    )


ORACLE_DEGREE_STATS = """
WITH pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
), sym AS (
  SELECT u AS src FROM pairs UNION ALL SELECT v FROM pairs
), deg AS (
  SELECT src, count(*) AS degree FROM sym GROUP BY src
)
SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree
"""


@query("degree_stats", oracle=ORACLE_DEGREE_STATS)
def q_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph — the structural
    companion to pagerank/triangle_count over the SAME support-cut
    edge set (``ext/graph.py:copurchase_edges``). Two integer
    aggregates: per-node degree, then nodes-per-degree. Output is the
    degree histogram (|distinct degrees| rows) — the first thing a
    100 TB graph job inspects before choosing broadcast vs shuffle
    regimes for closure/propagation. Integer-exact end-to-end."""
    from fink_broker_spark.ext.graph import copurchase_edges, symmetrize

    li = load_table(spark, sf_dir, "lineitem")
    # symmetrize references the edge relation twice (u->v ∪ v->u) —
    # materialize the basket self-join once
    sym = symmetrize(materialize(copurchase_edges(li, min_support=2)))
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select("degree", "n_nodes")
    )


ORACLE_GRAPH_MODULARITY = """
WITH pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
),
edges AS (
  SELECT u AS src, v AS dst FROM pairs
  UNION ALL SELECT v AS src, u AS dst FROM pairs
),
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
m1 AS (
  SELECT e.dst AS node, MIN(l.lbl) AS nl
  FROM edges e JOIN l0 l ON l.node = e.src GROUP BY 1
),
l1 AS (
  SELECT l0.node, LEAST(l0.lbl, COALESCE(m1.nl, l0.lbl)) AS lbl
  FROM l0 LEFT JOIN m1 ON m1.node = l0.node
),
m2 AS (
  SELECT e.dst AS node, MIN(l.lbl) AS nl
  FROM edges e JOIN l1 l ON l.node = e.src GROUP BY 1
),
l2 AS (
  SELECT l1.node, LEAST(l1.lbl, COALESCE(m2.nl, l1.lbl)) AS lbl
  FROM l1 LEFT JOIN m2 ON m2.node = l1.node
),
m3 AS (
  SELECT e.dst AS node, MIN(l.lbl) AS nl
  FROM edges e JOIN l2 l ON l.node = e.src GROUP BY 1
),
l3 AS (
  SELECT l2.node, LEAST(l2.lbl, COALESCE(m3.nl, l2.lbl)) AS lbl
  FROM l2 LEFT JOIN m3 ON m3.node = l2.node
),
m_cnt AS (SELECT count(*) AS m_edges FROM pairs),
intra AS (
  SELECT count(*) FILTER (WHERE a.lbl = b.lbl) AS intra_edges
  FROM pairs p JOIN l3 a ON a.node = p.u JOIN l3 b ON b.node = p.v
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
dsq AS (
  SELECT SUM(d_c * d_c) AS sum_deg_sq
  FROM (
    SELECT l.lbl, SUM(d.deg) AS d_c
    FROM l3 l JOIN deg d ON d.src = l.node GROUP BY l.lbl
  )
)
SELECT m_edges, intra_edges, sum_deg_sq,
       CASE WHEN m_edges > 0 THEN
         CAST(intra_edges AS DOUBLE) / m_edges
           - CAST(sum_deg_sq AS DOUBLE) / (4.0 * m_edges * m_edges)
       END AS modularity
FROM m_cnt, intra, dsq
"""


@query(
    "graph_modularity",
    oracle=ORACLE_GRAPH_MODULARITY,
    bigint=("sum_deg_sq",),
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the depth-3 label-propagation communities
    on the co-purchase graph — the partition-quality score that closes
    the community loop (label_propagation finds communities, this
    grades them): Q = Σ_c (e_c/m − (d_c/2m)²) = A/m − B/(4m²) with
    A = intra-community edges and B = Σ d_c², both EXACT integers, so
    the per-community float sum (order-dependent, engine-splitting)
    never exists — Q is one fixed double tree over three exact
    operands. Bounds: B < 2⁶³ holds while Σd_c² stays under ~9e18
    (far past the support-cut edge sets here; the DECIMAL(38,0)
    escalation is the documented next step). Same shuffle algebra as
    label_propagation plus one degree aggregate; 1-row output."""
    from fink_broker_spark.ext.graph import (
        copurchase_edges,
        min_label_propagation,
        symmetrize,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # the basket self-join + support aggregate feeds FIVE consumers
    # (LP rounds via sym, m, intra, deg, dsq) — materialize once (measured
    # ~6.0→4.2 s at sf0.1)
    pairs = materialize(copurchase_edges(li, min_support=2))
    sym = symmetrize(pairs)
    labels = min_label_propagation(sym, rounds=3)
    m = pairs.agg(F.count(F.lit(1)).alias("m_edges"))
    lu = labels.select(F.col("node").alias("u"), F.col("lbl").alias("lu"))
    lv = labels.select(F.col("node").alias("v"), F.col("lbl").alias("lv"))
    intra = (
        pairs.join(lu, "u")
        .join(lv, "v")
        .agg(
            F.count_if(F.col("lu") == F.col("lv")).alias("intra_edges")
        )
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    dsq = (
        labels.join(deg, F.col("node") == F.col("src"))
        .groupBy("lbl")
        .agg(F.sum("deg").alias("d_c"))
        .agg(F.sum(F.col("d_c") * F.col("d_c")).alias("sum_deg_sq"))
    )
    return (
        m.crossJoin(intra)
        .crossJoin(dsq)
        .select(
            "m_edges",
            "intra_edges",
            "sum_deg_sq",
            # EMPTY GRAPH (driftlab sparse layout): m_edges = 0 must
            # yield NULL, not a division — Spark runs ANSI-on and
            # throws where DuckDB's double division would give NaN
            F.when(
                F.col("m_edges") > 0,
                F.col("intra_edges").cast("double") / F.col("m_edges")
                - F.col("sum_deg_sq").cast("double")
                / (
                    F.lit(4.0)
                    * F.col("m_edges")
                    * F.col("m_edges")
                ),
            ).alias("modularity"),
        )
    )


ORACLE_DEGREE_ASSORTATIVITY = """
WITH p0 AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
),
edges AS (
  SELECT u AS src, v AS dst FROM p0
  UNION ALL SELECT v AS src, u AS dst FROM p0
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
pairs AS (
  SELECT a.deg AS du, b.deg AS dv
  FROM edges e JOIN deg a ON a.src = e.src JOIN deg b ON b.src = e.dst
),
mom AS (
  SELECT count(*) AS m_directed, SUM(du) AS sx,
         SUM(du * dv) AS sxy, SUM(du * du) AS sxx
  FROM pairs
)
SELECT m_directed, sx, sxy, sxx,
       CAST(m_directed * sxy - sx * sx AS DOUBLE)
         / CAST(m_directed * sxx - sx * sx AS DOUBLE)
         AS assortativity
FROM mom
"""


@query(
    "degree_assortativity",
    oracle=ORACLE_DEGREE_ASSORTATIVITY,
    bigint=("sx", "sxy", "sxx"),
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph — do hubs attach
    to hubs? Pearson correlation of endpoint degrees over the
    symmetrized edge list, computed from FIVE exact integer moments
    (M, Σdu, Σdu·dv, Σdu²; Σdv = Σdu and Σdv² = Σdu² by symmetry):
    r = (M·Sxy − Sx²)/(M·Sxx − Sx²), one double division of two
    exactly-computed BIGINTs. Wide-int watermark: M·Sxy peaks ~2⁵⁴ at
    sf0.1-scale graphs — inside the exact-BIGINT zone; the centered
    two-pass (corr_matrix's escalation) is the documented next step if
    edge counts grow ~2⁹ more. One degree aggregate + one edge join;
    1-row output."""
    from fink_broker_spark.ext.graph import copurchase_edges, symmetrize

    li = load_table(spark, sf_dir, "lineitem")
    # degree aggregate + the two endpoint joins re-derive the edge
    # relation (12 static lineitem scans) — materialize once
    sym = materialize(
        symmetrize(copurchase_edges(li, min_support=2))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    du = deg.select(F.col("src").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("src").alias("v"), F.col("deg").alias("dv"))
    pairs = (
        sym.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(du, "u")
        .join(dv, "v")
    )
    mom = pairs.agg(
        F.count(F.lit(1)).alias("m_directed"),
        F.sum("du").alias("sx"),
        F.sum(F.col("du") * F.col("dv")).alias("sxy"),
        F.sum(F.col("du") * F.col("du")).alias("sxx"),
    )
    return mom.select(
        "m_directed",
        "sx",
        "sxy",
        "sxx",
        (
            (
                F.col("m_directed") * F.col("sxy")
                - F.col("sx") * F.col("sx")
            ).cast("double")
            / (
                F.col("m_directed") * F.col("sxx")
                - F.col("sx") * F.col("sx")
            ).cast("double")
        ).alias("assortativity"),
    )


ORACLE_KCORE_PEEL = """
WITH p0 AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
),
e0 AS (
  SELECT u AS src, v AS dst FROM p0
  UNION ALL SELECT v AS src, u AS dst FROM p0
),
k1 AS (SELECT src FROM e0 GROUP BY src HAVING count(*) >= 3),
e1 AS (
  SELECT e.src, e.dst FROM e0 e
  JOIN k1 a ON a.src = e.src JOIN k1 b ON b.src = e.dst
),
k2 AS (SELECT src FROM e1 GROUP BY src HAVING count(*) >= 3),
e2 AS (
  SELECT e.src, e.dst FROM e1 e
  JOIN k2 a ON a.src = e.src JOIN k2 b ON b.src = e.dst
),
k3 AS (SELECT src FROM e2 GROUP BY src HAVING count(*) >= 3),
e3 AS (
  SELECT e.src, e.dst FROM e2 e
  JOIN k3 a ON a.src = e.src JOIN k3 b ON b.src = e.dst
),
deg AS (SELECT src, count(*) AS deg FROM e3 GROUP BY src)
SELECT count(*) AS core_nodes,
       SUM(deg) // 2 AS core_edges,
       MIN(deg) AS min_degree,
       MAX(deg) AS max_degree
FROM deg
"""


@query("kcore_peel", oracle=ORACLE_KCORE_PEEL, bigint=("core_edges",))
def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling (k = 3, three synchronous rounds) on the
    co-purchase graph: each round drops every node whose CURRENT
    degree is below k, then recomputes degrees on the induced
    subgraph — the standard dense-subgraph extractor (the peel is
    monotone, so a fixed unroll oracles exactly; full peeling is the
    checkpointed-loop variant of the same step). Emits the surviving
    core's summary: node count, edge count, min/max degree. Per round
    ONE degree aggregate + TWO semi-join filters on the edge list —
    the LP shuffle algebra with a shrinking frontier."""
    from fink_broker_spark.ext.graph import copurchase_edges, symmetrize

    li = load_table(spark, sf_dir, "lineitem")
    # each peel round references the previous edge set THREE times
    # (degree aggregate + two semi-joins) — uncut lineage re-derives
    # round i−1 3^i times (108 static lineitem scans);
    # the per-round materialization is the shrinking induced subgraph
    sym = materialize(
        symmetrize(copurchase_edges(li, min_support=2))
    )
    edges = sym
    for _ in range(3):
        keep = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= 3)
            .select("src")
        )
        edges = materialize(
            edges.join(keep, "src").join(
                keep.select(F.col("src").alias("dst")), "dst"
            )
        )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return deg.agg(
        F.count(F.lit(1)).alias("core_nodes"),
        # sum(deg) is even (symmetrized); integral div, never a
        # double division (Spark double→int casts truncate where
        # DuckDB's round)
        F.expr("sum(deg) div 2").alias("core_edges"),
        F.min("deg").alias("min_degree"),
        F.max("deg").alias("max_degree"),
    )


ORACLE_RECURSIVE_REACH = """
WITH RECURSIVE pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
), edges AS (
  SELECT u AS src, v AS dst FROM pairs
  UNION ALL SELECT v AS src, u AS dst FROM pairs
), walk AS (
  SELECT DISTINCT src AS node, 0 AS depth FROM edges WHERE src % 50 = 0
  UNION
  SELECT e.dst AS node, w.depth + 1 AS depth
  FROM walk w JOIN edges e ON w.node = e.src
  WHERE w.depth < 4
), first AS (
  SELECT node, min(depth) AS depth FROM walk GROUP BY node
)
SELECT depth, CAST(count(*) AS BIGINT) AS n_nodes,
       min(node) AS min_node, max(node) AS max_node
FROM first GROUP BY depth
"""


@query("recursive_reach", oracle=ORACLE_RECURSIVE_REACH)
def q_recursive_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-bounded transitive reachability from a deterministic seed
    set over the co-purchase graph — the declarative WITH RECURSIVE
    surface (the oracle IS a recursive CTE) expressed in Spark as
    unrolled frontier expansion.  Emits, per BFS depth (0–4), how many
    nodes are FIRST reached at that depth plus the id span — the
    blast-radius curve of a recall/contamination propagating through a
    relationship graph.

    Plan: the frontier is re-distincted every hop, so each level's
    join input is bounded by |V|, never by path count (the naive
    UNION ALL recursion enumerates walks — degree^4 of them; the
    oracle uses recursive UNION, whose per-iteration dedup is the same
    bound).  4 fixed hops = 4 shuffles over the edge relation; the
    min-depth collapse is one aggregate.  Cites
    `ext/graph.py:khop_reach` for the bounded-frontier design."""
    from fink_broker_spark.ext.graph import copurchase_edges, symmetrize

    li = load_table(spark, sf_dir, "lineitem")
    # the edge relation feeds every hop plus the seed filter, and each
    # frontier is referenced twice (next hop + the levels union) — the
    # uncut plan re-derived the basket self-join 60×;
    # frontiers are node-sized, the materialization is bounded
    edges = materialize(
        symmetrize(copurchase_edges(li, min_support=2))
    )
    seeds = (
        edges.filter(F.col("src") % 50 == 0)
        .select(F.col("src").alias("node"))
        .distinct()
    )
    levels = [seeds.select("node", F.lit(0).alias("depth"))]
    frontier = seeds
    for d in range(1, 5):
        frontier = materialize(
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        levels.append(frontier.select("node", F.lit(d).alias("depth")))
    walk = levels[0]
    for lv in levels[1:]:
        walk = walk.unionAll(lv)
    first = walk.groupBy("node").agg(F.min("depth").alias("depth"))
    return first.groupBy("depth").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


ORACLE_LINK_PREDICTION = """
WITH pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
), sym AS (
  SELECT u AS src, v AS dst FROM pairs
  UNION ALL SELECT v, u FROM pairs
), deg AS (
  SELECT src AS w, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src
), adj AS (
  SELECT s.src AS w, s.dst AS x, d.deg
  FROM sym s JOIN deg d ON s.src = d.w
  WHERE d.deg <= 200
), wedges AS (
  SELECT l.x AS a, r.x AS b, l.deg AS wdeg
  FROM adj l JOIN adj r ON l.w = r.w
  WHERE l.x < r.x
), scored AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS common_neighbors,
         CAST(SUM(1000000000 // wdeg) AS BIGINT) AS ra_scaled9
  FROM wedges GROUP BY a, b
)
SELECT a, b, common_neighbors, ra_scaled9
FROM scored s
WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.u = s.a AND p.v = s.b)
ORDER BY common_neighbors DESC, ra_scaled9 DESC, a, b
LIMIT 25
"""


@query("link_prediction", oracle=ORACLE_LINK_PREDICTION)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the co-purchase graph
    (``ext/graph.py:link_prediction``): the top 25 unlinked part pairs
    ranked by shared neighbors, tie-broken by the exact-integer
    resource-allocation index ``Σ 10^9 div deg(w)`` (Zhou et al. 2009).
    The recommender / graph-completion primitive the triangle and
    k-core queries stop short of.

    Scale: wedge volume is Σ min(deg, 200)² via the hub-prune on the
    MIDDLE node (same cap discipline as PPJoin's prefix cut); the
    existing-edge exclusion is a left_anti equi-join; final top-k is
    TakeOrderedAndProject."""
    from fink_broker_spark.ext.graph import copurchase_edges, link_prediction

    li = load_table(spark, sf_dir, "lineitem")
    # sym/deg/adj inside link_prediction fan the edge relation out
    # (18 static lineitem scans) — materialize once
    edges = materialize(copurchase_edges(li, min_support=2))
    return link_prediction(edges, k=25, max_degree=200)


ORACLE_NEIGHBOR_FEATURE_AGG = """
WITH pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
), sym AS (
  SELECT u AS src, v AS dst FROM pairs
  UNION ALL SELECT v, u FROM pairs
), fx AS (
  SELECT p_partkey AS x,
         CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS feat
  FROM part
), h1 AS (
  SELECT s.src AS node,
         CAST(SUM(f.feat) AS BIGINT) AS h1_sum,
         CAST(count(*) AS BIGINT) AS h1_n
  FROM sym s JOIN fx f ON s.dst = f.x
  GROUP BY s.src
), deg AS (
  SELECT src AS w, count(*) AS deg FROM sym GROUP BY src
), walks AS (
  SELECT a.src AS node, b.dst AS x
  FROM sym a
  JOIN deg d ON a.dst = d.w AND d.deg <= 200
  JOIN sym b ON a.dst = b.src
  WHERE b.dst <> a.src
), h2 AS (
  SELECT w.node,
         CAST(SUM(f.feat) AS BIGINT) AS h2_sum,
         CAST(count(*) AS BIGINT) AS h2_n
  FROM walks w JOIN fx f ON w.x = f.x
  GROUP BY w.node
)
SELECT h1.node, h1.h1_sum, h1.h1_n,
       CAST((h1.h1_sum * 10000) // h1.h1_n AS BIGINT) AS h1_mean_scaled,
       CAST(COALESCE(h2.h2_sum, 0) AS BIGINT) AS h2_sum,
       CAST(COALESCE(h2.h2_n, 0) AS BIGINT) AS h2_n,
       CAST(CASE WHEN h2.h2_n IS NOT NULL AND h2.h2_n > 0
                 THEN (h2.h2_sum * 10000) // h2.h2_n
                 ELSE 0 END AS BIGINT) AS h2_mean_scaled
FROM h1 LEFT JOIN h2 ON h1.node = h2.node
"""


@query("neighbor_feature_agg", oracle=ORACLE_NEIGHBOR_FEATURE_AGG)
def q_neighbor_feature_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GNN-style neighborhood feature aggregation
    (``ext/graph.py:neighbor_feature_agg``): per part node of the
    co-purchase graph, the sum/count/fixed-point-mean of neighbor
    retail prices (cents) over 1-hop neighbors and 2-hop walks — the
    unnormalized A·x / A²·x message-passing aggregates a GraphSAGE-
    family sampler materializes as training features (Hamilton et al.
    2017).  Means are ``(sum·10^4) div n`` — integral division,
    bit-identical both engines; features enter as the exact
    ``floor(price·100 + 0.5)`` cent tree.

    Scale: 2-hop walks self-join through degree-capped middles
    (Σ min(deg, 200)²); feature lookups are key equi-joins (AQE
    broadcasts the part dimension when it fits)."""
    from fink_broker_spark.ext.graph import (
        copurchase_edges,
        neighbor_feature_agg,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # the 1-hop and 2-hop aggregates both walk the edge relation (16
    # static lineitem scans) — materialize once
    edges = materialize(copurchase_edges(li, min_support=2))
    feats = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"),
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("feat"),
    )
    return neighbor_feature_agg(edges, feats, max_degree=200)


ORACLE_SSSP_BOUNDED = """
WITH pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
),
wedges AS (
  SELECT u AS src, v AS dst, (u + v) % 97 + 1 AS w FROM pairs
  UNION ALL SELECT v, u, (u + v) % 97 + 1 FROM pairs
),
nodes AS (
  SELECT DISTINCT src AS node FROM wedges
  UNION SELECT DISTINCT dst FROM wedges
),
d0 AS (
  SELECT node, CAST(0 AS BIGINT) AS dist FROM nodes
  WHERE node = (SELECT MIN(node) FROM nodes)
),
d1 AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d0
    UNION ALL
    SELECT e.dst AS node, d0.dist + e.w AS dist
    FROM d0 JOIN wedges e ON e.src = d0.node
  ) GROUP BY node
),
d2 AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d1
    UNION ALL
    SELECT e.dst AS node, d1.dist + e.w AS dist
    FROM d1 JOIN wedges e ON e.src = d1.node
  ) GROUP BY node
),
d3 AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d2
    UNION ALL
    SELECT e.dst AS node, d2.dist + e.w AS dist
    FROM d2 JOIN wedges e ON e.src = d2.node
  ) GROUP BY node
)
SELECT node, CAST(dist AS BIGINT) AS dist FROM d3
"""


@query("sssp_bounded", oracle=ORACLE_SSSP_BOUNDED)
def q_sssp_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths over the co-purchase graph
    (3 Bellman-Ford rounds from the minimum node) — deterministic
    integer edge weights ``(u + v) % 97 + 1``, exact min-plus algebra,
    so the unrolled relaxation is oracle-checkable like pagerank's
    fixed-point iterations (the weighted companion to khop_reach).
    """
    from fink_broker_spark.ext.graph import bounded_sssp, copurchase_edges

    li = load_table(spark, sf_dir, "lineitem")
    e = copurchase_edges(li, min_support=2).select(
        "u", "v", ((F.col("u") + F.col("v")) % 97 + 1).alias("w")
    )
    # the weighted edge list feeds the node set, the source pick, and
    # all 3 relaxation rounds — uncut, the plan re-derived the basket
    # self-join 92× (the kcore/recursive_reach pattern)
    wedges = materialize(
        e.select(
            F.col("u").alias("src"), F.col("v").alias("dst"), "w"
        ).unionByName(
            e.select(F.col("v").alias("src"), F.col("u").alias("dst"), "w")
        )
    )
    return bounded_sssp(wedges, iters=3)
