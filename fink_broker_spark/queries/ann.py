"""Embedding queries: vector arrays, nearest-neighbour search (exact,
IVF, PQ, matrix kernel), quantization, PCA and clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fink_broker_spark.ext.ann import brute_force_topk
from fink_broker_spark.functions.vector import norm2_expr
from fink_broker_spark.operators.arrays import array_reduce_max
from fink_broker_spark.plans.materialize import materialize
from fink_broker_spark.queries.registry import query
from fink_broker_spark.sources.parquet import load_table


ORACLE_EXPLODE_EMBEDDINGS = """
SELECT vec_id, CAST(i AS INTEGER) AS pos,
       CAST(embedding[i + 1] AS DOUBLE) AS val
FROM embeddings, range(0, 4096) t(i)
WHERE i < len(embedding)
"""


@query("explode_embeddings", oracle=ORACLE_EXPLODE_EMBEDDINGS)
def q_explode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode of an array column (``bin/ztf/archive_index.py:186-205``
    family: history arrays → long format)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "vec_id",
        F.col("pos").cast("int").alias("pos"),
        # float32 → double is exact (same widening both engines); a raw
        # float32 output column risks shortest-repr formatting drift in
        # a typed canonicalizer (admin/typeaudit.py flags 32-bit floats)
        F.col("val").cast("double").alias("val"),
    )


ORACLE_EMBEDDING_NORMS = """
SELECT vec_id,
       list_reduce([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                    FOR i IN range(1, len(embedding) + 1)], (x, y) -> x + y) AS norm2,
       list_reduce([CAST(x AS DOUBLE) FOR x IN embedding],
                   (a, b) -> CASE WHEN b > a THEN b ELSE a END) AS max_val,
       CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS min_val,
       CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
       CAST(len(embedding) AS INTEGER) AS dim
FROM embeddings
"""


@query("embedding_norms", oracle=ORACLE_EMBEDDING_NORMS)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row HOF reductions: aggregate (dot), array extrema, filter count
    (``rubin/hbase_utils.py:1124-1142`` family)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        norm2_expr("embedding").alias("norm2"),
        array_reduce_max("embedding").alias("max_val"),
        F.array_min("embedding").cast("double").alias("min_val"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.size("embedding").alias("dim"),
    )


ORACLE_ANN_TOPK = """
WITH n AS (
  -- well-formed domain, mirroring the engine's well_formed_vectors
  -- (brute_force_topk filters both sides): NULL elements propagated
  -- symmetrically through the threshold, but a NaN cosine ranks FIRST
  -- in both engines' DESC windows while the engine now drops the
  -- vector (nanemb driftlab layout, r10)
  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e,
         sqrt(list_reduce([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding],
                          (a, b) -> a + b)) AS nrm
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding,
                        x -> x IS NULL OR NOT isfinite(x))) = 0
), p AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         list_reduce([c.e[i] * q.e[i] FOR i IN range(1, len(c.e) + 1)],
                     (a, b) -> a + b) / (c.nrm * q.nrm) AS cosine
  FROM n c, n q
  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
)
SELECT query_id, vec_id, cosine, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC NULLS LAST, vec_id ASC) AS rnk
  FROM p
) WHERE rnk <= 5
"""


@query("ann_cosine_topk", oracle=ORACLE_ANN_TOPK)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (ANN exact baseline; crossmatch operator
    generalized, ``ztf/science.py:84-197``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return out.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("int").alias("rnk")
    )


@query(
    "ivf_ann_topk",
    rows_only="cell probing is index-dependent; recall against the exact baseline is asserted in tests/test_ext.py",
)
def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-indexed approximate cosine top-k (scale path beside the
    brute-force baseline; recall vs exact asserted in tests/test_ext.py).
    Rows-only driver check: cell probing is index-dependent."""
    from fink_broker_spark.ext.ann import EmptyCorpusError, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    try:
        out = ivf_topk(
            emb, emb.filter(F.col("vec_id") < 10), k=5, nlist=16, nprobe=4
        )
    except EmptyCorpusError:
        # "first night" lake (driftlab emptystream): no vectors, no
        # index to fit — the answer is an empty top-k, not a crash
        return spark.createDataFrame(
            [], "query_id long, vec_id long, cosine double, rnk int"
        )
    return out.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("int").alias("rnk")
    )


@query(
    "pq_ann_topk",
    rows_only="the codebook fit is engine-specific; recall is asserted in tests/test_ext.py and pq_ann_portable pins the semantics",
)
def q_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ building block: product-quantized ADC shortlist + exact
    cosine re-rank (``ext/ann.py:pq_topk``). The memory-bound scale
    path — codes are ~32× smaller than the float vectors, the scored
    scan never touches the embeddings, and only |queries|·refine
    vectors are read exactly. Rows-only driver check (codebook fit is
    engine-specific); recall ≥ 0.6 and the refine=n ≡ brute-force
    equality are asserted in tests/test_ext.py; the PQ SEMANTICS are
    pinned exact-value by the ``pq_ann_portable`` twin."""
    from fink_broker_spark.ext.ann import (
        EmptyCorpusError,
        pq_codebooks,
        pq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    try:
        books = pq_codebooks(emb, m=8, ncodes=16, sample_size=1024)
    except EmptyCorpusError:
        # empty lake: no codebooks to fit, no neighbors (emptystream)
        return spark.createDataFrame(
            [], "query_id long, vec_id long, cosine double, rnk int"
        )
    out = pq_topk(
        emb, emb.filter(F.col("vec_id") < 10), books, k=5, refine=50
    )
    return out.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("int").alias("rnk")
    )


@query(
    "ann_kernel_topk",
    rows_only="BLAS reductions differ in the last ulp; set equivalence is asserted in tests/test_ext.py",
)
def q_ann_kernel_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized matrix-kernel batch ANN (the measured scale path,
    SCALING.md): BLAS cosine per corpus partition + exact partial top-k
    reduction. Rows-only check: BLAS reductions differ from the
    expression tree in the last ulp; set-equivalence with the exact
    baseline is asserted in tests/test_ext.py, and the SAME kernel
    physical path is pinned exact-value by ``ann_kernel_portable``
    (int64 matmul — no rounding)."""
    from fink_broker_spark.ext.ann import brute_force_topk_kernel

    emb = load_table(spark, sf_dir, "embeddings")
    out = brute_force_topk_kernel(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return out.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("int").alias("rnk")
    )


ORACLE_EMBEDDING_QUANTIZE = """
WITH v AS (
  -- well-formed domain, mirroring the engine's well_formed_vectors:
  -- NaN/Inf elements hard-error the int8 quantization cast on both
  -- engines (nanemb driftlab layout, r10)
  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding,
                        x -> x IS NULL OR NOT isfinite(x))) = 0
), s AS (
  SELECT vec_id, e,
         list_max([abs(x) FOR x IN e]) / 127.0 AS scale
  FROM v
), q AS (
  SELECT vec_id, scale,
         [CAST(floor(x / scale + 0.5) AS INTEGER) FOR x IN e] AS qv
  FROM s
)
SELECT vec_id, scale,
       CAST(len(qv) AS BIGINT) AS n_dims,
       list_reduce([CAST(x AS BIGINT) FOR x IN qv], (a, b) -> a + b) AS q_sum,
       list_max(qv) AS q_max,
       list_min(qv) AS q_min
FROM q
"""


@query("embedding_quantize", oracle=ORACLE_EMBEDDING_QUANTIZE)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding int8 quantization (training-data compression op): per
    vector absmax scale, symmetric round-to-nearest via the identical
    ``floor(x/scale + 0.5)`` tree on both engines — everything JVM-side
    array HOFs over the scan.

    ``scale`` and the quantized array ``q`` are materialized as named
    columns in separate projections: a Column captured inside a HOF
    lambda is re-evaluated per element (and projection collapse does not
    re-inline materialized columns), so inlining the absmax into the
    transform would make quantization O(d^2) per row.

    Domain: well-formed (finite) vectors only, mirrored in the oracle
    — a NaN/Inf element hard-errors the ANSI ``floor(x/scale + 0.5)``
    int cast on both engines (nanemb driftlab layout)."""
    from fink_broker_spark.ext.ann import well_formed_vectors

    emb = well_formed_vectors(
        load_table(spark, sf_dir, "embeddings"), "embedding"
    )
    v = F.col("embedding").cast("array<double>")
    staged = (
        emb.select("vec_id", v.alias("v"))
        .select(
            "vec_id",
            "v",
            (
                F.array_max(F.transform("v", lambda x: F.abs(x))) / F.lit(127.0)
            ).alias("scale"),
        )
        .select(
            "vec_id",
            "scale",
            F.transform(
                "v",
                lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int"),
            ).alias("q"),
        )
    )
    return staged.select(
        "vec_id",
        "scale",
        F.size("q").cast("bigint").alias("n_dims"),
        F.aggregate(
            "q", F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("q_sum"),
        F.array_max("q").alias("q_max"),
        F.array_min("q").alias("q_min"),
    )


@query(
    "embedding_pca",
    rows_only="eigenvectors are not ANSI-expressible; numpy equivalence is asserted in tests/test_ext.py",
)
def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embeddings table (``ext/pca.py``):
    fixed-size moment partials → driver eigendecomposition → vectorized
    projection matmul. Eigenvectors are not ANSI-expressible → rows-only
    driver check; numpy equivalence is pinned in tests/test_ext.py.
    Output: scalar ``(vec_id, component_idx, coord)`` rows — the vector
    is posexploded so the driver's rows-only canonicalizer (a pandas
    sort over all columns) never meets an unhashable array cell."""
    from fink_broker_spark.ext.ann import EmptyCorpusError
    from fink_broker_spark.ext.pca import pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    try:
        proj = pca_project(emb, k=4)
    except EmptyCorpusError:
        # empty lake: no moments to fit (emptystream)
        return spark.createDataFrame(
            [], "vec_id long, component_idx int, coord double"
        )
    return proj.select(
        "vec_id", F.posexplode("pca").alias("component_idx", "coord")
    ).select("vec_id", "component_idx", F.round("coord", 6).alias("coord"))


ORACLE_LABEL_CENTROIDS = """
WITH wf AS (
  -- well-formed domain, mirroring the engine's well_formed_vectors:
  -- NaN/Inf elements hard-error the nano-unit integerization cast on
  -- both engines (nanemb driftlab layout, r10)
  SELECT label, embedding
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding,
                        x -> x IS NULL OR NOT isfinite(x))) = 0
),
t AS (
  SELECT label, CAST(i AS INTEGER) AS pos,
         CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * 1000000000.0
                    + 0.5) AS BIGINT) AS v_nano
  FROM wf, range(0, 4096) r(i)
  WHERE i < len(embedding)
)
SELECT label, pos, count(*) AS n_vectors,
       CAST(SUM(v_nano) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         / 1000000000.0 AS centroid_val
FROM t GROUP BY label, pos
"""


@query("label_centroids", oracle=ORACLE_LABEL_CENTROIDS)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids: posexplode the vectors,
    integerize each float component to exact nano-units with the
    identical-IEEE ``floor(x·1e9 + 0.5)`` tree (float sums are
    order-dependent; a double→decimal CAST is also unsafe here —
    Spark rounds the SHORTEST-REPR digits while DuckDB rounds the
    exact binary expansion, and non-decimal-clean floats split the
    engines: measured one 1e-9 quantum divergence in 140k components
    at sf0.1), sum exact longs, and emit one fixed double tree per
    component. The SemDeDup/k-means support operator in
    oracle-checkable form. One shuffle keyed (label, pos); output
    |labels|×dim rows.

    Domain: well-formed (finite) vectors only, mirrored in the oracle
    — a NaN/Inf element hard-errors the ANSI nano-unit integerization
    on both engines (nanemb driftlab layout)."""
    from fink_broker_spark.ext.ann import well_formed_vectors

    emb = well_formed_vectors(
        load_table(spark, sf_dir, "embeddings"), "embedding"
    )
    t = emb.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "label",
        F.col("pos").cast("int").alias("pos"),
        F.floor(
            F.col("val").cast("double") * F.lit(1_000_000_000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("v_nano"),
    )
    return t.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        (
            F.sum("v_nano").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(1_000_000_000.0)
        ).alias("centroid_val"),
    )


ORACLE_CENTROID_DISTANCES = """
WITH wf AS (
  -- well-formed domain, mirroring the engine's well_formed_vectors:
  -- NaN/Inf elements hard-error the nano-unit integerization cast on
  -- both engines (nanemb driftlab layout, r10)
  SELECT label, embedding
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding,
                        x -> x IS NULL OR NOT isfinite(x))) = 0
),
t AS (
  SELECT label, CAST(i AS INTEGER) AS pos,
         CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * 1000000000.0
                    + 0.5) AS BIGINT) AS v_nano
  FROM wf, range(0, 4096) r(i)
  WHERE i < len(embedding)
),
cent AS (
  SELECT label, pos,
         (SUM(v_nano) - ((SUM(v_nano) % (count(*) * 1000))
                         + (count(*) * 1000)) % (count(*) * 1000))
           // (count(*) * 1000) AS m
  FROM t GROUP BY label, pos
),
norms AS (
  SELECT label, SUM(m * m) AS norm_sq FROM cent GROUP BY label
),
dots AS (
  SELECT a.label AS label_a, b.label AS label_b, SUM(a.m * b.m) AS dot
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT d.label_a, d.label_b, d.dot,
       na.norm_sq AS na, nb.norm_sq AS nb,
       CAST(d.dot AS DOUBLE)
         / (sqrt(CAST(na.norm_sq AS DOUBLE))
            * sqrt(CAST(nb.norm_sq AS DOUBLE))) AS cosine
FROM dots d
JOIN norms na ON na.label = d.label_a
JOIN norms nb ON nb.label = d.label_b
"""


@query(
    "centroid_distances",
    oracle=ORACLE_CENTROID_DISTANCES,
    bigint=("dot", "na", "nb"),
)
def q_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding
    centroids — the inter-class geometry check run after clustering
    or labeling (how separated are the classes?). Exactness: float
    components integerize to nano-units with the identical-IEEE
    floor(x·1e9+0.5) tree (label_centroids' rule), centroid means
    integerize to MICRO-units with a pmod-based floor division
    (Spark `div` truncates toward zero while DuckDB `//` floors —
    the sign-split trap; (s − pmod(s, d)) div d floors on BOTH
    engines), so dot products and norms are exact BIGINTs bounded by
    dim × (5e5)² ≈ 2⁴⁴ — safely inside every double cast. The cosine
    is one fixed sqrt tree over those exact operands. One (label,
    pos) shuffle + a pos-keyed join over |labels|·dim rows.

    Domain: well-formed (finite) vectors only, mirrored in the oracle
    — a NaN/Inf element hard-errors the ANSI nano-unit integerization
    on both engines (nanemb driftlab layout)."""
    from fink_broker_spark.ext.ann import well_formed_vectors

    emb = well_formed_vectors(
        load_table(spark, sf_dir, "embeddings"), "embedding"
    )
    t = emb.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "label",
        "pos",
        F.floor(
            F.col("val").cast("double") * F.lit(1_000_000_000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("v_nano"),
    )
    cent = (
        t.groupBy("label", "pos")
        .agg(F.sum("v_nano").alias("s"), F.count(F.lit(1)).alias("c"))
        .select(
            "label",
            "pos",
            F.expr(
                "(s - pmod(s, c * 1000)) div (c * 1000)"
            ).alias("m"),
        )
    )
    norms = cent.groupBy("label").agg(
        F.sum(F.col("m") * F.col("m")).alias("norm_sq")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "pos", F.col("m").alias("ma")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "pos", F.col("m").alias("mb")
    )
    dots = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ma") * F.col("mb")).alias("dot"))
    )
    na = norms.select(
        F.col("label").alias("label_a"), F.col("norm_sq").alias("na")
    )
    nb = norms.select(
        F.col("label").alias("label_b"), F.col("norm_sq").alias("nb")
    )
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            "dot",
            "na",
            "nb",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                )
            ).alias("cosine"),
        )
    )


ORACLE_EMBEDDING_QUANT_AUDIT = """
WITH comp AS (
  -- generate_subscripts (1-based) stands in for WITH ORDINALITY,
  -- which the pinned duckdb 1.0.0 does not implement
  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 100 + 0.5)
              AS BIGINT) AS qv
  FROM embeddings
  -- well-formed domain, mirroring the engine's well_formed_vectors:
  -- NaN/Inf elements hard-error the integerization cast on both
  -- engines (nanemb driftlab layout, r10)
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding,
                        x -> x IS NULL OR NOT isfinite(x))) = 0
)
SELECT dim, CAST(count(*) AS BIGINT) AS n_vals,
       CAST(SUM(CASE WHEN qv > 127 OR qv < -128 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clipped,
       CAST(SUM(CASE WHEN qv > 127 THEN 127
                     WHEN qv < -128 THEN -128
                     ELSE qv END) AS BIGINT) AS sum_q
FROM comp GROUP BY dim
"""


@query("embedding_quant_audit", oracle=ORACLE_EMBEDDING_QUANT_AUDIT)
def q_embedding_quant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantization audit of the embedding corpus: per dimension,
    how many components clip outside the int8 envelope at scale 100
    and the exact quantized mass — the go/no-go report before
    compressing a vector index 4× (float32 → int8).

    Plan: one posexplode scan → one bounded aggregate (rows =
    dimensionality, not corpus size).  Float-origin values NEVER meet
    a decimal cast: the float32 widens exactly to double on both
    engines, then ``floor(x·100 + 0.5)`` integerizes it in one
    identical IEEE tree (the measured float-promotion rule), so every output is an exact integer.

    Domain: well-formed (finite) vectors only, mirrored in the oracle
    — a NaN/Inf element hard-errors the ANSI integerization cast on
    both engines (nanemb driftlab layout)."""
    from fink_broker_spark.ext.ann import well_formed_vectors

    emb = well_formed_vectors(
        load_table(spark, sf_dir, "embeddings"), "embedding"
    )
    comp = emb.select(
        F.posexplode("embedding").alias("dim", "val")
    ).select(
        F.col("dim").cast("int").alias("dim"),
        F.floor(F.col("val").cast("double") * 100 + F.lit(0.5))
        .cast("long")
        .alias("qv"),
    )
    clipped = (F.col("qv") > 127) | (F.col("qv") < -128)
    return comp.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_vals"),
        F.sum(F.when(clipped, 1).otherwise(0)).cast("long").alias(
            "n_clipped"
        ),
        F.sum(
            F.when(F.col("qv") > 127, F.lit(127))
            .when(F.col("qv") < -128, F.lit(-128))
            .otherwise(F.col("qv"))
        )
        .cast("long")
        .alias("sum_q"),
    )


ORACLE_IVF_ANN_PORTABLE = """
WITH iv AS (
  -- well-formed domain, mirroring the engine's well_formed_vectors:
  -- a NULL-element vector turns every d2 NULL, and Spark ASC ranks
  -- NULLS FIRST vs DuckDB NULLS LAST — the argmin cell/code choice
  -- silently flips (nullemb driftlab layout, r9); NaN/Inf elements
  -- poison the integerization cast on both engines and np.argmin
  -- disagrees with SQL windows on NaN placement (nanemb layout, r10)
  SELECT vec_id,
         [CAST(FLOOR(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)
          FOR x IN embedding] AS e
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding,
                        x -> x IS NULL OR NOT isfinite(x))) = 0
),
seeds AS (
  SELECT e AS ce,
         ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                            vec_id) AS cid
  FROM iv
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8
),
assigned AS (
  SELECT vec_id, e, cid FROM (
    SELECT iv.vec_id, iv.e, s.cid,
           ROW_NUMBER() OVER (
             PARTITION BY iv.vec_id
             ORDER BY list_reduce(
               [(iv.e[i] - s.ce[i]) * (iv.e[i] - s.ce[i])
                FOR i IN range(1, len(iv.e) + 1)], (x, y) -> x + y),
               s.cid) AS rk
    FROM iv CROSS JOIN seeds s
  ) WHERE rk = 1
),
probes AS (
  SELECT query_id, qe, cid FROM (
    SELECT iv.vec_id AS query_id, iv.e AS qe, s.cid,
           ROW_NUMBER() OVER (
             PARTITION BY iv.vec_id
             ORDER BY list_reduce(
               [(iv.e[i] - s.ce[i]) * (iv.e[i] - s.ce[i])
                FOR i IN range(1, len(iv.e) + 1)], (x, y) -> x + y),
               s.cid) AS rk
    FROM iv CROSS JOIN seeds s
    WHERE iv.vec_id < 10
  ) WHERE rk <= 2
),
cand AS (
  SELECT p.query_id, a.vec_id,
         list_reduce(
           [(p.qe[i] - a.e[i]) * (p.qe[i] - a.e[i])
            FOR i IN range(1, len(p.qe) + 1)], (x, y) -> x + y) AS d2
  FROM probes p JOIN assigned a USING (cid)
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, vec_id, CAST(d2 AS BIGINT) AS d2,
       CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY d2, vec_id) AS rnk
  FROM cand
) WHERE rnk <= 5
"""


@query("ivf_ann_portable", oracle=ORACLE_IVF_ANN_PORTABLE)
def q_ivf_ann_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the fully exact-integer portable pipeline — the
    oracle-checked twin of the rows-only ``ivf_ann_topk`` (k-means fit
    is engine-specific; md5-first deterministic centroids are not).
    Pins the IVF SEMANTICS — integerized components, cell argmin,
    nprobe probe choice, candidate equi-join, exact re-rank — under
    the exact-value gate with zero floats anywhere."""
    from fink_broker_spark.ext.ann import ivf_portable_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_portable_topk(
        emb, n_cells=8, nprobe=2, k=5, scale=10000, n_queries=10
    )


ORACLE_SCATTER_POWER_ITERATION = """
WITH wf AS (
  -- well-formed domain, mirroring the engine's well_formed_vectors:
  -- NULL elements fell out of the SUMs symmetrically, but NaN/Inf
  -- hard-errors the integerization CAST on both engines (nanemb
  -- driftlab layout, r10); nrow counts THIS filtered relation
  SELECT vec_id, embedding
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding,
                        x -> x IS NULL OR NOT isfinite(x))) = 0
),
ej AS (
  SELECT vec_id, i - 1 AS j,
         CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5)
              AS BIGINT) AS ej
  FROM wf, range(1, 100000) t(i)
  WHERE i <= len(embedding)
),
g AS (
  SELECT a.j AS j, b.j AS k, SUM(a.ej * b.ej) AS g
  FROM ej a JOIN ej b USING (vec_id)
  GROUP BY a.j, b.j
),
s AS (SELECT j, SUM(ej) AS s FROM ej GROUP BY j),
nrow AS (SELECT COUNT(*) AS n FROM wf),
m AS (
  SELECT g.j, g.k,
         CAST(n AS HUGEINT) * g - CAST(sj.s AS HUGEINT) * sk.s AS m
  FROM g
  JOIN s sj ON sj.j = g.j
  JOIN s sk ON sk.j = g.k
  CROSS JOIN nrow
),
u1 AS (SELECT j, SUM(m) AS u1 FROM m GROUP BY j),
r1 AS (SELECT MAX(abs(u1)) // 1000 AS r1m FROM u1),
v1 AS (
  SELECT j AS k, u1 // (r1m + 1) AS v1 FROM u1 CROSS JOIN r1
),
u2 AS (
  SELECT m.j, SUM(m.m * CAST(v1.v1 AS HUGEINT)) AS u2
  FROM m JOIN v1 USING (k) GROUP BY m.j
),
r2 AS (SELECT MAX(abs(u2)) // 1000000 AS r2m FROM u2)
SELECT CAST(j AS INTEGER) AS dim,
       CAST(u2 // (r2m + 1) AS BIGINT) AS loading_scaled
FROM u2 CROSS JOIN r2
"""


@query("scatter_power_iteration", oracle=ORACLE_SCATTER_POWER_ITERATION)
def q_scatter_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed scatter-matrix build + two FIXED-POINT power-iteration
    steps — the exact-oracle PRIMITIVE underneath PCA (the pagerank
    integer-algebra trick applied to M·v).  NOT a principal-component
    claim: on this corpus the spectrum is near-isotropic (λ₂/λ₁ ≈ 0.98
    measured) and two steps from the ones vector do not approximate PC1
    (cos ≈ 0.2 at sf0.01); the rows-only ``embedding_pca`` remains the
    real eigensolver — THIS query pins the building blocks that ARE
    ANSI-expressible: the integerized scatter matrix M = n·G − S·Sᵀ
    (exact DECIMAL(38,0) from integer Gram/sum aggregates — n× the
    covariance) and exact M·v products with integral-DIV rescaling
    (truncation toward zero matches between Spark DIV and DuckDB //,
    verified incl. negatives).  Zero floats end to end.

    Plan: one n×d² self-join aggregate builds G (d = 64 → 4096 cells,
    map-side combinable), then two d²-row matrix-vector joins; nothing
    driver-side, no iteration-order float hazard anywhere.

    Domain: well-formed (finite) vectors only, mirrored in the
    oracle's wf CTE — NULL elements fell out of the SUMs symmetrically
    on both engines, but a NaN/Inf element hard-errors the ANSI
    integerization cast on both (nanemb driftlab layout), and
    nrow must count the SAME filtered rows the Gram matrix sums."""
    from fink_broker_spark.ext.ann import well_formed_vectors

    emb = well_formed_vectors(
        load_table(spark, sf_dir, "embeddings"), "embedding"
    )
    ej = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * 10000 + F.lit(0.5))
                .cast("long"),
            )
        ).alias("j", "ej"),
    )
    # the exploded component relation feeds the Gram self-join (both
    # sides) AND the column-sum vector (30 static embeddings scans
    # through the iteration chain) — materialize once
    ej = materialize(ej)
    ek = ej.select(
        "vec_id", F.col("j").alias("k"), F.col("ej").alias("ekv")
    )
    g = (
        ej.join(ek, "vec_id")
        .groupBy("j", "k")
        .agg(F.sum(F.col("ej") * F.col("ekv")).alias("g"))
    )
    s = ej.groupBy("j").agg(F.sum("ej").alias("s"))
    nrow = emb.agg(F.count(F.lit(1)).alias("n"))

    def big(c):
        return c.cast("decimal(38,0)")

    m = (
        g.join(s, "j")
        .join(
            s.select(F.col("j").alias("k"), F.col("s").alias("sk")), "k"
        )
        .crossJoin(F.broadcast(nrow))
        .select(
            "j",
            "k",
            (big(F.col("n")) * big(F.col("g")) - big(F.col("s")) * big(F.col("sk"))).alias(
                "m"
            ),
        )
    )
    # iteration 1: v0 = ones → u1_j = Σ_k M_jk, rescaled to ≤ ~10³
    u1 = m.groupBy("j").agg(F.sum("m").alias("u1"))
    r1 = u1.agg(F.max(F.abs(F.col("u1"))).alias("__mx")).select(
        F.expr("__mx DIV 1000").alias("r1m")
    )
    v1 = u1.crossJoin(F.broadcast(r1)).select(
        F.col("j").alias("k"),
        F.expr("u1 DIV (r1m + 1)").alias("v1"),
    )
    # iteration 2: u2_j = Σ_k M_jk · v1_k, emitted in ≤10⁶ units
    u2 = (
        m.join(v1, "k")
        .groupBy("j")
        .agg(F.sum(F.col("m") * big(F.col("v1"))).alias("u2"))
    )
    r2 = u2.agg(F.max(F.abs(F.col("u2"))).alias("__mx")).select(
        F.expr("__mx DIV 1000000").alias("r2m")
    )
    return (
        u2.crossJoin(F.broadcast(r2))
        .select(
            F.col("j").cast("int").alias("dim"),
            F.expr("CAST(u2 DIV (r2m + 1) AS BIGINT)").alias(
                "loading_scaled"
            ),
        )
    )


ORACLE_PQ_ANN_PORTABLE = """
WITH iv AS (
  -- well-formed domain, mirroring the engine's well_formed_vectors:
  -- a NULL-element vector turns every d2 NULL, and Spark ASC ranks
  -- NULLS FIRST vs DuckDB NULLS LAST — the argmin cell/code choice
  -- silently flips (nullemb driftlab layout, r9); NaN/Inf elements
  -- poison the integerization cast on both engines and np.argmin
  -- disagrees with SQL windows on NaN placement (nanemb layout, r10)
  SELECT vec_id,
         [CAST(FLOOR(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)
          FOR x IN embedding] AS e
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding,
                        x -> x IS NULL OR NOT isfinite(x))) = 0
),
seeds AS (
  SELECT e AS ce,
         ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                            vec_id) AS code
  FROM iv
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
),
subs AS (SELECT s FROM range(0, 8) t(s)),
enc AS (
  SELECT vec_id, s, code FROM (
    SELECT iv.vec_id, t.s, sd.code,
           ROW_NUMBER() OVER (
             PARTITION BY iv.vec_id, t.s
             ORDER BY list_reduce(
               [(iv.e[t.s * 8 + i] - sd.ce[t.s * 8 + i])
                * (iv.e[t.s * 8 + i] - sd.ce[t.s * 8 + i])
                FOR i IN range(1, 9)], (x, y) -> x + y),
               sd.code) AS rk
    FROM iv CROSS JOIN seeds sd CROSS JOIN subs t
  ) WHERE rk = 1
),
adc AS (
  SELECT q.vec_id AS query_id, t.s, sd.code,
         list_reduce(
           [(q.e[t.s * 8 + i] - sd.ce[t.s * 8 + i])
            * (q.e[t.s * 8 + i] - sd.ce[t.s * 8 + i])
            FOR i IN range(1, 9)], (x, y) -> x + y) AS tt
  FROM iv q CROSS JOIN seeds sd CROSS JOIN subs t
  WHERE q.vec_id < 10
),
approx AS (
  SELECT a.query_id, e.vec_id, SUM(a.tt) AS adc_d2
  FROM enc e JOIN adc a ON e.s = a.s AND e.code = a.code
  WHERE e.vec_id <> a.query_id
  GROUP BY 1, 2
),
short AS (
  SELECT query_id, vec_id, adc_d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_d2, vec_id) AS rs
  FROM approx
),
rer AS (
  SELECT s.query_id, s.vec_id, s.adc_d2,
         list_reduce(
           [(qv.e[i] - cv.e[i]) * (qv.e[i] - cv.e[i])
            FOR i IN range(1, len(qv.e) + 1)], (x, y) -> x + y) AS d2
  FROM short s
  JOIN iv qv ON qv.vec_id = s.query_id
  JOIN iv cv ON cv.vec_id = s.vec_id
  WHERE s.rs <= 50
)
SELECT query_id, vec_id, CAST(adc_d2 AS BIGINT) AS adc_d2,
       CAST(d2 AS BIGINT) AS d2, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY d2, vec_id) AS rnk
  FROM rer
) WHERE rnk <= 5
"""


@query("pq_ann_portable", oracle=ORACLE_PQ_ANN_PORTABLE)
def q_pq_ann_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC ANN with the fully exact-integer portable pipeline — the
    oracle-checked twin of the rows-only ``pq_ann_topk`` (k-means
    codebook fit is engine-specific; md5-first codewords are not).
    Pins the PQ SEMANTICS — per-subspace argmin encoding, additive ADC
    lookup, refine-shortlist, exact re-rank — under the exact-value
    gate with zero floats anywhere (``ext/ann.py:pq_portable_topk``).
    Completes the ivf_ann_portable recipe for the PQ family."""
    from fink_broker_spark.ext.ann import pq_portable_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_portable_topk(
        emb, m=8, subdim=8, ncodes=16, k=5, refine=50, scale=10000,
        n_queries=10,
    )


ORACLE_ANN_KERNEL_PORTABLE = """
WITH iv AS (
  -- IS NOT NULL + no-NULL-element mirror the engine's symmetric
  -- embedding drop (ADVICE r8 + r9 review: the numpy kernel would
  -- crash on NULL arrays AND on NULL elements while DuckDB would
  -- propagate NULL d2 — keep the two sides' domains identical)
  SELECT vec_id,
         [CAST(FLOOR(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)
          FOR x IN embedding] AS e
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding,
                        x -> x IS NULL OR NOT isfinite(x))) = 0
),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         list_reduce(
           [(q.e[i] - c.e[i]) * (q.e[i] - c.e[i])
            FOR i IN range(1, len(q.e) + 1)], (x, y) -> x + y) AS d2
  FROM iv q JOIN iv c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 10
)
SELECT query_id, vec_id, CAST(d2 AS BIGINT) AS d2,
       CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY d2, vec_id) AS rnk
  FROM cand
) WHERE rnk <= 5
"""


@query("ann_kernel_portable", oracle=ORACLE_ANN_KERNEL_PORTABLE)
def q_ann_kernel_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer squared-L2 top-k through the vectorized numpy
    matrix-kernel physical path (mapInPandas + per-partition partial
    top-k) — the oracle-checked twin of the rows-only
    ``ann_kernel_topk``: int64 matmul has no rounding, so the SAME
    kernel plumbing the float cosine path uses becomes hash-exact
    (``ext/ann.py:kernel_portable_topk``)."""
    from fink_broker_spark.ext.ann import kernel_portable_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return kernel_portable_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, scale=10000
    )


#: grid-DBSCAN knobs: eps in int-scaled embedding units (0.025 at the
#: 1e4 fixed-point scale), minPts over multiplicity-weighted neighbors
_DBSCAN_EPS = 250

_DBSCAN_MINPTS = 10


ORACLE_GRID_DBSCAN = f"""
WITH pts0 AS (
  SELECT CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 10000 + 0.5)
              AS BIGINT) AS x,
         CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 10000 + 0.5)
              AS BIGINT) AS y
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) >= 2
),
pts AS (SELECT x, y, count(*) AS m FROM pts0 GROUP BY 1, 2),
cells AS (
  -- explicit floor-division twin of the engine's (x - pmod) DIV:
  -- DuckDB // floors natively but the normalized form is mirrored so
  -- negative coordinates provably agree
  SELECT x, y, m,
         (x - ((x % {_DBSCAN_EPS} + {_DBSCAN_EPS}) % {_DBSCAN_EPS}))
           // {_DBSCAN_EPS} AS cx,
         (y - ((y % {_DBSCAN_EPS} + {_DBSCAN_EPS}) % {_DBSCAN_EPS}))
           // {_DBSCAN_EPS} AS cy
  FROM pts
),
pairs AS MATERIALIZED (
  SELECT a.x, a.y, b.x AS bx, b.y AS byy, b.m AS bm
  FROM cells a JOIN cells b
    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          <= {_DBSCAN_EPS * _DBSCAN_EPS}
),
dens AS (SELECT x, y, SUM(bm) AS density FROM pairs GROUP BY 1, 2),
flags AS (
  SELECT p.x, p.y, p.m, d.density >= {_DBSCAN_MINPTS} AS is_core
  FROM pts p JOIN dens d USING (x, y)
),
border AS (
  SELECT DISTINCT pr.x, pr.y
  FROM pairs pr JOIN flags fb ON fb.x = pr.bx AND fb.y = pr.byy
  WHERE fb.is_core AND NOT (pr.x = pr.bx AND pr.y = pr.byy)
),
cls AS (
  SELECT f.m,
         CASE WHEN f.is_core THEN 'core'
              WHEN b.x IS NOT NULL THEN 'border'
              ELSE 'noise' END AS dbscan_class
  FROM flags f LEFT JOIN border b ON b.x = f.x AND b.y = f.y
)
SELECT dbscan_class, CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(SUM(m) AS BIGINT) AS n_points
FROM cls GROUP BY dbscan_class
"""


@query("grid_dbscan", oracle=ORACLE_GRID_DBSCAN)
def q_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-accelerated DBSCAN density classification over the first
    two embedding dimensions — the density-based outlier/cluster
    primitive (core / border / noise census) that curation pipelines
    use to spot degenerate embedding clumps and isolated junk.

    Exact-integer throughout: coordinates are the fixed-point
    ``FLOOR(x·10⁴ + 0.5)`` ints (the FLOAT-origin integerization
    rule), the neighbor predicate is integer squared-L2 ≤ eps², and
    cell ids use explicit floor-division ``(x − pmod(x, eps)) DIV
    eps`` because Spark's DIV truncates toward zero while DuckDB's
    ``//`` floors — they disagree on negative coordinates (negvalue
    layout) unless the remainder is normalized first.

    Plan — the skew-proof shape: collapse to DISTINCT quantized
    coordinates with multiplicity BEFORE the neighbor join (a
    degenerate corpus where every vector is identical — the constant
    layout — becomes ONE point with m = N instead of an N² self-join),
    then explode each point over its 3×3 cell neighborhood and
    equi-join on cell id (cell size = eps guarantees every true
    neighbor pair lands in an adjacent cell).  The pairs relation
    feeds both the density aggregate and the border probe, so it
    localCheckpoints once.  density(p) = Σ m(q) over q within eps
    (self included); core ⟺ density ≥ minPts; border ⟺ non-core
    with a core neighbor q ≠ p; the rest is noise."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") >= 2)
    )
    eps, minpts = _DBSCAN_EPS, _DBSCAN_MINPTS
    pts = (
        emb.select(
            F.expr(
                "cast(floor(cast(embedding[0] as double) * 10000 + 0.5)"
                " as bigint)"
            ).alias("x"),
            F.expr(
                "cast(floor(cast(embedding[1] as double) * 10000 + 0.5)"
                " as bigint)"
            ).alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    # pts feeds the cell join (twice, via probe/nbr) AND the flags
    # join in a later job — uncheckpointed, embeddings scans twice
    # (explain-counted)
    pts = materialize(pts)
    cells = pts.select(
        "x",
        "y",
        "m",
        F.expr(f"(x - pmod(x, {eps})) div {eps}").alias("cx"),
        F.expr(f"(y - pmod(y, {eps})) div {eps}").alias("cy"),
    )
    offsets = F.array(
        *[
            F.struct(
                (F.col("cx") + F.lit(dx)).alias("ncx"),
                (F.col("cy") + F.lit(dy)).alias("ncy"),
            )
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probe = cells.select(
        "x", "y", F.explode(offsets).alias("o")
    ).select("x", "y", F.col("o.ncx").alias("jcx"), F.col("o.ncy").alias("jcy"))
    nbr = cells.select(
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("m").alias("bm"),
        F.col("cx").alias("jcx"),
        F.col("cy").alias("jcy"),
    )
    pairs = (
        probe.join(nbr, ["jcx", "jcy"])
        .filter(
            (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx"))
            + (F.col("y") - F.col("by")) * (F.col("y") - F.col("by"))
            <= F.lit(eps * eps)
        )
        .select("x", "y", "bx", "by", "bm")
    )
    # reused by BOTH the density aggregate and the border probe —
    # materialize once (the ppjoin arrs lesson)
    pairs = materialize(pairs)
    dens = pairs.groupBy("x", "y").agg(F.sum("bm").alias("density"))
    flags = pts.join(dens, ["x", "y"]).select(
        "x", "y", "m", (F.col("density") >= minpts).alias("is_core")
    )
    corepts = flags.filter(F.col("is_core")).select(
        F.col("x").alias("bx"), F.col("y").alias("by")
    )
    border = (
        pairs.join(corepts, ["bx", "by"])
        .filter(
            ~((F.col("x") == F.col("bx")) & (F.col("y") == F.col("by")))
        )
        .select("x", "y")
        .distinct()
        .withColumn("is_border", F.lit(True))
    )
    return (
        flags.join(border, ["x", "y"], "left")
        .select(
            F.when(F.col("is_core"), F.lit("core"))
            .when(F.col("is_border"), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("dbscan_class"),
            "m",
        )
        .groupBy("dbscan_class")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum("m").alias("n_points"),
        )
    )
