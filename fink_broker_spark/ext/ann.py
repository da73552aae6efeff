"""Approximate-nearest-neighbor search over embedding columns.

Generalizes the reference's crossmatch operator (per-alert k-NN against a
catalog with a max radius, ``ztf/science.py:84-197``) from 2-D sky
coordinates to arbitrary ``array<float>`` embeddings.

Two strategies:

- :func:`brute_force_topk` — exact baseline: broadcast the (small) query
  set against the corpus, score every pair with JVM-side cosine, per-query
  top-k via ``row_number``. At 100 TB the corpus side stays partitioned and
  is scanned once; the only shuffle is the final per-query k-row heap.
- :func:`lsh_topk` — scale path: random-hyperplane LSH. Corpus and queries
  are bucketed by signature band; cosine is computed only within matching
  buckets. Candidate generation is an equi-join on (band, band-signature) —
  shuffle volume ∝ bucket collisions, not |corpus| × |queries|.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fink_broker_spark.functions.vector import cosine_expr
from fink_broker_spark.operators.relational import top_k_per_group


class EmptyCorpusError(ValueError):
    """A model-fitting operator received ZERO vectors.

    Raised by the sampling/fit helpers (k-means centroids, PQ
    codebooks, PCA moments) so registered queries can give the
    empty-lake answer — an empty result with the right schema — instead
    of a crashed driver row (driftlab ``emptystream`` layout: the
    "first night" lake has the tables but no rows yet)."""


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` rows for each query vector.

    Returns (query_id, vec_id, cosine, rank); ties broken by corpus id so
    the result is fully deterministic.

    Domain: well-formed (finite) vectors only, like every operator in
    this package.  NULL cosines fell out of the DESC top-k window
    symmetrically with SQL oracles, but a NaN cosine ranks FIRST in
    both engines' DESC orderings (NaN compares greatest), so a single
    NaN element would hijack the entire top-k (nanemb driftlab
    layout).
    """
    from fink_broker_spark.functions.vector import dot_expr, norm2_expr

    queries = well_formed_vectors(queries, vec_col)
    corpus = well_formed_vectors(corpus, vec_col)
    # per-vector norms below the join: each pair row pays one dot product
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qvec"),
        F.sqrt(norm2_expr(vec_col)).alias("__qnorm"),
    )
    c = corpus.select(
        id_col, vec_col, F.sqrt(norm2_expr(vec_col)).alias("__cnorm")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            (
                dot_expr(vec_col, "__qvec")
                / (F.col("__cnorm") * F.col("__qnorm"))
            ).alias("cosine"),
        )
    )
    return top_k_per_group(
        scored,
        [query_id_col],
        [F.desc("cosine"), F.asc(id_col)],
        k,
    ).select(query_id_col, id_col, "cosine", "rank")


def brute_force_topk_kernel(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k via a vectorized matrix kernel — the batch-ANN
    scale path.

    The query set is broadcast as one numpy matrix; a ``mapInPandas``
    pass scores each corpus partition against it with a single BLAS
    matmul and emits only the per-partition top-k per query; a final
    ``row_number`` reduces partials to the global top-k (any global
    top-k row is in its partition's top-k, so the reduction is exact).

    Versus :func:`brute_force_topk` (per-pair expression tree): same
    results, ~10× less CPU — the measured bottleneck at 20k×500 was the
    per-pair HOF cosine, not the pair count (SCALING.md). Shuffle volume
    is |queries|·k per partition, independent of corpus size. Cosine
    values come from BLAS reductions, so they can differ from the
    expression form in the last ulp — use the expression form when
    bit-exact oracle parity matters.
    """
    queries = well_formed_vectors(queries, vec_col)
    corpus = well_formed_vectors(corpus, vec_col)
    qpdf = queries.select(id_col, vec_col).toPandas()
    if qpdf.empty:
        # empty query set (driftlab sparse layout): np.array over zero
        # vectors collapses to 1-D and every axis-1 reduction explodes —
        # the correct answer is simply no rows
        return corpus.sparkSession.createDataFrame(
            [],
            f"{query_id_col} bigint, {id_col} bigint, cosine double, "
            "rank integer",
        )
    qids = qpdf[id_col].to_numpy()
    qmat = np.array([np.asarray(v, dtype=np.float64) for v in qpdf[vec_col]])
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))
    bc = corpus.sparkSession.sparkContext.broadcast((qids, qmat, qnorm))

    import pandas as pd

    def score(batches):
        bqids, bq, bqn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            cmat = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            cids = pdf[id_col].to_numpy()
            cn = np.sqrt((cmat * cmat).sum(axis=1))
            sims = (cmat @ bq.T) / np.outer(cn, bqn)
            sims[np.equal.outer(cids, bqids)] = -np.inf  # self-match
            top = min(k, sims.shape[0])
            part = np.argpartition(-sims, top - 1, axis=0)[:top]
            rows = {"q": [], "c": [], "s": []}
            for j in range(sims.shape[1]):
                for i in part[:, j]:
                    if np.isfinite(sims[i, j]):
                        rows["q"].append(bqids[j])
                        rows["c"].append(cids[i])
                        rows["s"].append(sims[i, j])
            yield pd.DataFrame(
                {
                    query_id_col: rows["q"],
                    id_col: rows["c"],
                    "cosine": rows["s"],
                }
            )

    partials = corpus.select(id_col, vec_col).mapInPandas(
        score,
        f"{query_id_col} bigint, {id_col} bigint, cosine double",
    )
    return top_k_per_group(
        partials, [query_id_col], [F.desc("cosine"), F.asc(id_col)], k
    ).select(query_id_col, id_col, "cosine", "rank")


def _cell_ranking_expr(vec_col: str, centroids: list[list[float]]) -> Column:
    """array<struct<dist,cell>> sorted ascending — struct ordering compares
    dist first, so ``array_sort`` yields nearest-cell-first.

    The centroid matrix rides ONE nested-array literal and the per-cell
    distance is a two-arg ``transform`` (element, index) over it — the
    unrolled form (one ``zip_with``+``aggregate`` lambda pair and ``dim``
    scalar literals PER centroid) built an O(nlist·dim) expression tree
    whose Catalyst analysis dominated wall time on bounded corpora
    (ivf_ann_topk: 2.7 s of a 4.0 s run was driver-side plan work,
    profiled).  Arithmetic is bit-identical: same (x−y)·(x−y) doubles in
    the same left-to-right ``aggregate`` order, same struct ordering
    (dist, then cell index) under ``array_sort``."""
    from fink_broker_spark.functions.vector import double_matrix_lit

    v = F.col(vec_col).cast("array<double>")
    return F.array_sort(
        F.transform(
            double_matrix_lit(centroids),
            lambda c, i: F.struct(
                F.aggregate(
                    F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("dist"),
                i.alias("cell"),
            ),
        )
    )


def kmeans_centroids(
    corpus: DataFrame,
    nlist: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
    iters: int = 8,
    seed: int = 42,
) -> list[list[float]]:
    """Sampled Lloyd k-means: a driver-side *model* fit on a bounded
    sample, never the corpus.

    The sample is the ``sample_size`` rows with the smallest
    ``xxhash64(id)`` — a deterministic uniform draw that compiles to
    TakeOrderedAndProject (one scan, no full sort, no fraction guess).
    Lloyd runs in numpy on the driver (sample_size × dim floats — a few
    MB, same class as a broadcast dim table). Initialization is
    k-means++-style greedy seeding on the sample; empty cells re-seed
    from the point farthest from its centroid, so all ``nlist`` cells
    survive even on degenerate data.
    """
    # salt the ranking hash so the draw decorrelates from any upstream
    # xxhash64-based bucketing of the ids themselves (ids assigned by
    # hash partitioning would otherwise bias an unsalted ranking).
    # The well-formed filter here is deliberately REDUNDANT with the
    # callers' own (ivf_topk/semantic_dedup pre-filter): this is a
    # public fit entry a user can hit directly.  The doubled F.exists
    # predicate rides the existing full-corpus sampling scan (the
    # filter sits BELOW the orderBy/limit, so it is evaluated once per
    # corpus row during the TakeOrdered pass — one cheap array HOF on
    # a scan that happens anyway), not on the bounded sample
    sample = (
        well_formed_vectors(corpus, vec_col).select(vec_col)
        .orderBy(F.xxhash64(F.concat(F.col(id_col).cast("string"),
                                     F.lit("#ivf-sample"))))
        .limit(sample_size)
        .toPandas()  # Arrow transfer: ~10× faster than row collect here
    )
    if sample.empty:
        raise EmptyCorpusError("kmeans_centroids: empty corpus")
    x = np.array([np.asarray(v, dtype=np.float64) for v in sample[vec_col]])
    rng = np.random.default_rng(seed)
    # k-means++ seeding: first center uniform, then ~ D^2 weighting
    centers = [x[rng.integers(len(x))]]
    for _ in range(1, min(nlist, len(x))):
        d2 = np.min(
            [((x - c) ** 2).sum(axis=1) for c in centers], axis=0
        )
        total = d2.sum()
        if total <= 0:
            centers.append(x[rng.integers(len(x))])
            continue
        centers.append(x[rng.choice(len(x), p=d2 / total)])
    cent = np.array(centers)
    for _ in range(iters):
        d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for ci in range(len(cent)):
            members = x[assign == ci]
            if len(members):
                cent[ci] = members.mean(axis=0)
            else:
                # re-seed dead cell from the worst-served point
                cent[ci] = x[d2.min(axis=1).argmax()]
    return cent.tolist()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[list[float]] | None = None,
    sample_size: int = 4096,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) coarse index.

    Corpus rows are assigned to their nearest of ``nlist`` centroid
    cells; each query probes only its ``nprobe`` nearest cells and
    brute-forces within them. Centroids default to sampled k-means
    (:func:`kmeans_centroids`) so cell population tracks the data's
    actual cluster structure; pass ``centroids`` to reuse a prefit
    model across query batches (the production pattern — fit once,
    probe many).

    100 TB shape: the centroid table is a tiny driver-side model (like a
    broadcast dim); cell assignment is a pure column expression over the
    scan (no shuffle); candidate generation is an equi-join on ``cell``,
    so scored pairs shrink by ~``nprobe/nlist`` versus brute force, and
    the corpus is never collected.
    """
    from fink_broker_spark.functions.vector import dot_expr, norm2_expr

    corpus = well_formed_vectors(corpus, vec_col)
    queries = well_formed_vectors(queries, vec_col)
    if centroids is None:
        centroids = kmeans_centroids(
            corpus, nlist, id_col, vec_col, sample_size=sample_size, seed=seed
        )
    ranking = _cell_ranking_expr(vec_col, centroids)
    c = corpus.select(
        id_col,
        vec_col,
        F.sqrt(norm2_expr(vec_col)).alias("__cnorm"),
        ranking[0]["cell"].alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qvec"),
        F.sqrt(norm2_expr(vec_col)).alias("__qnorm"),
        F.explode(
            F.transform(
                F.slice(ranking, 1, nprobe), lambda s: s["cell"]
            )
        ).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), on="cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            (
                dot_expr(vec_col, "__qvec")
                / (F.col("__cnorm") * F.col("__qnorm"))
            ).alias("cosine"),
        )
    )
    return top_k_per_group(
        scored, [query_id_col], [F.desc("cosine"), F.asc(id_col)], k
    ).select(query_id_col, id_col, "cosine", "rank")


def ivf_portable_topk(
    corpus: DataFrame,
    n_cells: int = 8,
    nprobe: int = 2,
    k: int = 5,
    scale: int = 10000,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k with an engine-portable, FULLY EXACT-INTEGER pipeline —
    the oracle-checkable twin of :func:`ivf_topk` (whose k-means fit is
    engine-specific).  Components integerize through the identical
    ``FLOOR(x·scale + 0.5)`` IEEE tree (the label_centroids pattern),
    centroids are the ``n_cells`` md5-first vectors (a deterministic
    coarse quantizer — no Lloyd iterations to replay), and every
    distance is an exact BIGINT squared-L2, so cell assignment, probe
    choice, candidate set, and ranking are bit-identical in ANSI SQL.

    100 TB shape unchanged from the production twin: the centroid set
    is a tiny broadcast model, assignment is a per-row expression
    (via an ``n_cells``-row broadcast argmin), candidates come from an
    equi-join on the cell key — scored pairs shrink by ~nprobe/n_cells.
    """
    # well-formed domain, mirrored by the oracle's iv CTE predicate
    iv = well_formed_vectors(corpus, vec_col).select(
        F.col(id_col), _int_vec(vec_col, scale).alias("__e")
    )
    seeds = _md5_seeds(iv, n_cells, id_col, "cid")
    assigned = _assign_cells(iv, seeds, id_col)
    probes = (
        iv.filter(F.col(id_col) < n_queries)
        .crossJoin(F.broadcast(seeds))
        .select(
            F.col(id_col).alias("query_id"),
            F.col("__e").alias("__qe"),
            "cid",
            _d2_expr(F.col("__e"), F.col("__ce")).alias("__d2"),
        )
        .select(
            "query_id",
            "__qe",
            "cid",
            F.row_number()
            .over(Window.partitionBy("query_id").orderBy("__d2", "cid"))
            .alias("__rk"),
        )
        .filter(F.col("__rk") <= nprobe)
        .select("query_id", "__qe", "cid")
    )
    cand = (
        probes.join(assigned, "cid")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            _d2_expr(F.col("__qe"), F.col("__e")).alias("d2"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy("d2", id_col)
    return (
        cand.select(
            "query_id", id_col, "d2", F.row_number().over(wk).alias("rnk")
        )
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            id_col,
            "d2",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def well_formed_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Restrict to WELL-FORMED embeddings: non-NULL arrays whose every
    element is a FINITE number (no NULL, no NaN, no ±Inf) — the domain
    every embedding operator in this package computes over, enforced
    at each operator entry (and mirrored in the portable twins'
    oracles as ``embedding IS NOT NULL AND len(list_filter(embedding,
    x -> x IS NULL OR NOT isfinite(x))) = 0``).

    Why a hard precondition instead of propagation: the numpy kernels
    crash on None (np.asarray / ragged np.array) while DuckDB
    propagates NULL and still answers — an asymmetric crash-vs-answer
    split; and a NULL element turns every exact-integer
    distance involving that vector NULL, where Spark's ASC window
    ranks NULLS FIRST and DuckDB's NULLS LAST, silently flipping
    argmin cell/code assignments (the ``nullemb`` driftlab layout
    caught 8 such splits on its first sweep).  NaN/Inf elements are
    WORSE (the ``nanemb`` layout, 14 embedding-op hits on its first
    sweep): nothing crashes symmetrically — numpy propagates NaN
    silently and np.argmin returns the NaN position where a SQL
    window ranks NaN greatest, while the ANSI integerization tree
    ``floor(x·10⁴+0.5)`` hard-errors on BOTH engines (a crash-vs-crash
    red).  Dropping malformed vectors identically on both engines is
    the only portable rule — and a no-op on any lake whose encoder
    never fails.

    NaN filter mechanics: inside the HOF, ``~isnan(x)`` and
    ``abs(x) != +Inf`` — Spark comparisons treat NaN as a normal
    greatest value (NaN != Inf is TRUE), so the conjunction is
    well-defined for every element state; NULL elements yield NULL,
    caught by the ``exists(isNull)`` arm."""
    c = F.col(vec_col)
    inf = F.lit(float("inf"))
    return df.filter(
        c.isNotNull()
        & ~F.exists(
            c,
            lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == inf),
        )
    )


def _int_vec(vec_col: str, scale: int) -> Column:
    """Integerize a float vector through the shared FLOOR(x·scale+0.5)
    IEEE tree (exact and identical on both engines)."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast(
            "long"
        ),
    )


def _md5_seeds(
    iv: DataFrame, n: int, id_col: str, code_name: str
) -> DataFrame:
    """The ``n`` md5-first integerized vectors, numbered 1..n — the
    deterministic stand-in for an engine-specific fit (k-means /
    codebook training), same recipe as :func:`ivf_portable_topk`."""
    order = (F.md5(F.col(id_col).cast("string")), F.col(id_col))
    return (
        iv.orderBy(*order)
        .limit(n)
        .select(
            F.col("__e").alias("__ce"),
            F.row_number().over(Window.orderBy(*order)).alias(code_name),
        )
    )


def _d2_expr(a, b) -> Column:
    """Exact BIGINT squared-L2 between two integer arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _assign_cells(
    iv: DataFrame, seeds: DataFrame, id_col: str
) -> DataFrame:
    """Coarse-quantizer assignment: each ``(id, __e)`` row gets the
    ``cid`` of its squared-L2-nearest seed (ties break on cid).  THE
    single definition shared by the portable IVF and SemDeDup twins —
    three drifting copies of this argmin existed before."""
    wcell = Window.partitionBy(id_col).orderBy("__d2", "cid")
    return (
        iv.crossJoin(F.broadcast(seeds))
        .select(
            id_col,
            "__e",
            "cid",
            _d2_expr(F.col("__e"), F.col("__ce")).alias("__d2"),
        )
        .select(
            id_col, "__e", "cid", F.row_number().over(wcell).alias("__rk")
        )
        .filter(F.col("__rk") == 1)
        .select(id_col, "__e", "cid")
    )


def pq_portable_topk(
    corpus: DataFrame,
    m: int = 8,
    subdim: int = 8,
    ncodes: int = 16,
    k: int = 5,
    refine: int = 50,
    scale: int = 10000,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ADC top-k with a FULLY EXACT-INTEGER
    portable pipeline — the oracle-checkable twin of :func:`pq_topk`
    (whose codebook fit is engine-specific k-means).  Codewords are the
    ``ncodes`` md5-first vectors' sub-vectors (one shared seed set
    across all ``m`` subspaces — no Lloyd iterations to replay), every
    sub-distance / ADC table entry / re-rank distance is an exact
    BIGINT squared-L2, so encoding, the ADC shortlist, and the final
    ranking are bit-identical in ANSI SQL.

    Pins the PQ SEMANTICS end to end: per-subspace argmin encoding
    (``rk = 1`` over (sub-d2, code)), additive ADC lookup (approx d2 =
    Σ_sub table[q, sub, code(v, sub)]), shortlist of ``refine`` by
    (adc_d2, id), exact re-rank of the shortlist only.

    100 TB shape identical to the production twin: the codebook is a
    tiny broadcast model (ncodes rows), encoding is a per-row
    broadcast argmin producing m SMALL codes per vector (the ~32×
    memory shrink that makes PQ the RAM-bound scale path), the ADC
    table is |queries|·m·ncodes rows broadcast to the codes relation
    via an equi-join on (sub, code), and only |queries|·refine full
    vectors are ever read exactly.
    """
    # well-formed domain, mirrored by the oracle's iv CTE predicate
    iv = well_formed_vectors(corpus, vec_col).select(
        F.col(id_col), _int_vec(vec_col, scale).alias("__e")
    )
    seeds = _md5_seeds(iv, ncodes, id_col, "code")

    subs = F.explode(
        F.sequence(F.lit(0), F.lit(m - 1))
    )  # subspace index 0..m-1

    def sub_d2(e, ce):
        # slice is 1-based; subspace s covers [s*subdim+1, s*subdim+subdim]
        return _d2_expr(
            F.slice(e, F.col("s") * subdim + 1, subdim),
            F.slice(ce, F.col("s") * subdim + 1, subdim),
        )

    wenc = Window.partitionBy(id_col, "s").orderBy("__sd2", "code")
    codes = (
        iv.crossJoin(F.broadcast(seeds))
        .select(id_col, "__e", "__ce", "code", subs.alias("s"))
        .select(
            id_col,
            "s",
            "code",
            sub_d2(F.col("__e"), F.col("__ce")).alias("__sd2"),
        )
        .select(
            id_col, "s", "code", F.row_number().over(wenc).alias("__rk")
        )
        .filter(F.col("__rk") == 1)
        .select(id_col, "s", "code")
    )
    adc = (
        iv.filter(F.col(id_col) < n_queries)
        .crossJoin(F.broadcast(seeds))
        .select(
            F.col(id_col).alias("query_id"),
            F.col("__e").alias("__qe"),
            "__ce",
            "code",
            subs.alias("s"),
        )
        .select(
            "query_id",
            "s",
            "code",
            sub_d2(F.col("__qe"), F.col("__ce")).alias("__t"),
        )
    )
    approx = (
        codes.join(F.broadcast(adc), ["s", "code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(F.sum("__t").alias("adc_d2"))
    )
    ws = Window.partitionBy("query_id").orderBy("adc_d2", id_col)
    shortlist = (
        approx.select(
            "query_id", id_col, "adc_d2", F.row_number().over(ws).alias("__rs")
        )
        .filter(F.col("__rs") <= refine)
        .select("query_id", id_col, "adc_d2")
    )
    qv = iv.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col("__e").alias("__qe")
    )
    rer = (
        shortlist.join(iv, id_col)
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            id_col,
            "adc_d2",
            _d2_expr(F.col("__qe"), F.col("__e")).alias("d2"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy("d2", id_col)
    return (
        rer.select(
            "query_id",
            id_col,
            "adc_d2",
            "d2",
            F.row_number().over(wk).alias("rnk"),
        )
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            id_col,
            "adc_d2",
            "d2",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def kernel_portable_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    scale: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact INTEGER squared-L2 top-k via the vectorized matrix kernel —
    the oracle-checkable twin of :func:`brute_force_topk_kernel`.  The
    float kernel is rows-only because BLAS float reductions differ from
    the expression tree in the last ulp; int64 matmul has no rounding at
    all, so the same mapInPandas + partial-top-k physical path becomes
    hash-exact: d2 = |c|² + |q|² − 2·c·q with every term an exact
    int64 (|values| ≤ scale ⇒ d2 ≤ d·(2·scale)² ≈ 2.6e10 ≪ 2⁶³).

    Per-partition partials take the first ``k`` rows under the full
    (d2, id) lexicographic order (np.lexsort — ties included
    correctly), so the global row_number reduction is exact.  Shuffle
    volume is |queries|·k per partition, independent of corpus size —
    the same 100 TB shape as the float kernel.
    """
    iq = well_formed_vectors(queries, vec_col).select(
        F.col(id_col), _int_vec(vec_col, scale).alias("__e")
    )
    qpdf = iq.toPandas()
    if qpdf.empty:
        return corpus.sparkSession.createDataFrame(
            [],
            f"{query_id_col} bigint, {id_col} bigint, d2 bigint, "
            "rnk integer",
        )
    qids = qpdf[id_col].to_numpy()
    qmat = np.array(
        [np.asarray(v, dtype=np.int64) for v in qpdf["__e"]]
    )
    qn2 = (qmat * qmat).sum(axis=1)
    bc = corpus.sparkSession.sparkContext.broadcast((qids, qmat, qn2))

    def score(batches):
        bqids, bq, bqn2 = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            cmat = np.array(
                [np.asarray(v, dtype=np.int64) for v in pdf["__e"]]
            )
            cids = pdf[id_col].to_numpy()
            cn2 = (cmat * cmat).sum(axis=1)
            # d2[i, j] = |c_i|^2 + |q_j|^2 - 2 c_i . q_j  (exact int64)
            d2 = cn2[:, None] + bqn2[None, :] - 2 * (cmat @ bq.T)
            rows = {"q": [], "c": [], "d": []}
            for j in range(d2.shape[1]):
                keep = cids != bqids[j]  # self-match excluded
                dj, cj = d2[keep, j], cids[keep]
                # first k rows of the (d2, id) lexicographic order:
                # any global top-k row is in its partition's top-k
                order = np.lexsort((cj, dj))[:k]
                rows["q"].extend([bqids[j]] * len(order))
                rows["c"].extend(cj[order])
                rows["d"].extend(dj[order])
            yield pd.DataFrame(rows)

    ic = well_formed_vectors(corpus, vec_col).select(
        F.col(id_col), _int_vec(vec_col, scale).alias("__e")
    )
    partials = ic.mapInPandas(score, schema="q long, c long, d long")
    wk = Window.partitionBy("q").orderBy("d", "c")
    return (
        partials.select(
            F.col("q").alias(query_id_col),
            F.col("c").alias(id_col),
            F.col("d").alias("d2"),
            F.row_number().over(wk).alias("rnk"),
        )
        .filter(F.col("rnk") <= k)
        .select(
            query_id_col, id_col, "d2", F.col("rnk").cast("int").alias("rnk")
        )
    )


def hyperplanes(dim: int, nbits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (unit Gaussian rows)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((nbits, dim)).tolist()


def signature_expr(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit LSH signature: ``array<int>`` of 0/1 per hyperplane.

    Pure Column expression — ``transform`` over plane literals with an
    inner ``aggregate`` dot product; runs in codegen over the scan.
    """
    v = (F.col(vec_col) if isinstance(vec_col, str) else vec_col).cast(
        "array<double>"
    )
    # plane matrix as ONE nested-array literal + one transform lambda:
    # the unrolled per-plane form built an O(nbits·dim) expression tree
    # whose Catalyst analysis cost scaled with the plane count (same
    # compaction as _cell_ranking_expr).  Bit order, dot-product
    # accumulation order, and the >= 0 sign rule are unchanged.
    from fink_broker_spark.functions.vector import double_matrix_lit

    return F.transform(
        double_matrix_lit(planes),
        lambda p: F.when(
            F.aggregate(
                F.zip_with(v, p, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )


def _band_table(
    df: DataFrame, id_col: str, vec_col: str, planes, nbands: int
) -> DataFrame:
    nbits = len(planes)
    rows_per_band = nbits // nbands
    sig = signature_expr(vec_col, planes)
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(nbands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.concat_ws(
                "", F.slice(sig, b * rows_per_band + 1, rows_per_band)
            ).alias("bsig"),
        ),
    )
    return df.select(id_col, vec_col, F.explode(bands).alias("bb")).select(
        id_col, vec_col, F.col("bb.band").alias("band"), F.col("bb.bsig").alias("bsig")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nbits: int = 32,
    nbands: int = 8,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH banding.

    A pair is a candidate if it collides in ≥1 of ``nbands`` signature
    bands (``nbits/nbands`` bits each); exact cosine is computed only for
    candidates. Recall is tunable via (nbits, nbands); the shape matches
    the MinHash-LSH banding construction (Broder; MMDS ch.3).

    ``dim`` defaults to the corpus embedding length (read from one row).
    A wrong dim would be silent and catastrophic: ``zip_with`` pads with
    NULLs, every dot goes NULL, every bit falls to the otherwise(0)
    branch, and all docs collide in every band (quadratic candidates).
    """
    if dim is None:
        first = corpus.select(F.size(vec_col).alias("d")).first()
        if first is None:
            raise ValueError("lsh_topk: empty corpus, cannot infer dim")
        dim = int(first["d"])
    planes = hyperplanes(dim, nbits, seed)
    cb = _band_table(corpus, id_col, vec_col, planes, nbands)
    qb = _band_table(
        queries.select(
            F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
        ),
        query_id_col,
        "__qvec",
        planes,
        nbands,
    )
    cands = (
        cb.join(qb, on=["band", "bsig"])
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, vec_col, "__qvec")
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cands.select(
        query_id_col, id_col, cosine_expr(vec_col, "__qvec").alias("cosine")
    )
    return top_k_per_group(
        scored, [query_id_col], [F.desc("cosine"), F.asc(id_col)], k
    ).select(query_id_col, id_col, "cosine", "rank")


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ncodes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
    iters: int = 8,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split the vector into ``m``
    subspaces and fit ``ncodes`` k-means centroids per subspace on ONE
    bounded deterministic sample (drawn exactly like
    :func:`kmeans_centroids`, reused for every subspace).

    This is a driver-side model fit — sample_size × dim floats — the
    same cost class as the IVF centroid fit; the corpus itself never
    moves.
    """
    sample = (
        well_formed_vectors(corpus, vec_col).select(vec_col)
        .orderBy(F.xxhash64(F.concat(F.col(id_col).cast("string"),
                                     F.lit("#pq-sample"))))
        .limit(sample_size)
        .toPandas()
    )
    if sample.empty:
        raise EmptyCorpusError("pq_codebooks: empty corpus")
    x = np.array([np.asarray(v, dtype=np.float64) for v in sample[vec_col]])
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    rng = np.random.default_rng(seed)
    books: list[list[list[float]]] = []
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        centers = [xs[rng.integers(len(xs))]]
        for _ in range(1, min(ncodes, len(xs))):
            d2 = np.min(
                [((xs - c) ** 2).sum(axis=1) for c in centers], axis=0
            )
            total = d2.sum()
            centers.append(
                xs[rng.choice(len(xs), p=d2 / total)]
                if total > 0
                else xs[rng.integers(len(xs))]
            )
        cent = np.array(centers)
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for ci in range(len(cent)):
                members = xs[assign == ci]
                cent[ci] = (
                    members.mean(axis=0)
                    if len(members)
                    else xs[d2.min(axis=1).argmax()]
                )
        books.append(cent.tolist())
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Attach the ``array<int>`` PQ code (per-subspace nearest-centroid
    index) — an Arrow-batched pandas UDF with the codebooks closed over
    as a broadcast-sized constant. At 100 TB the stored code is
    ``m`` bytes-ish per vector versus ``4·dim`` for the floats: the
    compression that lets a billion-vector index fit an executor."""
    from pyspark.sql.functions import pandas_udf

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub = books[0].shape[1]
    # well-formed domain like every other embedding-operator entry
    # (a direct caller on a nullemb-shaped corpus would otherwise
    # crash in np.asarray)
    df = well_formed_vectors(df, vec_col)

    @pandas_udf("array<int>")
    def _encode(vecs: pd.Series) -> pd.Series:
        x = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        codes = np.empty((len(x), len(books)), dtype=np.int32)
        for j, cent in enumerate(books):
            xs = x[:, j * sub : (j + 1) * sub]
            # ||a-c||² = ||a||² - 2a·c + ||c||²; argmin over codes
            d2 = (
                (xs * xs).sum(axis=1)[:, None]
                - 2.0 * xs @ cent.T
                + (cent * cent).sum(axis=1)[None, :]
            )
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return df.withColumn(out_col, _encode(vec_col))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    refine: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: corpus rows are scored by summed
    lookup-table distances of their PQ codes against each query's
    per-subspace distance table, then the best ``refine`` candidates
    per query re-rank by EXACT cosine.

    100 TB shape: queries and their m×ncodes lookup tables broadcast
    (tiny); each corpus partition scores its codes with pure numpy
    gather-sums inside ``mapInPandas`` — no shuffle until the per-query
    candidate heap (``refine`` rows per query per partition at most);
    the exact re-rank touches only |queries|·refine vectors. The code
    column is the only thing scanned besides the id — at 8 bytes per
    vector the scan is ~32× lighter than the float embeddings.
    """
    from fink_broker_spark.functions.vector import cosine_expr as _cos

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub = books[0].shape[1]
    corpus = well_formed_vectors(corpus, vec_col)
    queries = well_formed_vectors(queries, vec_col)
    qpd = queries.select(id_col, vec_col).toPandas()
    if qpd.empty:
        # empty query set (driftlab sparse layout): the LUT stack would
        # index a 1-D empty matrix; no queries → no rows
        return queries.sparkSession.createDataFrame(
            [],
            f"query_id bigint, {id_col} bigint, cosine double, "
            "rank integer",
        )
    qids = qpd[id_col].to_numpy()
    qx = np.array([np.asarray(v, dtype=np.float64) for v in qpd[vec_col]])
    # per-query, per-subspace, per-code squared-distance lookup tables
    luts = np.stack(
        [
            (qx[:, j * sub : (j + 1) * sub][:, None, :] - cent[None, :, :])
            .__pow__(2)
            .sum(axis=2)
            for j, cent in enumerate(books)
        ],
        axis=1,
    )  # shape: (Q, m, ncodes)

    coded = pq_encode(corpus, codebooks, vec_col=vec_col)

    def score(batches):
        for pdf in batches:
            codes = np.array(list(pdf["pq_code"]), dtype=np.int64)
            if not len(codes):
                continue
            # gather-sum: approx_d[q, n] = Σ_j lut[q, j, codes[n, j]]
            out_frames = []
            for qi in range(len(qids)):
                d = luts[qi][np.arange(len(books))[None, :], codes].sum(
                    axis=1
                )
                take = min(refine, len(d))
                idx = np.argpartition(d, take - 1)[:take]
                out_frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qids[qi],
                            "cand_id": pdf["__cid"].to_numpy()[idx],
                            "approx_d": d[idx],
                        }
                    )
                )
            yield pd.concat(out_frames)

    cands = coded.select(
        F.col(id_col).alias("__cid"), "pq_code"
    ).mapInPandas(
        score, "query_id long, cand_id long, approx_d double"
    )
    # keep the best `refine` per query globally, then exact re-rank
    shortlist = top_k_per_group(
        cands.filter(F.col("query_id") != F.col("cand_id")),
        ["query_id"],
        [F.asc("approx_d"), F.asc("cand_id")],
        refine,
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    cvec = corpus.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("__cvec")
    )
    exact = (
        shortlist.join(cvec, "cand_id")
        .join(F.broadcast(qvec), "query_id")
        .select(
            "query_id",
            F.col("cand_id").alias(id_col),
            _cos("__cvec", "__qvec").alias("cosine"),
        )
    )
    return top_k_per_group(
        exact, ["query_id"], [F.desc("cosine"), F.asc(id_col)], k
    ).select("query_id", id_col, "cosine", "rank")
