"""SemDeDup-style semantic deduplication over an embedding column.

Method (public: Abbas et al. 2023, "SemDeDup: Data-efficient learning
at web-scale through semantic deduplication", arXiv:2303.09540):
k-means partition the embedding space, then *within each cluster* drop
every item whose cosine similarity to an already-kept item exceeds a
threshold. Unlike exact/MinHash dedup (``ext/dedup.py``), this removes
*semantic* duplicates — paraphrases, re-encodings, templated variants —
that share no tokens.

Engine shape (100 TB posture):

- centroids are a driver-side **model** fit on a bounded sample
  (:func:`fink_broker_spark.ext.ann.kmeans_centroids` — deterministic
  TakeOrderedAndProject draw, Lloyd in numpy; same class of driver
  state as a broadcast dim table);
- cluster assignment is a pure **column expression** over the scan
  (centroid literals compiled into the plan — no shuffle, no Python);
- the ONLY shuffle is the ``groupBy(cluster, chunk)`` that co-locates
  each cluster for the greedy pass;
- per-cluster work is O(|c|² · d) BLAS. Memory and quadratic blow-up
  are bounded by ``chunks``: with ``chunks > 1`` each cluster splits
  into deterministic id-hash chunks deduplicated independently — the
  same locality restriction SemDeDup itself makes at the cluster
  level (cross-chunk near-dup pairs are missed; the paper's point is
  that k-means makes cross-boundary pairs rare). Size ``chunks`` so
  ``|cluster| / chunks × dim × 8 B`` fits an executor task.

Greedy keep rule (deterministic): scan cluster members in ascending
id order; keep a member iff its cosine similarity to every
previously-KEPT member is below ``threshold``. First occurrence (by
id) of any duplicate set is always kept, so re-runs are bit-stable —
the property the oracle discipline needs. ``tests/test_ext.py``
asserts exact equivalence against an independent brute-force of the
same rule, plus the two structural invariants (every dropped item has
a kept witness ≥ threshold; kept items are pairwise < threshold
within a chunk).

The reference has no semantic-dedup counterpart; this is
training-data-pipeline surface (SURVEY.md §2.13).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from fink_broker_spark.ext.ann import _cell_ranking_expr, kmeans_centroids
from fink_broker_spark.plans.materialize import materialize

_OUT_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("cluster", IntegerType()),
        StructField("keep", BooleanType()),
    ]
)


def _leader_dedup(pdf: pd.DataFrame, threshold: float) -> pd.DataFrame:
    """Greedy leader pass over ONE (cluster, chunk) group, ascending id.

    Incremental BLAS: the kept set lives in a preallocated (n, d)
    matrix; each candidate costs one matvec against the kept prefix —
    O(k·d) — so the whole group is O(n·k·d) with k = kept count, never
    a materialized n×n similarity matrix.
    """
    pdf = pdf.sort_values("vec_id", kind="mergesort").reset_index(drop=True)
    x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    norms = np.linalg.norm(x, axis=1)
    norms[norms == 0.0] = 1.0
    xn = x / norms[:, None]
    n = len(xn)
    kept = np.empty_like(xn)
    nkept = 0
    keep = np.zeros(n, dtype=bool)
    for i in range(n):
        if nkept == 0 or float(np.max(kept[:nkept] @ xn[i])) < threshold:
            kept[nkept] = xn[i]
            nkept += 1
            keep[i] = True
    return pd.DataFrame(
        {
            "vec_id": pdf["vec_id"].astype("int64"),
            "cluster": pdf["cluster"].astype("int32"),
            "keep": keep,
        }
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    nlist: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    chunks: int = 1,
    sample_size: int = 4096,
    seed: int = 42,
) -> DataFrame:
    """Per-item keep/drop decisions: ``(vec_id, cluster, keep)``.

    ``centroids`` may be passed to reuse a prefit model across corpora
    (fit once, dedup many — the production pattern shared with
    :func:`~fink_broker_spark.ext.ann.ivf_topk`).
    """
    from fink_broker_spark.ext.ann import well_formed_vectors

    # well-formed domain (nullemb layout): the greedy leader kernel's
    # np.array crashes on NULL arrays / NULL elements
    corpus = well_formed_vectors(corpus, vec_col)
    if centroids is None:
        centroids = kmeans_centroids(
            corpus,
            nlist,
            id_col=id_col,
            vec_col=vec_col,
            sample_size=sample_size,
            seed=seed,
        )
    assigned = corpus.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        _cell_ranking_expr(vec_col, centroids)[0]["cell"]
        .cast("int")
        .alias("cluster"),
    )
    if chunks > 1:
        # deterministic id-hash sub-chunks bound per-task memory; the
        # salt decorrelates from upstream xxhash64 id assignment
        assigned = assigned.withColumn(
            "chunk",
            F.pmod(
                F.xxhash64(
                    F.concat(F.col("vec_id").cast("string"),
                             F.lit("#semdedup"))
                ),
                F.lit(chunks),
            ).cast("int"),
        )
        keys = ["cluster", "chunk"]
    else:
        assigned = assigned.withColumn("chunk", F.lit(0))
        keys = ["cluster"]
    thr = float(threshold)
    return assigned.groupBy(*keys).applyInPandas(
        lambda pdf: _leader_dedup(pdf, thr), schema=_OUT_SCHEMA
    )


def semantic_dedup_portable(
    corpus: DataFrame,
    n_cells: int = 8,
    tau_num: int = 4,
    tau_den: int = 25,
    scale: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup with a FULLY EXACT-INTEGER portable pipeline — the
    oracle-checkable twin of :func:`semantic_dedup` (whose k-means fit
    and greedy float-cosine leader scan are engine-specific).

    Deterministic everywhere: cells are the ``n_cells`` md5-first
    vectors (:func:`~fink_broker_spark.ext.ann.ivf_portable_topk`'s
    coarse quantizer), the in-cell scan order is (md5(id), id), and the
    drop rule is pairwise — a member is dropped iff some EARLIER
    in-cell member has cosine² ≥ tau_num/tau_den with a positive dot
    (cos ≥ √(4/25) = 0.4 by default), evaluated as the pure integer
    inequality ``tau_den·dot² ≥ tau_num·|a|²·|b|²`` in
    decimal(38,0)/HUGEINT.  (The production twin's greedy rule drops
    against KEPT members only — a sequential dependence ANSI SQL
    cannot express; the pairwise earlier-member rule is the standard
    order-free relaxation and strictly over-drops, which is the
    conservative direction for a dedup.)

    Returns per-cell governance stats: (cid, n_members, n_dropped,
    n_kept, kept_id_sum) — the id-sum is the exact checksum of the
    kept SET, so the hash gate pins membership, not just counts.

    100 TB shape: the seed set is a tiny broadcast, assignment is a
    per-row broadcast argmin, and the quadratic pair join is bounded
    per cell — production deployments size n_cells so cells fit the
    pair budget (the same lever as the float twin's k-means k).
    """
    from fink_broker_spark.ext.ann import (
        _assign_cells,
        _int_vec,
        _md5_seeds,
    )
    from pyspark.sql import Window

    from fink_broker_spark.ext.ann import well_formed_vectors

    from fink_broker_spark.plans.partitioning import ensure_scan_parallelism

    # well-formed domain, mirrored by the oracle's iv CTE predicate;
    # spread the scan so the integerization + seed-argmin assignment
    # run wide (guide §2.5 — no-op when the scan has ≥ cores splits)
    iv = ensure_scan_parallelism(
        well_formed_vectors(corpus, vec_col).select(
            F.col(id_col), _int_vec(vec_col, scale).alias("__e")
        )
    )
    seeds = _md5_seeds(iv, n_cells, id_col, "cid")
    assigned = _assign_cells(iv, seeds, id_col)
    dot_self = F.aggregate(
        F.zip_with("__e", "__e", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    wscan = Window.partitionBy("cid").orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    # materialize ONCE: ranked feeds three consumers (both pair-join
    # sides + the final membership aggregate); uncut, each would re-run
    # the integerization + seed-argmin assignment over the corpus
    # lineage-truncation tradeoff: see plans/materialize.py
    ranked = assigned.select(
        id_col,
        "__e",
        "cid",
        dot_self.alias("__n2"),
        F.row_number().over(wscan).alias("__r"),
    ).transform(materialize)
    a = ranked.select(
        "cid",
        F.col("__r").alias("__ra"),
        F.col("__e").alias("__ea"),
        F.col("__n2").alias("__n2a"),
    )
    b = ranked.select(
        "cid",
        F.col(id_col).alias("__idb"),
        F.col("__r").alias("__rb"),
        F.col("__e").alias("__eb"),
        F.col("__n2").alias("__n2b"),
    )
    dot = F.aggregate(
        F.zip_with("__ea", "__eb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )

    def d18(c):
        # ANSI-throw-vs-answer envelope: the tau
        # inequality rides decimal(18,0) operands — 18+18+1 = 37-digit
        # products, still inside DECIMAL(38) after the tau multiply
        # while dot² · tau < 1e38 — against the oracle's unbounded
        # HUGEINT.  Symmetric for |dot|, |n2| < 1e18 (current data:
        # 64-dim, |x| < 0.5, scale 1e4 ⇒ dot ≤ ~1.6e9, eight orders
        # of headroom; an embedding-magnitude or scale change past
        # 1e18 would ANSI-throw HERE on Spark where DuckDB answers —
        # re-derive the cast width before raising `scale`).
        return c.cast("decimal(18,0)")

    # the in-cell pairwise join has only n_cells join keys, so its
    # parallelism is capped at n_cells tasks (AQE coalesces further at
    # small scale) while each pair pays a d-length dot product — salt
    # the quadratic stage (guide §2.5: split the hot key): the a side
    # takes one deterministic salt from its scan rank, the b side is
    # replicated nsalts×, every pair still meets exactly once
    from fink_broker_spark.operators.relational import replicated_skew_join

    nsalts = corpus.sparkSession.sparkContext.defaultParallelism
    pairs = (
        replicated_skew_join(a, b, on=["cid"], salt_col="__ra", nsalts=nsalts)
        .filter(F.col("__ra") < F.col("__rb"))
        .select("cid", "__idb", dot.alias("__dot"), "__n2a", "__n2b")
    )
    dropped = (
        pairs.filter(
            (F.col("__dot") > 0)
            & (
                d18(F.col("__dot")) * d18(F.col("__dot")) * F.lit(tau_den)
                >= d18(F.col("__n2a")) * d18(F.col("__n2b")) * F.lit(tau_num)
            )
        )
        .select("cid", F.col("__idb").alias(id_col))
        .distinct()
        .withColumn("__dropped", F.lit(1))
    )
    return (
        ranked.select("cid", id_col)
        .join(dropped, ["cid", id_col], "left")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count("__dropped").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("__dropped")).alias("n_kept"),
            F.sum(
                F.when(F.col("__dropped").isNull(), F.col(id_col)).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("kept_id_sum"),
        )
    )
