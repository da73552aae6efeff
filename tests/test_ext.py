"""Extension-operator contracts: LSH families vs exact baselines; time ops."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from fink_broker_spark.core.time import (
    jd_expr,
    jd_to_timestamp,
    nanos_to_micros,
    timestamp_to_jd,
)
from fink_broker_spark.ext.ann import brute_force_topk, lsh_topk
from fink_broker_spark.ext.dedup import jaccard_pairs, minhash_lsh_pairs, simhash_pairs
from fink_broker_spark.sources.parquet import load_table
from tests.conftest import SF0001


def test_minhash_lsh_recall_vs_exact(spark):
    """LSH candidates verified by exact jaccard ⊆ exact pairs; high-sim
    pairs (≥0.9) must be recalled (banding curve puts them at ~1.0)."""
    docs = load_table(spark, SF0001, "documents")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(docs, threshold=0.8, n=3).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(docs, num_hashes=32, nbands=8, n=3, threshold=0.8).collect()
    }
    assert set(lsh) <= set(exact)
    high = {p for p, j in exact.items() if j >= 0.9}
    assert high <= set(lsh), f"missed high-sim pairs: {high - set(lsh)}"


def test_simhash_finds_neardups(spark):
    """SimHash hamming ≤ 3 pairs should heavily overlap exact near-dups."""
    docs = load_table(spark, SF0001, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(docs, threshold=0.9, n=2).collect()
    }
    sim = {
        (r.id_a, r.id_b) for r in simhash_pairs(docs, max_hamming=3, n=2).collect()
    }
    if exact:
        assert len(sim & exact) / len(exact) >= 0.5


def test_lsh_topk_recall_vs_brute_force(spark):
    emb = load_table(spark, SF0001, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=5)
    approx = lsh_topk(emb, queries, k=5, nbits=64, nbands=16)
    exact_set = {(r.query_id, r.vec_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.vec_id) for r in approx.collect()}
    # random data has weak neighborhood structure; still expect real recall
    assert len(approx_set & exact_set) / len(exact_set) >= 0.3


def test_jd_roundtrip(spark):
    ev = load_table(spark, SF0001, "events").limit(100)
    out = ev.select(
        "ts",
        nanos_to_micros("ts_ns").alias("us"),
        timestamp_to_jd("ts").alias("jd"),
    ).withColumn("ts2", jd_to_timestamp("jd"))
    # round-trip within 1 ms (double jd holds ~µs precision at 2.4e6 days)
    chk = out.select(
        (F.abs(F.unix_micros("ts2") - F.col("us")) < 1000).alias("ok")
    )
    assert all(r.ok for r in chk.collect())
    jd_vals = out.select("jd").first()
    assert 2.4e6 < jd_vals.jd < 2.5e6


def test_ivf_topk_recall_vs_brute_force(spark):
    from fink_broker_spark.ext.ann import ivf_topk

    emb = load_table(spark, SF0001, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=5)
    approx = ivf_topk(emb, queries, k=5, nlist=8, nprobe=4)
    exact_set = {(r.query_id, r.vec_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.vec_id) for r in approx.collect()}
    # probing half the cells of a random corpus: expect real overlap
    assert len(approx_set & exact_set) / len(exact_set) >= 0.3
    # every query still returns a full k result set
    counts = {r.query_id for r in approx.collect()}
    assert len(counts) == 5


def test_kernel_topk_matches_expression_topk(spark):
    from fink_broker_spark.ext.ann import brute_force_topk_kernel

    emb = load_table(spark, SF0001, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    expr_form = brute_force_topk(emb, queries, k=5)
    kernel_form = brute_force_topk_kernel(emb, queries, k=5)
    a = {(r.query_id, r.vec_id) for r in expr_form.collect()}
    b = {(r.query_id, r.vec_id) for r in kernel_form.collect()}
    assert a == b


def test_embedding_neardup_invariant_to_block_count(spark):
    """The blocked all-pairs plan must return the identical pair set for
    any nblocks (no pair lost at block boundaries, none scored twice)."""
    from fink_broker_spark.ext.dedup import embedding_neardup_pairs

    emb = load_table(spark, SF0001, "embeddings")
    base = {
        (r.id_a, r.id_b, round(r.cosine, 12))
        for r in embedding_neardup_pairs(emb, threshold=0.45, nblocks=1).collect()
    }
    for nb in (3, 8):
        got = {
            (r.id_a, r.id_b, round(r.cosine, 12))
            for r in embedding_neardup_pairs(
                emb, threshold=0.45, nblocks=nb
            ).collect()
        }
        assert got == base, f"nblocks={nb} diverged"
    assert base, "probe threshold should produce at least one pair"


def test_embedding_neardup_reduction_modes_agree(spark):
    """The unified kernel's two reduction modes — BLAS matmul
    (production) and cumsum (oracle bit-parity) — must select the same
    pair set, with cosines equal to ~1e-12 (last-ulp reduction-order
    variance only)."""
    from fink_broker_spark.ext.dedup import embedding_neardup_pairs

    emb = load_table(spark, SF0001, "embeddings")
    blas = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_neardup_pairs(
            emb, threshold=0.45, nblocks=3, reduction="blas"
        ).collect()
    }
    cumsum = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_neardup_pairs(
            emb, threshold=0.45, nblocks=3, reduction="cumsum"
        ).collect()
    }
    assert blas and set(blas) == set(cumsum)
    assert all(abs(blas[k] - cumsum[k]) < 1e-12 for k in blas)


def test_sessionization_twins_agree(spark):
    """The declarative window sessionizer and the grouped-map twin must
    stay value-identical — the imperative form is a surface exercise,
    never an alternative semantics (see SCALING.md)."""
    import __spark_entry__ as em

    a = em.queries()["session_window_lag"](spark, SF0001)
    b = em.queries()["session_applyinpandas"](spark, SF0001)
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb


def test_ivf_kmeans_recall_on_skewed_clusters(spark):
    """Sampled k-means centroids must give high recall on clustered data
    even when the low-id rows all sit in ONE cluster — the case where
    first-n centroid seeding collapses every probe into a single cell."""
    import numpy as np

    from fink_broker_spark.ext.ann import ivf_topk

    rng = np.random.default_rng(7)
    dim, ncl, per = 16, 8, 60
    centers = rng.standard_normal((ncl, dim)) * 10.0
    rows = []
    vid = 0
    # ids assigned cluster-by-cluster: ids 0..59 are all cluster 0
    for ci in range(ncl):
        for _ in range(per):
            v = centers[ci] + rng.standard_normal(dim) * 0.1
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    exact = brute_force_topk(emb, queries, k=5)
    approx = ivf_topk(emb, queries, k=5, nlist=8, nprobe=2)
    exact_set = {(r.query_id, r.vec_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(approx_set & exact_set) / len(exact_set)
    assert recall >= 0.9, f"recall {recall:.3f} < 0.9"


def test_distributed_pca_matches_numpy(spark):
    """Two-phase moment PCA must equal a single-machine numpy PCA:
    identical components (deterministic sign), descending explained
    variance, and bit-close projections regardless of partitioning."""
    import numpy as np

    from fink_broker_spark.ext.pca import fit_pca_model, pca_project

    rng = np.random.default_rng(3)
    basis = rng.standard_normal((8, 8))
    scales = np.array([10.0, 5.0, 2.0, 0.1, 0.1, 0.1, 0.1, 0.1])
    x = rng.standard_normal((500, 8)) * scales @ basis
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)],
        "vec_id bigint, embedding array<double>",
    )
    model = fit_pca_model(df, 3)

    mean = x.mean(axis=0)
    w, v = np.linalg.eigh(np.cov((x - mean).T, bias=True))
    order = np.argsort(w)[::-1][:3]
    ref = v[:, order].T
    for i in range(3):
        j = int(np.argmax(np.abs(ref[i])))
        if ref[i, j] < 0:
            ref[i] = -ref[i]
    assert np.allclose(model["components"], ref, atol=1e-8)
    assert np.all(np.diff(model["explained"]) <= 0)

    proj = pca_project(df.repartition(7), 3, model=model)
    got = {r.vec_id: np.array(r.pca) for r in proj.collect()}
    want = (x - mean) @ ref.T
    assert max(np.abs(got[i] - want[i]).max() for i in range(500)) < 1e-9


def test_pca_rejects_out_of_range_k(spark):
    import pytest

    from fink_broker_spark.ext.pca import fit_pca_model

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [2.0, 1.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError, match="out of range"):
        fit_pca_model(df, k=5)
    with pytest.raises(ValueError, match="out of range"):
        fit_pca_model(df, k=0)


def test_pq_topk_recall_vs_brute_force(spark):
    """IVF-PQ building block: ADC shortlist + exact re-rank must recover
    most of the exact top-k. With refine >= corpus the result must EQUAL
    brute force exactly (the approx stage then only orders the
    shortlist, and the re-rank is exact)."""
    from fink_broker_spark.ext.ann import pq_codebooks, pq_topk

    emb = load_table(spark, SF0001, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    books = pq_codebooks(emb, m=8, ncodes=16, sample_size=500)
    exact = brute_force_topk(emb, queries, k=5)
    exact_set = {(r.query_id, r.vec_id) for r in exact.collect()}

    approx = pq_topk(emb, queries, books, k=5, refine=50)
    approx_set = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(approx_set & exact_set) / len(exact_set)
    assert recall >= 0.6, f"ADC recall {recall:.2f} < 0.6"

    n = emb.count()
    full = pq_topk(emb, queries, books, k=5, refine=n)
    full_set = {(r.query_id, r.vec_id) for r in full.collect()}
    assert full_set == exact_set


def test_pq_encode_shape_and_range(spark):
    from fink_broker_spark.ext.ann import pq_codebooks, pq_encode

    emb = load_table(spark, SF0001, "embeddings")
    books = pq_codebooks(emb, m=8, ncodes=16, sample_size=300)
    row = pq_encode(emb, books).select("pq_code").first()
    assert len(row.pq_code) == 8
    assert all(0 <= c < 16 for c in row.pq_code)


def test_arrow_and_pandas_feature_extraction_agree(spark):
    """mapInArrow twin produces byte-identical features to the
    mapInPandas path (same stub decoder, different Python boundary)."""
    from fink_broker_spark.ext.multimodal import (
        extract_features,
        extract_features_arrow,
        pack_media,
    )

    df = spark.range(100).select(
        F.col("id").alias("media_id"),
        F.encode(
            F.concat(F.lit("payload-"), F.col("id").cast("string")),
            "utf-8",
        ).alias("payload"),
    )
    media = pack_media(df, "media_id", F.col("payload"), "image")
    a = sorted(tuple(r) for r in extract_features(media).collect())
    b = sorted(tuple(r) for r in extract_features_arrow(media).collect())
    assert a == b


def test_semantic_dedup_matches_bruteforce_leader(spark):
    """Exact equivalence: the distributed SemDeDup pass reproduces an
    independent driver-side brute-force of the same greedy leader rule
    (sort by id, keep iff max cosine to kept-set < threshold), given
    the same centroid model."""
    import numpy as np

    from fink_broker_spark.ext.ann import kmeans_centroids
    from fink_broker_spark.ext.semdedup import semantic_dedup

    emb = load_table(spark, SF0001, "embeddings")
    cents = kmeans_centroids(emb, 4, seed=7)
    got = {
        r.vec_id: (r.cluster, r.keep)
        for r in semantic_dedup(emb, threshold=0.9, centroids=cents).collect()
    }

    rows = emb.select("vec_id", "embedding").collect()
    c = np.array(cents)
    by_cluster: dict[int, list[tuple[int, np.ndarray]]] = {}
    for r in rows:
        v = np.asarray(r.embedding, dtype=np.float64)
        cell = int(((c - v) ** 2).sum(axis=1).argmin())
        by_cluster.setdefault(cell, []).append((r.vec_id, v))
    expected: dict[int, tuple[int, bool]] = {}
    for cell, members in by_cluster.items():
        kept: list[np.ndarray] = []
        for vid, v in sorted(members, key=lambda t: t[0]):
            n = np.linalg.norm(v) or 1.0
            vn = v / n
            ok = all(float(k @ vn) < 0.9 for k in kept)
            if ok:
                kept.append(vn)
            expected[vid] = (cell, ok)
    assert got == expected
    # structural invariants: kept items pairwise < thr within a cluster
    for cell, members in by_cluster.items():
        keptv = [
            v / (np.linalg.norm(v) or 1.0)
            for vid, v in members
            if got[vid][1]
        ]
        for i in range(len(keptv)):
            for j in range(i + 1, len(keptv)):
                assert float(keptv[i] @ keptv[j]) < 0.9


def test_semantic_dedup_chunked_bounds_group_size(spark):
    """chunks>1 splits clusters deterministically; every id keeps a
    decision, kept set is a superset (chunking only *misses* cross-chunk
    duplicates, never drops extra)."""
    from fink_broker_spark.ext.ann import kmeans_centroids
    from fink_broker_spark.ext.semdedup import semantic_dedup

    emb = load_table(spark, SF0001, "embeddings")
    cents = kmeans_centroids(emb, 4, seed=7)
    whole = semantic_dedup(emb, threshold=0.9, centroids=cents)
    chunked = semantic_dedup(emb, threshold=0.9, centroids=cents, chunks=3)
    w = {r.vec_id: r.keep for r in whole.collect()}
    ch = {r.vec_id: r.keep for r in chunked.collect()}
    assert set(w) == set(ch)
    kept_whole = {k for k, v in w.items() if v}
    kept_chunk = {k for k, v in ch.items() if v}
    assert kept_whole <= kept_chunk


def test_grouped_agg_udaf_in_window(spark):
    """The GROUPED_AGG UDAF also works as a window aggregate (unbounded
    frame) — same value replicated to every row of the partition, equal
    to the groupBy form."""
    from pyspark.sql import Window

    from fink_broker_spark.functions.udaf import weighted_mean_price

    li = load_table(spark, SF0001, "lineitem").limit(500)
    w = Window.partitionBy("l_returnflag")
    windowed = li.select(
        "l_returnflag",
        weighted_mean_price("l_extendedprice", "l_quantity")
        .over(w)
        .alias("wavg"),
    ).distinct()
    grouped = li.groupBy("l_returnflag").agg(
        weighted_mean_price("l_extendedprice", "l_quantity").alias("wavg")
    )
    got = {r.l_returnflag: r.wavg for r in windowed.collect()}
    exp = {r.l_returnflag: r.wavg for r in grouped.collect()}
    assert got == exp  # exact-integer UDAF → bitwise equality holds


def test_dup_span_coverage_shared_vs_unique(spark):
    """A 10-token span copied across two docs marks exactly those
    windows; a fully unique doc scores zero coverage."""
    from fink_broker_spark.ext.dedup import dup_span_coverage

    shared = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [
            (1, shared + " tail1a tail1b"),
            (2, "head2a head2b " + shared),
            (3, "all unique words nothing in common with others at all x"),
            (4, "short doc"),  # < 10 tokens: no windows, excluded
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dup_span_coverage(docs, n=10).collect()}
    assert set(out) == {1, 2, 3}
    # doc1: 3 windows, only the pure shared one also lives in doc2
    assert out[1].n_windows == 3 and out[1].n_dup_windows == 1
    assert out[2].n_windows == 3 and out[2].n_dup_windows == 1
    assert out[3].n_dup_windows == 0 and out[3].coverage == 0.0


def test_triangle_regimes_agree_and_plan_differs(spark):
    """Both physical regimes of the triangle closure return identical
    rows; the broadcast regime's plan broadcasts the edge set while the
    merge regime runs shuffled sort-merge joins (the 100 TB path)."""
    from fink_broker_spark.ext.graph import triangle_closure, triangle_counts

    edges = spark.createDataFrame(
        # two triangles (1,2,3) and (2,3,4), plus a dangling edge
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 9)],
        "u long, v long",
    )
    rows_b = sorted(map(tuple, triangle_closure(edges, "broadcast").collect()))
    rows_m = sorted(map(tuple, triangle_closure(edges, "merge").collect()))
    assert rows_b == rows_m == [(1, 2, 3), (2, 3, 4)]

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "BroadcastHashJoin" in plan(triangle_closure(edges, "broadcast"))
    merge_plan = plan(triangle_closure(edges, "merge"))
    assert "SortMergeJoin" in merge_plan
    assert "BroadcastHashJoin" not in merge_plan
    # auto = no hints: AQE re-plans from TRUE runtime sizes and converts
    # to broadcast on this tiny edge set (a static Catalyst-stats gate
    # would see a pessimistic join-product estimate and never broadcast)
    auto_df = triangle_closure(edges, "auto")
    auto_df.collect()
    assert "BroadcastHashJoin" in plan(auto_df)
    # counts rollup: per-anchor rows + NULL grand total
    counts = {
        r.a: r.n_triangles for r in triangle_counts(edges, "merge").collect()
    }
    assert counts == {1: 1, 2: 1, None: 2}


def test_grouped_percentiles_size_gate(spark):
    """The auto gate picks exact below the byte threshold and swaps to
    percentile_approx above it (bounded, mergeable per-group state);
    both paths agree on this input within sketch accuracy."""
    from fink_broker_spark.archive.statistics import grouped_percentiles

    df = spark.range(1000).select(
        (F.col("id") % 2).alias("g"), F.col("id").cast("double").alias("x")
    )
    specs = {"p50": ("x", 0.5), "p90": ("x", 0.9)}
    exact = grouped_percentiles(df, ["g"], specs, mode="auto",
                                exact_max_bytes=1 << 40)
    approx = grouped_percentiles(df, ["g"], specs, mode="auto",
                                 exact_max_bytes=1)

    def plan(d):
        return d._jdf.queryExecution().executedPlan().toString()

    assert "percentile_approx" not in plan(exact).lower()
    assert "percentile_approx" in plan(approx).lower()
    e = {r.g: (r.p50, r.p90) for r in exact.collect()}
    a = {r.g: (r.p50, r.p90) for r in approx.collect()}
    for g in e:
        assert a[g][0] == pytest.approx(e[g][0], abs=2.0)
        assert a[g][1] == pytest.approx(e[g][1], abs=2.0)


def test_pagerank_fixedpoint_conservation_and_determinism(spark):
    """Integer fixed-point PageRank: rank mass stays ≤ UNIT (truncating
    DIV only loses mass, never creates it), high-degree hubs outrank
    leaves, and two runs are bit-identical (the whole point of the
    fixed-point formulation)."""
    from fink_broker_spark.ext.graph import PAGERANK_UNIT, pagerank_fixedpoint

    edges = spark.createDataFrame(
        # star around 1 plus a 2-3-4 triangle: 1 is the hub
        [(1, 2), (1, 3), (1, 4), (1, 5), (2, 3), (2, 4), (3, 4)],
        "u long, v long",
    )
    r1 = {r.node: r.rank_units for r in pagerank_fixedpoint(edges, 3).collect()}
    r2 = {r.node: r.rank_units for r in pagerank_fixedpoint(edges, 3).collect()}
    assert r1 == r2
    assert sum(r1.values()) <= PAGERANK_UNIT
    # damping keeps every rank at least the teleport floor
    assert all(v >= (15 * PAGERANK_UNIT // 100) // len(r1) for v in r1.values())
    assert r1[1] == max(r1.values())
    assert r1[5] == min(r1.values())


def test_khop_reach_counts(spark):
    """2-hop reach on a path graph 1-2-3-4-5: middle node sees all
    others within 2 hops; endpoints see exactly two."""
    from fink_broker_spark.ext.graph import khop_reach

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "u long, v long"
    )
    got = {r.node: (r.n_1hop, r.n_2hop) for r in khop_reach(edges).collect()}
    assert got[3] == (2, 4)
    assert got[1] == (1, 2)
    assert got[5] == (1, 2)
    assert got[2] == (2, 3)


def test_exact_substring_remove_semantics(spark):
    """The remove half drops exactly the covered positions: a copied
    10-token span is excised from both docs, unique text is untouched
    (absent from the output), and the cleaned digest equals md5 of the
    space-joined survivors."""
    import hashlib

    from fink_broker_spark.ext.dedup import exact_substring_remove

    shared = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [
            (1, shared + " tail1a tail1b"),
            (2, "head2a head2b " + shared),
            (3, "all unique words nothing in common with others at all x"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in exact_substring_remove(docs, n=10).collect()}
    # doc 3 has no dup windows -> no removals -> excluded
    assert set(out) == {1, 2}
    # doc 1: positions 1-10 covered, tails survive
    assert out[1].n_tokens == 12 and out[1].n_removed == 10
    assert (
        out[1].clean_hash
        == hashlib.md5(b"tail1a tail1b").hexdigest()
    )
    # doc 2: heads survive, span at positions 3-12 removed
    assert out[2].n_removed == 10
    assert (
        out[2].clean_hash
        == hashlib.md5(b"head2a head2b").hexdigest()
    )


def test_exact_substring_remove_full_doc(spark):
    """A doc that is ENTIRELY a duplicated span cleans to the empty
    string (md5('') — the concat_ws/COALESCE empty-survivor contract)."""
    import hashlib

    from fink_broker_spark.ext.dedup import exact_substring_remove

    shared = "a b c d e f g h i j"
    docs = spark.createDataFrame(
        [(1, shared), (2, shared + " extra")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in exact_substring_remove(docs, n=10).collect()}
    assert out[1].n_removed == 10
    assert out[1].clean_hash == hashlib.md5(b"").hexdigest()


def test_ppjoin_prefix_filter_is_complete(spark, tmp_path):
    """The prefix filter loses NO qualifying pair: brute-force token-set
    Jaccard >= 0.5 pairs on a small synthetic corpus equal the real
    operator's output driven end-to-end through a temp lake."""
    import itertools

    from fink_broker_spark.queries.dedup import q_ppjoin_neardup

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    docs = [
        (1, base),                       # 8 shingles
        (2, base + " extra"),            # superset: jac 8/9 >= 0.8
        (3, "a b c d e f"),              # 4 shingles, far from others
        (4, "a b c d e g"),              # jac 3/5 — below the bar
        (5, "totally different text with many other words here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r.da, r.db): r.n_shared
        for r in q_ppjoin_neardup(spark, str(tmp_path)).collect()
    }

    def shingles(text):
        w = text.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sets = {i: shingles(t) for i, t in docs}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter and 5 * inter >= 4 * (len(sets[a]) + len(sets[b]) - inter):
            want[(a, b)] = inter
    assert got == want == {(1, 2): 8}


# -- round-7 additions: link prediction / neighbor features / neg sampling --


def test_link_prediction_hand_graph(spark):
    """Kite graph: edges (1,2),(1,3),(2,3),(2,4),(3,4) — the only
    unlinked pair is (1,4) with common neighbors {2,3} (deg 3 each),
    so CN = 2 and RA = 2 · (10^9 div 3)."""
    from fink_broker_spark.ext.graph import link_prediction

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)], "u long, v long"
    )
    got = {(r.a, r.b): r for r in link_prediction(edges, k=10).collect()}
    assert set(got) == {(1, 4)}
    assert got[(1, 4)].common_neighbors == 2
    assert got[(1, 4)].ra_scaled9 == 2 * (10**9 // 3)


def test_link_prediction_hub_prune_and_existing_edges(spark):
    """A star hub above max_degree routes no wedges (the scale guard),
    and already-linked pairs never appear as candidates."""
    from fink_broker_spark.ext.graph import link_prediction

    # hub 0 connects 1..5 (deg 5); pair (1,2) also directly linked
    star = [(0, i) for i in range(1, 6)] + [(1, 2)]
    edges = spark.createDataFrame(star, "u long, v long")
    # cap below the hub degree: only middle nodes 1 and 2 (deg 2) can
    # route wedges → candidates are (0-side pairs via 1/2) minus edges
    got = {(r.a, r.b) for r in
           link_prediction(edges, k=100, max_degree=2).collect()}
    # wedges through 1: (0,2)? 0-1-2 gives pair (0,2) but 0-2 is an
    # edge; through 2: (0,1) is an edge too — nothing survives
    assert got == set()
    # with the hub admitted, all non-adjacent spoke pairs appear
    got2 = {(r.a, r.b) for r in
            link_prediction(edges, k=100, max_degree=10).collect()}
    assert (3, 4) in got2 and (1, 2) not in got2 and (0, 1) not in got2


def test_neighbor_feature_agg_hand_graph(spark):
    """Path 1-2-3 with feats 10/20/30: checks 1-hop sums and that
    2-hop walks exclude the self-return (1-2-1)."""
    from fink_broker_spark.ext.graph import neighbor_feature_agg

    edges = spark.createDataFrame([(1, 2), (2, 3)], "u long, v long")
    feats = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "node long, feat long"
    )
    rows = {r.node: r for r in
            neighbor_feature_agg(edges, feats).collect()}
    assert rows[1].h1_sum == 20 and rows[1].h1_n == 1
    assert rows[2].h1_sum == 40 and rows[2].h1_n == 2
    assert rows[3].h1_sum == 20 and rows[3].h1_n == 1
    # 2-hop: 1→2→3 only (1→2→1 excluded); 2 has no non-returning walk
    assert rows[1].h2_sum == 30 and rows[1].h2_n == 1
    assert rows[2].h2_sum == 0 and rows[2].h2_n == 0
    assert rows[3].h2_sum == 10 and rows[3].h2_n == 1
    # fixed-point means: (sum · 10^4) div n
    assert rows[2].h1_mean_scaled == 40 * 10_000 // 2
    assert rows[2].h2_mean_scaled == 0


def test_negative_sampling_contract(spark):
    """Determinism, per-anchor bound k, cross-group-only, no self."""
    from fink_broker_spark.ext.pipeline import negative_sampling

    docs = spark.createDataFrame(
        [(i, "web" if i % 3 else "books") for i in range(60)],
        "doc_id long, source string",
    )
    a = sorted(map(tuple, negative_sampling(docs, k=3, n_buckets=4).collect()))
    b = sorted(map(tuple, negative_sampling(docs, k=3, n_buckets=4).collect()))
    assert a == b and a  # deterministic and non-empty
    by_anchor: dict = {}
    src = {i: ("web" if i % 3 else "books") for i in range(60)}
    for anchor, neg, rnk in a:
        assert anchor != neg
        assert src[anchor] != src[neg]
        by_anchor.setdefault(anchor, []).append(rnk)
    for rnks in by_anchor.values():
        assert sorted(rnks) == list(range(1, len(rnks) + 1))
        assert len(rnks) <= 3


def test_md5_bucket_expr_range_and_salt(spark):
    from fink_broker_spark.ext.pipeline import md5_bucket_expr

    df = spark.range(500).select(
        md5_bucket_expr("id", buckets=8, salt="a").alias("ba"),
        md5_bucket_expr("id", buckets=8, salt="b").alias("bb"),
    )
    rows = df.collect()
    assert all(0 <= r.ba < 8 and 0 <= r.bb < 8 for r in rows)
    # different salts decorrelate: the two bucketings must disagree
    # on a healthy fraction of keys
    assert sum(r.ba != r.bb for r in rows) > 300


def test_interval_coverage_touching_intervals_merge(spark, tmp_path):
    """Half-open [a,b) + [b,c) are contiguous: ONE island, no double
    count (r7 review finding — the first cut used <= and split them)."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fink_broker_spark.queries.events import q_interval_coverage

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    # event_id 1 → 2-minute interval; event_id 2 → 3 minutes, starting
    # exactly at the first interval's end
    rows = [
        (1, 7, t0),
        (2, 7, t0 + datetime.timedelta(minutes=2)),
        # second user: a real gap → two islands
        (3, 8, t0),
        (4, 8, t0 + datetime.timedelta(hours=12)),
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
        }
    )
    pq.write_table(table, os.path.join(tmp_path, "events.parquet"))
    got = {
        r.user_id: r
        for r in q_interval_coverage(spark, str(tmp_path)).collect()
    }
    assert got[7].n_islands == 1
    assert got[7].covered_us == 5 * 60_000_000  # 2 + 3 min, no overlap
    assert got[8].n_islands == 2
    assert got[8].covered_us == (4 + 5) * 60_000_000


def test_cogroup_asof_edges(spark, tmp_path):
    """CoGrouped-map as-of alignment: a user with orders but no events
    emits zero matches; a user with events but no orders emits NO row
    (oracle is orders-driven); ties at the exact order instant match
    (<=); the pre-collapse keeps the max cent value per (user, ts)."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fink_broker_spark.queries.relational import q_cogroup_asof

    t = datetime.datetime(2024, 3, 1)
    m = datetime.timedelta(minutes=1)
    orders = [
        (1, 10, t + 5 * m),   # after both events of user 10
        (2, 10, t - 5 * m),   # before every event: no match
        (3, 11, t),           # user with NO events
        (4, 12, t),           # exact-tie with user 12's event
        (5, 10, t + 1 * m),   # as-of pick IS the duplicated instant t:
                              # must see the MAX collapse (200 cents)
    ]
    events = [
        (10, t, 1.00),
        (10, t, 2.00),        # same µs: collapse keeps max (200 cents)
        (10, t + 2 * m, 7.25),
        (12, t, 3.10),        # equal to order 4's instant: matches
        (99, t, 9.99),        # user with no orders: no output row
    ]
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array([o[0] for o in orders], pa.int64()),
            "o_custkey": pa.array([o[1] for o in orders], pa.int64()),
            "o_orderdate": pa.array([o[2] for o in orders],
                                    pa.timestamp("us")),
        }),
        os.path.join(tmp_path, "orders.parquet"),
    )
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(1, len(events) + 1), pa.int64()),
            "user_id": pa.array([e[0] for e in events], pa.int64()),
            "ts": pa.array([e[1] for e in events], pa.timestamp("us")),
            "value": pa.array([e[2] for e in events], pa.float64()),
        }),
        os.path.join(tmp_path, "events.parquet"),
    )
    got = {r.user_id: r for r in
           q_cogroup_asof(spark, str(tmp_path)).collect()}
    assert set(got) == {10, 11, 12}
    # user 10: order 1 matches the t+2m event (725); order 2 no match;
    # order 5's as-of pick is the duplicated instant t, whose collapse
    # must keep the MAX value (200 cents, not 100)
    assert got[10].n_orders == 3 and got[10].n_matched == 2
    assert got[10].sum_matched_cents == 725 + 200
    # user 11: orders but zero events
    assert got[11].n_orders == 1 and got[11].n_matched == 0
    assert got[11].sum_matched_cents == 0
    # user 12: exact-instant tie matches; collapse picked max at same µs
    assert got[12].n_matched == 1 and got[12].sum_matched_cents == 310


def test_stream_static_enrich_equals_batch(spark):
    """The streaming join+aggregate must equal the same plan run as a
    plain batch query over the same lake (the stream ≡ batch invariant
    across a stream-static join)."""
    from fink_broker_spark.queries.stream import q_stream_static_enrich
    from fink_broker_spark.sources.parquet import load_table
    from tests.conftest import SF0001

    streamed = {
        r.segment: (r.n_events, r.value_cents)
        for r in q_stream_static_enrich(spark, SF0001).collect()
    }
    ev = load_table(spark, SF0001, "events")
    cu = load_table(spark, SF0001, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    batch = {
        r.segment: (r.n_events, r.value_cents)
        for r in ev.join(F.broadcast(cu), "user_id")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value").cast("double") * 100 + F.lit(0.5))
                .cast("long")
            ).alias("value_cents"),
        )
        .collect()
    }
    assert streamed == batch and streamed


def test_ann_empty_query_set_returns_empty(spark):
    """An empty query set (driftlab sparse layout) must return an empty
    frame with the standard top-k schema, not explode on 1-D numpy
    arrays (r7 sparse-sweep finding)."""
    from fink_broker_spark.ext.ann import (
        brute_force_topk_kernel,
        pq_codebooks,
        pq_topk,
    )

    emb = load_table(spark, SF0001, "embeddings")
    none = emb.filter(F.col("vec_id") < 0)
    got = brute_force_topk_kernel(emb, none, k=5)
    assert got.count() == 0
    assert set(got.columns) == {"query_id", "vec_id", "cosine", "rank"}
    books = pq_codebooks(emb, m=8, ncodes=16, sample_size=200)
    got2 = pq_topk(emb, none, books, k=5, refine=20)
    assert got2.count() == 0
    assert set(got2.columns) == {"query_id", "vec_id", "cosine", "rank"}
