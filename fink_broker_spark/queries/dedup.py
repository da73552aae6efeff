"""Document and embedding deduplication queries: exact, Jaccard,
MinHash/SimHash LSH, PPJoin, substring and semantic dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fink_broker_spark.ext.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_lsh_pairs_portable,
    simhash_pairs,
    simhash_pairs_portable,
)
from fink_broker_spark.functions.text import (
    fingerprint_expr,
    quality_score_expr,
    tokens_expr,
)
from fink_broker_spark.plans.materialize import materialize, materialize_many
from fink_broker_spark.plans.partitioning import ensure_keyed_parallelism
from fink_broker_spark.queries.registry import query
from fink_broker_spark.sources.parquet import load_table


ORACLE_EMBEDDING_NEARDUP = """
WITH n AS (
  -- well-formed domain, mirroring the engine's well_formed_vectors
  -- (embedding_neardup_pairs filters): NULL cosines fell out of the
  -- >= threshold symmetrically, but NaN >= 0.45 is TRUE on both
  -- engines (NaN compares greatest) while the engine now drops the
  -- vector (nanemb driftlab layout, r10)
  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e,
         sqrt(list_reduce([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding],
                          (a, b) -> a + b)) AS nrm
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding,
                        x -> x IS NULL OR NOT isfinite(x))) = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_reduce([a.e[i] * b.e[i] FOR i IN range(1, len(a.e) + 1)],
                   (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
FROM n a, n b
WHERE a.vec_id < b.vec_id
  AND list_reduce([a.e[i] * b.e[i] FOR i IN range(1, len(a.e) + 1)],
                  (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.45
"""


@query("embedding_neardup", oracle=ORACLE_EMBEDDING_NEARDUP)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise cosine near-dup (embedding dedup baseline).

    ``reduction="cumsum"`` pins sequential IEEE reductions so the cosine
    doubles hash-match the DuckDB oracle bit-for-bit; production runs
    the BLAS default (same pair set, last-ulp cosine variance)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, threshold=0.45, reduction="cumsum")


ORACLE_DOC_FINGERPRINT = r"""
SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint,
       min(doc_id) AS keep_id, count(*) AS dup_count
FROM documents
GROUP BY 1
"""


@query("doc_fingerprint", oracle=ORACLE_DOC_FINGERPRINT)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash exact dedup (md5 of normalized text, keep-min-id)."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs)


ORACLE_JACCARD_NEARDUP = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM tok, range(1, 100000) t(i) WHERE i <= len(toks) - 2
), sizes AS (
  SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, inter, sa.nsh AS nsh_a, sb.nsh AS nsh_b,
       CAST(inter AS DOUBLE) / CAST(sa.nsh + sb.nsh - inter AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(inter AS DOUBLE) / CAST(sa.nsh + sb.nsh - inter AS DOUBLE) >= 0.8
"""


@query("jaccard_neardup", oracle=ORACLE_JACCARD_NEARDUP)
def q_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-shingle Jaccard near-dup pairs (threshold 0.8)."""
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, threshold=0.8, n=3)


@query(
    "minhash_lsh_neardup",
    rows_only="engine-specific signature hash (xxhash64); recall against exact Jaccard is asserted in the tests",
)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup (banding). Signature hashing is engine-specific
    (xxhash64), so no SQL oracle — the pytest suite checks it against the
    exact-Jaccard result instead (recall/precision contract)."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, num_hashes=32, nbands=8, n=3, threshold=0.8)


@query(
    "simhash_neardup",
    rows_only="engine-specific hash; overlap with the exact Jaccard pairs is asserted in the tests",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-ball near-dup pairs (engine-specific hash → no SQL
    oracle; pytest checks overlap with exact Jaccard pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=3, n=2)


def _oracle_minhash_lsh_portable(
    num_hashes: int = 16, nbands: int = 4, threshold: float = 0.5
) -> str:
    """DuckDB twin of :func:`minhash_lsh_pairs_portable` — the 16 MIN
    aggregates (affine Carter–Wegman family over the two 40-bit halves
    of one md5 per shingle) and 4 band hashes are generated from the
    same parameters the Spark plan uses, so the two sides cannot drift
    independently."""
    from fink_broker_spark.ext.dedup import MINHASH_PRIME

    rpb = num_hashes // nbands
    mins = ",\n         ".join(
        f"MIN((a + {i} * b) % {MINHASH_PRIME}) AS h{i}"
        for i in range(num_hashes)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band,\n"
        "         CAST('0x' || substr(md5({concat}), 1, 15) AS BIGINT)"
        " AS bhash\n  FROM sig".format(
            b=b,
            concat=" || '#' || ".join(
                f"CAST(h{i} AS VARCHAR)"
                for i in range(b * rpb, (b + 1) * rpb)
            ),
        )
        for b in range(nbands)
    )
    return rf"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM tok, range(1, 100000) t(i) WHERE i <= len(toks) - 2
), seeds AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(shingle), 1, 10) AS BIGINT) AS a,
         CAST('0x' || substr(md5(shingle), 11, 10) AS BIGINT) AS b
  FROM sh
), sig AS (
  SELECT doc_id,
         {mins}
  FROM seeds GROUP BY doc_id
), bt AS (
{band_rows}
), cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM bt x JOIN bt y ON x.band = y.band AND x.bhash = y.bhash
  WHERE x.doc_id < y.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b,
       CAST(i.inter AS DOUBLE)
         / CAST(sa.nsh + sb.nsh - i.inter AS DOUBLE) AS jaccard
FROM cand c
JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE CAST(i.inter AS DOUBLE)
        / CAST(sa.nsh + sb.nsh - i.inter AS DOUBLE) >= {threshold}
"""


def _oracle_simhash_portable(
    nbits: int = 32, nbands: int = 4, max_hamming: int = 3
) -> str:
    """DuckDB twin of :func:`simhash_pairs_portable` — 32 bit-vote SUMs,
    the power-of-two recombination, and the band split are generated from
    the same parameters as the Spark plan."""
    band_bits = nbits // nbands
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(nbits)
    )
    recombine = "\n           + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for b in range(nbits)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {b} AS band,"
        f" (simhash >> {b * band_bits}) & {(1 << band_bits) - 1} AS bkey"
        "\n  FROM sig"
        for b in range(nbands)
    )
    return rf"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+1], ' ') AS shingle
  FROM tok, range(1, 100000) t(i) WHERE i <= len(toks) - 1
), h AS (
  SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS h
  FROM sh
), v AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id
), sig AS (
  SELECT doc_id,
         {recombine} AS simhash
  FROM v
), bt AS (
{band_rows}
)
SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
FROM bt x JOIN bt y ON x.band = y.band AND x.bkey = y.bkey
WHERE x.doc_id < y.doc_id
  AND bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}
"""


ORACLE_MINHASH_LSH_PORTABLE = _oracle_minhash_lsh_portable()


@query("minhash_lsh_portable", oracle=ORACLE_MINHASH_LSH_PORTABLE)
def q_minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH banding with the md5-portable hash family — the
    exact-value-oracled twin of ``minhash_lsh_neardup`` (whose xxhash64
    signatures cannot be replayed in ANSI SQL).  Same pipeline shape:
    16-min signature, 4 bands of 4, band-bucket candidate join, exact
    Jaccard ≥ 0.5 verification; the DuckDB oracle re-derives the same
    hash bits, so banding semantics (not just row counts) sit under the
    correctness gate."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs_portable(
        docs, num_hashes=16, nbands=4, n=3, threshold=0.5
    )


ORACLE_SIMHASH_PORTABLE = _oracle_simhash_portable()


@query("simhash_portable", oracle=ORACLE_SIMHASH_PORTABLE)
def q_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-ball pairs with the md5-portable 32-bit signature —
    the exact-value-oracled twin of ``simhash_neardup``.  Pigeonhole
    banding (4 bands of 8 bits, max hamming 3 < 4 bands → exact recall),
    hamming via ``bit_count(xor)`` on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs_portable(
        docs, max_hamming=3, nbits=32, nbands=4, n=2
    )


ORACLE_DEDUP_GROUPS = r"""
WITH RECURSIVE tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM tok, range(1, 100000) t(i) WHERE i <= len(toks) - 2
), sizes AS (
  SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), p AS (
  SELECT id_a, id_b
  FROM inter JOIN sizes sa ON sa.doc_id = id_a
             JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(inter AS DOUBLE) / CAST(sa.nsh + sb.nsh - inter AS DOUBLE) >= 0.8
), edges AS (
  SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p
), nodes AS (SELECT DISTINCT a AS id FROM edges),
r(a, b) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a
)
SELECT a AS id, MIN(b) AS component FROM r GROUP BY a
"""


@query("dedup_groups", oracle=ORACLE_DEDUP_GROUPS)
def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *groups*: connected components over the exact Jaccard
    pair list. Small pair sets are labelled by union-find on the
    driver; only larger ones run the distributed min-label loop (each
    round = equi-join + groupBy min), see ``ext.dedup.dedup_groups``.
    The keeper of each group is its min id — the component label.
    Oracle: recursive-CTE transitive closure over the same pairs."""
    from fink_broker_spark.ext.dedup import dedup_groups

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.8, n=3)
    return dedup_groups(pairs)


ORACLE_LINE_DEDUP = r"""
WITH staged AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents WHERE length(trim(lower(text))) > 0
),
lines AS (
  SELECT doc_id, i AS line_idx,
         array_to_string(toks[i*10+1 : i*10+10], ' ') AS line
  FROM staged,
       LATERAL (SELECT unnest(generate_series(0,
                  CAST(floor((len(toks)-1)/10) AS INT))) AS i)
  WHERE length(array_to_string(toks[i*10+1 : i*10+10], ' ')) > 0
),
marked AS (
  SELECT doc_id, line_idx,
         ROW_NUMBER() OVER (PARTITION BY line
                            ORDER BY doc_id, line_idx) = 1 AS keep
  FROM lines
)
SELECT doc_id,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_lines,
       CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS dropped_lines
FROM marked
GROUP BY doc_id
"""


@query("line_dedup", oracle=ORACLE_LINE_DEDUP)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level exact dedup: cut every document into
    consecutive 10-token lines, hash each line, keep only the globally
    FIRST occurrence (min ``(doc_id, line_idx)`` per hash), and report
    per-document kept/dropped line counts — the passage-granularity
    dedup that document-level fingerprints miss.

    Scale: one explode (lines ∝ tokens), one shuffle on the line hash
    for the first-occurrence window, one aggregate back to documents.
    The window per hash is bounded by that line's duplicate count;
    skewed boilerplate lines are exactly the rows AQE's skew handling
    splits."""
    docs = load_table(spark, sf_dir, "documents")
    from fink_broker_spark.functions.text import tokens_expr

    staged = docs.select("doc_id", tokens_expr("text").alias("toks"))
    lines = staged.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.floor((F.size("toks") - 1) / 10).cast("int"),
                ),
                lambda i: F.concat_ws(
                    " ", F.slice("toks", i * 10 + 1, 10)
                ),
            )
        ).alias("line_idx", "line"),
    ).filter(F.length("line") > 0)
    w = Window.partitionBy("line").orderBy("doc_id", "line_idx")
    marked = lines.select(
        "doc_id",
        "line_idx",
        (F.row_number().over(w) == 1).alias("keep"),
    )
    return marked.groupBy("doc_id").agg(
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("kept_lines"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1))
        .cast("bigint")
        .alias("dropped_lines"),
    )


ORACLE_DEDUP_KEEP_BEST = r"""
WITH t AS (
  SELECT doc_id, text,
         md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
         CASE WHEN length(trim(lower(text))) = 0 THEN 0
              ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS n_tokens,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
                   / CAST(length(text) AS DOUBLE) END AS punct_ratio,
         len(regexp_extract_all(lower(text),
             '\b(the|a|an|and|or|of|to|in|is|it|on|for)\b')) AS stop_hits
  FROM documents WHERE text IS NOT NULL
),
staged AS (
  -- DISTINCT: re-ingested duplicate rows are one document (duprows)
  SELECT DISTINCT doc_id, fp,
         0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
         + 0.3 * (1.0 - punct_ratio)
         + 0.3 * least(1.0, (CASE WHEN n_tokens = 0 THEN 0.0
                     ELSE CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) END)
                     * 5.0) AS q
  FROM t
),
ranked AS (
  SELECT fp, doc_id, q,
         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY q DESC, doc_id) AS rn
  FROM staged
)
-- aggregate over ranked DIRECTLY (ranked ≡ staged row-for-row): the
-- old JOIN back to staged on (fp, doc_id) fanned out quadratically
-- when a drifted re-ingest kept the same (doc_id, fp) with two
-- distinct q values (whitespace-only body change: identical collapsed
-- fingerprint, different raw punct_ratio) — r8 code-review finding
SELECT fp, count(*) AS copies,
       max(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
       max(q) AS best_quality
FROM ranked
GROUP BY fp
"""


@query("dedup_keep_best", oracle=ORACLE_DEDUP_KEEP_BEST)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: group exact duplicates by content
    fingerprint and keep the highest-quality copy (quality score from
    ``functions/text.py``; doc_id breaks ties deterministically) — the
    policy step after dedup detection: WHICH copy survives.

    One hash shuffle on the fingerprint; ``max_by`` over a struct
    (score, -doc_id) picks the argmax inside the aggregate — no window,
    no second scan. The score is the same deterministic per-row double
    both engines compute from mirrored op trees (the
    ``text_quality`` parity discipline), so comparisons and ``max``
    agree bit-for-bit."""
    # NULL text has no fingerprint and no quality — excluded on both
    # sides (a NULL q inside the max_by struct would compare by
    # engine-specific NULL rules — driftlab nullmeasure)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    from fink_broker_spark.functions.text import (
        fingerprint_expr,
        quality_score_expr,
    )

    staged = docs.select(
        "doc_id",
        fingerprint_expr("text").alias("fp"),
        quality_score_expr("text").alias("q"),
    ).dropDuplicates(["fp", "doc_id", "q"])
    # dropDuplicates on the SAME tuple the oracle's DISTINCT keeps
    # (doc_id, fp, q): a re-ingested duplicate ROW
    # (duprows driftlab, at-least-once delivery) is the same document,
    # and a drifted re-ingest that changes q for the same (doc, fp)
    # keeps both rows on both engines instead of an arbitrary survivor
    return staged.groupBy("fp").agg(
        F.count(F.lit(1)).alias("copies"),
        F.max_by(
            "doc_id", F.struct(F.col("q"), (-F.col("doc_id")).alias("nid"))
        ).alias("keep_id"),
        F.max("q").alias("best_quality"),
    )


@query(
    "semantic_dedup",
    rows_only="the k-means fit is not ANSI-expressible; the keep rule is asserted in tests/test_ext.py",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (``ext/semdedup.py``): k-means
    cells assigned by a scan-side centroid expression, greedy
    cosine-leader keep/drop inside each cell via one ``applyInPandas``
    shuffle. Result: per-cluster dedup accounting plus the global
    keep total (stable output shape for the rows-only driver check;
    exact per-id equivalence against an independent brute-force of the
    keep rule is asserted in ``tests/test_ext.py``).

    Rows-only by design: the k-means model fit (sampled Lloyd) is not
    ANSI-expressible, so no DuckDB oracle exists for the cluster
    labels. This mirrors ``ivf_ann_topk``'s whitelisting; the
    cell-bucketed dedup SEMANTICS are pinned exact-value by the
    ``semantic_dedup_portable`` twin (md5-first cells, integer-cosine
    pairwise drop rule).
    """
    from fink_broker_spark.ext.ann import EmptyCorpusError
    from fink_broker_spark.ext.semdedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    try:
        flags = semantic_dedup(emb, threshold=0.95, nlist=8, seed=42)
    except EmptyCorpusError:
        # empty lake: nothing to cluster (emptystream)
        return spark.createDataFrame(
            [], "cluster int, n_items long, n_kept long"
        )
    return flags.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
    )


ORACLE_DUP_SPAN_COVERAGE = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents WHERE length(trim(lower(text))) > 0
),
w AS (
  SELECT doc_id,
         md5(array_to_string(toks[i:i+9], ' ')) AS w
  FROM tok, UNNEST(range(1, greatest(len(toks) - 10 + 2, 1))) AS t(i)
),
freq AS (SELECT w, count(DISTINCT doc_id) AS ndocs FROM w GROUP BY w),
cov AS (
  SELECT doc_id, count(*) AS n_windows,
         count(*) FILTER (WHERE ndocs >= 2) AS n_dup_windows
  FROM w JOIN freq USING (w)
  GROUP BY doc_id
)
SELECT doc_id, n_windows, n_dup_windows,
       CAST(n_dup_windows AS DOUBLE)
           / CAST(n_windows AS DOUBLE) AS coverage
FROM cov
ORDER BY coverage DESC, doc_id
LIMIT 50
"""


@query("dup_span_coverage", oracle=ORACLE_DUP_SPAN_COVERAGE)
def q_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span coverage per document (``ext/dedup.py:
    dup_span_coverage``): fraction of each doc's sliding 10-token
    windows appearing verbatim in at least one other document — the
    detection half of exact-substring dedup (Lee et al. 2022) as a
    corpus-wide window-frequency aggregate (suffix-array-free). Window
    digests are md5 (cross-engine bit-identical); explode ∝ tokens,
    then one digest shuffle + one per-doc re-aggregate. Returns the 50
    most-covered docs (TakeOrdered)."""
    from fink_broker_spark.ext.dedup import dup_span_coverage

    docs = load_table(spark, sf_dir, "documents")
    cov = dup_span_coverage(docs, n=10)
    return cov.orderBy(
        F.col("coverage").desc(), F.col("doc_id")
    ).limit(50)


ORACLE_CROSS_SOURCE_DUPS = """
WITH fp AS (
  SELECT DISTINCT md5(text) AS fp, source FROM documents
)
SELECT a.source AS sa, b.source AS sb, count(*) AS n_shared_texts
FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
GROUP BY 1, 2
"""


@query("cross_source_dups", oracle=ORACLE_CROSS_SOURCE_DUPS)
def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: how many EXACT duplicate
    texts (md5 fingerprints) each pair of sources shares — the
    dedup-family diagnostic that tells a corpus curator which sources
    copy from each other. Per-fingerprint distinct source sets come
    from one aggregate; pairs fan out per fingerprint (≤|sources|²,
    bounded), never a document self-join. Integer-exact."""
    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        F.md5(F.col("text")).alias("fp"), "source"
    ).distinct()
    a = fp.select("fp", F.col("source").alias("sa"))
    b = fp.select("fp", F.col("source").alias("sb"))
    return (
        a.join(b, "fp")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("n_shared_texts"))
    )


ORACLE_EXACT_SUBSTRING_REMOVE = r"""
WITH uniq AS (
  -- canonical row per document (duprows re-ingest parity): min(text)
  -- mirrors the engine's deterministic survivor pick, so a re-ingest
  -- that DRIFTS the body (same doc_id, different text) cannot split
  -- the engines the way an arbitrary-row dropDuplicates would
  SELECT doc_id, min(text) AS text
  FROM documents WHERE length(trim(lower(text))) > 0
  GROUP BY doc_id
), tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM uniq
),
w AS (
  SELECT doc_id, i,
         md5(array_to_string(toks[i:i+9], ' ')) AS w
  FROM tok, UNNEST(range(1, greatest(len(toks) - 10 + 2, 1))) AS t(i)
),
dup AS (SELECT w FROM w GROUP BY w HAVING count(DISTINCT doc_id) >= 2),
cov AS (
  SELECT DISTINCT doc_id, i + d AS pos
  FROM w JOIN dup USING (w), UNNEST(range(0, 10)) AS r(d)
),
nrem AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id),
toku AS (
  SELECT doc_id, toks[i] AS tok, i AS pos
  FROM tok, UNNEST(range(1, len(toks) + 1)) AS t(i)
),
kept AS (
  SELECT t.doc_id, t.tok, t.pos
  FROM toku t
  WHERE NOT EXISTS (
    SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.pos = t.pos
  )
),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       n.n_removed,
       md5(COALESCE(a.clean, '')) AS clean_hash
FROM tok t
JOIN nrem n USING (doc_id)
LEFT JOIN agg a USING (doc_id)
ORDER BY n.n_removed DESC, t.doc_id
LIMIT 50
"""


@query("exact_substring_remove", oracle=ORACLE_EXACT_SUBSTRING_REMOVE)
def q_exact_substring_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVE half of exact-substring dedup (Lee et al. 2022):
    every token position covered by a 10-token window that also occurs
    verbatim in another document is dropped, and the cleaned text's
    md5 digest is emitted — ``dup_span_coverage`` is the detect half,
    this applies the edit. The covered-position explode is ∝ n × dup
    windows (not n × tokens); the cleaned body is rebuilt by an
    index-lambda ``filter`` in codegen, so document text never leaves
    the executors. Top 50 most-edited docs, (n_removed DESC, doc_id)
    deterministic."""
    from fink_broker_spark.ext.dedup import exact_substring_remove

    docs = load_table(spark, sf_dir, "documents")
    return (
        exact_substring_remove(docs, n=10)
        .orderBy(F.col("n_removed").desc(), "doc_id")
        .limit(50)
    )


def _ppjoin_neardup_plan(
    spark: SparkSession, sf_dir: str, max_df: int | None
) -> DataFrame:
    """Shared PPJoin plan; ``max_df`` prunes corpus-common shingles out
    of candidate GENERATION (None = provably-complete prefix join)."""
    from fink_broker_spark.functions.text import shingles_from_tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    # set elements are 3-gram SHINGLES, not words: the synthetic corpus
    # has a ~31-word vocabulary, so word sets are tiny and every prefix
    # token is corpus-common — 6.5M candidates at sf0.1 (measured).
    # Shingles give the discriminative universe prefix filtering needs
    # (and the same element space as jaccard_neardup/minhash-LSH).
    # canonical row per document: a re-ingested duplicate row (duprows
    # driftlab) is one document — df must count DOCUMENTS per shingle,
    # and the verify joins must not fan out over repeated array rows.
    # The survivor pick is min(text) after the empty-body filter (not
    # dropDuplicates' arbitrary row), so a re-ingest that DRIFTS the
    # body (same doc_id, different text) selects the
    # same shingle set on both engines.  Same shuffle as the old
    # dropDuplicates(["doc_id"]) — one doc_id-keyed aggregate.
    # keyed spread (guide §2.5): HashPartitioning(doc_id) satisfies the
    # canonical-row aggregate's clustering, so min(text) + tokenize +
    # shingle-sort all run wide off this one exchange — the aggregate's
    # own AQE-sized exchange coalesced to ONE task at bench scale and
    # serialized the whole 3.9 s shingle build (profiled); no-op when
    # the scan has ≥ cores splits
    from fink_broker_spark.plans.partitioning import ensure_keyed_parallelism

    arrs = (
        ensure_keyed_parallelism(
            docs.filter(
                F.length(F.trim(F.lower(F.col("text")))) > 0
            ).select("doc_id", "text"),
            "doc_id",
        )
        .groupBy("doc_id")
        .agg(F.min("text").alias("text"))
    ).select(
        "doc_id", tokens_expr("text").alias("toks")
    ).select(
        "doc_id",
        F.array_sort(
            F.array_distinct(shingles_from_tokens_expr("toks", 3))
        ).alias("arr"),
    ).filter(F.size("arr") > 0)
    # materialize the shingle-array relation ONCE: the subtree feeds
    # four consumers (tok→dfreq, tok→ranked, and the two verify sides
    # aa/ab), so uncut lineage tokenizes+shingles the corpus 4× — the
    # dominant CPU at 100 TB where the corpus dwarfs any cache (6.6→5.9 s
    # at sf0.1 even fully page-cached; same ext/dedup.py
    # materialize-reuse pattern)
    arrs = materialize(arrs)
    # |set| is size(arr) for free after array_distinct — carrying it as
    # a column removes the per-doc count aggregate (a whole shuffle)
    # and two sizes joins (profiled: the base plan, not candidate volume,
    # dominates this query's cost)
    tok = arrs.select(
        "doc_id", F.size("arr").alias("sz"), F.explode("arr").alias("token")
    )
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    ranked = tok.join(dfreq, "token").select(
        "doc_id",
        "token",
        "df",
        "sz",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("df", "token"))
        .alias("rk"),
    )
    prefix = ranked.filter(
        F.col("rk") <= F.col("sz") - F.expr("(4 * sz + 4) div 5") + 1
    )
    if max_df is not None:
        # production pruning: a shingle shared by > max_df docs cannot
        # discriminate near-duplicates; dropping it bounds the posting
        # join at Σ min(df, max_df)² instead of Σ df².  Deterministic
        # (global df, integer compare) — the pruned variant is still
        # exactly oracle-checkable; completeness is what's traded.
        prefix = prefix.filter(F.col("df") <= max_df)
    prefix = prefix.select("doc_id", "token", "sz")
    cand = (
        prefix.select(
            F.col("doc_id").alias("da"), "token", F.col("sz").alias("la")
        )
        .join(
            prefix.select(
                F.col("doc_id").alias("db"), "token",
                F.col("sz").alias("lb"),
            ),
            "token",
        )
        .filter(
            (F.col("da") < F.col("db"))
            # length filter: |a|, |b| within the 0.8 Jaccard ratio band
            & (4 * F.col("la") <= 5 * F.col("lb"))
            & (4 * F.col("lb") <= 5 * F.col("la"))
        )
        .select("da", "db")
        .distinct()
    )
    # verify via codegen array_intersect over the per-doc sorted
    # shingle arrays: the join-count formulation shuffles
    # |cand| x |set| rows; carrying the two arrays to each candidate
    # pair keeps the intersection map-side. The DuckDB oracle keeps
    # the join-count formulation — same RESULT, the oracle is a spec,
    # not a plan.
    aa = arrs.select(F.col("doc_id").alias("da"), F.col("arr").alias("arr_a"))
    ab = arrs.select(F.col("doc_id").alias("db"), F.col("arr").alias("arr_b"))
    shared = (
        cand.join(aa, "da")
        .join(ab, "db")
        .select(
            "da",
            "db",
            F.size(F.array_intersect("arr_a", "arr_b")).cast("long").alias(
                "n_shared"
            ),
            # set sizes ride along from the arrays — no sizes relation,
            # no extra joins
            F.size("arr_a").cast("long").alias("sza"),
            F.size("arr_b").cast("long").alias("szb"),
        )
    )
    return (
        shared.filter(
            5 * F.col("n_shared")
            >= 4 * (F.col("sza") + F.col("szb") - F.col("n_shared"))
        )
        .select(
            "da",
            "db",
            "n_shared",
            "sza",
            "szb",
            (
                F.col("n_shared").cast("double")
                / (
                    F.col("sza") + F.col("szb") - F.col("n_shared")
                ).cast("double")
            ).alias("jaccard"),
        )
        .orderBy("da", "db")
        .limit(200)
    )


def _ppjoin_oracle(max_df: int | None) -> str:
    prune = f" AND df <= {max_df}" if max_df is not None else ""
    return rf"""
WITH uniq AS (
  -- canonical row per document: min(text) after the empty-body filter
  -- mirrors the engine's deterministic survivor pick (duprows/drift)
  SELECT doc_id, min(text) AS text
  FROM documents WHERE length(trim(lower(text))) > 0
  GROUP BY doc_id
),
words AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM uniq
),
tok AS (
  SELECT DISTINCT doc_id,
         array_to_string(toks[i:i+2], ' ') AS token
  FROM words, range(1, 100000) t(i) WHERE i <= len(toks) - 2
),
dfreq AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
ranked AS (
  SELECT t.doc_id, t.token, d.df, s.sz,
         ROW_NUMBER() OVER (PARTITION BY t.doc_id
             ORDER BY d.df, t.token) AS rk
  FROM tok t JOIN dfreq d USING (token) JOIN sizes s USING (doc_id)
),
prefix AS (
  SELECT doc_id, token, sz FROM ranked
  WHERE rk <= sz - ((4 * sz + 4) // 5) + 1{prune}
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM prefix a JOIN prefix b USING (token)
  WHERE a.doc_id < b.doc_id
    AND 4 * a.sz <= 5 * b.sz AND 4 * b.sz <= 5 * a.sz
),
shared AS (
  SELECT c.da, c.db, count(*) AS n_shared
  FROM cand c
  JOIN tok ta ON ta.doc_id = c.da
  JOIN tok tb ON tb.doc_id = c.db AND tb.token = ta.token
  GROUP BY c.da, c.db
)
SELECT s.da, s.db, s.n_shared, a.sz AS sza, b.sz AS szb,
       CAST(s.n_shared AS DOUBLE)
         / CAST(a.sz + b.sz - s.n_shared AS DOUBLE) AS jaccard
FROM shared s
JOIN sizes a ON a.doc_id = s.da
JOIN sizes b ON b.doc_id = s.db
WHERE 5 * s.n_shared >= 4 * (a.sz + b.sz - s.n_shared)
ORDER BY s.da, s.db
LIMIT 200
"""


ORACLE_PPJOIN_NEARDUP = _ppjoin_oracle(None)


@query("ppjoin_neardup", oracle=ORACLE_PPJOIN_NEARDUP)
def q_ppjoin_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join with PPJoin-style prefix + length
    filtering (Xiao et al., WWW 2008): 3-gram-shingle-set Jaccard
    ≥ 0.8 document pairs, where candidates meet ONLY through a shared
    shingle inside each set's PREFIX — the first |s| − ⌈0.8·|s|⌉ + 1 tokens in
    the canonical rarest-first order — AND pass the length filter
    (4·|a| ≤ 5·|b| ∧ 4·|b| ≤ 5·|a|), both provably complete for the
    threshold (jaccard_neardup's shingle-bucket and minhash-LSH are
    the other candidate regimes of this family; three strategies, one
    verify semantics). A first draft at t = 0.5 kept half of every
    set in the prefix and blew the candidate join up 50× at sf0.1 —
    the prefix length IS the scale lever, which is why production
    near-dup thresholds sit at 0.8+. The prefix bound, rarest-first
    order (global df ascending, token tiebreak), verification
    predicate (5·shared ≥ 4·(|a| + |b| − shared) — Jaccard ≥ 0.8 as a
    pure integer inequality), and shared-token counts are all exact
    integer algebra; only the reported jaccard is a terminal double
    of exact counts.  This provably-complete form is the CORRECTNESS
    twin; the bench default is :func:`q_ppjoin_neardup_pruned` (the
    production regime — see BENCH_SKIP)."""
    return _ppjoin_neardup_plan(spark, sf_dir, max_df=None)


ORACLE_PPJOIN_NEARDUP_PRUNED = _ppjoin_oracle(50)


@query("ppjoin_neardup_pruned", oracle=ORACLE_PPJOIN_NEARDUP_PRUNED)
def q_ppjoin_neardup_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production PPJoin regime: identical prefix+length+verify plan,
    with corpus-common shingles (global df > 50) pruned from candidate
    generation.  The posting join's candidate count is Σ prefix-df²;
    capping df bounds the quadratic term at the only place it can
    explode — a shingle shared by hundreds of documents generates
    hundreds² of candidate pairs while carrying no near-dup signal at
    Jaccard ≥ 0.8.  Verification is still the exact integer predicate
    over full shingle sets, so every emitted pair is a true positive;
    completeness is what's traded (a pair must share at least one RARE
    prefix shingle to be found).  Deterministic ⇒ still exactly
    oracle-checked."""
    return _ppjoin_neardup_plan(spark, sf_dir, max_df=50)


ORACLE_SEMANTIC_DEDUP_PORTABLE = """
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
ranked AS (
  SELECT vec_id, e, cid,
         list_reduce([x * x FOR x IN e], (x, y) -> x + y) AS n2,
         ROW_NUMBER() OVER (PARTITION BY cid
                            ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                     vec_id) AS r
  FROM assigned
),
pairs AS (
  SELECT a.cid, b.vec_id AS idb,
         list_reduce(
           [a.e[i] * b.e[i] FOR i IN range(1, len(a.e) + 1)],
           (x, y) -> x + y) AS dot,
         a.n2 AS n2a, b.n2 AS n2b
  FROM ranked a JOIN ranked b ON a.cid = b.cid AND a.r < b.r
),
dropped AS (
  SELECT DISTINCT cid, idb
  FROM pairs
  WHERE dot > 0
    AND CAST(dot AS HUGEINT) * dot * 25
        >= CAST(n2a AS HUGEINT) * n2b * 4
)
SELECT r.cid, count(*) AS n_members,
       count(d.idb) AS n_dropped,
       count(*) - count(d.idb) AS n_kept,
       CAST(SUM(CASE WHEN d.idb IS NULL THEN r.vec_id ELSE 0 END)
            AS BIGINT) AS kept_id_sum
FROM ranked r
LEFT JOIN dropped d ON r.cid = d.cid AND r.vec_id = d.idb
GROUP BY r.cid
"""


@query("semantic_dedup_portable", oracle=ORACLE_SEMANTIC_DEDUP_PORTABLE)
def q_semantic_dedup_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SemDeDup cell-bucketed near-dup with the fully exact-integer
    portable pipeline — the oracle-checked twin of the rows-only
    ``semantic_dedup`` (k-means fit + greedy float-cosine leader scan
    are engine-specific).  md5-first cells, (md5, id) scan order, and
    the pairwise earlier-member drop rule ``25·dot² ≥ 4·|a|²·|b|²``
    (cos ≥ 0.4) in decimal(38,0)/HUGEINT; kept_id_sum checksums the
    kept SET, not just counts
    (``ext/semdedup.py:semantic_dedup_portable``)."""
    from fink_broker_spark.ext.semdedup import semantic_dedup_portable

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_portable(
        emb, n_cells=8, tau_num=4, tau_den=25, scale=10000
    )


def _oracle_neardup_clusters(rounds: int = 4) -> str:
    """DuckDB twin of :func:`q_neardup_clusters`: the LSH-pair oracle
    as a derived table, then the SAME ``rounds`` unrolled min-label
    CTEs — generated from one parameter so the two sides cannot drift."""
    steps = []
    for r in range(1, rounds + 1):
        prev = f"l{r - 1}"
        steps.append(
            f"l{r} AS MATERIALIZED (\n"
            f"  SELECT l.id, least(l.lbl, coalesce(m.nmin, l.lbl)) AS lbl\n"
            f"  FROM {prev} l LEFT JOIN (\n"
            f"    SELECT e.src, MIN(x.lbl) AS nmin\n"
            f"    FROM edges e JOIN {prev} x ON x.id = e.dst\n"
            f"    GROUP BY e.src\n"
            f"  ) m ON m.src = l.id\n"
            f")"
        )
    # MATERIALIZED is load-bearing: every l_r references l_{r-1} twice
    # and edges re-derives pairs (the full LSH pipeline) — DuckDB 1.0
    # inlines single-definition CTEs, so without the hint the tree
    # re-evaluates exponentially (measured 83 s → 1.5 s at sf0.01)
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT id_a, id_b FROM ( {_oracle_minhash_lsh_portable()} ) __p
),
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM edges),
{', '.join(steps)},
sizes AS (SELECT lbl, count(*) AS csize FROM l{rounds} GROUP BY lbl)
SELECT CAST(csize AS BIGINT) AS cluster_size,
       count(*) AS n_clusters
FROM sizes GROUP BY csize
"""


ORACLE_NEARDUP_CLUSTERS = _oracle_neardup_clusters()


@query("neardup_clusters", oracle=ORACLE_NEARDUP_CLUSTERS)
def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER consolidation — the composition production
    dedup pipelines actually run: MinHash-LSH verified pairs
    (``minhash_lsh_portable``'s exact md5-affine pipeline) → bounded
    4-round min-label propagation → cluster-size histogram.  Pair
    finding alone over-counts removals when families overlap (A~B,
    B~C); entity resolution needs the connected component.

    BOUNDED-ROUND semantics, identical on both sides by construction:
    4 min-label rounds cover components of min-label eccentricity ≤ 4
    — verified LSH families are near-cliques (every member pair passed
    Jaccard ≥ 0.5), where min-label converges in 1–2 rounds; the
    oracle unrolls the SAME 4 rounds, so even a hypothetical
    non-converged chain hashes identically.  Docs in no pair are
    singletons and out of scope (this is the dedup-graph accounting).

    Plan: the rounds are :func:`ext.graph.min_label_propagation`'s
    closed-neighbourhood MIN — per round ONE edge→label equi-join + min
    aggregate (shuffle ∝ edges, bounded by the LSH verify output); the
    pointer-jumping CC (``ext/dedup.py``) stays the log-depth 100 TB
    regime; this bounded twin is what fits the exact gate.

    Returns (cluster_size, n_clusters), exact integers.
    """
    from fink_broker_spark.ext.dedup import minhash_lsh_pairs_portable
    from fink_broker_spark.ext.graph import (
        min_label_propagation,
        symmetrize,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs_portable(
        docs, num_hashes=16, nbands=4, n=3, threshold=0.5
    ).select("id_a", "id_b")
    # the edge set feeds every round: materialize it once so the rounds
    # read the verified pairs instead of re-running the LSH pipeline
    sym = materialize(
        symmetrize(
            pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        )
    )
    labels = min_label_propagation(sym, rounds=4)
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("csize"))
    return sizes.groupBy(F.col("csize").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


#: the (bands, rows-per-band) grid swept by q_lsh_param_recall — all
#: factorizations of the shared 16-hash signature
_LSH_SWEEP_SETTINGS: tuple[tuple[int, int], ...] = (
    (16, 1),
    (8, 2),
    (4, 4),
    (2, 8),
)


def _oracle_lsh_param_recall(num_hashes: int = 16) -> str:
    """DuckDB twin of :func:`q_lsh_param_recall` — signature mins, the
    per-setting band hashes, and the sweep grid are generated from the
    same ``_LSH_SWEEP_SETTINGS`` the Spark plan uses, so the two sides
    cannot drift independently."""
    from fink_broker_spark.ext.dedup import MINHASH_PRIME

    mins = ",\n         ".join(
        f"MIN((a + {i} * b) % {MINHASH_PRIME}) AS h{i}"
        for i in range(num_hashes)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {nb} AS nbands, {b} AS band,\n"
        "         CAST('0x' || substr(md5({concat}), 1, 15) AS BIGINT)"
        " AS bhash\n  FROM sig".format(
            nb=nb,
            b=b,
            concat=" || '#' || ".join(
                f"CAST(h{i} AS VARCHAR)"
                for i in range(b * rpb, (b + 1) * rpb)
            ),
        )
        for nb, rpb in _LSH_SWEEP_SETTINGS
        for b in range(nb)
    )
    grid_rows = ", ".join(f"({nb}, {rpb})" for nb, rpb in _LSH_SWEEP_SETTINGS)
    return rf"""
WITH samp AS (
  SELECT doc_id, text FROM documents
  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          % 2 = 0
), tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM samp WHERE length(trim(text)) > 0
), sh AS (
  -- 100k-position cap: accepted token-length envelope of the
  -- synthetic corpus (range() takes constant bounds in duckdb 1.0)
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM tok, range(1, 100000) t(i) WHERE i <= len(toks) - 2
), seeds AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(shingle), 1, 10) AS BIGINT) AS a,
         CAST('0x' || substr(md5(shingle), 11, 10) AS BIGINT) AS b
  FROM sh
), sig AS MATERIALIZED (
  SELECT doc_id,
         {mins}
  FROM seeds GROUP BY doc_id
), bt AS (
{band_rows}
), cand AS MATERIALIZED (
  SELECT DISTINCT x.nbands, x.doc_id AS id_a, y.doc_id AS id_b
  FROM bt x JOIN bt y
    ON x.nbands = y.nbands AND x.band = y.band AND x.bhash = y.bhash
  WHERE x.doc_id < y.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), truth AS MATERIALIZED (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
  WHERE CAST(i.inter AS DOUBLE)
          / CAST(sa.nsh + sb.nsh - i.inter AS DOUBLE) >= 0.5
), ncand AS (
  SELECT nbands, count(*) AS n_candidates FROM cand GROUP BY 1
), hits AS (
  SELECT c.nbands, count(*) AS n_hits
  FROM cand c JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b
  GROUP BY 1
), ntruth AS (SELECT count(*) AS n_truth FROM truth),
grid AS (SELECT * FROM (VALUES {grid_rows}) g(nbands, rows_per_band))
SELECT CAST(g.nbands AS INTEGER) AS nbands,
       CAST(g.rows_per_band AS INTEGER) AS rows_per_band,
       CAST(COALESCE(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(nt.n_truth AS BIGINT) AS n_truth,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CASE WHEN nt.n_truth > 0
            THEN CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
                 / CAST(nt.n_truth AS DOUBLE) END AS recall,
       CASE WHEN COALESCE(nc.n_candidates, 0) > 0
            THEN CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
                 / CAST(COALESCE(nc.n_candidates, 0) AS DOUBLE)
       END AS precision
FROM grid g
LEFT JOIN ncand nc ON nc.nbands = g.nbands
LEFT JOIN hits h ON h.nbands = g.nbands
CROSS JOIN ntruth nt
"""


ORACLE_LSH_PARAM_RECALL = _oracle_lsh_param_recall()


@query("lsh_param_recall", oracle=ORACLE_LSH_PARAM_RECALL)
def q_lsh_param_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH parameter-sweep recall census — the dedup quality
    knob: for every (bands b, rows-per-band r) factorization of ONE
    shared 16-hash signature, how many candidate pairs does banding
    emit, and what fraction of the TRUE Jaccard ≥ 0.5 pairs does it
    recover?  (b=16, r=1) is the high-recall/high-cost corner, (2, 8)
    the cheap/precise one; this table is how the threshold S-curve
    gets picked before a corpus-wide dedup run
    (``minhash_lsh_portable`` pins exactly one point of this grid).

    Scale shape: the census runs on an md5-stable 1-in-2 DOCUMENT
    sample (the 100 TB regime — exact-truth recall is only ever
    measured on a sample; the sample predicate is the portable hash,
    so both engines pick identical docs).  The 16-min signature is
    computed ONCE and materialized (one md5 per shingle — the
    Carter–Wegman family of ``minhash_lsh_pairs_portable``); the sweep
    costs ONE single-hash collision self-join (whose pair set bounds
    every setting's candidates from above), with each setting's
    membership a boolean over the pair's 16 hash-equality bits — never
    4 band joins, never 4 re-tokenizations.  Ground truth is one
    shingle-posting join at Jaccard ≥ 0.5, also materialized once and
    reused by the shared membership aggregate + the scalar count.  The
    final 4-row grid rides broadcast joins (plan-lint ALLOWED: 4-row
    VALUES grid × 1-row scalar).  Token-length envelope: the oracle's
    shingle positions stop at 100k (constant range() bound in duckdb
    1.0) — accepted constraint of the synthetic corpus, documented at
    the cap."""
    from fink_broker_spark.ext.dedup import (
        MINHASH_PRIME,
        _shingle_table,
        jaccard_pairs,
        md5_int_expr,
    )

    docs = load_table(spark, sf_dir, "documents")
    sample = docs.filter(
        md5_int_expr(F.col("doc_id").cast("string"), 8) % 2 == 0
    )
    num_hashes = 16
    # tokenize ONCE for BOTH consumers: the signature chain and
    # the exact ground truth each ran their own _shingle_table over the
    # sample — the corpus was tokenized twice.  One materialized raw
    # shingle relation now feeds the md5 signature chain AND
    # jaccard_pairs (via its pre-tokenized `shingles` input).
    sh = materialize(_shingle_table(sample, "doc_id", "text", 3))
    hexed = sh.select(
        "doc_id", F.md5(F.col("shingle")).alias("__hex")
    ).select(
        "doc_id",
        F.conv(F.substring("__hex", 1, 10), 16, 10)
        .cast("long")
        .alias("__a"),
        F.conv(F.substring("__hex", 11, 10), 16, 10)
        .cast("long")
        .alias("__b"),
    )
    sig = hexed.groupBy("doc_id").agg(
        *[
            F.min(
                (F.col("__a") + F.lit(i) * F.col("__b"))
                % F.lit(MINHASH_PRIME)
            ).alias(f"__h{i}")
            for i in range(num_hashes)
        ]
    )
    # the signature feeds all 4 sweep settings and the truth feeds the
    # 4 hit joins + the scalar denominator — materialize each once,
    # with CONCURRENT jobs (they are independent projections of the
    # shared shingle relation; see materialize_many)
    truth = jaccard_pairs(
        sample, threshold=0.5, n=3, shingles=sh
    ).select("id_a", "id_b")
    sig, truth = materialize_many(sig, truth)
    # ONE collision join instead of four: a (b, r) band collision
    # requires every member hash equal, so the single-hash collision
    # pair set — the (16, 1) setting's own candidates — is a superset
    # of EVERY sweep setting's candidates.  Each pair joins its two
    # signatures back on and every setting's membership is a boolean
    # over the 16 hash-equality bits (band = AND over its r hashes,
    # candidate = OR over bands); the old plan ran 4 band self-joins +
    # 4 dedups + 4 truth joins (33.7 s CPU in one fused stage,
    # profiled).  Hash-tuple equality replaces the band-md5 equality —
    # identical candidates (the md5 was injective over '#'-joined
    # digit strings; parity-verified both scales).
    b16 = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.col(f"__h{i}").alias("hv"),
                    )
                    for i in range(num_hashes)
                ]
            )
        ).alias("bb"),
    ).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.hv").alias("hv"),
    )
    pairs = (
        b16.alias("x")
        .join(b16.alias("y"), on=["band", "hv"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"__h{i}").alias(f"__a{i}") for i in range(num_hashes)],
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"__h{i}").alias(f"__b{i}") for i in range(num_hashes)],
    )
    flagged = (
        pairs.join(sa, on="id_a")
        .join(sb, on="id_b")
        .join(
            truth.select("id_a", "id_b", F.lit(1).alias("__t")),
            on=["id_a", "id_b"],
            how="left",
        )
    )
    eq = [
        F.col(f"__a{i}") == F.col(f"__b{i}") for i in range(num_hashes)
    ]

    def _cand_expr(nbands: int, rpb: int):
        bands = []
        for b in range(nbands):
            cond = eq[b * rpb]
            for i in range(b * rpb + 1, (b + 1) * rpb):
                cond = cond & eq[i]
            bands.append(cond)
        out = bands[0]
        for cond in bands[1:]:
            out = out | cond
        return out

    member = flagged.select(
        "__t",
        F.explode(
            F.array(
                *[
                    F.when(_cand_expr(nb, rpb), F.lit(nb).cast("int"))
                    for nb, rpb in _LSH_SWEEP_SETTINGS
                ]
            )
        ).alias("nbands"),
    ).filter(F.col("nbands").isNotNull())
    counts = member.groupBy("nbands").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(
            F.when(F.col("__t").isNotNull(), 1).otherwise(0)
        ).alias("n_hits"),
    )
    ncand = counts.select("nbands", "n_candidates")
    hits = counts.select("nbands", "n_hits")
    ntruth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    grid = spark.createDataFrame(
        list(_LSH_SWEEP_SETTINGS), "nbands int, rows_per_band int"
    )
    return (
        grid.join(F.broadcast(ncand), "nbands", "left")
        .join(F.broadcast(hits), "nbands", "left")
        .crossJoin(F.broadcast(ntruth))
        .select(
            "nbands",
            "rows_per_band",
            F.coalesce("n_candidates", F.lit(0))
            .cast("long")
            .alias("n_candidates"),
            F.col("n_truth").cast("long").alias("n_truth"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.when(
                F.col("n_truth") > 0,
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.col("n_truth").cast("double"),
            ).alias("recall"),
            F.when(
                F.coalesce("n_candidates", F.lit(0)) > 0,
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.coalesce("n_candidates", F.lit(0)).cast("double"),
            ).alias("precision"),
        )
    )
