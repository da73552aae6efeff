"""Document deduplication families for training-data curation.

Extends the reference's two in-repo dedup idioms — exact
``dropDuplicates`` (``ztf/tracklet_identification.py:329``) and window
last-per-key (``rubin/hbase_utils.py:677-691``) — with the standard
web-corpus near-dup stack:

- exact (content-hash groupBy)
- n-gram Jaccard (shingle self-join)
- MinHash + LSH banding (shingle → minhash signature → band bucket join)
- SimHash (hamming-ball pairs via band join + ``bit_count``)
- embedding-cosine near-dup (see :mod:`fink_broker_spark.ext.ann`)

All are pure DataFrame compositions: signatures are per-row HOF
expressions in codegen; candidate generation is an equi-join on bucket
keys, so shuffle volume scales with collisions, never |docs|².
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fink_broker_spark.functions.text import (
    fingerprint_expr,
    shingles_from_tokens_expr,
    tokens_expr,
)
from fink_broker_spark.functions.vector import cosine_expr
from fink_broker_spark.plans.materialize import materialize
from fink_broker_spark.plans.partitioning import (
    ensure_keyed_parallelism,
    ensure_scan_parallelism,
)


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup by content fingerprint; deterministic keep-min-id.

    Returns (fingerprint, keep_id, dup_count). One hash shuffle on the
    16-byte fingerprint — at 100 TB this is the cheapest possible dedup
    (map-side partial min/count, no text moves through the shuffle).
    """
    return (
        docs.select(fingerprint_expr(text_col).alias("fingerprint"), id_col)
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def _shingle_table(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    # two-step projection: tokenize ONCE per doc into a named column, THEN
    # shingle from it — inlining the tokenizer into the shingle lambda
    # re-splits the document per shingle (see shingles_from_tokens_expr).
    # dropDuplicates = SET semantics per (doc, shingle): a re-ingested
    # duplicate ROW (duprows driftlab: at-least-once delivery) must not
    # double a document's shingle multiset — array_distinct dedupes
    # within a row, this dedupes across repeated rows, matching the
    # oracles' SELECT DISTINCT; the exchange it adds is keyed
    # compatibly with every downstream per-doc aggregate
    # tokenize + shingle-explode are the heaviest map work of every
    # near-dup family and would otherwise run inside the scan stage —
    # one task on a single-row-group corpus file (guide §2.5).  The
    # spread is KEYED by the doc id: HashPartitioning(doc_id) satisfies
    # the clustering of dropDuplicates(doc_id, shingle) AND every
    # downstream per-doc aggregate (minhash signatures, set sizes), so
    # the whole chain runs wide off ONE exchange of the compact
    # pre-explode rows — the baseline instead shuffled the exploded
    # shingle relation (strictly more bytes) and its post-exchange
    # stages were AQE-coalesced to one task at bench scale.  Guarded
    # no-op when the scan already has ≥ cores splits.
    return (
        ensure_keyed_parallelism(
            docs.select(F.col(id_col), F.col(text_col)), id_col
        )
        .select(
            F.col(id_col), tokens_expr(text_col).alias("__toks")
        )
        .select(
            F.col(id_col),
            F.explode(
                shingles_from_tokens_expr("__toks", n)
            ).alias("shingle"),
        )
        .dropDuplicates([id_col, "shingle"])
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by word-``n``-shingle Jaccard similarity ≥ threshold.

    ``shingles``: optional pre-tokenized ``(id_col, shingle)`` relation
    (the exact output shape of ``_shingle_table``).  Callers that
    already tokenized the same corpus for another consumer (e.g. the
    LSH parameter sweep computing both a MinHash signature AND exact
    ground truth from one sample) pass it here so the corpus is
    tokenized ONCE — the tokenize-once rule; identical results by
    construction.

    shingle → explode → self-equi-join on shingle (id_a < id_b) →
    intersection counts → ``|A∩B| / (|A| + |B| − |A∩B|)``. The join fans
    out as Σ df² over shingle document frequencies: a shingle shared by
    250 documents alone yields ~31k candidate rows (measured in the 10×
    scale probe, SCALING.md). ``max_df`` prunes shingles with df >
    ``max_df`` *before* the join — the standard web-corpus mitigation;
    Jaccard is then computed over the pruned shingle universe
    (self-consistently: sizes count pruned sets too). ``None`` = exact
    (the oracle-checked mode).
    """
    # join on the 8-byte shingle hash, not the shingle string: the
    # self-join shuffle then moves fixed-width longs instead of text
    # (collision probability ~|shingles|²/2⁶⁴ — vanishing)
    # materialize ONCE: sh feeds three consumers (both self-join sides
    # + sizes, four with the max_df path) and the keyed-wide shingle
    # chain no longer ends at a reusable Exchange — uncut, each
    # consumer would re-tokenize the corpus (measured 3× CPU blow-up)
    # lineage-truncation tradeoff: see plans/materialize.py.
    # A caller-provided ``shingles`` relation is already materialized
    # (that is the contract of passing it), so the barrier job here
    # would only re-store a cheap xxhash projection of it — recomputing
    # the hash per consumer is cheaper than the extra serial job
    # (guide §1.2: don't add passes that cost more than they save)
    sh = (shingles if shingles is not None
          else _shingle_table(docs, id_col, text_col, n)).select(
        id_col, F.xxhash64("shingle").alias("shash")
    )
    if shingles is None:
        sh = sh.transform(materialize)
    if max_df is not None:
        dfreq = sh.groupBy("shash").agg(F.count(F.lit(1)).alias("__df"))
        sh = (
            sh.join(dfreq.filter(F.col("__df") <= max_df), on="shash")
            .drop("__df")
        )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("nsh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shash")
    b = sh.select(F.col(id_col).alias("id_b"), "shash")
    inter = (
        a.join(b, on="shash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("nsh").alias("nsh_a")),
            on="id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("nsh").alias("nsh_b")),
            on="id_b",
        )
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("nsh_a") + F.col("nsh_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "inter", "nsh_a", "nsh_b", "jaccard")


def minhash_signature_expr(shingle_col, num_hashes: int = 32):
    """MinHash signature as ``array<bigint>`` — per-row, no explode.

    ``sig[i] = min over shingles of xxhash64(i, shingle)``; the hash family
    is indexed by a literal seed column, the min is an ``array_min`` over a
    ``transform`` — everything stays in codegen.

    Takes a *materialized* shingle-array column (not the raw text): HOF
    lambdas defeat common-subexpression elimination, so inlining the
    shingle expression ``num_hashes`` times would re-tokenize the document
    per hash function.
    """
    sh = F.col(shingle_col) if isinstance(shingle_col, str) else shingle_col
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(sh, lambda s: F.xxhash64(i, s))),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 32,
    nbands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    verify: bool = True,
    max_bucket: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-dup candidate pairs.

    Signature rows are split into ``nbands`` bands of ``num_hashes/nbands``
    values; documents colliding in ≥1 band are candidates (MMDS ch.3
    banding: P[candidate] = 1 − (1 − j^r)^b for Jaccard j). With
    ``verify=True`` candidates are confirmed with the exact shingle
    Jaccard, so the output equals :func:`jaccard_pairs` minus LSH misses.

    Scale shape: |docs| × nbands rows shuffle on (band, band-hash) — linear
    in corpus size; only colliding buckets pay a pairwise cost.
    ``max_bucket`` skips buckets with more than that many members (a
    bucket of b docs yields b² candidates; giant buckets are
    boilerplate-duplicate families better handled by exact-hash dedup
    first). ``max_df`` is forwarded to the exact-Jaccard verification.
    """
    rows_per_band = num_hashes // nbands
    # Signature via explode + groupBy-min: the shingle set is computed ONCE
    # (Catalyst's projection collapse would re-inline a shingle expression
    # into every per-row HOF hash, re-tokenizing the document num_hashes
    # times); the min-hash aggregation is map-side partial, so the shuffle
    # carries ≤ num_hashes longs per (partition, doc).
    sh = _shingle_table(docs, id_col, text_col, n)
    sig = sh.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"__h{i}")
            for i in range(num_hashes)
        ]
    )
    # materialize the signature: the band table self-join consumes it on
    # BOTH sides and the keyed-wide shingle chain below it no longer
    # ends at a reusable Exchange — uncut, each side re-tokenizes and
    # re-hashes the corpus (lineage-truncation tradeoff: see
    # plans/materialize.py); |docs| rows × num_hashes longs
    sig = sig.transform(materialize)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col(f"__h{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
            ).alias("bhash"),
        )
        for b in range(nbands)
    ]
    bt = sig.select(F.col(id_col), F.explode(F.array(*band_structs)).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bhash").alias("bhash")
    )
    if max_bucket is not None:
        bsize = bt.groupBy("band", "bhash").agg(
            F.count(F.lit(1)).alias("__bn")
        )
        bt = (
            bt.join(
                bsize.filter(F.col("__bn") <= max_bucket),
                on=["band", "bhash"],
            ).drop("__bn")
        )
    cands = (
        bt.alias("x")
        .join(bt.alias("y"), on=["band", "bhash"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    if not verify:
        return cands
    # candidate list feeds both the id set and the final join — one
    # materialization instead of re-running banding per consumer
    # lineage-truncation tradeoff: see plans/materialize.py
    cands = cands.transform(materialize)
    # verify only the candidate documents: a pair's shingle intersection
    # involves no third document, so Jaccard computed over the candidate
    # subset is EXACT for candidate pairs — and the verify join's fanout
    # shrinks from the whole corpus to the (small) near-dup families
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    cand_docs = docs.join(cand_ids, on=id_col, how="leftsemi")
    exact = jaccard_pairs(
        cand_docs, threshold, n, id_col, text_col, max_df=max_df
    )
    return cands.join(exact, on=["id_a", "id_b"]).select(
        "id_a", "id_b", "jaccard"
    )


def simhash_expr(hash_col, nbits: int = 64):
    """SimHash from a *materialized* feature-hash array column → signed long.

    Classic Charikar construction: per bit b, sum ±1 over feature hashes'
    bit b; bit set iff the sum is positive. Bit positions are Python-level
    literals (``shiftright`` requires a static shift), so the expression is
    a flat OR of 64 per-bit aggregates over the named hash column — all
    per-row, in codegen, no shuffle.
    """
    hashes = F.col(hash_col) if isinstance(hash_col, str) else hash_col

    def _vote(bit: int):
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(
                F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1)),
        )

    out = F.lit(0).cast("bigint")
    for b in range(nbits):
        vote = _vote(b)
        out = out.bitwiseOR(
            F.when(vote > 0, F.shiftleft(F.lit(1).cast("bigint"), b)).otherwise(
                F.lit(0).cast("bigint")
            )
        )
    return out


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    nbits: int = 64,
    n: int = 2,
    nbands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance ≤ ``max_hamming``.

    Candidate generation: split the 64-bit simhash into ``nbands`` bit
    bands; by pigeonhole, any pair within hamming ≤ nbands−1 collides in
    ≥1 band (exact recall for max_hamming < nbands). Verification:
    ``bit_count(a XOR b)``.
    """
    from pyspark.sql.functions import pandas_udf

    rows_per_band = nbits // nbands

    # bit-voting in a vectorized pandas UDF: the pure-expression form
    # (:func:`simhash_expr`) is 64 HOF aggregates per row — correct but a
    # codegen monster; one Arrow batch of the per-doc feature-hash arrays
    # computes the same signature with two numpy ops per document
    @pandas_udf("bigint")
    def _vote(hs: pd.Series) -> pd.Series:
        shifts = np.arange(nbits, dtype=np.uint64)
        out = np.zeros(len(hs), dtype=np.int64)
        for i, h in enumerate(hs):
            if h is None:  # NULL text → NULL shingles (nullmeasure lake)
                continue
            a = np.asarray(h, dtype=np.int64).view(np.uint64)
            if a.size == 0:
                continue
            bits = (a[:, None] >> shifts) & np.uint64(1)
            votes = bits.sum(axis=0, dtype=np.int64) * 2 - a.size
            sim = np.bitwise_or.reduce(
                (votes > 0).astype(np.uint64) << shifts
            )
            out[i] = int(np.uint64(sim).astype(np.int64))
        return pd.Series(out)

    base = (
        # NULL text carries no signature: exclude the doc (parity with
        # every other near-dup family, and the vote UDF's None guard);
        # spread the scan so tokenize + 64-bit voting use every core
        # (guide §2.5 — no-op when the scan has ≥ cores splits)
        ensure_scan_parallelism(
            docs.filter(F.col(text_col).isNotNull()).select(
                F.col(id_col), F.col(text_col)
            )
        )
        .select(F.col(id_col), tokens_expr(text_col).alias("__toks"))
        .select(
            F.col(id_col),
            shingles_from_tokens_expr("__toks", n).alias("__sh"),
        )
        .withColumn("__h", F.transform("__sh", lambda s: F.xxhash64(s)))
        .select(F.col(id_col), _vote("__h").alias("simhash"))
        # materialize: both band self-join sides consume the signature
        # and the tokenize → vote chain has no exchange to reuse —
        # uncut, the Arrow vote kernel runs twice over the corpus
        # lineage-truncation tradeoff: see plans/materialize.py
        .transform(materialize)
    )
    # static shifts per band (shiftright needs a literal shift amount)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * rows_per_band)
                .bitwiseAND(F.lit((1 << rows_per_band) - 1))
                .alias("bkey"),
            )
            for b in range(nbands)
        ]
    )
    bt = base.select(id_col, "simhash", F.explode(bands).alias("bb")).select(
        id_col,
        "simhash",
        F.col("bb.band").alias("band"),
        F.col("bb.bkey").alias("bkey"),
    )
    x, y = bt.alias("x"), bt.alias("y")
    return (
        x.join(y, on=["band", "bkey"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def md5_int_expr(col, nhex: int = 15):
    """Engine-portable unsigned hash from md5 hex — the repo's only
    cross-engine hash family (``conv(substr(md5(x),1,nhex),16,10)`` ≡
    DuckDB ``CAST('0x'||substr(md5(x),1,nhex) AS BIGINT)``).  15 hex
    chars = 60 bits (positive BIGINT on both engines); 8 hex = 32 bits
    when bit-level structure must stay cheap to enumerate."""
    return F.conv(F.substring(F.md5(col), 1, nhex), 16, 10).cast("long")


#: prime just below 2⁴⁰ — modulus of the portable affine MinHash family
#: (a + i·b mod P from ONE md5 per shingle; i·b ≤ 15·2⁴⁰ ≪ 2⁶³, so the
#: whole family is overflow-free BIGINT arithmetic on both engines)
MINHASH_PRIME = 1099511627689


def minhash_lsh_pairs_portable(
    docs: DataFrame,
    num_hashes: int = 16,
    nbands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash + LSH banding near-dups with an engine-portable hash family.

    Same banding pipeline as :func:`minhash_lsh_pairs` (MMDS ch.3), but
    the hash family is the classic affine construction over md5 seeds:
    ``h_i(s) = (a + i·b) mod P`` with ``a, b`` the two 40-bit halves of
    ONE ``md5(shingle)`` and P = :data:`MINHASH_PRIME` (Carter–Wegman
    universal hashing) — so the ENTIRE pipeline — signature, banding,
    candidate join, exact-Jaccard verify — is expressible in ANSI SQL
    and exact-value-checked against DuckDB at ONE md5 per shingle (the
    naive per-(i, shingle) md5 family costs num_hashes× the hashing).
    The xxhash64 twin stays the production regime; this variant pins
    the banding SEMANTICS under the correctness gate.

    Output = banding candidates ∩ exact Jaccard ≥ threshold, so LSH
    misses cancel between engines by construction (identical hash bits).
    """
    rows_per_band = num_hashes // nbands
    sh = _shingle_table(docs, id_col, text_col, n)
    hexed = sh.select(
        F.col(id_col), F.md5(F.col("shingle")).alias("__hex")
    ).select(
        F.col(id_col),
        F.conv(F.substring("__hex", 1, 10), 16, 10)
        .cast("long")
        .alias("__a"),
        F.conv(F.substring("__hex", 11, 10), 16, 10)
        .cast("long")
        .alias("__b"),
    )
    sig = hexed.groupBy(id_col).agg(
        *[
            F.min(
                (F.col("__a") + F.lit(i) * F.col("__b"))
                % F.lit(MINHASH_PRIME)
            ).alias(f"__h{i}")
            for i in range(num_hashes)
        ]
    )
    # materialize: both band-table self-join sides consume sig, and the
    # keyed-wide shingle chain below no longer ends at a reusable
    # Exchange — uncut, each side re-tokenizes + re-md5s the corpus
    # lineage-truncation tradeoff: see plans/materialize.py
    sig = sig.transform(materialize)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            md5_int_expr(
                F.concat_ws(
                    "#",
                    *[
                        F.col(f"__h{i}").cast("string")
                        for i in range(
                            b * rows_per_band, (b + 1) * rows_per_band
                        )
                    ],
                )
            ).alias("bhash"),
        )
        for b in range(nbands)
    ]
    bt = sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bhash").alias("bhash"))
    cands = (
        bt.alias("x")
        .join(bt.alias("y"), on=["band", "bhash"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # verify only the candidate documents (the minhash_lsh_pairs
    # optimization): a pair's Jaccard involves no third document, so
    # the exact join's fanout shrinks from the whole corpus to the
    # near-dup families — output-identical, ~5× cheaper at sf0.1
    # lineage-truncation tradeoff: see plans/materialize.py
    cands = cands.transform(materialize)
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    cand_docs = docs.join(cand_ids, on=id_col, how="leftsemi")
    exact = jaccard_pairs(cand_docs, threshold, n, id_col, text_col)
    return cands.join(exact, on=["id_a", "id_b"]).select(
        "id_a", "id_b", "jaccard"
    )


def simhash_pairs_portable(
    docs: DataFrame,
    max_hamming: int = 3,
    nbits: int = 32,
    nbands: int = 4,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash hamming-ball near-dups with an engine-portable hash family.

    Charikar bit-voting over distinct word-``n``-shingles, feature hash =
    md5int32(shingle), so the 32-bit signature — and therefore the band
    buckets, the candidate pairs, and the hamming distances — is
    bit-identical in DuckDB and exact-value-checked end to end (the
    64-bit xxhash64 twin :func:`simhash_pairs` stays the production
    regime).  Votes are ``nbits`` map-side partial SUM aggregates over
    the exploded shingle rows (no per-row 32-lambda HOF monster, no
    pandas vote kernel needed at 32 bits); banding splits the signature
    into ``nbands`` bit bands — pigeonhole gives exact recall for
    ``max_hamming < nbands``.
    """
    band_bits = nbits // nbands
    sh = _shingle_table(docs, id_col, text_col, n).select(
        F.col(id_col), md5_int_expr(F.col("shingle"), nhex=8).alias("__h")
    )
    votes = sh.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1))
            ).alias(f"__v{b}")
            for b in range(nbits)
        ]
    )
    simhash = None
    for b in range(nbits):
        term = F.when(F.col(f"__v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash = term if simhash is None else simhash + term
    # materialize: both band-table self-join sides consume the signature
    # and the keyed-wide shingle chain below no longer ends at a
    # reusable Exchange (same rationale as minhash_lsh_pairs_portable)
    # lineage-truncation tradeoff: see plans/materialize.py
    base = votes.select(
        F.col(id_col), simhash.alias("simhash")
    ).transform(materialize)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * band_bits)
                .bitwiseAND(F.lit((1 << band_bits) - 1))
                .alias("bkey"),
            )
            for b in range(nbands)
        ]
    )
    bt = base.select(id_col, "simhash", F.explode(bands).alias("bb")).select(
        id_col,
        "simhash",
        F.col("bb.band").alias("band"),
        F.col("bb.bkey").alias("bkey"),
    )
    x, y = bt.alias("x"), bt.alias("y")
    return (
        x.join(y, on=["band", "bkey"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
            .cast("int")
            .alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


#: Bytes per collected edge: two BIGINT ids.
_EDGE_BYTES = 16

#: Most directed edges :func:`dedup_groups` labels on the driver,
#: whatever the broadcast bound. The Python driver holds about 120
#: bytes per edge (Arrow table, int lists, union-find dict), so this
#: caps it near 240 MB. Measured on a 4-vCPU host with ``local[2]``,
#: chains of 5 ids, warm session: the driver path beat the distributed
#: loop at every size tried, 40k to 6M edges (2M edges: 13-24 s wall
#: against 19-24 s; 6M edges: 38 s against 75 s, 850 MB of driver RSS).
_DRIVER_EDGE_CAP = 2_000_000


def _driver_edge_limit(spark) -> int | None:
    """Most directed edges :func:`dedup_groups` labels on the driver:
    Spark's broadcast bound (``spark.sql.autoBroadcastJoinThreshold``)
    at :data:`_EDGE_BYTES` per edge, and never more than
    :data:`_DRIVER_EDGE_CAP`. ``None`` (the bound is ``-1``, or no JVM
    conf can be read, e.g. Spark Connect) keeps every graph
    distributed."""
    try:
        conf = spark._jsparkSession.sessionState().conf()
        bound = conf.autoBroadcastJoinThreshold()
    except AttributeError:  # Spark Connect: no JVM session
        return None
    if bound < 0:
        return None
    return min(bound // _EDGE_BYTES, _DRIVER_EDGE_CAP)


def _components_on_driver(spark, edges) -> DataFrame:
    """``(id, component)`` of a collected ``(src, dst)`` Arrow edge
    table: union-find with the minimum id as root, returned through
    Arrow.

    NULL ids join no component, exactly as in the distributed loop's
    equi-joins: an edge with a NULL end still makes its other end a
    node, and any NULL adds one ``(NULL, NULL)`` row."""
    import pyarrow as pa

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    saw_null = False
    for a, b in zip(edges["src"].to_pylist(), edges["dst"].to_pylist()):
        if a is None or b is None:
            saw_null = True
            for x in (a, b):
                if x is not None:
                    find(x)
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = list(parent)
    comps = [find(n) for n in nodes]
    if saw_null:
        nodes.append(None)
        comps.append(None)
    table = pa.table(
        {
            "id": pa.array(nodes, pa.int64()),
            "component": pa.array(comps, pa.int64()),
        }
    )
    return spark.createDataFrame(table, "id bigint, component bigint")


def dedup_groups(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs → one keeper per group.

    The missing last step of every near-dup pipeline: pair lists
    (:func:`jaccard_pairs`, :func:`minhash_lsh_pairs`,
    :func:`embedding_neardup_pairs`) are edges; the documents to *drop*
    are every member of a connected component except its minimum id.
    Returns (id, component) with ``component = min(id in component)``.

    The pairs are symmetrized, materialized once and counted. Graphs
    of at most :func:`_driver_edge_limit` directed edges then finish on
    the driver: one more job collects the materialized edges,
    union-find labels them, and the answer comes back through Arrow
    (see :data:`_DRIVER_EDGE_CAP` for the measured trade). Larger
    graphs go on from the same count, so they run no job the loop did
    not run before.

    The distributed loop is iterative min-label propagation with
    pointer jumping. Each node starts with label = its own id; every
    round, each node takes the min label in its neighborhood, then
    short-circuits through its label's own label (``comp ← comp(comp)``,
    path doubling); stops when no label changes. The doubling step
    turns O(diameter) rounds into O(log diameter). Each round is one
    equi-join edges⋈labels + one groupBy min — both hash-shuffles on
    the node id — and its labels are checkpointed lazily inside the
    round's convergence job, so lineage stays one round deep.
    """
    edges = (
        pairs.select(
            F.col(a_col).cast("bigint").alias("src"),
            F.col(b_col).cast("bigint").alias("dst"),
        )
        .unionByName(
            pairs.select(
                F.col(b_col).cast("bigint").alias("src"),
                F.col(a_col).cast("bigint").alias("dst"),
            )
        )
        .distinct()
        # materialize ONCE: without this, every propagation round re-runs
        # the (possibly expensive) pair-generation lineage upstream
        # lineage-truncation tradeoff: see plans/materialize.py
        .transform(materialize)
    )
    # one job over the checkpoint: DataFrame.count() plans an aggregate
    # whose shuffle AQE would run as a job of its own
    n_edges = edges._jdf.rdd().count()
    max_edges = _driver_edge_limit(pairs.sparkSession)
    if max_edges is not None and n_edges <= max_edges:
        return _components_on_driver(pairs.sparkSession, edges.toArrow())
    # right-size the round frames: component graphs after thresholding are
    # tiny relative to the corpus, and per-round scheduling overhead at
    # the session's shuffle width would dwarf the work. One partition per
    # ~100k edges, capped at the session default.
    nparts = max(1, min(edges.rdd.getNumPartitions(), n_edges // 100_000 + 1))
    edges = edges.repartition(nparts, "dst")
    labels = (
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("id"), F.col("src").alias("component"))
        .repartition(nparts, "id")
    )
    prev_sum = None
    for _ in range(max_iters):
        # neighbor labels: for each edge (src,dst), dst's current label
        neighbor = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"),
                    F.col("component").alias("nlabel"),
                ),
                on="dst",
            )
            .groupBy("src")
            .agg(F.min("nlabel").alias("nmin"))
        )
        updated = (
            labels.join(
                neighbor.select(F.col("src").alias("id"), "nmin"),
                on="id",
                how="left",
            )
            .select(
                "id",
                F.least(
                    "component", F.coalesce("nmin", F.col("component"))
                ).alias("component"),
            )
        )
        # pointer jumping: follow the label's label (labels cover every
        # node, and component(c) <= c, so this only ever shrinks)
        hop = updated.select(
            F.col("id").alias("component"),
            F.col("component").alias("ccomp"),
        )
        updated = (
            updated.join(hop, on="component", how="left")
            .select(
                "id",
                F.least(
                    "component", F.coalesce("ccomp", F.col("component"))
                ).alias("component"),
            )
        )
        # lineage-truncation tradeoff: see plans/materialize.py.
        # LAZY on purpose: the convergence agg below is the
        # round's blocking action anyway, so it both computes the sum
        # AND materializes the checkpoint in ONE job — eager=True ran a
        # separate checkpoint job first, one extra job per round for
        # nothing (A/B at sf0.1: identical results, ~0.2 s/query saved)
        updated = updated.transform(materialize, eager=False)
        # labels strictly decrease, so an unchanged sum IS the fixpoint —
        # one scalar agg instead of a join-based diff per round
        new_sum = updated.agg(F.sum("component")).collect()[0][0]
        labels = updated
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


def _neardup_kernel(
    rids, rmat, rnorms, cids, cmat, cnorms, threshold, reduction="blas"
):
    """Score (rids, rmat) × (cids, cmat), keep id_a < id_b pairs with
    cosine ≥ threshold — ONE kernel, two reduction modes (the unified
    kernel shared conceptually with ``ann.brute_force_topk_kernel``'s
    matrix path):

    - ``"blas"``: one matmul for the whole block pair — the production
      mode; dot products are BLAS reductions (pairwise/SIMD order), so
      values can differ from a sequential sum in the last ulp.
    - ``"cumsum"``: per-row ``np.cumsum`` left-to-right reductions,
      bit-identical to the pure-expression form and the DuckDB oracle —
      the parity mode the oracled query runs.
    """
    if not len(rids) or not len(cids):
        return [], [], []
    if reduction == "blas":
        sims = (rmat @ cmat.T) / np.outer(rnorms, cnorms)
        keep = (np.asarray(rids)[:, None] < np.asarray(cids)[None, :]) & (
            sims >= threshold
        )
        ai, bj = np.nonzero(keep)
        return (
            [int(x) for x in np.asarray(rids)[ai]],
            [int(x) for x in np.asarray(cids)[bj]],
            [float(x) for x in sims[ai, bj]],
        )
    if reduction != "cumsum":
        raise ValueError(f"unknown reduction: {reduction}")
    out_a, out_b, out_c = [], [], []
    for rid, v, vnorm in zip(rids, rmat, rnorms):
        mask = cids > rid
        if not mask.any():
            continue
        prods = cmat[mask] * v
        dots = np.cumsum(prods, axis=1)[:, -1]
        cos = dots / (vnorm * cnorms[mask])
        sel = cos >= threshold
        if sel.any():
            bsel = cids[mask][sel]
            out_a.extend([int(rid)] * len(bsel))
            out_b.extend(int(x) for x in bsel)
            out_c.extend(float(x) for x in cos[sel])
    return out_a, out_b, out_c


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nblocks: int = 8,
    reduction: str = "blas",
) -> DataFrame:
    """All pairs with cosine ≥ threshold (exact, fully distributed).

    Physical plan: a **block nested-loop join that never touches the
    driver**. Each vector is hashed into one of ``nblocks`` blocks; a
    per-row ``explode`` replicates it into every unordered block pair it
    participates in; ``applyInPandas`` over (block_a, block_b) groups
    scores each pair-group with a vectorized numpy kernel. Diagonal
    groups (i, i) score within-block pairs; off-diagonal groups (i, j)
    score only cross-block pairs, so no pair is ever scored twice.

    Scale: exact all-pairs is inherently quadratic in *compute*, but the
    data movement here is one shuffle of |corpus| × nblocks vector rows,
    and each task holds at most two blocks (2·|corpus|/nblocks rows) —
    pick ``nblocks ≈ corpus_bytes / executor_block_budget`` and driver
    memory stays flat while executors stream group-by-group. For corpora
    where even blocked-quadratic compute is too much, prune candidates
    first with :func:`fink_broker_spark.ext.ann.lsh_topk`.

    ``reduction="blas"`` (default) scores each block pair with one
    matmul — the production mode. ``reduction="cumsum"`` forces strictly
    sequential left-to-right IEEE reductions, bit-identical to the
    pure-expression form and the DuckDB oracle — what the oracled
    ``embedding_neardup`` query runs; both modes select the same pair
    set whenever no pair's cosine sits within an ulp of the threshold.
    """
    from fink_broker_spark.ext.ann import well_formed_vectors

    # well-formed domain (nullemb layout): the numpy kernel crashes on
    # NULL arrays / NULL elements; the oracle EXCLUDES the same pairs
    # without any predicate because a malformed member's cosine is
    # NULL and NULL ≥ threshold is false — dropping here is symmetric
    emb = well_formed_vectors(emb, vec_col)
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(nblocks))
    # every unordered pair {blk, j}: j scans all blocks, least/greatest
    # canonicalizes — (i, i) appears exactly once (j == i), and a cross
    # pair's two members land in the same (min, max) group
    pair_structs = F.transform(
        F.sequence(F.lit(0), F.lit(nblocks - 1)),
        lambda j: F.struct(
            F.least(F.col("__blk"), j).alias("pa"),
            F.greatest(F.col("__blk"), j).alias("pb"),
        ),
    )
    exploded = (
        emb.select(id_col, vec_col, blk.alias("__blk"))
        .select(
            id_col,
            vec_col,
            "__blk",
            F.explode(pair_structs).alias("__bp"),
        )
        .select(
            id_col,
            vec_col,
            "__blk",
            F.col("__bp.pa").alias("__pa"),
            F.col("__bp.pb").alias("__pb"),
        )
    )

    def score_group(key, pdf):
        pa, pb = key
        mat = np.array(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        ids = pdf[id_col].to_numpy()
        if reduction == "cumsum":
            # sequential sum of squares — parity with the oracle's tree
            norms = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
        else:
            norms = np.sqrt((mat * mat).sum(axis=1))
        if pa == pb:
            a, b, c = _neardup_kernel(
                ids, mat, norms, ids, mat, norms, threshold, reduction
            )
        else:
            left = (pdf["__blk"] == pa).to_numpy()
            a1, b1, c1 = _neardup_kernel(
                ids[left], mat[left], norms[left],
                ids[~left], mat[~left], norms[~left], threshold, reduction,
            )
            a2, b2, c2 = _neardup_kernel(
                ids[~left], mat[~left], norms[~left],
                ids[left], mat[left], norms[left], threshold, reduction,
            )
            a, b, c = a1 + a2, b1 + b2, c1 + c2
        return pd.DataFrame({"id_a": a, "id_b": b, "cosine": c})

    return exploded.groupBy("__pa", "__pb").applyInPandas(
        score_group, "id_a bigint, id_b bigint, cosine double"
    )


def dup_span_coverage(
    docs: DataFrame,
    n: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-span coverage: the fraction of a doc's
    sliding ``n``-token windows that also occur in at least one OTHER
    document — the detection metric behind exact-substring dedup (Lee
    et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", which removes 50-token spans shared verbatim; this is the
    find-the-spans half expressed as one corpus-wide window-frequency
    aggregate instead of a suffix array).

    Plan shape: the sliding windows come from ``transform(sequence(...),
    i -> concat_ws(slice(tokens, i, n)))`` — per-row codegen, no explode
    until the windows exist — then a shuffle on the window digest
    computes cross-document frequencies (``count(DISTINCT doc)``
    bounded by the duplication depth) and a bounded shuffle
    re-aggregates per doc. The uncached ``windows`` subtree feeds both
    the frequency aggregate and the join back, so Spark recomputes it
    per branch; materialize the window-digest relation once when the
    corpus dominates the cost (the logical shape is unchanged). Explode volume ∝ total tokens, same class
    as any tokenize pass. The digest is md5 — bit-identical in every
    engine, so the whole operator is oracle-exact (xxhash64 would be
    cheaper in production; the 16-byte md5 keeps the DuckDB twin
    honest).

    Returns (doc_id, n_windows, n_dup_windows, coverage); docs with
    fewer than ``n`` tokens have no windows and are excluded.
    """
    # keyed spread (guide §2.5): tokenize + window-md5 run wide instead
    # of inside the single-split scan task
    toks = ensure_keyed_parallelism(
        docs.select(F.col(id_col), F.col(text_col)), id_col
    ).select(
        F.col(id_col).alias("doc_id"), tokens_expr(text_col).alias("toks")
    )
    # guard: sequence(1, 0) would DESCEND in Spark, not come back empty
    idx = F.when(
        F.size("toks") >= n,
        F.sequence(F.lit(1), F.size("toks") - F.lit(n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    # materialize ONCE, as the docstring's plan note prescribes: the
    # window relation feeds both the frequency aggregate and the join
    # back — uncut, each branch re-tokenizes + re-md5s the corpus
    # lineage-truncation tradeoff: see plans/materialize.py
    windows = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i, n))),
            )
        ).alias("w"),
    ).transform(materialize)
    freq = windows.groupBy("w").agg(
        F.count_distinct("doc_id").alias("ndocs")
    )
    return (
        windows.join(freq, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count_if(F.col("ndocs") >= 2).alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            # raw double ratio of exact integers: the IEEE division is
            # correctly rounded on both engines, while a terminal
            # round(double, 6) is the engine-splitting construct the
            # verify discipline bans (Spark rounds the BigDecimal of
            # the double, DuckDB rounds with float ops)
            (
                F.col("n_dup_windows").cast("double")
                / F.col("n_windows").cast("double")
            ).alias("coverage"),
        )
    )


def exact_substring_remove(
    docs: DataFrame,
    n: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The REMOVE half of exact-substring dedup (Lee et al. 2022):
    drop every token position covered by an ``n``-token window that
    also occurs verbatim in at least one other document, and emit the
    cleaned text's digest — :func:`dup_span_coverage` finds the spans,
    this operator applies the edit.

    Plan shape: the same sliding-window digests (windows carry their
    1-based start position), one corpus-wide frequency shuffle keeps
    only cross-document windows, each surviving window explodes into
    its ``n`` covered positions (volume ∝ n × dup windows, NOT n ×
    tokens), a distinct + per-doc collect builds the covered-position
    set (≤ |tokens-per-doc|, same bound as the token array itself),
    and an index-lambda ``filter`` drops covered tokens in codegen —
    the document body never leaves the executor. Only documents with
    at least one removed token are returned.

    The digest is md5 (bit-identical across engines) so the whole
    edit — including the cleaned text's hash — is oracle-exact.

    Returns (doc_id, n_tokens, n_removed, clean_hash).
    """
    # canonical row per document: a re-ingested duplicate row (duprows
    # driftlab) is one document, and when re-ingest DRIFTS the body
    # (same doc_id, different text) both engines must
    # pick the SAME survivor, so the pick is min(text), never
    # dropDuplicates' arbitrary row.  The empty-body filter runs
    # BEFORE the pick on both sides, or a doc whose duplicates are
    # ('', 'abc') would canonicalize to '' here and 'abc' there.
    # keyed spread (guide §2.5): min(text) + tokenize run wide off one
    # exchange; materialize ONCE — toks feeds the window chain AND the
    # final clean-hash join, and win below feeds dup_w AND the covered
    # join (uncut, each consumer re-tokenizes / re-md5s the corpus)
    # lineage-truncation tradeoff: see plans/materialize.py
    toks = (
        ensure_keyed_parallelism(
            docs.filter(
                F.length(F.trim(F.lower(F.col(text_col)))) > 0
            ).select(F.col(id_col), F.col(text_col)),
            id_col,
        )
        .groupBy(F.col(id_col).alias("doc_id"))
        .agg(F.min(text_col).alias("__text"))
        .select("doc_id", tokens_expr("__text").alias("toks"))
        .transform(materialize)
    )
    # guard: sequence(1, 0) would DESCEND in Spark, not come back empty
    idx = F.when(
        F.size("toks") >= n,
        F.sequence(F.lit(1), F.size("toks") - F.lit(n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    win = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                idx,
                lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i, n))),
            )
        ).alias("p0", "w"),
    ).select(
        "doc_id", (F.col("p0") + 1).alias("start"), "w"
    ).transform(materialize)
    dup_w = (
        win.groupBy("w")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("w")
    )
    covered = (
        win.join(dup_w, "w")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    cov_sets = covered.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("cov"),
        F.count(F.lit(1)).alias("n_removed"),
    )
    # kept positions via array_except (hash-set semantics: O(n + k))
    # instead of a per-token array_contains scan (O(n·k) — quadratic on
    # long, heavily duplicated documents); order of the left sequence
    # is preserved, so the gather below re-joins tokens in document
    # order.  Rows here always have ≥ n tokens (they joined cov_sets),
    # so sequence(1, size) never hits the descending sequence(1, 0)
    # pitfall.
    kept_pos = F.array_except(
        F.sequence(F.lit(1), F.size("toks")), F.col("cov")
    )
    return toks.join(cov_sets, "doc_id").select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
        # kept tokens re-join with single spaces; empty survivor set
        # gives concat_ws('') == '' == the oracle's COALESCE('') twin
        F.md5(
            F.concat_ws(
                " ",
                F.transform(kept_pos, lambda p: F.element_at("toks", p)),
            )
        ).alias("clean_hash"),
    )
