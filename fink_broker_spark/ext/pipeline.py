"""Training-data pipeline operators: packing, sampling, PII, repetition.

The extension surface a 100 TB pretraining-data pipeline needs on top of
the relational core (dedup/ANN/text live in ``ext/dedup.py``,
``ext/ann.py``, ``functions/text.py``):

- sequence packing: assign documents to fixed-token-budget training
  bins, sharded so no global sort/single-partition window appears
- stratified down-sampling: per-stratum keep rates with a deterministic,
  pushdown-friendly predicate
- PII scrubbing: email/long-digit redaction as chained regexp_replace
  column expressions (codegen, no UDF)
- repetition metrics: Gopher-style most-common-token fraction and
  distinct-token ratio for repetition filtering

Everything is declarative Column algebra or a shuffle on a bounded key
(tokens), so Catalyst owns pushdown and AQE owns skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Conservative email matcher (shared verbatim with oracle SQL; Java and
#: RE2 agree on this subset).
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
#: Long digit runs (account numbers, phones once separators are gone).
DIGIT_RUN_PATTERN = r"[0-9]{6,}"


def pack_by_prefix_sum(
    df: DataFrame,
    token_col: str,
    budget: int,
    id_col: str,
    nshards: int = 32,
) -> DataFrame:
    """Assign each document a training bin ``(shard, bin)`` by exclusive
    prefix sum of token counts within its shard.

    Packing semantics: docs are ordered by ``id_col`` inside
    ``nshards`` deterministic shards (``id % nshards``); a doc starts in
    the bin where its exclusive running total lands, so every bin holds
    ~``budget`` tokens (the last doc may straddle — the standard
    prefix-sum packing used when exact bin closure doesn't matter).

    Scale: the window is partitioned by shard — ``nshards`` independent
    sorted streams, never a global ORDER BY (which would serialize the
    whole corpus through one task). Raise ``nshards`` with the cluster;
    bins are globally unique as the (shard, bin) pair.
    """
    if conflict := {"shard", "bin"} & set(df.columns):
        raise ValueError(
            f"pack_by_prefix_sum would overwrite input column(s) "
            f"{sorted(conflict)}; rename them first"
        )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = df.withColumn("shard", F.col(id_col) % nshards)
    return staged.withColumn(
        "bin",
        F.floor(
            F.coalesce(F.sum(token_col).over(w), F.lit(0)) / F.lit(budget)
        ).cast("bigint"),
    )


def stratified_keep_expr(
    stratum_col: str,
    rates_pct: dict[str, int],
    id_col: str,
    default_pct: int = 100,
) -> Column:
    """Deterministic per-stratum keep predicate: ``id % 100 < rate``.

    Oracle-transcribable form (plain modulo on the id). Production data
    with structured ids should decorrelate via
    :func:`hash_keep_expr`; the predicate shape (and pushdown behavior)
    is identical.
    """
    rate = F.lit(default_pct)
    for stratum, pct in rates_pct.items():
        rate = F.when(
            F.col(stratum_col) == F.lit(stratum), F.lit(pct)
        ).otherwise(rate)
    return (F.col(id_col) % 100) < rate


def hash_keep_expr(
    stratum_col: str,
    rates_pct: dict[str, int],
    id_col: str,
    default_pct: int = 100,
    seed: int = 0,
) -> Column:
    """Production twin of :func:`stratified_keep_expr`: the bucket comes
    from ``xxhash64(id, seed)`` so sequential/structured ids cannot bias
    the sample. Not SQL-oracle-able (engine-specific hash); equivalence
    of the *rate* is asserted statistically in tests."""
    rate = F.lit(default_pct)
    for stratum, pct in rates_pct.items():
        rate = F.when(
            F.col(stratum_col) == F.lit(stratum), F.lit(pct)
        ).otherwise(rate)
    return F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(100)) < rate


def pii_scrub_expr(col: Column | str) -> Column:
    """Chained redaction: emails → ``<EMAIL>``, 6+ digit runs →
    ``<NUM>``. Pure ``regexp_replace`` pipeline — whole-stage codegen,
    order fixed (emails first so their digits don't half-match)."""
    c = F.col(col) if isinstance(col, str) else col
    scrubbed = F.regexp_replace(c, EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(scrubbed, DIGIT_RUN_PATTERN, "<NUM>")


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Match counts per PII class (for audit/report columns)."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        "n_emails": F.size(F.regexp_extract_all(c, F.lit(EMAIL_PATTERN), F.lit(0))),
        "n_digit_runs": F.size(
            F.regexp_extract_all(c, F.lit(DIGIT_RUN_PATTERN), F.lit(0))
        ),
    }


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Test-set decontamination: drop every document sharing ANY word
    ``n``-gram with the benchmark corpus.

    Plan: both sides tokenize once (materialized column — HOF-recompute
    discipline) and explode their distinct shingles; the benchmark
    shingle set — eval suites are tiny next to a training corpus — is
    deduplicated and **broadcast**, so contamination detection is a
    broadcast left-semi join on the doc side's exploded shingles (no
    shuffle of the corpus), then one anti-join keyed on the contaminated
    ids. Output: the clean documents, schema unchanged.
    """
    from fink_broker_spark.functions.text import (
        shingles_from_tokens_expr,
        tokens_expr,
    )

    bench_shingles = (
        benchmark.select(tokens_expr(bench_text_col).alias("__toks"))
        .select(
            F.explode(shingles_from_tokens_expr("__toks", n)).alias("shingle")
        )
        .distinct()
    )
    doc_shingles = docs.select(
        F.col(id_col), tokens_expr(text_col).alias("__toks")
    ).select(
        id_col, F.explode(shingles_from_tokens_expr("__toks", n)).alias("shingle")
    )
    contaminated = (
        doc_shingles.join(F.broadcast(bench_shingles), on="shingle", how="left_semi")
        .select(id_col)
        .distinct()
    )
    return docs.join(contaminated, on=id_col, how="left_anti")


def repetition_metrics(
    df: DataFrame, id_col: str | list[str], tokens_col: str
) -> DataFrame:
    """Per-document repetition statistics from a **materialized** token
    array column (HOF-recompute discipline: tokenize once upstream).

    Output: ``id_col(s), n_tokens, distinct_tokens, top_token_count`` —
    enough for the Gopher-style rules ``top_token_count/n_tokens`` (most
    common word fraction) and ``distinct_tokens/n_tokens`` (vocabulary
    collapse). Plan: explode → two-level aggregate on (doc, token) then
    (doc) — shuffle volume ∝ total tokens with map-side partial
    aggregation, never quadratic.

    ``id_col`` may be a list: metrics key on the full tuple, so a
    caller carrying e.g. (doc_id, lang) keeps per-tuple token pools
    separate — required for oracle parity when a re-ingested doc_id
    recurs with a different carried attribute.
    """
    ids = [id_col] if isinstance(id_col, str) else list(id_col)
    tok = df.select(
        *[F.col(c) for c in ids], F.explode(F.col(tokens_col)).alias("__tok")
    )
    per_token = tok.groupBy(*ids, "__tok").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    return per_token.groupBy(*ids).agg(
        F.sum("__cnt").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_tokens"),
        F.max("__cnt").cast("bigint").alias("top_token_count"),
    )


def temperature_shares(
    df: DataFrame, source_col: str, alpha: float = 0.5
) -> DataFrame:
    """Temperature-weighted corpus mixing: per-source sampling shares
    ``count^alpha / Σ count^alpha`` (the multilingual/multi-source
    up-weighting rule from the mT5/XLM-R line of work — alpha < 1 damps
    dominant sources, boosts the tail).

    Output: ``source, n_docs, weight, share, quota`` where ``quota`` is
    the per-epoch document draw at the original corpus size.

    Determinism note: the share denominator is a sum of doubles, and
    float addition is order-sensitive; a plain ``SUM() OVER ()`` leaves
    the addition order to the engine.  Sources are few (a mixture table,
    not data), so the denominator is folded LEFT-TO-RIGHT over the
    source-sorted weight list — ``aggregate(sort_array(collect_list(...)))``
    here, ``list_reduce(list(... ORDER BY ...))`` in the oracle — making
    the full IEEE operation tree identical on any engine.  Scale: one
    group-aggregate over the corpus, then all arithmetic happens on the
    ≤ #sources-row mixture table."""
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_docs"))
    # alpha = 0.5 goes through sqrt, which IEEE 754 requires to be
    # correctly rounded (bit-identical on every engine); pow(x, 0.5)
    # carries no such guarantee and can differ by an ulp across libms
    if float(alpha) == 0.5:
        w = F.sqrt(F.col("n_docs").cast("double"))
    else:
        w = F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha)))
    weighted = counts.select(
        F.col(source_col).alias("__src"), F.col("n_docs"), w.alias("weight")
    )
    # single-use chain (Spark recomputes shared subtrees, so separate
    # denominator/total branches would re-aggregate the corpus): pack
    # the mixture table into one sorted array row, fold denominator and
    # total over it, then explode back to per-source rows. The corpus
    # aggregates exactly once; everything after is a ≤ #sources array.
    packed = weighted.agg(
        F.sort_array(
            F.collect_list(F.struct("__src", "n_docs", "weight"))
        ).alias("mix")
    )
    row = packed.select(
        "mix",
        F.aggregate(
            F.col("mix"), F.lit(0.0), lambda acc, s: acc + s["weight"]
        ).alias("denom"),
        F.aggregate(
            F.col("mix"),
            F.lit(0).cast("bigint"),
            lambda acc, s: acc + s["n_docs"],
        ).alias("total"),
    )
    return row.select(
        F.explode("mix").alias("s"), "denom", "total"
    ).select(
        F.col("s.__src").alias(source_col),
        F.col("s.n_docs").alias("n_docs"),
        F.col("s.weight").alias("weight"),
        (F.col("s.weight") / F.col("denom")).alias("share"),
        F.floor(
            F.col("s.weight")
            / F.col("denom")
            * F.col("total").cast("double")
        ).cast("bigint").alias("quota"),
    )


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    epoch: int,
    n_shards: int = 64,
) -> DataFrame:
    """Deterministic training-order shuffle: every epoch permutes the
    corpus reproducibly without a global sort.

    Each row hashes to ``(shard, order_key)`` via a Knuth multiplicative
    mix of (id, epoch) — plain 64-bit-safe integer arithmetic, so the
    permutation replays identically on any engine and any cluster
    layout (no rand(), no partition-id dependence).  The position is a
    ``row_number`` WITHIN the shard: a window partitioned by shard is a
    distributed sort of #rows/n_shards-sized groups, unlike a global
    ``ORDER BY`` whose single ordered window would serialize 100 TB
    through one task.  Readers stream shards in shard order for a
    deterministic global order, or round-robin shards for the usual
    sharded-loader semantics."""
    k = F.col(id_col).cast("bigint")
    mixed = (
        F.pmod(k, F.lit(1_000_003)) * F.lit(2_654_435_761)
        + F.lit(int(epoch)) * F.lit(97_003)
    )
    h = F.pmod(mixed, F.lit(2_147_483_647))
    shard = F.pmod(h, F.lit(int(n_shards)))
    win = Window.partitionBy("shard").orderBy("order_key", id_col)
    return (
        df.select(
            F.col(id_col),
            shard.alias("shard"),
            h.alias("order_key"),
        )
        .withColumn("position", F.row_number().over(win))
        .select(id_col, "shard", "position")
    )


def weighted_sample_key_expr(
    id_col: str, weight_col: str, max_weight: int = 16, salt: str = "ws"
) -> Column:
    """Efraimidis–Spirakis weighted-sampling priority key with EXACT
    cross-engine arithmetic: rank rows by this key descending and take
    the top-k for a without-replacement sample where inclusion odds
    scale with the (integer) weight.

    The textbook ES key is ``u^(1/w)`` (u uniform) — a transcendental
    whose last-ulp behavior differs between JVM and libm, which would
    poison hash-exact oracle checks. This uses the max-of-uniforms
    identity instead: ``max(u_1..u_w)`` has CDF ``x^w``, exactly the
    distribution of ``u^(1/w)`` — so ranking by the MAX of ``w``
    deterministic per-(id, j) uniforms is the same sampler, computed
    entirely in integer space (md5 hex → integer, no floats anywhere).

    Plan: per-row ``transform(sequence(1, w), j -> int(md5(id#j#salt)))``
    + ``array_max`` — codegen, O(w) per row, no shuffle; cap ``w`` at
    ``max_weight`` so the cost is bounded. DuckDB twin (same md5, same
    substring, same cast):

    ``list_max(list_transform(range(1, least(w, MW)+1),
      j -> CAST('0x' || substr(md5(id || '#' || j || '#salt'), 1, 8)
           AS BIGINT)))``
    """
    w = F.least(F.greatest(F.col(weight_col).cast("int"), F.lit(1)), F.lit(max_weight))
    draws = F.transform(
        F.sequence(F.lit(1), w),
        lambda j: F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"),
                        F.lit("#"),
                        j.cast("string"),
                        F.lit("#" + salt),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
    )
    return F.array_max(draws)


def md5_bucket_expr(*cols, buckets: int, salt: str = "") -> Column:
    """Deterministic cross-engine bucket id in ``[0, buckets)`` from the
    md5-hex → integer tree (the repo's only engine-portable hash —
    ``conv(substr(md5(x),1,8),16,10)`` ≡ DuckDB
    ``CAST('0x'||substr(md5(x),1,8) AS BIGINT)``); ``salt`` decorrelates
    independent bucketings of the same key."""
    concat = F.concat_ws(
        "|", F.lit(salt), *[F.col(c).cast("string") for c in cols]
    )
    return F.pmod(
        F.conv(F.substring(F.md5(concat), 1, 8), 16, 10).cast("bigint"),
        F.lit(int(buckets)),
    )


def negative_sampling(
    docs: DataFrame,
    k: int = 3,
    n_buckets: int = 16,
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Deterministic in-batch negative sampling for contrastive
    training pairs: each anchor document draws ``k`` pseudo-random
    negatives from a DIFFERENT ``group_col`` value (hard-negative
    mining's cheap baseline — cross-source negatives; Karpukhin et al.
    2020 use in-batch analogues).  Fully reproducible: no ``rand()``
    anywhere — the candidate pool, the anchor→pool routing, and the
    per-anchor ranking all derive from md5 of the ids, so the same
    lake always yields the same pairs on any engine.

    Plan shape (and the 100 TB story): a naive sampler is an all-pairs
    cross join.  Here every document lands in one of ``n_buckets``
    md5-buckets (one column, no shuffle yet); each anchor probes ONE
    pseudo-random bucket (salted md5, decorrelated from the candidate
    bucketing) — so the join is a plain EQUI-join with fan-out
    |docs|·(|docs|/n_buckets), tunable by ``n_buckets`` to any target
    candidate budget; the per-anchor top-``k`` is a bounded
    row_number window inside the (anchor, bucket) candidate set.
    Anchors whose probed bucket holds no cross-group candidate emit
    fewer than ``k`` rows (deterministically) — the trade every
    bucketed sampler makes against an all-pairs scan.
    """
    cand = docs.select(
        F.col(id_col).alias("cand_id"),
        F.col(group_col).alias("cand_grp"),
        md5_bucket_expr(id_col, buckets=n_buckets, salt="cand").alias(
            "bkt"
        ),
    )
    anchors = docs.select(
        F.col(id_col).alias("anchor_id"),
        F.col(group_col).alias("anchor_grp"),
        md5_bucket_expr(id_col, buckets=n_buckets, salt="probe").alias(
            "bkt"
        ),
    )
    ranked = (
        anchors.join(cand, "bkt")
        .filter(F.col("cand_grp") != F.col("anchor_grp"))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("anchor_id").orderBy(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.lit("pair"),
                            F.col("anchor_id").cast("string"),
                            F.col("cand_id").cast("string"),
                        )
                    ),
                    F.col("cand_id"),
                )
            ),
        )
        .filter(F.col("rnk") <= int(k))
    )
    return ranked.select(
        "anchor_id", F.col("cand_id").alias("neg_id"), "rnk"
    )
