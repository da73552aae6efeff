"""Cardinality sketches: HyperLogLog reports and mergeable partials.

At 100 TB, exact ``countDistinct`` is a full shuffle of the distinct
keys; nightly cardinality reporting (the reference's statistics job
counts distinct objects per night, ``bin/ztf/archive_statistics.py``)
wants the sketch path instead: fixed-size HLL partials aggregated
map-side, merged associatively across partitions, nights, or tables.
Spark 4 ships Apache DataSketches HLL natively (``hll_sketch_agg`` /
``hll_union_agg`` / ``hll_sketch_estimate``) — everything here is JVM
aggregate expressions; no UDF, no driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cardinality_report(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    lgk: int = 14,
    rsd: float = 0.02,
) -> DataFrame:
    """Per-group distinct-count three ways: exact (the shuffle-heavy
    baseline), ``approx_count_distinct`` (HLL++, scalar), and a
    DataSketches HLL estimate (mergeable). Exact is kept so callers can
    audit sketch error at test scale and drop it in production.

    The exact count runs as its own two-level aggregate and joins back
    on the (tiny) group key: mixing ``countDistinct`` with the sketch
    aggregates in one ``agg`` makes Catalyst plan an Expand (every
    input row replicated per distinct-aggregate), tripling the scan's
    row volume for no benefit."""
    sketches = df.groupBy(*group_cols).agg(
        F.approx_count_distinct(key_col, rsd).alias("approx"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(key_col, F.lit(lgk))
        ).alias("hll_estimate"),
    )
    exact = (
        df.select(*group_cols, key_col)
        # countDistinct semantics: NULL keys are not a distinct value
        # (the sketch aggregates skip them too)
        .where(F.col(key_col).isNotNull())
        .distinct()
        .groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    # left join from the sketch side: a group whose keys are ALL NULL has
    # no exact row (NULLs filtered above) but must still be reported, with
    # exact = 0 — an inner join would silently drop the whole group.
    return (
        sketches.join(exact, on=list(group_cols), how="left")
        .select(
            *group_cols,
            F.coalesce(F.col("exact"), F.lit(0)).alias("exact"),
            "approx",
            "hll_estimate",
        )
    )


def hll_partials(
    df: DataFrame, group_cols: list[str], key_col: str, lgk: int = 14
) -> DataFrame:
    """Mergeable per-group sketch column — the materialized partial you
    persist per night/partition and union later (sketch size is fixed
    by ``lgk``, independent of cardinality)."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(key_col, F.lit(lgk)).alias("hll_sketch")
    )


def hll_merged_estimate(
    partials: DataFrame,
    group_cols: list[str] | None = None,
    sketch_col: str = "hll_sketch",
) -> DataFrame:
    """Merge sketch partials (optionally re-grouped coarser) into
    estimates — associative, so nights merge into months without
    touching raw data."""
    grouped = (
        partials.groupBy(*group_cols) if group_cols else partials.groupBy()
    )
    return grouped.agg(
        F.hll_sketch_estimate(F.hll_union_agg(sketch_col)).alias("estimate")
    )


# --------------------------------------------------------------------------
# Count-min sketch (deterministic, ANSI-expressible)
# --------------------------------------------------------------------------
#
# HLL answers "how many distinct"; the count-min sketch answers "how often
# does THIS key occur" in fixed memory — the heavy-hitters / frequent-items
# primitive a corpus pipeline uses to spot dominating URLs, boilerplate
# fingerprints, or hot users without shuffling every distinct key.  The
# sketch here is a (depth × width) counter grid held as ROWS
# ``(r, pos, counter)``: building it is one group-aggregate (map-side
# partials combine, shuffle volume ≤ depth·width rows per partition —
# constant, not ∝ keys), merging two sketches is union + sum (associative,
# so nightly sketches roll up to monthly ones), and estimation is a
# broadcast join of the probe keys against depth·width rows.
#
# The row hashes are Knuth multiplicative mixes on a bounded residue of
# the key — NOT xxhash/murmur — precisely so the construction is plain
# 64-bit-safe integer arithmetic any ANSI engine reproduces bit-for-bit:
# the DuckDB oracle builds the *same* sketch and the estimates compare
# exactly.  (residue < 1e6+3 and primes < 2^31 keep every product below
# 2^62: no overflow under Spark's ANSI mode.)

_CMS_MOD = 1_000_003
_CMS_PRIMES = (2_654_435_761, 2_246_822_519, 3_266_489_917, 668_265_263)
_CMS_SEEDS = (0, 40_503, 88_057, 126_611)


def cms_position(key, row: int, width: int):
    """Column: the row-``row`` counter index for an integral key."""
    k = (F.col(key) if isinstance(key, str) else key).cast("bigint")
    residue = F.pmod(k, F.lit(_CMS_MOD))
    mixed = residue * F.lit(_CMS_PRIMES[row]) + F.lit(_CMS_SEEDS[row])
    return F.pmod(mixed, F.lit(width))


def cms_build(
    df: DataFrame, key_col: str, depth: int = 3, width: int = 512
) -> DataFrame:
    """Build the sketch: rows ``(r, pos, counter)``.

    One scan, one aggregate; each input row contributes ``depth``
    (r, pos) increments via an inline-array explode (row expansion is
    depth×, but partial aggregation collapses it map-side to ≤
    depth·width rows per partition before the shuffle)."""
    assert depth <= len(_CMS_PRIMES), "depth exceeds available hash rows"
    positions = F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                cms_position(key_col, r, width).alias("pos"),
            )
            for r in range(depth)
        ]
    )
    return (
        df.where(F.col(key_col).isNotNull())
        .select(F.explode(positions).alias("rp"))
        # extract scalars before grouping: struct-field expressions as
        # grouping keys run inside the aggregate's grouping projection
        # and cost ~2x on the exploded hot path (measured on the
        # basket_pairs pair aggregate, SCALING.md)
        .select(F.col("rp.r").alias("r"), F.col("rp.pos").alias("pos"))
        .groupBy("r", "pos")
        .agg(F.count(F.lit(1)).alias("counter"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two sketches of identical (depth, width): union + sum."""
    return (
        a.unionByName(b)
        .groupBy("r", "pos")
        .agg(F.sum("counter").alias("counter"))
    )


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    key_col: str,
    depth: int = 3,
    width: int = 512,
) -> DataFrame:
    """Point-estimate each probe key: min over rows of its counters.

    The sketch is ≤ depth·width rows — broadcast it; probes stream
    through a hash join and a per-key min aggregate.  Estimates are
    biased UP only (collisions add), so ``est >= true`` always."""
    probe_pos = probes.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        cms_position(key_col, r, width).alias("pos"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rp"),
    ).select(key_col, F.col("rp.r").alias("r"), F.col("rp.pos").alias("pos"))
    return (
        probe_pos.join(F.broadcast(sketch), on=["r", "pos"], how="left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("counter", F.lit(0))).alias("cms_count"))
    )


def _bloom_positions(key, num_bits: int, k: int) -> list:
    """The ``k`` bit positions of ``key`` — independent hashes via
    seed-salted xxhash64, the same family the salting and CMS paths
    use (reference relies on Spark's murmur; public-API twin)."""
    c = F.col(key) if isinstance(key, str) else key
    return [
        F.pmod(F.xxhash64(c, F.lit(i)), F.lit(num_bits)) for i in range(k)
    ]


#: salt decorrelating the shard-assignment hash from the k position hashes
_BLOOM_SHARD_SALT = "bloom-shard"


def _shard_bits(num_bits: int, nshards: int) -> int:
    """Per-shard bitset width: total ``num_bits`` split across shards,
    rounded up to whole 64-bit words so the array<long> packing is exact."""
    return ((num_bits + nshards - 1) // nshards + 63) // 64 * 64


def bloom_build(
    df: DataFrame,
    key_col: str,
    num_bits: int = 1 << 17,
    k: int = 5,
    nshards: int = 1,
) -> DataFrame:
    """Distributed Bloom-filter build as a ``nshards``-row DataFrame —
    one bitset (``array<long>``) per shard — with no driver-side state
    at any point.

    Spark's own runtime-filter machinery has ``BloomFilterAggregate``
    but does not register it as a SQL-callable function; this is the
    declarative re-expression: each build row explodes into its ``k``
    ``(word, bit)`` pairs, a ``bit_or`` aggregate per ``(shard, word)``
    builds the bitmap (partial aggregation map-side: ``bit_or`` is
    associative, so the shuffle carries at most ``num_bits/64`` rows
    per partition — bounded regardless of build-side row count), and a
    final per-shard assembly densifies missing words to 0 via
    ``map_from_entries`` + ``transform(sequence(...))``.

    **Sharding (``nshards > 1``)**: ``num_bits`` is the TOTAL budget;
    keys are routed to ``pmod(xxhash64(key, salt), nshards)`` and each
    shard covers its keys with a ``num_bits/nshards``-bit bitset, so the
    bits-per-key ratio — hence the fp rate — matches the monolithic
    build. This is the 1e9-key posture SCALING.md documents: a 10
    bits/key filter over 1e9 keys is a 1.25 GB bitset, past broadcast
    comfort as ONE row, but 128 shards of ~10 MB each join fine. The
    probe becomes an equi-join on shard id (see
    :func:`bloom_might_contain`) — never a cross join against a
    monolith; Spark broadcasts the shard table while it fits and falls
    back to a shuffle-hash join on the (uniform, xxhash64-assigned)
    shard key beyond that, which still beats shuffling the fact side on
    the raw join key: the prefiltered survivors, not the full table,
    reach the exact join's shuffle.

    At 100 TB: the classic semi-join runtime filter — build on the
    dim-side key, probe the fact side *before* its shuffle, so the
    shuffle only carries rows that might match (plus the fp rate,
    ~0.6% at 10 bits/key, k=5).
    """
    sbits = _shard_bits(num_bits, nshards)
    nwords = sbits // 64
    c = F.col(key_col)
    shard = (
        F.pmod(F.xxhash64(c, F.lit(_BLOOM_SHARD_SALT)), F.lit(nshards))
        if nshards > 1
        else F.lit(0).cast("bigint")
    )
    pos = F.explode(F.array(*_bloom_positions(key_col, sbits, k))).alias("pos")
    words = (
        df.select(shard.alias("shard"), pos)
        .select(
            "shard",
            (F.col("pos") / 64).cast("long").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))"
            ).alias("bit"),
        )
        .groupBy("shard", "word")
        .agg(F.bit_or("bit").alias("bits"))
    )
    return words.groupBy("shard").agg(
        F.map_from_entries(
            F.collect_list(F.struct("word", "bits"))
        ).alias("__m")
    ).select(
        "shard",
        F.transform(
            F.sequence(F.lit(0).cast("long"), F.lit(nwords - 1).cast("long")),
            lambda i: F.coalesce(F.col("__m")[i], F.lit(0).cast("long")),
        ).alias("bloom"),
        F.lit(sbits).alias("num_bits"),
        F.lit(k).alias("k"),
    )


def bloom_might_contain(
    probe: DataFrame,
    bloom: DataFrame,
    key_col: str,
    num_bits: int = 1 << 17,
    k: int = 5,
    nshards: int = 1,
) -> DataFrame:
    """Filter ``probe`` to rows whose ``key_col`` might be in ``bloom``
    (no false negatives; false positives at the filter's fp rate — chase
    with the exact join). ``num_bits``/``k``/``nshards`` must match the
    build call.

    ``nshards == 1``: the 1-row filter broadcasts through a cross join.
    ``nshards > 1``: each probe row computes its shard id and
    equi-joins the shard table — no cross join, no monolithic bitset;
    an inner join, so keys whose shard built empty (no build rows
    hashed there) drop out exactly as an all-zero bitset would drop
    them. Either way each row then tests its ``k`` bits with
    ``element_at`` + shift — pure codegen, no UDF, and the probe side
    never shuffles in the broadcast regime."""
    sbits = _shard_bits(num_bits, nshards)
    if nshards > 1:
        shard = F.pmod(
            F.xxhash64(F.col(key_col), F.lit(_BLOOM_SHARD_SALT)),
            F.lit(nshards),
        )
        b = probe.withColumn("shard", shard).join(bloom, on="shard")
    else:
        b = probe.crossJoin(F.broadcast(bloom.drop("shard")))
    pos_sqls = [
        f"pmod(xxhash64({key_col}, {i}), {sbits})" for i in range(k)
    ]
    keep = " AND ".join(
        f"(shiftrightunsigned(bloom[CAST({p} / 64 AS INT)],"
        f" CAST(pmod({p}, 64) AS INT)) & CAST(1 AS BIGINT)) = 1"
        for p in pos_sqls
    )
    out = b.filter(F.expr(keep)).drop("bloom", "num_bits", "k")
    return out.drop("shard") if nshards > 1 else out
