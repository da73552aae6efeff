"""Statistical queries: distribution tests, correlation, robust
summaries, sketches and time-series statistics, each with its DuckDB
oracle or its rows-only reason.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fink_broker_spark.plans.partitioning import (
    ensure_keyed_parallelism,
    ensure_scan_parallelism,
)
from fink_broker_spark.queries.common import (
    _day,
    _dec,
    _finite,
    _limb3_bigints,
)
from fink_broker_spark.queries.registry import query
from fink_broker_spark.sources.parquet import load_table


ORACLE_ANOMALY_SCORES = """
-- CAST AS DOUBLE mirrors the operator's double-pinned percentile
-- (decimalprice driftlab layout, r6)
WITH ev AS (
  SELECT event_type, CAST(value AS DOUBLE) AS value FROM events
), stats AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM ev GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.value, s.med, abs(e.value - s.med) AS adev
  FROM ev e JOIN stats s USING (event_type)
), mads AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad, min(med) AS med
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN abs(d.value - m.med) > 5.0 * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
       min(m.med) AS med,
       min(m.mad) AS mad
FROM dev d JOIN mads m USING (event_type)
GROUP BY d.event_type
"""


@query("anomaly_scores", oracle=ORACLE_ANOMALY_SCORES)
def q_anomaly_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly flagging (the reference's anomaly-module shape,
    ``bin/ztf/archive_anomalies``-family, declaratively): per-type
    median + MAD via exact ``percentile`` (bit-identical to DuckDB's
    ``quantile_cont``), then |x − median| > 5·MAD outlier counts. Two
    aggregations over the same grouping — Catalyst reuses the shuffle
    via the self-join on the tiny per-type stats (broadcast)."""
    ev = load_table(spark, sf_dir, "events")
    # both percentiles as unbounded windows over the SAME partitioning:
    # the aggregate-join form referenced the deviation relation twice
    # and (subtrees recompute) scanned events four times; here events
    # scans once and shuffles once — the two Window operators share the
    # event_type exchange, the final aggregate is partial-ready
    w = Window.partitionBy("event_type")
    # value pinned to DOUBLE before the percentile: on a DECIMAL-typed
    # lake Spark interpolates in double while DuckDB's quantile_cont
    # would interpolate in decimal and round the midpoint to the
    # column scale (decimalprice driftlab layout)
    dev = (
        ev.withColumn("v", F.col("value").cast("double"))
        .withColumn("med", F.expr("percentile(v, 0.5)").over(w))
        .withColumn("adev", F.abs(F.col("v") - F.col("med")))
    )
    flagged = dev.withColumn(
        "mad", F.expr("percentile(adev, 0.5)").over(w)
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(
            F.abs(F.col("v") - F.col("med")) > 5.0 * F.col("mad")
        ).alias("n_anomalies"),
        F.first("med").alias("med"),
        F.first("mad").alias("mad"),
    )


ORACLE_INCREMENTAL_STATS = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,9))), 2) AS DOUBLE)
         AS sum_value
FROM events GROUP BY event_type
"""


@query("incremental_stats", oracle=ORACLE_INCREMENTAL_STATS)
def q_incremental_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: yesterday's stored partial
    aggregates merge with today's delta WITHOUT rescanning history —
    count and decimal sum are mergeable partials (the property every
    nightly-statistics table should be stored in; the reference
    recomputes its stats tables from scratch each night,
    ``bin/ztf/archive_statistics.py``). The query splits events on an
    id midpoint, aggregates each half independently, merges, and the
    oracle is the direct full aggregate — proving merge(partials) ≡
    aggregate(all), the algebra that makes 100 TB stats O(one night)
    per night."""
    ev = load_table(spark, sf_dir, "events")
    mid = 5000
    half = lambda pred: (  # noqa: E731 — two independent partial aggs
        ev.filter(pred)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("value")).alias("sv"),
        )
    )
    partials = half(F.col("event_id") < mid).unionByName(
        half(F.col("event_id") >= mid)
    )
    return (
        partials.groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.round(F.sum("sv"), 2).cast("double").alias("sum_value"),
        )
    )


ORACLE_RESERVOIR_SAMPLE = """
SELECT event_type, event_id, user_id, rk FROM (
  SELECT event_type, event_id, user_id,
         row_number() OVER (PARTITION BY event_type
             ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk
  FROM events
) WHERE rk <= 3
"""


@query("reservoir_sample", oracle=ORACLE_RESERVOIR_SAMPLE)
def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact-k deterministic 'reservoir': the k rows with the
    smallest md5(event_id) per event_type. Hash-ordering makes the draw
    (a) uniform-ish, (b) stable across engines and cluster sizes — the
    property an audit-reproducible training-data sample needs — and (c)
    expressible as one partitioned window, no global sort. md5 (not
    xxhash64) because both engines implement identical RFC 1321 hex
    digests, so the oracle is exact."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("event_type", "event_id", "user_id", "rk")
    )


ORACLE_EQUIDEPTH_HISTOGRAM = """
SELECT event_type, decile, COUNT(*) AS n, MIN(value) AS lo, MAX(value) AS hi
FROM (
  SELECT event_type, value,
         ntile(10) OVER (PARTITION BY event_type
             ORDER BY value, event_id) AS decile
  FROM events WHERE value IS NOT NULL
)
GROUP BY event_type, decile
"""


@query("equidepth_histogram", oracle=ORACLE_EQUIDEPTH_HISTOGRAM)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-bucketed) histogram per event_type: NTILE
    deciles over (value, event_id) — the tie-break column makes the
    bucket assignment a total order, so both engines bucket identically.
    One window partitioned by type + one aggregate; the scale caveat is
    the per-partition sort inside the window, which is the textbook
    trade for exact equi-depth (the sketch twin is ``approx_quantiles``)."""
    # NULL values have no position in a value distribution — and their
    # ORDER BY placement differs across engines (Spark ASC NULLS FIRST,
    # DuckDB NULLS LAST), shifting every bucket (driftlab nullmeasure)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.withColumn("decile", F.ntile(10).over(w))
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


@query(
    "approx_quantiles",
    rows_only="sketch estimates are engine-specific; the error bound against the exact quantiles is asserted in tests/test_pipeline_ops.py",
)
def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch twin of the exact ``percentiles`` query:
    ``approx_percentile`` (KLL-style mergeable sketch, map-side
    partials, fixed memory) — the posture that replaces the exact
    full-sort path at 100 TB (see SCALING.md "Exact percentile is the
    oracle posture"). Approximate by design → rows-only driver check;
    the error bound vs the exact quantiles is asserted in
    ``tests/test_pipeline_ops.py``.

    ROWS-ONLY BY DESIGN, permanently: the operator's POINT is the engine-specific mergeable
    sketch — a deterministic portable twin would have to replace the
    sketch with exact rank arithmetic, which is precisely what the
    already-oracled ``percentiles`` / ``grid_quantiles`` twins pin.
    Those cover the semantics; this row covers the 100 TB posture."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.percentile_approx(
            "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), 10000
        ).alias("qs"),
        F.count(F.lit(1)).alias("n"),
    )
    return q.select(
        "event_type",
        F.col("qs").getItem(0).alias("p50"),
        F.col("qs").getItem(1).alias("p90"),
        F.col("qs").getItem(2).alias("p99"),
        "n",
    )


ORACLE_DISTRIBUTION_RANKS = """
SELECT event_type, event_id, value,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd,
       nth_value(value, 2) OVER (PARTITION BY event_type
           ORDER BY value, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_low
FROM events
WHERE event_id < 2000 AND value IS NOT NULL
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
"""


@query("distribution_ranks", oracle=ORACLE_DISTRIBUTION_RANKS)
def q_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-position window family (percent_rank, cume_dist,
    nth_value over an explicit running frame) — the remaining §2.7
    ranking functions ``window_suite`` doesn't carry. Both fractions
    are exact rationals of (rank, n) so the doubles agree bit-for-bit;
    the unique event_id tie-break pins every position."""
    # NULL values excluded: no rank position, and cross-engine ASC NULL
    # placement differs (driftlab nullmeasure)
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_id") < 2000) & F.col("value").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_type",
        "event_id",
        "value",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.nth_value("value", 2).over(wf).alias("second_low"),
    )


ORACLE_PERCENTILES = """
-- CAST AS DOUBLE mirrors the operator: on a DECIMAL-typed lake,
-- quantile_cont would otherwise interpolate in decimal and round the
-- midpoint to the column scale (decimalprice driftlab layout, r6)
SELECT l_returnflag,
       quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS p50_price,
       quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9) AS p90_price,
       quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS p50_qty
FROM lineitem GROUP BY l_returnflag
"""


@query("percentiles", oracle=ORACLE_PERCENTILES)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentiles per group via the size-gated exact/approx swap
    (``archive/statistics.py:grouped_percentiles``): below 1 GB of
    Catalyst-estimated input the exact ``percentile`` runs (matches
    ``quantile_cont`` bit-for-bit — the driver scale); above it, the
    3-key group would funnel EVERY value of the column into 3 unbounded
    aggregation states, so the gate swaps in ``percentile_approx``
    (bounded, mergeable Greenwald–Khanna state — the 100 TB path).
    The oracle stays exact: driver scale is under the gate."""
    from fink_broker_spark.archive.statistics import grouped_percentiles

    li = load_table(spark, sf_dir, "lineitem")
    return grouped_percentiles(
        li,
        ["l_returnflag"],
        {
            "p50_price": ("l_extendedprice", 0.5),
            "p90_price": ("l_extendedprice", 0.9),
            "p50_qty": ("l_quantity", 0.5),
        },
    )


@query(
    "approx_cardinality",
    rows_only="sketch estimates are engine-specific; error bounds are asserted in tests/test_sketches.py",
)
def q_approx_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality three ways per event_type (exact / HLL++ scalar /
    DataSketches HLL), plus an ALL row whose estimate comes from
    MERGING the per-type sketches — the fixed-size mergeable-partial
    pattern that replaces exact countDistinct at 100 TB. Estimates are
    engine-specific → rows-only driver check; error bounds and
    merge associativity are pinned in tests/test_sketches.py."""
    from fink_broker_spark.functions.sketches import (
        cardinality_report,
        hll_merged_estimate,
        hll_partials,
    )

    ev = load_table(spark, sf_dir, "events")
    per_type = cardinality_report(ev, ["event_type"], "user_id")
    partials = hll_partials(ev, ["event_type"], "user_id")
    merged = hll_merged_estimate(partials).select(
        F.lit("ALL").alias("event_type"),
        F.lit(None).cast("bigint").alias("exact"),
        F.lit(None).cast("bigint").alias("approx"),
        F.col("estimate").alias("hll_estimate"),
    )
    return per_type.unionByName(merged)


ORACLE_CMS_HEAVY_HITTERS = """
WITH hashes(r, p, s) AS (
  VALUES (0, 2654435761, 0), (1, 2246822519, 40503), (2, 3266489917, 88057)
),
pos AS (
  SELECT user_id,
         r, ((user_id % 1000003) * p + s) % 512 AS pos
  FROM events CROSS JOIN hashes
),
sketch AS (SELECT r, pos, COUNT(*) AS counter FROM pos GROUP BY 1, 2),
probes AS (SELECT DISTINCT user_id FROM events),
ppos AS (
  SELECT user_id, r, ((user_id % 1000003) * p + s) % 512 AS pos
  FROM probes CROSS JOIN hashes
),
est AS (
  SELECT user_id, MIN(counter) AS cms_count
  FROM ppos JOIN sketch USING (r, pos)
  GROUP BY user_id
),
exact AS (SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY 1)
SELECT user_id, cms_count, exact_count
FROM est JOIN exact USING (user_id)
WHERE cms_count >= 70
"""


@query("cms_heavy_hitters", oracle=ORACLE_CMS_HEAVY_HITTERS)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a deterministic count-min sketch
    (``functions/sketches.py``): build a 3×512 counter grid over event
    user ids in one group-aggregate (map-side partials keep shuffle
    volume ≤ depth·width per partition, constant in the key count),
    estimate every distinct user by the min of its three counters, and
    report users whose estimate crosses the threshold next to their
    exact count (est ≥ exact always — collisions only add).

    The row hashes are ANSI-safe integer arithmetic, so the DuckDB
    oracle builds the *same* sketch and the estimates match exactly —
    the sketch is verified as a computation, not just a bound."""
    from fink_broker_spark.functions.sketches import cms_build, cms_estimate

    from fink_broker_spark.functions.sketches import cms_position

    ev = load_table(spark, sf_dir, "events")
    sketch = cms_build(ev, "user_id", depth=3, width=512)
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    # single-use chain: the exact aggregate IS the probe relation, and
    # exact_count rides through the position-explode so no second
    # reference to the aggregate (Spark recomputes shared subtrees —
    # a separate probes branch meant a third scan of events)
    positions = F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                cms_position("user_id", r, 512).alias("pos"),
            )
            for r in range(3)
        ]
    )
    probe_pos = exact.select(
        "user_id", "exact_count", F.explode(positions).alias("rp")
    ).select(
        "user_id",
        "exact_count",
        F.col("rp.r").alias("r"),
        F.col("rp.pos").alias("pos"),
    )
    return (
        probe_pos.join(F.broadcast(sketch), on=["r", "pos"], how="left")
        .groupBy("user_id", "exact_count")
        .agg(
            F.min(F.coalesce("counter", F.lit(0))).alias("cms_count")
        )
        .filter(F.col("cms_count") >= 70)
        .select("user_id", "cms_count", "exact_count")
    )


ORACLE_BLOOM_PREFILTER_JOIN = """
SELECT o_orderpriority, count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer
                    WHERE c_mktsegment = 'BUILDING')
GROUP BY o_orderpriority
"""


@query("bloom_prefilter_join", oracle=ORACLE_BLOOM_PREFILTER_JOIN)
def q_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime pre-filter ahead of a semi join
    (``functions/sketches.py:bloom_build``): the dim side (BUILDING
    customers) builds a 128 Kbit filter as a distributed ``bit_or``
    word aggregate — one bounded shuffle, never any driver state — and
    the fact side (orders) tests its key against the broadcast bitset
    with pure codegen bit ops BEFORE the exact semi join. No false
    negatives, so chasing with the exact join gives a result identical
    to the plain semi join — which is exactly what the oracle checks.

    100 TB story: this is Spark's own runtime-filter shape
    (``BloomFilterAggregate``, not SQL-registered) as an explicit
    operator — the fact-side shuffle carries only might-match rows
    (~selectivity + 0.6% fp at 10 bits/key), instead of the whole
    table. One Catalyst honesty note: the default optimizer pushes
    LeftSemi joins below the probe filter
    (``PushLeftSemiLeftAntiThroughJoin``), which is harmless when the
    dim side broadcasts (as here, and the rule-driven order is then
    fine) but defeats the prefilter when the exact join must shuffle —
    the deployment posture for that regime is excluding that one rule,
    pinned with a plan-shape test
    (``tests/test_sketches.py::test_bloom_prefilter_runs_before_
    shuffle_when_pushdown_excluded``: probe inside the cross join,
    before the fact Exchange, semi join above)."""
    from fink_broker_spark.functions.sketches import (
        bloom_build,
        bloom_might_contain,
    )

    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders")
    bf = bloom_build(cust, "c_custkey", num_bits=1 << 17, k=5)
    pre = bloom_might_contain(
        orders.withColumn("c_custkey", F.col("o_custkey")),
        bf,
        "c_custkey",
        num_bits=1 << 17,
        k=5,
    ).drop("c_custkey")
    exact = pre.join(F.broadcast(cust), pre.o_custkey == cust.c_custkey, "left_semi")
    return exact.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


ORACLE_BLOOM_PREFILTER_SHARDED = """
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS total_price
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer
                    WHERE c_mktsegment = 'MACHINERY')
GROUP BY o_orderstatus
"""


@query("bloom_prefilter_sharded", oracle=ORACLE_BLOOM_PREFILTER_SHARDED)
def q_bloom_prefilter_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sharded-bitset regime of the Bloom runtime prefilter
    (``functions/sketches.py:bloom_build(nshards=8)``): ``num_bits`` is
    split across 8 shard bitsets, keys route by a salted xxhash64, and
    the probe is an equi-join on shard id — plan-asserted to contain NO
    cross/nested-loop join (``tests/test_sketches.py::
    test_bloom_sharded_probe_is_equi_join_not_cross``). Result is
    exact (fp rows chased by the exact semi join), so the oracle is
    the plain semi join.

    100 TB story: this is the posture when the single bitset outgrows
    broadcast comfort — 1e9 keys at 10 bits/key is a 1.25 GB row; 128
    shards of ~10 MB each stay hash-join-able, and the shard key is
    xxhash64-uniform so the join cannot skew."""
    from fink_broker_spark.functions.sketches import (
        bloom_build,
        bloom_might_contain,
    )

    supp = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "MACHINERY")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders")
    bf = bloom_build(supp, "c_custkey", num_bits=1 << 17, k=5, nshards=8)
    pre = bloom_might_contain(
        orders.withColumn("c_custkey", F.col("o_custkey")),
        bf,
        "c_custkey",
        num_bits=1 << 17,
        k=5,
        nshards=8,
    ).drop("c_custkey")
    exact = pre.join(
        F.broadcast(supp), pre.o_custkey == supp.c_custkey, "left_semi"
    )
    return exact.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


ORACLE_REGRESSION_TREND = """
WITH t AS (
  -- finite-value domain, mirroring the engine (nanemb layout, r10)
  SELECT event_type,
         CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS x,
         CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS ym
  FROM events
  WHERE value IS NULL OR isfinite(value)
),
g AS (
  SELECT event_type, count(*) AS n, SUM(x) AS sx, SUM(ym) AS sym,
         SUM(x * x) AS sxx, SUM(ym * ym) AS syym, SUM(x * ym) AS sxym
  FROM t GROUP BY event_type
)
SELECT event_type, n,
       CASE WHEN n * sxx - sx * sx > 0 THEN
         CAST(n * sxym - sx * sym AS DOUBLE)
           / (CAST(n * sxx - sx * sx AS DOUBLE) * 1000.0) END AS slope,
       CASE WHEN n * sxx - sx * sx > 0 THEN
         (CAST(sym AS DOUBLE) / 1000.0
          - (CAST(n * sxym - sx * sym AS DOUBLE)
             / (CAST(n * sxx - sx * sx AS DOUBLE) * 1000.0))
            * CAST(sx AS DOUBLE))
           / CAST(n AS DOUBLE) END AS intercept,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syym - sym * sym > 0 THEN
         CAST(n * sxym - sx * sym AS DOUBLE)
           / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(n * syym - sym * sym AS DOUBLE)) END AS corr
FROM g
"""


@query("regression_trend", oracle=ORACLE_REGRESSION_TREND)
def q_regression_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group linear trend + correlation from exact-integer moment
    sums — the aggregate-regression family (slope/intercept/corr) in
    the decimal-exact oracle discipline.

    ``x`` is the whole-day epoch index (exact long), ``y`` the event
    value integerized to milli-units (3 decimals → exact int64). The
    five moment sums are exact integers, products cross through
    DECIMAL(38,0)/HUGEINT (no float accumulation order anywhere); the
    final
    slope/intercept/corr are fixed IEEE expression trees over
    exact-valued doubles, so Spark and DuckDB agree bit-for-bit.
    Native ``F.regr_slope``/``regr_intercept``/``corr`` are asserted
    ≈-equal in ``tests/test_operators.py`` (they accumulate in float —
    correct, but not hash-stable across engines; this decomposition is
    how to make regression aggregates oracle-checkable).

    Scale: one partial-aggregating shuffle on the group key; the
    moment sums are 5 numbers per group — the same mergeable-partials
    shape as ``incremental_stats``.

    Domain: finite values only (NULL rows kept, as before): Spark's
    floor(double) silently maps NaN→0 / ±Inf→±Long.MAX where DuckDB's
    BIGINT cast hard-errors (nanemb driftlab layout)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNull() | _finite("value")
    )
    x = F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000)).cast(
        "long"
    )
    # milli-unit integerization: value carries 3 decimals, so ym is an
    # exact int64 and every moment sum is exact integer arithmetic;
    # products go through DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so
    # nothing overflows or rounds before the final double conversion
    ym = F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long")
    g = (
        ev.select(F.col("event_type"), x.alias("x"), ym.alias("ym"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("ym").alias("sym"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("ym") * F.col("ym")).alias("syym"),
            F.sum(F.col("x") * F.col("ym")).alias("sxym"),
        )
    )

    def big(c):
        return F.col(c).cast("decimal(38,0)")

    num_m = (big("n") * big("sxym") - big("sx") * big("sym")).cast("double")
    den_x = (big("n") * big("sxx") - big("sx") * big("sx")).cast("double")
    den_ym = (big("n") * big("syym") - big("sym") * big("sym")).cast(
        "double"
    )
    slope = num_m / (den_x * F.lit(1000.0))
    # zero x-variance (all events on one day: onerow/constant lakes)
    # has no trend line: NULL, never x/0.0 (ANSI throws, DuckDB ±inf)
    return g.select(
        "event_type",
        "n",
        F.when(den_x > 0, slope).alias("slope"),
        F.when(
            den_x > 0,
            (
                F.col("sym").cast("double") / F.lit(1000.0)
                - slope * F.col("sx").cast("double")
            )
            / F.col("n").cast("double"),
        ).alias("intercept"),
        F.when((den_x > 0) & (den_ym > 0), num_m / F.sqrt(den_x * den_ym)).alias(
            "corr"
        ),
    )


ORACLE_FADING_TREND = """
WITH recent AS (
  SELECT user_id,
         CAST(21 - row_number() OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts) DESC,
                                               event_id DESC)
              AS BIGINT) AS x,
         CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS ym
  FROM events
  QUALIFY x >= 1
),
g AS (
  SELECT user_id, count(*) AS n, sum(x) AS sx, sum(ym) AS sym,
         sum(x * x) AS sxx, sum(x * ym) AS sxym
  FROM recent GROUP BY user_id
)
SELECT user_id, n,
       CAST(CAST(n AS DECIMAL(38,0)) * CAST(sxym AS DECIMAL(38,0))
            - CAST(sx AS DECIMAL(38,0)) * CAST(sym AS DECIMAL(38,0))
            AS DOUBLE)
       / (CAST(CAST(n AS DECIMAL(38,0)) * CAST(sxx AS DECIMAL(38,0))
               - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))
               AS DOUBLE) * 1000.0) AS slope
FROM g WHERE n >= 5
ORDER BY slope, user_id
LIMIT 50
"""


@query("fading_trend", oracle=ORACLE_FADING_TREND)
def q_fading_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-object trailing-window trend: the fading-transient detector —
    fit a slope over each user's LAST 20 observations and surface the
    50 steepest declines (the alerts a follow-up scheduler would chase
    first; same science shape as a magnitude-decline cut on recent
    detections).

    Plan: one row_number window on (user, ts desc) keeps the trailing
    20 rows (state = one counter per key), then ONE per-user moment-sum
    aggregate in the ``regression_trend`` decimal-exact discipline
    (x = in-window time index, exact small int; y integerized to
    milli-units; products cross DECIMAL(38,0)) and a TakeOrdered
    bottom-50. No per-key collect, no UDF; at 100 TB this is a window
    + aggregate over the same key partitioning — one shuffle total."""
    ev = load_table(spark, sf_dir, "events")
    # symmetric µs ordering key (see q_event_transitions note)
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts").desc(), F.col("event_id").desc()
    )
    recent = (
        ev.select("user_id", "event_id", "ts", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select(
            "user_id",
            (F.lit(21) - F.col("rn")).cast("long").alias("x"),
            F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias("ym"),
        )
    )
    g = recent.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("ym").alias("sym"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("ym")).alias("sxym"),
    )

    def big(c):
        return F.col(c).cast("decimal(38,0)")

    num = (big("n") * big("sxym") - big("sx") * big("sym")).cast("double")
    den = (big("n") * big("sxx") - big("sx") * big("sx")).cast("double")
    slope = num / (den * F.lit(1000.0))
    return (
        g.filter(F.col("n") >= 5)
        .select("user_id", "n", slope.alias("slope"))
        .orderBy("slope", "user_id")
        .limit(50)
    )


ORACLE_CUSUM_CHANGEPOINT = """
WITH staged AS (
  SELECT event_type, epoch_us(ts) AS t, event_id,
         CAST(CASE WHEN isfinite(value)
          THEN round(value, 9) END AS DECIMAL(18,9)) AS x
  FROM events
),
means AS (
  SELECT event_type, CAST(sum(x) AS DECIMAL(24,9)) AS sx,
         count(*) AS n
  FROM staged GROUP BY event_type
),
run AS (
  SELECT s.event_type, t, n,
         CAST(abs(
           CAST(SUM(x) OVER (PARTITION BY s.event_type
                             ORDER BY t, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS DECIMAL(24,9))
             * CAST(n AS DECIMAL(9,0))
           - CAST(row_number() OVER (PARTITION BY s.event_type
                                     ORDER BY t, event_id)
                  AS DECIMAL(9,0)) * sx
         ) AS DECIMAL(35,9)) AS abs_t
  FROM staged s JOIN means USING (event_type)
),
mx AS (
  SELECT event_type, max(abs_t) AS max_t, max(n) AS n
  FROM run GROUP BY event_type
)
SELECT r.event_type, mx.n,
       CAST(ROUND(mx.max_t, 2) AS DOUBLE) / mx.n AS max_cusum,
       min(r.t) AS t_at_max
FROM run r JOIN mx USING (event_type)
WHERE r.abs_t = mx.max_t
GROUP BY r.event_type, mx.n, mx.max_t
"""


@query("cusum_changepoint", oracle=ORACLE_CUSUM_CHANGEPOINT)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point scan per event type: running sum of
    mean-deviations over the time-ordered series; the maximum
    |S_i| (and the first time it is reached) locates the strongest
    level shift — the drift detector a data-quality monitor runs per
    partition before admitting a day.

    Plan: per-type mean via ONE aggregate broadcast back (5 rows — not
    an unbounded window, whose state is the whole partition); running
    sum via a ROWS window on the (type, time) ordering; two bounded
    re-aggregates pick the max and its first position by EXACT decimal
    equality (no arg_max, whose tie order is engine-specific). All
    deviations are decimal-exact, so Spark and DuckDB agree
    bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    staged = ev.select(
        "event_type",
        F.unix_micros(F.col("ts")).alias("t"),
        "event_id",
        # scale-9 summand round (3 guard digits — see q_phase_fold)
        F.round("value", 9).cast("decimal(18,9)").alias("x"),
    )
    means = staged.groupBy("event_type").agg(
        F.sum("x").cast("decimal(24,9)").alias("sx"),
        F.count(F.lit(1)).alias("n"),
    )
    # DIVISION-FREE deviations: S_i = P_i - i*mean, so n*S_i =
    # n*P_i - i*sx — every term exact decimal/integer (the naive
    # mean = sx/n is a decimal/bigint division, which DuckDB performs
    # in DOUBLE while Spark divides exactly with HALF_UP — a
    # half-boundary quotient would split the engines). The single
    # division happens ONCE at the end, in double, over exact inputs.
    wsum = (
        Window.partitionBy("event_type")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wrow = Window.partitionBy("event_type").orderBy("t", "event_id")
    run = (
        staged.join(F.broadcast(means), "event_type")
        .withColumn("p_run", F.sum("x").over(wsum).cast("decimal(24,9)"))
        .withColumn("i", F.row_number().over(wrow).cast("decimal(9,0)"))
        .withColumn(
            "abs_t",
            F.abs(
                F.col("p_run") * F.col("n").cast("decimal(9,0)")
                - F.col("i") * F.col("sx")
            ).cast("decimal(35,9)"),
        )
        .select("event_type", "t", "n", "abs_t")
    )
    mx = run.groupBy("event_type").agg(
        F.max("abs_t").alias("max_t"), F.max("n").alias("n")
    )
    at = (
        run.join(
            F.broadcast(mx.select("event_type", "max_t")), "event_type"
        )
        .filter(F.col("abs_t") == F.col("max_t"))
        .groupBy("event_type")
        .agg(F.min("t").alias("t_at_max"))
    )
    return mx.join(at, "event_type").select(
        "event_type",
        "n",
        # scale-2 round before the double cast: max_t is DECIMAL(35,9)
        # whose unscaled value outgrows 2^53 (see q_promo_revenue)
        (F.round("max_t", 2).cast("double") / F.col("n")).alias(
            "max_cusum"
        ),
        "t_at_max",
    )


ORACLE_AUTOCORRELATION = """
WITH staged AS (
  -- finite-value domain, mirroring the engine (nanemb layout, r10):
  -- Spark floor(double) silently corrupts NaN/Inf where this BIGINT
  -- cast hard-errors; NULL rows keep their original lag semantics
  SELECT event_type, ts, event_id,
         CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS y
  FROM events
  WHERE value IS NULL OR isfinite(value)
),
pairs AS (
  SELECT event_type, 1 AS lag, y,
         lag(y, 1) OVER (PARTITION BY event_type
                         ORDER BY epoch_us(ts), event_id) AS y_lag
  FROM staged
  UNION ALL
  SELECT event_type, 2, y,
         lag(y, 2) OVER (PARTITION BY event_type
                         ORDER BY epoch_us(ts), event_id)
  FROM staged
  UNION ALL
  SELECT event_type, 3, y,
         lag(y, 3) OVER (PARTITION BY event_type
                         ORDER BY epoch_us(ts), event_id)
  FROM staged
),
g AS (
  SELECT event_type, lag, count(*) AS n, sum(y) AS sy, sum(y_lag) AS sl,
         sum(y * y) AS syy, sum(y_lag * y_lag) AS sll,
         sum(y * y_lag) AS syl
  FROM pairs WHERE y_lag IS NOT NULL
  GROUP BY event_type, lag
)
SELECT event_type, lag, n,
       CASE WHEN CAST(CAST(n AS DECIMAL(38,0)) * CAST(syy AS DECIMAL(38,0))
                   - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))
                   AS DOUBLE) > 0
             AND CAST(CAST(n AS DECIMAL(38,0)) * CAST(sll AS DECIMAL(38,0))
                   - CAST(sl AS DECIMAL(38,0)) * CAST(sl AS DECIMAL(38,0))
                   AS DOUBLE) > 0
       THEN
       -- terminal scale-9 round absorbs the 1-ulp int128→double
       -- conversion split on high-magnitude lakes (bigmoney driftlab)
       ROUND(
       CAST(CAST(n AS DECIMAL(38,0)) * CAST(syl AS DECIMAL(38,0))
            - CAST(sy AS DECIMAL(38,0)) * CAST(sl AS DECIMAL(38,0))
            AS DOUBLE)
       / SQRT(CAST(CAST(n AS DECIMAL(38,0)) * CAST(syy AS DECIMAL(38,0))
                   - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))
                   AS DOUBLE)
              * CAST(CAST(n AS DECIMAL(38,0)) * CAST(sll AS DECIMAL(38,0))
                     - CAST(sl AS DECIMAL(38,0)) * CAST(sl AS DECIMAL(38,0))
                     AS DOUBLE)), 9)
       END AS acf
FROM g
"""


@query("autocorrelation", oracle=ORACLE_AUTOCORRELATION)
def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the value series at lags 1-3 per event type
    (the time-domain twin of ``periodogram_power``): exact-integer
    moment sums over (x_i, x_{i+lag}) pairs from ``lag`` windows —
    milli-unit integerization makes every sum exact, and the final
    Pearson formula is a fixed IEEE tree over exact-valued doubles
    (same discipline as ``regression_trend``). One shuffle on the type
    partition; the lag arms ride the same window ordering.

    Domain: finite values only (NULL rows kept — they lag through as
    NULL pairs exactly as before): Spark's floor(double) silently maps
    NaN→0 / ±Inf→±Long.MAX where DuckDB's BIGINT cast hard-errors
    (nanemb driftlab layout); a no-op on clean lakes."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNull() | _finite("value")
    )
    # symmetric µs ordering key (see q_event_transitions note)
    w = Window.partitionBy("event_type").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    ym = F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long")
    staged = ev.select(
        "event_type", "ts", "event_id", ym.alias("y")
    )
    arms = []
    for lag in (1, 2, 3):
        arms.append(
            staged.withColumn("y_lag", F.lag("y", lag).over(w))
            .filter(F.col("y_lag").isNotNull())
            .select(
                "event_type",
                F.lit(lag).alias("lag"),
                "y",
                "y_lag",
            )
        )
    pairs = arms[0].unionByName(arms[1]).unionByName(arms[2])
    g = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum("y_lag").alias("sl"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("y_lag") * F.col("y_lag")).alias("sll"),
        F.sum(F.col("y") * F.col("y_lag")).alias("syl"),
    )

    def big(c):
        return F.col(c).cast("decimal(38,0)")

    num = (big("n") * big("syl") - big("sy") * big("sl")).cast("double")
    den_y = (big("n") * big("syy") - big("sy") * big("sy")).cast("double")
    den_l = (big("n") * big("sll") - big("sl") * big("sl")).cast("double")
    return g.select(
        "event_type",
        "lag",
        "n",
        # a constant (or single-pair) series has zero variance in one
        # arm: acf is undefined → NULL, never a division (ANSI throws
        # where DuckDB would emit inf/nan — driftlab sparse layout).
        # Terminal scale-9 round: on high-magnitude lakes (bigmoney
        # driftlab) the decimal(38,0) moments outgrow 2⁶³ where
        # DuckDB's int128→double conversion is not correctly rounded
        # (the wide-integer corollary) — a 1-ulp input split that
        # the round absorbs (|acf| ≤ 1, unit 1e-9 ≫ ulp 1e-17; the
        # measured-safe computed-double zone)
        F.round(
            F.when(
                (den_y > 0) & (den_l > 0), num / F.sqrt(den_y * den_l)
            ),
            9,
        ).alias("acf"),
    )


ORACLE_AB_TEST_ZSCORE = """
WITH per_user AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' AND value >= 990.0
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY 1
), armed AS (
  SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
           % 2 AS arm,
         converted
  FROM per_user
), agg AS (
  SELECT
    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
    SUM(CASE WHEN arm = 0 AND converted = 1 THEN 1 ELSE 0 END) AS x_a,
    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
    SUM(CASE WHEN arm = 1 AND converted = 1 THEN 1 ELSE 0 END) AS x_b
  FROM armed
), derived AS (
  -- count guards mirror the Spark plan: an empty arm yields NULL p/se
  SELECT n_a, x_a, n_b, x_b,
         CASE WHEN n_a > 0
              THEN CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) END AS p_a,
         CASE WHEN n_b > 0
              THEN CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) END AS p_b,
         CASE WHEN n_a > 0 AND n_b > 0 THEN
           sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                * (1.0 - CAST(x_a + x_b AS DOUBLE)
                         / CAST(n_a + n_b AS DOUBLE))
                * (1.0 / CAST(n_a AS DOUBLE)
                   + 1.0 / CAST(n_b AS DOUBLE))) END AS se
  FROM agg
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(x_a AS BIGINT) AS x_a,
       CAST(n_b AS BIGINT) AS n_b, CAST(x_b AS BIGINT) AS x_b,
       p_a, p_b,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
         CASE WHEN se > 0.0 THEN (p_a - p_b) / se ELSE 0.0 END
       END AS z_score
FROM derived
"""


@query("ab_test_zscore", oracle=ORACLE_AB_TEST_ZSCORE)
def q_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: deterministic hash-bucketed arm
    assignment (md5-hex → integer parity — the cross-engine hash the
    parity discipline prescribes; xxhash64 has no DuckDB twin), per-user
    conversion (any ``purchase`` event), then the two-proportion z.

    Scale shape: ONE per-user aggregate (the only shuffle) + a single
    4-counter global aggregate (map-side combinable); the z itself is
    driver-scale scalar math. The z is emitted as a RAW double from an
    IDENTICAL IEEE op tree over the four exact integer counters — every
    op (÷ × + − sqrt) is correctly rounded, so the doubles are bit-equal
    across engines; no transcendentals anywhere."""
    ev = load_table(spark, sf_dir, "events")
    # conversion = any HIGH-VALUE purchase: with ~66 events/user almost
    # every user has *some* purchase, which degenerates p→1 and se→0
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= 990.0),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .select(
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("long")
                % 2
            ).alias("arm"),
            "converted",
        )
    )
    agg = per_user.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(
            F.when((F.col("arm") == 0) & (F.col("converted") == 1), 1).otherwise(0)
        ).alias("x_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(
            F.when((F.col("arm") == 1) & (F.col("converted") == 1), 1).otherwise(0)
        ).alias("x_b"),
    )
    p_a = F.col("x_a").cast("double") / F.col("n_a").cast("double")
    p_b = F.col("x_b").cast("double") / F.col("n_b").cast("double")
    p = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(
        p
        * (F.lit(1.0) - p)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    # an EMPTY arm (tiny/onerow lakes) has no proportion at all: every
    # division sits under a count guard — ANSI Spark throws on x/0.0
    # where DuckDB yields ±inf
    okc = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return agg.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.when(F.col("n_a") > 0, p_a).alias("p_a"),
        F.when(F.col("n_b") > 0, p_b).alias("p_b"),
        # lazy CASE guards the degenerate p∈{0,1} corpus (se = 0) on
        # both engines — tiny lakes can have zero conversions
        F.when(
            okc,
            F.when(se > F.lit(0.0), (p_a - p_b) / se).otherwise(F.lit(0.0)),
        ).alias("z_score"),
    )


ORACLE_EWMA_SMOOTH = """
-- CAST AS DOUBLE mirrors the operator's pinned staging
-- (decimalprice driftlab layout, r6)
WITH ev AS (
  SELECT user_id, event_id, ts, CAST(value AS DOUBLE) AS value
  FROM events
), seq AS (
  SELECT user_id, event_id, value,
         lag(value, 1) OVER w AS v1, lag(value, 2) OVER w AS v2,
         lag(value, 3) OVER w AS v3, lag(value, 4) OVER w AS v4,
         lag(value, 5) OVER w AS v5, lag(value, 6) OVER w AS v6,
         lag(value, 7) OVER w AS v7,
         row_number() OVER w AS rn
  FROM ev
  WHERE user_id % 20 = 0
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
)
SELECT user_id, event_id, value,
       (value + v1 * 0.5 + v2 * 0.25 + v3 * 0.125 + v4 * 0.0625
        + v5 * 0.03125 + v6 * 0.015625 + v7 * 0.0078125)
       / 1.9921875 AS ewma
FROM seq WHERE rn >= 8
"""


@query("ewma_smooth", oracle=ORACLE_EWMA_SMOOTH)
def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing with α = 1/2 over the trailing 8 observations per
    user. α = 1/2 is chosen deliberately: every weight 2⁻ᵏ is a power
    of two, so each ``value·2⁻ᵏ`` product is EXACT (pure exponent
    shift, no mantissa rounding) and the normalizer 255/128 is exactly
    representable — the whole expression is a fixed left-to-right IEEE
    tree that both engines evaluate bit-identically. Rows with fewer
    than 8 trailing observations are excluded so the normalizer is a
    constant (varying denominators would need per-row weight sums).
    Ordering is the symmetric (µs-epoch, event_id) key — never raw ts.

    Scale: ONE window over the user partition (8 bounded lags of O(1)
    state); the user-id modulus is output thinning, pushed to the scan."""
    # value pinned to DOUBLE up front: on a DECIMAL-typed lake the
    # engines evaluate decimal×double terms with different promotion
    # trees (1-ulp splits — decimalprice driftlab layout); the
    # cast is a no-op on the committed double lake
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("double")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.expr("unix_micros(ts)"), "event_id"
    )
    lags = [F.col("value")] + [
        F.lag("value", k).over(w) for k in range(1, 8)
    ]
    weights = [1.0, 0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625, 0.0078125]
    num = lags[0]
    for term, wt in zip(lags[1:], weights[1:]):
        num = num + term * F.lit(wt)
    return (
        ev.filter(F.col("user_id") % 20 == 0)
        .select(
            "user_id",
            "event_id",
            "value",
            (num / F.lit(1.9921875)).alias("ewma"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") >= 8)
        .drop("rn")
    )


ORACLE_MAD_SCORES = """
-- CAST AS DOUBLE mirrors grouped_percentiles' double-pinned input
-- (decimalprice driftlab layout, r6)
WITH ev AS (
  SELECT event_type, CAST(value AS DOUBLE) AS value FROM events
), med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM ev GROUP BY 1
), dev AS (
  SELECT e.event_type, m.med, abs(e.value - m.med) AS ad
  FROM ev e JOIN med m USING (event_type)
)
SELECT event_type, ANY_VALUE(med) AS med,
       quantile_cont(ad, 0.5) AS mad
FROM dev GROUP BY event_type
"""


@query("mad_scores", oracle=ORACLE_MAD_SCORES)
def q_mad_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type — the robust-dispersion
    twin of ``anomaly_scores``' mean/stddev. Two grouped median passes
    through ``archive/statistics.py:grouped_percentiles``: the gate is
    evaluated ONCE on the scan input and the SAME mode is passed to
    both passes (the second pass's input is a join, whose Catalyst
    estimate is join-product-derived and must not be gated on — the
    ``ext/graph.py`` lesson). Exact mode at driver scale ≡ DuckDB
    ``quantile_cont`` bit-for-bit (proved by ``percentiles``); above
    the gate both passes swap to mergeable ``percentile_approx``.
    |v − med| is one correctly-rounded subtraction of doubles — an
    identical tree on both engines."""
    from fink_broker_spark.archive.statistics import (
        _plan_size_bytes,
        EXACT_PERCENTILE_MAX_BYTES,
        grouped_percentiles,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    size = _plan_size_bytes(ev)
    mode = "exact" if 0 <= size <= EXACT_PERCENTILE_MAX_BYTES else "approx"
    med = grouped_percentiles(
        ev, ["event_type"], {"med": ("value", 0.5)}, mode=mode
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("ad")
    )
    mad = grouped_percentiles(
        dev, ["event_type"], {"mad": ("ad", 0.5)}, mode=mode
    )
    return (
        med.join(mad, "event_type")
        .select("event_type", "med", "mad")
    )


ORACLE_CHISQ_INDEPENDENCE = """
WITH base AS (
  SELECT event_type,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
           % 2 AS arm
  FROM events
), obs AS (
  SELECT event_type, arm, COUNT(*) AS o FROM base GROUP BY 1, 2
), rowm AS (
  SELECT event_type, COUNT(*) AS rt FROM base GROUP BY 1
), colm AS (
  SELECT arm, COUNT(*) AS ct FROM base GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS n FROM base
), cells AS (
  SELECT rowm.event_type, colm.arm, COALESCE(obs.o, 0) AS o,
         rowm.rt, colm.ct, tot.n
  FROM rowm CROSS JOIN colm CROSS JOIN tot
  LEFT JOIN obs ON obs.event_type = rowm.event_type
              AND obs.arm = colm.arm
), terms AS (
  SELECT event_type, arm, n,
         CAST(((CAST(o AS DOUBLE)
                - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(o AS DOUBLE)
                  - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE)))
              / (CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
              AS DECIMAL(18,9)) AS t
  FROM cells
)
SELECT CAST(n AS BIGINT) AS n_events,
       CAST((COUNT(DISTINCT event_type) - 1)
            * (COUNT(DISTINCT arm) - 1) AS INT) AS dof,
       CAST(SUM(t) AS DOUBLE) AS chi2
FROM terms GROUP BY n
"""


@query("chisq_independence", oracle=ORACLE_CHISQ_INDEPENDENCE)
def q_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence: event_type × md5-parity arm
    contingency table. The cell grid is the CROSS of the two margins
    (observed-only cells would silently drop zero cells and bias χ²);
    expected counts and per-cell terms are doubles from exact integer
    margins through one fixed tree, each term decimal(18,9)-rounded
    before the EXACT sum (the order-free float-sum discipline), and
    the 10-term scale-9 sum casts narrowly to double. Everything is
    two tiny aggregates + a margins cross join — driver-scale math on
    top of ONE fact-table pass."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("arm"),
    )
    obs = base.groupBy("event_type", "arm").agg(
        F.count(F.lit(1)).alias("o")
    )
    rowm = base.groupBy("event_type").agg(F.count(F.lit(1)).alias("rt"))
    colm = base.groupBy("arm").agg(F.count(F.lit(1)).alias("ct"))
    tot = base.agg(F.count(F.lit(1)).alias("n"))
    cells = (
        rowm.crossJoin(colm)
        .crossJoin(F.broadcast(tot))
        .join(obs, ["event_type", "arm"], "left")
        .select(
            "event_type",
            "arm",
            F.coalesce("o", F.lit(0)).alias("o"),
            "rt",
            "ct",
            "n",
        )
    )
    e = (F.col("rt") * F.col("ct")).cast("double") / F.col("n").cast(
        "double"
    )
    term = (
        (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e)
    ) / e
    return (
        cells.select(
            "event_type",
            "arm",
            "n",
            term.cast("decimal(18,9)").alias("t"),
        )
        .groupBy("n")
        .agg(
            F.sum("t").cast("double").alias("chi2"),
            (
                (F.countDistinct("event_type") - 1)
                * (F.countDistinct("arm") - 1)
            )
            .cast("int")
            .alias("dof"),
        )
        .select(F.col("n").alias("n_events"), "dof", "chi2")
    )


ORACLE_CORR_MATRIX = """
WITH t AS (
  SELECT CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS q,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS p,
         CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS d
  FROM lineitem
), m AS (
  SELECT count(*) AS n, SUM(q) AS sq, SUM(p) AS sp, SUM(d) AS sd
  FROM t
), g AS (
  SELECT MAX(n) AS n,
         SUM(CAST((CAST(q AS DOUBLE) / 1000.0
                   - (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) / 1000.0)
                  * (CAST(p AS DOUBLE) / 1000000.0
                     - (CAST(sp AS DOUBLE) / CAST(n AS DOUBLE))
                       / 1000000.0)
                  AS DECIMAL(18,7))) AS cqp,
         SUM(CAST((CAST(q AS DOUBLE) / 1000.0
                   - (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) / 1000.0)
                  * (CAST(d AS DOUBLE) / 10.0
                     - (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)) / 10.0)
                  AS DECIMAL(18,7))) AS cqd,
         SUM(CAST((CAST(p AS DOUBLE) / 1000000.0
                   - (CAST(sp AS DOUBLE) / CAST(n AS DOUBLE))
                     / 1000000.0)
                  * (CAST(d AS DOUBLE) / 10.0
                     - (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)) / 10.0)
                  AS DECIMAL(18,7))) AS cpd,
         SUM(CAST((CAST(q AS DOUBLE) / 1000.0
                   - (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) / 1000.0)
                  * (CAST(q AS DOUBLE) / 1000.0
                     - (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) / 1000.0)
                  AS DECIMAL(18,7))) AS vq,
         SUM(CAST((CAST(p AS DOUBLE) / 1000000.0
                   - (CAST(sp AS DOUBLE) / CAST(n AS DOUBLE))
                     / 1000000.0)
                  * (CAST(p AS DOUBLE) / 1000000.0
                     - (CAST(sp AS DOUBLE) / CAST(n AS DOUBLE))
                       / 1000000.0)
                  AS DECIMAL(18,7))) AS vp,
         SUM(CAST((CAST(d AS DOUBLE) / 10.0
                   - (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)) / 10.0)
                  * (CAST(d AS DOUBLE) / 10.0
                     - (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)) / 10.0)
                  AS DECIMAL(18,7))) AS vd
  FROM t CROSS JOIN m
)
SELECT 'quantity_price' AS pair, n,
       ROUND(CASE WHEN vq > 0 AND vp > 0 THEN CAST(cqp AS DOUBLE)
         / sqrt(CAST(vq AS DOUBLE) * CAST(vp AS DOUBLE)) END, 9) AS corr
FROM g
UNION ALL
SELECT 'quantity_discount', n,
       ROUND(CASE WHEN vq > 0 AND vd > 0 THEN CAST(cqd AS DOUBLE)
         / sqrt(CAST(vq AS DOUBLE) * CAST(vd AS DOUBLE)) END, 9)
FROM g
UNION ALL
SELECT 'price_discount', n,
       ROUND(CASE WHEN vp > 0 AND vd > 0 THEN CAST(cpd AS DOUBLE)
         / sqrt(CAST(vp AS DOUBLE) * CAST(vd AS DOUBLE)) END, 9)
FROM g
"""


@query("corr_matrix", oracle=ORACLE_CORR_MATRIX)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the lineitem measures
    (quantity, extendedprice, discount), two-pass centered form.
    Pass 1: exact integer count + cents sums (sub-2⁵³, safe
    everywhere). Pass 2: per-row deviations in per-measure NORMALIZED
    units (fixed literal divisors — correlation is scale-invariant, so
    normalizing keeps every term O(1)-O(10³) and every decimal sum's
    unscaled value far below 2⁵³), each cross/self product rounded to
    decimal(18,7) BEFORE the exact sum, then r = fixed double tree.
    The one-pass n·Σxy − Σx·Σy form was REJECTED: its price-variance
    operand reaches 82 bits and DuckDB's int128→double conversion is
    not correctly rounded above ~2⁶⁴ (measured) — wide exact integers
    must never terminal-cast. Native ``F.corr`` accumulates in float
    and is not hash-stable; this decomposition is. At 100 TB: two
    scans, 7 mergeable aggregation numbers, 3-row output."""
    li = load_table(spark, sf_dir, "lineitem")

    def cents(c):
        return F.floor(F.col(c) * 100 + F.lit(0.5)).cast("long")

    # both aggregation passes evaluate per-row floor/decimal trees in
    # the scan stage — spread the single-row-group scan across cores
    # (guide §2.5; no-op at scale); identical Exchange subtrees, so the
    # physical plan reuses one shuffle for both passes
    t = ensure_scan_parallelism(
        li.select(
            cents("l_quantity").alias("q"),
            cents("l_extendedprice").alias("p"),
            cents("l_discount").alias("d"),
        )
    )
    m = t.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"),
        F.sum("p").alias("sp"),
        F.sum("d").alias("sd"),
    )
    # per-measure normalizers keep deviations O(1)-O(10): quantity in
    # tens, price in $10k units, discount in tenths of a cent-unit
    NORM = {"q": 1000.0, "p": 1000000.0, "d": 10.0}

    def dev(c):
        return F.col(c).cast("double") / F.lit(NORM[c]) - (
            F.col("s" + c).cast("double") / F.col("n").cast("double")
        ) / F.lit(NORM[c])

    def term(a, b, name):
        return F.sum(
            (dev(a) * dev(b)).cast("decimal(18,7)")
        ).alias(name)

    g = t.crossJoin(F.broadcast(m)).agg(
        F.max("n").alias("n"),
        term("q", "p", "cqp"),
        term("q", "d", "cqd"),
        term("p", "d", "cpd"),
        term("q", "q", "vq"),
        term("p", "p", "vp"),
        term("d", "d", "vd"),
    )

    def corr(cab, va, vb):
        # zero-variance operand (constant measure / single row) → NULL,
        # never an x/0.0 (ANSI throws; DuckDB yields ±inf — onerow and
        # constant driftlab layouts).  Terminal scale-9 round: on
        # high-magnitude lakes the decimal(28,7) term sums outgrow the
        # unscaled-2⁵³ safe zone where DuckDB's wide-decimal→double
        # cast double-rounds (bigmoney driftlab) — |r| ≤ 1, so the
        # round absorbs the 1-ulp input split
        return F.round(
            F.when(
                (F.col(va) > 0) & (F.col(vb) > 0),
                F.col(cab).cast("double")
                / F.sqrt(
                    F.col(va).cast("double") * F.col(vb).cast("double")
                ),
            ),
            9,
        )

    # one aggregate row unpivoted with stack — a 3-way union of the
    # same aggregate would replicate the whole two-pass subplan
    scored = g.select(
        "n",
        corr("cqp", "vq", "vp").alias("c1"),
        corr("cqd", "vq", "vd").alias("c2"),
        corr("cpd", "vp", "vd").alias("c3"),
    )
    return scored.selectExpr(
        "stack(3, 'quantity_price', c1, 'quantity_discount', c2, "
        "'price_discount', c3) AS (pair, corr)",
        "n",
    ).select("pair", "n", "corr")


ORACLE_GINI_BY_NATION = """
WITH rev AS (
  SELECT o_custkey,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_cents
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT n.n_name, r.o_custkey, r.rev_cents,
         ROW_NUMBER() OVER (
           PARTITION BY n.n_name ORDER BY r.rev_cents, r.o_custkey
         ) AS i
  FROM rev r
  JOIN customer c ON r.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
), g AS (
  SELECT n_name, count(*) AS n_customers, SUM(rev_cents) AS ssum,
         SUM(i * rev_cents) AS siw
  FROM ranked GROUP BY n_name
)
SELECT n_name AS nation, n_customers,
       CAST(2 * siw - (n_customers + 1) * ssum AS DOUBLE)
         / CAST(n_customers * ssum AS DOUBLE) AS gini
FROM g
"""


@query("gini_by_nation", oracle=ORACLE_GINI_BY_NATION)
def q_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer-revenue inequality per nation —
    the rank-weighted formulation G = (2·Σi·xᵢ − (n+1)·Σxᵢ)/(n·Σxᵢ)
    with xᵢ ascending. Revenue integerizes to exact cents per order
    BEFORE the customer sum (long arithmetic end-to-end), the rank is
    a row_number over the symmetric (rev_cents, custkey) key — fully
    deterministic, no timestamp ordering — and the Gini is one double
    division of scale-0-cast exact operands. Plan: one orders
    aggregate (|customers| rows), one small join to customer for the
    nation key, one |customers|-row window per nation, one final
    25-row aggregate. At 100 TB the only fact-table shuffle is the
    per-customer sum; everything after runs on dimension-sized data."""
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    rev = (
        o.select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    ranked = (
        rev.join(
            cu.select("c_custkey", "c_nationkey").join(
                F.broadcast(na.select("n_nationkey", "n_name")),
                F.col("c_nationkey") == F.col("n_nationkey"),
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("n_name", "o_custkey", "rev_cents")
        .withColumn(
            "i",
            F.row_number().over(
                Window.partitionBy("n_name").orderBy(
                    "rev_cents", "o_custkey"
                )
            ),
        )
    )
    g = ranked.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("rev_cents").alias("ssum"),
        F.sum(F.col("i") * F.col("rev_cents")).alias("siw"),
    )

    def big(c):
        return F.col(c).cast("decimal(38,0)")

    num = (
        F.lit(2) * big("siw") - (big("n_customers") + 1) * big("ssum")
    ).cast("double")
    den = (big("n_customers") * big("ssum")).cast("double")
    return g.select(
        F.col("n_name").alias("nation"),
        "n_customers",
        (num / den).alias("gini"),
    )


#: Benford's-law expected first-digit frequencies log10(1 + 1/d) as
#: shortest-repr double literals — embedded verbatim in BOTH the Spark
#: plan and the oracle SQL so the two engines compare against the
#: bit-identical constant (a per-engine log10() call could differ by
#: 1 ulp).
_BENFORD = {
    1: "0.3010299956639812",
    2: "0.17609125905568124",
    3: "0.12493873660829992",
    4: "0.09691001300805642",
    5: "0.07918124604762482",
    6: "0.06694678963061322",
    7: "0.05799194697768673",
    8: "0.05115252244738129",
    9: "0.04575749056067514",
}


ORACLE_BENFORD_DIGITS = """
WITH obs AS (
  -- abs: Benford on magnitudes (credit-note lakes carry negatives)
  SELECT CAST(substr(CAST(CAST(FLOOR(abs(o_totalprice)) AS BIGINT) AS VARCHAR),
              1, 1) AS INT) AS digit,
         count(*) AS n
  FROM orders GROUP BY 1
), grid AS (
  {grid}
), tot AS (
  SELECT SUM(n) AS total FROM obs
)
SELECT g.digit, COALESCE(o.n, 0) AS n,
       CAST(COALESCE(o.n, 0) AS DOUBLE) / CAST(t.total AS DOUBLE)
         AS share,
       g.expected,
       CAST(COALESCE(o.n, 0) AS DOUBLE) / CAST(t.total AS DOUBLE)
         - g.expected AS deviation
FROM grid g LEFT JOIN obs o ON g.digit = o.digit CROSS JOIN tot t
""".format(
    grid="\n  UNION ALL\n  ".join(
        f"SELECT {d} AS digit, CAST({lit} AS DOUBLE) AS expected"
        for d, lit in _BENFORD.items()
    )
)


@query("benford_digits", oracle=ORACLE_BENFORD_DIGITS)
def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the
    fraud/data-quality screen. The first significant digit comes from
    the STRING of the floored integer part (never ``log10`` of a
    double — transcendental binning is banned by the parity
    discipline); expected frequencies are pinned double literals
    (identical bits both engines); observed share and deviation are
    single double divisions of exact integer counts. The digit grid is
    a 9-row literal table LEFT-joined to observed counts so digits
    with zero observations still report. One fact pass, 9-row output."""
    o = load_table(spark, sf_dir, "orders")
    obs = (
        # Benford's law is defined on MAGNITUDES: abs() before the
        # digit string, or a credit-note lake (negvalue driftlab) puts
        # '-' in the first-char slot and the int cast throws under ANSI
        o.select(
            F.substring(
                F.floor(F.abs(F.col("o_totalprice")))
                .cast("long")
                .cast("string"),
                1,
                1,
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grid = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("digit"),
                        F.expr(f"CAST({lit} AS DOUBLE)").alias(
                            "expected"
                        ),
                    )
                    for d, lit in _BENFORD.items()
                ]
            )
        ).alias("g")
    ).select("g.digit", "g.expected")
    tot = obs.agg(F.sum("n").alias("total"))
    return (
        grid.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).alias("n"),
            (
                F.coalesce("n", F.lit(0)).cast("double")
                / F.col("total").cast("double")
            ).alias("share"),
            "expected",
            (
                F.coalesce("n", F.lit(0)).cast("double")
                / F.col("total").cast("double")
                - F.col("expected")
            ).alias("deviation"),
        )
    )


ORACLE_WEIGHTED_MEDIAN = """
WITH t AS (
  SELECT l_returnflag,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
), g AS (
  SELECT l_returnflag, cents, SUM(w) AS w
  FROM t GROUP BY l_returnflag, cents
), cum AS (
  SELECT l_returnflag, cents,
         SUM(w) OVER (
           PARTITION BY l_returnflag ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cumw,
         SUM(w) OVER (PARTITION BY l_returnflag) AS total_w
  FROM g
)
SELECT l_returnflag, MIN(cents) AS wmedian_cents,
       MAX(total_w) AS total_weight
FROM cum WHERE 2 * cumw >= total_w
GROUP BY l_returnflag
"""


@query(
    "weighted_median",
    oracle=ORACLE_WEIGHTED_MEDIAN,
    bigint=("total_weight",),
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lower weighted median of extended price weighted by quantity,
    per return flag: the MIN price (in cents) whose doubled cumulative
    weight reaches the flag's total weight.  Everything is exact
    integer arithmetic.

    The code runs grid-then-chunked: the fact table first collapses to
    the (flag, chunk, cents) grid with summed weights, where the chunk
    is a pure function of cents (sign-safe floor division by 2^16), so
    one keyed exchange on (flag, chunk) serves both the grid aggregate
    and the chunk-local running sum.  Per-chunk totals are prefix-summed
    into each chunk's carry-in, and cumw = carry + local running sum.
    The flag key alone has 3 values, so a flag-partitioned window would
    funnel the whole grid through 3 tasks; the chunks spread it.  Ties
    in cents merge in the grid, so the threshold row is the one the
    single flag window would pick (equivalence asserted in
    ``tests/test_opt_r11.py``)."""
    # NULL price/quantity rows carry no weight and would ride the cents
    # ordering with engine-different NULL placement (nullmeasure)
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_quantity").isNotNull()
    )
    chunk_w = 1 << 16
    t = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("w"),
    ).withColumn(
        "__chunk",
        F.expr(f"(cents - pmod(cents, {chunk_w})) DIV {chunk_w}"),
    )
    g = ensure_keyed_parallelism(t, "l_returnflag", "__chunk").groupBy(
        "l_returnflag", "__chunk", "cents"
    ).agg(F.sum("w").alias("w"))
    w_local = Window.partitionBy("l_returnflag", "__chunk").orderBy("cents")
    loc = g.select(
        "l_returnflag",
        "__chunk",
        "cents",
        F.sum("w").over(w_local).alias("lcum"),
    )
    per_chunk = g.groupBy("l_returnflag", "__chunk").agg(
        F.sum("w").alias("cw")
    )
    w_carry = (
        Window.partitionBy("l_returnflag")
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = (
        Window.partitionBy("l_returnflag")
        .orderBy(F.lit(1))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    ch = per_chunk.select(
        "l_returnflag",
        "__chunk",
        F.coalesce(F.sum("cw").over(w_carry), F.lit(0)).alias("carry"),
        F.sum("cw").over(w_tot).alias("total_w"),
    )
    cum = loc.join(F.broadcast(ch), ["l_returnflag", "__chunk"]).select(
        "l_returnflag",
        "cents",
        (F.col("carry") + F.col("lcum")).alias("cumw"),
        "total_w",
    )
    return (
        cum.filter(2 * F.col("cumw") >= F.col("total_w"))
        .groupBy("l_returnflag")
        .agg(
            F.min("cents").alias("wmedian_cents"),
            F.max("total_w").alias("total_weight"),
        )
    )


ORACLE_RANK_DELTA = """
WITH rev AS (
  SELECT o_custkey, year(o_orderdate) AS yr,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_cents
  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2
), ym AS (
  SELECT MAX(yr) AS ymax FROM rev
), cur AS (
  SELECT o_custkey AS custkey, rev_cents AS rev_cur,
         ROW_NUMBER() OVER (ORDER BY rev_cents DESC, o_custkey)
           AS rank_cur
  FROM rev, ym WHERE yr = ymax
), prev AS (
  SELECT o_custkey AS custkey, rev_cents AS rev_prev,
         ROW_NUMBER() OVER (ORDER BY rev_cents DESC, o_custkey)
           AS rank_prev
  FROM rev, ym WHERE yr = ymax - 1
)
SELECT c.custkey, p.rev_prev, c.rev_cur, p.rank_prev, c.rank_cur,
       p.rank_prev - c.rank_cur AS rank_gain
FROM cur c JOIN prev p ON c.custkey = p.custkey
"""


@query("rank_delta", oracle=ORACLE_RANK_DELTA, bigint=("rev_prev", "rev_cur"))
def q_rank_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-improved customers: revenue rank in the latest order year
    vs the year before, per customer present in both. Ranks are exact
    global ROW_NUMBERs (revenue DESC, custkey tiebreak) computed per
    year by ``operators/ranking.bucketed_rank`` — the bucket-offset
    plan, NOT a 2-partition window (a per-year window would funnel
    every customer through two sequential partitions at 100 TB). The
    reference years derive from the data (max order year), so the
    query is layout-regeneration-proof. Integer-exact end-to-end."""
    # NULL totalprice orders excluded: an all-NULL (cust, yr) group's
    # NULL rev_cents would rank with engine-different NULL placement
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    rev = (
        o.select(
            "o_custkey",
            F.year("o_orderdate").alias("yr"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("o_custkey", "yr")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    ymax = rev.agg(F.max("yr").alias("ymax"))
    both = rev.crossJoin(F.broadcast(ymax)).filter(
        (F.col("yr") == F.col("ymax")) | (F.col("yr") == F.col("ymax") - 1)
    )
    from fink_broker_spark.operators.ranking import bucketed_rank

    def ranked(year_side):
        sub = both.filter(F.col("yr") == year_side).select(
            "o_custkey", "rev_cents"
        )
        return bucketed_rank(
            sub,
            -F.col("rev_cents"),
            F.col("o_custkey"),
            "rnk",
            bucket_width=100_000,
        )
    cur = ranked(F.col("ymax")).select(
        F.col("o_custkey").alias("custkey"),
        F.col("rev_cents").alias("rev_cur"),
        F.col("rnk").alias("rank_cur"),
    )
    prev = ranked(F.col("ymax") - 1).select(
        F.col("o_custkey").alias("custkey"),
        F.col("rev_cents").alias("rev_prev"),
        F.col("rnk").alias("rank_prev"),
    )
    return cur.join(prev, "custkey").select(
        "custkey",
        "rev_prev",
        "rev_cur",
        "rank_prev",
        "rank_cur",
        (F.col("rank_prev") - F.col("rank_cur")).alias("rank_gain"),
    )


ORACLE_KS_UNIFORMITY = """
WITH observed AS (
  SELECT CAST(CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) % 7
              AS INT) AS dow,
         count(*) AS n
  FROM events GROUP BY 1
), counts AS (
  SELECT CAST(r.range AS INT) AS dow, COALESCE(o.n, 0) AS n
  FROM range(0, 7) r LEFT JOIN observed o ON r.range = o.dow
), cum AS (
  SELECT dow,
         SUM(n) OVER (ORDER BY dow
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumn,
         SUM(n) OVER () AS total
  FROM counts
)
SELECT total AS n_events,
       MAX(CASE WHEN total > 0 THEN
           ABS(CAST(cumn AS DOUBLE) / CAST(total AS DOUBLE)
               - CAST(dow + 1 AS DOUBLE) / 7.0) END) AS ks_stat
FROM cum GROUP BY total
"""


@query("ks_uniformity", oracle=ORACLE_KS_UNIFORMITY, bigint=("n_events",))
def q_ks_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov test of day-of-week uniformity over event
    times. The weekday is pure integer arithmetic (epoch-day mod 7 —
    never an engine ``dayofweek``, whose basis differs between Spark
    and DuckDB), the empirical CDF is a 7-row cumulative window over
    exact counts, and the statistic is a MAX of absolute differences —
    order-free, so no float-sum discipline is even needed. One fact
    aggregate, 1-row output."""
    ev = load_table(spark, sf_dir, "events")
    dow = (
        F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000)) % 7
    ).cast("int")
    observed = ev.select(dow.alias("dow")).groupBy("dow").agg(
        F.count(F.lit(1)).alias("n")
    )
    # full 0..6 grid: an EMPTY weekday is still a CDF evaluation point
    # (skipping it understates the max deviation)
    counts = (
        spark.range(7)
        .select(F.col("id").cast("int").alias("dow"))
        .join(observed, "dow", "left")
        .select("dow", F.coalesce("n", F.lit(0)).alias("n"))
    )
    w = Window.orderBy("dow")
    cum = counts.select(
        "dow",
        F.sum("n").over(w).alias("cumn"),
        F.sum("n")
        .over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("total"),
    )
    # an empty lake has no empirical CDF: ks_stat is NULL, never a
    # division (ANSI throws where DuckDB gives NaN — emptystream)
    diff = F.when(
        F.col("total") > 0,
        F.abs(
            F.col("cumn").cast("double") / F.col("total").cast("double")
            - (F.col("dow") + 1).cast("double") / F.lit(7.0)
        ),
    )
    return cum.groupBy("total").agg(F.max(diff).alias("ks_stat")).select(
        F.col("total").alias("n_events"), "ks_stat"
    )


ORACLE_HERFINDAHL_INDEX = """
WITH per AS (
  SELECT l_suppkey,
         SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS s
  FROM lineitem GROUP BY l_suppkey
), tagged AS (
  SELECT n.n_name, p.s
  FROM per p
  JOIN supplier su ON p.l_suppkey = su.s_suppkey
  JOIN nation n ON su.s_nationkey = n.n_nationkey
), tot AS (
  SELECT n_name, count(*) AS n_suppliers, SUM(s) AS ssum
  FROM tagged GROUP BY n_name
), terms AS (
  SELECT g.n_name, t.n_suppliers,
         CAST((CAST(g.s AS DOUBLE) / CAST(t.ssum AS DOUBLE))
              * (CAST(g.s AS DOUBLE) / CAST(t.ssum AS DOUBLE))
              AS DECIMAL(18,9)) AS term
  FROM tagged g JOIN tot t ON g.n_name = t.n_name
)
SELECT n_name AS nation, n_suppliers,
       CAST(SUM(term) AS DOUBLE) AS hhi
FROM terms GROUP BY n_name, n_suppliers
"""


@query("herfindahl_index", oracle=ORACLE_HERFINDAHL_INDEX)
def q_herfindahl_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman market-concentration index: supplier
    revenue concentration within each nation, H = Σ(sᵢ/Σsⱼ)². Each
    share divides exact sub-2⁵³ integers in DOUBLE (bit-identical both
    engines), the squared term rounds to decimal(18,9) BEFORE the sum
    (order-free float-sum discipline), and the ≤1-magnitude decimal
    sum casts narrowly to double. The Σsᵢ²/(Σsᵢ)² formulation was
    deliberately REJECTED: its operands outgrow 2⁵³ and DuckDB's
    int128→double conversion is not correctly rounded (measured 1-ulp
    split at sf0.01) — wide exact integers must never terminal-cast.
    Plan: one lineitem aggregate per supplier — the only fact shuffle
    — then dimension-sized joins and a 25-row aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    per = (
        li.select(
            "l_suppkey",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum("cents").alias("s"))
        .join(
            su.select("s_suppkey", "s_nationkey").join(
                F.broadcast(na.select("n_nationkey", "n_name")),
                F.col("s_nationkey") == F.col("n_nationkey"),
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
    )
    tot = per.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("s").alias("ssum"),
    )
    share = F.col("s").cast("double") / F.col("ssum").cast("double")
    return (
        per.join(F.broadcast(tot), "n_name")
        .select(
            "n_name",
            "n_suppliers",
            (share * share).cast("decimal(18,9)").alias("term"),
        )
        .groupBy("n_name", "n_suppliers")
        .agg(F.sum("term").cast("double").alias("hhi"))
        .select(F.col("n_name").alias("nation"), "n_suppliers", "hhi")
    )


ORACLE_MANNWHITNEY_U = """
WITH t AS (
  SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS n2
  FROM lineitem
  WHERE l_returnflag IN ('R', 'A') AND l_extendedprice IS NOT NULL
  GROUP BY 1
), grid AS (
  SELECT cents, n1, n2, n1 + n2 AS tt,
         SUM(n1 + n2) OVER (ORDER BY cents
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - (n1 + n2) AS cumb
  FROM t
), agg AS (
  SELECT SUM(n1) AS n1t, SUM(n2) AS n2t,
         SUM(n1 * (2 * cumb + tt + 1)) AS r1_2,
         SUM(tt * tt * tt - tt) AS tie3
  FROM grid
), wide AS (
  SELECT n1t, n2t, tie3,
         r1_2 - n1t * (n1t + 1) AS u1_2,
         n1t * n2t AS nprod
  FROM agg
), conv AS (
  -- three-limb HUGEINT→double conversions mirror the engine's
  -- _limb3_double: nprod/u1_2 are quadratic in N and tie3 CUBIC, so
  -- direct casts stop agreeing with Spark at the last ulp exactly
  -- where the radicand guard decides NULL vs finite z
  SELECT n1t, n2t, u1_2,
         CAST(nprod // 1000000000000000000 AS DOUBLE) * 1e18
           + CAST((nprod % 1000000000000000000) // 1000000000 AS DOUBLE) * 1e9
           + CAST(nprod % 1000000000 AS DOUBLE) AS a,
         CAST(tie3 // 1000000000000000000 AS DOUBLE) * 1e18
           + CAST((tie3 % 1000000000000000000) // 1000000000 AS DOUBLE) * 1e9
           + CAST(tie3 % 1000000000 AS DOUBLE) AS c,
         CAST(u1_2 // 1000000000000000000 AS DOUBLE) * 1e18
           + CAST((u1_2 % 1000000000000000000) // 1000000000 AS DOUBLE) * 1e9
           + CAST(u1_2 % 1000000000 AS DOUBLE) AS u1d
  FROM wide
), rad AS (
  -- radicand materialized once so the positivity guard tests IT, not
  -- sqrt(...): near-all-tie samples can round the mathematically-
  -- nonnegative radicand to a tiny negative, where sqrt() hard-errors
  -- in DuckDB but NaNs in Spark (ADVICE r7 #2)
  SELECT n1t, n2t, u1_2, a, u1d,
         CASE WHEN n1t >= 1 AND n2t >= 1 AND n1t + n2t >= 2 THEN
           a * (CAST(n1t + n2t + 1 AS DOUBLE)
                - c / (CAST(n1t + n2t AS DOUBLE)
                       * (CAST(n1t + n2t AS DOUBLE) - 1.0)))
           / 12.0
         END AS radicand
  FROM conv
)
SELECT n1t AS n_returned, n2t AS n_accepted,
       CAST(u1_2 AS BIGINT) AS u1_doubled,
       CASE WHEN radicand > 0 THEN
           (u1d / 2.0 - a / 2.0) / sqrt(radicand)
       END AS z_score
FROM rad
"""


@query(
    "mannwhitney_u",
    oracle=ORACLE_MANNWHITNEY_U,
    bigint=("n_returned", "n_accepted"),
)
def q_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test: does the price distribution of
    returned items ('R') differ from accepted ones ('A')? Ranking runs
    on the (cents → n₁, n₂) VALUE GRID, not the rows: the tied-group
    average rank is (cum_before + (t+1)/2), kept integral by doubling
    (2·rank = 2·cum_before + t + 1), so the doubled rank sum R₁,
    U₁ = R₁ − n₁(n₁+1), and the tie-correction Σ(t³−t) are ALL exact
    DECIMAL(38,0)/HUGEINT integers. Only the final z-score is a fixed
    double tree over scale-0 casts. Plan: one fact aggregate to the
    value grid, one grid-ordered cumulative window (|distinct cents|
    rows), a 1-row output — no per-row ranking ever happens."""
    li = load_table(spark, sf_dir, "lineitem")
    chunk_w = 1 << 16  # $655.36 price chunks: domain-bounded count
    t = (
        # NULL prices have no rank (nullmeasure: NULL grid row would
        # sort with engine-different placement)
        li.filter(
            F.col("l_returnflag").isin("R", "A")
            & F.col("l_extendedprice").isNotNull()
        )
        .select(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            F.when(F.col("l_returnflag") == "R", 1)
            .otherwise(0)
            .alias("is1"),
        )
        # chunk id is a pure function of cents (sign-safe floor
        # division — DIV truncates toward zero), so grouping by
        # (__chunk, cents) IS grouping by cents; carrying the chunk in
        # the group key lets ONE hash(__chunk) exchange satisfy the
        # aggregate AND the chunk-local window below (no second
        # grid-sized exchange)
        .withColumn(
            "__chunk",
            F.expr(f"(cents - pmod(cents, {chunk_w})) DIV {chunk_w}"),
        )
    )
    t = ensure_keyed_parallelism(t, "__chunk").groupBy(
        "__chunk", "cents"
    ).agg(
        F.sum("is1").alias("n1"),
        F.sum(1 - F.col("is1")).alias("n2"),
    )
    # CHUNKED cumulative (the max_concurrency sweep rule): a bare
    # Window.orderBy over the value grid funnels EVERY grid row through
    # one partition — a single-task sort whose input grows with
    # |distinct cents| (the unchunked plan showed Exchange
    # SinglePartition carrying the whole ~370k-row grid).  The running
    # sum runs inside chunk partitions, the per-chunk totals (a
    # ~|range|/2¹⁶-row relation) are prefix-summed to give each chunk's
    # carry-in, and the rank-sum decomposes as
    #   Σ n1·(2·cumb+tt+1) = Σ n1·(2·lcumb+tt+1) + 2·Σ_chunk carry·s1
    # because cumb = carry(chunk) + lcumb.  Chunk id is a monotone
    # function of cents, so chunk-local order concatenated in chunk
    # order IS the global cents order — exact integer equivalence
    # (pinned against the single-window form in tests/test_opt_r11.py).
    g = t.select(
        "__chunk",
        "cents",
        "n1",
        "n2",
        (F.col("n1") + F.col("n2")).alias("tt"),
    )
    w_local = Window.partitionBy("__chunk").orderBy("cents")
    loc = g.select(
        "__chunk",
        "n1",
        "n2",
        "tt",
        (F.sum("tt").over(w_local) - F.col("tt")).alias("lcumb"),
    )
    per_chunk = loc.groupBy("__chunk").agg(
        F.sum("n1").alias("s1"),
        F.sum("n2").alias("s2"),
        F.sum(
            (
                F.col("n1") * (2 * F.col("lcumb") + F.col("tt") + 1)
            ).cast("decimal(38,0)")
        ).alias("lr1"),
        F.sum(
            (
                F.col("tt") * F.col("tt") * F.col("tt") - F.col("tt")
            ).cast("decimal(38,0)")
        ).alias("ltie3"),
    )
    w_carry = Window.orderBy("__chunk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carried = per_chunk.withColumn(
        "carry",
        F.coalesce(
            F.sum(F.col("s1") + F.col("s2")).over(w_carry), F.lit(0)
        ),
    )
    agg = carried.agg(
        F.sum("s1").alias("n1t"),
        F.sum("s2").alias("n2t"),
        (
            F.sum("lr1")
            + F.lit(2).cast("decimal(38,0)")
            * F.sum(
                F.col("carry").cast("decimal(38,0)")
                * F.col("s1").cast("decimal(38,0)")
            )
        ).cast("decimal(38,0)").alias("r1_2"),
        F.sum("ltie3").alias("tie3"),
    )

    def big(c):
        return F.col(c).cast("decimal(38,0)")

    # materialize the wide-decimal operands so the three-limb
    # conversions below can reference them by name: u1_2 and n1·n2 are
    # quadratic in N and tie3 is CUBIC, so all three outgrow the
    # correctly-rounded int128→double zone long before 100 TB (tie3 >
    # 2⁶³ at N ≈ 2.6e6 rows already) — a direct cast would let the two
    # engines' doubles disagree at the last ulp exactly where the
    # radicand guard decides NULL vs a finite z (same class as
    # welch's moments)
    agg = agg.select(
        "n1t",
        "n2t",
        "tie3",
        (big("r1_2") - big("n1t") * (big("n1t") + 1)).alias("u1_2"),
        (big("n1t") * big("n2t")).alias("nprod"),
    )
    u1_2 = F.col("u1_2")
    nn = big("n1t") + big("n2t")
    a = _limb3_double("nprod")
    b = (nn + 1).cast("double")
    c = _limb3_double("tie3")
    d = nn.cast("double")
    # guard on the RADICAND, not sqrt(...): the tie-correction radicand
    # n1·n2·((N+1) − tie3/(N(N−1)))/12 is mathematically ≥ 0 but the
    # float division can round it to a tiny negative for near-all-tie
    # samples with N³ > 2⁵³, where DuckDB sqrt() hard-errors while
    # Spark yields NaN → an asymmetric oracle crash
    rad = a * (b - c / (d * (d - F.lit(1.0)))) / F.lit(12.0)
    z = (_limb3_double("u1_2") / F.lit(2.0) - a / F.lit(2.0)) / F.sqrt(
        rad
    )
    # degenerate samples (an empty arm, or a single ranked row where
    # the tie-correction divides by N−1 = 0) have no z: NULL on both
    # engines, never x/0.0 (ANSI throws — onerow driftlab layout)
    okc = (
        (F.col("n1t") >= 1)
        & (F.col("n2t") >= 1)
        & (F.col("n1t") + F.col("n2t") >= 2)
    )
    return agg.select(
        F.col("n1t").alias("n_returned"),
        F.col("n2t").alias("n_accepted"),
        u1_2.cast("long").alias("u1_doubled"),
        # nested when keeps the okc short-circuit: rad divides by
        # N(N−1) = 0 on a degenerate grid, and ANSI Spark would throw
        # if the radicand were evaluated under okc = false (onerow)
        F.when(okc, F.when(rad > 0, z)).alias("z_score"),
    )


ORACLE_SEASONALITY_INDEX = """
WITH monthly AS (
  SELECT month(o_orderdate) AS mo,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
           AS rev_cents
  FROM orders GROUP BY 1
), tot AS (
  SELECT SUM(rev_cents) AS total_cents FROM monthly
)
SELECT mo, rev_cents,
       CAST(12 * rev_cents AS DOUBLE) / CAST(total_cents AS DOUBLE)
         AS seasonal_index
FROM monthly CROSS JOIN tot
"""


@query(
    "seasonality_index",
    oracle=ORACLE_SEASONALITY_INDEX,
    bigint=("rev_cents",),
)
def q_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-month seasonality index of order revenue across all
    years: index_m = 12·rev_m / Σrev. Revenue integerizes to exact
    cents; the index is one double division of exact sub-2⁵³ operands
    (12·rev_m ≤ ~2⁴⁸ at sf1). The month key is integer-exact from the
    normalized timestamp. One fact aggregate to 12 rows; the total is
    a 1-row broadcast."""
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.select(
            F.month("o_orderdate").alias("mo"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("mo")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    tot = monthly.agg(F.sum("rev_cents").alias("total_cents"))
    return monthly.crossJoin(F.broadcast(tot)).select(
        "mo",
        "rev_cents",
        (
            (F.lit(12) * F.col("rev_cents")).cast("double")
            / F.col("total_cents").cast("double")
        ).alias("seasonal_index"),
    )


ORACLE_LOG2_HISTOGRAM = """
WITH t AS (
  SELECT length(bin(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)))
           AS bits,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)
SELECT bits, count(*) AS n_orders, MIN(cents) AS min_cents,
       MAX(cents) AS max_cents
FROM t GROUP BY bits
"""


@query("log2_histogram", oracle=ORACLE_LOG2_HISTOGRAM)
def q_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two magnitude histogram of order totals — the
    log-scale distribution sketch without any floating log: the bucket
    is the BIT LENGTH of the exact integer cents (length of the base-2
    string — Spark ``conv(x,10,2)``, DuckDB ``bin(x)``; identical
    pure-integer semantics), so engines can never disagree. Emits each
    bucket's row count and exact cents range covered. One fact
    aggregate, ~15-row output."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
        "long"
    )
    t = o.select(
        F.length(F.conv(cents.cast("string"), 10, 2)).alias("bits"),
        cents.alias("cents"),
    )
    return t.groupBy("bits").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )


ORACLE_GRID_QUANTILES = """
WITH ship AS (
  SELECT l_orderkey,
         MAX(CAST(FLOOR(epoch_us(l_shipdate) / 86400000000) AS BIGINT))
           AS last_ship
  FROM lineitem GROUP BY l_orderkey
), lat AS (
  SELECT o.o_orderpriority,
         s.last_ship
           - CAST(FLOOR(epoch_us(o.o_orderdate) / 86400000000) AS BIGINT)
           AS days
  FROM orders o JOIN ship s ON o.o_orderkey = s.l_orderkey
), grid AS (
  SELECT o_orderpriority, days, count(*) AS cnt
  FROM lat GROUP BY o_orderpriority, days
), cum AS (
  SELECT o_orderpriority, days,
         SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY days
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cnt) OVER (PARTITION BY o_orderpriority) AS n
  FROM grid
)
SELECT o_orderpriority, MAX(n) AS n_orders,
       MIN(CASE WHEN 2 * cum >= n THEN days END) AS p50_days,
       MIN(CASE WHEN 10 * cum >= 9 * n THEN days END) AS p90_days,
       MIN(CASE WHEN 100 * cum >= 99 * n THEN days END) AS p99_days
FROM cum GROUP BY o_orderpriority
"""


@query("grid_quantiles", oracle=ORACLE_GRID_QUANTILES, bigint=("n_orders",))
def q_grid_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of order→last-ship latency per priority,
    computed on the (priority, latency-day) VALUE GRID — the
    distributed exact-quantile pattern: one fact aggregate collapses
    rows to the grid, a grid-sized cumulative window ranks values, and
    each quantile is a conditional MIN under a pure-integer threshold
    predicate (2·cum ≥ n, 10·cum ≥ 9n, 100·cum ≥ 99n — no ceil, no
    float). Unlike native exact ``percentile`` (unbounded per-group
    state — the documented percentiles scale-killer), per-task state
    here is one count per distinct latency value. Integer-exact."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    ship = (
        li.select("l_orderkey", _day("l_shipdate").alias("sday"))
        .groupBy("l_orderkey")
        .agg(F.max("sday").alias("last_ship"))
    )
    lat = (
        o.select(
            "o_orderkey", "o_orderpriority", _day("o_orderdate").alias("od")
        )
        .join(ship, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "o_orderpriority",
            (F.col("last_ship") - F.col("od")).alias("days"),
        )
    )
    grid = lat.groupBy("o_orderpriority", "days").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("days")
    cum = grid.select(
        "o_orderpriority",
        "days",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt")
        .over(Window.partitionBy("o_orderpriority"))
        .alias("n"),
    )
    return cum.groupBy("o_orderpriority").agg(
        F.max("n").alias("n_orders"),
        F.min(
            F.when(2 * F.col("cum") >= F.col("n"), F.col("days"))
        ).alias("p50_days"),
        F.min(
            F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("days"))
        ).alias("p90_days"),
        F.min(
            F.when(100 * F.col("cum") >= 99 * F.col("n"), F.col("days"))
        ).alias("p99_days"),
    )


ORACLE_REGION_SHARE_ROLLUP = """
WITH nk AS (
  SELECT c.c_custkey, n.n_name, r.r_name
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
), rev AS (
  SELECT nk.r_name, nk.n_name,
         SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
           AS rev_cents
  FROM orders o JOIN nk ON o.o_custkey = nk.c_custkey
  GROUP BY 1, 2
), per_region AS (
  SELECT r_name, SUM(rev_cents) AS region_cents FROM rev GROUP BY 1
), world AS (
  SELECT SUM(rev_cents) AS world_cents FROM rev
)
SELECT rev.r_name AS region, rev.n_name AS nation, rev.rev_cents,
       CAST(rev.rev_cents AS DOUBLE) / CAST(p.region_cents AS DOUBLE)
         AS share_of_region,
       CAST(rev.rev_cents AS DOUBLE) / CAST(w.world_cents AS DOUBLE)
         AS share_of_world
FROM rev JOIN per_region p ON rev.r_name = p.r_name CROSS JOIN world w
"""


@query(
    "region_share_rollup",
    oracle=ORACLE_REGION_SHARE_ROLLUP,
    bigint=("rev_cents",),
)
def q_region_share_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical contribution rollup: revenue per nation with its
    share of the region and of the world — percent-of-parent at two
    levels via broadcast-joined parent aggregates (never a window over
    the fact table). Revenue is exact cents; each share is one double
    division of exact sub-2⁵³ operands. One fact aggregate keyed by
    nation; everything above runs on the 25/5/1-row dimension tables."""
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region")
    nk = (
        cu.select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(
                na.select("n_nationkey", "n_name", "n_regionkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(re.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey", "n_name", "r_name")
    )
    rev = (
        o.select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .join(nk, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("r_name", "n_name")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    per_region = rev.groupBy("r_name").agg(
        F.sum("rev_cents").alias("region_cents")
    )
    world = rev.agg(F.sum("rev_cents").alias("world_cents"))
    return (
        rev.join(F.broadcast(per_region), "r_name")
        .crossJoin(F.broadcast(world))
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            "rev_cents",
            (
                F.col("rev_cents").cast("double")
                / F.col("region_cents").cast("double")
            ).alias("share_of_region"),
            (
                F.col("rev_cents").cast("double")
                / F.col("world_cents").cast("double")
            ).alias("share_of_world"),
        )
    )


ORACLE_WINSORIZED_STATS = """
WITH t AS (
  SELECT l_returnflag,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem WHERE l_extendedprice IS NOT NULL
), grid AS (
  SELECT l_returnflag, cents, count(*) AS cnt
  FROM t GROUP BY 1, 2
), cum AS (
  SELECT l_returnflag, cents, cnt,
         SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY cents
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
  FROM grid
), bounds AS (
  SELECT l_returnflag,
         MIN(CASE WHEN 100 * cum >= n THEN cents END) AS p01,
         MIN(CASE WHEN 100 * cum >= 99 * n THEN cents END) AS p99
  FROM cum GROUP BY l_returnflag
), clamped AS (
  SELECT g.l_returnflag, g.cnt,
         GREATEST(b.p01, LEAST(b.p99, g.cents)) AS c,
         CASE WHEN g.cents < b.p01 THEN 1 ELSE 0 END AS lo,
         CASE WHEN g.cents > b.p99 THEN 1 ELSE 0 END AS hi
  FROM grid g JOIN bounds b ON g.l_returnflag = b.l_returnflag
)
SELECT l_returnflag, SUM(cnt) AS n_rows,
       SUM(lo * cnt) AS n_clipped_low,
       SUM(hi * cnt) AS n_clipped_high,
       CAST(SUM(c * cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) / 100.0
         AS winsorized_mean
FROM clamped GROUP BY l_returnflag
"""


@query(
    "winsorized_stats",
    oracle=ORACLE_WINSORIZED_STATS,
    bigint=("n_rows", "n_clipped_low", "n_clipped_high"),
)
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per return flag: clamp price cents into the
    exact [p01, p99] grid quantiles (the grid_quantiles construction —
    conditional MIN under integer thresholds, bounded state), then the
    clamped mean over exact integers. Reports the clip counts too.
    Two passes over the value grid, one broadcast of the 3-row bounds
    table back onto the grid — the fact table shuffles once."""
    # NULL prices excluded: no grid position (nullmeasure)
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
    )
    # CHUNKED cumulative (the mannwhitney/weighted_median rule):
    # the flag-partitioned window funneled the whole cents grid through
    # 3 tasks.  The chunk id (pure function of cents) rides the grid
    # group key, so ONE keyed-spread exchange on (flag, chunk) serves
    # the grid aggregate, the chunk-local running count AND the clamp
    # pass (grid's two consumers reuse the same exchange); per-chunk
    # totals are prefix-summed into carry-ins, cum = carry + lcum
    # exactly.  Equivalence pinned in tests/test_opt_r11.py;
    # interleaved A/B 2.07 → 1.58 s min at sf0.1.  Guarded no-op on a
    # wide lake.
    chunk_w = 1 << 16
    t = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    ).withColumn(
        "__chunk",
        F.expr(f"(cents - pmod(cents, {chunk_w})) DIV {chunk_w}"),
    )
    grid = ensure_keyed_parallelism(t, "l_returnflag", "__chunk").groupBy(
        "l_returnflag", "__chunk", "cents"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w_local = Window.partitionBy("l_returnflag", "__chunk").orderBy("cents")
    loc = grid.select(
        "l_returnflag",
        "__chunk",
        "cents",
        F.sum("cnt").over(w_local).alias("lcum"),
    )
    per_chunk = grid.groupBy("l_returnflag", "__chunk").agg(
        F.sum("cnt").alias("cc")
    )
    w_carry = (
        Window.partitionBy("l_returnflag")
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = (
        Window.partitionBy("l_returnflag")
        .orderBy(F.lit(1))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    ch = per_chunk.select(
        "l_returnflag",
        "__chunk",
        F.coalesce(F.sum("cc").over(w_carry), F.lit(0)).alias("carry"),
        F.sum("cc").over(w_tot).alias("n"),
    )
    cum = loc.join(F.broadcast(ch), ["l_returnflag", "__chunk"]).select(
        "l_returnflag",
        "cents",
        (F.col("carry") + F.col("lcum")).alias("cum"),
        "n",
    )
    bounds = cum.groupBy("l_returnflag").agg(
        F.min(
            F.when(100 * F.col("cum") >= F.col("n"), F.col("cents"))
        ).alias("p01"),
        F.min(
            F.when(100 * F.col("cum") >= 99 * F.col("n"), F.col("cents"))
        ).alias("p99"),
    )
    clamped = grid.select("l_returnflag", "cents", "cnt").join(
        F.broadcast(bounds), "l_returnflag"
    ).select(
        "l_returnflag",
        "cnt",
        F.greatest(
            F.col("p01"), F.least(F.col("p99"), F.col("cents"))
        ).alias("c"),
        (F.col("cents") < F.col("p01")).cast("long").alias("lo"),
        (F.col("cents") > F.col("p99")).cast("long").alias("hi"),
    )
    return clamped.groupBy("l_returnflag").agg(
        F.sum("cnt").alias("n_rows"),
        F.sum(F.col("lo") * F.col("cnt")).alias("n_clipped_low"),
        F.sum(F.col("hi") * F.col("cnt")).alias("n_clipped_high"),
        (
            F.sum(F.col("c") * F.col("cnt")).cast("double")
            / F.sum("cnt").cast("double")
            / F.lit(100.0)
        ).alias("winsorized_mean"),
    )


ORACLE_CROSS_CORRELATION = """
WITH daily AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS ne
  FROM events WHERE event_type IN ('purchase', 'error')
  GROUP BY 1
), span AS (
  SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM daily
), spine AS (
  SELECT unnest(generate_series(dmin, dmax)) AS d FROM span
), dense AS (
  SELECT s.d, COALESCE(x.np, 0) AS np, COALESCE(x.ne, 0) AS ne
  FROM spine s LEFT JOIN daily x ON s.d = x.d
), lagged AS (
  SELECT l.lag, d.np,
         LAG(d.ne, l.lag) OVER (PARTITION BY l.lag ORDER BY d.d) AS nel
  FROM dense d CROSS JOIN (SELECT unnest([0,1,2,3]) AS lag) l
), g AS (
  SELECT lag, count(*) AS n, SUM(np) AS sx, SUM(nel) AS sy,
         SUM(np * np) AS sxx, SUM(nel * nel) AS syy,
         SUM(np * nel) AS sxy
  FROM lagged WHERE nel IS NOT NULL GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag, n AS n_days,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         CAST(n * sxy - sx * sy AS DOUBLE)
           / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(n * syy - sy * sy AS DOUBLE)) END AS xcorr
FROM g
"""


@query("cross_correlation", oracle=ORACLE_CROSS_CORRELATION)
def q_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation of two event-type daily series (purchase vs
    error) at lags 0-3 — the bivariate companion of autocorrelation.
    The fact table collapses ONCE to the (day, n_purchase, n_error)
    grid; each lag pairs the grid with its lag-shifted self via a
    day-window lag (grid-sized, bounded); the correlation uses the
    exact integer moment sums + fixed double tree (operands peak well
    below 2⁶³ — daily counts are small). Missing days count as zero
    via a dense day spine from the observed range."""
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(
        F.unix_micros(F.col("ts")) / F.lit(86_400_000_000)
    ).cast("long")
    daily = (
        ev.filter(F.col("event_type").isin("purchase", "error"))
        .select(
            day.alias("d"),
            (F.col("event_type") == "purchase")
            .cast("long")
            .alias("isp"),
        )
        .groupBy("d")
        .agg(
            F.sum("isp").alias("np"),
            F.sum(1 - F.col("isp")).alias("ne"),
        )
    )
    span = daily.agg(
        F.min("d").alias("dmin"), F.max("d").alias("dmax")
    )
    spine = span.select(
        F.explode(F.sequence(F.col("dmin"), F.col("dmax"))).alias("d")
    )
    dense = spine.join(daily, "d", "left").select(
        "d",
        F.coalesce("np", F.lit(0)).alias("np"),
        F.coalesce("ne", F.lit(0)).alias("ne"),
    )
    # all four lag columns come from ONE pass over the single day
    # window, then unpivot with stack — a per-lag unionAll would
    # re-plan the fact collapse and spine four times (the corr_matrix
    # lesson); grouping by lag also matches the oracle's GROUP BY
    # semantics exactly (a lag with zero paired rows emits NO row)
    w = Window.orderBy("d")
    lagged = dense.select(
        "np",
        F.col("ne").alias("ne0"),
        F.lag("ne", 1).over(w).alias("ne1"),
        F.lag("ne", 2).over(w).alias("ne2"),
        F.lag("ne", 3).over(w).alias("ne3"),
    )
    paired = lagged.selectExpr(
        "np",
        "stack(4, 0, ne0, 1, ne1, 2, ne2, 3, ne3) AS (lag, nel)",
    ).filter(F.col("nel").isNotNull())
    g = paired.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("np").alias("sx"),
        F.sum("nel").alias("sy"),
        F.sum(F.col("np") * F.col("np")).alias("sxx"),
        F.sum(F.col("nel") * F.col("nel")).alias("syy"),
        F.sum(F.col("np") * F.col("nel")).alias("sxy"),
    )

    def big(c):
        return F.col(c).cast("decimal(38,0)")

    num = (big("n") * big("sxy") - big("sx") * big("sy")).cast("double")
    dx = (big("n") * big("sxx") - big("sx") * big("sx")).cast("double")
    dy = (big("n") * big("syy") - big("sy") * big("sy")).cast("double")
    # a zero-variance series (constant lake / degenerate spine) has no
    # correlation: NULL, never x/0.0 (ANSI throws — constant driftlab)
    return g.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").alias("n_days"),
        F.when((dx > 0) & (dy > 0), num / F.sqrt(dx * dy)).alias("xcorr"),
    )


ORACLE_BURSTINESS = """
WITH daily AS (
  SELECT event_type,
         CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
         count(*) AS n
  FROM events GROUP BY 1, 2
), g AS (
  SELECT event_type, count(*) AS n_days, SUM(n) AS s1,
         SUM(n * n) AS s2
  FROM daily GROUP BY event_type
)
SELECT event_type, n_days,
       CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_daily,
       CASE WHEN n_days > 1 THEN
         ((CAST(s2 AS DOUBLE)
           - CAST(n_days AS DOUBLE)
             * (CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE))
             * (CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE)))
          / (CAST(n_days AS DOUBLE) - 1.0))
         / (CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE)) END AS fano_factor
FROM g
"""


@query("burstiness", oracle=ORACLE_BURSTINESS)
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness (Fano factor, variance/mean of daily counts) per
    event type — Poisson-ness diagnostic: F≈1 is Poisson arrivals,
    F≫1 is bursty. Exact integer moment sums over the (type, day)
    grid (operands ≤~2⁵⁰ — inside the safe single-conversion zone),
    sample variance with the n−1 divisor in one fixed double tree."""
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(
        F.unix_micros(F.col("ts")) / F.lit(86_400_000_000)
    ).cast("long")
    daily = (
        ev.select("event_type", day.alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    g = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    nd = F.col("n_days").cast("double")
    mean = F.col("s1").cast("double") / nd
    var = (
        F.col("s2").cast("double") - nd * mean * mean
    ) / (nd - F.lit(1.0))
    return g.select(
        "event_type",
        "n_days",
        mean.alias("mean_daily"),
        # a single observed day has no sample variance (n − 1 = 0):
        # NULL, never x/0.0 (ANSI throws — onerow driftlab layout)
        F.when(F.col("n_days") > 1, var / mean).alias("fano_factor"),
    )


ORACLE_PRICE_DISPERSION = """
WITH t AS (
  SELECT l_partkey,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
  FROM lineitem
), g AS (
  -- HUGEINT product mirrors the Spark side's decimal(38,0) square:
  -- a raw INT64 c*c overflows on high-magnitude lakes (bigmoney)
  SELECT l_partkey, count(*) AS n, SUM(c) AS s1,
         SUM(CAST(c AS HUGEINT) * c) AS s2
  FROM t GROUP BY l_partkey HAVING count(*) >= 10
)
SELECT l_partkey AS partkey, n,
       sqrt(CAST(CAST(n AS HUGEINT) * s2
                 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
            / CAST(n * (n - 1) AS DOUBLE))
         / (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS cv
FROM g ORDER BY cv DESC, partkey LIMIT 20
"""


@query("price_dispersion", oracle=ORACLE_PRICE_DISPERSION)
def q_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by price dispersion (coefficient of variation of
    sale price) among parts sold ≥10 times — exact integer cents
    moments per part (n·Σx² peaks ~2⁵⁷ at sf1, inside the measured
    safe single-conversion zone), sample CV in one fixed double tree,
    TakeOrdered top-k with partkey tiebreak."""
    li = load_table(spark, sf_dir, "lineitem")
    t = li.select(
        "l_partkey",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("c"),
    )
    g = (
        t.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("s1"),
            F.sum(
                F.col("c").cast("decimal(38,0)")
                * F.col("c").cast("decimal(38,0)")
            ).alias("s2"),
        )
        .filter(F.col("n") >= 10)
    )

    def big(c):
        return F.col(c).cast("decimal(38,0)")

    num = (big("n") * big("s2") - big("s1") * big("s1")).cast("double")
    den = (big("n") * (big("n") - 1)).cast("double")
    mean = F.col("s1").cast("double") / F.col("n").cast("double")
    cv = F.sqrt(num / den) / mean
    return (
        g.select(
            F.col("l_partkey").alias("partkey"),
            "n",
            cv.alias("cv"),
        )
        .orderBy(F.desc("cv"), "partkey")
        .limit(20)
    )


ORACLE_TOP_DECILE_SHARE = """
WITH rev AS (
  SELECT o_custkey,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
           AS rev_cents
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT o_custkey, rev_cents,
         ROW_NUMBER() OVER (ORDER BY rev_cents DESC, o_custkey) AS rnk,
         COUNT(*) OVER () AS n
  FROM rev
)
SELECT MAX(n) AS n_customers,
       CAST(SUM(CASE WHEN rnk <= n // 10 THEN rev_cents ELSE 0 END)
            AS DOUBLE)
         / CAST(SUM(rev_cents) AS DOUBLE) AS top_decile_share
FROM ranked
"""


@query("top_decile_share", oracle=ORACLE_TOP_DECILE_SHARE)
def q_top_decile_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: what share of total revenue do the
    top-10% customers hold? Customers rank by exact cents revenue via
    ``operators/ranking.bucketed_rank`` (bucket-offset plan — no
    single-partition sort), the decile cut is the pure-integer ANSI
    ntile condition (rank ≤ ceil via 10·rank ≤ n + ...; here simply
    rank ≤ n DIV 10 — the exact top-10% count), and the share is one
    double division of exact cents sums. 1-row output."""
    o = load_table(spark, sf_dir, "orders")
    rev = (
        o.select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    from fink_broker_spark.operators.ranking import bucketed_rank

    ranked = bucketed_rank(
        rev,
        -F.col("rev_cents"),
        F.col("o_custkey"),
        "rnk",
        bucket_width=100_000,
    )
    n_row = ranked.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n_row))
        .agg(
            F.max("n").alias("n_customers"),
            F.sum("rev_cents").alias("total_cents"),
            F.sum(
                F.when(
                    F.col("rnk") <= F.floor(F.col("n") / 10),
                    F.col("rev_cents"),
                ).otherwise(0)
            ).alias("top_cents"),
        )
        .select(
            "n_customers",
            (
                F.col("top_cents").cast("double")
                / F.col("total_cents").cast("double")
            ).alias("top_decile_share"),
        )
    )


ORACLE_PEAK_DETECTION = """
WITH daily AS (
  SELECT event_type,
         CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
         count(*) AS n
  FROM events GROUP BY 1, 2
), span AS (
  SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM daily
), spine AS (
  SELECT t.event_type, unnest(generate_series(s.dmin, s.dmax)) AS d
  FROM (SELECT DISTINCT event_type FROM daily) t CROSS JOIN span s
), dense AS (
  SELECT s.event_type, s.d, COALESCE(x.n, 0) AS n
  FROM spine s
  LEFT JOIN daily x ON s.event_type = x.event_type AND s.d = x.d
), flagged AS (
  SELECT event_type, n,
         CASE WHEN n > COALESCE(LAG(n, 1) OVER (
                          PARTITION BY event_type ORDER BY d), 0)
               AND n > COALESCE(LEAD(n, 1) OVER (
                          PARTITION BY event_type ORDER BY d), 0)
              THEN 1 ELSE 0 END AS is_peak
  FROM dense
)
SELECT event_type, SUM(is_peak) AS n_peaks,
       MAX(CASE WHEN is_peak = 1 THEN n END) AS highest_peak
FROM flagged GROUP BY event_type
"""


@query("peak_detection", oracle=ORACLE_PEAK_DETECTION, bigint=("n_peaks",))
def q_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum peak detection on per-type daily count series:
    a day is a peak when its count strictly exceeds both neighbors on
    the dense day spine (missing days are zero — without the spine a
    gap's neighbor would silently be a different date). Two bounded
    lags per type partition; emits per-type peak counts and the
    highest peak. Integer-exact."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", _day("ts").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    span = daily.agg(
        F.min("d").alias("dmin"), F.max("d").alias("dmax")
    )
    types = daily.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(span)).select(
        "event_type",
        F.explode(F.sequence(F.col("dmin"), F.col("dmax"))).alias("d"),
    )
    dense = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type", "d", F.coalesce("n", F.lit(0)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    flagged = dense.select(
        "event_type",
        "n",
        F.when(
            (F.col("n") > F.coalesce(F.lag("n", 1).over(w), F.lit(0)))
            & (
                F.col("n")
                > F.coalesce(F.lead("n", 1).over(w), F.lit(0))
            ),
            1,
        )
        .otherwise(0)
        .alias("is_peak"),
    )
    return flagged.groupBy("event_type").agg(
        F.sum("is_peak").alias("n_peaks"),
        F.max(
            F.when(F.col("is_peak") == 1, F.col("n"))
        ).alias("highest_peak"),
    )


ORACLE_WEEKLY_KPIS = """
WITH t AS (
  SELECT CAST(FLOOR(CAST(FLOOR(epoch_us(o_orderdate) / 86400000000)
                         AS BIGINT) / 7) AS BIGINT) AS week,
         o_custkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)
SELECT week, count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers,
       SUM(cents) AS revenue_cents,
       CAST(SUM(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0
         AS avg_order_value
FROM t GROUP BY week
"""


@query("weekly_kpis", oracle=ORACLE_WEEKLY_KPIS, bigint=("revenue_cents",))
def q_weekly_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly KPI sheet over orders: order count, exact revenue,
    average order value, and distinct customers per epoch week — the
    reporting aggregate every scheduler materializes nightly. ONE
    fact pass with map-side partials (count/sum/distinct share the
    same grouping); AOV is a double division of exact cents. The
    distinct-customer count is exact (per-week state bounded by
    |customers|); the approx swap for wider horizons is
    approx_cardinality's documented territory."""
    o = load_table(spark, sf_dir, "orders")
    wk = F.floor(_day("o_orderdate") / 7).cast("long")
    return (
        o.select(
            wk.alias("week"),
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum("cents").alias("revenue_cents"),
        )
        .select(
            "week",
            "n_orders",
            "n_customers",
            "revenue_cents",
            (
                F.col("revenue_cents").cast("double")
                / F.col("n_orders").cast("double")
                / F.lit(100.0)
            ).alias("avg_order_value"),
        )
    )


ORACLE_HOURLY_PROFILE = """
WITH prof AS (
  SELECT event_type,
         CAST(CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) % 24
              AS INT) AS hour,
         count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, hour, n,
       CAST(CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY event_type ORDER BY n DESC, hour
              ) = 1 THEN 1 ELSE 0 END AS INT) AS is_peak_hour
FROM prof
"""


@query("hourly_profile", oracle=ORACLE_HOURLY_PROFILE)
def q_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day load profile per event type + each type's peak
    hour: the hour is pure integer arithmetic ((epoch µs DIV 3600e6)
    mod 24 — never an engine hour() whose timezone semantics could
    differ), the profile is one (type, hour) aggregate, and the peak
    hour is a rank-1 filter over the 24-row-per-type profile with a
    deterministic (count DESC, hour ASC) tiebreak."""
    ev = load_table(spark, sf_dir, "events")
    hr = (
        F.floor(F.unix_micros(F.col("ts")) / F.lit(3_600_000_000)) % 24
    ).cast("int")
    prof = (
        ev.select("event_type", hr.alias("hour"))
        .groupBy("event_type", "hour")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), "hour"
    )
    return prof.select(
        "event_type",
        "hour",
        "n",
        (F.row_number().over(w) == 1).cast("int").alias("is_peak_hour"),
    )


ORACLE_MAX_DRAWDOWN = """
WITH daily AS (
  SELECT CAST(FLOOR(epoch_us(l_shipdate) / 86400000000) AS BIGINT)
           AS d,
         SUM(CASE WHEN l_returnflag = 'R'
                  THEN -CAST(FLOOR(l_extendedprice * 100 + 0.5)
                             AS BIGINT)
                  ELSE CAST(FLOOR(l_extendedprice * 100 + 0.5)
                            AS BIGINT) END) AS net
  FROM lineitem GROUP BY 1
), lvl AS (
  SELECT d,
         SUM(net) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS level
  FROM daily
), pk AS (
  SELECT d, level,
         MAX(level) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS runpeak
  FROM lvl
)
SELECT count(*) AS n_days, MAX(runpeak - level) AS max_drawdown_cents
FROM pk
"""


@query(
    "max_drawdown",
    oracle=ORACLE_MAX_DRAWDOWN,
    bigint=("max_drawdown_cents",),
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of cumulative daily revenue deltas vs the
    running peak — the peak-to-trough statistic over the daily
    net-revenue series (returned items negative, like
    clamped_balance's move algebra but globally): running sum, running
    max of it, worst (peak − level). All exact integers on the
    ~|days|-row daily series; 1-row output."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            _day("l_shipdate").alias("d"),
            F.when(
                F.col("l_returnflag") == "R",
                -F.floor(
                    F.col("l_extendedprice") * 100 + F.lit(0.5)
                ).cast("long"),
            )
            .otherwise(
                F.floor(
                    F.col("l_extendedprice") * 100 + F.lit(0.5)
                ).cast("long")
            )
            .alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").alias("net"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    lvl = daily.select(
        "d", F.sum("net").over(w).alias("level")
    ).select(
        "d", "level", F.max("level").over(w).alias("runpeak")
    )
    return lvl.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.max(F.col("runpeak") - F.col("level")).alias(
            "max_drawdown_cents"
        ),
    )


ORACLE_THEIL_INDEX = """
WITH x AS (
  -- HAVING x > 0: Theil is defined on positive incomes (credit-note
  -- lakes can net a customer below zero; ln would hard-error here)
  SELECT n_name,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS x
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, o_custkey
  HAVING SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) > 0
),
stats AS (
  SELECT n_name, count(*) AS n, SUM(x) AS s FROM x GROUP BY n_name
),
terms AS (
  SELECT x.n_name,
         CAST(round(
             (CAST(x.x AS DOUBLE) / (CAST(st.s AS DOUBLE) / st.n))
               * ln(CAST(x.x AS DOUBLE) / (CAST(st.s AS DOUBLE) / st.n)),
             9) AS DECIMAL(18,9)) AS term,
         st.n AS n
  FROM x JOIN stats st USING (n_name)
)
SELECT n_name, MAX(n) AS n_customers,
       CAST(CAST(round(CAST(SUM(term) AS DECIMAL(28,9)), 5)
                 AS DECIMAL(28,5)) AS DOUBLE) / MAX(n) AS theil
FROM terms GROUP BY n_name
"""


@query("theil_index", oracle=ORACLE_THEIL_INDEX)
def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer revenue per nation —
    T = (1/n)·Σ (xᵢ/μ)·ln(xᵢ/μ), the decomposable entropy-family
    inequality measure (Gini's additive cousin; gini_by_nation is the
    rank-based twin). One per-customer collapse, one nation-stats
    aggregate joined back on the nation key, and the transcendental-sum
    discipline end-to-end: μ and xᵢ/μ are double divisions of exact
    integers (identical IEEE trees on both engines), each term rounds
    to decimal(18,9) before the exact sum, and the terminal value is a
    scale-5 quantize cast to double divided by the exact n."""
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    x = (
        o.select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("x"))
        # Theil is defined on POSITIVE incomes: a credit-note lake
        # (negvalue driftlab) can push a customer's net revenue ≤ 0,
        # where ln(x/µ) hard-errors in DuckDB and NULLs in Spark —
        # exclude on both sides (the standard inequality-index
        # convention)
        .filter(F.col("x") > 0)
        .join(cu.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(na.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "x")
    )
    stats = x.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    mu = F.col("s").cast("double") / F.col("n")
    r = F.col("x").cast("double") / mu
    term = F.round(r * F.log(r), 9).cast("decimal(18,9)")
    return (
        x.join(stats, "n_name")
        .groupBy("n_name")
        .agg(
            F.max("n").alias("n_customers"),
            F.sum(term).cast("decimal(28,9)").alias("t_exact"),
        )
        .select(
            "n_name",
            "n_customers",
            (
                F.round("t_exact", 5).cast("decimal(28,5)").cast("double")
                / F.col("n_customers")
            ).alias("theil"),
        )
    )


ORACLE_ORDER_FREQ_QUANTILES = """
WITH freq AS (
  SELECT c_mktsegment, count(*) AS n_orders
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, o_custkey
),
grid AS (
  SELECT c_mktsegment, n_orders, count(*) AS cnt
  FROM freq GROUP BY c_mktsegment, n_orders
),
cum AS (
  SELECT c_mktsegment, n_orders, cnt,
         SUM(cnt) OVER (PARTITION BY c_mktsegment ORDER BY n_orders
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cnt) OVER (PARTITION BY c_mktsegment) AS n,
         SUM(n_orders * cnt) OVER (PARTITION BY c_mktsegment)
           AS sum_orders
  FROM grid
)
SELECT c_mktsegment,
       MAX(n) AS n_customers,
       MIN(CASE WHEN 2 * cum >= n THEN n_orders END) AS p50_orders,
       MIN(CASE WHEN 10 * cum >= 9 * n THEN n_orders END) AS p90_orders,
       MIN(CASE WHEN 100 * cum >= 99 * n THEN n_orders END)
         AS p99_orders,
       CAST(MAX(sum_orders) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)
         AS mean_orders,
       CAST(MAX(CASE WHEN n_orders = 1 THEN cnt ELSE 0 END) AS DOUBLE)
         / CAST(MAX(n) AS DOUBLE) AS one_time_rate
FROM cum GROUP BY c_mktsegment
"""


@query(
    "order_freq_quantiles",
    oracle=ORACLE_ORDER_FREQ_QUANTILES,
    bigint=("n_customers",),
)
def q_order_freq_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-frequency distribution per market segment:
    exact p50/p90/p99 of orders-per-customer on the (segment,
    n_orders) VALUE GRID — the bounded-state exact-quantile pattern
    (grid_quantiles' twin on the customer dimension; n_orders is a
    small integer, so the grid is tiny however many customers there
    are) — plus the exact mean and the one-time-customer rate. Two
    shuffles: the per-customer collapse and the grid aggregate; every
    emitted number is an integer or a double division of exact
    integers."""
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    freq = (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .join(cu.select("c_custkey", "c_mktsegment"),
              F.col("o_custkey") == F.col("c_custkey"))
        .select("c_mktsegment", "n_orders")
    )
    grid = freq.groupBy("c_mktsegment", "n_orders").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("c_mktsegment").orderBy("n_orders")
    wp = Window.partitionBy("c_mktsegment")
    cum = grid.select(
        "c_mktsegment",
        "n_orders",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wp).alias("n"),
        F.sum(F.col("n_orders") * F.col("cnt")).over(wp).alias(
            "sum_orders"
        ),
    )
    return cum.groupBy("c_mktsegment").agg(
        F.max("n").alias("n_customers"),
        F.min(
            F.when(2 * F.col("cum") >= F.col("n"), F.col("n_orders"))
        ).alias("p50_orders"),
        F.min(
            F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("n_orders"))
        ).alias("p90_orders"),
        F.min(
            F.when(100 * F.col("cum") >= 99 * F.col("n"), F.col("n_orders"))
        ).alias("p99_orders"),
        (
            F.max("sum_orders").cast("double")
            / F.max("n").cast("double")
        ).alias("mean_orders"),
        (
            F.max(
                F.when(F.col("n_orders") == 1, F.col("cnt")).otherwise(
                    F.lit(0)
                )
            ).cast("double")
            / F.max("n").cast("double")
        ).alias("one_time_rate"),
    )


ORACLE_TRENDING_EVENTS = """
WITH wk AS (
  SELECT event_type,
         CAST(FLOOR(epoch_us(ts) / 604800000000) AS BIGINT) AS week,
         count(*) AS c
  FROM events GROUP BY 1, 2
)
SELECT a.event_type, a.week, a.c, b.c AS prev_c,
       a.c - b.c AS delta,
       CAST(a.c AS DOUBLE) / CAST(b.c AS DOUBLE) AS ratio
FROM wk a JOIN wk b
  ON a.event_type = b.event_type AND a.week = b.week + 1
ORDER BY delta DESC, a.event_type, a.week
LIMIT 20
"""


@query("trending_events", oracle=ORACLE_TRENDING_EVENTS)
def q_trending_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week trending event types: each (type, epoch-week)
    count is matched to the SAME type's previous week by a (type,
    week−1) equi-join — never a lag window over the whole fact table —
    and the top 20 risers rank by the exact integer delta with a full
    (type, week) tiebreak. The growth ratio is one double division of
    exact counts. Two shuffles: the (type, week) collapse and the
    tiny grid self-join."""
    ev = load_table(spark, sf_dir, "events")
    wk = (
        ev.select(
            "event_type",
            F.floor(
                F.unix_micros(F.col("ts")) / F.lit(604_800_000_000)
            )
            .cast("long")
            .alias("week"),
        )
        .groupBy("event_type", "week")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    prev = wk.select(
        "event_type",
        (F.col("week") + 1).alias("week"),
        F.col("c").alias("prev_c"),
    )
    return (
        wk.join(prev, ["event_type", "week"])
        .select(
            "event_type",
            "week",
            "c",
            "prev_c",
            (F.col("c") - F.col("prev_c")).alias("delta"),
            (
                F.col("c").cast("double") / F.col("prev_c").cast("double")
            ).alias("ratio"),
        )
        .orderBy(F.col("delta").desc(), "event_type", "week")
        .limit(20)
    )


ORACLE_PRICE_INDEX = """
WITH py AS (
  SELECT l_partkey, year(o_orderdate) AS yr,
         SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
           AS cents,
         SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS qty
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
ymax AS (SELECT MAX(yr) AS y1 FROM py),
cur AS (
  SELECT l_partkey, cents AS c1, qty AS q1, y1
  FROM py, ymax WHERE yr = y1
),
base AS (
  SELECT l_partkey, cents AS c0, qty AS q0
  FROM py, ymax WHERE yr = y1 - 1
),
j AS (
  SELECT y1, c0,
         (c1 * q0 * 10000) // q1 AS term
  FROM cur JOIN base USING (l_partkey)
)
SELECT y1, count(*) AS n_parts, SUM(c0) AS base_cents,
       CAST(SUM(term) AS DOUBLE) / 10000.0
         / CAST(SUM(c0) AS DOUBLE) AS laspeyres_index
FROM j GROUP BY y1
"""


@query("price_index", oracle=ORACLE_PRICE_INDEX, bigint=("base_cents",))
def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index between the two most recent data-derived
    years: Σ(p₁·q₀)/Σ(p₀·q₀) over the parts traded in BOTH years —
    base-year quantity weights, so the index isolates price movement
    from volume mix (the yoy_growth companion that separates the
    'why'). Per (part, year): exact cents and quantity sums; each
    p₁·q₀ term is the scale-4 fixed-point INTEGRAL floor division
    (c₁·q₀·10⁴) div q₁ — exact BIGINT algebra, because rounding the
    division-derived double at scale 4 split the engines on the
    boundary driftlab layout (caught pre-commit); the index is a
    terminal double ratio of exact sums. One fact collapse + a
    part-keyed year self-join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    py = (
        li.join(
            o.select("o_orderkey", F.year("o_orderdate").alias("yr")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_partkey",
            "yr",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            # floor(x + 0.5), never cast("long"): Spark's double→long
            # cast truncates while DuckDB's rounds — adversarial .5
            # quantities split them (boundary driftlab, caught here)
            F.floor(F.col("l_quantity") + F.lit(0.5))
            .cast("long")
            .alias("qty"),
        )
        .groupBy("l_partkey", "yr")
        .agg(F.sum("cents").alias("cents"), F.sum("qty").alias("qty"))
    )
    ymax = py.agg(F.max("yr").alias("y1"))
    cur = py.crossJoin(F.broadcast(ymax)).filter(
        F.col("yr") == F.col("y1")
    ).select("l_partkey", F.col("cents").alias("c1"),
             F.col("qty").alias("q1"), "y1")
    base = py.crossJoin(F.broadcast(ymax)).filter(
        F.col("yr") == F.col("y1") - 1
    ).select(F.col("l_partkey").alias("pk"),
             F.col("cents").alias("c0"), F.col("qty").alias("q0"))
    j = cur.join(base, F.col("l_partkey") == F.col("pk"))
    # the weighted relative collapses exactly: c0·rel ≡ c1·q0/q1.
    # NEVER round that division-derived double (the boundary driftlab
    # layout manufactures scale-4 halves and split the engines —
    # caught before commit): scale to fixed-point FIRST and take the
    # integral floor division, which is exact BIGINT algebra on both
    # engines (all operands positive, so div ≡ // ≡ floor).
    # c1·q0·10⁴ < 2⁵⁹ per part-year; the term sum stays < 2⁶³ through
    # ~sf1000.
    term = F.expr("(c1 * q0 * 10000) div q1")
    return j.groupBy("y1").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("c0").alias("base_cents"),
        (
            F.sum(term).cast("double")
            / F.lit(10000.0)
            / F.sum("c0").cast("double")
        ).alias("laspeyres_index"),
    )


ORACLE_QUARTILE_SKEWNESS = """
WITH vals AS (
  SELECT o_orderpriority,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) // 100
           AS dollars
  FROM orders WHERE o_totalprice IS NOT NULL
),
grid AS (
  SELECT o_orderpriority, dollars, count(*) AS cnt
  FROM vals GROUP BY 1, 2
),
cum AS (
  SELECT o_orderpriority, dollars,
         SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY dollars
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cnt) OVER (PARTITION BY o_orderpriority) AS n
  FROM grid
),
q AS (
  SELECT o_orderpriority, MAX(n) AS n_orders,
         MIN(CASE WHEN 4 * cum >= n THEN dollars END) AS q1,
         MIN(CASE WHEN 2 * cum >= n THEN dollars END) AS q2,
         MIN(CASE WHEN 4 * cum >= 3 * n THEN dollars END) AS q3
  FROM cum GROUP BY o_orderpriority
)
SELECT o_orderpriority, n_orders, q1, q2, q3,
       CASE WHEN q3 <> q1
            THEN CAST(q1 + q3 - 2 * q2 AS DOUBLE)
                   / CAST(q3 - q1 AS DOUBLE) END AS bowley_skew
FROM q
"""


@query(
    "quartile_skewness",
    oracle=ORACLE_QUARTILE_SKEWNESS,
    bigint=("n_orders",),
)
def q_quartile_skewness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley (quartile) skewness of order-value distributions per
    priority: (Q₁ + Q₃ − 2·Q₂)/(Q₃ − Q₁) — the robust shape statistic
    that pairs with the grid-quantile family (outlier-immune where
    moment skewness is not). Order values reduce to whole dollars so
    the value grid stays bounded; quartiles are conditional MINs under
    pure-integer thresholds; the skewness is one fixed double tree
    over three exact integers."""
    # NULL totalprice excluded: no grid position (nullmeasure)
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    vals = o.select(
        "o_orderpriority",
        F.expr(
            "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) div 100"
        ).alias("dollars"),
    )
    grid = vals.groupBy("o_orderpriority", "dollars").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("dollars")
    wp = Window.partitionBy("o_orderpriority")
    cum = grid.select(
        "o_orderpriority",
        "dollars",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wp).alias("n"),
    )
    q = cum.groupBy("o_orderpriority").agg(
        F.max("n").alias("n_orders"),
        F.min(
            F.when(4 * F.col("cum") >= F.col("n"), F.col("dollars"))
        ).alias("q1"),
        F.min(
            F.when(2 * F.col("cum") >= F.col("n"), F.col("dollars"))
        ).alias("q2"),
        F.min(
            F.when(4 * F.col("cum") >= 3 * F.col("n"), F.col("dollars"))
        ).alias("q3"),
    )
    return q.select(
        "o_orderpriority",
        "n_orders",
        "q1",
        "q2",
        "q3",
        # degenerate IQR guard: q3 == q1 would divide by zero (an
        # ERROR under Spark's ANSI mode, NaN in DuckDB — an engine
        # split either way); emit NULL on both sides instead
        F.when(
            F.col("q3") != F.col("q1"),
            (F.col("q1") + F.col("q3") - 2 * F.col("q2")).cast("double")
            / (F.col("q3") - F.col("q1")).cast("double"),
        ).alias("bowley_skew"),
    )


ORACLE_PSI_DRIFT = """
WITH binned AS (
  -- finite-value domain, mirroring the engine (nanemb layout, r10)
  SELECT event_type,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 2 AS arm,
         CAST(FLOOR(value / 50.0) AS BIGINT) AS bin
  FROM events
  WHERE value IS NULL OR isfinite(value)
),
counts AS (
  SELECT event_type, arm, bin, count(*) AS n
  FROM binned GROUP BY 1, 2, 3
),
grid AS (SELECT DISTINCT event_type, bin FROM counts),
nbins AS (SELECT event_type, count(*) AS b FROM grid GROUP BY 1),
totals AS (
  SELECT event_type, arm, SUM(n) AS tot FROM counts GROUP BY 1, 2
),
filled AS (
  SELECT g.event_type,
         COALESCE(a.n, 0) + 1 AS sa,
         COALESCE(bb.n, 0) + 1 AS sb,
         ta.tot + nb.b AS da,
         tb.tot + nb.b AS db
  FROM grid g
  LEFT JOIN counts a
    ON a.event_type = g.event_type AND a.bin = g.bin AND a.arm = 0
  LEFT JOIN counts bb
    ON bb.event_type = g.event_type AND bb.bin = g.bin AND bb.arm = 1
  JOIN totals ta ON ta.event_type = g.event_type AND ta.arm = 0
  JOIN totals tb ON tb.event_type = g.event_type AND tb.arm = 1
  JOIN nbins nb ON nb.event_type = g.event_type
),
terms AS (
  SELECT event_type,
         CAST(round(
             (CAST(sa AS DOUBLE) / da - CAST(sb AS DOUBLE) / db)
               * ln((CAST(sa AS DOUBLE) / da)
                    / (CAST(sb AS DOUBLE) / db)), 9)
           AS DECIMAL(18,9)) AS term
  FROM filled
)
SELECT event_type,
       CAST(CAST(round(CAST(SUM(term) AS DECIMAL(28,9)), 5)
                 AS DECIMAL(28,5)) AS DOUBLE) AS psi
FROM terms GROUP BY event_type
"""


@query("psi_drift", oracle=ORACLE_PSI_DRIFT)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the two md5-parity arms,
    per event type — the standard drift monitor a serving pipeline
    runs between a reference and a live value distribution:
    PSI = Σ_bins (p_a − p_b)·ln(p_a/p_b). Bins are floor(value/50)
    (pure IEEE floor of the raw double — identical both engines);
    probabilities are Laplace-smoothed ((n+1)/(N+B), all exact
    integers) so empty bins never hit ln(0); each term follows the
    transcendental-sum discipline (decimal(18,9) round before the
    exact sum, terminal scale-5 quantize). One fact pass + a
    bin-grid-sized reshape.

    Domain: finite values only (NULL rows kept — a NULL bin stays a
    grid bin, as before): Spark's floor(double) silently maps NaN→0 /
    ±Inf→±Long.MAX where DuckDB's BIGINT cast hard-errors (nanemb
    driftlab layout)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNull() | _finite("value")
    )
    arm = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 2
    ).alias("arm")
    binned = ev.select(
        "event_type",
        arm,
        F.floor(F.col("value") / F.lit(50.0)).cast("long").alias("bin"),
    )
    counts = binned.groupBy("event_type", "arm", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )
    grid = counts.select("event_type", "bin").distinct()
    nbins = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("b")
    )
    totals = counts.groupBy("event_type", "arm").agg(
        F.sum("n").alias("tot")
    )
    a_cnt = counts.filter(F.col("arm") == 0).select(
        "event_type", "bin", F.col("n").alias("na")
    )
    b_cnt = counts.filter(F.col("arm") == 1).select(
        "event_type", "bin", F.col("n").alias("nb")
    )
    a_tot = totals.filter(F.col("arm") == 0).select(
        "event_type", F.col("tot").alias("ta")
    )
    b_tot = totals.filter(F.col("arm") == 1).select(
        "event_type", F.col("tot").alias("tb")
    )
    full = (
        grid.join(a_cnt, ["event_type", "bin"], "left")
        .join(b_cnt, ["event_type", "bin"], "left")
        .join(a_tot, "event_type")
        .join(b_tot, "event_type")
        .join(nbins, "event_type")
        .select(
            "event_type",
            (F.coalesce("na", F.lit(0)) + 1).alias("sa"),
            (F.coalesce("nb", F.lit(0)) + 1).alias("sb"),
            (F.col("ta") + F.col("b")).alias("da"),
            (F.col("tb") + F.col("b")).alias("db"),
        )
    )
    pa = F.col("sa").cast("double") / F.col("da")
    pb = F.col("sb").cast("double") / F.col("db")
    term = F.round((pa - pb) * F.log(pa / pb), 9).cast("decimal(18,9)")
    return (
        full.groupBy("event_type")
        .agg(F.sum(term).cast("decimal(28,9)").alias("psi_exact"))
        .select(
            "event_type",
            F.round("psi_exact", 5)
            .cast("decimal(28,5)")
            .cast("double")
            .alias("psi"),
        )
    )


ORACLE_WEEKDAY_OUTLIERS = """
WITH daily AS (
  SELECT d, d % 7 AS wd, rev FROM (
    SELECT CAST(FLOOR(epoch_us(l_shipdate) / 86400000000) AS BIGINT)
             AS d,
           SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
             AS rev
    FROM lineitem GROUP BY 1
  )
),
wk AS (
  SELECT wd, SUM(rev) AS sw, count(*) AS cw FROM daily GROUP BY wd
)
SELECT d, wd, rev,
       CAST(rev AS DOUBLE)
         - CAST(sw AS DOUBLE) / CAST(cw AS DOUBLE) AS residual
FROM daily JOIN wk USING (wd)
ORDER BY abs(CAST(rev AS DOUBLE)
             - CAST(sw AS DOUBLE) / CAST(cw AS DOUBLE)) DESC, d
LIMIT 10
"""


@query("weekday_outliers", oracle=ORACLE_WEEKDAY_OUTLIERS, bigint=("rev",))
def q_weekday_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted daily outliers: each day's net revenue
    minus ITS WEEKDAY's mean (weekday = epoch-day mod 7 — pure
    integer, never engine dayofweek), top 10 by absolute residual —
    the seasonal-baseline anomaly detector (anomaly_scores is the
    global-z twin; this removes the weekly cycle first). Exact integer
    day sums, weekday means as double divisions of exact sums, one
    fixed residual tree, deterministic (|residual| DESC, day)
    TakeOrdered."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            _day("l_shipdate").alias("d"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").alias("rev"))
        .select("d", (F.col("d") % 7).alias("wd"), "rev")
    )
    wk = daily.groupBy("wd").agg(
        F.sum("rev").alias("sw"), F.count(F.lit(1)).alias("cw")
    )
    resid = daily.join(F.broadcast(wk), "wd").select(
        "d",
        "wd",
        "rev",
        (
            F.col("rev").cast("double")
            - F.col("sw").cast("double") / F.col("cw").cast("double")
        ).alias("residual"),
    )
    return resid.orderBy(
        F.abs(F.col("residual")).desc(), "d"
    ).limit(10)


ORACLE_SKEW_REPORT = """
WITH ok AS (
  SELECT l_orderkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1
),
pk AS (
  SELECT l_partkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1
),
sk AS (
  SELECT l_suppkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1
),
rep AS (
  SELECT 'l_orderkey' AS key_col, SUM(cnt) AS n_rows,
         count(*) AS n_distinct, MAX(cnt) AS max_cnt,
         MIN(CASE WHEN cnt = (SELECT MAX(cnt) FROM ok) THEN k END)
           AS hottest_key
  FROM ok
  UNION ALL
  SELECT 'l_partkey', SUM(cnt), count(*), MAX(cnt),
         MIN(CASE WHEN cnt = (SELECT MAX(cnt) FROM pk) THEN k END)
  FROM pk
  UNION ALL
  SELECT 'l_suppkey', SUM(cnt), count(*), MAX(cnt),
         MIN(CASE WHEN cnt = (SELECT MAX(cnt) FROM sk) THEN k END)
  FROM sk
)
SELECT key_col, n_rows, n_distinct, max_cnt, hottest_key,
       CAST(max_cnt AS DOUBLE) * CAST(n_distinct AS DOUBLE)
         / CAST(n_rows AS DOUBLE) AS skew_ratio
FROM rep
"""


@query("skew_report", oracle=ORACLE_SKEW_REPORT, bigint=("n_rows",))
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics over the fact table's three key
    columns — the pre-flight report that decides salting/AQE-skew
    strategy (the operational companion to skew_join_salted): per key,
    distinct count, hottest key + its count, and the skew ratio
    max/avg = max_cnt·n_distinct/n_rows. One aggregate per key column
    (each map-side combinable); hottest key by (count DESC, key)
    deterministic argmin."""
    li = load_table(spark, sf_dir, "lineitem")
    out = None
    for keycol in ("l_orderkey", "l_partkey", "l_suppkey"):
        per = (
            li.select(F.col(keycol).alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        mx = per.agg(F.max("cnt").alias("mx"))
        agg = per.crossJoin(F.broadcast(mx)).agg(
            F.lit(keycol).alias("key_col"),
            F.sum("cnt").alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("cnt").alias("max_cnt"),
            F.min(
                F.when(F.col("cnt") == F.col("mx"), F.col("k"))
            ).alias("hottest_key"),
        )
        out = agg if out is None else out.unionAll(agg)
    return out.select(
        "key_col",
        "n_rows",
        "n_distinct",
        "max_cnt",
        "hottest_key",
        (
            F.col("max_cnt").cast("double")
            * F.col("n_distinct").cast("double")
            / F.col("n_rows").cast("double")
        ).alias("skew_ratio"),
    )


ORACLE_FORECAST_BACKTEST = """
WITH daily AS (
  SELECT CAST(FLOOR(epoch_us(l_shipdate) / 86400000000) AS BIGINT)
           AS d,
         SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
  FROM lineitem GROUP BY 1
),
lagged AS (
  SELECT d, rev,
         lag(rev, 1) OVER (ORDER BY d) AS naive,
         lag(rev, 7) OVER (ORDER BY d) AS seasonal
  FROM daily
),
rep AS (
  -- HUGEINT squares (bigmoney lakes overflow INT64 ae²)
  SELECT 'naive_lag1' AS predictor, count(*) AS n_days,
         SUM(abs(rev - naive)) AS sum_abs_err,
         SUM(CAST(abs(rev - naive) // 100 AS HUGEINT)
             * (abs(rev - naive) // 100)) AS sum_sq_err_usd
  FROM lagged WHERE naive IS NOT NULL
  UNION ALL
  SELECT 'seasonal_lag7', count(*),
         SUM(abs(rev - seasonal)),
         SUM(CAST(abs(rev - seasonal) // 100 AS HUGEINT)
             * (abs(rev - seasonal) // 100))
  FROM lagged WHERE seasonal IS NOT NULL
)
SELECT predictor, n_days, sum_abs_err,
       CAST(sum_abs_err AS DOUBLE) / CAST(n_days AS DOUBLE)
         AS mae_cents,
       -- three-limb split conversion mirrors the engine's
       -- _limb3_double: the sum can outgrow the correctly-rounded
       -- int128→double zone, and a single // 1e9 quotient would
       -- itself overflow the engine's BIGINT DIV past 9.2e27
       sqrt((CAST(sum_sq_err_usd // 1000000000000000000 AS DOUBLE) * 1e18
             + CAST((sum_sq_err_usd % 1000000000000000000)
                    // 1000000000 AS DOUBLE) * 1e9
             + CAST(sum_sq_err_usd % 1000000000 AS DOUBLE))
            / CAST(n_days AS DOUBLE))
         AS rmse_dollars
FROM rep
"""


@query(
    "forecast_backtest",
    oracle=ORACLE_FORECAST_BACKTEST,
    bigint=("sum_abs_err",),
)
def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead forecast backtest on the daily revenue series:
    the naive predictor (yesterday's value) vs the seasonal-naive
    predictor (same weekday last week, lag 7) — the model-evaluation
    harness pattern (walk-forward, no leakage: every prediction uses
    only prior days). Absolute errors are EXACT cents; squared errors
    square the DOLLAR-floored error (cents² sums would cross 2⁶³ at
    sf0.1 — past the safe int128→double zone — while dollar² sums
    stay under 2⁵³ through ~sf100); MAE is a double division of exact
    sums and RMSE one fixed sqrt tree. One day-grid collapse, two
    bounded lag windows, a 2-row report."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            _day("l_shipdate").alias("d"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").alias("rev"))
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "d",
        "rev",
        F.lag("rev", 1).over(w).alias("naive"),
        F.lag("rev", 7).over(w).alias("seasonal"),
    )
    out = None
    for label, col in (("naive_lag1", "naive"), ("seasonal_lag7", "seasonal")):
        err = lagged.filter(F.col(col).isNotNull()).select(
            F.abs(F.col("rev") - F.col(col)).alias("ae"),
            F.expr(
                f"abs(rev - {col}) div 100"
            ).alias("ae_dollars"),
        )
        agg = err.agg(
            F.lit(label).alias("predictor"),
            F.count(F.lit(1)).alias("n_days"),
            F.sum("ae").alias("sum_abs_err"),
            # decimal(38,0) square: a raw long ae² overflows on
            # high-magnitude lakes (bigmoney driftlab)
            F.sum(
                F.col("ae_dollars").cast("decimal(19,0)")
                * F.col("ae_dollars").cast("decimal(19,0)")
            ).alias("sum_sq_err_usd"),
        )
        out = agg if out is None else out.unionAll(agg)
    # three-limb split conversion: a decimal that can outgrow 2⁶³ must
    # not cast to double directly (DuckDB's int128→double is not
    # correctly rounded up there — the wide-integer corollary), and the 2-limb
    # form's // 1e9 quotient itself would overflow BIGINT past 9.2e27
    # — `_limb3_double` is symmetric-exact to
    # ~9.2e36
    sq_d = _limb3_double("sum_sq_err_usd")
    return out.select(
        "predictor",
        "n_days",
        "sum_abs_err",
        (
            F.col("sum_abs_err").cast("double")
            / F.col("n_days").cast("double")
        ).alias("mae_cents"),
        F.sqrt(sq_d / F.col("n_days").cast("double")).alias(
            "rmse_dollars"
        ),
    )


def _limb3_double(col: str) -> Column:
    """decimal(38,0) → double through THREE exactly-converted limbs
    (v = hi·10¹⁸ + mid·10⁹ + lo): every limb stays below 2⁶³, the zone
    where BOTH Spark's IntegralDivide (a BIGINT — it would ANSI-throw
    above) and DuckDB's int128→double (not correctly rounded above —
    the wide-integer corollary) behave, and the 5-op recombination tree is
    identical IEEE on both engines.  Symmetric-exact while
    v < 2⁶³·10¹⁸ ≈ 9.2e36 — the documented envelope (a 2-limb form's quotient would itself
    overflow BIGINT at v ≥ 9.2e27, an asymmetric throw-vs-misconvert
    split).
    Requires v ≥ 0 (DIV truncates, // floors — equal only there).

    Oracle twin (mirror verbatim)::

        CAST(v // 1000000000000000000 AS DOUBLE) * 1e18
        + CAST((v % 1000000000000000000) // 1000000000 AS DOUBLE) * 1e9
        + CAST(v % 1000000000 AS DOUBLE)
    """
    return (
        F.expr(f"CAST({col} DIV 1000000000000000000 AS DOUBLE)")
        * F.lit(1.0e18)
        + F.expr(
            f"CAST(({col} % 1000000000000000000) DIV 1000000000 AS DOUBLE)"
        )
        * F.lit(1.0e9)
        + F.expr(f"CAST({col} % 1000000000 AS DOUBLE)")
    )


ORACLE_ROLLING_MEDIAN = """
WITH daily AS (
  SELECT CAST(FLOOR(epoch_us(l_shipdate) / 86400000000) AS BIGINT)
           AS d,
         SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
),
win AS (
  SELECT a.d AS td, b.rev, b.d
  FROM daily a JOIN daily b
    ON b.d <= a.d AND b.d > a.d - 28
),
ranked AS (
  SELECT td, rev,
         count(*) OVER (PARTITION BY td) AS n,
         ROW_NUMBER() OVER (PARTITION BY td ORDER BY rev, d) AS rk
  FROM win
),
med AS (
  SELECT td, MIN(CASE WHEN 2 * rk >= n THEN rev END) AS med28
  FROM ranked GROUP BY td
)
SELECT td // 30 AS month_bucket, count(*) AS n_days,
       MAX(med28) AS max_med28,
       CAST(SUM(med28) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS mean_med28
FROM med GROUP BY 1
"""


@query("rolling_median", oracle=ORACLE_ROLLING_MEDIAN, bigint=("max_med28",))
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 28-day rolling MEDIAN of daily net revenue — the
    robust smoother percentile windows can't express natively (no
    mergeable rolling-median aggregate exists): the day spine
    self-joins to its trailing window (spine × 28 rows — the spine is
    ~|days|, so the blow-up is bounded by the CALENDAR, not the fact
    table), and each window's median is the grid-exact conditional
    MIN. Emits month-level summaries (mean/max of the rolling median)
    to keep the output bounded. Exact integers + one double mean."""
    # NULL prices excluded: an all-NULL day's NULL rev would ride the
    # median ordering with engine-different placement (nullmeasure)
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
    )
    daily = (
        li.select(
            _day("l_shipdate").alias("d"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").alias("rev"))
    )
    a = daily.select(F.col("d").alias("td"))
    win = a.join(
        daily,
        (F.col("d") <= F.col("td")) & (F.col("d") > F.col("td") - 28),
    )
    ranked = win.select(
        "td",
        "rev",
        F.count(F.lit(1))
        .over(Window.partitionBy("td"))
        .alias("n"),
        F.row_number()
        .over(Window.partitionBy("td").orderBy("rev", "d"))
        .alias("rk"),
    )
    med = ranked.groupBy("td").agg(
        F.min(
            F.when(2 * F.col("rk") >= F.col("n"), F.col("rev"))
        ).alias("med28")
    )
    return (
        med.select(
            F.expr("td div 30").alias("month_bucket"), "med28"
        )
        .groupBy("month_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.max("med28").alias("max_med28"),
            (
                F.sum("med28").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_med28"),
        )
    )


ORACLE_MANN_KENDALL_TREND = """
WITH daily AS (
  SELECT o_orderpriority AS p,
         epoch_us(o_orderdate) // 2592000000000 AS bucket,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
), pairs AS (
  SELECT a.p,
         CASE WHEN b.cents > a.cents THEN 1
              WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn
  FROM daily a JOIN daily b ON a.p = b.p AND a.bucket < b.bucket
), pagg AS (
  SELECT p, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(SUM(sgn) AS BIGINT) AS s_stat
  FROM pairs GROUP BY p
), nb AS (
  SELECT p, CAST(count(*) AS BIGINT) AS n_buckets FROM daily GROUP BY p
)
-- LEFT join: a single-bucket group has no pairs but S = 0 is defined
SELECT nb.p AS priority, nb.n_buckets,
       CAST(coalesce(pagg.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(pagg.s_stat, 0) AS BIGINT) AS s_stat
FROM nb LEFT JOIN pagg ON nb.p = pagg.p
"""


@query("mann_kendall_trend", oracle=ORACLE_MANN_KENDALL_TREND)
def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per order priority: the S statistic
    (Σ sign(x_j − x_i) over all i<j pairs of the 30-day revenue
    series) — the standard non-parametric monotone-trend detector a
    monitoring pipeline runs before alerting on drift.

    Plan: ONE fact-table aggregate to the 30-day bucket spine
    (calendar-bounded — ~80 rows per priority regardless of data
    volume), then the pair self-join runs entirely on that spine:
    |buckets|²/2 rows per priority, never the fact table.  Every
    emitted value is an exact integer (cents sums, pair counts, the
    ±1 sign sum), so the engines agree bit-for-bit."""
    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(
        F.col("o_orderpriority").alias("p"),
        # integer floor-division bucketing — identical `div` ≡ `//`
        # trees on both engines (epochs are positive)
        F.expr("unix_micros(o_orderdate) div 2592000000000").alias(
            "bucket"
        ),
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents")
    )
    a = daily.select("p", F.col("bucket").alias("i"), F.col("cents").alias("xi"))
    b = daily.select("p", F.col("bucket").alias("j"), F.col("cents").alias("xj"))
    sgn = (
        F.when(F.col("xj") > F.col("xi"), 1)
        .when(F.col("xj") < F.col("xi"), -1)
        .otherwise(0)
    )
    pairs = (
        a.join(b, "p")
        .filter(F.col("i") < F.col("j"))
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(sgn).cast("long").alias("s_stat"),
        )
    )
    nb = daily.groupBy("p").agg(F.count(F.lit(1)).alias("n_buckets"))
    # LEFT join from the bucket counts: a single-bucket group has NO
    # pairs (the pair join is empty) but its statistic is defined —
    # S = 0 over 0 pairs — not "absent" (a hypothesis property test
    # caught the inner join silently dropping it)
    return nb.join(pairs, "p", "left").select(
        F.col("p").alias("priority"),
        "n_buckets",
        F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
        F.coalesce("s_stat", F.lit(0)).cast("long").alias("s_stat"),
    )


ORACLE_RUNS_TEST = """
WITH daily AS (
  SELECT o_orderpriority AS p,
         CAST(FLOOR(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
), lagged AS (
  SELECT p, d, cents,
         lag(cents) OVER (PARTITION BY p ORDER BY d) AS prev
  FROM daily
), moves AS (
  SELECT p, d,
         CASE WHEN cents > prev THEN 1 ELSE -1 END AS s
  FROM lagged WHERE prev IS NOT NULL AND cents <> prev
), runs AS (
  SELECT p, s, lag(s) OVER (PARTITION BY p ORDER BY d) AS ps
  FROM moves
)
SELECT p AS priority,
       CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
       CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
       CAST(SUM(CASE WHEN ps IS NULL OR s <> ps THEN 1 ELSE 0 END)
            AS BIGINT) AS n_runs
FROM runs GROUP BY p
"""


@query("runs_test", oracle=ORACLE_RUNS_TEST)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per order priority: over the daily
    revenue series, count up-days, down-days, and the number of RUNS
    of consecutive same-direction moves — too few runs = the series
    is trending/sticky, too many = oscillating; the randomness check
    behind change-detection dashboards.

    Plan: one fact aggregate to the day spine (calendar-bounded),
    then two ROWS-window passes over that spine — lag for the
    day-over-day sign, a second lag over the zero-filtered sign
    sequence for run boundaries.  Partitions are the 5 priorities ×
    ~2.4k spine days: bounded state no matter the fact volume.  All
    outputs are exact integers."""
    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(
        F.col("o_orderpriority").alias("p"),
        _day("o_orderdate").alias("d"),
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents")
    )
    w = Window.partitionBy("p").orderBy("d")
    moves = (
        daily.withColumn("prev", F.lag("cents").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("cents") != F.col("prev")))
        .select(
            "p",
            "d",
            F.when(F.col("cents") > F.col("prev"), 1)
            .otherwise(-1)
            .alias("s"),
        )
    )
    runs = moves.withColumn("ps", F.lag("s").over(w))
    boundary = F.when(
        F.col("ps").isNull() | (F.col("s") != F.col("ps")), 1
    ).otherwise(0)
    return runs.groupBy("p").agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_up"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n_down"),
        F.sum(boundary).cast("long").alias("n_runs"),
    ).select(F.col("p").alias("priority"), "n_up", "n_down", "n_runs")


ORACLE_SURVIVAL_COUNTS = """
WITH per AS (
  SELECT o_custkey AS k,
         min(epoch_us(o_orderdate)) AS first_us,
         max(epoch_us(o_orderdate)) AS last_us
  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
), mx AS (
  SELECT max(epoch_us(o_orderdate)) AS max_us FROM orders
), staged AS (
  SELECT ((last_us - first_us) // 86400000000) // 30 AS bucket,
         CASE WHEN (max_us - last_us) // 86400000000 < 90
              THEN 1 ELSE 0 END AS cens
  FROM per, mx
), tab AS (
  SELECT bucket,
         CAST(SUM(1 - cens) AS BIGINT) AS n_events,
         CAST(SUM(cens) AS BIGINT) AS n_censored
  FROM staged GROUP BY bucket
)
SELECT bucket,
       CAST(SUM(n_events + n_censored)
            OVER (ORDER BY bucket DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_at_risk,
       n_events, n_censored
FROM tab
"""


@query("survival_counts", oracle=ORACLE_SURVIVAL_COUNTS)
def q_survival_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier risk table over customer order lifespans: per
    30-day lifespan bucket, how many customers are still AT RISK, how
    many churned in that bucket (observed: last order ≥ 90 days before
    the corpus end), and how many are right-censored (still active) —
    the survival-analysis input a retention model trains on.

    Plan: one orders aggregate to per-customer (first, last) epochs, a
    1-row corpus-max-date broadcast for the censoring cut, a bucket
    aggregate, then the descending at-risk cumulative sum runs on the
    ~90-row bucket spine only.  NULL custkeys (the nullfk layout) are
    excluded on both sides — an anonymous order has no lifespan.  All
    time math is integer µs floor-division; every output is an exact
    integer."""
    od = load_table(spark, sf_dir, "orders")
    per = (
        od.filter(F.col("o_custkey").isNotNull())
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.min(F.unix_micros("o_orderdate")).alias("first_us"),
            F.max(F.unix_micros("o_orderdate")).alias("last_us"),
        )
    )
    mx = od.agg(F.max(F.unix_micros("o_orderdate")).alias("max_us"))
    staged = per.crossJoin(F.broadcast(mx)).select(
        F.expr("((last_us - first_us) div 86400000000) div 30").alias(
            "bucket"
        ),
        F.when(
            F.expr("(max_us - last_us) div 86400000000") < 90, 1
        )
        .otherwise(0)
        .alias("cens"),
    )
    tab = staged.groupBy("bucket").agg(
        F.sum(1 - F.col("cens")).cast("long").alias("n_events"),
        F.sum("cens").cast("long").alias("n_censored"),
    )
    w = (
        Window.orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return tab.select(
        "bucket",
        F.sum(F.col("n_events") + F.col("n_censored"))
        .over(w)
        .cast("long")
        .alias("n_at_risk"),
        "n_events",
        "n_censored",
    )


ORACLE_SIGMA_OUTLIERS = """
WITH staged AS (
  SELECT c_nationkey AS nation,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS x
  FROM customer WHERE c_acctbal IS NOT NULL
), stats AS (
  -- q stays HUGEINT: per-group SUM(x*x) crosses 2^63 at ~3e7
  -- rows/group, well inside the target scale
  SELECT nation, CAST(SUM(x) AS BIGINT) AS s,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q,
         count(*) AS n
  FROM staged GROUP BY nation
)
SELECT st.nation, CAST(st.n AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN
           CAST(x * st.n - s AS HUGEINT) * CAST(x * st.n - s AS HUGEINT)
           > 4 * (CAST(st.n AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM staged JOIN stats st USING (nation)
GROUP BY st.nation, st.n
"""


@query("sigma_outliers", oracle=ORACLE_SIGMA_OUTLIERS)
def q_sigma_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation 2σ outlier census over customer balances — the
    grouped anomaly gate a data-quality monitor applies per partition
    — computed WITHOUT any floating-point: |x − mean| > 2σ is
    rewritten as the exact integer inequality
    (x·n − S)² > 4·(n·Q − S²) over cents (S = Σx, Q = Σx²), so the
    comparison can never straddle a rounding boundary between engines.

    Plan: one groupBy for the (S, Q, n) moments (25 rows, broadcast
    back), one re-scan for the per-row test — two fact passes, zero
    shuffles beyond the 25-row aggregate.  The squares AND the second
    moment Q ride DECIMAL(38,0) on the Spark side and HUGEINT on the
    oracle side (internal only — outputs are plain BIGINTs): ~10²²
    peak magnitude, 16 orders of headroom.  Q must NOT be narrowed to
    BIGINT: per-group Σx² crosses 2⁶³ at ~3·10⁷ rows/group (~SF 5000),
    well inside the 100 TB regime."""
    cu = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal").isNotNull()
    )
    staged = cu.select(
        F.col("c_nationkey").alias("nation"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("x"),
    )
    stats = staged.groupBy("nation").agg(
        F.sum("x").cast("long").alias("s"),
        F.sum(
            F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("q"),
        F.count(F.lit(1)).alias("n"),
    )
    joined = staged.join(F.broadcast(stats), "nation")
    diff = (F.col("x") * F.col("n") - F.col("s")).cast("decimal(19,0)")
    lhs = diff * diff
    rhs = (
        F.col("n").cast("decimal(19,0)") * F.col("q")
        - F.col("s").cast("decimal(19,0)") * F.col("s").cast("decimal(19,0)")
    ) * F.lit(4)
    return joined.groupBy("nation").agg(
        F.max("n").alias("n_customers"),
        F.sum(F.when(lhs > rhs, 1).otherwise(0))
        .cast("long")
        .alias("n_outliers"),
    )


ORACLE_VALUE_PROFILE = """
WITH staged AS (
  SELECT o_orderstatus, o_orderpriority, o_custkey, o_orderkey,
         CAST(FLOOR(epoch_us(o_orderdate) / 86400000000) AS BIGINT)
           AS o_orderday
  FROM orders
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
    CAST(count(o_orderstatus) AS BIGINT) AS nn_1,
    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd_1,
    CAST(min(o_orderstatus) AS VARCHAR) AS mn_1,
    CAST(max(o_orderstatus) AS VARCHAR) AS mx_1,
    CAST(count(o_orderpriority) AS BIGINT) AS nn_2,
    CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS nd_2,
    CAST(min(o_orderpriority) AS VARCHAR) AS mn_2,
    CAST(max(o_orderpriority) AS VARCHAR) AS mx_2,
    CAST(count(o_custkey) AS BIGINT) AS nn_3,
    CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd_3,
    CAST(min(o_custkey) AS VARCHAR) AS mn_3,
    CAST(max(o_custkey) AS VARCHAR) AS mx_3,
    CAST(count(o_orderkey) AS BIGINT) AS nn_4,
    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd_4,
    CAST(min(o_orderkey) AS VARCHAR) AS mn_4,
    CAST(max(o_orderkey) AS VARCHAR) AS mx_4,
    CAST(count(o_orderday) AS BIGINT) AS nn_5,
    CAST(count(DISTINCT o_orderday) AS BIGINT) AS nd_5,
    CAST(min(o_orderday) AS VARCHAR) AS mn_5,
    CAST(max(o_orderday) AS VARCHAR) AS mx_5
  FROM staged
)
SELECT 'o_orderstatus' AS column_name, n_rows, nn_1 AS n_nonnull,
       nd_1 AS n_distinct, mn_1 AS min_val, mx_1 AS max_val FROM agg
UNION ALL
SELECT 'o_orderpriority', n_rows, nn_2, nd_2, mn_2, mx_2 FROM agg
UNION ALL
SELECT 'o_custkey', n_rows, nn_3, nd_3, mn_3, mx_3 FROM agg
UNION ALL
SELECT 'o_orderkey', n_rows, nn_4, nd_4, mn_4, mx_4 FROM agg
UNION ALL
SELECT 'o_orderday', n_rows, nn_5, nd_5, mn_5, mx_5 FROM agg
"""


@query("value_profile", oracle=ORACLE_VALUE_PROFILE)
def q_value_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profiling of the orders table — row count,
    non-null count, exact distinct count, and min/max rendered as
    strings — one row per profiled column; the schema-drift /
    data-quality report a lake catalog publishes per snapshot.

    Plan: ONE pass over the fact table computes every metric in a
    single aggregate (Spark plans the multi-column exact distincts
    via one Expand — a deliberate ×5 row expansion, the honest price
    of exactness; the approximate twin would be HLL sketches), then a
    5-row ``stack`` unpivots the 1-row result.  Profiled values are
    strings and integers only (keys/dates go through integer casts
    first) — doubles never enter a string render, so the engines
    cannot format-split."""
    # the 5-way count-distinct plans an Expand (6× row multiply) whose
    # partial aggregation runs in the scan stage — spread the
    # single-split scan (guide §2.5; no-op at scale)
    od = ensure_scan_parallelism(
        load_table(spark, sf_dir, "orders").select(
            "o_orderstatus",
            "o_orderpriority",
            "o_custkey",
            "o_orderkey",
            _day("o_orderdate").alias("o_orderday"),
        )
    )
    cols = [
        "o_orderstatus",
        "o_orderpriority",
        "o_custkey",
        "o_orderkey",
        "o_orderday",
    ]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(c).cast("string").alias(f"mn_{c}"),
            F.max(c).cast("string").alias(f"mx_{c}"),
        ]
    one = od.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in cols
    )
    return one.select(
        "n_rows",
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column_name, n_nonnull, n_distinct, min_val, max_val)"
        ),
    ).select(
        "column_name", "n_rows", "n_nonnull", "n_distinct",
        "min_val", "max_val",
    )


ORACLE_ROLLING_VOLATILITY = """
WITH daily AS (
  SELECT CAST(FLOOR(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
), roll AS (
  SELECT d,
         CAST(count(*) OVER w AS BIGINT) AS n_days,
         CAST(SUM(cents) OVER w AS BIGINT) AS s_cents,
         CAST(SUM(CAST(cents AS HUGEINT) * cents) OVER w
              AS HUGEINT) AS qq
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
), num AS (
  SELECT d, n_days, s_cents,
         CAST(n_days AS HUGEINT) * qq
           - CAST(s_cents AS HUGEINT) * s_cents AS var_num
  FROM roll
)
-- three exact BIGINT limbs, mirroring the engine's _limb3_bigints
-- (wide-decimal emission is the r8 driver red class)
SELECT d, n_days, s_cents,
       CAST(var_num // 1000000000000000000 AS BIGINT) AS var_hi,
       CAST((var_num % 1000000000000000000) // 1000000000
            AS BIGINT) AS var_mid,
       CAST(var_num % 1000000000 AS BIGINT) AS var_lo
FROM num
"""


@query("rolling_volatility", oracle=ORACLE_ROLLING_VOLATILITY)
def q_rolling_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day revenue volatility per day, FP-free: the rolling
    variance is reported as its exact integer numerator
    n·ΣQ − S² (Q = Σcents², S = Σcents over the window) — the
    risk/stability band a monitoring dashboard draws, computed so the
    engines cannot rounding-split.

    Plan: one fact aggregate to the day spine, then a single
    ROWS-frame window over that calendar-bounded spine (~2.4k rows —
    the SinglePartition sort is over the aggregate, never the fact
    table).  The squares ride DECIMAL(38,0) / HUGEINT internally; the
    numerator LEAVES the query as three exact BIGINT limbs
    (``_limb3_bigints``) because the driver's canonicalizer
    hash-splits on emitted decimals wider than 18 digits even when
    every value is cross-engine identical (typeaudit forbids the
    class).  n and S plain BIGINTs."""
    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(_day("o_orderdate").alias("d")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents")
    )
    w = Window.orderBy("d").rowsBetween(-6, Window.currentRow)
    roll = daily.select(
        "d",
        F.count(F.lit(1)).over(w).alias("n_days"),
        F.sum("cents").over(w).cast("long").alias("s_cents"),
        F.sum(
            F.col("cents").cast("decimal(19,0)")
            * F.col("cents").cast("decimal(19,0)")
        )
        .over(w)
        .cast("decimal(38,0)")
        .alias("qq"),
    )
    num = roll.select(
        "d",
        "n_days",
        "s_cents",
        (
            F.col("n_days").cast("decimal(19,0)") * F.col("qq")
            - F.col("s_cents").cast("decimal(19,0)")
            * F.col("s_cents").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("var_num"),
    )
    return num.select(
        "d", "n_days", "s_cents", *_limb3_bigints("var_num", "var")
    )


ORACLE_WELCH_TTEST = """
WITH base AS (
  SELECT o_orderpriority,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8)
              AS BIGINT) % 2 AS arm
  FROM orders WHERE o_totalprice IS NOT NULL
),
agg AS (
  SELECT o_orderpriority,
         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         SUM(CASE WHEN arm = 0 THEN cents END) AS s_a,
         SUM(CASE WHEN arm = 0 THEN CAST(cents AS HUGEINT) * cents END)
           AS q_a,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         SUM(CASE WHEN arm = 1 THEN cents END) AS s_b,
         SUM(CASE WHEN arm = 1 THEN CAST(cents AS HUGEINT) * cents END)
           AS q_b
  FROM base GROUP BY o_orderpriority
),
m AS (
  -- three-limb split conversion mirrors the engine (_limb3_double):
  -- the HUGEINT Σcents² outgrows the correctly-rounded int128→double
  -- zone past 2^63, and a single // 1e9 quotient would itself
  -- overflow the engine's BIGINT DIV past 9.2e27
  SELECT o_orderpriority, n_a, n_b,
         CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
         CAST(q_a // 1000000000000000000 AS DOUBLE) * 1e18
           + CAST((q_a % 1000000000000000000) // 1000000000 AS DOUBLE) * 1e9
           + CAST(q_a % 1000000000 AS DOUBLE) AS qad,
         CAST(q_b // 1000000000000000000 AS DOUBLE) * 1e18
           + CAST((q_b % 1000000000000000000) // 1000000000 AS DOUBLE) * 1e9
           + CAST(q_b % 1000000000 AS DOUBLE) AS qbd,
         CAST(s_a AS DOUBLE) AS sad, CAST(s_b AS DOUBLE) AS sbd
  FROM agg
),
v AS (
  -- count guards mirror the Spark plan: an n < 2 arm yields NULL aa/ab
  -- (never inf from x/0.0), so the t/df CASEs below see NULL se2
  SELECT o_orderpriority, n_a, n_b, nad, nbd, sad, sbd,
         CASE WHEN n_a >= 2
              THEN (qad - sad * (sad / nad)) / (nad - 1.0) / nad END AS aa,
         CASE WHEN n_b >= 2
              THEN (qbd - sbd * (sbd / nbd)) / (nbd - 1.0) / nbd END AS ab
  FROM m
)
SELECT o_orderpriority, n_a, n_b,
       CASE WHEN n_a >= 2 AND n_b >= 2 AND aa + ab > 0
            THEN (sad / nad - sbd / nbd) / sqrt(aa + ab) END AS t_welch,
       CASE WHEN n_a >= 2 AND n_b >= 2 AND aa + ab > 0
             AND aa * aa / (nad - 1.0) + ab * ab / (nbd - 1.0) > 0
            THEN (aa + ab) * (aa + ab)
                 / (aa * aa / (nad - 1.0) + ab * ab / (nbd - 1.0)) END
         AS df_welch
FROM v
"""


@query("welch_ttest", oracle=ORACLE_WELCH_TTEST)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two md5-parity arms of
    the order-value distribution, per order priority — the
    continuous-metric companion to ``ab_test_zscore``'s two-proportion z.

    Exact-integer moments (n, Σx, Σx² in decimal(38,0) cents — the
    100 TB-safe accumulator; a BIGINT Σx² overflows past ~4×10⁹ rows),
    then t and the Welch–Satterthwaite df from one IDENTICAL IEEE op
    tree over the six exact operands — ÷ × + − √ only, no
    transcendentals, so the doubles are bit-equal across engines.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    arm = (
        F.conv(
            F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 2
    )
    c2 = (
        F.col("cents").cast("decimal(19,0)")
        * F.col("cents").cast("decimal(19,0)")
    )
    base = o.select(
        "o_orderpriority", cents.alias("cents"), arm.alias("arm")
    )
    agg = base.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("cents"))).alias("s_a"),
        F.sum(F.when(F.col("arm") == 0, c2)).alias("q_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("cents"))).alias("s_b"),
        F.sum(F.when(F.col("arm") == 1, c2)).alias("q_b"),
    )
    nad, nbd = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    # three-limb split conversion for the Σcents² moments: q_a/q_b are
    # decimal(38,0) (HUGEINT in the oracle) and already exceed 2⁶³ at
    # vanilla sf0.1 (~4e19), the zone where DuckDB's int128→double is
    # not correctly rounded (the wide-integer corollary).  Three limbs
    # (not two) so the quotient itself can never overflow Spark's
    # BIGINT IntegralDivide — symmetric-exact to ~9.2e36
    # (`_limb3_double`).
    qad = _limb3_double("q_a")
    qbd = _limb3_double("q_b")
    # every division sits under a count guard: an arm with n < 2 has no
    # variance, and ANSI Spark throws on x/0.0 where DuckDB yields ±inf
    # (the onerow driftlab class) — aa/ab are NULL there, and NULL
    # propagation keeps every downstream operand division-free
    aa = F.when(
        F.col("n_a") >= 2,
        (
            qad
            - F.col("s_a").cast("double")
            * (F.col("s_a").cast("double") / nad)
        )
        / (nad - F.lit(1.0))
        / nad,
    )
    ab = F.when(
        F.col("n_b") >= 2,
        (
            qbd
            - F.col("s_b").cast("double")
            * (F.col("s_b").cast("double") / nbd)
        )
        / (nbd - F.lit(1.0))
        / nbd,
    )
    se2 = aa + ab
    okc = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    den_df = aa * aa / (nad - F.lit(1.0)) + ab * ab / (nbd - F.lit(1.0))
    return agg.select(
        "o_orderpriority",
        "n_a",
        "n_b",
        F.when(
            okc & (se2 > 0),
            (
                F.col("s_a").cast("double") / nad
                - F.col("s_b").cast("double") / nbd
            )
            / F.sqrt(se2),
        ).alias("t_welch"),
        F.when(okc & (se2 > 0) & (den_df > 0), se2 * se2 / den_df).alias(
            "df_welch"
        ),
    )


ORACLE_SPEARMAN_CORR = """
WITH base AS (
  SELECT l_returnflag, l_quantity AS x,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
),
ranked AS (
  SELECT l_returnflag,
         2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY x)
           + COUNT(*) OVER (PARTITION BY l_returnflag, x) - 1 AS rx,
         2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY y)
           + COUNT(*) OVER (PARTITION BY l_returnflag, y) - 1 AS ry
  FROM base
),
agg AS (
  SELECT l_returnflag, COUNT(*) AS n,
         SUM(CAST(rx AS HUGEINT)) AS sx,
         SUM(CAST(ry AS HUGEINT)) AS sy,
         SUM(CAST(rx AS HUGEINT) * rx) AS sxx,
         SUM(CAST(ry AS HUGEINT) * ry) AS syy,
         SUM(CAST(rx AS HUGEINT) * ry) AS sxy
  FROM ranked GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
             AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
            THEN ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)
       END AS spearman_rho
FROM agg
"""


@query("spearman_corr", oracle=ORACLE_SPEARMAN_CORR)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (quantity vs revenue cents per return
    flag) — Pearson over FRACTIONAL ranks with exact tie handling:
    the average rank of a tie group is ``RANK() + (ties − 1)/2``, so
    2×rank is the exact integer ``2·RANK() + ties − 1`` and every
    moment accumulates exactly (decimal(20,0) operands whose products
    promote to decimal(38,0) under Spark's multiply widening; HUGEINT
    in the oracle) with zero float error.  The final ρ is one ÷ × + −
    √ tree over the six exact sums, rounded at scale 9 on both sides:
    past 2⁶³ (sxx/syy ~1e21 at sf1) the two engines' int128→double
    conversions stop agreeing at the last ulp (same class as
    corr_matrix), and |ρ| ≤ 1 makes a 1e-9 quantum
    semantically free.

    Plan: one window shuffle per axis on (flag) carrying RANK and the
    tie count together, then a single map-side-combinable aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull()
    )
    ycents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
        "long"
    )
    base = li.select(
        "l_returnflag",
        F.col("l_quantity").alias("x"),
        ycents.alias("y"),
    )
    wx = Window.partitionBy("l_returnflag").orderBy("x")
    wxt = Window.partitionBy("l_returnflag", "x")
    wy = Window.partitionBy("l_returnflag").orderBy("y")
    wyt = Window.partitionBy("l_returnflag", "y")
    ranked = base.select(
        "l_returnflag",
        (
            F.lit(2) * F.rank().over(wx) + F.count(F.lit(1)).over(wxt) - 1
        ).alias("rx"),
        (
            F.lit(2) * F.rank().over(wy) + F.count(F.lit(1)).over(wyt) - 1
        ).alias("ry"),
    )
    d = lambda c: F.col(c).cast("decimal(20,0)")  # noqa: E731
    agg = ranked.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d("rx")).alias("sx"),
        F.sum(d("ry")).alias("sy"),
        F.sum(d("rx") * d("rx")).alias("sxx"),
        F.sum(d("ry") * d("ry")).alias("syy"),
        F.sum(d("rx") * d("ry")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sxd * syd
    denx = nd * F.col("sxx").cast("double") - sxd * sxd
    deny = nd * F.col("syy").cast("double") - syd * syd
    return agg.select(
        "l_returnflag",
        "n",
        # accepted residual risk: Spark F.round(double, 9)
        # (BigDecimal HALF_UP over shortest repr) vs DuckDB
        # ROUND(DOUBLE, 9) (float multiply/rint) can disagree if ρ
        # lands within an ulp of a .5e-9 boundary — same accepted
        # class as corr_matrix; if a sweep ever splits here, quantize
        # via floor(x*1e9+0.5)/1e9 mirrored verbatim on both sides
        F.when(
            (denx > 0) & (deny > 0), F.round(num / F.sqrt(denx * deny), 9)
        ).alias("spearman_rho"),
    )


ORACLE_MUTUAL_INFORMATION = """
WITH base AS (
  SELECT event_type,
         (epoch_us(ts) // 86400000000 + 4) % 7 AS dow
  FROM events
),
joint AS (
  SELECT event_type, dow, COUNT(*) AS c FROM base GROUP BY event_type, dow
),
mx AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS cx
       FROM joint GROUP BY event_type),
my AS (SELECT dow, CAST(SUM(c) AS BIGINT) AS cy FROM joint GROUP BY dow),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM joint),
cells AS (
  SELECT j.c, m1.cx, m2.cy, t.n
  FROM joint j
  JOIN mx m1 USING (event_type)
  JOIN my m2 USING (dow)
  CROSS JOIN tot t
)
SELECT CAST(MAX(n) AS BIGINT) AS n_events,
       COUNT(*) AS n_cells,
       CAST(CAST(round(SUM(CAST(round(
             (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
               * ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE))
                    / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))),
             9) AS DECIMAL(18,9))), 5) AS DECIMAL(28,5)) AS DOUBLE)
         AS mi_nats
FROM cells
"""


@query("mutual_information", oracle=ORACLE_MUTUAL_INFORMATION)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between event type and weekday —
    the feature-dependence screen (column-level MI; collocation_lift
    is the token-level PMI cousin).  I(X;Y) = Σ p·ln(c·n / (cx·cy))
    over the joint contingency table.

    Plan: ONE groupBy builds the joint table (tiny: |types|×7 cells);
    marginals come from broadcast equi-joins of two cell-level
    re-aggregates, and n from a 1-row broadcast — the contingency
    table never re-scans events.  Transcendental-sum discipline: each
    term rounds to decimal(18,9) before the exact sum; terminal
    quantize at scale 5 (vocab_entropy's tree).
    """
    ev = load_table(spark, sf_dir, "events")
    day_us = 86_400_000_000
    base = ev.select(
        "event_type",
        ((F.expr(f"unix_micros(ts) DIV {day_us}") + 4) % 7).alias("dow"),
    )
    joint = base.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("c")
    )
    mx = joint.groupBy("event_type").agg(F.sum("c").alias("cx"))
    my = joint.groupBy("dow").agg(F.sum("c").alias("cy"))
    tot = joint.agg(F.sum("c").alias("n"))
    cells = (
        joint.join(F.broadcast(mx), "event_type")
        .join(F.broadcast(my), "dow")
        .crossJoin(F.broadcast(tot))
    )
    ratio = (F.col("c").cast("double") * F.col("n").cast("double")) / (
        F.col("cx").cast("double") * F.col("cy").cast("double")
    )
    term = F.round(
        (F.col("c").cast("double") / F.col("n").cast("double"))
        * F.log(ratio),
        9,
    ).cast("decimal(18,9)")
    return cells.agg(
        F.max("n").cast("long").alias("n_events"),
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum(term).cast("decimal(28,9)"), 5)
        .cast("decimal(28,5)")
        .cast("double")
        .alias("mi_nats"),
    )


#: Poisson(1) inverse-CDF thresholds scaled to 2³² — floor(CDF(k)·2³²)
#: for k = 0..4; a 32-bit md5 uniform below threshold[k] draws weight k,
#: above all five draws 5.  Literals are embedded identically in the
#: Spark plan and the DuckDB oracle, so the bootstrap is deterministic
#: and engine-portable.
_POISSON1_T = (1580030168, 3160060337, 3950075421, 4213413783, 4279248373)


ORACLE_BOOTSTRAP_CI = f"""
WITH base AS (
  SELECT o_orderpriority,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(o_orderkey AS VARCHAR) AS okey, i.b AS b
  FROM orders, (SELECT unnest(range(0, 32)) AS b) i
  WHERE o_totalprice IS NOT NULL
),
weighted AS (
  SELECT o_orderpriority, b, cents,
         CASE
           WHEN u < {_POISSON1_T[0]} THEN 0
           WHEN u < {_POISSON1_T[1]} THEN 1
           WHEN u < {_POISSON1_T[2]} THEN 2
           WHEN u < {_POISSON1_T[3]} THEN 3
           WHEN u < {_POISSON1_T[4]} THEN 4
           ELSE 5
         END AS w
  FROM (
    -- one md5 per group of 4 replicates; disjoint 8-hex windows
    SELECT *,
           CAST('0x' || substr(
               md5(CAST(b // 4 AS VARCHAR) || '#' || okey),
               1 + 8 * CAST(b % 4 AS INT), 8) AS BIGINT) AS u
    FROM base
  )
),
rep AS (
  SELECT o_orderpriority, b,
         CAST(SUM(CAST(w AS HUGEINT) * cents) AS DOUBLE)
           / CAST(SUM(w) AS DOUBLE) AS mean_b
  FROM weighted
  GROUP BY o_orderpriority, b
  HAVING SUM(w) > 0
),
ranked AS (
  SELECT o_orderpriority, mean_b,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY mean_b, b) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
  FROM rep
)
SELECT o_orderpriority,
       CAST(MAX(cnt) AS BIGINT) AS n_reps,
       MAX(CASE WHEN rn = least(2, cnt) THEN mean_b END) AS ci_lo,
       MAX(CASE WHEN rn = greatest(cnt - 1, 1) THEN mean_b END) AS ci_hi
FROM ranked GROUP BY o_orderpriority
"""


@query("bootstrap_ci", oracle=ORACLE_BOOTSTRAP_CI)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for mean order value per
    priority — THE scalable bootstrap (each row draws an independent
    Poisson(1) replication weight per replicate; no resample pass over
    the data, one shuffle total).  Deterministic: the weight comes from
    a 32-bit md5 uniform through the Poisson(1) inverse CDF, so both
    engines draw identical replicates.  B = 32; the CI is the 2nd and
    31st order statistic of the replicate means (~93.75% coverage).
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    # one md5 yields FOUR independent 32-bit uniforms (8 hex chars
    # each): explode by DIGEST GROUP first (rows × 8, one md5 each),
    # then slice the four disjoint hex windows per digest — the md5 is
    # computed 1.2M times instead of once per (row, replicate) 4.8M
    # (hashing dominates this plan; measured ~2× at sf0.1)
    # the md5/conv hashing below dominates this plan and would otherwise
    # run inside the scan stage — one task on a single-row-group file
    # (guide §2.5; measured 6.2 → 1.3 s, ensure_scan_parallelism doc)
    proj = ensure_scan_parallelism(
        o.select(
            "o_orderpriority",
            cents.alias("cents"),
            F.col("o_orderkey").cast("string").alias("okey"),
        )
    )
    grouped = proj.select(
        "o_orderpriority",
        "cents",
        "okey",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("bg"),
    ).select(
        "o_orderpriority",
        "cents",
        "bg",
        F.md5(
            F.concat_ws("#", F.col("bg").cast("string"), F.col("okey"))
        ).alias("__hex"),
    )
    base = grouped.select(
        "o_orderpriority",
        "cents",
        "bg",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda j: F.conv(
                    F.col("__hex").substr(
                        F.lit(1) + F.lit(8) * j, F.lit(8)
                    ),
                    16,
                    10,
                ).cast("long"),
            )
        ).alias("__j", "__u"),
    ).select(
        "o_orderpriority",
        "cents",
        (F.col("bg") * 4 + F.col("__j")).alias("b"),
        F.col("__u").alias("__u"),
    )
    u = F.col("__u")
    t = _POISSON1_T
    w = (
        F.when(u < t[0], 0)
        .when(u < t[1], 1)
        .when(u < t[2], 2)
        .when(u < t[3], 3)
        .when(u < t[4], 4)
        .otherwise(5)
    )
    rep = (
        base.select("o_orderpriority", "b", "cents", w.alias("w"))
        .groupBy("o_orderpriority", "b")
        .agg(
            F.sum("w").alias("sw"),
            F.sum(
                (F.col("w").cast("long") * F.col("cents")).cast(
                    "decimal(38,0)"
                )
            ).alias("swx"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "o_orderpriority",
            "b",
            (F.col("swx").cast("double") / F.col("sw").cast("double")).alias(
                "mean_b"
            ),
        )
    )
    wr = Window.partitionBy("o_orderpriority").orderBy("mean_b", "b")
    wc = Window.partitionBy("o_orderpriority")
    ranked = rep.select(
        "o_orderpriority",
        "mean_b",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    lo_rn = F.least(F.lit(2), F.col("cnt"))
    hi_rn = F.greatest(F.col("cnt") - 1, F.lit(1))
    return ranked.groupBy("o_orderpriority").agg(
        F.max("cnt").alias("n_reps"),
        F.max(F.when(F.col("rn") == lo_rn, F.col("mean_b"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == hi_rn, F.col("mean_b"))).alias("ci_hi"),
    )


#: HyperLogLog α₆₄·m² = (0.7213 / (1 + 1.079/64)) · 64² — ONE shared
#: Python-precomputed double literal embedded into BOTH engines'
#: expressions (the oracle CASTs it to DOUBLE explicitly: a bare DuckDB
#: numeric literal is DECIMAL-typed and its arithmetic overflows /
#: promotes differently), so the estimator constant cannot drift.
_HLL_ALPHA64_M2 = 2905.460551022604


ORACLE_HLL_CARDINALITY_PORTABLE = f"""
WITH ev AS (
  SELECT user_id,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL
),
base AS (
  SELECT h >> 26 AS bucket,
         CASE WHEN (h & {(1 << 26) - 1}) = 0 THEN 27
              ELSE 27 - length(bin(h & {(1 << 26) - 1})) END AS rank
  FROM ev
),
regs AS (SELECT bucket, MAX(rank) AS m FROM base GROUP BY bucket),
est AS (
  SELECT COUNT(*) AS nb,
         SUM(1.0 / CAST((CAST(1 AS BIGINT) << m) AS DOUBLE)) AS s
  FROM regs
),
truth AS (SELECT COUNT(DISTINCT user_id) AS n_true
          FROM events WHERE user_id IS NOT NULL)
SELECT CAST(est.nb AS BIGINT) AS n_buckets_hit, truth.n_true,
       CASE WHEN est.nb > 0
            THEN CAST({_HLL_ALPHA64_M2!r} AS DOUBLE)
                 / (est.s + CAST(64 - est.nb AS DOUBLE)) END
         AS hll_estimate
FROM est CROSS JOIN truth
"""


@query("hll_cardinality_portable", oracle=ORACLE_HLL_CARDINALITY_PORTABLE)
def q_hll_cardinality_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count with an engine-portable register set —
    the exact-value-oracled twin of the rows-only ``approx_cardinality``
    sketch (whose engine-native HLL buffers cannot be replayed in SQL).

    md5-derived 32-bit hash → 6-bit bucket + 26-bit suffix; register =
    max leading-rank per bucket (rank via ``27 − length(bin(w))``, both
    engines' ``bin`` strips leading zeros identically); the harmonic
    mean Σ2^(−M) is a sum of exact dyadic doubles (bit-exact in ANY
    summation order — no float-reduction hazard), so the raw Flajolet
    estimate αm²/Σ is one correctly-rounded division on both engines.
    Map-side combinable max per bucket: ONE shuffle of ≤ 64 longs.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    base = ev.select(
        F.shiftright(h, 26).alias("bucket"),
        h.bitwiseAND(F.lit((1 << 26) - 1)).alias("wbits"),
    ).select(
        "bucket",
        F.when(F.col("wbits") == 0, F.lit(27)).otherwise(
            F.lit(27) - F.length(F.bin(F.col("wbits")))
        ).alias("rank"),
    )
    regs = base.groupBy("bucket").agg(F.max("rank").alias("m"))
    truth = ev.agg(F.count_distinct("user_id").alias("n_true"))
    est = regs.agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum(F.expr("1.0 / CAST(shiftleft(1L, m) AS DOUBLE)")).alias("s"),
    ).select(
        "nb",
        F.when(
            F.col("nb") > 0,
            F.lit(_HLL_ALPHA64_M2)
            / (F.col("s") + (F.lit(64) - F.col("nb")).cast("double")),
        ).alias("hll_estimate"),
    )
    return est.crossJoin(F.broadcast(truth)).select(
        F.col("nb").alias("n_buckets_hit"), "n_true", "hll_estimate"
    )


#: Two-sided-geometric (discrete Laplace, decay ½, truncated ±8)
#: inverse-CDF thresholds scaled to 2³² — the geometric mechanism's
#: noise table, embedded identically in both engines.
_DLAP_T = (
    (-8, 5607006), (-7, 16821020), (-6, 39249048), (-5, 84105103),
    (-4, 173817214), (-3, 353241435), (-2, 712089878), (-1, 1429786763),
    (0, 2865180532), (1, 3582877417), (2, 3941725860), (3, 4121150081),
    (4, 4210862192), (5, 4255718247), (6, 4278146275), (7, 4289360289),
)


def _oracle_dp_noisy_counts() -> str:
    cases = "\n           ".join(
        f"WHEN u < {t} THEN {k}" for k, t in _DLAP_T
    )
    return f"""
WITH counts AS (
  SELECT event_type, COUNT(*) AS n_true FROM events GROUP BY event_type
),
drawn AS (
  SELECT event_type, n_true,
         CASE
           {cases}
           ELSE 8
         END AS noise
  FROM (
    SELECT *,
           CAST('0x' || substr(md5('dp#' || event_type), 1, 8)
                AS BIGINT) AS u
    FROM counts
  )
)
SELECT event_type, n_true, CAST(noise AS BIGINT) AS noise,
       CAST(greatest(n_true + noise, 0) AS BIGINT) AS n_noisy
FROM drawn
"""


ORACLE_DP_NOISY_COUNTS = _oracle_dp_noisy_counts()


@query("dp_noisy_counts", oracle=ORACLE_DP_NOISY_COUNTS)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private-STYLE noisy release of per-type event
    counts via the geometric mechanism (two-sided geometric noise, the
    discrete Laplace — Ghosh et al. 2009), with the noise draw
    DETERMINISTIC from an md5 uniform so the release is replayable and
    oracle-checkable.  NOT private in the cryptographic sense (a seeded
    draw is disclosure-equivalent to the truth — a real deployment
    swaps in a CSPRNG); what this pins is the mechanism's integer
    pipeline: counts, inverse-CDF noise, post-processing clamp at 0.

    Plan: one map-side-combinable count per type + O(1) per-group noise
    arithmetic — the 100 TB shape of every DP aggregate release.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_true"))
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("dp#"), F.col("event_type"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    noise = F.lit(8)
    for k, t in reversed(_DLAP_T):
        noise = F.when(u < t, F.lit(k)).otherwise(noise)
    return counts.select(
        "event_type",
        "n_true",
        noise.cast("long").alias("noise"),
        F.greatest(F.col("n_true") + noise, F.lit(0).cast("long")).alias(
            "n_noisy"
        ),
    )


ORACLE_KRUSKAL_WALLIS = """
WITH t AS (
  SELECT o_orderpriority,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
  FROM orders WHERE o_totalprice IS NOT NULL
),
grid AS (SELECT c, COUNT(*) AS nv FROM t GROUP BY c),
ranked_grid AS (
  SELECT c,
         2 * (SUM(nv) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) - nv)
           + nv + 1 AS ar2
  FROM grid
),
per_gv AS (
  SELECT o_orderpriority, c, COUNT(*) AS ngv
  FROM t GROUP BY o_orderpriority, c
),
rsum AS (
  SELECT o_orderpriority, SUM(ngv) AS n_g,
         SUM(CAST(ngv AS HUGEINT) * ar2) AS r2_g
  FROM per_gv JOIN ranked_grid USING (c)
  GROUP BY o_orderpriority
),
tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n, COUNT(*) AS k FROM rsum),
terms AS (
  SELECT o_orderpriority, tot.n, tot.k,
         CAST(r2_g AS DOUBLE) * CAST(r2_g AS DOUBLE)
           / CAST(n_g AS DOUBLE) AS term
  FROM rsum CROSS JOIN tot
),
-- group-key-ordered cumulative sum pins the float reduction order
-- (terms are inexact doubles; a plain SUM's merge order is
-- engine-dependent)
seq AS (
  SELECT n, k,
         SUM(term) OVER (ORDER BY o_orderpriority
                         ROWS UNBOUNDED PRECEDING) AS s,
         ROW_NUMBER() OVER (ORDER BY o_orderpriority) AS rn
  FROM terms
)
SELECT n, k,
       CASE WHEN n >= 2 THEN
         3.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * s
         - 3.0 * (CAST(n AS DOUBLE) + 1.0) END AS h_stat
FROM seq WHERE rn = k
"""


@query("kruskal_wallis", oracle=ORACLE_KRUSKAL_WALLIS)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H across the order-priority groups on order value
    — the k-sample rank test completing the mannwhitney_u (2-sample) /
    welch_ttest (parametric) family.  No tie correction (documented;
    identical on both engines).

    Exact fractional ranks WITHOUT a per-row global sort: collapse to
    the distinct value grid, cum-sum the grid (|distinct| rows), then
    2×avg-rank(v) = 2·cum_prev + n_v + 1 is exact integer algebra and
    each group's rank sum is Σ n_gv · avgrank2(v) — one grid join, one
    group aggregate, H from one fixed double tree over decimal(38,0)
    sums (R² reaches ~2⁷⁰ at sf1: wide-decimal, converted to double
    only after the division-safe guards).
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    t = o.select("o_orderpriority", cents.alias("c"))
    grid = t.groupBy("c").agg(F.count(F.lit(1)).alias("nv"))
    wg = Window.orderBy("c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked_grid = grid.select(
        "c",
        (
            2 * (F.sum("nv").over(wg) - F.col("nv")) + F.col("nv") + 1
        ).alias("ar2"),
    )
    per_gv = t.groupBy("o_orderpriority", "c").agg(
        F.count(F.lit(1)).alias("ngv")
    )
    rsum = (
        per_gv.join(ranked_grid, "c")
        .groupBy("o_orderpriority")
        .agg(
            F.sum("ngv").alias("n_g"),
            F.sum(
                (F.col("ngv") * F.col("ar2")).cast("decimal(38,0)")
            ).alias("r2_g"),
        )
    )
    tot = rsum.agg(
        F.sum("n_g").alias("n"), F.count(F.lit(1)).alias("k")
    )
    # Σ R2_g² / n_g: the terms are NOT exact doubles, so a hash-stable
    # sum must fix the reduction ORDER — a group-key-ordered cumulative
    # window (the embedding_neardup cumsum idiom), never a groupBy SUM
    # whose partial-merge order is engine-dependent
    terms = rsum.crossJoin(F.broadcast(tot)).select(
        "o_orderpriority",
        "n",
        "k",
        (
            F.col("r2_g").cast("double")
            * F.col("r2_g").cast("double")
            / F.col("n_g").cast("double")
        ).alias("term"),
    )
    wseq = Window.orderBy("o_orderpriority").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    seq = terms.select(
        "n",
        "k",
        F.sum("term").over(wseq).alias("s"),
        F.row_number()
        .over(Window.orderBy("o_orderpriority"))
        .alias("rn"),
    ).filter(F.col("rn") == F.col("k"))
    nd = F.col("n").cast("double")
    return seq.select(
        F.col("n"),
        F.col("k"),
        F.when(
            F.col("n") >= 2,
            F.lit(3.0) / (nd * (nd + F.lit(1.0))) * F.col("s")
            - F.lit(3.0) * (nd + F.lit(1.0)),
        ).alias("h_stat"),
    )
