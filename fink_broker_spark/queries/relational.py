"""Relational queries over the TPC-H tables: scans, filters, joins,
grouping sets, window suites and table audits, each with its DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fink_broker_spark.operators.relational import broadcast_equi_join, top_k
from fink_broker_spark.operators.salting import salt_expr, salted_row_key
from fink_broker_spark.plans.materialize import materialize
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


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       count(*) AS count_order,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,9))), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,9))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,9)) *
                (CAST(1.0 AS DECIMAL(18,9)) - CAST(l_discount AS DECIMAL(18,9)))), 2)
            AS DOUBLE) AS sum_disc_price
FROM lineitem
WHERE l_quantity < 50
GROUP BY l_returnflag, l_linestatus
"""


@query("pricing_summary", oracle=ORACLE_PRICING)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: scan → filter → group-aggregate (TPC-H Q1 shape).

    Exercises predicate pushdown + partial (map-side) aggregation — the
    plan every nightly-statistics job in the reference reduces to
    (``bin/ztf/archive_statistics.py:93-141``).
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (
        F.lit(1.0).cast("decimal(18,9)") - _dec("l_discount")
    )
    return (
        li.filter(F.col("l_quantity") < 50)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("count_order"),
            F.round(F.sum(_dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(_dec("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
        )
    )


ORACLE_SHIPPING_PRIORITY = """
SELECT l_orderkey,
       CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INTEGER)
         AS o_orderdate_day,
       o_orderpriority,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,9)) *
                (CAST(1.0 AS DECIMAL(18,9)) - CAST(l_discount AS DECIMAL(18,9)))), 2)
            AS DOUBLE) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, epoch_us(o_orderdate) ASC, l_orderkey ASC
LIMIT 10
"""


@query("shipping_priority", oracle=ORACLE_SHIPPING_PRIORITY)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way selective join (customer ⋈ orders ⋈
    lineitem) with per-order revenue and a global top-10 — the plan
    audit target for join ordering + TakeOrderedAndProject. Revenue
    sums run in decimal for cross-engine exactness."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    revenue = _dec("l_extendedprice") * (
        F.lit(1.0).cast("decimal(18,9)") - _dec("l_discount")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            ).alias("o_orderdate_day"),
            "o_orderpriority",
            "revenue",
        )
    )


ORACLE_LOCAL_SUPPLIER_VOLUME = """
SELECT n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,9)) *
                (CAST(1.0 AS DECIMAL(18,9)) - CAST(l_discount AS DECIMAL(18,9)))), 2)
            AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1994-01-01'
  AND o_orderdate < TIMESTAMP '1996-01-01'
GROUP BY n_name
"""


@query("local_supplier_volume", oracle=ORACLE_LOCAL_SUPPLIER_VOLUME)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way snowflake join (region → nation →
    supplier/customer → orders → lineitem) with the dimension chain
    broadcast — the canonical star-join plan the engine must keep
    shuffle-free on every dimension edge."""
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _dec("l_extendedprice") * (
        F.lit(1.0).cast("decimal(18,9)") - _dec("l_discount")
    )
    dims = (
        nation.join(
            F.broadcast(region), nation.n_regionkey == region.r_regionkey
        )
        .select("n_nationkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(dims), supp.s_nationkey == dims.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
    )


ORACLE_ORDER_PRIORITY_EXISTS = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority
"""


@query("order_priority_exists", oracle=ORACLE_ORDER_PRIORITY_EXISTS)
def q_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape through the SQL-string surface: a correlated
    EXISTS subquery Catalyst rewrites into a left-semi join (the
    rewrite itself is what's under test — the DataFrame twin is
    ``semi_anti_join``). Uses ``spark.sql`` dataframe templating, the
    engine's raw-SQL entry point (SURVEY §2.4 SQL-string filters)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        FROM {orders} o
        WHERE o.o_orderdate >= TIMESTAMP_NTZ '1996-01-01'
          AND o.o_orderdate < TIMESTAMP_NTZ '1997-01-01'
          AND EXISTS (
            SELECT 1 FROM {lineitem} l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate
          )
        GROUP BY o_orderpriority
        """,
        orders=orders,
        lineitem=li,
    )


ORACLE_CUSTOMER_DISTRIBUTION = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


@query("customer_distribution", oracle=ORACLE_CUSTOMER_DISTRIBUTION)
def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join + two-level aggregation —
    customers bucketed by how many qualifying orders they have,
    INCLUDING the zero-order customers the outer join preserves (the
    classic correctness trap an inner join silently gets wrong)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


ORACLE_QUALITY_CUTS = """
SELECT l_linestatus, count(*) AS n,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,9))), 2) AS DOUBLE) AS sum_price
FROM lineitem
WHERE l_quantity < 25 AND l_discount >= 0.05 AND l_returnflag <> 'A'
GROUP BY l_linestatus
"""


@query("quality_cuts", oracle=ORACLE_QUALITY_CUTS)
def q_quality_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained boolean quality cuts (``bin/ztf/raw2science.py:92-95``
    re-expressed on lineitem), then a per-status tally."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") < 25)
        .filter(F.col("l_discount") >= 0.05)
        .filter(F.col("l_returnflag") != "A")
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(_dec("l_extendedprice")), 2).cast("double").alias("sum_price"),
        )
    )


ORACLE_BROADCAST_JOIN = """
SELECT r_name, count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


@query("broadcast_join", oracle=ORACLE_BROADCAST_JOIN)
def q_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast equi-join of dims (``bin/ztf/merge.py:81-83`` idiom)."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = broadcast_equi_join(
        nation,
        region.withColumnRenamed("r_regionkey", "n_regionkey"),
        on="n_regionkey",
    )
    return joined.groupBy("r_name").agg(F.count(F.lit(1)).alias("n_nations"))


ORACLE_TOP_REVENUE = """
SELECT c_custkey, c_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,9)) *
                (CAST(1.0 AS DECIMAL(18,9)) - CAST(l_discount AS DECIMAL(18,9)))), 2)
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC NULLS LAST, c_custkey ASC
LIMIT 10
"""


@query("top_revenue_customers", oracle=ORACLE_TOP_REVENUE)
def q_top_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + aggregate + deterministic global top-k.

    customer ⋈ orders ⋈ lineitem with revenue = Σ price·(1−disc); top 10
    by revenue (top-k runs as TakeOrderedAndProject, not a global sort —
    replaces the reference's driver-side pandas sort,
    ``bin/ztf/archive_slsn_candidates.py:256-258``).
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _dec("l_extendedprice") * (
        F.lit(1.0).cast("decimal(18,9)") - _dec("l_discount")
    )
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
    )
    return top_k(
        per_cust, [F.desc_nulls_last("revenue"), F.asc("c_custkey")], 10
    )


ORACLE_SEMI_ANTI = """
SELECT c_mktsegment, count(*) AS n, 'with_orders' AS label
FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
UNION ALL
SELECT c_mktsegment, count(*) AS n, 'without_orders' AS label
FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


@query("semi_anti_join", oracle=ORACLE_SEMI_ANTI)
def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi + left-anti joins (membership filters at scale — the
    set-based form of ``col.isin(collected_list)``,
    ``bin/ztf/archive_anomaly.py:112-113``)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    semi = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("label", F.lit("with_orders"))
    )
    anti = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("label", F.lit("without_orders"))
    )
    return semi.unionByName(anti)


ORACLE_SALTED_HISTOGRAM = """
SELECT lpad(right(CAST(o_orderkey AS VARCHAR), 2), 2, '0') AS salt, count(*) AS n
FROM orders GROUP BY 1
"""


@query("salted_histogram", oracle=ORACLE_SALTED_HISTOGRAM)
def q_salted_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-digits salt histogram (``common/hbase_utils.py:485-526``):
    uniformity of the salt is the operator's contract."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(salt_expr("o_orderkey", 2).alias("salt"))
        .groupBy("salt")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_ROWKEY_FLATTEN = """
SELECT concat_ws('_', lpad(right(CAST(o_orderkey AS VARCHAR), 2), 2, '0'),
                 CAST(o_custkey AS VARCHAR), CAST(o_orderkey AS VARCHAR)) AS rowkey,
       CAST(o_orderkey AS VARCHAR) AS o_orderkey_str,
       o_totalprice, o_orderstatus
FROM orders
"""


@query("rowkey_flatten", oracle=ORACLE_ROWKEY_FLATTEN)
def q_rowkey_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-table projection: composite salted row key + casts
    (``common/hbase_utils.py:339``, ``ztf/hbase_utils.py:395-489``)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        salted_row_key(
            salt_expr("o_orderkey", 2), "o_custkey", "o_orderkey"
        ).alias("rowkey"),
        F.col("o_orderkey").cast("string").alias("o_orderkey_str"),
        F.col("o_totalprice").alias("o_totalprice"),
        F.col("o_orderstatus").alias("o_orderstatus"),
    )


ORACLE_ROLLUP = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,9))), 2) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@query("rollup_aggregates", oracle=ORACLE_ROLLUP)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (free in Spark per SURVEY §2.6 note)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(_dec("l_quantity")), 2).cast("double").alias("sum_qty"),
        )
    )


ORACLE_FILE_PROVENANCE_TEMPLATE = r"""
SELECT regexp_extract(filename, '[^/]+$', 0) AS file, count(*) AS n
FROM read_parquet('{sf}/lineitem.parquet', filename = true)
GROUP BY 1
"""


@query(
    "file_provenance",
    oracle=ORACLE_FILE_PROVENANCE_TEMPLATE.format(
        sf="/root/testdata/sf0.01"
    ),
)
def q_file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row provenance via ``input_file_name`` (``bin/ztf/archive_images.py:51``,
    ``rubin/hbase_utils.py:854``), normalized to basenames."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.withColumn(
            "file", F.regexp_extract(F.input_file_name(), r"[^/]+$", 0)
        )
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_CASCADE = """
SELECT CASE WHEN l_returnflag = 'R' THEN 'returned'
            WHEN l_quantity >= 45 THEN 'bulk'
            WHEN l_discount >= 0.08 THEN 'discounted'
            ELSE 'regular' END AS class,
       count(*) AS n
FROM lineitem GROUP BY 1
"""


@query("classification_cascade", oracle=ORACLE_CASCADE)
def q_classification_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-rule cascade label (``extract_fink_classification`` shape,
    ``bin/ztf/archive_index.py:100-116``) on lineitem."""
    from fink_broker_spark.operators.classify import classification_cascade

    li = load_table(spark, sf_dir, "lineitem")
    label = classification_cascade(
        [
            (F.col("l_returnflag") == "R", "returned"),
            (F.col("l_quantity") >= 45, "bulk"),
            (F.col("l_discount") >= 0.08, "discounted"),
        ],
        default="regular",
    )
    return (
        li.select(label.alias("class"))
        .groupBy("class")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

_DAY_US = 86_400_000_000


ORACLE_RANGE_JOIN_WINDOWS = f"""
WITH ev AS (
  SELECT user_id % 50 AS k, ts FROM events
), w AS (
  SELECT o_orderkey, o_orderpriority, o_custkey % 50 AS k,
         make_timestamp({_EPOCH_2024_US} + (o_orderkey % 29) * {_DAY_US})
           AS w_start,
         make_timestamp({_EPOCH_2024_US} + (o_orderkey % 29) * {_DAY_US}
                        + (o_orderkey % 3 + 1) * {_DAY_US}) AS w_end
  FROM orders
)
SELECT w.o_orderpriority,
       count(*) AS n_pairs,
       count(DISTINCT w.o_orderkey) AS n_orders
FROM ev JOIN w ON ev.k = w.k AND ev.ts >= w.w_start AND ev.ts <= w.w_end
GROUP BY 1
"""


@query("range_join_windows", oracle=ORACLE_RANGE_JOIN_WINDOWS)
def q_range_join_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed interval (range) join: events fall into per-order
    promotional windows (start/end synthesized from order keys into the
    events' own epoch), matched on a shared customer hash.  The naive
    plan is a non-equi BroadcastNestedLoopJoin; the bucketed equi-join
    (``operators/relational.py:interval_join``) fixes that for
    pair-level consumers, and since THIS query only aggregates counts
    it rides the merge-sweep counting specialization
    (``interval_event_counts``) — no pair materialization at all.
    Counts only, so the oracle hash stays integer."""
    from fink_broker_spark.operators.relational import interval_event_counts

    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 50).alias("k"), "ts"
    )
    start_us = (
        F.lit(_EPOCH_2024_US)
        + (F.col("o_orderkey") % 29).cast("long") * F.lit(_DAY_US)
    )
    end_us = (
        start_us
        + (F.col("o_orderkey") % 3 + 1).cast("long") * F.lit(_DAY_US)
    )
    windows = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_custkey") % 50).alias("k"),
        F.timestamp_micros(start_us).alias("w_start"),
        F.timestamp_micros(end_us).alias("w_end"),
    )
    # counting specialization (optimization guide §8): the query needs
    # only per-priority pair COUNTS, so the merge-sweep running count
    # replaces the bucketed pair join — the pair join materialized
    # ~20M candidate rows at sf0.1 (its output ≈ the matches) where the
    # sweep shuffles |events| + 2·|orders| rows once; results provably
    # identical (exact integer counting; cnt>0 filter reproduces the
    # inner join's emptiness semantics).  interval_join remains the
    # plan for pair-level consumers (operators/relational.py).
    counts = interval_event_counts(
        ev,
        windows,
        "ts",
        "w_start",
        "w_end",
        id_cols=["o_orderkey"],
        on=["k"],
        carry=["o_orderpriority"],
        count_col="__cnt",
    )
    return (
        counts.filter(F.col("__cnt") > 0)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("__cnt").cast("long").alias("n_pairs"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


ORACLE_NATION_TRADE_FLOWS = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       EXTRACT(year FROM l_shipdate) AS l_year,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,9)) *
                (CAST(1.0 AS DECIMAL(18,9)) - CAST(l_discount AS DECIMAL(18,9)))), 2)
            AS DOUBLE) AS revenue
FROM lineitem, orders, customer, supplier, nation n1, nation n2
WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND l_suppkey = s_suppkey
  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
       OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
  AND l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY 1, 2, 3
"""


@query("nation_trade_flows", oracle=ORACLE_NATION_TRADE_FLOWS)
def q_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue between two nations by
    direction and ship year. Exercises the double-dimension join (the
    nation table joins twice under different roles) with both sides
    broadcast, an OR-of-conjunctions pair predicate evaluated after the
    cheap equi-joins, and a multi-column aggregate. The fact table
    shuffles once (the orders join); every dimension edge is map-side."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    revenue = _dec("l_extendedprice") * (
        F.lit(1.0).cast("decimal(18,9)") - _dec("l_discount")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | (
        (F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
    )


ORACLE_TOP_SUPPLIER_REVENUE = """
WITH rev AS (
  SELECT l_suppkey,
         ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,9)) *
               (CAST(1.0 AS DECIMAL(18,9)) - CAST(l_discount AS DECIMAL(18,9)))), 2)
         AS rev_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_rev
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE rev_dec = (SELECT MAX(rev_dec) FROM rev)
"""


@query("top_supplier_revenue", oracle=ORACLE_TOP_SUPPLIER_REVENUE)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): per-supplier revenue over a window,
    then the supplier(s) achieving the maximum. The reference's "view +
    scalar subquery" idiom becomes an aggregate → 1-row max → broadcast
    join: the fact table shuffles once on ``l_suppkey``, the max is a
    single-row broadcast, and the supplier dimension joins map-side.
    Revenue compares as exact DECIMAL (the double cast happens after the
    equality), so the max-equality join is deterministic."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = _dec("l_extendedprice") * (
        F.lit(1.0).cast("decimal(18,9)") - _dec("l_discount")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(revenue), 2).alias("rev_dec")
    )
    # global max as an empty-partition window over the PER-SUPPLIER
    # aggregate: the scalar-subquery form recomputed the aggregate
    # subtree and scanned lineitem twice. The single-partition window
    # is bounded by supplier cardinality (a 2-column row per supplier),
    # not fact rows — the right trade at any realistic scale.
    mx = F.max("rev_dec").over(Window.partitionBy())
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.withColumn("mx", mx)
        .filter(F.col("rev_dec") == F.col("mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("rev_dec").cast("double").alias("total_rev"),
        )
    )


ORACLE_LARGE_ORDERS = """
SELECT c_custkey, c_name, o_orderkey, o_totalprice,
       CAST(qty_dec AS DOUBLE) AS total_qty
FROM (
  SELECT l_orderkey,
         ROUND(SUM(CAST(l_quantity AS DECIMAL(18,9))), 2) AS qty_dec
  FROM lineitem GROUP BY l_orderkey HAVING qty_dec > 300
) JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
"""


@query("large_orders", oracle=ORACLE_LARGE_ORDERS)
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): orders whose total quantity
    exceeds a threshold, enriched with customer. The HAVING runs *before*
    any wide row is materialized: the lineitem aggregate carries only
    (orderkey, qty), survivors semi-select into orders, and customer
    broadcasts — at 100 TB the big table shuffles one narrow aggregate,
    never the joined row."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum(_dec("l_quantity")), 2).alias("qty_dec"))
        .filter(F.col("qty_dec") > 300)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_totalprice",
            F.col("qty_dec").cast("double").alias("total_qty"),
        )
    )


ORACLE_SOLE_LATE_SUPPLIER = """
WITH j AS (
  SELECT l_orderkey, l_suppkey,
         (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), po AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
  FROM j GROUP BY l_orderkey
)
SELECT s_name, COUNT(*) AS numwait
FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM j WHERE late) lr
JOIN po USING (l_orderkey)
JOIN supplier ON s_suppkey = l_suppkey
WHERE n_supp > 1 AND n_late = 1
GROUP BY s_name
"""


@query("sole_late_supplier", oracle=ORACLE_SOLE_LATE_SUPPLIER)
def q_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): count, per
    supplier, the multi-supplier orders where that supplier was the ONLY
    late one. The correlated EXISTS/NOT-EXISTS pair of the original
    becomes one narrow per-order aggregate (distinct suppliers, distinct
    late suppliers) joined back to the distinct late rows — two shuffles
    on ``l_orderkey``, both on 2-3 column rows, instead of two
    fact×fact correlated scans."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("late"),
    )
    # per-order distinct-supplier counts as windowed collect_set sizes
    # (bounded by suppliers-per-order, a handful): the aggregate+join
    # form referenced the fact join twice, scanning lineitem AND orders
    # twice each. One scan, one orderkey shuffle, then the distinct.
    # (A/B'd a single groupBy(collect_set×2)+element_at rewrite —
    # warm 1.3-1.9 s vs 1.0-1.2 s for this form; the ObjectHashAggregate
    # set state loses to the window's one per-partition sort here, so
    # the window form stays.)
    w = Window.partitionBy("l_orderkey")
    counted = j.withColumn(
        "n_supp", F.size(F.collect_set("l_suppkey").over(w))
    ).withColumn(
        "n_late",
        F.size(
            F.collect_set(
                F.when(F.col("late"), F.col("l_suppkey"))
            ).over(w)
        ),
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        counted.filter(
            F.col("late") & (F.col("n_supp") > 1) & (F.col("n_late") == 1)
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


ORACLE_SMALL_QUANTITY_REVENUE = """
WITH pa AS (
  SELECT l_partkey AS pk, COUNT(*) AS cnt,
         SUM(CAST(l_quantity AS DECIMAL(18,9))) AS sq
  FROM lineitem GROUP BY 1
)
SELECT COUNT(*) AS n_lines,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,9))), 2)
            AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#2'
JOIN pa ON l.l_partkey = pa.pk
WHERE CAST(l.l_quantity AS DECIMAL(18,9)) * cnt * 5 < sq
"""


@query("small_quantity_revenue", oracle=ORACLE_SMALL_QUANTITY_REVENUE)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): lineitems of one
    brand whose quantity is below 20% of that part's average. The
    correlated scalar subquery becomes a per-part (count, sum) aggregate
    joined back; the fractional-average predicate cross-multiplies to
    exact DECIMAL integer arithmetic (``5·qty·cnt < sum``, since
    0.2 = 1/5) so no engine's division rounding can flip a boundary
    row. The brand filter pushes to the part scan and shrinks the join's
    build side to one brand before any wide row exists."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#2"
    )
    # per-part (count, sum) as an unbounded window over the
    # brand-filtered join: the aggregate-join form scanned lineitem
    # TWICE (and aggregated over every part before the brand join
    # pruned); the window sees one brand's lineitems once, partitioned
    # on the part key. A part's window holds exactly its lineitems, so
    # the stats are identical to the whole-table aggregate.
    w = Window.partitionBy("l_partkey")
    branded = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    qualifying = (
        branded.withColumn("cnt", F.count(F.lit(1)).over(w))
        .withColumn("sq", F.sum(_dec("l_quantity")).over(w))
        .filter(
            _dec("l_quantity") * F.col("cnt") * F.lit(5) < F.col("sq")
        )
    )
    return qualifying.agg(
        F.count(F.lit(1)).alias("n_lines"),
        # round the exact sum FIRST, divide in double: Spark divides
        # decimals exactly (HALF_UP) while DuckDB divides in double, so
        # a sum/7 quotient landing on a half at scale 2 would split the
        # engines; double division of the scale-2 sum is correctly
        # rounded on both
        (F.round(F.sum(_dec("l_extendedprice")), 2).cast("double")
         / F.lit(7.0))
        .alias("avg_yearly"),
    )


ORACLE_IDLE_CUSTOMERS = """
SELECT c_nationkey, COUNT(*) AS n_cust,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,9))), 2) AS DOUBLE)
         AS total_bal
FROM customer
WHERE CAST(c_acctbal AS DECIMAL(18,9)) *
        (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0)
      > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,9)))
         FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
"""


@query("idle_customers", oracle=ORACLE_IDLE_CUSTOMERS)
def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers with
    above-average positive balance and no recent order, grouped by
    nation. The scalar AVG subquery is re-expressed cross-multiplied in
    exact DECIMAL (``bal * n_pos > sum_pos``) so neither engine's
    double-summation order can flip a boundary row; the recency check is
    a left-anti join against the date-filtered orders scan (predicate
    pushed to the orders parquet)."""
    cust = load_table(spark, sf_dir, "customer")
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(_dec("c_acctbal")).alias("sum_pos"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(pos))
        .filter(_dec("c_acctbal") * F.col("n_pos") > F.col("sum_pos"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum(_dec("c_acctbal")), 2)
            .cast("double")
            .alias("total_bal"),
        )
    )


ORACLE_PARETO_FRONTIER = """
SELECT p_partkey, p_name, p_size, p_retailprice
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
"""


@query("pareto_frontier", oracle=ORACLE_PARETO_FRONTIER)
def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier over the part dimension: parts no other
    part dominates (cheaper-or-equal AND bigger-or-equal, strict in one).
    The naive formulation is an O(n²) self-join (the oracle keeps it —
    DuckDB's NOT EXISTS); the engine plan aggregates per size (min price),
    takes a running min over sizes in descending order (window over ≤50
    aggregated rows — single-partition by construction, never over the
    base table), and broadcast-joins the staircase back: dominated iff a
    strictly-bigger size reaches price ≤ mine, or my own size beats my
    price strictly. O(n) + tiny-window instead of O(n²) — the shape that
    survives a 100× part catalog."""
    part = load_table(spark, sf_dir, "part")
    # min over raw doubles is order-independent exact (no summation), so
    # the staircase compares the very same values the oracle compares
    per_size = part.groupBy("p_size").agg(
        F.min("p_retailprice").alias("m_eq")
    )
    w = Window.orderBy(F.col("p_size").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    staircase = per_size.select(
        "p_size", "m_eq", F.min("m_eq").over(w).alias("m_gt")
    )
    return (
        part.join(F.broadcast(staircase), "p_size")
        .filter(
            ~(
                (
                    F.col("m_gt").isNotNull()
                    & (F.col("m_gt") <= F.col("p_retailprice"))
                )
                | (F.col("m_eq") < F.col("p_retailprice"))
            )
        )
        .select("p_partkey", "p_name", "p_size", "p_retailprice")
    )


ORACLE_FUZZY_NAME_MATCH = """
WITH probes(probe) AS (
  VALUES ('Supplier#13'), ('Suplier#42'), ('SUPPLIER#7'), ('Supp#0001')
), best AS (
  SELECT probe,
         MIN(printf('%08d|%s', levenshtein(probe, s_name), s_name)) AS k
  FROM supplier CROSS JOIN probes
  GROUP BY probe
)
SELECT probe, CAST(substr(k, 1, 8) AS INT) AS best_dist,
       substr(k, 10) AS best_name
FROM best
"""


@query("fuzzy_name_match", oracle=ORACLE_FUZZY_NAME_MATCH)
def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching: each probe string resolves to its
    closest supplier name by Levenshtein distance (both engines
    implement the identical DP, so the integer distances hash-match).
    The probe side broadcasts (tiny × corpus nested-loop — the honest
    plan for sub-linear-unfriendly edit distance); the argmin carries a
    zero-padded ``dist|name`` composite through a plain MIN (one
    map-side-combinable aggregate, no sort, and unlike min_by the
    composite form exists identically in both engines). The
    data-cleaning op every entity-resolution pipeline needs before
    exact joins apply."""
    # spread the single-split supplier scan (guide §2.5): the 4×|supplier|
    # levenshtein DP evaluations below the broadcast NLJ otherwise run in
    # ONE scan task (the bootstrap_ci regime); guarded no-op on a wide
    # production lake
    supp = ensure_scan_parallelism(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    probes = spark.createDataFrame(
        [("Supplier#13",), ("Suplier#42",), ("SUPPLIER#7",), ("Supp#0001",)],
        "probe string",
    )
    scored = supp.crossJoin(F.broadcast(probes)).select(
        "probe",
        F.format_string(
            "%08d|%s", F.levenshtein("probe", "s_name"), F.col("s_name")
        ).alias("k"),
    )
    best = scored.groupBy("probe").agg(F.min("k").alias("k"))
    return best.select(
        "probe",
        F.substring("k", 1, 8).cast("int").alias("best_dist"),
        F.expr("substr(k, 10)").alias("best_name"),
    )


def _oracle_zorder_layout() -> str:
    from fink_broker_spark.plans.zorder import zorder_sql

    z = zorder_sql("l_partkey", "l_suppkey")
    return f"""
SELECT CAST({z} // 4194304 AS BIGINT) AS zbucket,
       COUNT(*) AS n_rows,
       MIN({z}) AS z_min,
       MAX({z}) AS z_max
FROM lineitem
GROUP BY 1
"""


ORACLE_ZORDER_LAYOUT = _oracle_zorder_layout()


@query("zorder_layout", oracle=ORACLE_ZORDER_LAYOUT)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over two join dimensions of the
    fact table, bucketed to show the layout the archive writer would
    range-partition on (``plans/zorder.py``). The interleave is pure
    shift/mask arithmetic — whole-stage codegen, identical in the SQL
    oracle (generated from the same masks, so the twins cannot drift).
    At 100 TB this key feeds ``repartitionByRange`` so per-file min/max
    stats prune on BOTH dimensions."""
    from fink_broker_spark.plans.zorder import zorder_key_expr

    li = load_table(spark, sf_dir, "lineitem")
    z = zorder_key_expr("l_partkey", "l_suppkey")
    return (
        li.select(z.alias("zkey"))
        .groupBy(F.shiftrightunsigned(F.col("zkey"), 22).alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("zkey").alias("z_min"),
            F.max("zkey").alias("z_max"),
        )
    )


ORACLE_SKEW_JOIN_SALTED = """
SELECT r.r_name,
       count(*) AS n_events,
       count(DISTINCT e.user_id) AS n_users
FROM events e JOIN region r ON e.user_id % 5 = r.r_regionkey
GROUP BY 1
"""


@query("skew_join_salted", oracle=ORACLE_SKEW_JOIN_SALTED)
def q_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant equi-join: events hash to 5 hot keys (20% of the
    fact table each — the hot-object pathology of any alert archive);
    ``replicated_skew_join`` salts the fact side and replicates the dim
    so each hot key spreads over 8 reducers instead of melting one.
    Result-identical to the plain join by construction (oracle is the
    plain join)."""
    from fink_broker_spark.operators.relational import replicated_skew_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        (F.col("user_id") % 5).alias("r_regionkey"),
    )
    reg = load_table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name"
    )
    joined = replicated_skew_join(
        ev, reg, on=["r_regionkey"], salt_col="event_id", nsalts=8
    )
    return joined.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


ORACLE_ASOF_JOIN = """
WITH o AS (
  -- group at MICROSECOND granularity, matching the Spark side's
  -- load_table-normalized o_orderdate: grouping on the raw (possibly
  -- nanosecond) timestamp would keep sub-µs-distinct duplicates as
  -- separate rows whose epoch_us ties make the ASOF pick arbitrary
  SELECT o_custkey, epoch_us(o_orderdate) AS od_us,
         MAX(o_orderkey) AS last_order_key
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
       make_timestamp(o.od_us) AS last_order_date,
       o.last_order_key
FROM events e
ASOF LEFT JOIN o ON e.user_id = o.o_custkey
  AND o.od_us <= epoch_us(e.ts)
"""


@query("asof_join", oracle=ORACLE_ASOF_JOIN)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time as-of join: each event picks the user's newest order
    with ``o_orderdate <= ts`` (union + single key shuffle + running
    ``last(ignorenulls)`` — no per-key cross product; the two-table
    generalization of ``rubin/hbase_utils.py:677-691``)."""
    from fink_broker_spark.operators.relational import asof_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("last_order_key"))
        .select(
            "o_custkey",
            "o_orderdate",
            F.col("o_orderdate").alias("last_order_date"),
            "last_order_key",
        )
    )
    return asof_join(
        ev,
        orders,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        right_values=["last_order_date", "last_order_key"],
    )


ORACLE_CUBE_STATS = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid,
       count(*) AS n,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,9))), 2) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@query("cube_stats", oracle=ORACLE_CUBE_STATS)
def q_cube_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping-sets with ``grouping_id`` (free in Spark per SURVEY
    §2.6 "no cube/rollup in-repo"; the statistics job's natural
    all-margins generalization)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(_dec("l_quantity")), 2)
            .cast("double")
            .alias("sum_qty"),
        )
    )


ORACLE_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@query("grouping_sets", oracle=ORACLE_GROUPING_SETS)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the hand-picked margin list rollup/cube
    can't express: (flag,status), (flag), and grand total — but NOT
    (status)) with grouping_id disambiguating the NULL-keyed margin
    rows, through the SQL surface."""
    li = load_table(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS INTEGER) AS gid,
               CAST(count(*) AS BIGINT) AS n
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        """,
        li=li,
    )


ORACLE_UNPIVOT_STACK = """
WITH long AS (
  SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
         CAST(l_quantity AS DOUBLE) AS val FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'extendedprice',
         CAST(l_extendedprice AS DOUBLE) FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'discount',
         CAST(l_discount AS DOUBLE) FROM lineitem
)
SELECT metric, CAST(count(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(CAST(val AS DECIMAL(18,9))), 2) AS DOUBLE) AS total
FROM long GROUP BY metric
"""


@query("unpivot_stack", oracle=ORACLE_UNPIVOT_STACK)
def q_unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long) via ``stack`` — the inverse reshape,
    turning per-row metric columns into (metric, value) rows without a
    shuffle (a generator projection over the scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.select(
        "l_orderkey",
        "l_linenumber",
        # uniform DOUBLE legs: stack REQUIRES same-typed columns, and a
        # DECIMAL-typed lake (decimalprice driftlab layout) would mix
        # decimal prices with a double quantity — an analyzer error
        F.expr(
            "stack(3, 'quantity', CAST(l_quantity AS DOUBLE), "
            "'extendedprice', CAST(l_extendedprice AS DOUBLE), "
            "'discount', CAST(l_discount AS DOUBLE)) AS (metric, val)"
        ),
    )
    return long.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("val").cast("decimal(18,9)")), 2)
        .cast("double")
        .alias("total"),
    )


ORACLE_SCHEMA_DEFAULTS = """
-- CAST mirrors the operator's typed projection: the request pins
-- c_acctbal to DOUBLE regardless of the lake's physical type
-- (decimalprice driftlab layout, r6)
SELECT c_custkey, c_name, 'unknown' AS c_phone,
       CAST(c_acctbal AS DOUBLE) AS c_acctbal
FROM customer
"""


@query("schema_defaults", oracle=ORACLE_SCHEMA_DEFAULTS)
def q_schema_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution projection: requested columns that are absent in
    this night's data come back as typed defaults
    (``common/hbase_utils.py:66-137``, ``ztf/hbase_utils.py:443-479``)."""
    from fink_broker_spark.operators.relational import select_with_defaults

    cust = load_table(spark, sf_dir, "customer")
    return select_with_defaults(
        cust,
        {
            "c_custkey": ("bigint", None),
            "c_name": ("string", None),
            "c_phone": ("string", "unknown"),
            "c_acctbal": ("double", None),
        },
    )


ORACLE_WINDOW_SUITE = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(rank() OVER w AS INTEGER) AS rnk,
         CAST(dense_rank() OVER w AS INTEGER) AS drnk,
         CAST(ntile(4) OVER w AS INTEGER) AS quartile,
         lag(o_totalprice, 1) OVER w AS prev_price
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC)
) WHERE rnk <= 3
"""


@query("window_suite", oracle=ORACLE_WINDOW_SUITE)
def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/offset window family (rank, dense_rank, ntile, lag) —
    beyond the reference's single unbounded-max window (§2.7), free in
    Spark; top-3 orders per customer by price. Unique ``o_orderkey``
    tiebreak makes every function deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).cast("int").alias("rnk"),
            F.dense_rank().over(w).cast("int").alias("drnk"),
            F.ntile(4).over(w).cast("int").alias("quartile"),
            F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        )
        .filter(F.col("rnk") <= 3)
    )


ORACLE_UNION_EVOLUTION = """
SELECT c_custkey, c_name FROM customer WHERE c_custkey < 300
UNION ALL BY NAME
SELECT c_custkey, c_name, c_acctbal FROM customer
WHERE c_custkey >= 300 AND c_custkey < 600
"""


@query("union_evolution", oracle=ORACLE_UNION_EVOLUTION)
def q_union_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolving union: two nightly extracts with different column
    sets merged with ``unionByName(allowMissingColumns=True)`` — the set
    op the per-night missing-column reality (§1.3) forces; absent
    columns surface as NULLs, exactly like the loaders' default fill."""
    cust = load_table(spark, sf_dir, "customer")
    v1 = cust.filter(F.col("c_custkey") < 300).select("c_custkey", "c_name")
    v2 = cust.filter(
        (F.col("c_custkey") >= 300) & (F.col("c_custkey") < 600)
    ).select("c_custkey", "c_name", "c_acctbal")
    return v1.unionByName(v2, allowMissingColumns=True)


ORACLE_DATE_ARITHMETIC = """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
       count(*) AS n,
       MAX(CAST(datediff('day', o_orderdate, TIMESTAMP '2002-01-01') AS BIGINT)) AS max_age_days,
       MIN(CAST(o_orderdate + INTERVAL 30 DAY AS DATE)) AS first_due30
FROM orders GROUP BY 1
"""


@query("date_arithmetic", oracle=ORACLE_DATE_ARITHMETIC)
def q_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family depth (trunc, datediff, date_add; the night
    partition columns of §2.10 are the same family): monthly order
    cohorts with age and due dates."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.trunc("o_orderdate", "month").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(
                F.datediff(
                    F.to_date(F.lit("2002-01-01")), F.col("o_orderdate")
                ).cast("bigint")
            ).alias("max_age_days"),
            F.min(F.date_add(F.col("o_orderdate").cast("date"), 30)).alias(
                "first_due30"
            ),
        )
    )


ORACLE_REVENUE_FORECAST = """
SELECT COUNT(*) AS n_lines,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,9)) *
                      CAST(l_discount AS DECIMAL(18,9))), 2) AS DOUBLE)
         AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("revenue_forecast", oracle=ORACLE_REVENUE_FORECAST)
def q_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): the pure scan-aggregate.

    No join, no window — the whole query is a predicate conjunction and
    one SUM, so the measure of success is the physical plan: all three
    filters reach the parquet scan as ``PushedFilters``, ``ReadSchema``
    carries exactly the four referenced columns, and the aggregate is a
    two-level partial/final with no Exchange before the partial. At
    100 TB this is the plan whose cost is the scan and nothing else."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(_dec("l_extendedprice") * _dec("l_discount")), 2)
            .cast("double")
            .alias("revenue"),
        )
    )


ORACLE_MIN_COST_SUPPLIER = """
WITH ps AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
eur AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
),
cand AS (
  SELECT p_partkey, s_name, s_acctbal, n_name
  FROM ps
  JOIN part ON pk = p_partkey AND p_type = 'STANDARD' AND p_size % 5 = 0
  JOIN eur ON sk = s_suppkey
),
m AS (SELECT p_partkey AS mpk, MIN(s_acctbal) AS min_bal
      FROM cand GROUP BY 1)
SELECT p_partkey, s_name, s_acctbal, n_name
FROM cand JOIN m ON p_partkey = mpk AND s_acctbal = min_bal
"""


@query("min_cost_supplier", oracle=ORACLE_MIN_COST_SUPPLIER)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each qualifying part,
    the European supplier(s) with the minimum account balance among
    those that have actually shipped it.

    The reference schema has no partsupp table, so the supplied-parts
    relation is ``SELECT DISTINCT (l_partkey, l_suppkey)`` — the same
    correlated-scalar-subquery shape (``MIN(..) per part``) as Q2,
    decorrelated into a per-part aggregate joined back on equality (so
    ties surface as multiple rows — a deterministic SET, not a pick).
    supplier⋈nation⋈region is a broadcast snowflake; only the distinct
    pair relation shuffles (∝ distinct pairs, not lineitems)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") % 5 == 0)
    )
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    eur = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps = li.select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).distinct()
    cand = (
        ps.join(F.broadcast(part), ps.pk == part.p_partkey)
        .join(F.broadcast(eur), ps.sk == F.col("s_suppkey"))
        .select("p_partkey", "s_name", "s_acctbal", "n_name")
    )
    # the correlated MIN decorrelates into an unbounded window over the
    # candidate relation instead of an aggregate self-join — one pass
    # over the distinct-pair relation, no recomputed subtree, ties kept
    min_bal = F.min("s_acctbal").over(Window.partitionBy("p_partkey"))
    return (
        cand.withColumn("min_bal", min_bal)
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .select("p_partkey", "s_name", "s_acctbal", "n_name")
    )


ORACLE_MARKET_SHARE = """
WITH joined AS (
  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,9)) *
           (CAST(1.0 AS DECIMAL(18,9)) - CAST(l_discount AS DECIMAL(18,9)))
           AS vol,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
  JOIN orders ON l_orderkey = o_orderkey
   AND o_orderdate >= TIMESTAMP '1996-01-01'
   AND o_orderdate <  TIMESTAMP '1998-01-01'
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'AMERICA'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
)
SELECT o_year,
       CAST(ROUND(SUM(CASE WHEN supp_nation = 'NATION_5' THEN vol
                     ELSE CAST(0 AS DECIMAL(18,9)) END), 2) AS DOUBLE)
         / CAST(ROUND(SUM(vol), 2) AS DOUBLE) AS mkt_share
FROM joined GROUP BY o_year
"""


@query("market_share", oracle=ORACLE_MARKET_SHARE)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): NATION_5 suppliers' share
    of PROMO-part revenue sold to AMERICA-region customers, by year.

    The share is a conditional-sum ratio: both numerator and denominator
    aggregate exactly in DECIMAL over the same joined relation and the
    single double division happens on the final one-row-per-year table,
    so the oracle reproduces it bit-for-bit. All five dimension tables
    broadcast; lineitem shuffles once, on the group key."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    )
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "AMERICA"
    )
    cnat = nat.select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_regionkey").alias("cn_region"),
    )
    snat = nat.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    vol = _dec("l_extendedprice") * (
        F.lit(1.0).cast("decimal(18,9)") - _dec("l_discount")
    )
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cnat), cust.c_nationkey == F.col("cn_key"))
        .join(
            F.broadcast(reg), F.col("cn_region") == reg.r_regionkey
        )
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(snat), sup.s_nationkey == F.col("sn_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("vol"),
            F.col("supp_nation"),
        )
    )
    zero = F.lit(0).cast("decimal(18,9)")
    return (
        joined.groupBy("o_year")
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_5", F.col("vol"))
                .otherwise(zero)
            ).alias("nat_vol"),
            F.sum("vol").alias("tot_vol"),
        )
        .select(
            "o_year",
            # round the scale-18 sums to scale 2 before the double
            # cast (wide-decimal → double double-rounds in DuckDB —
            # see q_promo_revenue)
            (
                F.round("nat_vol", 2).cast("double")
                / F.round("tot_vol", 2).cast("double")
            ).alias("mkt_share"),
        )
    )


ORACLE_PRODUCT_PROFIT = """
WITH joined AS (
  SELECT n_name AS nation,
         EXTRACT(year FROM o_orderdate) AS o_year,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) *
           (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)) AS rev_e4,
         CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) *
           CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS cost_c
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'LARGE'
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
)
SELECT nation, o_year,
       CAST(SUM(rev_e4) - SUM(cost_c) * 10 AS DOUBLE) / 10000.0 AS profit
FROM joined GROUP BY nation, o_year
"""


@query("product_profit", oracle=ORACLE_PRODUCT_PROFIT)
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): per supplier-nation,
    per-year profit on LARGE-type parts.

    No partsupp ⇒ unit cost proxies as ``p_retailprice / 10``.
    Arithmetic is fully integerized (prices in cents, revenue in 1e-4
    dollars — all exact int64), the per-group difference is an exact
    integer, and the ONLY float op is the final exact-int → double
    division. No terminal ROUND: rounding a computed double at a
    half-cent boundary diverges between engines (Spark rounds the
    BigDecimal of the double, DuckDB rounds with float ops — a sf0.1
    group at x.835 produced .84 vs .83; surfaced by the sf0.1 parity
    sweep, invisible at sf0.01)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "LARGE"
    )
    orders = load_table(spark, sf_dir, "orders")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    # floor(x + 0.5), NOT rint: rint is half-EVEN while DuckDB round is
    # half-away, so a price/qty sitting exactly on a .5 splits engines;
    # the identical floor(+0.5) IEEE tree on both sides is
    # convention-free (driftlab 'boundary' layout regression)
    price_c = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    disc_c = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    retail_c = F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long")
    qty = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            (price_c * (F.lit(100) - disc_c)).alias("rev_e4"),
            (retail_c * qty).alias("cost_c"),
        )
    )
    return (
        joined.groupBy("nation", "o_year")
        .agg(F.sum("rev_e4").alias("sr"), F.sum("cost_c").alias("sc"))
        .select(
            "nation",
            "o_year",
            (
                (F.col("sr") - F.col("sc") * 10).cast("double")
                / F.lit(10000.0)
            ).alias("profit"),
        )
    )


ORACLE_RETURNED_ITEMS = """
SELECT c_custkey, c_name, n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,9)) *
            (CAST(1.0 AS DECIMAL(18,9)) - CAST(l_discount AS DECIMAL(18,9)))
            ), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-07-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("returned_items", oracle=ORACLE_RETURNED_ITEMS)
def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): top 20 customers by
    revenue lost to returns in a six-month window.

    Top-N over an aggregate: Catalyst plans the ORDER BY + LIMIT as
    TakeOrderedAndProject — per-partition heaps of 20, a 20-row merge on
    the driver — never a global sort. The boundary is deterministic:
    ties in the double revenue break on the unique customer key."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    rev = _dec("l_extendedprice") * (
        F.lit(1.0).cast("decimal(18,9)") - _dec("l_discount")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


ORACLE_IMPORTANT_PARTS = """
WITH per_part AS (
  SELECT n_name, l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,9))) AS value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name, l_partkey
),
totals AS (SELECT n_name AS tn, SUM(value) AS total
           FROM per_part GROUP BY 1)
SELECT n_name, l_partkey,
       CAST(ROUND(value, 2) AS DOUBLE) AS value
FROM per_part JOIN totals ON n_name = tn
WHERE value * 50 > total
"""


@query("important_parts", oracle=ORACLE_IMPORTANT_PARTS)
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts carrying more than 2% of
    their supplier-nation's total shipped value.

    The scalar-subquery HAVING threshold decorrelates into a per-nation
    total joined back; the fraction compares CROSS-MULTIPLIED in exact
    DECIMAL (``50·value > total``) so no division rounding can flip a
    boundary part. Two aggregates over one shuffle key family
    (nation,part)→(nation): the second is a roll-up of the first, not a
    second scan."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    per_part = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name", "l_partkey")
        .agg(F.sum(_dec("l_extendedprice")).alias("value"))
    )
    # national total as an unbounded window over the aggregate output:
    # a self-join (groupBy + join back) would RECOMPUTE the whole
    # subtree and scan lineitem twice; the window re-shuffles only the
    # small (nation, part) aggregate. DECIMAL sum = order-independent.
    total = F.sum("value").over(Window.partitionBy("n_name"))
    return (
        per_part.withColumn("total", total)
        .filter(F.col("value") * F.lit(50) > F.col("total"))
        .select(
            "n_name",
            "l_partkey",
            F.round("value", 2).cast("double").alias("value"),
        )
    )


ORACLE_LATE_SHIPMENT_PRIORITY = """
SELECT l_linestatus,
       COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 END) AS high_line_count,
       COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                  THEN 1 END) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY l_linestatus
"""


@query("late_shipment_priority", oracle=ORACLE_LATE_SHIPMENT_PRIORITY)
def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode / order-priority): among lineitems
    shipped more than 90 days after the order date, count critical
    (1-URGENT / 2-HIGH) vs other orders per line status.

    The CASE counts are conditional aggregates over one join; the
    interval predicate is a codegen timestamp comparison, pushed below
    the join so only late lines shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    late = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return late.groupBy("l_linestatus").agg(
        F.count(F.when(crit, 1)).alias("high_line_count"),
        F.count(F.when(~crit, 1)).alias("low_line_count"),
    )


ORACLE_PROMO_REVENUE = """
SELECT 100.0 * CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO'
         THEN CAST(l_extendedprice AS DECIMAL(18,9)) *
              (CAST(1.0 AS DECIMAL(18,9)) - CAST(l_discount AS DECIMAL(18,9)))
         ELSE CAST(0 AS DECIMAL(18,9)) END), 2) AS DOUBLE)
       / CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,9)) *
              (CAST(1.0 AS DECIMAL(18,9)) - CAST(l_discount AS DECIMAL(18,9)))
         ), 2) AS DOUBLE) AS promo_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01'
  AND l_shipdate <  TIMESTAMP '1997-10-01'
"""


@query("promo_revenue", oracle=ORACLE_PROMO_REVENUE)
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): PROMO parts' percentage of
    one month's revenue — a conditional-sum ratio collapsed to a single
    row. Both sums are exact DECIMAL over the same join; the percentage
    is one double expression evaluated on the final row, so the oracle's
    IEEE tree is identical."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    vol = _dec("l_extendedprice") * (
        F.lit(1.0).cast("decimal(18,9)") - _dec("l_discount")
    )
    zero = F.lit(0).cast("decimal(18,9)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", vol).otherwise(zero)
            ).alias("promo"),
            F.sum(vol).alias("total"),
        )
        .select(
            # round the scale-18 sums to scale 2 BEFORE the double
            # cast: a wide-decimal → double conversion is correctly
            # rounded in Spark but double-rounds through (double)int128
            # / 10^18 in DuckDB — at scale 2 the unscaled value fits a
            # double exactly and both engines convert identically
            # (driftlab 'boundary' layout regression)
            (
                F.lit(100.0)
                * F.round("promo", 2).cast("double")
                / F.round("total", 2).cast("double")
            ).alias("promo_pct")
        )
    )


ORACLE_SUPPLIER_PART_COUNTS = """
WITH ps AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem)
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT sk) AS supplier_cnt
FROM ps
JOIN part ON pk = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (5, 10, 15, 20, 25)
  AND sk NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


@query("supplier_part_counts", oracle=ORACLE_SUPPLIER_PART_COUNTS)
def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier relationship count): distinct suppliers
    per (brand, type, size) for selected sizes, excluding one brand and
    excluding suppliers with negative balance (the Q16 complaints NOT IN
    becomes a broadcast anti-join on the supplier key).

    The supplied-parts relation is again the distinct (part, supplier)
    pair set; count-distinct lands on it AFTER the anti-join prunes, so
    the expensive distinct aggregation only sees surviving pairs."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_size").isin(5, 10, 15, 20, 25))
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    ps = li.select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).distinct()
    return (
        ps.join(F.broadcast(bad), ps.sk == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part), F.col("pk") == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("sk").alias("supplier_cnt"))
    )


ORACLE_DISJUNCTIVE_REVENUE = """
SELECT COUNT(*) AS n_lines,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,9)) *
            (CAST(1.0 AS DECIMAL(18,9)) - CAST(l_discount AS DECIMAL(18,9)))
            ), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


@query("disjunctive_revenue", oracle=ORACLE_DISJUNCTIVE_REVENUE)
def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicate): an
    OR of three brand/size/quantity conjunctions across the join.

    The planner test: Catalyst must extract the common
    ``l_quantity <= 30``/``p_size >= 1`` bounds and still push the
    brand/size terms to the part scan while evaluating the residual
    disjunction post-join — confirm with ``.explain`` that the part
    scan carries PushedFilters and the join is broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    arm1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    arm2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    arm3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    rev = _dec("l_extendedprice") * (
        F.lit(1.0).cast("decimal(18,9)") - _dec("l_discount")
    )
    return j.filter(arm1 | arm2 | arm3).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum(rev), 2).cast("double").alias("revenue"),
    )


ORACLE_PART_PROMOTION = """
WITH pairs AS (
  SELECT l_suppkey AS sk, l_partkey AS pk,
         SUM(CAST(l_quantity AS DECIMAL(18,9))) AS q
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
  GROUP BY 1, 2
),
totals AS (SELECT pk AS tpk, SUM(q) AS tq FROM pairs GROUP BY 1),
qual AS (
  SELECT DISTINCT sk FROM pairs JOIN totals ON pk = tpk
  WHERE q * 5 > tq
)
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN qual ON s_suppkey = sk
JOIN nation ON s_nationkey = n_nationkey
"""


@query("part_promotion", oracle=ORACLE_PART_PROMOTION)
def q_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers who carried
    more than 20% of a PROMO part's 1997 flow.

    The nested-subquery chain (suppliers IN … partkey IN … qty >
    threshold) becomes two aggregates over the same (supplier, part)
    grouping — per-pair quantity and its per-part roll-up — compared
    cross-multiplied in exact DECIMAL (``5·q > total``), then a distinct
    supplier projection joined to the dimension tables. Only the
    filtered 1997 PROMO lineitems ever shuffle."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    promo = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    pairs = (
        li.join(F.broadcast(promo), li.l_partkey == promo.p_partkey)
        .groupBy(
            F.col("l_suppkey").alias("sk"), F.col("l_partkey").alias("pk")
        )
        .agg(F.sum(_dec("l_quantity")).alias("q"))
    )
    # per-part total as a window over the (supplier, part) aggregate —
    # the aggregate-join form would recompute pairs and scan the 1997
    # lineitems twice; the window shuffles only the aggregated pairs
    tq = F.sum("q").over(Window.partitionBy("pk"))
    qual = (
        pairs.withColumn("tq", tq)
        .filter(F.col("q") * F.lit(5) > F.col("tq"))
        .select("sk")
        .distinct()
    )
    return (
        sup.join(qual, sup.s_suppkey == qual.sk)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


ORACLE_GROUPED_AGG_UDAF = """
WITH t AS (
  SELECT l_returnflag, l_linestatus,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS qty,
         CAST(epoch(l_shipdate) AS BIGINT) AS ep
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
)
SELECT l_returnflag, l_linestatus,
       count(*) AS n,
       CAST(SUM(cents * qty) AS DOUBLE)
         / CAST(SUM(qty) * 100 AS DOUBLE) AS wavg_price,
       (MAX(ep) - MIN(ep)) // 86400 AS ship_span_days,
       CAST(SUM(cents * qty) AS DOUBLE)
         / CAST(SUM(qty) * 100 AS DOUBLE) AS wavg_price_decl
FROM t
GROUP BY l_returnflag, l_linestatus
"""


@query("grouped_agg_udaf", oracle=ORACLE_GROUPED_AGG_UDAF)
def q_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDAF as a first-class aggregate expression —
    the fourth UDF quadrant (SURVEY.md §2.12) next to scalar pandas
    UDFs, grouped-map ``applyInPandas``, and Python UDTFs.

    The custom aggregates (quantity-weighted mean price, group time
    span) sit in the SAME ``agg(...)`` as built-ins, and the weighted
    mean also ships a declarative SUM-algebra twin column so the
    equivalence is auditable inside one oracled result. Determinism:
    both UDAFs do exact integer arithmetic internally and defer one
    IEEE division to the end (``functions/udaf.py``), so the hash
    matches the ANSI oracle bit-for-bit under any row order.

    Scale note (documented in the module): GROUPED_AGG has no map-side
    partial — the full column slice shuffles. Keep it for custom math
    on moderate-cardinality groups; the declarative twin is the shape
    to prefer when SUM-algebra can express the semantics.
    """
    from fink_broker_spark.functions.udaf import (
        span_days,
        weighted_mean_price,
    )

    # NULL price/quantity rows excluded on both sides (nullmeasure):
    # the UDAF's numpy path would turn NULLs into NaNs inside int
    # casts, and the SQL twin's pairwise NULL-skip differs from n
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_quantity").isNotNull()
    )
    # floor(x + 0.5), not rint: convention-free on .5 ties (see
    # q_product_profit note); the UDAF uses the same tree internally
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    qty = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    keys = ["l_returnflag", "l_linestatus"]
    # API constraint worth pinning: GROUPED_AGG pandas UDFs cannot share
    # an agg(...) with non-pandas aggregates (INVALID_PANDAS_UDF_PLACEMENT)
    # — so the UDAF plan and the declarative twin aggregate separately
    # and broadcast-join on the 6-row group key.
    custom = li.groupBy(*keys).agg(
        weighted_mean_price("l_extendedprice", "l_quantity").alias(
            "wavg_price"
        ),
        span_days("l_shipdate").alias("ship_span_days"),
    )
    decl = li.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(cents * qty).cast("double")
            / (F.sum(qty) * 100).cast("double")
        ).alias("wavg_price_decl"),
    )
    return custom.join(F.broadcast(decl), on=keys).select(
        *keys, "n", "wavg_price", "ship_span_days", "wavg_price_decl"
    )


ORACLE_BASKET_PAIRS = """
WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
       count(*) AS support
FROM b a JOIN b c
  ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
GROUP BY 1, 2
HAVING count(*) >= 2
ORDER BY support DESC, part_a, part_b
LIMIT 50
"""


@query("basket_pairs", oracle=ORACLE_BASKET_PAIRS)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining (association-rule support
    counting): part pairs that ship together in the same order, with a
    minimum-support cut and a deterministic top-50.

    Plan (single-scan, two shuffles — NOT the classic self-join, which
    scans and shuffles the fact twice): collect each basket with ONE
    ``collect_set`` shuffle on ``l_orderkey`` (dedup is free — sets),
    expand in-array pairs map-side with nested ``transform``/``slice``
    HOFs (codegen, never a join), then one partial-aggregating shuffle
    on the pair. Pair fan-out is Σ|basket|²/2 (mean basket ≈ 4); the
    support filter prunes before the final TakeOrderedAndProject.
    100 TB posture: a pathological giant basket (hot order) inflates
    quadratically — cap with ``slice(parts, 1, B)`` after the sort,
    the same skew posture as ``max_df`` in jaccard_neardup
    (SCALING.md). The DuckDB oracle *is* the classic self-join, so the
    HOF expansion is verified against the textbook formulation.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # keyed spread (guide §2.5): the partial collect_set and the
    # in-array pair fan-out below otherwise run in the scan stage's
    # 1-3 tasks; HashPartitioning(l_orderkey) satisfies the basket
    # aggregate's clustering so the whole chain runs at core width
    # off ONE exchange of the 2-column rows (no-op on a wide scan)
    baskets = ensure_keyed_parallelism(
        li.select("l_orderkey", "l_partkey"), "l_orderkey"
    ).groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    parts = F.col("parts")
    pair_structs = F.flatten(
        F.transform(
            parts,
            lambda x, i: F.transform(
                F.slice(parts, i + F.lit(2), F.size(parts)),
                lambda y: F.struct(
                    x.alias("part_a"), y.alias("part_b")
                ),
            ),
        )
    )
    return (
        baskets.select(F.explode(pair_structs).alias("p"))
        # extract scalars BEFORE the groupBy: grouping directly on
        # struct-field expressions puts the field access inside the
        # aggregate's grouping projection and costs ~2x (measured at
        # 10x: 10.9 s -> 4.9 s, on par with the classic self-join but
        # with half the scans)
        .select(
            F.col("p.part_a").alias("part_a"),
            F.col("p.part_b").alias("part_b"),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(50)
    )


ORACLE_MAX_CONCURRENCY = """
WITH spans AS (
  SELECT o_orderkey, o_orderpriority,
         min(epoch_us(o_orderdate)) AS t0,
         max(epoch_us(l_shipdate)) AS t1
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_orderkey, o_orderpriority
  HAVING max(epoch_us(l_shipdate)) >= min(epoch_us(o_orderdate))
),
events AS (
  SELECT o_orderpriority, t0 AS t, 1 AS delta FROM spans
  UNION ALL
  SELECT o_orderpriority, t1, -1 FROM spans
),
live AS (
  SELECT o_orderpriority,
         SUM(delta) OVER (PARTITION BY o_orderpriority
                          ORDER BY t, delta DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS live
  FROM events
)
SELECT o_orderpriority, max(live) AS max_concurrent,
       CAST(count(*) / 2 AS BIGINT) AS n_orders
FROM live GROUP BY o_orderpriority
"""


@query(
    "max_concurrency",
    oracle=ORACLE_MAX_CONCURRENCY,
    bigint=("max_concurrent",),
)
def q_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line maximum concurrency: how many orders are
    simultaneously OPEN (placed but not yet fully shipped) per
    priority, at the busiest instant — the interval-overlap aggregate
    behind capacity planning (and observation-scheduling pressure in
    the astronomy setting).

    The classic sweep: each [orderdate, last shipdate] interval
    explodes into a (+1, start) and a (−1, end) boundary event; a
    running sum over the time ordering is the live concurrency; its
    max is the answer. Starts sort before ends at the same instant
    (delta DESC), making the closed-interval semantics explicit and
    deterministic. Everything integer-exact.

    Scale shape (SCALING.md's own prescription): a
    single window per priority would funnel ~2|orders| boundary events
    into 5 sequential partitions. Instead the sweep is CHUNKED — the
    running sum runs inside (priority, 30-day-chunk) partitions
    (bounded state ∝ chunk density), per-chunk delta totals are
    prefix-summed over the tiny (priority × #chunks) relation to get
    each chunk's carry-in, and the global max is
    ``max(carry_in + local_max)``. Exactly equivalent: chunk id is a
    monotone function of t, so chunk-local order concatenated in chunk
    order IS the global sweep order."""
    # Aggregate BEFORE the join (guide §2.3 "aggregate before you
    # shuffle"): the old shape joined the raw 4·|orders| lineitem rows
    # to orders and THEN grouped — every fact row crossed the join and
    # the group-by ran on the joined relation.  Each side now collapses
    # to its per-order extreme first, keyed-spread off its single-split
    # scan (guide §2.5), and the two aggregates meet co-partitioned on
    # the order key (hash(key) satisfies both the group-by clustering
    # and the join distribution — ONE exchange per side, none for the
    # join).  Exactly equivalent with NO key-uniqueness assumption:
    # grouping the joined relation by (o_orderkey, o_orderpriority)
    # yields min(o_orderdate) over that key's orders rows and
    # max(l_shipdate) over that key's lineitem rows — precisely the
    # per-side aggregates joined back on the key.
    ords = (
        ensure_keyed_parallelism(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority", "o_orderdate"
            ),
            "o_orderkey",
        )
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            # o_orderdate/l_shipdate are normalized to TIMESTAMP by
            # load_table whatever the physical layout (NANOS-as-long
            # included) — never cast a possibly-bigint column here
            F.min(F.unix_micros(F.col("o_orderdate"))).alias("t0")
        )
    )
    ship = (
        ensure_keyed_parallelism(
            load_table(spark, sf_dir, "lineitem").select(
                F.col("l_orderkey").alias("o_orderkey"), "l_shipdate"
            ),
            "o_orderkey",
        )
        .groupBy("o_orderkey")
        .agg(F.max(F.unix_micros(F.col("l_shipdate"))).alias("t1"))
    )
    spans = ords.join(ship, "o_orderkey").filter(F.col("t1") >= F.col("t0"))
    # both boundary events from ONE pass over spans (a self-union would
    # re-derive the whole join/aggregate subtree per branch)
    events = spans.select(
        "o_orderpriority",
        F.explode(
            F.array(
                F.struct(F.col("t0").alias("t"), F.lit(1).alias("delta")),
                F.struct(F.col("t1").alias("t"), F.lit(-1).alias("delta")),
            )
        ).alias("__ev"),
    ).select("o_orderpriority", F.col("__ev.t").alias("t"), F.col("__ev.delta").alias("delta"))
    chunk_us = 30 * 86_400_000_000  # 30-day sweep chunks
    events = events.withColumn(
        "chunk", F.expr(f"CAST(t DIV {chunk_us} AS BIGINT)")
    )
    w_local = (
        Window.partitionBy("o_orderpriority", "chunk")
        .orderBy(F.col("t"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = events.withColumn("run", F.sum("delta").over(w_local))
    per_chunk = local.groupBy("o_orderpriority", "chunk").agg(
        F.max("run").alias("local_max"),
        F.sum("delta").alias("chunk_delta"),
        F.count(F.lit(1)).alias("n_ev"),
    )
    w_carry = (
        Window.partitionBy("o_orderpriority")
        .orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = per_chunk.withColumn(
        "carry", F.coalesce(F.sum("chunk_delta").over(w_carry), F.lit(0))
    )
    return carried.groupBy("o_orderpriority").agg(
        F.max(F.col("carry") + F.col("local_max")).alias("max_concurrent"),
        (F.sum("n_ev") / 2).cast("bigint").alias("n_orders"),
    )


ORACLE_STREAK_DETECTION = """
WITH daily AS (
  SELECT o_orderpriority AS priority,
         epoch_us(o_orderdate) // 86400000000 AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,9))) AS rev
  FROM orders GROUP BY 1, 2
), flagged AS (
  SELECT priority, day,
         CASE WHEN rev > lag(rev) OVER (PARTITION BY priority ORDER BY day)
              THEN 1 ELSE 0 END AS inc
  FROM daily
), runs AS (
  SELECT priority, inc,
         SUM(1 - inc) OVER (PARTITION BY priority ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS sid
  FROM flagged
), per_run AS (
  SELECT priority, sid, SUM(inc) AS n_inc FROM runs GROUP BY 1, 2
)
SELECT priority,
       CAST(MAX(n_inc) + 1 AS BIGINT) AS longest_run,
       CAST(SUM(n_inc) + COUNT(*) AS BIGINT) AS n_days
FROM per_run GROUP BY 1
"""


@query("streak_detection", oracle=ORACLE_STREAK_DETECTION)
def q_streak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest strictly-increasing run of daily
    revenue per order priority. Day key is exact integral µs-epoch
    division (symmetric with the oracle's ``epoch_us // 86400000000`` —
    never a raw-timestamp ordering); revenue compares as EXACT decimal
    sums, so the > flag can never split engines. The island id is the
    classic running count of run-breaks; everything downstream is
    integer arithmetic.

    Scale shape: one (priority, day) aggregate collapses the fact table
    to ≤ |priorities| × |days| rows, after which the windows run over a
    tiny keyed sequence — window state is O(1) and the partition count
    is the priority cardinality ONLY for the collapsed table, not the
    fact table (contrast max_concurrency's chunked sweep, which must
    window the uncollapsed event stream)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.expr("unix_micros(o_orderdate) DIV 86400000000").alias("day"),
    ).agg(F.sum(_dec("o_totalprice")).alias("rev"))
    w = Window.partitionBy("priority").orderBy("day")
    flagged = daily.select(
        "priority",
        "day",
        F.when(F.col("rev") > F.lag("rev").over(w), 1).otherwise(0).alias("inc"),
    )
    sid = F.sum(F.lit(1) - F.col("inc")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    per_run = (
        flagged.select("priority", "inc", sid.alias("sid"))
        .groupBy("priority", "sid")
        .agg(F.sum("inc").alias("n_inc"))
    )
    return per_run.groupBy("priority").agg(
        (F.max("n_inc") + F.lit(1)).alias("longest_run"),
        (F.sum("n_inc") + F.count(F.lit(1))).alias("n_days"),
    )


ORACLE_FK_ORPHANS = """
SELECT 'orders.custkey' AS relation, COUNT(*) AS n_rows,
       SUM(CASE WHEN d.k IS NULL THEN 1 ELSE 0 END) AS n_orphans
FROM orders f LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) d
  ON f.o_custkey = d.k
UNION ALL
SELECT 'lineitem.partkey', COUNT(*),
       SUM(CASE WHEN d.k IS NULL THEN 1 ELSE 0 END)
FROM lineitem f LEFT JOIN (SELECT DISTINCT p_partkey AS k FROM part) d
  ON f.l_partkey = d.k
UNION ALL
SELECT 'lineitem.suppkey', COUNT(*),
       SUM(CASE WHEN d.k IS NULL THEN 1 ELSE 0 END)
FROM lineitem f LEFT JOIN (SELECT DISTINCT s_suppkey AS k FROM supplier) d
  ON f.l_suppkey = d.k
UNION ALL
SELECT 'lineitem.orderkey', COUNT(*),
       SUM(CASE WHEN d.k IS NULL THEN 1 ELSE 0 END)
FROM lineitem f LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) d
  ON f.l_orderkey = d.k
UNION ALL
SELECT 'customer.nationkey', COUNT(*),
       SUM(CASE WHEN d.k IS NULL THEN 1 ELSE 0 END)
FROM customer f LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) d
  ON f.c_nationkey = d.k
UNION ALL
SELECT 'events.user_id', COUNT(*),
       SUM(CASE WHEN d.k IS NULL THEN 1 ELSE 0 END)
FROM events f LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) d
  ON f.user_id = d.k
"""


@query("fk_orphans", oracle=ORACLE_FK_ORPHANS, bigint=("n_orphans",))
def q_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the whole star schema: for
    each FK relation, total rows and orphan rows (FK values with no
    parent). ONE left join + conditional count per relation — the
    anti-join reformulated as a flag sum so row total and orphan count
    come from a single pass (two separate aggregates would scan the
    fact twice). Dimensions are unhinted: AQE broadcasts the small
    ones and shuffle-joins the big ones at 100 TB. Integer-exact."""

    def rel(name: str, fact: DataFrame, fk: str, dim: DataFrame, pk: str):
        d = dim.select(F.col(pk).alias("k")).distinct().withColumn(
            "hit", F.lit(1)
        )
        return (
            fact.select(F.col(fk).alias("k"))
            .join(d, "k", "left")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.when(F.col("hit").isNull(), 1).otherwise(0)
                ).alias("n_orphans"),
            )
            .select(F.lit(name).alias("relation"), "n_rows", "n_orphans")
        )

    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pa = load_table(spark, sf_dir, "part")
    su = load_table(spark, sf_dir, "supplier")
    ev = load_table(spark, sf_dir, "events")
    parts = [
        rel("orders.custkey", o, "o_custkey", cu, "c_custkey"),
        rel("lineitem.partkey", li, "l_partkey", pa, "p_partkey"),
        rel("lineitem.suppkey", li, "l_suppkey", su, "s_suppkey"),
        rel("lineitem.orderkey", li, "l_orderkey", o, "o_orderkey"),
        rel("customer.nationkey", cu, "c_nationkey", na, "n_nationkey"),
        rel("events.user_id", ev, "user_id", cu, "c_custkey"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


ORACLE_YOY_GROWTH = """
WITH monthly AS (
  SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,9))), 2)
              AS DOUBLE) AS rev
  FROM orders GROUP BY 1, 2
)
SELECT m.yr, m.mo, m.rev, p.rev AS prev_rev,
       (m.rev - p.rev) / p.rev AS growth
FROM monthly m JOIN monthly p ON m.yr = p.yr + 1 AND m.mo = p.mo
"""


@query("yoy_growth", oracle=ORACLE_YOY_GROWTH)
def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue growth — period-over-period time
    intelligence. Month keys are exact integers from the normalized
    timestamp (year/month are sub-µs-jitter-immune, unlike raw-ts
    ordering); monthly revenue is an exact decimal sum ROUNDED TO
    SCALE 2 BEFORE the double cast (the wide-decimal rule: a scale-9
    monthly sum's unscaled value can outgrow 2^53, where DuckDB
    double-rounds); the YoY match is an equi-join on (year−1, month) —
    never a 12-row lag, which silently pairs wrong months across gaps.
    Growth is one (r−p)/p tree over the exactly-rounded doubles."""
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
        )
        .agg(
            F.round(F.sum(_dec("o_totalprice")), 2)
            .cast("double")
            .alias("rev")
        )
    )
    prev = monthly.select(
        (F.col("yr") + 1).alias("yr"),
        F.col("mo"),
        F.col("rev").alias("prev_rev"),
    )
    return (
        monthly.join(prev, ["yr", "mo"])
        .select(
            "yr",
            "mo",
            "rev",
            "prev_rev",
            (
                (F.col("rev") - F.col("prev_rev")) / F.col("prev_rev")
            ).alias("growth"),
        )
    )


ORACLE_INTERVAL_ISLANDS = """
WITH ends AS (
  SELECT l_orderkey,
         MAX(CAST(FLOOR(epoch_us(l_shipdate) / 86400000000) AS BIGINT))
           AS end_day
  FROM lineitem GROUP BY l_orderkey
), iv AS (
  -- DISTINCT: a re-ingested duplicate orders row is one order
  SELECT DISTINCT o.o_custkey, o.o_orderkey,
         CAST(FLOOR(epoch_us(o.o_orderdate) / 86400000000) AS BIGINT)
           AS start_day,
         e.end_day
  FROM orders o JOIN ends e ON o.o_orderkey = e.l_orderkey
), marked AS (
  SELECT o_custkey, o_orderkey, start_day, end_day,
         CASE WHEN MAX(end_day) OVER (
                  PARTITION BY o_custkey ORDER BY start_day, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) IS NULL
              OR start_day > MAX(end_day) OVER (
                  PARTITION BY o_custkey ORDER BY start_day, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) + 1
              THEN 1 ELSE 0 END AS brk
  FROM iv
), islands AS (
  SELECT o_custkey, start_day, end_day,
         SUM(brk) OVER (
           PARTITION BY o_custkey ORDER BY start_day, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS island
  FROM marked
), isl AS (
  SELECT o_custkey, island, MIN(start_day) AS s, MAX(end_day) AS e,
         count(*) AS n_orders
  FROM islands GROUP BY o_custkey, island
)
SELECT o_custkey AS custkey, count(*) AS n_islands,
       SUM(n_orders) AS n_orders, SUM(e - s + 1) AS covered_days
FROM isl GROUP BY o_custkey
"""


@query(
    "interval_islands",
    oracle=ORACLE_INTERVAL_ISLANDS,
    bigint=("n_orders", "covered_days"),
)
def q_interval_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing (gaps-and-islands over real intervals): each
    order spans [order day, last ship day]; per customer, overlapping
    or touching spans merge into islands. The classic two-window
    decomposition — a running MAX of interval ends over the
    (start, orderkey)-ordered history marks island breaks, a running
    SUM of breaks numbers the islands — then one aggregate per
    (customer, island) and one per customer. All keys are exact epoch
    days (sub-µs-jitter-immune); no timestamp ever reaches an ORDER
    BY. Plan at 100 TB: one lineitem aggregate (per-order end), one
    orders join, per-customer windows over |orders| rows — state is
    one MAX + one SUM, bounded."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    ends = (
        li.select("l_orderkey", _day("l_shipdate").alias("sday"))
        .groupBy("l_orderkey")
        .agg(F.max("sday").alias("end_day"))
    )
    # dropDuplicates: a re-ingested duplicate orders row (duprows
    # driftlab) is one order — and the exact-dup pair also exposed a
    # frame hazard: the island sum below must be a ROWS frame (the
    # default ordered-window frame is RANGE, which merges tie PEERS)
    iv = (
        o.dropDuplicates(["o_orderkey"])
        .select(
            "o_custkey",
            "o_orderkey",
            _day("o_orderdate").alias("start_day"),
        )
        .join(ends, F.col("o_orderkey") == F.col("l_orderkey"))
    )
    w = Window.partitionBy("o_custkey").orderBy("start_day", "o_orderkey")
    prev_max_end = F.max("end_day").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.select(
        "o_custkey",
        "o_orderkey",
        "start_day",
        "end_day",
        F.when(
            prev_max_end.isNull()
            | (F.col("start_day") > prev_max_end + 1),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    ).withColumn(
        "island",
        F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    isl = marked.groupBy("o_custkey", "island").agg(
        F.min("start_day").alias("s"),
        F.max("end_day").alias("e"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        isl.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum("n_orders").alias("n_orders"),
            F.sum(F.col("e") - F.col("s") + 1).alias("covered_days"),
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            "n_islands",
            "n_orders",
            "covered_days",
        )
    )


ORACLE_RFM_SEGMENTS = """
WITH per AS (
  SELECT o_custkey,
         MAX(CAST(FLOOR(epoch_us(o_orderdate) / 86400000000) AS BIGINT))
           AS last_day,
         count(*) AS freq,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
           AS monetary_cents
  FROM orders GROUP BY o_custkey
), base AS (
  SELECT o_custkey,
         (SELECT MAX(last_day) FROM per) - last_day AS recency_days,
         freq, monetary_cents
  FROM per
), scored AS (
  SELECT o_custkey AS custkey, recency_days, freq, monetary_cents,
         -- NULLS FIRST pins the tiebreak to Spark's ascending default
         -- (DuckDB defaults to NULLS LAST): a NULL o_custkey group
         -- from NULL-FK data must rank identically on both engines
         NTILE(5) OVER (ORDER BY recency_days, o_custkey NULLS FIRST)
           AS r_score,
         NTILE(5) OVER (ORDER BY freq DESC, o_custkey NULLS FIRST)
           AS f_score,
         NTILE(5) OVER (ORDER BY monetary_cents DESC,
                        o_custkey NULLS FIRST) AS m_score
  FROM base
)
SELECT custkey, recency_days, freq, monetary_cents, r_score, f_score,
       m_score,
       CAST(r_score AS VARCHAR) || '-' || CAST(f_score AS VARCHAR)
         || '-' || CAST(m_score AS VARCHAR) AS segment
FROM scored
"""


@query("rfm_segments", oracle=ORACLE_RFM_SEGMENTS, bigint=("monetary_cents",))
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days from last order to the
    corpus max order day), frequency (order count), monetary (exact
    cents) → quintile scores with full deterministic tiebreaks (the
    metric THEN custkey — ntile is ANSI-identical across engines only
    when the ordering is total). A native global ``ntile`` would
    single-partition-sort |customers| rows, so each score runs through
    ``operators/ranking.bucketed_ntile`` — the deterministic two-phase
    bucket-offset ranking (monotone bucket expr → |buckets|-row offset
    table → bucket-partitioned row_number + ANSI tile formula) that
    hash-matches the oracle's native NTILE while keeping per-task
    state bounded by one bucket's population. Descending metrics rank
    via the negated key. Plan: one orders aggregate, a 1-row corpus
    max broadcast, three bucket-joins over dimension-sized data — the
    fact table shuffles once. Integer-exact."""
    o = load_table(spark, sf_dir, "orders")

    per = (
        o.select(
            "o_custkey",
            _day("o_orderdate").alias("oday"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(
            F.max("oday").alias("last_day"),
            F.count(F.lit(1)).alias("freq"),
            F.sum("cents").alias("monetary_cents"),
        )
    )
    mx = per.agg(F.max("last_day").alias("corpus_max"))
    base = per.crossJoin(F.broadcast(mx)).select(
        "o_custkey",
        (F.col("corpus_max") - F.col("last_day")).alias("recency_days"),
        "freq",
        "monetary_cents",
    )
    # each bucketed_ntile references its input twice (bucket counts +
    # the offset join), so the three nested scores re-derived the
    # orders aggregate up to 2^3 × its two base references (16
    # scans).  base is |customers|-sized —
    # materialize once; the downstream re-references are then windows
    # over the checkpointed rows, not fact re-scans (guide §1.2).
    base = materialize(base)
    from fink_broker_spark.operators.ranking import bucketed_ntile

    ck = F.col("o_custkey")
    scored = bucketed_ntile(
        base, F.col("recency_days"), ck, 5, "r_score"
    )
    scored = bucketed_ntile(scored, -F.col("freq"), ck, 5, "f_score")
    scored = bucketed_ntile(
        scored,
        -F.col("monetary_cents"),
        ck,
        5,
        "m_score",
        bucket_width=100_000,
    )
    return scored.select(
        F.col("o_custkey").alias("custkey"),
        "recency_days",
        "freq",
        "monetary_cents",
        "r_score",
        "f_score",
        "m_score",
        F.concat_ws(
            "-",
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("segment"),
    )


ORACLE_REPEAT_INTERVAL = """
WITH ordered AS (
  SELECT o_custkey, o_orderkey,
         CAST(FLOOR(epoch_us(o_orderdate) / 86400000000) AS BIGINT)
           AS oday
  FROM orders
), gaps AS (
  SELECT oday - LAG(oday) OVER (
           PARTITION BY o_custkey ORDER BY oday, o_orderkey
         ) AS gap
  FROM ordered
), g2 AS (
  SELECT gap FROM gaps WHERE gap IS NOT NULL
), grid AS (
  SELECT gap, count(*) AS cnt FROM g2 GROUP BY gap
), cum AS (
  SELECT gap,
         SUM(cnt) OVER (ORDER BY gap
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cnt) OVER () AS n,
         gap * cnt AS wsum
  FROM grid
)
SELECT MAX(n) AS n_gaps,
       CAST(SUM(wsum) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)
         AS mean_gap_days,
       MIN(CASE WHEN 2 * cum >= n THEN gap END) AS median_gap_days
FROM cum
"""


@query("repeat_interval", oracle=ORACLE_REPEAT_INTERVAL, bigint=("n_gaps",))
def q_repeat_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: days between consecutive orders per
    customer (lag over the symmetric (day, orderkey) order), then the
    corpus-wide gap count, exact double mean, and exact grid median
    (same conditional-MIN construction as grid_quantiles — no global
    sort, no unbounded percentile state). 1-row output."""
    o = load_table(spark, sf_dir, "orders")

    w = Window.partitionBy("o_custkey").orderBy("oday", "o_orderkey")
    gaps = (
        o.select(
            "o_custkey", "o_orderkey", _day("o_orderdate").alias("oday")
        )
        .select(
            "o_custkey",
            (F.col("oday") - F.lag("oday").over(w)).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
    )
    grid = gaps.groupBy("gap").agg(F.count(F.lit(1)).alias("cnt"))
    wg = Window.orderBy("gap")
    cum = grid.select(
        "gap",
        F.sum("cnt").over(wg).alias("cum"),
        F.sum("cnt")
        .over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
        (F.col("gap") * F.col("cnt")).alias("wsum"),
    )
    return cum.agg(
        F.max("n").alias("n_gaps"),
        (
            F.sum("wsum").cast("double") / F.max("n").cast("double")
        ).alias("mean_gap_days"),
        F.min(
            F.when(2 * F.col("cum") >= F.col("n"), F.col("gap"))
        ).alias("median_gap_days"),
    )


ORACLE_NEAREST_EVENT = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS eus, MAX(event_id) AS eid
  FROM events GROUP BY 1, 2
), o AS (
  SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) AS ous
  FROM orders
), u AS (
  SELECT o_custkey AS k, ous AS t, 1 AS side, o_orderkey,
         CAST(NULL AS BIGINT) AS eus, CAST(NULL AS BIGINT) AS eid
  FROM o
  UNION ALL
  SELECT user_id, eus, 0, NULL, eus, eid FROM ev
), w AS (
  SELECT *,
         LAST_VALUE(CASE WHEN side = 0 THEN eus END IGNORE NULLS)
           OVER (PARTITION BY k ORDER BY t, side
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS prev_t,
         LAST_VALUE(CASE WHEN side = 0 THEN eid END IGNORE NULLS)
           OVER (PARTITION BY k ORDER BY t, side
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS prev_id,
         FIRST_VALUE(CASE WHEN side = 0 THEN eus END IGNORE NULLS)
           OVER (PARTITION BY k ORDER BY t, side
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS next_t,
         FIRST_VALUE(CASE WHEN side = 0 THEN eid END IGNORE NULLS)
           OVER (PARTITION BY k ORDER BY t, side
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS next_id
  FROM u
), picked AS (
  SELECT o_orderkey, k AS o_custkey,
         CASE WHEN next_t IS NULL
                OR (prev_t IS NOT NULL
                    AND ABS(prev_t - t) <= ABS(next_t - t))
              THEN prev_id ELSE next_id END AS nearest_event_id,
         CASE WHEN next_t IS NULL
                OR (prev_t IS NOT NULL
                    AND ABS(prev_t - t) <= ABS(next_t - t))
              THEN prev_t - t ELSE next_t - t END AS dt_us
  FROM w WHERE side = 1
)
-- o_custkey IS NOT NULL: the operator gives NULL join keys SQL
-- equality semantics (no match) as of r6 — the window construction
-- above would otherwise "match" NULL-key orders to NULL-key events
-- inside the shared NULL partition
SELECT * FROM picked
WHERE nearest_event_id IS NOT NULL AND o_custkey IS NOT NULL
"""


@query("nearest_event", oracle=ORACLE_NEAREST_EVENT)
def q_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of join
    (``operators/relational.py:nearest_asof_join``): each order picks
    the SAME customer's event closest in time — either side, |Δt| tie
    → earlier — via the single-shuffle union construction (one
    key-partitioned sort feeding a backward ``last(ignorenulls)`` AND
    a forward ``first(ignorenulls)``; never a per-key cross product).
    Events pre-collapse to one row per (user, µs) (max event_id) so
    the match is engine-deterministic. Times are exact epoch µs;
    Δt is an exact integer."""
    from fink_broker_spark.operators.relational import nearest_asof_join

    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.unix_micros(F.col("ts")).alias("eus"),
            "event_id",
        )
        .groupBy("user_id", "eus")
        .agg(F.max("event_id").alias("eid"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.unix_micros(F.col("o_orderdate")).alias("ous"),
    )
    out = nearest_asof_join(
        o,
        ev,
        left_on="o_custkey",
        right_on="user_id",
        left_time="ous",
        right_time="eus",
        right_values=["eid"],
    )
    return out.select(
        "o_orderkey",
        "o_custkey",
        F.col("eid").alias("nearest_event_id"),
        F.col("__match_dt").alias("dt_us"),
    ).filter(F.col("nearest_event_id").isNotNull())


ORACLE_CLAMPED_BALANCE = """
WITH moves AS (
  SELECT l_partkey, epoch_us(l_shipdate) AS us, l_orderkey,
         l_linenumber,
         CASE WHEN l_returnflag = 'R'
              THEN CAST(FLOOR(l_quantity + 0.5) AS BIGINT)
              ELSE -CAST(FLOOR(l_quantity + 0.5) AS BIGINT) END AS delta
  FROM lineitem
), pref AS (
  SELECT l_partkey,
         SUM(delta) OVER (PARTITION BY l_partkey
             ORDER BY us, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM moves
), stats AS (
  SELECT l_partkey, count(*) AS n_moves, MIN(p) AS min_prefix
  FROM pref GROUP BY l_partkey
), last_p AS (
  SELECT l_partkey, SUM(delta) AS final_prefix
  FROM moves GROUP BY l_partkey
)
SELECT s.l_partkey AS partkey, s.n_moves, s.min_prefix,
       l.final_prefix - LEAST(0, s.min_prefix) AS final_balance
-- null-safe join: the Spark side computes both aggregates in ONE
-- groupBy, which keeps a NULL-partkey group; a plain equality join
-- here would drop it (nullfk driftlab layout, r6)
FROM stats s JOIN last_p l ON s.l_partkey IS NOT DISTINCT FROM l.l_partkey
"""


@query(
    "clamped_balance",
    oracle=ORACLE_CLAMPED_BALANCE,
    bigint=("min_prefix", "final_balance"),
)
def q_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped-at-zero running balance — the inventory recurrence
    b_t = max(0, b_{t-1} + Δ_t) that LOOKS like it needs an imperative
    loop (each step depends on the clamped previous step) but has the
    exact closed form b_t = p_t − min(0, min_{s≤t} p_s) over the raw
    prefix sums p — so it compiles to TWO stacked windows (running SUM,
    then running MIN of it) with bounded state, no applyInPandas, no
    recursion. Stock moves: returns ('R') add quantity, shipments
    subtract, ordered by the symmetric (ship µs, orderkey, linenumber)
    key per part. Emits per-part final clamped balance, the worst raw
    drawdown, and move count. Integer-exact; windows partition on
    p_partkey (high-cardinality key — scale-safe)."""
    li = load_table(spark, sf_dir, "lineitem")
    moves = li.select(
        "l_partkey",
        F.unix_micros(F.col("l_shipdate")).alias("us"),
        "l_orderkey",
        "l_linenumber",
        F.when(
            F.col("l_returnflag") == "R",
            F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long"),
        )
        .otherwise(
            -F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
        )
        .alias("delta"),
    )
    w = Window.partitionBy("l_partkey").orderBy(
        "us", "l_orderkey", "l_linenumber"
    )
    pref = moves.select(
        "l_partkey",
        "delta",
        F.sum("delta")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("p"),
    )
    # final prefix (= the plain delta sum), worst prefix, and move
    # count all come from ONE per-part aggregate over the windowed
    # frame — the window already shuffled on l_partkey, so no second
    # fact scan or join
    stats = pref.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_moves"),
        F.min("p").alias("min_prefix"),
        F.sum("delta").alias("final_prefix"),
    )
    return stats.select(
        F.col("l_partkey").alias("partkey"),
        "n_moves",
        "min_prefix",
        (
            F.col("final_prefix")
            - F.least(F.lit(0), F.col("min_prefix"))
        ).alias("final_balance"),
    )


ORACLE_BASKET_NOVELTY = """
WITH items AS (
  SELECT o.o_custkey, l.l_orderkey, l.l_partkey,
         CAST(FLOOR(epoch_us(o.o_orderdate) / 86400000000) AS BIGINT)
           AS od
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), first_buy AS (
  SELECT o_custkey, l_partkey,
         MIN(ROW(od, l_orderkey)) AS first_key
  FROM items GROUP BY 1, 2
), flagged AS (
  SELECT i.o_custkey, i.l_orderkey, i.od,
         CASE WHEN ROW(i.od, i.l_orderkey) = f.first_key
              THEN 1 ELSE 0 END AS is_new
  FROM items i
  JOIN first_buy f
    ON i.o_custkey = f.o_custkey AND i.l_partkey = f.l_partkey
), per_order AS (
  SELECT o_custkey, l_orderkey, od, count(*) AS n_items,
         SUM(is_new) AS n_new
  FROM flagged GROUP BY 1, 2, 3
), seq AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY od, l_orderkey) AS order_seq
  FROM per_order
)
SELECT order_seq, count(*) AS n_orders, SUM(n_items) AS n_items,
       SUM(n_new) AS n_new,
       CAST(SUM(n_new) AS DOUBLE) / CAST(SUM(n_items) AS DOUBLE)
         AS novelty_rate
FROM seq GROUP BY order_seq
"""


@query(
    "basket_novelty",
    oracle=ORACLE_BASKET_NOVELTY,
    bigint=("n_items", "n_new"),
)
def q_basket_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket novelty: per order, the fraction of items the customer
    has never bought before — first-occurrence flags computed as ONE
    (customer, part) aggregate (the item's first order by the
    symmetric (order day, orderkey) pair) joined back to the items, so
    no per-order cumulative set is ever materialized. Emits the
    per-order novelty distribution aggregated by order sequence number
    (1st, 2nd, … order of each customer) — the 'do customers explore
    or repeat' curve. Integer-exact until terminal double divisions."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    items = li.select("l_orderkey", "l_partkey").join(
        o.select(
            "o_orderkey", "o_custkey", _day("o_orderdate").alias("od")
        ),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    # items feeds first_buy AND the flag join, but its subtree tops out
    # at the fact join — no Exchange, so both consumers re-ran the join
    # (global finding 3).  A repartition on the shared (customer, part)
    # key gives both consumers ONE reusable Exchange that also
    # satisfies the groupBy clustering and the join distribution — no
    # second shuffle, strictly fewer fact passes; scale-neutral (a
    # keyed shuffle of the projected fact columns).
    items = items.repartition("o_custkey", "l_partkey")
    first_buy = items.groupBy("o_custkey", "l_partkey").agg(
        F.min(F.struct("od", "l_orderkey")).alias("first")
    )
    flagged = items.join(
        first_buy, ["o_custkey", "l_partkey"]
    ).select(
        "o_custkey",
        "l_orderkey",
        "od",
        F.when(
            (F.col("first.od") == F.col("od"))
            & (F.col("first.l_orderkey") == F.col("l_orderkey")),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    per_order = flagged.groupBy("o_custkey", "l_orderkey", "od").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("is_new").alias("n_new"),
    )
    seq = per_order.select(
        "*",
        F.row_number()
        .over(
            Window.partitionBy("o_custkey").orderBy("od", "l_orderkey")
        )
        .alias("order_seq"),
    )
    return seq.groupBy("order_seq").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("n_items").alias("n_items"),
        F.sum("n_new").alias("n_new"),
        (
            F.sum("n_new").cast("double")
            / F.sum("n_items").cast("double")
        ).alias("novelty_rate"),
    )


ORACLE_BASKET_SIZE_DIST = """
WITH per AS (
  SELECT l_orderkey, count(*) AS basket FROM lineitem GROUP BY 1
), dist AS (
  SELECT basket, count(*) AS n_orders FROM per GROUP BY basket
), tot AS (
  SELECT SUM(n_orders) AS total FROM dist
)
SELECT basket, n_orders,
       CAST(n_orders AS DOUBLE) / CAST(total AS DOUBLE) AS share
FROM dist CROSS JOIN tot
"""


@query("basket_size_dist", oracle=ORACLE_BASKET_SIZE_DIST)
def q_basket_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order basket-size distribution: line count per order → orders
    per basket size, with each size's share. Two integer aggregates +
    a 1-row total broadcast — the order-composition profile every
    co-occurrence operator's Σ|basket|² cost model starts from."""
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("basket")
    )
    dist = per.groupBy("basket").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    tot = dist.agg(F.sum("n_orders").alias("total"))
    return dist.crossJoin(F.broadcast(tot)).select(
        "basket",
        "n_orders",
        (
            F.col("n_orders").cast("double")
            / F.col("total").cast("double")
        ).alias("share"),
    )


ORACLE_DECAYED_REVENUE = """
WITH base AS (
  SELECT o_custkey, year(o_orderdate) AS yr,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), span AS (
  SELECT MAX(yr) AS ymax, MIN(yr) AS ymin FROM base
), nk AS (
  SELECT c.c_custkey, n.n_name
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
), g AS (
  SELECT nk.n_name, s.ymax, s.ymin,
         SUM(b.cents * (CAST(1 AS BIGINT) << (b.yr - s.ymin)))
           AS scaled_sum,
         count(*) AS n_orders
  FROM base b CROSS JOIN span s
  JOIN nk ON b.o_custkey = nk.c_custkey
  GROUP BY 1, 2, 3
)
SELECT n_name AS nation, n_orders,
       CAST(scaled_sum AS DOUBLE)
         / CAST(CAST(1 AS BIGINT) << (ymax - ymin) AS DOUBLE)
         / 100.0 AS decayed_revenue
FROM g
"""


@query("decayed_revenue", oracle=ORACLE_DECAYED_REVENUE)
def q_decayed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed revenue per nation with a one-year half-life —
    recency-weighted scoring WITHOUT a transcendental: the weight
    2^-(age_years) makes every scaled term cents·2^(span−age) an exact
    BIGINT (span ≤ ~8 years keeps the scaled sum < 2⁵³), so the
    aggregate is exact integer arithmetic and the final score is one
    exact division by a power of two. The reference year is
    data-derived (max order year — regeneration-proof). One fact
    aggregate; the customer→nation attach is an unhinted equi-join
    (AQE broadcasts it at driver scale, shuffle-joins it at 100 TB —
    customer is SF-linear and must never be force-broadcast)."""
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    base = o.select(
        "o_custkey",
        F.year("o_orderdate").alias("yr"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    span = base.agg(
        F.max("yr").alias("ymax"), F.min("yr").alias("ymin")
    )
    nk = cu.select("c_custkey", "c_nationkey").join(
        F.broadcast(na.select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    scaled = (
        base.crossJoin(F.broadcast(span))
        .join(nk, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "n_name",
            "ymax",
            "ymin",
            F.expr(
                "cents * shiftleft(CAST(1 AS BIGINT), "
                "CAST(yr - ymin AS INT))"
            ).alias("term"),
        )
    )
    # the scaled SUM grows with row count (every term carries up to
    # 2^span) — accumulate in DECIMAL(38,0)/HUGEINT so no scale factor
    # can wrap an int64 partial
    g = scaled.groupBy("n_name", "ymax", "ymin").agg(
        F.sum(F.col("term").cast("decimal(38,0)")).alias("scaled_sum"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return g.select(
        F.col("n_name").alias("nation"),
        "n_orders",
        F.expr(
            "CAST(scaled_sum AS DOUBLE) "
            "/ CAST(shiftleft(CAST(1 AS BIGINT), "
            "CAST(ymax - ymin AS INT)) AS DOUBLE) / 100.0"
        ).alias("decayed_revenue"),
    )


ORACLE_COSUPPLIER_PAIRS = """
WITH ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
)
SELECT a.l_suppkey AS u, b.l_suppkey AS v,
       count(*) AS common_parts
FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey
WHERE a.l_suppkey < b.l_suppkey
GROUP BY 1, 2
ORDER BY common_parts DESC, u, v LIMIT 20
"""


@query("cosupplier_pairs", oracle=ORACLE_COSUPPLIER_PAIRS)
def q_cosupplier_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-supplier graph: top-20 supplier pairs by number of common
    parts — the inverted-index pair join (per-part supplier lists,
    u < v orientation), never an all-pairs product; fan-out is
    Σ|suppliers-per-part|², bounded by the densest part. Same edge
    algebra as copurchase_edges on a different relation. Integer-exact
    with (pair) tiebreak TakeOrdered."""
    li = load_table(spark, sf_dir, "lineitem")
    # keyed spread (guide §2.5): HashPartitioning(l_partkey) satisfies
    # BOTH the distinct's clustering and the pk self-join's, so the
    # whole dedup → pair fan-out → partial agg chain runs at core
    # width off ONE exchange — the planner's own exchanges were
    # AQE-byte-coalesced to ~1 task while the pair fan-out is per-row
    # work (A/B 2.27 → 1.21 s at sf0.1; no-op on a wide scan)
    ps = ensure_keyed_parallelism(
        li.select("l_partkey", "l_suppkey"), "l_partkey"
    ).distinct()
    a = ps.select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("u")
    )
    b = ps.select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("v")
    )
    pairs = (
        a.join(b, "pk")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common_parts"))
    )
    return pairs.orderBy(
        F.desc("common_parts"), "u", "v"
    ).limit(20)


ORACLE_ABC_CLASSIFICATION = """
WITH rev AS (
  SELECT l_partkey,
         SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
           AS rev_cents
  FROM lineitem GROUP BY l_partkey
), cum AS (
  SELECT l_partkey, rev_cents,
         SUM(rev_cents) OVER (
           ORDER BY rev_cents DESC, l_partkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum_cents,
         SUM(rev_cents) OVER () AS total_cents
  FROM rev
), classed AS (
  SELECT rev_cents, total_cents,
         CASE WHEN 100 * cum_cents <= 80 * total_cents THEN 'A'
              WHEN 100 * cum_cents <= 95 * total_cents THEN 'B'
              ELSE 'C' END AS abc_class
  FROM cum
)
SELECT abc_class, count(*) AS n_parts, SUM(rev_cents) AS class_cents,
       CAST(SUM(rev_cents) AS DOUBLE) / CAST(MAX(total_cents) AS DOUBLE)
         AS revenue_share
FROM classed GROUP BY abc_class
"""


@query(
    "abc_classification",
    oracle=ORACLE_ABC_CLASSIFICATION,
    bigint=("class_cents",),
)
def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, class A
    while the cumulative share ≤ 80%, B ≤ 95%, C beyond. The running
    revenue total over the DESC rank order comes from
    ``operators/ranking.bucketed_prefix_sum`` — the distributed exact
    prefix sum (bucket value sums → offset table → bucket-partitioned
    running sum), so no single-partition window ever sees |parts|
    rows. Class cuts are pure-integer comparisons (100·cum ≤ 80·total)
    of exact cents. Emits per-class part counts and revenue shares."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.select(
            "l_partkey",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    from fink_broker_spark.operators.ranking import bucketed_prefix_sum

    with_cum = bucketed_prefix_sum(
        rev,
        -F.col("rev_cents"),
        F.col("l_partkey"),
        F.col("rev_cents"),
        "cum_cents",
        bucket_width=100_000,
    )
    tot = with_cum.agg(F.sum("rev_cents").alias("total_cents"))
    classed = with_cum.crossJoin(F.broadcast(tot)).select(
        "rev_cents",
        "total_cents",
        F.when(
            100 * F.col("cum_cents") <= 80 * F.col("total_cents"), "A"
        )
        .when(
            100 * F.col("cum_cents") <= 95 * F.col("total_cents"), "B"
        )
        .otherwise("C")
        .alias("abc_class"),
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev_cents").alias("class_cents"),
        (
            F.sum("rev_cents").cast("double")
            / F.max("total_cents").cast("double")
        ).alias("revenue_share"),
    )


ORACLE_DAILY_BACKLOG = """
WITH ship AS (
  SELECT l_orderkey,
         MAX(CAST(FLOOR(epoch_us(l_shipdate) / 86400000000) AS BIGINT))
           AS end_day
  FROM lineitem GROUP BY l_orderkey
), iv AS (
  SELECT CAST(FLOOR(epoch_us(o.o_orderdate) / 86400000000) AS BIGINT)
           AS start_day,
         s.end_day
  FROM orders o JOIN ship s ON o.o_orderkey = s.l_orderkey
), deltas AS (
  SELECT d, SUM(x) AS delta FROM (
    SELECT start_day AS d, 1 AS x FROM iv
    UNION ALL
    SELECT end_day + 1, -1 FROM iv
  ) GROUP BY d
), span AS (
  SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM deltas
), spine AS (
  SELECT unnest(generate_series(dmin, dmax)) AS d FROM span
), dense AS (
  SELECT s.d, COALESCE(x.delta, 0) AS delta
  FROM spine s LEFT JOIN deltas x ON s.d = x.d
), curve AS (
  SELECT d,
         SUM(delta) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS backlog
  FROM dense
)
SELECT CAST(FLOOR(CAST(d AS DOUBLE) / 30) AS BIGINT) AS period,
       count(*) AS n_days, MAX(backlog) AS peak_backlog,
       SUM(backlog) AS backlog_day_sum
FROM curve GROUP BY 1
"""


@query(
    "daily_backlog",
    oracle=ORACLE_DAILY_BACKLOG,
    bigint=("peak_backlog", "backlog_day_sum"),
)
def q_daily_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order backlog: how many orders are OPEN (placed, not yet
    fully shipped) on each calendar day — the interval-stabbing count
    as a time series (max_concurrency's sweep generalized from the
    peak to the whole curve). Orders become +1 events on the order
    day and −1 on the last ship day; the day spine densifies gaps and
    a running sum over the ~|days|-row delta series (tiny — days, not
    orders) yields the curve. Emits month-level summaries (mean/peak
    backlog) to keep the output bounded. Integer-exact."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ship = (
        li.select("l_orderkey", _day("l_shipdate").alias("sday"))
        .groupBy("l_orderkey")
        .agg(F.max("sday").alias("end_day"))
    )
    iv = o.select(
        "o_orderkey", _day("o_orderdate").alias("start_day")
    ).join(ship, F.col("o_orderkey") == F.col("l_orderkey"))
    deltas = (
        iv.select(F.col("start_day").alias("d"), F.lit(1).alias("x"))
        .unionAll(
            iv.select(
                (F.col("end_day") + 1).alias("d"), F.lit(-1).alias("x")
            )
        )
        .groupBy("d")
        .agg(F.sum("x").alias("delta"))
    )
    span = deltas.agg(
        F.min("d").alias("dmin"), F.max("d").alias("dmax")
    )
    spine = span.select(
        F.explode(F.sequence(F.col("dmin"), F.col("dmax"))).alias("d")
    )
    dense = spine.join(deltas, "d", "left").select(
        "d", F.coalesce("delta", F.lit(0)).alias("delta")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    curve = dense.select(
        "d", F.sum("delta").over(w).alias("backlog")
    )
    mo = curve.select(
        F.floor(F.col("d") / 30).cast("long").alias("period"),
        "backlog",
    )
    return mo.groupBy("period").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.max("backlog").alias("peak_backlog"),
        F.sum("backlog").alias("backlog_day_sum"),
    )


ORACLE_SEAT_APPORTIONMENT = """
WITH rev AS (
  SELECT n_name,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
),
tot AS (SELECT SUM(rev_cents) AS total_cents FROM rev),
quota AS (
  SELECT n_name, rev_cents,
         (1000 * rev_cents) // total_cents AS base_seats,
         (1000 * rev_cents) % total_cents AS rem
  FROM rev, tot
),
used AS (SELECT SUM(base_seats) AS used_seats FROM quota)
SELECT n_name, rev_cents, base_seats,
       base_seats + CASE WHEN ROW_NUMBER() OVER (
                ORDER BY rem DESC, n_name
              ) <= 1000 - used_seats THEN 1 ELSE 0 END AS seats
FROM quota, used
ORDER BY n_name
"""


@query(
    "seat_apportionment",
    oracle=ORACLE_SEAT_APPORTIONMENT,
    bigint=("rev_cents", "base_seats", "seats"),
)
def q_seat_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment: split 1000 budget
    seats across nations proportionally to exact order-revenue cents —
    the integer allocation-under-constraint operator (quota floors +
    remainder-ranked top-up) that proportional budgeting, shard
    assignment, and sampling-quota layouts all reduce to. Everything
    is BIGINT arithmetic (seats × total_cents < 2⁶³ holds through
    ~$90T of revenue; past that the multiplier moves into
    DECIMAL(38,0)); the top-up rank runs over the 25-row nation
    relation, so the partition-free window is bounded. Deterministic
    (remainder DESC, n_name) tiebreak; Σ seats ≡ 1000 by
    construction."""
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
        .join(cu.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(na.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    tot = rev.agg(F.sum("rev_cents").alias("total_cents"))
    quota = rev.crossJoin(F.broadcast(tot)).select(
        "n_name",
        "rev_cents",
        F.expr("(1000 * rev_cents) div total_cents").alias("base_seats"),
        F.expr("(1000 * rev_cents) % total_cents").alias("rem"),
    )
    used = quota.agg(F.sum("base_seats").alias("used_seats"))
    w = Window.orderBy(F.col("rem").desc(), "n_name")
    return (
        quota.crossJoin(F.broadcast(used))
        .select(
            "n_name",
            "rev_cents",
            "base_seats",
            (
                F.col("base_seats")
                + F.when(
                    F.row_number().over(w) <= F.lit(1000) - F.col("used_seats"),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("seats"),
        )
    )


ORACLE_STATUS_CONSISTENCY_AUDIT = """
WITH per_order AS (
  SELECT l_orderkey, count(*) AS n_lines,
         count(*) FILTER (WHERE l_linestatus = 'F') AS n_f,
         count(*) FILTER (WHERE l_linestatus = 'O') AS n_o
  FROM lineitem GROUP BY l_orderkey
)
SELECT o_orderstatus,
       count(*) AS n_orders,
       count(*) FILTER (WHERE n_f = n_lines) AS n_pure_f,
       count(*) FILTER (WHERE n_o = n_lines) AS n_pure_o,
       count(*) FILTER (WHERE n_f <> n_lines AND n_o <> n_lines)
         AS n_mixed,
       count(*) FILTER (WHERE
           (o_orderstatus = 'F' AND n_f <> n_lines)
        OR (o_orderstatus = 'O' AND n_o <> n_lines)
        OR (o_orderstatus = 'P' AND (n_f = n_lines OR n_o = n_lines)))
         AS n_violating
FROM orders JOIN per_order ON o_orderkey = l_orderkey
GROUP BY o_orderstatus
"""


@query("status_consistency_audit", oracle=ORACLE_STATUS_CONSISTENCY_AUDIT)
def q_status_consistency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table status-consistency audit: does each order's header
    status agree with its line statuses? Per order one aggregate
    (n_lines / n_F / n_O), then a 3-row header-status rollup counting
    pure-F, pure-O, mixed, and rule-violating orders (an 'F' order
    with a non-F line, an 'O' order with a non-O line, a 'P' order
    that is not mixed) — the referential CONTENT audit that
    complements fk_orphans' key audit. One fact aggregate + one
    header equi-join; exact integers only."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count_if(F.col("l_linestatus") == "F").alias("n_f"),
        F.count_if(F.col("l_linestatus") == "O").alias("n_o"),
    )
    j = o.select("o_orderkey", "o_orderstatus").join(
        per_order, F.col("o_orderkey") == F.col("l_orderkey")
    )
    pure_f = F.col("n_f") == F.col("n_lines")
    pure_o = F.col("n_o") == F.col("n_lines")
    viol = (
        ((F.col("o_orderstatus") == "F") & ~pure_f)
        | ((F.col("o_orderstatus") == "O") & ~pure_o)
        | ((F.col("o_orderstatus") == "P") & (pure_f | pure_o))
    )
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count_if(pure_f).alias("n_pure_f"),
        F.count_if(pure_o).alias("n_pure_o"),
        F.count_if(~pure_f & ~pure_o).alias("n_mixed"),
        F.count_if(viol).alias("n_violating"),
    )


ORACLE_REVENUE_BRIDGE = """
WITH per_cy AS (
  SELECT o_custkey, year(o_orderdate) AS yr,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev
  FROM orders GROUP BY 1, 2
),
ymax AS (SELECT MAX(yr) AS y1 FROM per_cy),
cur AS (
  SELECT o_custkey, rev AS rev1 FROM per_cy, ymax WHERE yr = y1
),
prv AS (
  SELECT o_custkey, rev AS rev0 FROM per_cy, ymax WHERE yr = y1 - 1
),
m AS (
  SELECT COALESCE(rev1, 0) AS r1, COALESCE(rev0, 0) AS r0,
         CASE WHEN rev0 IS NULL THEN 'new'
              WHEN rev1 IS NULL THEN 'churned'
              WHEN COALESCE(rev1, 0) > COALESCE(rev0, 0) THEN 'expanded'
              WHEN COALESCE(rev1, 0) < COALESCE(rev0, 0)
                THEN 'contracted'
              ELSE 'flat' END AS bridge_class
  FROM cur FULL OUTER JOIN prv USING (o_custkey)
)
SELECT bridge_class, count(*) AS n_customers,
       SUM(r1 - r0) AS delta_cents,
       SUM(r0) AS base_cents,
       SUM(r1) AS cur_cents
FROM m GROUP BY bridge_class
"""


@query(
    "revenue_bridge",
    oracle=ORACLE_REVENUE_BRIDGE,
    bigint=("delta_cents", "base_cents", "cur_cents"),
)
def q_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue bridge (waterfall decomposition): the
    change between the two most recent data-derived years split into
    new / churned / expanded / contracted / flat customer classes,
    each contributing an exact signed cents delta — the growth
    accounting identity at REVENUE grain (growth_accounting counts
    users; this reconciles money: Σ class deltas ≡ total Δ). One
    (customer, year) collapse, a full-outer self-match on the
    customer key for the two years, exact integer deltas."""
    o = load_table(spark, sf_dir, "orders")
    per_cy = (
        o.select(
            "o_custkey",
            F.year("o_orderdate").alias("yr"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("o_custkey", "yr")
        .agg(F.sum("cents").alias("rev"))
    )
    ymax = per_cy.agg(F.max("yr").alias("y1"))
    both = per_cy.crossJoin(F.broadcast(ymax)).filter(
        (F.col("yr") == F.col("y1")) | (F.col("yr") == F.col("y1") - 1)
    )
    cur = both.filter(F.col("yr") == F.col("y1")).select(
        "o_custkey", F.col("rev").alias("rev1")
    )
    prv = both.filter(F.col("yr") == F.col("y1") - 1).select(
        F.col("o_custkey").alias("pk"), F.col("rev").alias("rev0")
    )
    m = cur.join(prv, F.col("o_custkey") == F.col("pk"), "full_outer")
    r1 = F.coalesce("rev1", F.lit(0))
    r0 = F.coalesce("rev0", F.lit(0))
    cls = (
        F.when(F.col("rev0").isNull(), F.lit("new"))
        .when(F.col("rev1").isNull(), F.lit("churned"))
        .when(r1 > r0, F.lit("expanded"))
        .when(r1 < r0, F.lit("contracted"))
        .otherwise(F.lit("flat"))
    )
    return m.groupBy(cls.alias("bridge_class")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(r1 - r0).alias("delta_cents"),
        F.sum(r0).alias("base_cents"),
        F.sum(r1).alias("cur_cents"),
    )


ORACLE_COHORT_LTV = """
WITH base AS (
  SELECT o_custkey,
         4 * year(o_orderdate)
           + (month(o_orderdate) - 1) // 3 AS qk,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
withc AS (
  SELECT o_custkey, cents, qk,
         MIN(qk) OVER (PARTITION BY o_custkey) AS cohort_q
  FROM base
),
cell AS (
  SELECT cohort_q, qk - cohort_q AS "offset",
         SUM(cents) AS rev_cents,
         count(DISTINCT o_custkey) AS n_active
  FROM withc GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_q, n_active AS cohort_size FROM cell WHERE "offset" = 0
),
cum AS (
  SELECT c.cohort_q, c."offset", c.n_active, s.cohort_size,
         SUM(c.rev_cents) OVER (PARTITION BY c.cohort_q
             ORDER BY c."offset"
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_cents
  FROM cell c JOIN sizes s USING (cohort_q)
)
SELECT cohort_q, "offset", n_active, cohort_size, cum_cents,
       CAST(cum_cents AS DOUBLE) / CAST(cohort_size AS DOUBLE)
         AS ltv_cents
FROM cum
"""


@query("cohort_ltv", oracle=ORACLE_COHORT_LTV, bigint=("cum_cents",))
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by first-order
    QUARTER, cumulative revenue per quarter offset — the
    revenue-grain twin of cohort_retention (who stays vs what they
    are worth). Quarter keys are exact integers (4·year + (month−1)
    div 3 — calendar-derived, sub-µs-jitter-immune); the cohort
    assignment is a window MIN (no self-join back to an aggregate);
    the cumulative sum runs per cohort over the bounded offset axis.
    LTV-per-customer is one double division of exact cents by the
    cohort size."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_custkey",
        F.expr(
            "4 * year(o_orderdate) + (month(o_orderdate) - 1) div 3"
        ).alias("qk"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    wc = Window.partitionBy("o_custkey")
    withc = base.select(
        "o_custkey",
        "cents",
        "qk",
        F.min("qk").over(wc).alias("cohort_q"),
    )
    cell = (
        withc.select(
            "o_custkey",
            "cents",
            "cohort_q",
            (F.col("qk") - F.col("cohort_q")).alias("offset"),
        )
        .groupBy("cohort_q", "offset")
        .agg(
            F.sum("cents").alias("rev_cents"),
            F.count_distinct("o_custkey").alias("n_active"),
        )
    )
    sizes = cell.filter(F.col("offset") == 0).select(
        "cohort_q", F.col("n_active").alias("cohort_size")
    )
    wo = Window.partitionBy("cohort_q").orderBy("offset")
    return (
        cell.join(sizes, "cohort_q")
        .select(
            "cohort_q",
            "offset",
            "n_active",
            "cohort_size",
            F.sum("rev_cents").over(wo).alias("cum_cents"),
        )
        .select(
            "cohort_q",
            "offset",
            "n_active",
            "cohort_size",
            "cum_cents",
            (
                F.col("cum_cents").cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("ltv_cents"),
        )
    )


ORACLE_MULTIRES_ROLLUP = """
WITH daily AS (
  SELECT CAST(FLOOR(epoch_us(l_shipdate) / 86400000000) AS BIGINT) AS d,
         SUM(CASE WHEN l_returnflag = 'R'
                  THEN -CAST(FLOOR(l_extendedprice * 100 + 0.5)
                             AS BIGINT)
                  ELSE CAST(FLOOR(l_extendedprice * 100 + 0.5)
                            AS BIGINT) END) AS net
  FROM lineitem GROUP BY 1
),
lv AS (SELECT lvl FROM (VALUES (1), (2), (4), (8)) t(lvl)),
roll AS (
  SELECT lv.lvl AS level, d // lv.lvl AS bucket,
         SUM(net) AS net_cents, count(*) AS n_days
  FROM daily, lv GROUP BY 1, 2
)
SELECT level, bucket, net_cents, n_days,
       CAST(net_cents AS DOUBLE) / CAST(n_days AS DOUBLE)
         AS mean_daily_cents
FROM roll
"""


@query("multires_rollup", oracle=ORACLE_MULTIRES_ROLLUP, bigint=("net_cents",))
def q_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution pyramid of the daily net-revenue series:
    levels 1/2/4/8 days, each bucket an EXACT integer sum with its
    member-day count and a double mean — the Haar-style coarsening a
    light-curve (or any time-series) store keeps per zoom level, as
    one unioned aggregate over the tiny day spine (the multires_index
    idea on the TIME axis instead of the sky). Bucket keys are
    integral div of the epoch-day (all positive: div ≡ floor on both
    engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            _day("l_shipdate").alias("d"),
            F.when(
                F.col("l_returnflag") == "R",
                -F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
                .cast("long"),
            )
            .otherwise(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
                .cast("long")
            )
            .alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").alias("net"))
    )
    levels = None
    for lvl in (1, 2, 4, 8):
        cur = daily.groupBy(
            F.lit(lvl).alias("level"),
            F.expr(f"d div {lvl}").alias("bucket"),
        ).agg(
            F.sum("net").alias("net_cents"),
            F.count(F.lit(1)).alias("n_days"),
        )
        levels = cur if levels is None else levels.unionAll(cur)
    return levels.select(
        "level",
        "bucket",
        "net_cents",
        "n_days",
        (
            F.col("net_cents").cast("double")
            / F.col("n_days").cast("double")
        ).alias("mean_daily_cents"),
    )


ORACLE_QGRAM_MATCH = """
WITH names AS (SELECT DISTINCT lower(p_name) AS nm FROM part),
ncount AS (SELECT count(*) AS n_names FROM names),
grams AS (
  SELECT DISTINCT nm, substr(nm, i, 3) AS g
  FROM names, UNNEST(range(1, greatest(length(nm) - 1, 1))) AS t(i)
  WHERE length(nm) >= 3
),
df_cut AS (
  SELECT g FROM grams, ncount
  GROUP BY g, n_names HAVING 2 * count(*) <= n_names
),
pruned AS (SELECT nm, g FROM grams JOIN df_cut USING (g)),
cand AS (
  SELECT DISTINCT a.nm AS name_a, b.nm AS name_b
  FROM pruned a JOIN pruned b USING (g)
  WHERE a.nm < b.nm
)
SELECT name_a, name_b, levenshtein(name_a, name_b) AS dist
FROM cand
WHERE levenshtein(name_a, name_b) <= 3
ORDER BY name_a, name_b
LIMIT 200
"""


@query("qgram_match", oracle=ORACLE_QGRAM_MATCH)
def q_qgram_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-gram prefiltered fuzzy string join: candidate part-name pairs
    meet ONLY through a shared character trigram (inverted-index
    equi-join — never the |names|² product), then an exact Levenshtein
    refine keeps distance ≤ 3 — the standard filter-verify shape for
    string similarity at scale (fuzzy_name_match is the composite-
    argmin twin; this one demonstrates the blocking join). The trigram
    posting lists are df-cut at 50% of names to kill stop-grams.
    Integer distances, (name_a, name_b) deterministic output."""
    p = load_table(spark, sf_dir, "part")
    names = p.select(F.lower("p_name").alias("nm")).distinct()
    ncount = names.agg(F.count(F.lit(1)).alias("n_names"))
    idx = F.when(
        F.length("nm") >= 3,
        F.sequence(F.lit(1), F.length("nm") - F.lit(2)),
    ).otherwise(F.array().cast("array<int>"))
    grams = names.select(
        "nm",
        F.explode(
            F.transform(idx, lambda i: F.substr("nm", i, F.lit(3)))
        ).alias("g"),
    ).distinct()
    df_cut = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(ncount))
        .filter(2 * F.col("df") <= F.col("n_names"))
        .select("g")
    )
    pruned = grams.join(df_cut, "g")
    cand = (
        pruned.alias("a")
        .join(pruned.alias("b"), "g")
        .filter(F.col("a.nm") < F.col("b.nm"))
        .select(
            F.col("a.nm").alias("name_a"), F.col("b.nm").alias("name_b")
        )
        .distinct()
    )
    return (
        cand.select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("dist"),
        )
        .filter(F.col("dist") <= 3)
        .orderBy("name_a", "name_b")
        .limit(200)
    )


ORACLE_ASSOC_RULES = """
WITH nb AS (
  SELECT count(DISTINCT l_orderkey) AS n_baskets FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_ab
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 3
),
item AS (
  SELECT l_partkey AS pk, count(*) AS n_i
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
  GROUP BY 1
),
directed AS (
  SELECT pa AS a, pb AS b, n_ab FROM pairs
  UNION ALL SELECT pb, pa, n_ab FROM pairs
)
SELECT d.a, d.b, d.n_ab, na.n_i AS n_a, nbi.n_i AS n_b,
       CAST(d.n_ab AS DOUBLE) / CAST(na.n_i AS DOUBLE) AS confidence,
       CAST(d.n_ab * nb.n_baskets AS DOUBLE)
         / CAST(na.n_i * nbi.n_i AS DOUBLE) AS lift
FROM directed d
JOIN item na ON na.pk = d.a
JOIN item nbi ON nbi.pk = d.b, nb
ORDER BY confidence DESC, d.a, d.b
LIMIT 25
"""


@query("assoc_rules", oracle=ORACLE_ASSOC_RULES)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules a→b from basket co-occurrence: confidence
    = n_ab/n_a and lift = n_ab·N/(n_a·n_b) over exact basket counts —
    the apriori triple completed (basket_pairs mines support, this
    ranks the directed rules). Pair counts come from the same HOF
    in-basket expansion (one fact shuffle, never a self-join); item
    supports are a second distinct-collapse aggregate; both rule
    directions emit from one pair row. Lift is a double of exact
    sub-2⁵³ cross products; top-25 by (conf DESC, a, b) with the
    exact integer tiebreak."""
    li = load_table(spark, sf_dir, "lineitem")
    # keyed spread — same rationale as basket_pairs (guide §2.5); the
    # basket relation feeds three consumers (count, pairs, item
    # supports) whose shared exchange Spark reuses
    baskets = ensure_keyed_parallelism(
        li.select("l_orderkey", "l_partkey"), "l_orderkey"
    ).groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    # the shared subtree tops out at the AGGREGATE, not an Exchange, so
    # Spark re-ran the collect_set basket build once per consumer
    # (count + pair expansion + item supports — profiled ~30 s CPU of
    # duplicate aggregation across the three stages).  Materialize the |orders|-sized basket relation once.
    # lineage-truncation tradeoff: see materialize
    baskets = materialize(baskets)
    nb = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    parts = F.col("parts")
    pair_structs = F.flatten(
        F.transform(
            parts,
            lambda x, i: F.transform(
                F.slice(parts, i + F.lit(2), F.size(parts)),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    item = (
        baskets.select(F.explode("parts").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("n_i"))
    )
    # both rule directions from one pair row
    directed = pairs.select(
        F.col("pa").alias("a"), F.col("pb").alias("b"), "n_ab"
    ).unionAll(
        pairs.select(
            F.col("pb").alias("a"), F.col("pa").alias("b"), "n_ab"
        )
    )
    na = item.select(F.col("pk").alias("a"), F.col("n_i").alias("n_a"))
    nbi = item.select(F.col("pk").alias("b"), F.col("n_i").alias("n_b"))
    # item supports are SF-linear — never force-broadcast; AQE picks
    # broadcast at driver scale and shuffle-join at 100 TB
    return (
        directed.join(na, "a")
        .join(nbi, "b")
        .crossJoin(F.broadcast(nb))
        .select(
            "a",
            "b",
            "n_ab",
            "n_a",
            "n_b",
            (
                F.col("n_ab").cast("double") / F.col("n_a").cast("double")
            ).alias("confidence"),
            (
                (F.col("n_ab") * F.col("n_baskets")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.col("confidence").desc(), "a", "b")
        .limit(25)
    )


ORACLE_PRICE_VOLUME_MIX = """
WITH base AS (
  SELECT n_name, year(o_orderdate) AS yr,
         SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS c,
         SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS q
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
),
ymax AS (SELECT MAX(yr) AS y1 FROM base),
cur AS (
  SELECT n_name, c AS c1, q AS q1 FROM base, ymax WHERE yr = y1
),
prv AS (
  SELECT n_name, c AS c0, q AS q0 FROM base, ymax WHERE yr = y1 - 1
)
SELECT n_name,
       c1 - c0 AS delta_cents,
       CAST((CAST(c0 AS HUGEINT) * (q1 - q0) * 10000) // q0
            AS BIGINT) AS volume_effect_fp4,
       CAST(((CAST(c1 AS HUGEINT) * q0 - CAST(c0 AS HUGEINT) * q1)
             * 10000) // q0 AS BIGINT) AS price_effect_fp4
FROM cur JOIN prv USING (n_name)
"""


@query(
    "price_volume_mix",
    oracle=ORACLE_PRICE_VOLUME_MIX,
    bigint=("delta_cents",),
)
def q_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume/mix decomposition of the revenue change between
    the two most recent years, per nation: revenue Δ = c₁ − c₀
    (exact cents), volume effect = c₀·(q₁−q₀)/q₀ (what Δ would be if
    only quantity moved), price effect = q₁·(c₁/q₁ − c₀/q₀)
    = (c₁·q₀ − c₀·q₁)/q₀ — the two effects sum exactly to Δ as
    rationals, and both emit as scale-4 fixed-point INTEGRAL floor
    divisions (the price_index rule: never round a division-derived
    double). The 10⁴-scaled numerators cross 2⁶³ at sf0.1, so they
    ride DECIMAL(38,0)/HUGEINT; the div result is back under 2⁵⁰.
    Identity (volume_fp + price_fp ≡ Δ·10⁴ within the two floor
    remainders) asserted in tests. One (nation, year) collapse + a
    nation-keyed self-match."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    base = (
        li.join(
            o.select(
                "o_orderkey", "o_custkey",
                F.year("o_orderdate").alias("yr"),
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cu.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(na.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            "yr",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            F.floor(F.col("l_quantity") + F.lit(0.5))
            .cast("long")
            .alias("qty"),
        )
        .groupBy("n_name", "yr")
        .agg(F.sum("cents").alias("c"), F.sum("qty").alias("q"))
    )
    # |nations|×|years| rows feeding THREE consumers (ymax, cur, prv):
    # uncut, each re-ran the 3-way fact join + aggregate (16 scans;
    # guide §1.2 re-derivation).  One materialize,
    # one fact pass.
    base = materialize(base)
    ymax = base.agg(F.max("yr").alias("y1"))
    cur = base.crossJoin(F.broadcast(ymax)).filter(
        F.col("yr") == F.col("y1")
    ).select("n_name", F.col("c").alias("c1"), F.col("q").alias("q1"))
    prv = base.crossJoin(F.broadcast(ymax)).filter(
        F.col("yr") == F.col("y1") - 1
    ).select(
        F.col("n_name").alias("nn"),
        F.col("c").alias("c0"),
        F.col("q").alias("q0"),
    )
    j = cur.join(prv, F.col("n_name") == F.col("nn"))
    return j.select(
        "n_name",
        (F.col("c1") - F.col("c0")).alias("delta_cents"),
        F.expr(
            "(CAST(c0 AS DECIMAL(38,0)) * (q1 - q0) * 10000) div q0"
        ).alias("volume_effect_fp4"),
        F.expr(
            "((CAST(c1 AS DECIMAL(38,0)) * q0"
            "  - CAST(c0 AS DECIMAL(38,0)) * q1) * 10000) div q0"
        ).alias("price_effect_fp4"),
    )


ORACLE_OHLC_WEEKLY = """
WITH daily AS (
  SELECT CAST(FLOOR(epoch_us(l_shipdate) / 86400000000) AS BIGINT)
           AS d,
         SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
)
SELECT d // 7 AS week, count(*) AS n_days,
       MIN_BY(rev, d) AS open_cents,
       MAX(rev) AS high_cents,
       MIN(rev) AS low_cents,
       MAX_BY(rev, d) AS close_cents
FROM daily GROUP BY 1
"""


@query(
    "ohlc_weekly",
    oracle=ORACLE_OHLC_WEEKLY,
    bigint=("open_cents", "high_cents", "low_cents", "close_cents"),
)
def q_ohlc_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4-style visual downsampling (Jugel et al., VLDB 2014) of the
    daily revenue series to weekly OHLC: per epoch-week the OPEN
    (first day's value), HIGH, LOW, and CLOSE (last day's value) —
    the four extrema that make a downsampled line render pixel-
    identically to the full series. First/last resolve through
    min_by/max_by on the exact day key (engine-deterministic: one
    value per day by construction); all values exact cents. One
    day-grid collapse + one week aggregate.  NULL prices excluded: an
    all-NULL day's NULL rev would flow into MIN/MAX with engine-equal
    skip semantics but min_by/max_by NULL payloads differ
    (nullmeasure)."""
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
    return (
        daily.select(F.expr("d div 7").alias("week"), "d", "rev")
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.expr("min_by(rev, d)").alias("open_cents"),
            F.max("rev").alias("high_cents"),
            F.min("rev").alias("low_cents"),
            F.expr("max_by(rev, d)").alias("close_cents"),
        )
    )


ORACLE_LATERAL_TOPK = """
SELECT n_name, t.c_name, t.bal_cents
FROM nation, LATERAL (
  SELECT c_name,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
  FROM customer
  WHERE c_nationkey = n_nationkey
  ORDER BY bal_cents DESC, c_name LIMIT 2
) t
"""


@query("lateral_topk", oracle=ORACLE_LATERAL_TOPK)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation top-2 customers by account balance via a CORRELATED
    LATERAL subquery — the SQL-surface twin of topk_per_group's
    window-function plan (Spark 4 plans the lateral LIMIT as a
    per-group TakeOrdered under a correlated join; same answer, the
    declarative form analysts actually write). Deterministic
    (c_acctbal cents DESC, c_name) order; balances emitted as exact
    cents."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "__lat_nation"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "__lat_customer"
    )
    return spark.sql(
        """
        SELECT n_name, t.c_name, t.bal_cents
        FROM __lat_nation, LATERAL (
          SELECT c_name,
                 CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
                   AS bal_cents
          FROM __lat_customer
          WHERE c_nationkey = n_nationkey
          ORDER BY bal_cents DESC, c_name LIMIT 2
        ) t
        """
    )


ORACLE_INVOICE_RECONCILIATION = """
WITH lsum AS (
  SELECT l_orderkey,
         SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
           AS line_cents
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS hdr_cents,
         line_cents,
         abs(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
             - line_cents) AS diff
  FROM orders JOIN lsum ON o_orderkey = l_orderkey
)
SELECT CASE WHEN diff = 0 THEN 'exact'
            WHEN 10000 * diff <= 100 * hdr_cents THEN 'within_1pct'
            ELSE 'beyond_1pct' END AS recon_bucket,
       count(*) AS n_orders,
       MAX(diff) AS worst_abs_diff_cents,
       SUM(diff) AS total_abs_diff_cents
FROM j GROUP BY 1
"""


@query(
    "invoice_reconciliation",
    oracle=ORACLE_INVOICE_RECONCILIATION,
    bigint=("worst_abs_diff_cents", "total_abs_diff_cents"),
)
def q_invoice_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table arithmetic reconciliation: does each order header's
    o_totalprice equal the sum of its line extended prices? Both sides
    reduce to exact cents, the comparison is pure integer, and the
    report buckets orders by signed relative deviation (exact
    10000·|diff| vs total comparisons — basis points without a float):
    exact match / within 1% / beyond — plus the worst absolute
    mismatch. The third audit family (fk_orphans = keys,
    status_consistency = categories, this = money)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lsum = (
        li.select(
            "l_orderkey",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("cents").alias("line_cents"))
    )
    j = o.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("hdr_cents"),
    ).join(lsum, F.col("o_orderkey") == F.col("l_orderkey"))
    diff = F.abs(F.col("hdr_cents") - F.col("line_cents"))
    bucket = (
        F.when(diff == 0, F.lit("exact"))
        .when(10000 * diff <= 100 * F.col("hdr_cents"), F.lit("within_1pct"))
        .otherwise(F.lit("beyond_1pct"))
    )
    return j.groupBy(bucket.alias("recon_bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max(diff).alias("worst_abs_diff_cents"),
        F.sum(diff).alias("total_abs_diff_cents"),
    )


ORACLE_GDPR_CASCADE = """
WITH req AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0)
SELECT 'customer' AS entity, CAST(count(*) AS BIGINT) AS n_rows FROM req
UNION ALL
SELECT 'orders', CAST(count(*) AS BIGINT) FROM orders
WHERE o_custkey IN (SELECT k FROM req)
UNION ALL
SELECT 'lineitem', CAST(count(*) AS BIGINT) FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT k FROM req))
UNION ALL
SELECT 'events', CAST(count(*) AS BIGINT) FROM events
WHERE user_id IN (SELECT k FROM req)
"""


@query("gdpr_cascade", oracle=ORACLE_GDPR_CASCADE)
def q_gdpr_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-impact audit (right-to-erasure dry run): a deterministic
    request set (``c_custkey % 97 = 0``) and the row counts a cascading
    delete would touch at each hop — customers, their orders, those
    orders' lineitems, their events.  The PII-pipeline primitive: know
    the blast radius BEFORE mutating 100 TB.

    Plan: each hop is one semi-join down the FK chain, counted with a
    single aggregate; only the genuinely dimension-sized request-key
    set (~1 % of CUSTOMER) broadcasts — the orders hop's key set is
    FACT-derived (~1 % of ORDERS, unbounded at 100 TB), so the
    lineitem semi-join is a plain shuffle join and AQE is free to
    pick broadcast at runtime when the hop happens to be small
    (a forced broadcast there OOMs the driver at scale).
    Counts are exact BIGINTs."""
    cu = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 97 == 0
    ).select(F.col("c_custkey").alias("k"))
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    del_orders = o.join(
        F.broadcast(cu), o["o_custkey"] == cu["k"], "left_semi"
    )
    okeys = del_orders.select(F.col("o_orderkey").alias("ok"))
    del_lines = li.join(
        okeys, li["l_orderkey"] == okeys["ok"], "left_semi"
    )
    del_events = ev.join(
        F.broadcast(cu), ev["user_id"] == cu["k"], "left_semi"
    )

    def cnt(df, entity):
        return df.agg(F.count(F.lit(1)).alias("n_rows")).select(
            F.lit(entity).alias("entity"), "n_rows"
        )

    out = cnt(cu, "customer")
    for df, name in (
        (del_orders, "orders"),
        (del_lines, "lineitem"),
        (del_events, "events"),
    ):
        out = out.unionAll(cnt(df, name))
    return out


ORACLE_MERGE_UPSERT = """
WITH tgt AS (
  SELECT c_custkey AS k,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
  FROM customer
), src AS (
  SELECT user_id AS k,
         -- non-finite purchase values fold to NULL (SUM skips),
         -- mirroring the engine (nanemb driftlab layout, r10)
         CAST(SUM(CASE WHEN event_type = 'purchase'
                  THEN CASE WHEN isfinite(value)
                       THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END
                  ELSE 0 END) AS BIGINT) AS delta_cents,
         MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS has_error
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
), merged AS (
  SELECT tgt.k AS tk, src.k AS sk, bal_cents, delta_cents, has_error
  FROM tgt FULL OUTER JOIN src ON tgt.k = src.k
), resolved AS (
  SELECT CASE
           WHEN tk IS NOT NULL AND sk IS NOT NULL AND has_error = 1
             THEN 'deleted'
           WHEN tk IS NOT NULL AND sk IS NOT NULL THEN 'updated'
           WHEN sk IS NOT NULL THEN 'inserted'
           ELSE 'unchanged' END AS action,
         CASE
           WHEN tk IS NOT NULL AND sk IS NOT NULL AND has_error = 1
             THEN 0
           WHEN tk IS NOT NULL AND sk IS NOT NULL
             THEN bal_cents + delta_cents
           WHEN sk IS NOT NULL THEN delta_cents
           ELSE bal_cents END AS bal
  FROM merged
)
SELECT action, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(bal) AS BIGINT) AS sum_balance_cents
FROM resolved GROUP BY action
"""


@query("merge_upsert", oracle=ORACLE_MERGE_UPSERT)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (the lakehouse upsert) as a declarative
    plan: a change batch derived from events applies onto the customer
    snapshot — users with an ``error`` event are DELETEs, other active
    users UPSERT their purchase-value delta, untouched customers pass
    through.  Emits the post-merge audit: per action, row count and
    total balance cents.

    Plan: the source batch is one events aggregate; target and source
    meet in a single full-outer join on the key (exactly how Delta/
    Iceberg execute MERGE: one join, per-row action resolution);
    the audit is a 4-row aggregate.  All cents ride the identical
    ``floor(x·100 + 0.5)`` integer tree on both engines.  NULL-user
    events are excluded — a MERGE key must be a key."""
    cu = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_cents"),
    )
    src = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy(F.col("user_id").alias("k"))
        .agg(
            F.sum(
                # non-finite purchase values fold to NULL (SUM skips):
                # Spark floor(double) silently maps NaN→0 / Inf→
                # Long.MAX where DuckDB's BIGINT cast hard-errors
                # (nanemb driftlab layout); the row still counts
                # for has_error, so only the junk cents are excluded
                F.when(
                    F.col("event_type") == "purchase",
                    F.when(
                        _finite("value"),
                        F.floor(F.col("value") * 100 + F.lit(0.5)).cast(
                            "long"
                        ),
                    ),
                ).otherwise(F.lit(0))
            ).alias("delta_cents"),
            F.max(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).alias("has_error"),
        )
    )
    merged = cu.withColumnRenamed("k", "tk").join(
        src.withColumnRenamed("k", "sk"),
        F.col("tk") == F.col("sk"),
        "full_outer",
    )
    action = (
        F.when(
            F.col("tk").isNotNull()
            & F.col("sk").isNotNull()
            & (F.col("has_error") == 1),
            F.lit("deleted"),
        )
        .when(
            F.col("tk").isNotNull() & F.col("sk").isNotNull(),
            F.lit("updated"),
        )
        .when(F.col("sk").isNotNull(), F.lit("inserted"))
        .otherwise(F.lit("unchanged"))
    )
    balance = (
        F.when(action == "deleted", F.lit(0))
        .when(action == "updated", F.col("bal_cents") + F.col("delta_cents"))
        .when(action == "inserted", F.col("delta_cents"))
        .otherwise(F.col("bal_cents"))
    )
    return (
        merged.select(action.alias("action"), balance.alias("bal"))
        .groupBy("action")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("bal").alias("sum_balance_cents"),
        )
    )


ORACLE_UNIQUENESS_AUDIT = """
WITH o AS (
  SELECT count(*) AS c FROM orders GROUP BY o_orderkey
), c AS (
  SELECT count(*) AS c FROM customer GROUP BY c_custkey
), e AS (
  SELECT count(*) AS c FROM events GROUP BY event_id
)
SELECT 'orders' AS entity, CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(SUM(c) - count(*) AS BIGINT) AS n_dup_rows,
       CAST(MAX(c) AS BIGINT) AS max_multiplicity
FROM o
UNION ALL
SELECT 'customer', CAST(SUM(c) AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(SUM(c) - count(*) AS BIGINT), CAST(MAX(c) AS BIGINT)
FROM c
UNION ALL
SELECT 'events', CAST(SUM(c) AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(SUM(c) - count(*) AS BIGINT), CAST(MAX(c) AS BIGINT)
FROM e
"""


@query("uniqueness_audit", oracle=ORACLE_UNIQUENESS_AUDIT)
def q_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across three tables: per declared
    key, row count, distinct key count, duplicate surplus, and the
    worst key's multiplicity — the constraint check a lake without
    enforced PKs runs before every publish (the key-integrity sibling
    of ``fk_orphans``' referential audit).

    Plan: one groupBy per table on its key (the multiplicity relation)
    followed by a 1-row re-aggregate — map-side partials do the heavy
    lifting, the shuffle carries one row per DISTINCT key.  A NULL key
    forms its own group on both engines (SQL GROUP BY semantics), so
    the nullfk layout counts identically.  All outputs exact
    integers."""
    parts = []
    for name, table, key in [
        ("orders", "orders", "o_orderkey"),
        ("customer", "customer", "c_custkey"),
        ("events", "events", "event_id"),
    ]:
        df = load_table(spark, sf_dir, table)
        per = df.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).alias("c")
        )
        parts.append(
            per.agg(
                F.sum("c").cast("long").alias("n_rows"),
                F.count(F.lit(1)).alias("n_keys"),
                F.max("c").alias("max_multiplicity"),
            ).select(
                F.lit(name).alias("entity"),
                "n_rows",
                "n_keys",
                (F.col("n_rows") - F.col("n_keys")).alias("n_dup_rows"),
                "max_multiplicity",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


ORACLE_TABLE_CHECKSUM = """
WITH oh AS (
  SELECT CAST('0x' || substr(md5(
           concat_ws('|', coalesce(CAST(o_orderkey AS VARCHAR), '~'),
                     coalesce(CAST(o_custkey AS VARCHAR), '~'),
                     coalesce(o_orderstatus, '~'),
                     coalesce(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                        AS BIGINT) AS VARCHAR), '~'),
                     coalesce(CAST(epoch_us(o_orderdate) AS VARCHAR), '~'),
                     coalesce(o_orderpriority, '~'))
         ), 1, 8) AS BIGINT) AS h
  FROM orders
), eh AS (
  SELECT CAST('0x' || substr(md5(
           concat_ws('|', coalesce(CAST(event_id AS VARCHAR), '~'),
                     coalesce(CAST(user_id AS VARCHAR), '~'),
                     coalesce(event_type, '~'),
                     -- non-finite → sentinel, mirroring the engine
                     -- (nanemb driftlab layout, r10)
                     coalesce(CASE WHEN NOT isfinite(value) THEN 'nf'
                              ELSE CAST(CAST(FLOOR(value * 100 + 0.5)
                                        AS BIGINT) AS VARCHAR) END, '~'),
                     coalesce(CAST(epoch_us(ts) AS VARCHAR), '~'))
         ), 1, 8) AS BIGINT) AS h
  FROM events
)
-- hash_sum stays HUGEINT internally and leaves as three exact BIGINT
-- limbs (engine's _limb3_bigints — wide-decimal emission is the r8
-- driver red class)
SELECT 'orders' AS entity, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(h) // 1000000000000000000 AS BIGINT) AS hash_hi,
       CAST((SUM(h) % 1000000000000000000) // 1000000000
            AS BIGINT) AS hash_mid,
       CAST(SUM(h) % 1000000000 AS BIGINT) AS hash_lo,
       CAST(MIN(h) AS BIGINT) AS hash_min,
       CAST(MAX(h) AS BIGINT) AS hash_max
FROM oh
UNION ALL
SELECT 'events', CAST(count(*) AS BIGINT),
       CAST(SUM(h) // 1000000000000000000 AS BIGINT),
       CAST((SUM(h) % 1000000000000000000) // 1000000000 AS BIGINT),
       CAST(SUM(h) % 1000000000 AS BIGINT),
       CAST(MIN(h) AS BIGINT), CAST(MAX(h) AS BIGINT)
FROM eh
"""


@query("table_checksum", oracle=ORACLE_TABLE_CHECKSUM)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table content fingerprint for replication / migration
    audits: every row hashes to a 32-bit integer through the
    cross-engine md5-hex → integer tree, and the table's checksum is
    the (count, sum, min, max) of those row hashes — two lakes agree
    on all four ⇒ near-certainly identical content, cheap to compare
    across clusters.

    Plan: ONE scan per table, all map-side (the final aggregate is
    1 row) — the checksum shuffles nothing but partial aggregates.
    Doubles are integerized (cents / epoch-µs) before entering the
    hash string; NULLs render as an explicit sentinel via coalesce so
    a NULL column cannot alias a shifted field (concat_ws would skip
    it silently).  The hash sum rides DECIMAL(38,0) INTERNALLY
    (2³²-bounded summands overflow BIGINT around 10⁹ rows) but is
    EMITTED as three exact BIGINT limbs (``_limb3_bigints``): the
    driver canonicalizer hash-splits on emitted decimals wider than
    18 digits even when values are cross-engine identical."""
    parts = []
    specs = {
        "orders": (
            "orders",
            "concat_ws('|', coalesce(cast(o_orderkey as string), '~'), "
            "coalesce(cast(o_custkey as string), '~'), "
            "coalesce(o_orderstatus, '~'), "
            "coalesce(cast(cast(floor(o_totalprice * 100 + 0.5) as bigint)"
            " as string), '~'), "
            "coalesce(cast(unix_micros(o_orderdate) as string), '~'), "
            "coalesce(o_orderpriority, '~'))",
        ),
        "events": (
            "events",
            "concat_ws('|', coalesce(cast(event_id as string), '~'), "
            "coalesce(cast(user_id as string), '~'), "
            "coalesce(event_type, '~'), "
            # non-finite values fold to an explicit sentinel so the
            # checksum still COVERS the row: Spark floor(double)
            # silently maps NaN→0 (aliasing a real 0-cent row) where
            # DuckDB's BIGINT cast hard-errors (nanemb layout)
            "coalesce(case when isnan(value)"
            " or abs(value) = cast('inf' as double) then 'nf'"
            " else cast(cast(floor(value * 100 + 0.5) as bigint)"
            " as string) end, '~'), "
            "coalesce(cast(unix_micros(ts) as string), '~'))",
        ),
    }
    for name, (table, rowexpr) in specs.items():
        df = load_table(spark, sf_dir, table)
        h = F.expr(
            f"cast(conv(substr(md5({rowexpr}), 1, 8), 16, 10) as bigint)"
        )
        agg = df.select(h.alias("h")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            # the SUMMANDS must already be decimal: a LongType sum
            # of 2³²-bounded hashes overflows (ANSI: throws) near
            # 4·10⁹ rows — casting only the result would not help
            F.sum(F.col("h").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("hash_sum"),
            F.min("h").alias("hash_min"),
            F.max("h").alias("hash_max"),
        )
        parts.append(
            agg.select(
                F.lit(name).alias("entity"),
                "n_rows",
                *_limb3_bigints("hash_sum", "hash"),
                "hash_min",
                "hash_max",
            )
        )
    return parts[0].unionAll(parts[1])


ORACLE_SET_OPS_ALL = """
WITH inter AS (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
  INTERSECT ALL
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
), exc AS (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
  EXCEPT ALL
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
)
SELECT 'intersect_all' AS label, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_keys,
       MIN(o_custkey) AS min_key, MAX(o_custkey) AS max_key
FROM inter
UNION ALL
SELECT 'except_all', CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT o_custkey) AS BIGINT),
       MIN(o_custkey), MAX(o_custkey)
FROM exc
"""


@query("set_ops_all", oracle=ORACLE_SET_OPS_ALL)
def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTISET set operations (§2.9's bag-semantics half):
    ``INTERSECT ALL`` / ``EXCEPT ALL`` over the customer-key bags of
    finished vs open orders — multiplicities survive, so 'a customer
    with 3 F-orders and 1 O-order' contributes 1 row to the
    intersection and 2 rows to the difference (the distinct-set twin
    ``set_ops`` cannot express that).  The audit collapses each result
    bag to exact counts.

    Plan: Spark's native exceptAll/intersectAll physical rewrites
    (left-anti-style aggregates on the key — one shuffle each, no
    row-by-row state).  Each bag collapses through a SCALAR aggregate
    (never groupBy(label)): a scalar agg emits its one row even when
    the bag is EMPTY — exactly like the oracle's GROUP-BY-less
    aggregates — where a groupBy would emit nothing and the row
    shapes would diverge on a dataset with an empty bag."""
    od = load_table(spark, sf_dir, "orders")
    f_bag = od.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o_bag = od.filter(F.col("o_orderstatus") == "O").select("o_custkey")

    def _collapse(bag: DataFrame, label: str) -> DataFrame:
        return bag.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("o_custkey").alias("n_keys"),
            F.min("o_custkey").alias("min_key"),
            F.max("o_custkey").alias("max_key"),
        ).select(F.lit(label).alias("label"), "*")

    return _collapse(f_bag.intersectAll(o_bag), "intersect_all").unionAll(
        _collapse(f_bag.exceptAll(o_bag), "except_all")
    )


ORACLE_FILTER_CLAUSE_AGG = """
WITH staged AS (
  SELECT c_nationkey AS nation,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS x
  FROM customer
)
SELECT nation, CAST(count(*) AS BIGINT) AS n_customers,
       CAST(count(*) FILTER (WHERE x > 0) AS BIGINT) AS n_positive,
       CAST(count(*) FILTER (WHERE x < 0) AS BIGINT) AS n_negative,
       CAST(coalesce(SUM(x) FILTER (WHERE x > 0), 0) AS BIGINT)
         AS positive_cents
FROM staged GROUP BY nation
"""


@query("filter_clause_agg", oracle=ORACLE_FILTER_CLAUSE_AGG)
def q_filter_clause_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregation surface: the oracle uses the ANSI
    ``FILTER (WHERE …)`` aggregate modifier (which Spark SQL does not
    parse); the Spark side is the equivalent CASE-WHEN aggregate tree
    — the canonical translation every Spark migration of a
    Postgres/DuckDB workload performs.  Per nation: customer count,
    positive/negative-balance counts, and the positive balance mass in
    exact cents.

    Plan: ONE aggregate pass (all four measures fold into the same
    map-side partials); 25 output rows."""
    cu = load_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    staged = cu.select(
        F.col("c_nationkey").alias("nation"), cents.alias("x")
    )
    return staged.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.when(F.col("x") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_positive"),
        F.sum(F.when(F.col("x") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_negative"),
        F.sum(F.when(F.col("x") > 0, F.col("x")).otherwise(F.lit(0)))
        .cast("long")
        .alias("positive_cents"),
    )


ORACLE_QUALIFY_LATEST = """
SELECT c_nationkey AS nation, c_custkey AS custkey,
       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
FROM customer
QUALIFY row_number() OVER (
  PARTITION BY c_nationkey
  ORDER BY CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) DESC, c_custkey
) = 1
"""


@query("qualify_latest", oracle=ORACLE_QUALIFY_LATEST)
def q_qualify_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY-clause surface: the oracle filters on a window function
    directly in the ``QUALIFY`` clause (DuckDB/Snowflake/BigQuery
    syntax that Spark SQL lacks); the Spark side is the standard
    rank-then-filter rewrite.  Picks each nation's single
    highest-balance customer, ties broken by key.

    Plan: one window over the nation partitioning (a single shuffle on
    the group key), filter rn = 1 — identical physical work to the
    QUALIFY form, which is syntax sugar over exactly this plan."""
    cu = load_table(spark, sf_dir, "customer")
    staged = cu.select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_custkey").alias("custkey"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_cents"),
    )
    w = Window.partitionBy("nation").orderBy(
        F.col("bal_cents").desc(), F.col("custkey")
    )
    return (
        staged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("nation", "custkey", "bal_cents")
    )


ORACLE_STRING_AGG_ORDERED = """
WITH ranked AS (
  SELECT c_nationkey AS nation, c_custkey AS custkey,
         row_number() OVER (
           PARTITION BY c_nationkey
           ORDER BY CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) DESC,
                    c_custkey
         ) AS rk
  FROM customer
)
SELECT nation, CAST(count(*) AS BIGINT) AS n_listed,
       string_agg(CAST(custkey AS VARCHAR), ',' ORDER BY rk) AS top5_csv
FROM ranked WHERE rk <= 5
GROUP BY nation
"""


@query("string_agg_ordered", oracle=ORACLE_STRING_AGG_ORDERED)
def q_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-sensitive string aggregation surface: the oracle uses
    ``string_agg(x, ',' ORDER BY …)`` — an ordered aggregate Spark
    does not offer (``collect_list`` order is partition-dependent).
    The deterministic rewrite: rank inside the group, keep the top 5,
    ``array_sort`` the collected (rank, key) structs, project the key
    out, ``array_join``.  Emits each nation's top-5 customer keys by
    balance as one CSV string — the \"leaderboard column\" every
    report sink wants.

    Plan: one window shuffle (rank), one groupBy whose state is ≤5
    structs per group — the rank-filter BEFORE the collect is what
    makes the aggregate state bounded at 100 TB (never collect_list
    an unbounded group)."""
    cu = load_table(spark, sf_dir, "customer")
    staged = cu.select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_custkey").alias("custkey"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_cents"),
    )
    w = Window.partitionBy("nation").orderBy(
        F.col("bal_cents").desc(), F.col("custkey")
    )
    top = staged.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 5
    )
    return top.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_listed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rk", "custkey"))
                ),
                lambda s: s["custkey"].cast("string"),
            ),
            ",",
        ).alias("top5_csv"),
    )


ORACLE_CALENDAR_GAPS = """
WITH days AS (
  SELECT DISTINCT o_orderpriority AS priority,
         CAST(FLOOR(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS d
  FROM orders
)
SELECT priority, CAST(count(*) AS BIGINT) AS n_days_present,
       CAST(max(d) - min(d) + 1 AS BIGINT) AS n_days_expected,
       CAST(max(d) - min(d) + 1 - count(*) AS BIGINT) AS n_days_missing
FROM days GROUP BY priority
"""


@query("calendar_gaps", oracle=ORACLE_CALENDAR_GAPS)
def q_calendar_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-coverage audit per order priority: how many days
    inside each group's own [first, last] span carry NO orders — the
    freshness/completeness gate a daily-ingest monitor raises before a
    partition is declared late (the reference's nightly cadence,
    ``bin/fink_start_stream``-family, makes a missing night an
    incident).

    Plan: one fact aggregate to the distinct (priority, day) spine,
    then a 5-row per-group (count, min, max) collapse — expected days
    = span+1 is pure integer arithmetic, so missing-day counts are
    exact on both engines."""
    od = load_table(spark, sf_dir, "orders")
    days = od.select(
        F.col("o_orderpriority").alias("priority"),
        _day("o_orderdate").alias("d"),
    ).distinct()
    return days.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_days_present"),
        (F.max("d") - F.min("d") + 1).alias("n_days_expected"),
        (F.max("d") - F.min("d") + 1 - F.count(F.lit(1))).alias(
            "n_days_missing"
        ),
    )


ORACLE_RELATIONAL_DIVISION = """
WITH cy AS (
  SELECT DISTINCT o_custkey AS custkey, year(o_orderdate) AS y
  FROM orders WHERE o_custkey IS NOT NULL
), divisor AS (
  SELECT count(DISTINCT y) AS n_years FROM cy
), full_cov AS (
  SELECT custkey, count(*) AS n_cust_years
  FROM cy GROUP BY custkey
  HAVING count(*) = (SELECT n_years FROM divisor)
)
SELECT CAST(count(*) AS BIGINT) AS n_full_coverage,
       MIN(custkey) AS min_custkey,
       MAX(custkey) AS max_custkey,
       CAST((SELECT n_years FROM divisor) AS BIGINT) AS n_years
FROM full_cov
"""


@query("relational_division", oracle=ORACLE_RELATIONAL_DIVISION)
def q_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational DIVISION — the classic 'for all' operator SQL lacks
    a keyword for: customers who placed an order in EVERY calendar
    year the lake covers.  Division is the set-containment query
    behind 'suppliers stocking the full catalog' / 'users active in
    every cohort window'; neither Spark nor ANSI SQL names it, so both
    sides express it as count-distinct equality against the divisor
    cardinality.

    Plan: one (custkey, year) distinct collapse, a per-customer
    distinct count, and a 1-row divisor-cardinality broadcast into the
    HAVING — the fact table is scanned once; no per-year join chain
    (the naive division is |years| stacked semi-joins).  Years need
    calendar boundaries (epoch-day floor-division cannot express
    them), so both engines extract them from the SAME normalized
    timestamp: Spark ``year()`` ≡ DuckDB ``year()``, both
    Gregorian-UTC on a µs-normalized column."""
    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull()
    )
    cy = od.select(
        F.col("o_custkey").alias("custkey"),
        F.year("o_orderdate").alias("y"),
    ).distinct()
    divisor = cy.select("y").distinct().agg(
        F.count(F.lit(1)).alias("n_years")
    )
    per = cy.groupBy("custkey").agg(F.count(F.lit(1)).alias("n_cust_years"))
    full = (
        per.crossJoin(F.broadcast(divisor))
        .filter(F.col("n_cust_years") == F.col("n_years"))
    )
    # n_years comes from the 1-row divisor, NOT from max() over the
    # surviving rows: on a lake where NO customer spans every year,
    # full is empty and max would emit NULL while the oracle's scalar
    # subquery still emits the divisor (a latent hash split)
    return (
        full.agg(
            F.count(F.lit(1)).alias("n_full_coverage"),
            F.min("custkey").alias("min_custkey"),
            F.max("custkey").alias("max_custkey"),
        )
        .crossJoin(F.broadcast(divisor))
    )


ORACLE_XOR_FINGERPRINT = """
SELECT c_nationkey AS nation, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(CAST('0x' || substr(md5(
         concat_ws('|', coalesce(CAST(c_custkey AS VARCHAR), '~'),
                   coalesce(c_name, '~'),
                   coalesce(CAST(CAST(FLOOR(c_acctbal * 100 + 0.5)
                                      AS BIGINT) AS VARCHAR), '~'),
                   coalesce(c_mktsegment, '~'))
       ), 1, 8) AS BIGINT)) AS BIGINT) AS xor_fingerprint
FROM customer GROUP BY c_nationkey
"""


@query("xor_fingerprint", oracle=ORACLE_XOR_FINGERPRINT)
def q_xor_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent XOR fingerprint per nation: every customer
    row hashes to a 32-bit integer (the cross-engine md5 tree) and the
    group fingerprint is the ``bit_xor`` fold — XOR's self-inverse
    property makes the fingerprint INCREMENTALLY MAINTAINABLE (apply
    the same XOR to add or retract a row), the property a streaming
    integrity monitor needs that ``table_checksum``'s sum lacks for
    retractions at full width.

    Plan: one scan, one groupBy carrying a single long per group —
    map-side partial XOR does almost all the work."""
    cu = load_table(spark, sf_dir, "customer")
    h = F.expr(
        "cast(conv(substr(md5(concat_ws('|',"
        " coalesce(cast(c_custkey as string), '~'),"
        " coalesce(c_name, '~'),"
        " coalesce(cast(cast(floor(c_acctbal * 100 + 0.5) as bigint)"
        "   as string), '~'),"
        " coalesce(c_mktsegment, '~'))), 1, 8), 16, 10) as bigint)"
    )
    return (
        cu.select(F.col("c_nationkey").alias("nation"), h.alias("h"))
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor("h").alias("xor_fingerprint"),
        )
    )


ORACLE_COGROUP_ASOF = """
WITH od AS (
  SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS t_us
  FROM orders WHERE o_custkey IS NOT NULL
), ev AS (
  -- finite-value domain, mirroring the engine (nanemb layout, r10)
  SELECT user_id, epoch_us(ts) AS t_us,
         MAX(CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT))
           AS cents
  FROM events
  WHERE user_id IS NOT NULL AND (value IS NULL OR isfinite(value))
  GROUP BY user_id, epoch_us(ts)
), aligned AS (
  SELECT od.user_id, ev.cents
  FROM od ASOF LEFT JOIN ev
    ON od.user_id = ev.user_id AND ev.t_us <= od.t_us
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(cents) AS BIGINT) AS n_matched,
       CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS sum_matched_cents
FROM aligned GROUP BY user_id
"""


@query("cogroup_asof", oracle=ORACLE_COGROUP_ASOF)
def q_cogroup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CoGrouped-map pandas UDF surface (the §2.12 API Spark calls
    ``groupBy().cogroup().applyInPandas``): per user, align every order
    to the LATEST event at-or-before the order date and aggregate the
    matched exact cents — the feature-backfill shape (e.g. "the user's
    last activity before each purchase") where BOTH sides of a key
    arrive as in-memory pandas frames and the alignment is a
    vectorized ``searchsorted``, not a join.

    Determinism: timestamps enter pandas as ``unix_micros`` int64
    (never datetime dtypes — Arrow unit drift can't bite); events are
    pre-collapsed declaratively to one row per (user, µs) keeping the
    max cent value, so the as-of pick is unique whatever the partition
    order; NULL keys are excluded (a cogroup key must be a key).

    The oracle is a literal DuckDB ``ASOF LEFT JOIN`` on the same
    integers — the engine-native operator this UDF re-expresses.

    Scale: the cogroup key is a 256-way md5-stable USER BUCKET, not the
    raw user id — per-user groups mean one Python/Arrow round-trip per
    user (measured 16 s at sf0.1 on 15k users; bucketed: 1.5 s), while
    inside a bucket ``pd.merge_asof(by=user)`` aligns every user
    vectorized.  Each side shuffles ONCE on the bucket; bucket state is
    Σ per-user activity over ~|users|/256 users, and a 100 TB
    deployment scales the bucket count with the lake exactly like
    ``negative_sampling``'s n_buckets knob."""
    import pandas as pd

    from fink_broker_spark.ext.pipeline import md5_bucket_expr

    # md5-stable routing (NOT pmod on the raw id: strided surrogate
    # keys — e.g. all multiples of 256 — would funnel every user into
    # one bucket and recreate the unbounded per-group frame the
    # bucketing exists to bound).  Spark-side only; the oracle output
    # is per-user and never sees the bucket.
    def _bkt(col):
        return md5_bucket_expr(col, buckets=256, salt="cga")

    od = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull())
        .select(
            F.col("o_custkey").alias("user_id"),
            F.unix_micros(F.col("o_orderdate")).alias("t_us"),
            _bkt("o_custkey").alias("bkt"),
        )
    )
    ev = (
        load_table(spark, sf_dir, "events")
        # finite-value domain (NULL kept — NULL cents max through as
        # before): Spark floor(double) silently corrupts NaN/Inf where
        # the oracle's BIGINT cast hard-errors (nanemb layout)
        .filter(
            F.col("user_id").isNotNull()
            & (F.col("value").isNull() | _finite("value"))
        )
        .select(
            "user_id",
            F.unix_micros(F.col("ts")).alias("t_us"),
            F.floor(F.col("value").cast("double") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("user_id", "t_us")
        .agg(F.max("cents").alias("cents"))
        .withColumn("bkt", _bkt("user_id"))
    )

    def align(odf: pd.DataFrame, edf: pd.DataFrame) -> pd.DataFrame:
        if odf.empty:  # bucket has events but no orders: no output rows
            return pd.DataFrame(
                {
                    "user_id": pd.Series(dtype="int64"),
                    "n_orders": pd.Series(dtype="int64"),
                    "n_matched": pd.Series(dtype="int64"),
                    "sum_matched_cents": pd.Series(dtype="int64"),
                }
            )
        left = odf.sort_values(["t_us", "user_id"]).reset_index(drop=True)
        if edf.empty:
            left["cents"] = pd.Series(dtype="float64")
        else:
            right = edf.sort_values(["t_us", "user_id"]).reset_index(
                drop=True
            )
            left = pd.merge_asof(
                left,
                right[["user_id", "t_us", "cents"]],
                on="t_us",
                by="user_id",
                direction="backward",
            )
        g = left.groupby("user_id", sort=False)
        out = pd.DataFrame(
            {
                "n_orders": g.size(),
                "n_matched": g["cents"].count(),
                "sum_matched_cents": g["cents"].sum().fillna(0),
            }
        ).reset_index()
        out["n_orders"] = out["n_orders"].astype("int64")
        out["n_matched"] = out["n_matched"].astype("int64")
        out["sum_matched_cents"] = out["sum_matched_cents"].astype("int64")
        return out[
            ["user_id", "n_orders", "n_matched", "sum_matched_cents"]
        ]

    # pin the cogrouped Python stage at core width (guide §4): AQE's byte-based coalescing squeezed the
    # 256-bucket Arrow stage to 4 tasks (profiled 6.9 s CPU / 4 tasks)
    # while its cost is per-row pandas work, not bytes; a user
    # repartition on the bucket key is never coalesced and its
    # HashPartitioning satisfies the cogroup clustering — no second
    # exchange.  Guarded no-op when the inputs are already wide.
    od = ensure_keyed_parallelism(od, "bkt")
    ev = ensure_keyed_parallelism(ev, "bkt")
    return (
        od.groupBy("bkt")
        .cogroup(ev.groupBy("bkt"))
        .applyInPandas(
            align,
            "user_id long, n_orders long, n_matched long, "
            "sum_matched_cents long",
        )
    )


ORACLE_WINDOW_EXCLUDE_CURRENT = """
WITH base AS (
  SELECT o_orderkey, o_custkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              OVER (PARTITION BY o_custkey) AS BIGINT) AS s,
         COUNT(*) OVER (PARTITION BY o_custkey) AS n
  FROM orders WHERE o_totalprice IS NOT NULL
)
SELECT o_orderkey, o_custkey, cents,
       CASE WHEN n > 1
            THEN CAST(s - cents AS DOUBLE) / CAST(n - 1 AS DOUBLE) END
         AS loo_avg,
       CAST(cents AS DOUBLE)
         - (CASE WHEN n > 1
                 THEN CAST(s - cents AS DOUBLE) / CAST(n - 1 AS DOUBLE) END)
         AS delta_vs_peers
FROM base
"""


@query("window_exclude_current", oracle=ORACLE_WINDOW_EXCLUDE_CURRENT)
def q_window_exclude_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out peer baseline: each order compared against the
    average of the SAME customer's OTHER orders — the window
    ``EXCLUDE CURRENT ROW`` idiom (DuckDB/pg syntax; Spark lacks the
    clause) re-expressed portably as ``(sum − current) / (count − 1)``.

    Plan: ONE window shuffle on the customer key carrying sum and count
    together; the exclusion is pure per-row arithmetic, so the plan is
    identical to a plain windowed average — no self-join, no second
    shuffle (the naive EXCLUDE rewrite is an O(n²)-per-key self-join).
    NULL-priced rows are excluded on both engines (nullmeasure parity).
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    w = Window.partitionBy("o_custkey")
    base = o.select(
        "o_orderkey", "o_custkey", cents.alias("cents")
    ).select(
        "o_orderkey",
        "o_custkey",
        "cents",
        F.sum("cents").over(w).alias("__s"),
        F.count(F.lit(1)).over(w).alias("__n"),
    )
    loo = F.when(
        F.col("__n") > 1,
        (F.col("__s") - F.col("cents")).cast("double")
        / (F.col("__n") - F.lit(1)).cast("double"),
    )
    return base.select(
        "o_orderkey",
        "o_custkey",
        "cents",
        loo.alias("loo_avg"),
        (F.col("cents").cast("double") - loo).alias("delta_vs_peers"),
    )
