"""Queries over the ``events`` table: per-user windows, sessionization,
funnels and cohorts, time conversion, fan-out and semi-structured
values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fink_broker_spark.core.time import (
    jd_expr,
    mjd_expr,
    nanos_to_micros,
    night_partition_cols,
)
from fink_broker_spark.operators.relational import (
    dedup_exact,
    last_per_key,
    top_k_per_group,
)
from fink_broker_spark.plans.partitioning import (
    ensure_keyed_parallelism,
    ensure_scan_parallelism,
)
from fink_broker_spark.queries.common import _day, _dec, _finite
from fink_broker_spark.queries.registry import query
from fink_broker_spark.sources.parquet import load_table


ORACLE_EVENT_TYPE_STATS = """
SELECT event_type, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,9))), 2) AS DOUBLE) AS sum_value,
       min(epoch_us(ts)) AS min_ts_us,
       max(epoch_us(ts)) AS max_ts_us
FROM events
GROUP BY event_type
"""


@query("event_type_stats", oracle=ORACLE_EVENT_TYPE_STATS)
def q_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly-statistics shape: group count + distinct + extrema
    (``bin/ztf/archive_statistics.py:98-133``)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", nanos_to_micros("ts_ns")
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum(_dec("value")), 2).cast("double").alias("sum_value"),
        F.min("ts_us").alias("min_ts_us"),
        F.max("ts_us").alias("max_ts_us"),
    )


ORACLE_CONDITIONAL_RECODE = """
SELECT CASE WHEN event_type = 'purchase' THEN 'buy'
            WHEN event_type IN ('click','view') THEN 'browse'
            ELSE 'other' END AS action,
       count(*) AS n
FROM events GROUP BY 1
"""


@query("conditional_recode", oracle=ORACLE_CONDITIONAL_RECODE)
def q_conditional_recode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``when/otherwise`` recode (``ztf/science.py:102-154`` family)."""
    ev = load_table(spark, sf_dir, "events")
    recoded = (
        F.when(F.col("event_type") == "purchase", F.lit("buy"))
        .when(F.col("event_type").isin("click", "view"), F.lit("browse"))
        .otherwise(F.lit("other"))
    )
    return ev.select(recoded.alias("action")).groupBy("action").agg(
        F.count(F.lit(1)).alias("n")
    )


ORACLE_LAST_EVENT = """
SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
FROM (
  SELECT *, max(epoch_us(ts)) OVER (PARTITION BY user_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS mx
  FROM events
) WHERE epoch_us(ts) = mx
"""


@query("last_event_per_user", oracle=ORACLE_LAST_EVENT)
def q_last_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded window max + equality filter — the reference's batch
    dedup (``rubin/hbase_utils.py:679-686``)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", nanos_to_micros("ts_ns")
    )
    return last_per_key(ev, "user_id", "ts_us").select(
        "user_id", "ts_us", "event_id", "event_type"
    )


ORACLE_TOPK_PER_GROUP = """
SELECT event_type, event_id, value, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type
             ORDER BY value DESC NULLS LAST, event_id ASC) AS rnk
  FROM events
) WHERE rnk <= 3
"""


@query("topk_per_group", oracle=ORACLE_TOPK_PER_GROUP)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group top-k via ``row_number``."""
    ev = load_table(spark, sf_dir, "events")
    out = top_k_per_group(
        ev,
        ["event_type"],
        [F.desc_nulls_last("value"), F.asc("event_id")],
        3,
        rank_col="rnk",
    )
    return out.select(
        "event_type", "event_id", "value", F.col("rnk").cast("int").alias("rnk")
    )


ORACLE_DEDUP_EXACT = """
SELECT user_id, event_type, min(event_id) AS first_event_id
FROM events GROUP BY user_id, event_type
"""


@query("dedup_exact", oracle=ORACLE_DEDUP_EXACT)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with deterministic keep-min representative
    (``ztf/tracklet_identification.py:329`` made reproducible)."""
    ev = load_table(spark, sf_dir, "events")
    return dedup_exact(
        ev, ["user_id", "event_type"], representative="event_id"
    ).withColumnRenamed("event_id", "first_event_id")


ORACLE_JD = """
SELECT event_id, epoch_us(ts) AS ts_us,
       epoch_us(ts) / 86400000000.0 + 2440587.5 AS jd,
       (epoch_us(ts) / 86400000000.0 + 2440587.5) - 2400000.5 AS mjd
FROM events
"""


@query("jd_conversion", oracle=ORACLE_JD)
def q_jd_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jd/mjd ⇄ time conversions as native exprs
    (``common/partitioning.py:26-105`` without the pandas UDFs)."""
    ev = load_table(spark, sf_dir, "events")
    us = nanos_to_micros("ts_ns")
    return ev.select(
        "event_id",
        us.alias("ts_us"),
        jd_expr(us).alias("jd"),
        mjd_expr(us).alias("mjd"),
    )


ORACLE_NIGHT_PARTITIONS = """
SELECT CAST(year(ts) AS INTEGER) AS year, CAST(month(ts) AS INTEGER) AS month,
       CAST(day(ts) AS INTEGER) AS day, count(*) AS n
FROM events GROUP BY 1, 2, 3
"""


@query("night_partitions", oracle=ORACLE_NIGHT_PARTITIONS)
def q_night_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month/day partition derivation (``bin/ztf/stream2raw.py:154-158``)."""
    ev = load_table(spark, sf_dir, "events")
    parts = night_partition_cols("ts")
    return (
        ev.select(
            parts["year"].alias("year"),
            parts["month"].alias("month"),
            parts["day"].alias("day"),
        )
        .groupBy("year", "month", "day")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_INDEX_BUCKETS = """
WITH keyed AS (
  SELECT lpad(right(CAST(event_id AS VARCHAR), 3), 3, '0') AS salt_bucket,
         concat_ws('_', lpad(right(CAST(event_id AS VARCHAR), 3), 3, '0'),
                   CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR)) AS rowkey
  FROM events
)
SELECT salt_bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(rowkey) AS min_key,
       max(rowkey) AS max_key
FROM keyed GROUP BY salt_bucket
"""


@query("index_buckets", oracle=ORACLE_INDEX_BUCKETS)
def q_index_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full serving-index build (``bin/ztf/archive_index.py:47-296``
    via ``archive/index_tables.build_index_table``): flatten/cast plan,
    salt bucket, composite rowkey, bucket-partitioned sort — summarized
    per bucket (count + min/max rowkey, i.e. exactly the parquet
    min/max stats a prefix scan prunes on)."""
    from fink_broker_spark.archive.index_tables import build_index_table

    ev = load_table(spark, sf_dir, "events")
    table = build_index_table(
        ev,
        flatten_plan={
            "event_id": ("event_id", "bigint"),
            "user_id": ("user_id", "bigint"),
            "value": ("value", "double"),
        },
        key_cols=["event_id", "user_id"],
    )
    return table.groupBy("salt_bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("rowkey").alias("min_key"),
        F.max("rowkey").alias("max_key"),
    )


ORACLE_SET_OPS = """
SELECT user_id, 'both' AS label FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
  INTERSECT
  SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
UNION ALL
SELECT user_id, 'buy_only' AS label FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
  EXCEPT
  SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
"""


@query("set_ops", oracle=ORACLE_SET_OPS)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT over derived key sets (§2.9: free Spark ops)."""
    ev = load_table(spark, sf_dir, "events")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    erroring = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    both = buyers.intersect(erroring).withColumn("label", F.lit("both"))
    only_buy = buyers.exceptAll(erroring).withColumn("label", F.lit("buy_only"))
    return both.unionByName(only_buy)


ORACLE_MAP_RECODE = """
SELECT CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
            WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4 ELSE -1 END AS type_code,
       count(*) AS n
FROM events GROUP BY 1
"""


@query("map_recode", oracle=ORACLE_MAP_RECODE)
def q_map_recode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``create_map`` literal lookup with null fallback — the CATS
    class-id remap idiom (``rubin/science.py:329-351``)."""
    ev = load_table(spark, sf_dir, "events")
    codes = F.create_map(
        F.lit("click"), F.lit(1),
        F.lit("view"), F.lit(2),
        F.lit("purchase"), F.lit(3),
        F.lit("signup"), F.lit(4),
    )
    return (
        ev.select(
            F.coalesce(codes[F.col("event_type")], F.lit(-1)).alias("type_code")
        )
        .groupBy("type_code")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SESSION_GAP_US = 30 * 60 * 1000000  # 30 minutes


ORACLE_SESSIONS = f"""
WITH g AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id) AS prev_us
  FROM events
)
SELECT user_id,
       CAST(SUM(CASE WHEN prev_us IS NULL
                      OR ts_us - prev_us > {SESSION_GAP_US} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sessions,
       count(*) AS n_events
FROM g GROUP BY user_id
"""


@query("session_window_lag", oracle=ORACLE_SESSIONS)
def q_session_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag window: a session break is a >30 min gap."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", nanos_to_micros("ts_ns")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gapped = ev.withColumn("prev_us", F.lag("ts_us").over(w))
    breaks = F.when(
        F.col("prev_us").isNull()
        | (F.col("ts_us") - F.col("prev_us") > SESSION_GAP_US),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        gapped.withColumn("brk", breaks)
        .groupBy("user_id")
        .agg(
            F.sum("brk").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", F.col("n_sessions").cast("bigint").alias("n_sessions"), "n_events")
    )


ORACLE_SESSION_NATIVE = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS t FROM events
), d AS (
  SELECT user_id, event_id, t,
         CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
                   > {SESSION_GAP_US} THEN 1 ELSE 0 END AS brk
  FROM e
), s AS (
  SELECT user_id, event_id, t,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
)
SELECT user_id,
       CAST(min(t) AS BIGINT) AS start_us,
       CAST(max(t) + {SESSION_GAP_US} AS BIGINT) AS end_us,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(event_id) AS BIGINT) AS first_event,
       CAST(max(event_id) AS BIGINT) AS last_event
FROM s GROUP BY user_id, sid
"""


@query("session_native", oracle=ORACLE_SESSION_NATIVE)
def q_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third sessionizer: Spark's native ``session_window`` (engine-side
    window merging, watermark-aware in streaming — the recommended plan
    when only session aggregates are needed). Boundary semantics match
    the lag twin: sessions break only when the gap is strictly
    exceeded; ``session_end = last_event + gap``. Timestamps exposed as
    epoch micros for the oracle."""
    from fink_broker_spark.streaming.sessions import sessionize

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("ts_us", nanos_to_micros("ts_ns"))
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .select("user_id", "event_id", "ts")
    )
    sess = sessionize(
        ev,
        "user_id",
        "ts",
        "30 minutes",
        aggs={
            "n_events": F.count(F.lit(1)).alias("n_events"),
            "first_event": F.min("event_id"),
            "last_event": F.max("event_id"),
        },
    )
    return sess.select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "n_events",
        "first_event",
        "last_event",
    )


ORACLE_SESSION_DYNAMIC_GAP = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS t,
         CASE WHEN event_type = 'error' THEN 600000000
              ELSE 2700000000 END AS g
  FROM events
), d AS (
  SELECT user_id, event_id, t, g,
         MAX(t + g) OVER (PARTITION BY user_id ORDER BY t, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prior_end
  FROM e
), s AS (
  SELECT user_id, event_id, t, g,
         SUM(CASE WHEN prior_end IS NULL OR t > prior_end
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
)
SELECT user_id,
       CAST(min(t) AS BIGINT) AS start_us,
       CAST(max(t + g) AS BIGINT) AS end_us,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(event_id) AS BIGINT) AS first_event
FROM s GROUP BY user_id, sid
"""


@query("session_dynamic_gap", oracle=ORACLE_SESSION_DYNAMIC_GAP)
def q_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` with a DYNAMIC per-event gap (errors
    time out in 10 minutes, everything else in 45) — the Spark-only
    capability the fixed-gap twins can't express: each event extends
    its session by its own gap, so a session's end is the running max
    of ``t + gap(event)``. The oracle mirrors that exactly with a
    1-preceding running-max islands construction (break when the event
    starts after every previous event's extension)."""
    gap_col = F.when(
        F.col("event_type") == "error", F.lit("10 minutes")
    ).otherwise(F.lit("45 minutes"))
    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("ts_us", nanos_to_micros("ts_ns"))
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .select("user_id", "event_id", "event_type", "ts")
    )
    sess = (
        ev.groupBy(
            F.col("user_id"), F.session_window(F.col("ts"), gap_col)
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event"),
        )
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("start_us"),
            F.unix_micros("session_window.end").alias("end_us"),
            "n_events",
            "first_event",
        )
    )
    return sess


@query("session_applyinpandas", oracle=ORACLE_SESSIONS)
def q_session_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same sessionization, computed imperatively per user group with
    ``applyInPandas`` (§2.12 grouped-map surface) — must match the
    declarative window answer exactly."""
    import pandas as pd

    # keyed spread (guide §2.5/§4): the grouped-map exchange is sized by
    # BYTES under AQE and coalesced to ONE post-shuffle task at bench
    # scale (profiled: 5.2 s single-task Python stage) — but the stage's
    # cost is per-row Python/Arrow work, not bytes.  The pinned
    # HashPartitioning(user_id) satisfies the grouped-map clustering
    # (no second exchange) and holds the Python stage at core width;
    # no-op when the scan already has ≥ cores splits.
    from fink_broker_spark.plans.partitioning import ensure_keyed_parallelism

    ev = ensure_keyed_parallelism(
        load_table(spark, sf_dir, "events")
        .withColumn("ts_us", nanos_to_micros("ts_ns"))
        .select("user_id", "event_id", "ts_us"),
        "user_id",
    )

    def sessions(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts_us", "event_id"])
        gaps = pdf["ts_us"].diff()
        n_sessions = int((gaps.isna() | (gaps > SESSION_GAP_US)).sum())
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_sessions": [n_sessions],
                "n_events": [len(pdf)],
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        sessions, "user_id bigint, n_sessions bigint, n_events bigint"
    )


ORACLE_NIGHTLY_STATS = """
SELECT count(*) AS n_total,
       count(*) FILTER (event_type = 'purchase') AS n_purchase,
       count(*) FILTER (event_type = 'error') AS n_error,
       count(*) FILTER (value >= 500.0) AS n_high_value,
       count(DISTINCT user_id) AS n_distinct_user_id,
       count(DISTINCT event_type) AS n_distinct_event_type,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,9))), 2) AS DOUBLE) AS sum_value
FROM events
"""


@query("nightly_stats", oracle=ORACLE_NIGHTLY_STATS)
def q_nightly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row nightly statistics in a single scan
    (``bin/ztf/archive_statistics.py:93-141`` without one action per
    counter)."""
    from fink_broker_spark.archive.statistics import nightly_statistics

    ev = load_table(spark, sf_dir, "events")
    out = nightly_statistics(
        ev,
        filtered_counts={
            "n_purchase": F.col("event_type") == "purchase",
            "n_error": F.col("event_type") == "error",
            "n_high_value": F.col("value") >= 500.0,
        },
        distinct_counts=["user_id", "event_type"],
        sums={"sum_value_dec": _dec("value")},
    )
    return out.select(
        "n_total", "n_purchase", "n_error", "n_high_value",
        "n_distinct_user_id", "n_distinct_event_type",
        F.round(F.col("sum_value_dec"), 2).cast("double").alias("sum_value"),
    )


ORACLE_ENRICH_PIPELINE = """
SELECT CAST(year(ts) * 10000 + month(ts) * 100 + day(ts) AS INTEGER) AS night,
       CAST(floor(value / 100.0) AS BIGINT) AS value_bucket,
       count(*) AS n,
       min(epoch_us(ts) / 86400000000.0 + 2440587.5) AS min_jd
FROM events
-- finite-value domain, mirroring the engine (nanemb layout, r10)
WHERE value IS NULL OR isfinite(value)
GROUP BY 1, 2
"""


@query("enrich_pipeline", oracle=ORACLE_ENRICH_PIPELINE)
def q_enrich_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The science-module pipeline shape (``ztf/science.py:201-436``) on
    the events stream: ordered processors, temp-column lifecycle,
    missing-input skip — all pure Column exprs here (zero Arrow
    boundaries).

    Domain: finite values only (NULL rows kept — their bucket stays a
    NULL group, as before): Spark's floor(double) silently corrupts
    NaN/Inf where DuckDB's BIGINT cast hard-errors (nanemb driftlab
    layout)."""
    from fink_broker_spark.enrich.pipeline import EnrichmentPipeline, Processor

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNull() | _finite("value"))
        .withColumn("ts_us", nanos_to_micros("ts_ns"))
    )
    pipe = EnrichmentPipeline(
        processors=[
            Processor("jd", ["ts_us"], "jd", lambda c: jd_expr(F.col(c))),
            Processor(
                "night",
                ["ts"],
                "night",
                lambda c: (
                    F.year(c) * 10000 + F.month(c) * 100 + F.dayofmonth(c)
                ).cast("int"),
            ),
            Processor(
                "value_bucket",
                ["value"],
                "value_bucket",
                lambda c: F.floor(F.col(c) / 100.0).cast("long"),
            ),
            Processor(
                "tmp_flag", ["event_type"], "tmp_flag",
                lambda c: F.col(c) == "error", temporary=True,
            ),
            Processor(
                "skipped_missing", ["no_such_col"], "never_made",
                lambda c: F.lit(0),
            ),
        ]
    )
    out = pipe.apply(ev)
    return out.groupBy("night", "value_bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("jd").alias("min_jd"),
    )


ORACLE_SCD2_HISTORY = """
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events
), chg AS (
  SELECT *, lag(event_type) OVER (PARTITION BY user_id
             ORDER BY ts_us, event_id) AS prev
  FROM ev
)
SELECT user_id, event_type, ts_us AS valid_from_us,
       lead(ts_us) OVER (PARTITION BY user_id
            ORDER BY ts_us, event_id) AS valid_to_us
FROM chg
WHERE prev IS NULL OR prev <> event_type
"""


@query("scd2_history", oracle=ORACLE_SCD2_HISTORY)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) fold of a change stream: each
    user's event_type run-length-encodes into validity intervals
    [valid_from_us, valid_to_us), open interval = NULL. The reference
    stores only last-state (HBase upsert semantics,
    ``rubin/hbase_utils.py:677-691``); a training-data lake needs the
    full history. Two window passes partitioned by user — shuffle once
    on user_id, both windows reuse the same partitioning (one Exchange
    in the plan)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        nanos_to_micros("ts_ns").alias("ts_us"),
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    chg = ev.withColumn("prev", F.lag("event_type").over(w)).filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    return (
        chg.withColumn("valid_to_us", F.lead("ts_us").over(w))
        .select(
            "user_id",
            "event_type",
            F.col("ts_us").alias("valid_from_us"),
            "valid_to_us",
        )
    )


ORACLE_CDC_FOLD = """
SELECT user_id, CAST(net_dec AS DOUBLE) AS net_value, n_add, n_sub
FROM (
  SELECT user_id,
         ROUND(SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,9))
                        WHEN event_type = 'error'
                        THEN -CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,9))
                        ELSE CAST(0 AS DECIMAL(18,9)) END), 2) AS net_dec,
         COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_add,
         COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_sub
  FROM events GROUP BY user_id
) WHERE net_dec <> 0
"""


@query("cdc_fold", oracle=ORACLE_CDC_FOLD)
def q_cdc_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture fold: signed deltas (purchase +value,
    error −value, rest 0) net out per user; only users with a non-zero
    net survive. One map-side-combinable aggregate over the log — the
    upsert-free way to maintain a running account from an append-only
    stream, exact in DECIMAL."""
    ev = load_table(spark, sf_dir, "events")
    delta = (
        F.when(F.col("event_type") == "purchase", _dec("value"))
        .when(F.col("event_type") == "error", -_dec("value"))
        .otherwise(F.lit(0).cast("decimal(18,9)"))
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.round(F.sum(delta), 2).alias("net_dec"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
                "n_add"
            ),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("n_sub"),
        )
        .filter(F.col("net_dec") != 0)
        .select(
            "user_id",
            F.col("net_dec").cast("double").alias("net_value"),
            "n_add",
            "n_sub",
        )
    )


ORACLE_MULTIMODAL = """
SELECT event_id AS media_id,
       CAST(octet_length(encode(props)) AS INTEGER) AS n_bytes,
       sha256(props) AS content_sha256
FROM events
"""


@query("multimodal_features", oracle=ORACLE_MULTIMODAL)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload plumbing (cutout struct family,
    ``bin/ztf/distribute.py:89-95``): pack → audit columns. Length and
    sha256 are JVM built-ins over the packed bytes (``mapInPandas`` is
    reserved for the actual feature extraction, which can't be pruned
    inside a Python batch fn — see ``ext/multimodal.extract_features``,
    covered in pytest). The oracle checks the relational surface."""
    from fink_broker_spark.ext.multimodal import pack_media

    # left UNSPREAD: a §2.5 round-robin spread of the
    # events scan measured SLOWER warm (0.21 → 0.35 s interleaved A/B at
    # sf0.1) — the exchange moves the binary payload itself, which costs
    # more than parallelizing the cheap sha256; the driver's 3.17 s
    # sample was a contention spike (0.27 s on a quiet host)
    ev = load_table(spark, sf_dir, "events")
    media = pack_media(
        ev, "event_id", F.col("props").cast("binary"), kind="blob"
    )
    return media.select(
        "media_id",
        F.col("media.n_bytes").alias("n_bytes"),
        F.sha2(F.col("media.data"), 256).alias("content_sha256"),
    )


ORACLE_SERIALIZE_ROUNDTRIP = """
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
FROM events
"""


@query("serialize_roundtrip", oracle=ORACLE_SERIALIZE_ROUNDTRIP)
def q_serialize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire-format round-trip: struct-wrap → serialize → decode → flatten.

    The reference's distribute protocol (``common/distribution_utils.py:
    33-140``): all columns wrapped into one struct, serialized to a binary
    ``value`` with the schema carried alongside as the message ``key``,
    then decoded back and flattened with ``decoded.*``
    (``bin/ztf/stream2raw.py:112-127``). Avro is the production codec
    (``pyspark.sql.avro.functions``); this container lacks the spark-avro
    datasource jar, so the JSON codec exercises the identical
    schema-as-key protocol (see ``fink_broker_spark/sinks/kafka.py`` for
    the gated Avro path). Round-trip is bit-exact for doubles (shortest
    round-trip rendering).
    """
    from fink_broker_spark.sinks.kafka import distribution_cast_plan

    ev = load_table(spark, sf_dir, "events")
    # spread the single-split scan (guide §2.5): the per-row
    # to_json/from_json codec ran in the scan stage's one task
    # (profiled 1.25 s single-task save stage); guarded no-op on a
    # wide lake.
    staged = ensure_scan_parallelism(
        ev.select(
            "event_id",
            "ts",
            F.struct(F.col("user_id"), F.col("event_type")).alias("meta"),
            F.array(F.col("value")).alias("history"),
        )
    )
    planned = distribution_cast_plan(staged)
    wrapped = planned.select(F.struct(*planned.columns).alias("payload"))
    schema_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in wrapped.select("payload.*").schema.fields
    )
    wire = wrapped.select(
        F.to_json("payload").alias("value"),
        F.lit(schema_ddl).alias("key"),
    )
    decoded = wire.select(
        F.from_json("value", schema_ddl).alias("decoded")
    ).select("decoded.*")
    # flatten for the oracle: the string-cast timestamp is compared as
    # parsed-back epoch micros (string rendering differs across engines)
    return decoded.select(
        "event_id",
        F.unix_micros(F.to_timestamp("ts")).alias("ts_us"),
        F.col("meta.user_id").alias("user_id"),
        F.col("meta.event_type").alias("event_type"),
        F.element_at("history", 1).alias("value"),
    )


ORACLE_EXPLODE_OUTER = """
WITH per_user AS (
  SELECT user_id,
         list_sort(list(event_id) FILTER (WHERE event_type = 'purchase'
                                            AND user_id % 7 <> 0))
           AS purchases
  FROM events GROUP BY user_id
), exploded AS (
  SELECT user_id, unnest(purchases) AS purchase_id FROM per_user
  WHERE len(purchases) > 0
  UNION ALL
  -- DuckDB's filtered list() yields NULL (not []) when nothing matches
  SELECT user_id, NULL FROM per_user
  WHERE purchases IS NULL OR len(purchases) = 0
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(purchase_id) AS BIGINT) AS n_purchases
FROM exploded GROUP BY user_id
"""


@query("explode_outer_nulls", oracle=ORACLE_EXPLODE_OUTER)
def q_explode_outer_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving explode: users whose (possibly empty) purchase
    array still yields a row — ``explode_outer`` vs plain ``explode``,
    the upper-limit row-preservation idiom of the reference's index
    tables (``bin/ztf/archive_index.py`` isNull-after-explode). Every
    7th user's array is emptied by construction so the null-preserving
    branch provably fires (every user in the lake has purchases —
    without this the explode/explode_outer distinction would be
    vacuous)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("user_id") % 7 != 0),
                    F.col("event_id"),
                )
            )
        ).alias("purchases")
    )
    exploded = per_user.select(
        "user_id", F.explode_outer("purchases").alias("purchase_id")
    )
    return exploded.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("purchase_id").alias("n_purchases"),
    )


ORACLE_PIVOT_RECODE = """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
FROM events GROUP BY user_id
"""


@query("pivot_recode", oracle=ORACLE_PIVOT_RECODE)
def q_pivot_recode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): per-user event-type counts as columns.
    Spark's ``pivot`` with an explicit value list compiles to one
    aggregation with conditional counts — the same single-shuffle plan
    the CASE-based oracle spells out (an implicit-pivot would add a
    distinct-values job; the explicit list keeps it one pass)."""
    ev = load_table(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(F.col(k), F.lit(0)).cast("bigint").alias(f"n_{k}") for k in kinds],
        )
    )


ORACLE_RANGE_FRAME = """
WITH staged AS (
  SELECT event_id, user_id,
         CAST(epoch_us(ts) // 1000000 AS BIGINT) AS ts_s,
         CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,9)) AS val
  FROM events
)
SELECT event_id, user_id,
       CAST(count(*) OVER w AS BIGINT) AS n_trailing_1h,
       CAST(ROUND(SUM(val) OVER w, 2) AS DOUBLE) AS sum_trailing_1h
FROM staged
WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


@query("range_frame_window", oracle=ORACLE_RANGE_FRAME)
def q_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE-frame sliding aggregate: each event sees its
    user's trailing-1-hour event count and decimal-exact value sum —
    the moving-average family tumbling windows can't express (every row
    gets its own trailing horizon, not a shared bucket). RANGE frames
    over epoch seconds; count is frame-size-exact under ties because
    RANGE includes all peer rows."""
    ev = load_table(spark, sf_dir, "events")
    staged = ev.select(
        "event_id",
        "user_id",
        F.floor(nanos_to_micros("ts_ns") / 1000000).cast("bigint").alias("ts_s"),
        F.col("value").cast("decimal(18,9)").alias("val"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-3600, Window.currentRow)
    )
    return staged.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_trailing_1h"),
        F.round(F.sum("val").over(w), 2).cast("double").alias("sum_trailing_1h"),
    )


ORACLE_FILTER_FANOUT = """
SELECT 'errors_low' AS topic, count(*) AS n,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,9))), 2) AS DOUBLE) AS sum_value
FROM events WHERE event_type = 'error' AND value < 10.0
UNION ALL
SELECT 'high_value', count(*),
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,9))), 2) AS DOUBLE)
FROM events WHERE value > 75.0
UNION ALL
SELECT 'purchases', count(*),
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,9))), 2) AS DOUBLE)
FROM events WHERE event_type = 'purchase'
"""


@query("filter_fanout", oracle=ORACLE_FILTER_FANOUT)
def q_filter_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribute-stage fan-out (``bin/ztf/distribute.py:47-50,167-200``):
    named boolean filters, one substream per filter, all sharing one
    upstream scan; here each substream reduces to (topic, n, sum) so the
    fan-out result is one small union."""
    from fink_broker_spark.distribute.fanout import FilterRegistry, fan_out

    ev = load_table(spark, sf_dir, "events")
    reg = (
        FilterRegistry()
        .register("high_value", lambda df: F.col("value") > 75.0)
        .register("purchases", lambda df: F.col("event_type") == "purchase")
        .register(
            "errors_low",
            lambda df: (F.col("event_type") == "error")
            & (F.col("value") < 10.0),
        )
    )
    parts = fan_out(
        ev,
        reg,
        sink=lambda topic, fdf: fdf.agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(_dec("value")), 2).cast("double").alias("sum_value"),
        ).select(F.lit(topic).alias("topic"), "n", "sum_value"),
    )
    out = None
    for name in sorted(parts):
        out = parts[name] if out is None else out.unionByName(parts[name])
    return out


ORACLE_JSON_EXTRACT = """
SELECT event_type, count(*) AS n,
       CAST(SUM(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k,
       MAX(CAST(props ->> 'k' AS INTEGER)) AS max_k
FROM events GROUP BY event_type
"""


@query("json_extract", oracle=ORACLE_JSON_EXTRACT)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull a typed field out of a JSON
    string column and aggregate on it (web-corpus metadata columns are
    exactly this shape; JVM-side ``get_json_object``, no UDF)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("k").cast("bigint")).alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


ORACLE_VARIANT_JSON = """
SELECT event_type AS vtype, count(*) AS n,
       CAST(SUM(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k,
       MAX(event_id) AS max_event_id
FROM events GROUP BY event_type
"""


@query("variant_json", oracle=ORACLE_VARIANT_JSON)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``VariantType`` semi-structured path (``parse_json`` →
    binary variant → typed ``variant_get`` with nested/array paths).

    At 100 TB this is the modern replacement for per-access
    ``get_json_object`` string re-parsing: the document parses ONCE into
    the binary variant encoding and every path extraction reads the
    encoded form — the difference compounds with extraction count. The
    document here is synthesized from typed columns (integers only, so
    the JSON rendering is engine-independent) and carries a nested
    object plus an array to exercise ``$.meta.k`` and ``$.ids[1]``
    paths. The oracle computes straight from the source columns —
    identical results prove extraction round-trips the values exactly."""
    ev = load_table(spark, sf_dir, "events")
    # spread the single-split scan (guide §2.5): parse_json + 3
    # variant_gets per row are the heaviest per-row CPU in the suite's
    # JSON family and ran in the scan stage's one task (profiled 3.2 s
    # single-task stage); guarded no-op on a wide lake.
    ev = ensure_scan_parallelism(
        ev.select("props", "event_type", "user_id", "event_id")
    )
    doc = F.concat(
        F.lit('{"meta": '),
        F.col("props"),
        F.lit(', "type": "'),
        F.col("event_type"),
        F.lit('", "ids": ['),
        # a NULL user_id renders as JSON null — concat would otherwise
        # null the whole document and silently drop the row into a NULL
        # variant group (nullfk driftlab layout)
        F.coalesce(F.col("user_id").cast("string"), F.lit("null")),
        F.lit(", "),
        F.col("event_id").cast("string"),
        F.lit("]}"),
    )
    v = F.parse_json(doc)
    flat = ev.select(
        F.variant_get(v, "$.type", "string").alias("vtype"),
        F.variant_get(v, "$.meta.k", "int").alias("k"),
        F.variant_get(v, "$.ids[1]", "bigint").alias("eid"),
    )
    return flat.groupBy("vtype").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("k").cast("bigint")).alias("sum_k"),
        F.max("eid").alias("max_event_id"),
    )


ORACLE_MALFORMED_RECORDS = """
WITH staged AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 7 = 0 THEN 'x{' || props ELSE props END AS raw
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN json_valid(raw) THEN 0 ELSE 1 END) AS BIGINT) AS n_malformed,
       CAST(SUM(CASE WHEN json_valid(raw)
                     THEN CAST(raw ->> 'k' AS BIGINT) ELSE NULL END) AS BIGINT)
         AS sum_k_valid
FROM staged GROUP BY event_type
"""


@query("malformed_records", oracle=ORACLE_MALFORMED_RECORDS)
def q_malformed_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record tolerance (the decode-stage contract: a bad
    alert must not kill the night). JSON is corrupted deterministically
    for every 7th event (leading garbage — Spark's Jackson parser
    forgives trailing bytes but not a broken prefix); ``from_json`` in
    PERMISSIVE mode yields NULL structs that are counted and
    quarantined declaratively — no try/except, no UDF, the scan keeps
    streaming."""
    ev = load_table(spark, sf_dir, "events")
    staged = ev.select(
        "event_id",
        "event_type",
        F.when(
            F.col("event_id") % 7 == 0, F.concat(F.lit("x{"), F.col("props"))
        )
        .otherwise(F.col("props"))
        .alias("raw"),
    )
    decoded = staged.select(
        "event_id",
        "event_type",
        F.from_json(
            "raw",
            "k int, _corrupt_record string",
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("parsed"),
    )
    return decoded.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(
            F.col("parsed._corrupt_record").isNotNull()
        ).alias("n_malformed"),
        F.sum(F.col("parsed.k").cast("bigint")).alias("sum_k_valid"),
    )


ORACLE_HISTORY_ARRAYS = """
SELECT user_id,
       len(hist) AS n_events,
       list_max(list_transform(hist, x -> x.value)) AS max_value,
       len(list_filter(hist, x -> x.value > 90.0)) AS n_high,
       hist[-1].value AS last_value
FROM (
  SELECT user_id,
         list(struct_pack(ts := ts, event_id := event_id, value := value)
              ORDER BY epoch_us(ts), event_id) AS hist
  FROM events GROUP BY user_id
)
"""


@query("history_arrays", oracle=ORACLE_HISTORY_ARRAYS)
def q_history_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-object history arrays — the reference's core data shape
    (``prv_candidates: array<struct>``, §1.1): build each user's ordered
    event history with ``collect_list(struct)`` + ``sort_array``, then
    process it with array HOFs (``transform``/``filter``/``array_max``/
    ``element_at``), exactly the idiom of ``rubin/hbase_utils.py:
    1124-1142`` and the SSO aggregation (``compute_ephemerides.py:57-77``).
    One shuffle on the object key; history stays packed in the row."""
    ev = load_table(spark, sf_dir, "events")
    hist = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("hist")
    )
    values = F.transform("hist", lambda x: x["value"])
    return hist.select(
        "user_id",
        F.size("hist").cast("bigint").alias("n_events"),
        F.array_max(values).alias("max_value"),
        F.size(
            F.filter("hist", lambda x: x["value"] > 90.0)
        ).cast("bigint").alias("n_high"),
        F.element_at("hist", -1)["value"].alias("last_value"),
    )


ORACLE_NULL_SEMANTICS = """
WITH staged AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 5 = 0 THEN NULL ELSE user_id % 10 END AS bucket
  FROM events
), counts AS (
  SELECT event_type, bucket, count(*) AS n_bucket
  FROM staged GROUP BY 1, 2
)
SELECT s.event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(s.bucket) AS BIGINT) AS n_nonnull,
       CAST(SUM(COALESCE(s.bucket, -1)) AS BIGINT) AS sum_coalesced,
       CAST(SUM(s.bucket) AS BIGINT) AS sum_ignorenull,
       CAST(SUM(c.n_bucket) AS BIGINT) AS sum_peers
FROM staged s JOIN counts c
  ON s.event_type = c.event_type AND s.bucket IS NOT DISTINCT FROM c.bucket
GROUP BY s.event_type
"""


@query("null_semantics", oracle=ORACLE_NULL_SEMANTICS)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL null-semantics contract: NULLs injected deterministically,
    then counted through the aisles where engines disagree if they're
    sloppy — count(*) vs count(col), null-safe equality join
    (``<=>`` / ``IS NOT DISTINCT FROM``), coalesce fallback, and
    sum-ignores-null — all per event_type."""
    ev = load_table(spark, sf_dir, "events")
    staged = ev.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 5 == 0, None)
        .otherwise(F.col("user_id") % 10)
        .alias("bucket"),
    )
    # null-safe self-match: how many OTHER rows of the same type share
    # the bucket under <=> (NULL pairs with NULL)
    counts = staged.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n_bucket")
    )
    joined = staged.alias("s").join(
        counts.alias("c"),
        (F.col("s.event_type") == F.col("c.event_type"))
        & F.col("s.bucket").eqNullSafe(F.col("c.bucket")),
    )
    return joined.groupBy("s.event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("s.bucket").alias("n_nonnull"),
        F.sum(F.coalesce(F.col("s.bucket"), F.lit(-1)).cast("bigint")).alias(
            "sum_coalesced"
        ),
        F.sum(F.col("s.bucket").cast("bigint")).alias("sum_ignorenull"),
        F.sum(F.col("c.n_bucket").cast("bigint")).alias("sum_peers"),
    )


ORACLE_DETERMINISTIC_IDS = """
SELECT event_id,
       substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-' || substr(h, 13, 4)
         || '-' || substr(h, 17, 4) || '-' || substr(h, 21, 12) AS row_uuid
FROM (
  -- concat_ws, not ||: Spark's concat_ws SKIPS null parts (and their
  -- separator) while || null-propagates — a NULL user_id must hash the
  -- same way on both engines (nullfk driftlab layout, r6)
  SELECT event_id,
         md5(concat_ws('|', CAST(event_id AS VARCHAR),
                       CAST(user_id AS VARCHAR), event_type)) AS h
  FROM events
)
"""


@query("deterministic_ids", oracle=ORACLE_DETERMINISTIC_IDS)
def q_deterministic_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Injectable determinism (§7.3 hard part 5): content-derived
    UUID-shaped ids replace ``uuid()`` so results oracle-diff; same row →
    same id on any engine."""
    from fink_broker_spark.core.determinism import deterministic_uuid

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        deterministic_uuid("event_id", "user_id", "event_type").alias("row_uuid"),
    )


ORACLE_RESAMPLE_FILL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, value AS day_value
  FROM (
    SELECT user_id, ts, event_id, value,
           row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                              ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
    FROM events WHERE user_id < 20
  ) WHERE rn = 1
),
grid AS (
  SELECT user_id, CAST(UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
                                              CAST(d1 AS TIMESTAMP),
                                              INTERVAL 1 DAY)) AS DATE) AS day
  FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
        FROM daily GROUP BY user_id)
)
SELECT g.user_id, g.day,
       last_value(d.day_value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
       d.day_value IS NULL AS is_gap
FROM grid g LEFT JOIN daily d
  ON g.user_id = d.user_id AND g.day = d.day
"""


@query("resample_fill", oracle=ORACLE_RESAMPLE_FILL)
def q_resample_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key time-series resampling to a daily grid with forward
    fill — the light-curve regularization every astronomy feature
    extractor wants (the reference consumes irregular per-object
    epochs, e.g. ``fink_broker/science.py`` magnitude histories) and
    the gap-filling step of any training-data timeline.

    Three declarative stages, no UDF: (1) collapse to one value per
    (user, day) — last observation wins, ties broken by event_id via
    one row_number window; (2) build each user's calendar with
    ``sequence(min_day, max_day)`` + explode — the grid is generated
    where the data lives, never on the driver; (3) forward-fill with
    ``last(value, ignorenulls=True)`` over an unbounded-preceding
    window. Shuffles: one per window partition key (user) and the
    grid join — all on the same key, so AQE coalesces. Gap rows keep
    ``is_gap = true`` for downstream masking.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id", "day").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    daily = (
        ev.select("user_id", F.to_date("ts").alias("day"), "ts", "event_id",
                  "value")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "day", F.col("value").alias("day_value"))
    )
    grid = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.sequence("d0", "d1")).alias("day"),
        )
    )
    fillw = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, on=["user_id", "day"], how="left")
        .select(
            "user_id",
            "day",
            F.last("day_value", ignorenulls=True).over(fillw).alias("value"),
            F.col("day_value").isNull().alias("is_gap"),
        )
    )


ORACLE_PHASE_FOLD = """
WITH f AS (
  -- double-% = POSITIVE mod, mirroring Spark's pmod: a bare % keeps
  -- the dividend's sign, which flips the fold for pre-1970 epochs
  -- (epoch68 driftlab layout) — a phase must live in [0, period)
  SELECT event_type,
         CAST((((epoch_us(ts) % 86400000000 + 86400000000)
                 % 86400000000) * 8) // 86400000000 AS INT)
             AS phase_bin,
         value
  FROM events
)
SELECT event_type, phase_bin, count(*) AS n,
       CAST(ROUND(CAST(SUM(CAST(CASE WHEN isfinite(value)
          THEN round(value, 9) END AS DECIMAL(18,9)))
                 AS DECIMAL(28,9)), 2) AS DOUBLE) / count(*)
           AS mean_value
FROM f
GROUP BY event_type, phase_bin
"""


@query("phase_fold", oracle=ORACLE_PHASE_FOLD)
def q_phase_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-folded light-curve binning (``operators/timeseries.py:
    phase_fold``): fold the event stream on a 1-day trial period into 8
    phase bins per event type — the variable-star folding shape behind
    the reference's downstream classifier features. Bin assignment is
    exact integer-microsecond modular arithmetic (bit-identical across
    engines); per-bin means are decimal-exact."""
    from fink_broker_spark.operators.timeseries import phase_fold

    ev = load_table(spark, sf_dir, "events")
    folded = phase_fold(ev, "ts", period_s=86_400, nbins=8)
    return (
        folded.groupBy("event_type", "phase_bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # scale-9 summand round: rounding a double AT the scale
            # where the data can sit on halves (scale 6 for generator-
            # quantized values) splits engines — Spark rounds the exact
            # binary expansion, DuckDB rounds with float ops. Three
            # guard digits put the decision point far from the data's
            # half-boundaries (driftlab 'boundary' layout regression)
            F.sum(F.round("value", 9).cast("decimal(18,9)"))
            .cast("decimal(28,9)")
            .alias("sum_value"),
        )
        .select(
            "event_type",
            "phase_bin",
            "n",
            # DOUBLE division of exact operands, not DECIMAL/BIGINT:
            # DuckDB divides decimals in double while Spark divides
            # exactly with HALF_UP (see mean_logp note).
            # Scale-2 round first: wide-decimal → double double-rounds
            # in DuckDB once the unscaled value outgrows 2^53
            (F.round("sum_value", 2).cast("double") / F.col("n"))
            .alias("mean_value"),
        )
    )


ORACLE_INTERPOLATE_EPHEMERIS = """
WITH obs AS (
  SELECT user_id AS k, epoch_us(ts) AS t, 1 AS is_obs,
         CAST(NULL AS DOUBLE) AS rv, event_id
  FROM events WHERE event_type = 'click'
),
ref AS (
  SELECT user_id AS k, epoch_us(ts) AS t, 0 AS is_obs,
         CAST(value AS DOUBLE) AS rv, CAST(NULL AS BIGINT) AS event_id
  FROM events WHERE event_type = 'view'
),
u AS (SELECT * FROM obs UNION ALL SELECT * FROM ref),
ann AS (
  SELECT *,
    last_value(rv IGNORE NULLS) OVER w_back AS prev_val,
    last_value(CASE WHEN is_obs = 0 AND rv IS NOT NULL THEN t END
               IGNORE NULLS) OVER w_back AS prev_ts,
    first_value(rv IGNORE NULLS) OVER w_fwd AS next_val,
    first_value(CASE WHEN is_obs = 0 AND rv IS NOT NULL THEN t END
                IGNORE NULLS) OVER w_fwd AS next_ts
  FROM u
  WINDOW
    w_back AS (PARTITION BY k ORDER BY t, is_obs, rv
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_fwd AS (PARTITION BY k ORDER BY t, is_obs, rv
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_id, k AS user_id,
       CASE
         WHEN prev_ts IS NULL THEN next_val
         WHEN next_ts IS NULL OR next_ts = prev_ts THEN prev_val
         ELSE prev_val + (next_val - prev_val)
              * (CAST(t - prev_ts AS DOUBLE)
                 / CAST(next_ts - prev_ts AS DOUBLE))
       END AS interp_value
FROM ann WHERE is_obs = 1
"""


@query("interpolate_ephemeris", oracle=ORACLE_INTERPOLATE_EPHEMERIS)
def q_interpolate_ephemeris(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of LINEAR INTERPOLATION (``operators/timeseries.py:
    interpolate_at``) — the ephemeris-evaluation shape of SSO
    enrichment: each 'click' observation gets the 'view' series value
    interpolated at its exact timestamp, per user. Union+window plan:
    ONE shuffle on the key, no join, O(1) window state per row (the
    running bracketing sample), clamped (not extrapolated) outside the
    reference range. Per-row double interpolation is order-free; the
    hash compares the RAW double (driftlab boundary-layout evidence:
    a terminal decimal(18,6) cast splits engines when a clamped row
    returns an endpoint sitting on a scale-6 half — Spark rounds the
    exact binary expansion HALF_UP, DuckDB rounds with float ops)."""
    from fink_broker_spark.operators.timeseries import interpolate_at

    ev = load_table(spark, sf_dir, "events")
    obs = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    ref = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    out = interpolate_at(obs, ref, "user_id", "ts", "value")
    return out.select(
        "event_id",
        "user_id",
        # raw double: the interp op tree is IDENTICAL on both sides
        # (exact integer-µs operands → correctly-rounded IEEE ops), so
        # the doubles are bit-equal; BOTH terminal round(double, 6)
        # AND a decimal(18,6) cast are engine-splitting on
        # half-boundary data (driftlab boundary layout: clamped rows
        # surface endpoint values on scale-6 halves)
        F.col("interp_value"),
    )


_PERIODOGRAM_PERIODS = [3_600, 21_600, 86_400, 604_800]


def _periodogram_oracle() -> str:
    two_pi = 6.283185307179586
    # double-% = POSITIVE mod (pmod twin): a bare % goes negative on
    # pre-1970 epochs — mathematically the trig agrees by periodicity,
    # but the libm ARGUMENTS would differ and parity would then hang
    # on the scale-7 round absorbing the ulp gap (epoch68 driftlab)
    arms = ",\n         ".join(
        f"{{'period_s': {p}, 'angle': (CAST((epoch_us(ts) % {p * 1_000_000}"
        f" + {p * 1_000_000}) % {p * 1_000_000} "
        f"AS DOUBLE) / {float(p * 1_000_000)}) * {two_pi}}}"
        for p in _PERIODOGRAM_PERIODS
    )
    return f"""
WITH expanded AS (
  SELECT event_type, value, unnest([
         {arms}
       ]) AS pf
  FROM events
),
terms AS (
  SELECT event_type, pf.period_s AS period_s,
         -- isfinite guard mirrors Spark's double→decimal cast, which
         -- NULLs NaN/Inf where this cast hard-errors (nanemb, r10)
         CAST(CASE WHEN isfinite(value)
              THEN round(value * cos(pf.angle), 7) END
              AS DECIMAL(18,7)) AS c,
         CAST(CASE WHEN isfinite(value)
              THEN round(value * sin(pf.angle), 7) END
              AS DECIMAL(18,7)) AS s
  FROM expanded
),
sums AS (
  SELECT event_type, period_s, count(*) AS n,
         CAST(SUM(c) AS DECIMAL(28,7)) AS sc,
         CAST(SUM(s) AS DECIMAL(28,7)) AS ss
  FROM terms GROUP BY event_type, period_s
)
SELECT event_type, period_s, n,
       CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
       + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) AS power
FROM sums
"""


@query("periodogram_power", oracle=_periodogram_oracle())
def q_periodogram_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical periodogram power at four literal trial periods per
    event type (``operators/timeseries.py:periodogram``) — the
    period-search primitive of variable-star pipelines. Grid explode
    (constant fan-out) + ONE (key, period) shuffle of decimal-rounded
    sin/cos terms; the phase angle is integer-pmod-reduced BEFORE the
    trig call so large-epoch libm drift cannot split the engines."""
    from fink_broker_spark.operators.timeseries import periodogram

    ev = load_table(spark, sf_dir, "events")
    out = periodogram(
        ev, "event_type", "ts", "value", _PERIODOGRAM_PERIODS
    )
    return out.select(
        F.col("k").alias("event_type"), "period_s", "n", "power"
    )


ORACLE_DATA_QUALITY_REPORT = """
WITH agg AS (
  SELECT count(*) AS n_rows,
         count(event_id) AS nn_event_id,
         count(user_id) AS nn_user_id,
         count(value) AS nn_value,
         count(event_type) AS nn_event_type,
         count(DISTINCT event_id) AS d_event_id,
         count(DISTINCT user_id) AS d_user_id,
         count(DISTINCT event_type) AS d_event_type,
         min(value) AS min_value,
         max(value) AS max_value,
         CAST(SUM(CAST(CASE WHEN isfinite(value)
          THEN round(value, 9) END AS DECIMAL(18,9)))
              AS DECIMAL(28,9)) AS sum_value
  FROM events
),
stacked AS (
  SELECT * FROM (
    SELECT 'event_id' AS column_name, n_rows,
           n_rows - nn_event_id AS n_nulls, d_event_id AS n_distinct,
           min_value, max_value, sum_value, nn_value FROM agg
    UNION ALL
    SELECT 'user_id', n_rows, n_rows - nn_user_id, d_user_id,
           min_value, max_value, sum_value, nn_value FROM agg
    UNION ALL
    SELECT 'event_type', n_rows, n_rows - nn_event_type, d_event_type,
           min_value, max_value, sum_value, nn_value FROM agg
    UNION ALL
    SELECT 'value', n_rows, n_rows - nn_value, CAST(NULL AS BIGINT),
           min_value, max_value, sum_value, nn_value FROM agg
  )
)
SELECT column_name, n_rows, n_nulls, n_distinct,
       CASE WHEN column_name = 'value' THEN min_value END AS min_value,
       CASE WHEN column_name = 'value' THEN max_value END AS max_value,
       CASE WHEN column_name = 'value'
            THEN CAST(ROUND(sum_value, 2) AS DOUBLE) / nn_value END
           AS mean_value
FROM stacked
"""


@query("data_quality_report", oracle=ORACLE_DATA_QUALITY_REPORT)
def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality constraint metrics in ONE aggregate
    pass (the pre-training validation gate a pipeline runs before
    admitting a day's data): per tracked column — completeness (null
    count), exact distinctness, and for numerics the min/max envelope
    and a decimal-exact mean. All metrics ride a single scan + single
    (map-side-partial) aggregate; ``count_distinct`` over several
    columns expands map-side, never re-scans. Output is long-form
    (column, metric, value) so new checks append rows, not columns."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("event_id").alias("nn_event_id"),
        F.count("user_id").alias("nn_user_id"),
        F.count("value").alias("nn_value"),
        F.count("event_type").alias("nn_event_type"),
        F.count_distinct("event_id").alias("d_event_id"),
        F.count_distinct("user_id").alias("d_user_id"),
        F.count_distinct("event_type").alias("d_event_type"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        # scale-9 summand round (3 guard digits — see q_phase_fold)
        F.sum(F.round("value", 9).cast("decimal(18,9)"))
        .cast("decimal(28,9)")
        .alias("sum_value"),
    )
    # round the scale-9 sum to scale 2 first (wide-decimal → double
    # double-rounds in DuckDB once the unscaled value outgrows 2^53 —
    # see q_promo_revenue), then double division of exact operands
    mean_value = (
        F.round("sum_value", 2).cast("double") / F.col("nn_value")
    )
    stacked = agg.select(
        F.expr(
            """stack(4,
              'event_id',  n_rows - nn_event_id,  d_event_id,
              'user_id',   n_rows - nn_user_id,   d_user_id,
              'event_type',n_rows - nn_event_type,d_event_type,
              'value',     n_rows - nn_value,     CAST(NULL AS BIGINT)
            ) AS (column_name, n_nulls, n_distinct)"""
        ),
        "n_rows",
        F.col("min_value").alias("mn"),
        F.col("max_value").alias("mx"),
        mean_value.alias("mean_v"),
    )
    return stacked.select(
        "column_name",
        "n_rows",
        "n_nulls",
        "n_distinct",
        F.when(F.col("column_name") == "value", F.col("mn")).alias(
            "min_value"
        ),
        F.when(F.col("column_name") == "value", F.col("mx")).alias(
            "max_value"
        ),
        F.when(F.col("column_name") == "value", F.col("mean_v")).alias(
            "mean_value"
        ),
    )


ORACLE_FANOUT_SINGLE_PASS = """
-- DuckDB dayofweek is 0-based Sunday=0 (Spark is 1-based Sunday=1);
-- HAVING mirrors groupBy's no-rows-no-group semantics for any filter
-- that matches nothing at a given scale
SELECT 'purchases' AS topic, count(*) AS n_rows,
       count(DISTINCT user_id) AS n_users
FROM events WHERE event_type = 'purchase' HAVING count(*) > 0
UNION ALL
SELECT 'high_value', count(*), count(DISTINCT user_id)
FROM events WHERE value >= 900.0 HAVING count(*) > 0
UNION ALL
SELECT 'weekend', count(*), count(DISTINCT user_id)
FROM events WHERE dayofweek(ts) IN (0, 6) HAVING count(*) > 0
"""


@query("fanout_single_pass", oracle=ORACLE_FANOUT_SINGLE_PASS)
def q_fanout_single_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass multi-topic distribution accounting
    (``distribute/fanout.py:fan_out_single_pass``): every registered
    topic predicate evaluated in ONE scan, rows exploded into their
    matching topics (fan-out ∝ matches, no shuffle/join before the
    per-topic aggregate) — versus the reference's one-query-per-topic
    distribute stage that re-scans the archive per topic. Oracle is
    the UNION of the per-filter counts, which is exactly what N
    separate scans would have produced."""
    from fink_broker_spark.distribute.fanout import (
        FilterRegistry,
        fan_out_single_pass,
    )

    ev = load_table(spark, sf_dir, "events")
    reg = (
        FilterRegistry()
        .register("purchases", lambda df: F.col("event_type") == "purchase")
        .register("high_value", lambda df: F.col("value") >= 900.0)
        .register(
            "weekend",
            lambda df: F.dayofweek("ts").isin(1, 7),
        )
    )
    routed = fan_out_single_pass(ev, reg, topic_col="topic")
    return routed.groupBy("topic").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )


_FUNNEL_WINDOW_US = 7 * 86_400_000_000  # 7 days


ORACLE_FUNNEL_CONVERSION = f"""
WITH e AS (
  -- NULL users excluded on both sides (see q_funnel_conversion)
  SELECT user_id, epoch_us(ts) AS t, event_type FROM events
  WHERE user_id IS NOT NULL
),
s1 AS (
  SELECT user_id, min(t) AS t1 FROM e
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(t) AS t2
  FROM e JOIN s1 USING (user_id)
  WHERE event_type = 'click' AND t > t1
    AND t <= t1 + {_FUNNEL_WINDOW_US}
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(t) AS t3
  FROM e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
  WHERE event_type = 'purchase' AND t > t2
    AND t <= t1 + {_FUNNEL_WINDOW_US}
  GROUP BY e.user_id
),
per_user AS (
  SELECT u.user_id,
         CASE WHEN s3.t3 IS NOT NULL THEN 3
              WHEN s2.t2 IS NOT NULL THEN 2
              WHEN s1.t1 IS NOT NULL THEN 1
              ELSE 0 END AS stage
  FROM (SELECT DISTINCT user_id FROM e) u
  LEFT JOIN s1 USING (user_id)
  LEFT JOIN s2 USING (user_id)
  LEFT JOIN s3 USING (user_id)
)
SELECT stage, count(*) AS n_users FROM per_user GROUP BY stage
"""


@query("funnel_conversion", oracle=ORACLE_FUNNEL_CONVERSION)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey funnel (view → click → purchase within 7 days):
    per user, the first view starts the clock, the first later click
    and the first later purchase inside the window advance the stage;
    output is users per deepest-stage-reached.

    Plan: ONE groupBy(user) collecting the sorted (t, type) event
    array, then a per-row ``aggregate`` HOF walks the sequence in
    codegen — no self-joins, no N-stage join chain (the naive funnel
    is stage-count joins over the fact table). All timestamps are
    exact integer microseconds, so the oracle (min-over-qualifying
    formulation) matches bit-for-bit. At 100 TB: shuffle ∝ events,
    per-user state = that user's event list (sessions-bounded); for
    heavy hitters pre-aggregate per (user, day) first."""
    ev = load_table(spark, sf_dir, "events")
    # an unidentified (NULL-FK) user has no journey: groupBy would
    # otherwise merge ALL anonymous events into one pseudo-user funnel
    # while the oracle's equality joins drop them (nullfk driftlab
    # layout) — excluded explicitly on both sides
    staged = ev.filter(F.col("user_id").isNotNull()).select(
        "user_id",
        F.struct(
            F.unix_micros(F.col("ts")).alias("t"),
            F.col("event_type").alias("et"),
        ).alias("e"),
    )
    walked = (
        staged.groupBy("user_id")
        .agg(F.array_sort(F.collect_list("e")).alias("seq"))
        .select(
            "user_id",
            F.aggregate(
                "seq",
                F.struct(
                    F.lit(None).cast("long").alias("t1"),
                    F.lit(None).cast("long").alias("t2"),
                    F.lit(None).cast("long").alias("t3"),
                ),
                lambda acc, e: F.struct(
                    F.when(
                        acc["t1"].isNull() & (e["et"] == "view"), e["t"]
                    )
                    .otherwise(acc["t1"])
                    .alias("t1"),
                    F.when(
                        acc["t1"].isNotNull()
                        & acc["t2"].isNull()
                        & (e["et"] == "click")
                        & (e["t"] > acc["t1"])
                        & (e["t"] <= acc["t1"] + F.lit(_FUNNEL_WINDOW_US)),
                        e["t"],
                    )
                    .otherwise(acc["t2"])
                    .alias("t2"),
                    F.when(
                        acc["t2"].isNotNull()
                        & acc["t3"].isNull()
                        & (e["et"] == "purchase")
                        & (e["t"] > acc["t2"])
                        & (e["t"] <= acc["t1"] + F.lit(_FUNNEL_WINDOW_US)),
                        e["t"],
                    )
                    .otherwise(acc["t3"])
                    .alias("t3"),
                ),
            ).alias("s"),
        )
    )
    stage = (
        F.when(F.col("s.t3").isNotNull(), 3)
        .when(F.col("s.t2").isNotNull(), 2)
        .when(F.col("s.t1").isNotNull(), 1)
        .otherwise(0)
    )
    return walked.select(stage.alias("stage")).groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_users")
    )


ORACLE_COHORT_RETENTION = f"""
WITH staged AS (
  SELECT user_id, epoch_us(ts) AS t,
         CAST(min(epoch_us(ts)) OVER (PARTITION BY user_id)
              // {7 * 86_400_000_000} AS INT) AS cohort_week
  FROM events
)
SELECT cohort_week,
       CAST(t // {7 * 86_400_000_000} AS INT) - cohort_week
           AS week_offset,
       count(DISTINCT user_id) AS n_users
FROM staged
GROUP BY cohort_week, CAST(t // {7 * 86_400_000_000} AS INT) - cohort_week
"""


@query("cohort_retention", oracle=ORACLE_COHORT_RETENTION)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    counted as retained in each later week they act again — the
    standard growth-analytics rollup.

    Plan: the cohort week comes from an unbounded ``min`` WINDOW over
    the user partition (no self-join back to a min-aggregate — one
    shuffle on user serves both the cohort assignment and, reused by
    the sort-free aggregation that follows, the distinct count), then
    one groupBy((cohort_week, week_offset), countDistinct(user)).
    Week arithmetic is exact integer µs division by a constant."""
    ev = load_table(spark, sf_dir, "events")
    wk_us = 7 * 86_400_000_000
    staged = (
        ev.select("user_id", F.unix_micros(F.col("ts")).alias("t"))
        .withColumn(
            "cohort_week",
            F.expr(
                f"CAST(min(t) OVER (PARTITION BY user_id)"
                f" DIV {wk_us} AS INT)"
            ),
        )
        .withColumn(
            "week_offset",
            F.expr(f"CAST(t DIV {wk_us} AS INT) - cohort_week"),
        )
    )
    return staged.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("n_users")
    )


ORACLE_EVENT_TRANSITIONS = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type, event_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
),
totals AS (SELECT prev_type, sum(n) AS n_from FROM trans GROUP BY prev_type)
SELECT prev_type, event_type, n, n_from,
       CAST(n AS DOUBLE) / n_from AS p
FROM trans JOIN totals USING (prev_type)
"""


@query(
    "event_transitions",
    oracle=ORACLE_EVENT_TRANSITIONS,
    bigint=("n_from",),
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over each user's
    time-ordered event stream (``lag`` window): how often does type A
    follow type B — the session-path-mining primitive behind
    recommendation and anomaly models. One shuffle on the user
    partition; transition probability is emitted as an exact
    numerator/denominator pair plus a decimal ratio (no float
    accumulation anywhere)."""
    ev = load_table(spark, sf_dir, "events")
    # symmetric ordering key: unix_micros here, epoch_us in the oracle —
    # ordering by raw ts would lag-pair differently than a DuckDB oracle
    # reading TIMESTAMP(NANOS) with sub-µs distinctions
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    trans = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = trans.groupBy("prev_type").agg(F.sum("n").alias("n_from"))
    return trans.join(F.broadcast(totals), "prev_type").select(
        "prev_type",
        "event_type",
        "n",
        "n_from",
        # double division of exact integers (see mean_logp note)
        (F.col("n").cast("double") / F.col("n_from")).alias("p"),
    )


ORACLE_ROLLING_ACTIVE_USERS = """
WITH daily AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
  FROM events
),
contrib AS (
  SELECT user_id, day + i AS window_end
  FROM daily, UNNEST(range(0, 7)) AS t(i)
)
SELECT window_end, count(DISTINCT user_id) AS wau
FROM contrib GROUP BY window_end
"""


@query("rolling_active_users", oracle=ORACLE_ROLLING_ACTIVE_USERS)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (the WAU curve): COUNT DISTINCT over
    a sliding window, which no engine's window functions support
    directly — the distributed shape is the contribution explode:
    dedup to (user, day) first (the big win: the fact table collapses
    to at most users × days rows), then each active day contributes to
    the 7 window-ends it falls in (constant fan-out) and one
    groupBy(window_end) count-distinct finishes. Exact integral day
    math; no window state anywhere."""
    ev = load_table(spark, sf_dir, "events")
    day_us = 86_400_000_000
    daily = (
        ev.select(
            "user_id",
            F.expr(f"unix_micros(ts) DIV {day_us}").alias("day"),
        )
        .distinct()
    )
    contrib = daily.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + F.lit(6))
        ).alias("window_end"),
    )
    return contrib.groupBy("window_end").agg(
        F.count_distinct("user_id").alias("wau")
    )


ORACLE_BITMAP_SEGMENTS = """
WITH seg AS (
  SELECT DISTINCT event_type, user_id FROM events
  WHERE event_type IN ('purchase', 'click')
), words AS (
  SELECT event_type, user_id // 32 AS word,
         (CAST(1 AS BIGINT) << CAST(user_id % 32 AS INTEGER)) AS bit
  FROM seg
), bm AS (
  SELECT word,
         bit_or(CASE WHEN event_type = 'purchase' THEN bit END) AS ba,
         bit_or(CASE WHEN event_type = 'click' THEN bit END) AS bb
  FROM words GROUP BY 1
), agg AS (
  SELECT SUM(bit_count(COALESCE(ba, 0))) AS n_a,
         SUM(bit_count(COALESCE(bb, 0))) AS n_b,
         SUM(bit_count(COALESCE(ba, 0) & COALESCE(bb, 0))) AS n_both
  FROM bm
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(n_both AS BIGINT) AS n_both,
       CASE WHEN CAST(n_a + n_b - n_both AS DOUBLE) > 0.0
            THEN CAST(n_both AS DOUBLE) / CAST(n_a + n_b - n_both AS DOUBLE)
            ELSE 0.0 END AS jaccard
FROM agg
"""


@query("bitmap_segments", oracle=ORACLE_BITMAP_SEGMENTS)
def q_bitmap_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap via distributed bitmap indexes: user-segment
    membership packed into word-bucketed BIGINT bitmaps (word =
    id DIV 32, bit = id MOD 32 — bits 0–31 only, so the sign bit never
    participates and two's-complement ``bit_count`` semantics can't
    diverge), ONE ``bit_or`` aggregate per word, then popcount algebra
    for |A|, |B|, |A∩B| and the exact Jaccard. The bitmap is the
    100 TB shape: the shuffle carries |users|/32 words, not |users|
    rows, and intersection is bitwise AND instead of a join (same
    word-bucketed design as the sharded Bloom build in
    ``functions/sketches.py``, but exact)."""
    ev = load_table(spark, sf_dir, "events")
    seg = (
        ev.filter(F.col("event_type").isin("purchase", "click"))
        .select("event_type", "user_id")
        .distinct()
    )
    words = seg.select(
        "event_type",
        F.expr("user_id DIV 32").alias("word"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))"
        ).alias("bit"),
    )
    bm = words.groupBy("word").agg(
        F.bit_or(
            F.when(F.col("event_type") == "purchase", F.col("bit"))
        ).alias("ba"),
        F.bit_or(F.when(F.col("event_type") == "click", F.col("bit"))).alias(
            "bb"
        ),
    )
    agg = bm.agg(
        F.sum(F.bit_count(F.coalesce("ba", F.lit(0)))).alias("n_a"),
        F.sum(F.bit_count(F.coalesce("bb", F.lit(0)))).alias("n_b"),
        F.sum(
            F.bit_count(
                F.coalesce("ba", F.lit(0)).bitwiseAND(
                    F.coalesce("bb", F.lit(0))
                )
            )
        ).alias("n_both"),
    )
    denom = (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double")
    return agg.select(
        "n_a",
        "n_b",
        "n_both",
        F.when(
            denom > F.lit(0.0), F.col("n_both").cast("double") / denom
        )
        .otherwise(F.lit(0.0))
        .alias("jaccard"),
    )


ORACLE_OUT_OF_ORDER_RATE = """
WITH t AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         LAG(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY event_id
         ) AS prev_us
  FROM events
), pairs AS (
  SELECT * FROM t WHERE prev_us IS NOT NULL
)
SELECT count(*) AS n_pairs,
       SUM(CASE WHEN us < prev_us THEN 1 ELSE 0 END) AS n_inversions,
       CAST(SUM(CASE WHEN us < prev_us THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS inversion_rate
FROM pairs
"""


@query(
    "out_of_order_rate",
    oracle=ORACLE_OUT_OF_ORDER_RATE,
    bigint=("n_inversions",),
)
def q_out_of_order_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-stream ordering audit: across each user's event history
    in event_id order, how often does the timestamp go backwards?
    The lag runs per user (bounded window state) over the symmetric
    integer pair (event_id, epoch µs) — the lag-ordering discipline
    that keeps sub-µs layouts from reordering pairs between engines.
    Output: global pair count, inversion count, inversion rate. One
    fact shuffle on user_id; the final aggregate is 3 numbers."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    t = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("us"),
    ).select(
        F.lag("us").over(w).alias("prev_us"),
        F.col("us"),
    )
    pairs = t.filter(F.col("prev_us").isNotNull())
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.when(F.col("us") < F.col("prev_us"), 1).otherwise(0)
        ).alias("n_inversions"),
    ).select(
        "n_pairs",
        "n_inversions",
        (
            F.col("n_inversions").cast("double")
            / F.col("n_pairs").cast("double")
        ).alias("inversion_rate"),
    )


ORACLE_ATTRIBUTION_FIRST_TOUCH = """
WITH tagged AS (
  SELECT user_id, event_type, value,
         FIRST_VALUE(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS first_touch
  FROM events
)
SELECT first_touch, count(*) AS n_purchases,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,9))), 2)
            AS DOUBLE) AS attributed_value
FROM tagged WHERE event_type = 'purchase'
GROUP BY first_touch
"""


@query("attribution_first_touch", oracle=ORACLE_ATTRIBUTION_FIRST_TOUCH)
def q_attribution_first_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-touch attribution: every purchase's value credits the
    event_type of the user's FIRST-ever event. The first touch is a
    per-user ``first_value`` over the symmetric (epoch µs, event_id)
    ordering; purchase values decimal(18,9)-round BEFORE the channel
    sum (order-free float-sum discipline) and the total emits
    ROUND(·,2)→double (wide-decimal rule). Plan: one user-partitioned
    window (bounded state), one channel aggregate — two shuffles
    total, both on data the fact scan already produced."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = ev.select(
        "user_id",
        "event_type",
        "value",
        F.first("event_type").over(w).alias("first_touch"),
    )
    return (
        tagged.filter(F.col("event_type") == "purchase")
        .groupBy("first_touch")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum(_dec("value")), 2)
            .cast("double")
            .alias("attributed_value"),
        )
    )


ORACLE_WINDOW_DEDUP_BATCH = """
WITH kept AS (
  SELECT user_id, event_type,
         CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS hr,
         count(*) AS n_dups
  FROM events
  GROUP BY 1, 2, 3
)
SELECT event_type, count(*) AS n_kept, SUM(n_dups) AS n_raw,
       SUM(n_dups - 1) AS n_dropped
FROM kept GROUP BY event_type
"""


@query(
    "window_dedup_batch",
    oracle=ORACLE_WINDOW_DEDUP_BATCH,
    bigint=("n_raw", "n_dropped"),
)
def q_window_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window dedup accounting, the oracled batch twin of the
    streaming ``dropDuplicatesWithinWatermark`` (whose
    keep-first-ARRIVED output is inherently rows-only): one survivor
    per (user, event_type, hour bucket) — fully data-deterministic, so
    it hash-checks. ONE aggregate on the dedup key counts each group's
    raw rows; at 100 TB this is the log-compaction accounting pass
    before archival. Emits survivor/raw/dropped counts per type to
    keep the output dimension-sized (survivor IDs themselves would be
    a min_by over the symmetric (µs, event_id) pair — not emitted
    here)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    kept = (
        ev.select(
            "user_id",
            "event_type",
            F.floor(us / F.lit(3_600_000_000)).cast("long").alias("hr"),
        )
        .groupBy("user_id", "event_type", "hr")
        .agg(F.count(F.lit(1)).alias("n_dups"))
    )
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_dups").alias("n_raw"),
        F.sum(F.col("n_dups") - 1).alias("n_dropped"),
    )


ORACLE_MODAL_EVENT_TYPE = """
WITH cnt AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT user_id, event_type, n,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY n DESC, event_type) AS rn,
         SUM(n) OVER (PARTITION BY user_id) AS n_total
  FROM cnt
)
SELECT user_id, event_type AS modal_type, n AS n_modal, n_total,
       CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) AS modal_share
FROM ranked WHERE rn = 1
"""


@query("modal_event_type", oracle=ORACLE_MODAL_EVENT_TYPE, bigint=("n_total",))
def q_modal_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user mode (most frequent event_type, ties → lexicographically
    first) and its share of the user's events — the grouped-mode
    operator. Two aggregates + one user-partitioned rank window over
    the (user, type) count table (dimension-sized, bounded state);
    the share divides exact integers in double."""
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), "event_type"
    )
    tot = Window.partitionBy("user_id")
    return (
        cnt.select(
            "user_id",
            "event_type",
            "n",
            F.row_number().over(w).alias("rn"),
            F.sum("n").over(tot).alias("n_total"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("modal_type"),
            F.col("n").alias("n_modal"),
            "n_total",
            (
                F.col("n").cast("double")
                / F.col("n_total").cast("double")
            ).alias("modal_share"),
        )
    )


ORACLE_EVENT_COOCCURRENCE = """
WITH wt AS (
  SELECT DISTINCT user_id,
         CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS hr,
         event_type
  FROM events
), nwin AS (
  SELECT count(*) AS n_windows
  FROM (SELECT DISTINCT user_id, hr FROM wt)
), marg AS (
  SELECT event_type, count(*) AS n_t FROM wt GROUP BY 1
), pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n_ab
  FROM wt a
  JOIN wt b ON a.user_id = b.user_id AND a.hr = b.hr
           AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.ta, p.tb, p.n_ab,
       (CAST(p.n_ab AS DOUBLE) * CAST(w.n_windows AS DOUBLE))
         / (CAST(ma.n_t AS DOUBLE) * CAST(mb.n_t AS DOUBLE)) AS lift
FROM pairs p
JOIN marg ma ON p.ta = ma.event_type
JOIN marg mb ON p.tb = mb.event_type
CROSS JOIN nwin w
"""


@query("event_cooccurrence", oracle=ORACLE_EVENT_COOCCURRENCE)
def q_event_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence lift within (user, hour) windows:
    P(a,b together) / (P(a)·P(b)) over window occurrences. Pairs come
    from the per-window distinct type set (≤|event types| per window —
    bounded fan-out, never a fact self-join); all probabilities are
    exact integer window counts; the lift is a fixed all-double tree
    over sub-2⁵³ operands (the overflow-free collocation_lift
    pattern)."""
    ev = load_table(spark, sf_dir, "events")
    wt = (
        ev.select(
            "user_id",
            F.floor(
                F.unix_micros(F.col("ts")) / F.lit(3_600_000_000)
            )
            .cast("long")
            .alias("hr"),
            "event_type",
        )
        .distinct()
    )
    nwin = wt.select("user_id", "hr").distinct().agg(
        F.count(F.lit(1)).alias("n_windows")
    )
    marg = wt.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a = wt.select(
        "user_id", "hr", F.col("event_type").alias("ta")
    )
    b = wt.select(
        "user_id", "hr", F.col("event_type").alias("tb")
    )
    pairs = (
        a.join(b, ["user_id", "hr"])
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    joined = (
        pairs.join(
            F.broadcast(
                marg.select(
                    F.col("event_type").alias("ta"),
                    F.col("n_t").alias("n_a"),
                )
            ),
            "ta",
        )
        .join(
            F.broadcast(
                marg.select(
                    F.col("event_type").alias("tb"),
                    F.col("n_t").alias("n_b"),
                )
            ),
            "tb",
        )
        .crossJoin(F.broadcast(nwin))
    )
    lift = (
        F.col("n_ab").cast("double") * F.col("n_windows").cast("double")
    ) / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    return joined.select(
        "ta", "tb", "n_ab", lift.alias("lift")
    )


ORACLE_GROWTH_ACCOUNTING = """
WITH um AS (
  SELECT DISTINCT user_id,
         CAST(FLOOR(CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT)
                    / 7) AS BIGINT) AS m
  FROM events
), first AS (
  SELECT user_id, MIN(m) AS m0 FROM um GROUP BY user_id
), cur AS (
  SELECT u.m,
         CASE WHEN u.m = f.m0 THEN 1 ELSE 0 END AS is_new,
         CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END AS is_retained
  FROM um u
  JOIN first f ON u.user_id = f.user_id
  LEFT JOIN um p ON p.user_id = u.user_id AND p.m = u.m - 1
), churn AS (
  SELECT u.m + 1 AS m,
         SUM(CASE WHEN n.user_id IS NULL THEN 1 ELSE 0 END) AS n_churned
  FROM um u
  LEFT JOIN um n ON n.user_id = u.user_id AND n.m = u.m + 1
  GROUP BY u.m + 1
), g AS (
  SELECT m, count(*) AS n_active, SUM(is_new) AS n_new,
         SUM(is_retained) AS n_retained
  FROM cur GROUP BY m
)
SELECT g.m, g.n_active, g.n_new, g.n_retained,
       COALESCE(c.n_churned, 0) AS n_churned_next
FROM g LEFT JOIN churn c ON g.m = c.m
"""


@query(
    "growth_accounting",
    oracle=ORACLE_GROWTH_ACCOUNTING,
    bigint=("n_new", "n_retained", "n_churned_next"),
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting: new / retained / churned users per
    week — the standard activity-ledger decomposition (weekly grain:
    the synthetic event stream spans ~a month, so months would give a
    single row). The (user, week) activity grid is ONE fact collapse;
    'new' compares against the user's first active week (a per-user
    aggregate joined back), 'retained' checks presence in the previous
    week via a self-join on (user, week−1), and 'churned' counts last
    week's actives missing the next (anti-join reformulated as a
    left-join flag). Integer-exact epoch-week codes."""
    ev = load_table(spark, sf_dir, "events")
    wcode = F.floor(_day("ts") / 7).cast("long")
    um = ev.select("user_id", wcode.alias("m")).distinct()
    first = um.groupBy("user_id").agg(F.min("m").alias("m0"))
    prev = um.select(
        "user_id", (F.col("m") + 1).alias("m"), F.lit(1).alias("was")
    )
    cur = (
        um.join(first, "user_id")
        .join(prev, ["user_id", "m"], "left")
        .select(
            "m",
            F.when(F.col("m") == F.col("m0"), 1).otherwise(0).alias(
                "is_new"
            ),
            F.coalesce("was", F.lit(0)).alias("is_retained"),
        )
    )
    nxt = um.select(
        "user_id", (F.col("m") - 1).alias("m"), F.lit(1).alias("still")
    )
    churn = (
        um.join(nxt, ["user_id", "m"], "left")
        .select(
            (F.col("m") + 1).alias("m"),
            F.when(F.col("still").isNull(), 1).otherwise(0).alias(
                "churned"
            ),
        )
        .groupBy("m")
        .agg(F.sum("churned").alias("n_churned"))
    )
    g = cur.groupBy("m").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum("is_new").alias("n_new"),
        F.sum("is_retained").alias("n_retained"),
    )
    return (
        g.join(churn, "m", "left")
        .select(
            "m",
            "n_active",
            "n_new",
            "n_retained",
            F.coalesce("n_churned", F.lit(0)).alias("n_churned_next"),
        )
    )


ORACLE_EVENT_PATH_TRIGRAMS = """
WITH seq AS (
  SELECT LAG(event_type, 2) OVER w AS t1,
         LAG(event_type, 1) OVER w AS t2,
         event_type AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
)
SELECT t1, t2, t3, count(*) AS n
FROM seq WHERE t1 IS NOT NULL
GROUP BY t1, t2, t3
ORDER BY n DESC, t1, t2, t3
LIMIT 20
"""


@query("event_path_trigrams", oracle=ORACLE_EVENT_PATH_TRIGRAMS)
def q_event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 user-journey trigrams: the most common 3-step
    event-type sequences per user stream — the path-analysis
    generalization of the Markov bigram matrix (event_transitions).
    One per-user window (two lags over the symmetric (epoch-µs,
    event_id) order — the raw-ts ordering trap is avoided on BOTH
    sides), one (t1,t2,t3) count aggregate, TakeOrdered with full-path
    tiebreak. Exact integers end-to-end."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts")), "event_id"
    )
    seq = ev.select(
        F.lag("event_type", 2).over(w).alias("t1"),
        F.lag("event_type", 1).over(w).alias("t2"),
        F.col("event_type").alias("t3"),
    ).filter(F.col("t1").isNotNull())
    return (
        seq.groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "t1", "t2", "t3")
        .limit(20)
    )


ORACLE_CONVERSION_LATENCY = """
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
           AS first_view,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
           AS first_purchase
  FROM events GROUP BY user_id
),
lat AS (
  SELECT (first_purchase - first_view) // 86400000000 AS days
  FROM per_user
  WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
    AND first_purchase >= first_view
),
grid AS (SELECT days, count(*) AS cnt FROM lat GROUP BY days),
cum AS (
  SELECT days,
         SUM(cnt) OVER (ORDER BY days
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cnt) OVER () AS n,
         SUM(days * cnt) OVER () AS sum_days
  FROM grid
)
SELECT MAX(n) AS n_converted,
       MIN(CASE WHEN 2 * cum >= n THEN days END) AS p50_days,
       MIN(CASE WHEN 10 * cum >= 9 * n THEN days END) AS p90_days,
       CAST(MAX(sum_days) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)
         AS mean_days
FROM cum
"""


@query(
    "conversion_latency",
    oracle=ORACLE_CONVERSION_LATENCY,
    bigint=("n_converted",),
)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, the gap between the
    FIRST view and the first purchase AT OR AFTER it, reduced to whole
    days and fed through the bounded value-grid exact-quantile pattern
    (p50/p90 + exact mean) — funnel_conversion counts who converts,
    this measures how long conversion takes. Two conditional-min
    aggregates in ONE per-user pass (no self-join); the day reduction
    is an integral div of a nonneg µs gap (floor ≡ trunc — the
    negative-operand div/floor split cannot arise). 1-row output."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", us)
        ).alias("first_view"),
        F.min(
            F.when(F.col("event_type") == "purchase", us)
        ).alias("first_purchase"),
    )
    lat = (
        per_user.filter(
            F.col("first_view").isNotNull()
            & F.col("first_purchase").isNotNull()
            & (F.col("first_purchase") >= F.col("first_view"))
        )
        .select(
            F.expr(
                "(first_purchase - first_view) div 86400000000"
            ).alias("days")
        )
    )
    grid = lat.groupBy("days").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("days")
    cum = grid.select(
        "days",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
        F.sum(F.col("days") * F.col("cnt"))
        .over(Window.partitionBy())
        .alias("sum_days"),
    )
    return cum.agg(
        F.max("n").alias("n_converted"),
        F.min(
            F.when(2 * F.col("cum") >= F.col("n"), F.col("days"))
        ).alias("p50_days"),
        F.min(
            F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("days"))
        ).alias("p90_days"),
        (
            F.max("sum_days").cast("double") / F.max("n").cast("double")
        ).alias("mean_days"),
    )


ORACLE_BOUNCE_RATE = f"""
WITH g AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         lag(epoch_us(ts)) OVER w AS prev_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
marked AS (
  SELECT user_id, ts_us,
         SUM(CASE WHEN prev_us IS NULL
                   OR ts_us - prev_us > {SESSION_GAP_US} THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sid
  FROM g
),
sess AS (
  SELECT user_id, sid, count(*) AS n_events, MIN(ts_us) AS start_us
  FROM marked GROUP BY user_id, sid
),
hourly AS (
  SELECT CAST(CAST(FLOOR(start_us / 3600000000) AS BIGINT) % 24
              AS INT) AS hour,
         CASE WHEN n_events = 1 THEN 1 ELSE 0 END AS bounce
  FROM sess
)
SELECT hour, count(*) AS n_sessions,
       CAST(SUM(bounce) AS BIGINT) AS n_bounce,
       CAST(SUM(bounce) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS bounce_rate
FROM hourly GROUP BY hour
"""


@query("bounce_rate", oracle=ORACLE_BOUNCE_RATE)
def q_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session bounce rate by start hour: single-event sessions over
    all sessions, profiled by the session's start hour-of-day — the
    engagement metric on top of the 30-min lag-gap sessionizer (same
    break rule as session_window_lag, so the session algebra is
    already driver-attested). Session ids are running sums of break
    flags; the start hour is pure integer µs arithmetic (never engine
    hour()); rates are double divisions of exact counts."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", nanos_to_micros("ts_ns")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gapped = ev.withColumn("prev_us", F.lag("ts_us").over(w))
    brk = F.when(
        F.col("prev_us").isNull()
        | (F.col("ts_us") - F.col("prev_us") > SESSION_GAP_US),
        F.lit(1),
    ).otherwise(F.lit(0))
    sess = (
        gapped.withColumn("sid", F.sum(brk).over(w))
        .groupBy("user_id", "sid")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_us").alias("start_us"),
        )
    )
    hourly = sess.select(
        (
            F.floor(F.col("start_us") / F.lit(3_600_000_000)) % 24
        )
        .cast("int")
        .alias("hour"),
        F.when(F.col("n_events") == 1, F.lit(1))
        .otherwise(F.lit(0))
        .alias("bounce"),
    )
    return hourly.groupBy("hour").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("bounce").cast("long").alias("n_bounce"),
        (
            F.sum("bounce").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("bounce_rate"),
    )


ORACLE_WINDOW_DISTINCT_COUNT = """
WITH staged AS (
  SELECT DISTINCT event_type,
         CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
         user_id
  FROM events WHERE user_id IS NOT NULL
)
SELECT DISTINCT event_type, d,
       CAST(COUNT(DISTINCT user_id)
            OVER (PARTITION BY event_type ORDER BY d
                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_cum_users
FROM staged
"""


@query("window_distinct_count", oracle=ORACLE_WINDOW_DISTINCT_COUNT)
def q_window_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT-user count per event type by day — the
    cumulative-audience curve every growth dashboard draws.  The
    oracle uses the NATIVE windowed distinct aggregate
    (``COUNT(DISTINCT …) OVER``, which DuckDB supports and Spark
    rejects); the Spark side is the scalable first-seen rewrite: a
    user contributes on the day of their FIRST event of that type, and
    the running distinct count is the cumulative sum of first-seen
    counts over the day spine.

    Plan: one (type, user) min-day aggregate (the only fact-sized
    shuffle — and the rewrite's point: the window never carries a
    distinct-set state, which at 100 TB would hold every user id in
    every frame), a (type, day) count, and a cumulative sum over the
    calendar-bounded spine.  NULL users are excluded on both sides
    (COUNT DISTINCT ignores NULL; the rewrite must too)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    staged = ev.select(
        "event_type",
        _day("ts").alias("d"),
        "user_id",
    )
    days = staged.select("event_type", "d").distinct()
    first_seen = staged.groupBy("event_type", "user_id").agg(
        F.min("d").alias("d")
    )
    news = first_seen.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        days.join(news, ["event_type", "d"], "left")
        .select(
            "event_type",
            "d",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .select(
            "event_type",
            "d",
            F.sum("n_new").over(w).cast("long").alias("n_cum_users"),
        )
    )


ORACLE_INTERVAL_COVERAGE = """
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         epoch_us(ts) + (event_id % 120 + 1) * 60000000 AS e
  FROM events WHERE user_id IS NOT NULL
), marked AS (
  SELECT user_id, s, e,
         MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_end
  FROM iv
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(SUM(GREATEST(e - GREATEST(s, COALESCE(prev_end, s)), 0))
            AS BIGINT) AS covered_us,
       CAST(SUM(CASE WHEN prev_end IS NULL OR prev_end < s
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_islands
FROM marked GROUP BY user_id
"""


@query("interval_coverage", oracle=ORACLE_INTERVAL_COVERAGE)
def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user union-length of overlapping time intervals — the SLA /
    uptime / active-time primitive (and billing's "don't double-count
    overlapping sessions").  Each event opens a deterministic interval
    ``[ts, ts + (event_id % 120 + 1) minutes)``; the answer per user is
    total covered µs, interval count, and the number of merged islands.

    The classic sweep, declaratively: order intervals by (start, id);
    the running MAX of ``end`` over all PRIOR rows is the coverage
    frontier, so each row contributes ``max(0, end − max(start,
    frontier))`` — overlap never double-counts, containment contributes
    0, and a row starting past the frontier opens a new island.  ONE
    window + ONE groupBy, all integer µs (``unix_micros`` ≡ DuckDB
    ``epoch_us``), no floats.

    Scale: the window partitions by user_id (high cardinality — state
    per partition is one running max, nothing unbounded); contrast
    ``max_concurrency``, which must chunk because its sweep key is
    5-valued."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (
            F.unix_micros(F.col("ts"))
            + (F.col("event_id") % 120 + 1) * F.lit(60_000_000).cast("long")
        ).alias("e"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.withColumn("prev_end", F.max("e").over(w))
    return marked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(
            F.greatest(
                F.col("e")
                - F.greatest(F.col("s"), F.coalesce("prev_end", F.col("s"))),
                F.lit(0).cast("long"),
            )
        ).alias("covered_us"),
        # STRICT inequality: half-open [a,b) + [b,c) are contiguous —
        # one merged island (touching is not a gap)
        F.count_if(
            F.col("prev_end").isNull() | (F.col("prev_end") < F.col("s"))
        ).alias("n_islands"),
    )


ORACLE_FRESHNESS_SLO = """
WITH per AS (
  SELECT event_type, MAX(epoch_us(ts)) AS last_ts_us,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type
), g AS (SELECT MAX(last_ts_us) AS as_of_us FROM per)
SELECT event_type, n_events, last_ts_us,
       CAST(g.as_of_us - last_ts_us AS BIGINT) AS lag_us,
       (g.as_of_us - last_ts_us) <= 604800000000 AS within_slo
FROM per, g
"""


@query("freshness_slo", oracle=ORACLE_FRESHNESS_SLO)
def q_freshness_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLO audit: per event type, the last-arrival
    watermark, its lag behind the lake-wide high-water mark, and
    whether it is inside a 7-day staleness SLO — the first dashboard a
    lake operator builds over every ingest feed (reference analog: the
    nightly DB-sanity path around ``bin/ztf/archive_statistics.py``).

    Plan: ONE groupBy for per-type watermarks, a 1-row global max
    broadcast back — the as-of point is derived from the DATA (not
    ``now()``, which could never oracle).  All integer µs."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.max(F.unix_micros(F.col("ts"))).alias("last_ts_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    glob = per.agg(F.max("last_ts_us").alias("as_of_us"))
    return per.crossJoin(F.broadcast(glob)).select(
        "event_type",
        "n_events",
        "last_ts_us",
        (F.col("as_of_us") - F.col("last_ts_us")).alias("lag_us"),
        (
            F.col("as_of_us") - F.col("last_ts_us")
            <= F.lit(7 * 86_400_000_000).cast("long")
        ).alias("within_slo"),
    )
