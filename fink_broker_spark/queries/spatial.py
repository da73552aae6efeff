"""Sky and spatial queries: grid and HEALPix pixelization,
cross-matching, k-nearest neighbours and tracklets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fink_broker_spark.core.time import nanos_to_micros
from fink_broker_spark.plans.partitioning import ensure_scan_parallelism
from fink_broker_spark.queries.common import _finite
from fink_broker_spark.queries.registry import query
from fink_broker_spark.sources.parquet import load_table


ORACLE_GRID_PIX = """
SELECT CAST(floor(((CAST(user_id % 181 AS DOUBLE) - 90) + 90.0) / 10.0) * 36
            + floor((value - floor(value / 360.0) * 360.0) / 10.0) AS BIGINT) AS pix,
       count(*) AS n
FROM events
-- finite-value domain, mirroring the engine (nanemb layout, r10)
WHERE value IS NULL OR isfinite(value)
GROUP BY 1
"""


@query("grid_pixelization", oracle=ORACLE_GRID_PIX)
def q_grid_pixelization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sky-bucketing operator (``ang2pix`` family,
    ``common/spark_utils.py:529-564``) on synthetic coordinates derived
    from the events table; grid variant is pure-Column + SQL-mirrorable.

    Domain: finite values only (NULL rows kept — their pix stays a
    NULL group, as before): Spark's floor(double) silently corrupts
    NaN/Inf coordinates where DuckDB's BIGINT cast hard-errors
    (nanemb driftlab layout)."""
    from fink_broker_spark.functions.spatial import grid_pixel_expr

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNull() | _finite("value")
    )
    ra = F.col("value") - F.floor(F.col("value") / 360.0) * 360.0
    dec = (F.col("user_id") % 181 - 90).cast("double")
    return (
        ev.select(grid_pixel_expr(ra, dec, cell_deg=10.0).alias("pix"))
        .groupBy("pix")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _oracle_healpix() -> str:
    from fink_broker_spark.functions.spatial import healpix_ring_sql

    ra_sql = "(value - floor(value / 360.0) * 360.0)"
    dec_sql = "(CAST(user_id % 181 - 90 AS DOUBLE))"
    p16 = healpix_ring_sql(ra_sql, dec_sql, 16)
    p64 = healpix_ring_sql(ra_sql, dec_sql, 64)
    return f"""
WITH px AS (
  SELECT {p16} AS pix,
         concat_ws('_', CAST({p16} AS VARCHAR), CAST({p64} AS VARCHAR)) AS mr
  FROM events
  -- finite-value domain, mirroring the engine (nanemb layout, r10)
  WHERE value IS NULL OR isfinite(value)
)
SELECT pix, count(*) AS n, min(mr) AS first_mr FROM px GROUP BY pix
"""


ORACLE_HEALPIX = _oracle_healpix()


@query("healpix_pixelization", oracle=ORACLE_HEALPIX)
def q_healpix_pixelization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real HEALPix RING pixelization (``ang2pix``,
    ``common/spark_utils.py:529-564``) as a pure Column expression over
    the scan — no UDF, ANSI-SQL-transcribable (the oracle runs the
    identical formula; floor boundaries are measure-zero so the integer
    pixels agree exactly across libms). Output: per-pixel counts at
    nside=16 plus the lexicographic-min multi-resolution key
    (``pix@16_pix@64`` — the reference's ``ang2pix_array`` string,
    ``common/spark_utils.py:567-609``). The numpy-UDF twin is pinned
    equal in ``tests/test_spatial.py``.

    Domain: finite values only (NULL rows kept — their pix stays a
    NULL group, as before): a NaN/Inf coordinate silently corrupts
    Spark's floor(double) where DuckDB's BIGINT cast hard-errors
    (nanemb driftlab layout)."""
    from fink_broker_spark.functions.spatial import healpix_ring_expr

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNull() | _finite("value")
    )
    ra = F.col("value") - F.floor(F.col("value") / 360.0) * 360.0
    dec = (F.col("user_id") % 181 - 90).cast("double")
    pix16 = healpix_ring_expr(ra, dec, 16)
    pix64 = healpix_ring_expr(ra, dec, 64)
    mr = F.concat_ws("_", pix16.cast("string"), pix64.cast("string"))
    return (
        ev.select(pix16.alias("pix"), mr.alias("mr"))
        .groupBy("pix")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("mr").alias("first_mr"),
        )
    )


def _oracle_multires_index() -> str:
    from fink_broker_spark.functions.spatial import healpix_nest_sql

    i_ra = "(((event_id * 193) % 3600) / 10.0)"
    i_dec = "((((user_id * 37) % 1200) / 10.0) - 60.0)"
    p_ra = "(((s_suppkey * 131) % 3600) / 10.0)"
    p_dec = "((((s_suppkey * 61) % 1200) / 10.0) - 60.0)"
    hav = (
        "degrees(2.0 * atan2("
        "sqrt(pow(sin((radians(i.dec) - radians(p.p_dec)) / 2), 2)"
        " + cos(radians(p.p_dec)) * cos(radians(i.dec))"
        "   * pow(sin((radians(i.ra) - radians(p.p_ra)) / 2), 2)),"
        "sqrt(greatest(0.0, 1.0 - (pow(sin((radians(i.dec) - radians(p.p_dec)) / 2), 2)"
        " + cos(radians(p.p_dec)) * cos(radians(i.dec))"
        "   * pow(sin((radians(i.ra) - radians(p.p_ra)) / 2), 2))))))"
    )
    return f"""
WITH idx0 AS (
  SELECT event_id, {i_ra} AS ra, {i_dec} AS dec,
         {healpix_nest_sql(i_ra, i_dec, 64)} AS hp64
  FROM events
), idx AS (
  SELECT event_id, ra, dec,
         concat_ws('_', CAST((hp64 >> 6) AS VARCHAR),
                        CAST(hp64 AS VARCHAR)) AS hpx
  FROM idx0
), probes0 AS (
  SELECT s_suppkey, {p_ra} AS p_ra, {p_dec} AS p_dec,
         {healpix_nest_sql(p_ra, p_dec, 64)} AS p64
  FROM supplier WHERE s_suppkey % 3 = 0
), probes AS (
  SELECT s_suppkey, p_ra, p_dec, (p64 >> 6) AS p8, p64 FROM probes0
), wide AS (
  SELECT p.s_suppkey, count(*) AS n_wide
  FROM idx i JOIN probes p
    ON CAST(string_split(i.hpx, '_')[1] AS BIGINT) = p.p8
  WHERE {hav} <= 3.0
  GROUP BY 1
), tight AS (
  SELECT p.s_suppkey, count(*) AS n_tight
  FROM idx i JOIN probes p
    ON CAST(string_split(i.hpx, '_')[2] AS BIGINT) = p.p64
  WHERE {hav} <= 0.9
  GROUP BY 1
)
SELECT probes.s_suppkey,
       COALESCE(wide.n_wide, 0) AS n_wide,
       COALESCE(tight.n_tight, 0) AS n_tight
FROM probes
LEFT JOIN wide ON probes.s_suppkey = wide.s_suppkey
LEFT JOIN tight ON probes.s_suppkey = tight.s_suppkey
"""


ORACLE_MULTIRES_INDEX = _oracle_multires_index()


@query("multires_index", oracle=ORACLE_MULTIRES_INDEX)
def q_multires_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-radius lookup against a serving index keyed by the
    multi-resolution pixel string (the reference's ``ang2pix_array``
    column, ``common/spark_utils.py:567-609``, used as the HBase
    ``pixel`` index-table row key, ``bin/ztf/archive_index.py:93-150``).

    The index stores ONE string key ``pix@8_pix@64`` per row; a wide
    cone (radius ~ the nside=8 scale) matches on the coarse component,
    a tight cone (radius ~ the nside=64 scale) on the fine component —
    component extraction is codegen ``split``+``cast`` on the stored
    key, never a re-pixelization of the indexed side. Pixels use the
    NESTED numbering (``healpix_nest_expr``) because its hierarchical
    prefix property derives the coarse level from the fine one with a
    shift (``pix@8 = pix@64 >> 6``): the 600k-row index side evaluates
    ONE trig CASE tree instead of one per resolution level — the same
    reason multi-order sky maps standardize on nested ids. Probes
    broadcast (tiny), candidates refine with the exact haversine
    predicate, and per-probe counts aggregate after the filter. Counts
    only, so the oracle hash never touches a trig double."""
    from fink_broker_spark.functions.spatial import with_healpix_nest

    ev = load_table(spark, sf_dir, "events")
    # serving index: payload + the one stored multires key
    idx = ev.select(
        "event_id",
        (((F.col("event_id") * 193) % 3600) / 10.0).alias("ra"),
        ((((F.col("user_id") * 37) % 1200) / 10.0) - 60.0).alias("dec"),
    )
    # staged pixelization: linear plan size (the inline Column form
    # replicates the trig CASE tree ~2^5 times through the interleave)
    idx = with_healpix_nest(idx, "ra", "dec", 64, out="hp64").select(
        "event_id",
        "ra",
        "dec",
        F.concat_ws(
            "_",
            F.shiftright("hp64", 6).cast("string"),
            F.col("hp64").cast("string"),
        ).alias("hpx"),
    )
    probes = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 3 == 0)
        .select(
            "s_suppkey",
            (((F.col("s_suppkey") * 131) % 3600) / 10.0).alias("p_ra"),
            ((((F.col("s_suppkey") * 61) % 1200) / 10.0) - 60.0).alias("p_dec"),
        )
    )
    probes = with_healpix_nest(
        probes, "p_ra", "p_dec", 64, out="p64"
    ).select(
        "s_suppkey",
        "p_ra",
        "p_dec",
        F.shiftright("p64", 6).alias("p8"),
        "p64",
    )
    from fink_broker_spark.functions.spatial import angular_sep_deg_expr

    # ONE scan of the index: each stored key explodes into its
    # (level, component) rows, probes explode the same way with their
    # per-level radius, and a single broadcast equi-join on
    # (level, pixel) serves both radii — the pixelization CASE trees
    # evaluate once per side instead of once per lookup level
    parts = F.split("hpx", "_")
    lv_idx = idx.select(
        "ra",
        "dec",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("lvl"),
                    parts.getItem(0).cast("long").alias("k"),
                ),
                F.struct(
                    F.lit(1).alias("lvl"),
                    parts.getItem(1).cast("long").alias("k"),
                ),
            )
        ).alias("lk"),
    ).select("ra", "dec", "lk.lvl", "lk.k")
    lv_probes = probes.select(
        "s_suppkey",
        "p_ra",
        "p_dec",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("lvl"),
                    F.col("p8").alias("k"),
                    F.lit(3.0).alias("radius"),
                ),
                F.struct(
                    F.lit(1).alias("lvl"),
                    F.col("p64").alias("k"),
                    F.lit(0.9).alias("radius"),
                ),
            )
        ).alias("lk"),
    ).select("s_suppkey", "p_ra", "p_dec", "lk.lvl", "lk.k", "lk.radius")
    hits = (
        lv_idx.join(F.broadcast(lv_probes), on=["lvl", "k"])
        .filter(
            angular_sep_deg_expr("ra", "dec", "p_ra", "p_dec")
            <= F.col("radius")
        )
        .groupBy("s_suppkey")
        .agg(
            F.count(F.when(F.col("lvl") == 0, 1)).alias("n_wide"),
            F.count(F.when(F.col("lvl") == 1, 1)).alias("n_tight"),
        )
    )
    return (
        probes.select("s_suppkey")
        .join(hits, "s_suppkey", "left")
        .select(
            "s_suppkey",
            F.coalesce("n_wide", F.lit(0)).alias("n_wide"),
            F.coalesce("n_tight", F.lit(0)).alias("n_tight"),
        )
    )


ORACLE_TRACKLETS = """
WITH g AS (
  SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour, event_id, value
  FROM events WHERE value IS NOT NULL
), lagged AS (
  SELECT hour, value, event_id,
         lag(value) OVER (PARTITION BY hour ORDER BY value, event_id) AS prev
  FROM g
), cid AS (
  SELECT hour, value, event_id,
         SUM(CASE WHEN prev IS NULL OR value - prev > 5.0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY hour ORDER BY value, event_id
                 ROWS UNBOUNDED PRECEDING) AS cluster
  FROM lagged
), sized AS (
  SELECT hour, cluster, count(*) AS csize FROM cid GROUP BY 1, 2
)
SELECT hour,
       CAST(SUM(csize) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN csize >= 2 THEN csize ELSE 0 END) AS BIGINT) AS n_clustered,
       CAST(SUM(CASE WHEN csize >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_clusters
FROM sized GROUP BY hour
"""


@query("tracklet_clusters", oracle=ORACLE_TRACKLETS)
def q_tracklet_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map clustering (``ztf/tracklet_identification.py:123-334``
    skeleton): group events by hour ("exposure"), 1-D gap-split clusters
    on value, keep clusters of ≥2 — summarized per group. The declarative
    oracle reproduces the gap-split with a running-sum window. Hour
    granularity mirrors the reference's per-exposure groups (hundreds of
    rows each) — grouped-map with millions of 2-row groups is the
    anti-pattern ``applyInPandas`` punishes hardest."""
    from fink_broker_spark.operators.tracklets import grouped_clusters

    ev = (
        load_table(spark, sf_dir, "events")
        # a NULL value cannot cluster (and its pandas NaN would sort
        # differently from the oracle's NULL — driftlab nullmeasure)
        .filter(F.col("value").isNotNull())
        .withColumn("ts_us", nanos_to_micros("ts_ns"))
        .withColumn(
            "hour",
            ((F.col("ts_us") - F.col("ts_us") % 3600000000) / F.lit(3600000000)).cast("long"),
        )
        .select("hour", "event_id", "value")
    )
    clustered = grouped_clusters(
        ev, group_col="hour", value_col="value", gap=5.0, min_size=2
    )
    return (
        clustered.groupBy("hour")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(F.col("cluster_id") != "").alias("n_clustered"),
            F.size(
                F.array_remove(F.collect_set("cluster_id"), "")
            ).cast("bigint").alias("n_clusters"),
        )
    )


ORACLE_TRACKLET_CANDIDATES = """
-- CAST AS DOUBLE mirrors the operator's pinned staging
-- (decimalprice driftlab layout, r6)
WITH ev AS (
  SELECT event_type, event_id, user_id, CAST(value AS DOUBLE) AS value
  FROM events
), staged AS (
  SELECT event_type,
         abs(value) % 3.0 + 0.01 AS distnr,
         15.0 + (user_id % 70) / 10.0 AS magnr,
         15.0 + (event_id % 80) / 10.0 AS magpsf,
         CASE WHEN event_id % 11 = 0 THEN '12345' ELSE 'null' END AS ssnamenr,
         CAST(1 + event_id % 3 AS INTEGER) AS ndethist,
         CASE WHEN value >= 0 THEN 't' ELSE 'f' END AS isdiffpos
  FROM ev
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_candidates,
       min(distnr) AS min_distnr,
       max(distnr) AS max_distnr
FROM staged
WHERE ssnamenr = 'null' AND ndethist = 1 AND isdiffpos = 't'
  -- COALESCE mirrors tracklet_candidate_cut's numpy-edge semantics:
  -- an unevaluable locus (NULL magnr from a NULL-FK user_id) KEEPS the
  -- row, it does not NULL-drop it (nullfk driftlab layout, r6)
  AND NOT COALESCE((magnr - magpsf) < 1.0
           AND (magnr - magpsf) < -4.0 * (log10(distnr) + 0.2)
           AND distnr < 2.0, FALSE)
GROUP BY event_type
"""


@query("tracklet_candidates", oracle=ORACLE_TRACKLET_CANDIDATES)
def q_tracklet_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's tracklet locus candidate cut
    (``ztf/tracklet_identification.py:30-82``) over events-derived alert
    analogs: dmag/distance columns are pure arithmetic on table columns,
    the predicate is one Column expression (pushed to the scan), and the
    whole pipeline is ANSI-transcribable for the oracle."""
    from fink_broker_spark.operators.tracklets import tracklet_candidate_cut

    # value pinned to DOUBLE: decimal % double modulo trees differ
    # between engines (decimalprice driftlab layout)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("double")
    )
    staged = ev.select(
        "event_type",
        (F.abs(F.col("value")) % 3.0 + F.lit(0.01)).alias("distnr"),
        (F.lit(15.0) + (F.col("user_id") % 70) / 10.0).alias("magnr"),
        (F.lit(15.0) + (F.col("event_id") % 80) / 10.0).alias("magpsf"),
        F.when(F.col("event_id") % 11 == 0, F.lit("12345"))
        .otherwise(F.lit("null"))
        .alias("ssnamenr"),
        (F.lit(1) + F.col("event_id") % 3).cast("int").alias("ndethist"),
        F.when(F.col("value") >= 0, F.lit("t")).otherwise(F.lit("f")).alias(
            "isdiffpos"
        ),
    )
    kept = staged.filter(
        tracklet_candidate_cut(
            F.col("distnr"),
            F.col("magnr"),
            F.col("magpsf"),
            ssnamenr=F.col("ssnamenr"),
            ndethist=F.col("ndethist"),
            isdiffpos=F.col("isdiffpos"),
        )
    )
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.min("distnr").alias("min_distnr"),
        F.max("distnr").alias("max_distnr"),
    )


ORACLE_SKY_TRACKLETS = """
WITH bounded AS (
  SELECT event_id, user_id FROM events ORDER BY event_id LIMIT 2400
), ranked AS (
  SELECT event_id, user_id % 40 AS trk,
         row_number() OVER (PARTITION BY user_id % 40 ORDER BY event_id) AS rn
  FROM bounded
)
SELECT CAST(trk % 4 AS BIGINT) AS exposure,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(min(event_id) AS BIGINT) AS lo_event,
       CAST(max(event_id) AS BIGINT) AS hi_event
-- trk IS NOT NULL: a NULL-FK user_id yields NULL ra/dec points, which
-- can never sit on a great circle within tolerance — the extractor
-- finds no tracklet for them, so the declarative twin must not count
-- one (nullfk driftlab layout, r6)
FROM ranked WHERE rn <= 8 AND trk IS NOT NULL
GROUP BY trk
HAVING count(*) >= 5
"""


@query("sky_tracklets", oracle=ORACLE_SKY_TRACKLETS)
def q_sky_tracklets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle tracklet extraction
    (``ztf/tracklet_identification.py:123-334``): deterministic sky
    tracks are constructed from event rows (8 points per track, 10-arcsec
    spacing, per-track slope), grouped into 4 "exposures", and the
    grouped-map extractor must recover exactly the constructed
    memberships — which the oracle recomputes declaratively (a tracklet
    == a constructed track with ≥5 points). Bounded input (top-2400 by
    event_id → TakeOrderedAndProject) mirrors the bounded-exposure
    assumption of the reference; the O(n³) candidate stage is pruned by
    ``max_pair_sep_deg`` to the physical tracklet length."""
    from fink_broker_spark.operators.tracklets import great_circle_tracklets

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id")
        .orderBy("event_id")
        .limit(2400)
    )
    trk = (F.col("user_id") % 40).alias("trk")
    w = Window.partitionBy("trk").orderBy("event_id")
    pts = (
        ev.select("event_id", trk)
        .withColumn("idx", F.row_number().over(w) - 1)
        .filter(F.col("idx") < 8)
    )
    dt = (F.col("idx") - 3.5) * (10.0 / 3600.0)
    slope = ((F.col("trk") % 5) - 2) / 4.0
    sky = pts.select(
        "event_id",
        (F.col("trk") % 4).cast("bigint").alias("exposure"),
        (F.col("trk") * 3.0 + dt).alias("ra"),
        (((F.col("trk") * 7) % 121) - 60 + dt * slope).alias("dec"),
    )
    labeled = great_circle_tracklets(
        sky, "exposure", max_pair_sep_deg=0.1
    ).filter(F.col("tracklet") != "")
    return labeled.groupBy("exposure", "tracklet").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("event_id").alias("lo_event"),
        F.max("event_id").alias("hi_event"),
    ).select("exposure", "n_members", "lo_event", "hi_event")


ORACLE_HEALPIX_CROSSMATCH = """
WITH survey AS (
  SELECT event_id,
         ((event_id * 193) % 3600) / 10.0 AS ra,
         (((user_id * 37) % 1200) / 10.0) - 60.0 AS dec
  FROM events
), cat AS (
  SELECT s_suppkey,
         ((s_suppkey * 131) % 3600) / 10.0 AS ra,
         (((s_suppkey * 61) % 1200) / 10.0) - 60.0 AS dec
  FROM supplier
)
SELECT survey.event_id, cat.s_suppkey
FROM survey, cat
WHERE degrees(2.0 * atan2(
        sqrt(pow(sin((radians(cat.dec) - radians(survey.dec)) / 2), 2)
             + cos(radians(survey.dec)) * cos(radians(cat.dec))
               * pow(sin((radians(cat.ra) - radians(survey.ra)) / 2), 2)),
        sqrt(greatest(0.0, 1.0 - (pow(sin((radians(cat.dec) - radians(survey.dec)) / 2), 2)
             + cos(radians(survey.dec)) * cos(radians(cat.dec))
               * pow(sin((radians(cat.ra) - radians(survey.ra)) / 2), 2))))))
      <= 2.0
"""


@query("healpix_crossmatch", oracle=ORACLE_HEALPIX_CROSSMATCH)
def q_healpix_crossmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEALPix-bucketed cone crossmatch with exact haversine refine
    (the production twin of ``cone_crossmatch``'s grid demo; reference
    ``ztf/science.py:84-197`` + ``common/spark_utils.py:529-609``).

    The oracle is a brute-force cross join with the identical haversine
    op tree — an *algorithmic* check: the pixel-bucket candidate stage
    (survey side gets one scan-side pixel, catalog cones explode to
    their covering pixels, broadcast equi-join on pixel) must lose no
    pair at radius below the pixel scale. Only pair ids are emitted, so
    the hash never touches a trig double."""
    from fink_broker_spark.functions.spatial import healpix_crossmatch

    # the per-row HEALPix pixelization tree runs in the survey scan
    # stage — spread the single-split scan across cores (guide §2.5;
    # no-op at scale)
    survey = ensure_scan_parallelism(
        load_table(spark, sf_dir, "events").select(
            "event_id",
            (((F.col("event_id") * 193) % 3600) / 10.0).alias("ra"),
            ((((F.col("user_id") * 37) % 1200) / 10.0) - 60.0).alias("dec"),
        )
    )
    catalog = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (((F.col("s_suppkey") * 131) % 3600) / 10.0).alias("ra"),
        ((((F.col("s_suppkey") * 61) % 1200) / 10.0) - 60.0).alias("dec"),
    )
    matched = healpix_crossmatch(
        survey, catalog, radius_deg=2.0, nside=16
    )
    return matched.select(
        "event_id", F.col("r_s_suppkey").alias("s_suppkey")
    )


ORACLE_XMATCH_ENRICH = """
WITH alerts AS (
  SELECT event_id,
         ((event_id * 193) % 3600) / 10.0 AS ra,
         (((user_id * 37) % 1200) / 10.0) - 60.0 AS dec
  FROM events
), cat AS (
  SELECT s_suppkey AS cat_id,
         ((s_suppkey * 131) % 3600) / 10.0 AS ra,
         (((s_suppkey * 61) % 1200) / 10.0) - 60.0 AS dec,
         (CASE s_suppkey % 4 WHEN 0 THEN 'Star' WHEN 1 THEN 'Galaxy'
                             WHEN 2 THEN 'QSO' ELSE 'YSO' END) AS main_type
  FROM supplier
), pairs AS (
  SELECT a.event_id, c.cat_id, c.main_type,
         degrees(2.0 * atan2(
           sqrt(pow(sin((radians(c.dec) - radians(a.dec)) / 2), 2)
                + cos(radians(a.dec)) * cos(radians(c.dec))
                  * pow(sin((radians(c.ra) - radians(a.ra)) / 2), 2)),
           sqrt(greatest(0.0, 1.0 - (pow(sin((radians(c.dec) - radians(a.dec)) / 2), 2)
                + cos(radians(a.dec)) * cos(radians(c.dec))
                  * pow(sin((radians(c.ra) - radians(a.ra)) / 2), 2)))))) AS sep
  FROM alerts a, cat c
), ranked AS (
  SELECT event_id, main_type,
         row_number() OVER (PARTITION BY event_id ORDER BY sep, cat_id) AS rn
  FROM pairs WHERE sep <= 2.0
)
SELECT a.event_id,
       COALESCE(r.main_type, 'Unknown') AS cdsxmatch
FROM alerts a LEFT JOIN ranked r ON a.event_id = r.event_id AND r.rn = 1
"""


@query("xmatch_enrich", oracle=ORACLE_XMATCH_ENRICH)
def q_xmatch_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``cdsxmatch`` enrichment (``ztf/science.py:84-197``): each alert
    labeled with its nearest catalog class within 2°, else Unknown —
    healpix-bucketed candidates, exact refine, deterministic
    (sep, id) nearest ranking, left join back. Oracle: brute-force
    cross join + the identical haversine tree + row_number."""
    from fink_broker_spark.enrich.xmatch import crossmatch_enrich

    # spread the alert scan: pixelization + the haversine refine run in
    # the scan-side stage of the broadcast join (guide §2.5)
    alerts = ensure_scan_parallelism(
        load_table(spark, sf_dir, "events").select(
            "event_id",
            (((F.col("event_id") * 193) % 3600) / 10.0).alias("ra"),
            ((((F.col("user_id") * 37) % 1200) / 10.0) - 60.0).alias("dec"),
        )
    )
    catalog = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("cat_id"),
        (((F.col("s_suppkey") * 131) % 3600) / 10.0).alias("ra"),
        ((((F.col("s_suppkey") * 61) % 1200) / 10.0) - 60.0).alias("dec"),
        F.element_at(
            F.array(F.lit("Star"), F.lit("Galaxy"), F.lit("QSO"), F.lit("YSO")),
            (F.col("s_suppkey") % 4 + 1).cast("int"),
        ).alias("main_type"),
    )
    out = crossmatch_enrich(alerts, catalog, radius_deg=2.0)
    return out.select("event_id", "cdsxmatch")


ORACLE_CONE_CROSSMATCH = """
WITH ev AS (
  SELECT event_id, event_id % 360 AS ex, (user_id * 7) % 180 AS ey
  FROM events
), cat AS (
  SELECT s_suppkey, (s_suppkey * 13) % 360 AS sx, (s_suppkey * 29) % 180 AS sy
  FROM supplier
)
SELECT event_id, count(*) AS n_matches, MIN(s_suppkey) AS best_supp,
       MIN((ex - sx) * (ex - sx) + (ey - sy) * (ey - sy)) AS min_d2
FROM ev JOIN cat
  ON abs(ex - sx) <= 1 AND abs(ey - sy) <= 1
 AND (ex - sx) * (ex - sx) + (ey - sy) * (ey - sy) <= 2
GROUP BY event_id
"""


@query("cone_crossmatch", oracle=ORACLE_CONE_CROSSMATCH)
def q_cone_crossmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cone-search crossmatch via neighbor-cell bucketing + exact refine.

    The reference's crossmatch joins each alert to catalog sources within
    a max radius by healpix-bucketing the sky (``ztf/science.py:84-197``;
    pixelization UDF ``common/spark_utils.py:529-609``). Re-expressed on
    an integer degree grid for oracle exactness: events and a supplier
    "catalog" get deterministic (x, y) grid coordinates; a match is
    squared distance ≤ 2.

    100 TB plan: the small catalog is expanded ×9 to its neighbor cells
    and **broadcast**; candidates come from an equi-join on the cell key
    (never a cross join), then the exact radius predicate refines — the
    standard bucket-prune-refine spatial join.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        (F.col("event_id") % 360).alias("ex"),
        ((F.col("user_id") * 7) % 180).alias("ey"),
    )
    cat = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 13) % 360).alias("sx"),
        ((F.col("s_suppkey") * 29) % 180).alias("sy"),
    )
    cat9 = (
        cat.select("*", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])).alias("dx"))
        .select("*", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])).alias("dy"))
        .select(
            "s_suppkey", "sx", "sy",
            (F.col("sx") + F.col("dx")).alias("cellx"),
            (F.col("sy") + F.col("dy")).alias("celly"),
        )
    )
    d2 = (F.col("ex") - F.col("sx")) * (F.col("ex") - F.col("sx")) + (
        F.col("ey") - F.col("sy")
    ) * (F.col("ey") - F.col("sy"))
    return (
        ev.join(
            F.broadcast(cat9),
            (F.col("ex") == F.col("cellx")) & (F.col("ey") == F.col("celly")),
        )
        .filter(d2 <= 2)
        .groupBy("event_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("s_suppkey").alias("best_supp"),
            F.min(d2).alias("min_d2"),
        )
    )


ORACLE_GRID_SMOOTH = """
WITH cells AS (
  SELECT CAST(floor(((CAST(user_id % 181 AS DOUBLE) - 90) + 90.0)
              / 10.0) * 36
         + floor((value - floor(value / 360.0) * 360.0) / 10.0)
           AS BIGINT) AS pix,
         count(*) AS n
  FROM events
  -- finite-value domain, mirroring the engine (nanemb layout, r10)
  WHERE value IS NULL OR isfinite(value)
  GROUP BY 1
),
rc AS (SELECT pix // 36 AS r, pix % 36 AS c, n FROM cells),
offs AS (
  SELECT dr, dc
  FROM (VALUES (-1), (0), (1)) a(dr), (VALUES (-1), (0), (1)) b(dc)
),
contrib AS (
  SELECT r + dr AS tr, ((c + dc) % 36 + 36) % 36 AS tc, n
  FROM rc, offs
  WHERE r + dr BETWEEN 0 AND 18
),
sums AS (
  SELECT tr, tc, SUM(n) AS nbr_sum, count(*) AS nbr_cells
  FROM contrib GROUP BY tr, tc
)
SELECT rc.r * 36 + rc.c AS pix, rc.n, s.nbr_sum, s.nbr_cells,
       CAST(s.nbr_sum AS DOUBLE) / CAST(s.nbr_cells AS DOUBLE)
         AS smoothed
FROM rc JOIN sums s ON s.tr = rc.r AND s.tc = rc.c
"""


@query("grid_smooth", oracle=ORACLE_GRID_SMOOTH, bigint=("nbr_sum",))
def q_grid_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3×3 stencil smoothing over the 10° sky grid — the
    convolution/neighbor-average operator class (density smoothing,
    matched-filter prep) expressed relationally: each occupied cell
    explodes into its ≤9 neighbor TARGETS (RA wraps mod 36; dec rows
    span 0..18 — the +90 pole edge is its own row — and clamp at both
    ends), one groupBy per target sums the neighborhood,
    and the smoothed value is a double division of exact counts by the
    real (clamp-aware) neighbor count. Empty cells inside a
    neighborhood contribute zero by construction, so the stencil is
    sparse: shuffle volume is 9 × occupied cells, never 648 × 9.

    Domain: finite values only (NULL rows kept — their pix stays a
    NULL cell, as before): a NaN/Inf coordinate silently corrupts
    Spark's floor(double) where DuckDB's BIGINT cast hard-errors
    (nanemb driftlab layout)."""
    from fink_broker_spark.functions.spatial import grid_pixel_expr

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNull() | _finite("value")
    )
    ra = F.col("value") - F.floor(F.col("value") / 360.0) * 360.0
    dec = (F.col("user_id") % 181 - 90).cast("double")
    cells = (
        ev.select(grid_pixel_expr(ra, dec, cell_deg=10.0).alias("pix"))
        .groupBy("pix")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.expr("pix div 36").alias("r"),
            F.expr("pix % 36").alias("c"),
            "n",
        )
    )
    offs = spark.range(9).select(
        (F.col("id") / 3).cast("long").alias("dr_raw"),
        (F.col("id") % 3).alias("dc_raw"),
    ).select(
        (F.col("dr_raw") - 1).alias("dr"), (F.col("dc_raw") - 1).alias("dc")
    )
    contrib = (
        cells.crossJoin(F.broadcast(offs))
        .select(
            (F.col("r") + F.col("dr")).alias("tr"),
            F.pmod(F.col("c") + F.col("dc"), F.lit(36)).alias("tc"),
            "n",
        )
        # dec rows span 0..18: (dec+90)/10 reaches 18 at the +90 pole
        # (grid_pixel_expr does not fold the top edge down), so the
        # clamp must keep row 18 or occupied polar cells silently
        # vanish from the smoothed report (review-caught)
        .filter((F.col("tr") >= 0) & (F.col("tr") <= 18))
    )
    sums = contrib.groupBy("tr", "tc").agg(
        F.sum("n").alias("nbr_sum"),
        F.count(F.lit(1)).alias("nbr_cells"),
    )
    return (
        cells.join(
            sums,
            (F.col("r") == F.col("tr")) & (F.col("c") == F.col("tc")),
        )
        .select(
            (F.col("r") * 36 + F.col("c")).alias("pix"),
            "n",
            "nbr_sum",
            "nbr_cells",
            (
                F.col("nbr_sum").cast("double")
                / F.col("nbr_cells").cast("double")
            ).alias("smoothed"),
        )
    )


ORACLE_SKY_KNN = """
WITH q32 AS (
  SELECT s_suppkey,
         (s_suppkey * 13) % 360 AS qx, (s_suppkey * 29) % 180 AS qy
  FROM supplier
  ORDER BY md5(CAST(s_suppkey AS VARCHAR)), s_suppkey LIMIT 32
),
ev AS (
  SELECT event_id, event_id % 360 AS ex, (user_id * 7) % 180 AS ey
  FROM events WHERE user_id IS NOT NULL
),
cand AS (
  SELECT q.s_suppkey, e.event_id,
         CAST((e.ex - q.qx) * (e.ex - q.qx)
              + (e.ey - q.qy) * (e.ey - q.qy) AS BIGINT) AS d2
  FROM ev e CROSS JOIN q32 q
)
SELECT s_suppkey, event_id, d2, knn_rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY s_suppkey
                               ORDER BY d2, event_id) AS knn_rank
  FROM cand
) WHERE knn_rank <= 3
"""


@query("sky_knn", oracle=ORACLE_SKY_KNN)
def q_sky_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor crossmatch: for a bounded deterministic query
    set (32 md5-selected catalog sources on the cone_crossmatch integer
    grid) find the k=3 nearest events by exact squared grid distance —
    the "nearest counterpart" query next to cone_crossmatch's
    fixed-radius match.

    Plan: the query side is hard-bounded (TakeOrderedAndProject, never
    a global sort) and BROADCAST against the event scan — for a bounded
    query set, one linear scan is the honest exact-kNN plan (the
    ANN family covers the large-query-side regime); per-query top-k is
    a k-deep window over |queries|×|events| candidates.
    """
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 13) % 360).alias("qx"),
        ((F.col("s_suppkey") * 29) % 180).alias("qy"),
    )
    q32 = sup.orderBy(
        F.md5(F.col("s_suppkey").cast("string")), F.col("s_suppkey")
    ).limit(32)
    ev = ensure_scan_parallelism(
        load_table(spark, sf_dir, "events")
        # an event with no user key has no grid position (nullfk lakes):
        # a NULL distance must not compete in the ordering on either
        # engine (Spark ranks NULLS FIRST, DuckDB LAST)
        .filter(F.col("user_id").isNotNull())
        .select(
            "event_id",
            (F.col("event_id") % 360).alias("ex"),
            ((F.col("user_id") * 7) % 180).alias("ey"),
        )
        # the |events|×32 distance fan-out runs in the scan stage —
        # spread it across cores (guide §2.5; measured 4.5 → 0.8 s)
    )
    d2 = (F.col("ex") - F.col("qx")) * (F.col("ex") - F.col("qx")) + (
        F.col("ey") - F.col("qy")
    ) * (F.col("ey") - F.col("qy"))
    w = Window.partitionBy("s_suppkey").orderBy("d2", "event_id")
    return (
        ev.crossJoin(F.broadcast(q32))
        .select("s_suppkey", "event_id", d2.cast("long").alias("d2"))
        .select(
            "s_suppkey",
            "event_id",
            "d2",
            F.row_number().over(w).alias("knn_rank"),
        )
        .filter(F.col("knn_rank") <= 3)
    )
