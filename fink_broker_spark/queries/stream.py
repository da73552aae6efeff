"""Structured Streaming queries, each replayed from a staged directory
to a batch-equivalent table.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fink_broker_spark.core.session import configure_session
from fink_broker_spark.queries.common import _finite
from fink_broker_spark.queries.registry import query
from fink_broker_spark.sources.parquet import load_table
from fink_broker_spark.streaming.replay import replay_to_table


@contextlib.contextmanager
def _stream_stage(sf_dir: str, table: str):
    """Directory the file-stream source can replay for *table*, for the
    length of the ``with`` block.

    The file source streams *directories*: a directory-of-parts table
    (multi-file lake) streams as-is; a single-file table gets staged
    behind a symlink dir (falling back to a copy on filesystems
    without symlinks), removed again when the block ends — a drained
    replay's memory-sink table no longer reads it."""
    import shutil
    import tempfile

    src = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(src):
        yield src
        return
    stage = tempfile.mkdtemp(prefix="fbs_replay_")
    try:
        try:
            os.symlink(src, os.path.join(stage, f"{table}.parquet"))
        except OSError:
            shutil.copy(src, os.path.join(stage, f"{table}.parquet"))
        yield stage
    finally:
        shutil.rmtree(stage, ignore_errors=True)


ORACLE_STREAM_REPLAY = """
SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type
"""


@query("stream_replay_counts", oracle=ORACLE_STREAM_REPLAY)
def q_stream_replay_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming replay of the events table (file stream,
    AvailableNow drain) must equal the batch answer — the reference's CI
    invariant (``bin/fink_test_ztf:100-148``). The oracle *is* the batch
    group-count."""
    configure_session(spark)
    with _stream_stage(sf_dir, "events") as stage:
        return replay_to_table(
            spark,
            stage,
            lambda sdf: sdf.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n_events")
            ),
            output_mode="complete",
        )


ORACLE_STREAM_TOPK_USERS = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
FROM events WHERE user_id IS NOT NULL
GROUP BY user_id
ORDER BY n_events DESC, user_id
LIMIT 10
"""


@query("stream_topk_users", oracle=ORACLE_STREAM_TOPK_USERS)
def q_stream_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k snapshot: replay the events table as a file
    stream, maintain per-USER running counts in keyed streaming state
    (|users| distinct keys — real keyed-state cardinality, unlike the
    5-group event_type replay), and emit the final top-10 leaderboard.
    The oracle is the batch top-k — the stream/batch equivalence
    invariant, per key this time.

    Plan: streaming groupBy state holds one long per user; the
    leaderboard is a batch TakeOrderedAndProject over the drained
    result table.  Complete output mode re-emits the running table per
    trigger — fine for a drained AvailableNow replay; a continuous
    100 TB deployment would run update mode into an idempotent
    merge sink (`sinks/parquet.py` manifest writer) instead, keeping
    the same per-key state.  NULL users carry no identity and are
    excluded on both sides."""
    configure_session(spark)
    with _stream_stage(sf_dir, "events") as stage:
        totals = replay_to_table(
            spark,
            stage,
            lambda sdf: sdf.filter(F.col("user_id").isNotNull())
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events")),
            output_mode="complete",
        )
    return totals.orderBy(F.desc("n_events"), "user_id").limit(10)


@query(
    "stream_dedup_watermark",
    rows_only="stateful streaming operator; batch equivalence is asserted in tests/test_streaming.py",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup (the §2.11 extension). Stateful
    streaming op → rows-only driver check; batch-equivalence is asserted
    in tests/test_streaming.py."""
    from fink_broker_spark.core.time import ensure_event_ts
    from fink_broker_spark.streaming.dedup import stream_dedup

    configure_session(spark)
    with _stream_stage(sf_dir, "events") as stage:
        return replay_to_table(
            spark,
            stage,
            lambda sdf: stream_dedup(
                ensure_event_ts(sdf).select(
                    "user_id", "event_type", "ts"
                ),
                keys=["user_id", "event_type"],
                event_time_col="ts",
                watermark_delay="1 hour",
            ).drop("ts"),
            output_mode="append",
        )


ORACLE_STREAM_STATIC_ENRICH = """
SELECT c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS value_cents
FROM events JOIN customer ON user_id = c_custkey
-- finite-value domain, mirroring the engine (nanemb layout, r10)
WHERE value IS NULL OR isfinite(value)
GROUP BY c_mktsegment
"""


@query("stream_static_enrich", oracle=ORACLE_STREAM_STATIC_ENRICH)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment — THE canonical Structured-Streaming
    deployment shape (a fact stream joined to a broadcast dimension,
    then aggregated): replay the events table as a file stream, join
    each micro-batch to the static customer dimension on user_id, and
    maintain running per-market-segment counts + exact value cents.
    The oracle is the equivalent batch join+aggregate — the
    stream ≡ batch invariant, now across a join (the reference's
    raw2science enrichment joins static CDS catalogs into the alert
    stream the same way).

    Plan: the static side broadcasts into every micro-batch (no
    state beyond the aggregation); streaming state is one row per
    segment.  ``value`` pins to DOUBLE before the cent tree so a
    DECIMAL-typed physical lake cannot change the arithmetic
    (driftlab decimalprice rule)."""
    configure_session(spark)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    cents = F.floor(
        F.col("value").cast("double") * 100 + F.lit(0.5)
    ).cast("long")
    with _stream_stage(sf_dir, "events") as stage:
        return replay_to_table(
            spark,
            stage,
            # finite-value domain (NULL kept — NULL cents SUM-skip as
            # before): Spark floor(double) silently corrupts NaN/Inf
            # where the oracle's BIGINT cast hard-errors (nanemb
            # layout)
            lambda sdf: sdf.filter(
                F.col("value").isNull() | _finite("value")
            )
            .join(F.broadcast(dim), "user_id")
            .select("segment", cents.alias("cents"))
            .groupBy("segment")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("cents").alias("value_cents"),
            ),
            output_mode="complete",
        )


ORACLE_STREAM_SLIDING_COUNTS = """
-- make_timestamp(epoch_us(ts)) pins the value to a NAIVE UTC wall
-- time whatever the lake's physical convention: epoch_us is
-- instant-absolute on TIMESTAMPTZ and UTC-assuming on naive, so a
-- tz-aware writer (tzutc driftlab layout) neither shifts the window
-- nor leaks a TIMESTAMPTZ output type, independent of the oracle
-- session's TimeZone setting
WITH w AS (
  SELECT unnest([date_trunc('hour', make_timestamp(epoch_us(ts))),
                 date_trunc('hour', make_timestamp(epoch_us(ts)))
                   - INTERVAL 1 HOUR]) AS window_start,
         event_type
  FROM events
)
SELECT window_start, event_type, COUNT(*) AS n_events
FROM w GROUP BY window_start, event_type
"""


@query("stream_sliding_counts", oracle=ORACLE_STREAM_SLIDING_COUNTS)
def q_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming aggregation: replay the events table as
    a file stream and count events per (2-hour window, 1-hour slide,
    event type) — the overlapping-window cousin of
    ``stream_replay_counts``'s global group-count.  Each event lands in
    exactly two epoch-aligned windows; the oracle re-derives them with
    ``date_trunc`` arithmetic, pinning Spark's window-alignment
    semantics (not just row counts) under the correctness gate.
    """
    configure_session(spark)
    from fink_broker_spark.core.time import nanos_to_timestamp

    def _agg(sdf):
        # the file stream reads the lake's physical layout raw: a
        # TIMESTAMP(NANOS) writer arrives as bigint ns under the
        # engine's nanosAsLong conf, a micros writer as timestamp_ntz —
        # normalize to a µs timestamp exactly like load_table's batch
        # path before windowing
        dt = dict(sdf.dtypes).get("ts")
        if dt == "bigint":
            sdf = sdf.withColumn("ts", nanos_to_timestamp("ts"))
        elif dt == "timestamp_ntz":
            sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
        return sdf.groupBy(
            F.window("ts", "2 hours", "1 hour"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n_events"))

    with _stream_stage(sf_dir, "events") as stage:
        drained = replay_to_table(
            spark, stage, _agg, output_mode="complete"
        )
    return drained.select(
        F.col("window.start").alias("window_start"),
        "event_type",
        "n_events",
    )
