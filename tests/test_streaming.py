"""Streaming contract: replay == batch; partitioned append sink; compaction."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from fink_broker_spark.core.time import with_night_partitions
from fink_broker_spark.plans.partitioning import estimate_coalesce_partitions
from fink_broker_spark.sinks.parquet import compact_night, stream_to_parquet
from fink_broker_spark.sources.parquet import file_stream, load_table, wait_for_path
from fink_broker_spark.streaming.replay import replay_to_table, run_stream
from tests.conftest import SF0001


def _stage_events(tmp_path, sf_dir=SF0001):
    stage = tmp_path / "events_dir"
    stage.mkdir()
    os.symlink(
        os.path.join(sf_dir, "events.parquet"), stage / "events.parquet"
    )
    return str(stage)


def test_replay_equals_batch(spark, tmp_path):
    """The reference's CI invariant (bin/fink_test_ztf): streaming the same
    files yields the batch answer."""
    stage = _stage_events(tmp_path)
    streamed = replay_to_table(
        spark,
        stage,
        lambda sdf: sdf.groupBy("event_type").count(),
        output_mode="complete",
    )
    batch = spark.read.parquet(stage).groupBy("event_type").count()
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stream2raw_pipeline(spark, tmp_path):
    """Miniature stream2raw: file stream → night partition cols → parquet
    append sink (bin/ztf/stream2raw.py:136-167 shape)."""
    stage = _stage_events(tmp_path)
    out = str(tmp_path / "raw")
    ckpt = str(tmp_path / "ckpt")
    sdf = file_stream(spark, stage)
    from fink_broker_spark.core.time import ensure_event_ts

    enriched = with_night_partitions(
        ensure_event_ts(sdf), "ts"
    ).withColumn("ingest_version", F.lit("fbs-0.1"))
    q = stream_to_parquet(enriched, out, ckpt, available_now=True)
    q.awaitTermination(120)
    assert wait_for_path(out, 10)
    written = spark.read.parquet(out)
    assert written.count() == 1000
    # hive partition layout on disk
    years = [d for d in os.listdir(out) if d.startswith("year=")]
    assert years, os.listdir(out)


def test_compaction_stats_driven(spark, tmp_path):
    df = load_table(spark, SF0001, "lineitem")
    n = estimate_coalesce_partitions(df, target_partition_mb=128.0)
    assert n >= 1
    out = str(tmp_path / "compact")
    used = compact_night(df, out, partition_cols=(), target_partition_mb=128.0)
    assert used == n
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) == n
    assert spark.read.parquet(out).count() == df.count()


def test_stream_stream_join_equals_batch(spark, tmp_path):
    """Watermarked stream-stream join (GCN×ZTF shape, ztf/mm_utils.py:
    154-235): purchases ⋈ errors by user within ±1h equals the batch
    range join over the same files."""
    from fink_broker_spark.core.time import ensure_event_ts
    from fink_broker_spark.streaming.join import stream_stream_join
    from fink_broker_spark.streaming.replay import run_stream

    stage = _stage_events(tmp_path)

    def sides(df):
        df = ensure_event_ts(df)
        left = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("uid"),
            F.col("event_id").alias("l_id"),
            F.col("ts").alias("l_ts"),
        )
        right = df.filter(F.col("event_type") == "error").select(
            F.col("user_id").alias("uid"),
            F.col("event_id").alias("r_id"),
            F.col("ts").alias("r_ts"),
        )
        return left, right

    sl, sr = sides(file_stream(spark, stage))
    joined = stream_stream_join(
        sl, sr, on=["uid"], left_time="l_ts", right_time="r_ts",
        tolerance="1 hour", watermark="2 hours",
    ).select("l_id", "r_id")
    q = run_stream(joined, available_now=True, query_name="ssj")
    q.awaitTermination(180)
    if q.isActive:
        q.stop()
    streamed = sorted(map(tuple, spark.table("ssj").collect()))

    bl, br = sides(spark.read.parquet(stage))
    batch = sorted(
        map(
            tuple,
            bl.join(
                br,
                (bl.uid == br.uid)
                & (br.r_ts >= bl.l_ts - F.expr("INTERVAL 1 hour"))
                & (br.r_ts <= bl.l_ts + F.expr("INTERVAL 1 hour")),
            )
            .select("l_id", "r_id")
            .collect(),
        )
    )
    assert streamed == batch
    assert len(streamed) > 0


def test_csv_complete_mode_snapshot(spark, tmp_path):
    """Complete-mode → CSV workaround (common/spark_utils.py:126-155):
    a streaming aggregate snapshots to CSV per micro-batch."""
    from fink_broker_spark.sinks.csv import stream_complete_to_csv

    stage = _stage_events(tmp_path)
    out = str(tmp_path / "stats.csv")
    sdf = file_stream(spark, stage).groupBy("event_type").count()
    q = stream_complete_to_csv(sdf, out, available_now=True)
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    import glob

    snaps = sorted(glob.glob(out + ".*"))
    assert snaps
    import pandas as pd

    last = pd.read_csv(snaps[-1])
    batch = dict(
        (r.event_type, r["count"])
        for r in spark.read.parquet(stage).groupBy("event_type").count().collect()
    )
    assert dict(zip(last.event_type, last["count"])) == batch


def test_query_manager_concurrent(spark, tmp_path):
    """Two concurrent queries off one source; bounded run then stop-all
    (awaitAnyTermination / -exit_after shape, bin/ztf/raw2science.py:144)."""
    from fink_broker_spark.streaming.manager import QueryManager
    from fink_broker_spark.streaming.replay import run_stream

    stage = _stage_events(tmp_path)
    mgr = QueryManager(spark)
    sdf = file_stream(spark, stage)
    mgr.add(
        run_stream(
            sdf.filter(F.col("event_type") == "purchase"),
            available_now=True,
            query_name="qm_purchases",
        )
    )
    mgr.add(
        run_stream(
            sdf.filter(F.col("event_type") == "error"),
            available_now=True,
            query_name="qm_errors",
        )
    )
    counts = mgr.exit_after(90)
    assert set(counts) == {"qm_purchases", "qm_errors"}
    assert all(v > 0 for v in counts.values())


def test_windowed_aggregation_stream_equals_batch(spark, tmp_path):
    """Watermarked tumbling-window aggregate (the §2.11 extension the
    reference defers to nightly batch): stream == batch per hour window."""
    from fink_broker_spark.core.time import ensure_event_ts
    from fink_broker_spark.streaming.replay import replay_to_table, run_stream

    stage = _stage_events(tmp_path)

    def agg(df):
        return (
            ensure_event_ts(df)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("window.start").alias("ws"), "event_type", "n"
            )
        )

    streamed = replay_to_table(spark, stage, agg, output_mode="complete")
    batch = agg(spark.read.parquet(stage))
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )
    assert streamed.count() > 0


def test_session_window_stream_equals_batch(spark, tmp_path):
    """Native session_window sessionization: the watermarked stream
    drains to the same session set the batch plan computes."""
    from fink_broker_spark.core.time import ensure_event_ts
    from fink_broker_spark.streaming.replay import replay_to_table, run_stream
    from fink_broker_spark.streaming.sessions import sessionize

    stage = _stage_events(tmp_path)

    def sess(df, streaming):
        staged = ensure_event_ts(df)
        if streaming:
            staged = staged.withWatermark("ts", "1 hour")
        return sessionize(staged, "user_id", "ts", "30 minutes")

    streamed = replay_to_table(
        spark, stage, lambda df: sess(df, True), output_mode="complete"
    )
    batch = sess(spark.read.parquet(stage), False)
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )
    assert streamed.count() > 0


def test_chunked_ingest_covers_night(spark, tmp_path):
    """Chunked archival ingest (bin/ztf/archive_science.py:60-66): the
    chunk union equals the whole night; each chunk is bounded."""
    from fink_broker_spark.archive.chunked import ingest_chunks, list_night_files
    from fink_broker_spark.sources.parquet import load_table

    out = str(tmp_path / "many_files")
    load_table(spark, SF0001, "events").repartition(7).write.parquet(out)
    files = list_night_files(spark, out)
    assert len(files) == 7

    counts = ingest_chunks(
        spark, out, process=lambda df, i: df.count(), chunk_files=3
    )
    assert len(counts) == 3
    assert sum(counts) == 1000


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState running totals: after draining the stream
    in per-file micro-batches, the LAST emitted row per key equals the
    batch aggregate (state carried across micro-batches)."""
    from fink_broker_spark.streaming.replay import run_stream
    from fink_broker_spark.streaming.stateful import running_totals

    # two files → at least two micro-batches with maxFilesPerTrigger=1
    stage = str(tmp_path / "events_2files")
    import shutil

    os.makedirs(stage)
    src = os.path.join(SF0001, "events.parquet")
    from fink_broker_spark.sources.parquet import load_table

    df = load_table(spark, SF0001, "events")
    df.filter(F.col("event_id") % 2 == 0).write.parquet(stage + "/a")
    df.filter(F.col("event_id") % 2 == 1).write.parquet(stage + "/b")
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    i = 0
    for sub in ("a", "b"):
        for f in os.listdir(os.path.join(stage, sub)):
            if f.endswith(".parquet"):
                shutil.copy(
                    os.path.join(stage, sub, f),
                    os.path.join(flat, f"part{i}.parquet"),
                )
                i += 1
    assert i >= 2

    sdf = file_stream(spark, flat, max_files_per_trigger=1)
    totals = running_totals(
        sdf.select(F.col("event_type").cast("string").alias("event_type"), "value"),
        keys=["event_type"],
        value_col="value",
    )
    q = run_stream(totals, output_mode="update", available_now=True,
                   query_name="running_totals")
    q.awaitTermination(180)
    if q.isActive:
        q.stop()
    emitted = spark.table("running_totals").toPandas()
    # memory sink appends every update; keep the last emission per key
    last = emitted.groupby("event_type").tail(1).set_index("event_type")
    batch = {
        r.event_type: (r.n, r.total)
        for r in df.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(last.index) == set(batch)
    for k, (n, total) in batch.items():
        assert last.loc[k, "n"] == n
        assert abs(last.loc[k, "total"] - total) < 1e-6


def test_overwrite_night_is_partition_scoped(spark, tmp_path):
    """Dynamic partition overwrite replaces only the re-run night; the
    other nights' data survives byte-for-byte."""
    from fink_broker_spark.sinks.parquet import overwrite_night

    out = str(tmp_path / "lake")
    base = spark.createDataFrame(
        [(1, "2024", "01", "01", 10.0), (2, "2024", "01", "02", 20.0)],
        "id bigint, year string, month string, day string, v double",
    )
    base.write.partitionBy("year", "month", "day").parquet(out)

    redo = spark.createDataFrame(
        [(3, "2024", "01", "02", 99.0), (4, "2024", "01", "02", 98.0)],
        "id bigint, year string, month string, day string, v double",
    )
    overwrite_night(redo, out)

    back = spark.read.parquet(out)
    assert back.filter("day = '01'").count() == 1  # untouched night
    got = sorted(r.id for r in back.filter("day = '02'").collect())
    assert got == [3, 4]  # fully replaced night, old row 2 gone


def test_overwrite_night_refuses_unscoped(spark, tmp_path):
    import pytest

    from fink_broker_spark.sinks.parquet import overwrite_night

    df = spark.range(3)
    with pytest.raises(ValueError, match="partition columns"):
        overwrite_night(df, str(tmp_path / "x"), partition_cols=())


def test_transform_with_state_running_totals(spark, tmp_path):
    """transformWithStateInPandas twin of running_totals: last emission
    per key equals the batch aggregate. Requires the RocksDB state-store
    provider (scoped to this test, restored after)."""
    from fink_broker_spark.streaming.replay import run_stream
    from fink_broker_spark.streaming.stateful import (
        running_totals_tws,
        tws_available,
    )

    if not tws_available():
        import pytest

        pytest.skip(
            "transformWithStateInPandas needs the google.protobuf "
            "runtime (absent in this container); applyInPandasWithState "
            "twin covers the semantics"
        )

    df = load_table(spark, SF0001, "events")
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    df.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        flat + "/.a", mode="overwrite"
    )
    import shutil

    i = 0
    for sub in (".a",):
        for f in os.listdir(os.path.join(flat, sub)):
            if f.endswith(".parquet"):
                shutil.move(
                    os.path.join(flat, sub, f),
                    os.path.join(flat, f"part{i}.parquet"),
                )
                i += 1
        shutil.rmtree(os.path.join(flat, sub))
    df.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        flat + "/.b", mode="overwrite"
    )
    for f in os.listdir(flat + "/.b"):
        if f.endswith(".parquet"):
            shutil.move(
                os.path.join(flat, ".b", f), os.path.join(flat, f"part{i}.parquet")
            )
            i += 1
    shutil.rmtree(flat + "/.b")
    assert i >= 2

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        sdf = file_stream(spark, flat, max_files_per_trigger=1)
        totals = running_totals_tws(
            sdf.select(
                F.col("event_type").cast("string").alias("event_type"), "value"
            ),
            keys=["event_type"],
            value_col="value",
        )
        q = run_stream(totals, output_mode="update", available_now=True,
                       query_name="running_totals_tws")
        q.awaitTermination(180)
        if q.isActive:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)
    emitted = spark.table("running_totals_tws").toPandas()
    last = emitted.groupby("event_type").tail(1).set_index("event_type")
    batch = {
        r.event_type: (r.n, r.total)
        for r in df.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(last.index) == set(batch)
    for k, (n, total) in batch.items():
        assert last.loc[k, "n"] == n
        assert abs(last.loc[k, "total"] - total) < 1e-6


def test_foreach_batch_idempotent_on_replay(spark, tmp_path):
    """A replayed micro-batch (same batch_id — Structured Streaming's
    at-least-once contract for foreachBatch) must not duplicate rows:
    the batch_id-partitioned dynamic overwrite makes the retry land on
    exactly its own partition."""
    from fink_broker_spark.sinks.parquet import idempotent_foreach_batch

    stage = _stage_events(tmp_path)
    out = str(tmp_path / "once")
    writer = idempotent_foreach_batch(out)

    q = run_stream(
        file_stream(spark, stage),
        output_mode="append",
        available_now=True,
        fmt=None,
        foreach_batch=writer,
    )
    q.awaitTermination(120)
    first = spark.read.parquet(out)
    n = first.count()
    assert n == 1000
    batch_ids = [r.batch_id for r in first.select("batch_id").distinct().collect()]

    # simulate the crash-replay: re-deliver one batch with the same id
    replay_df = spark.read.parquet(stage)
    writer(replay_df, int(batch_ids[0]))
    again = spark.read.parquet(out)
    assert again.count() == n  # no duplication
    assert sorted(
        r.batch_id for r in again.select("batch_id").distinct().collect()
    ) == sorted(batch_ids)


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    """Stream-static join: a streaming fact enriched against a broadcast
    static dimension (the reference's per-batch catalog crossmatch shape,
    fink_broker/ztf/science.py:84-197, minus the UDF) equals the batch
    join. Stateless — no watermark needed; the dim re-broadcasts per
    micro-batch."""
    stage = _stage_events(tmp_path)
    dim = spark.createDataFrame(
        [("purchase", "rev"), ("error", "ops"), ("click", "growth")],
        "event_type string, team string",
    )

    def enrich(df):
        return (
            df.join(F.broadcast(dim), "event_type", "left")
            .groupBy(F.coalesce("team", F.lit("unassigned")).alias("team"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    streamed = replay_to_table(spark, stage, enrich, output_mode="complete")
    batch = enrich(spark.read.parquet(stage))
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )
    assert streamed.count() >= 2


def test_observed_metrics_per_microbatch(spark, tmp_path):
    """Dataset.observe surfaces in-plan aggregates per micro-batch — the
    no-extra-scan monitoring path. The observed row count across batches
    must equal the staged input exactly."""
    from fink_broker_spark.streaming.manager import (
        pop_observed_metrics,
        with_observed_metrics,
    )

    stage = _stage_events(tmp_path)
    sdf = with_observed_metrics(
        file_stream(spark, stage),
        "ingest",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("value").alias("sum_value"),
    )
    q = run_stream(
        sdf.select("event_id"),
        output_mode="append",
        available_now=True,
        fmt="memory",
        query_name="obs_test",
    )
    q.awaitTermination(120)
    metrics = pop_observed_metrics(q, "ingest")
    assert metrics, "no observed metrics recorded"
    assert sum(m["n_rows"] for m in metrics) == 1000


def test_checkpoint_restart_resumes_exactly_once(spark, tmp_path):
    """Kill a streaming query after its first micro-batch; a new query on
    the SAME checkpoint must resume from the recorded offset — every
    input row lands in the sink exactly once across the two runs (the
    reference's nightly stop/start cycle, bin/fink:31-160)."""
    from fink_broker_spark.sinks.parquet import idempotent_foreach_batch

    # two source files so the stream has two micro-batches to split
    ev = load_table(spark, SF0001, "events").select(
        "event_id", "user_id", "event_type"
    )
    stage = str(tmp_path / "src")
    ev.repartition(2).write.parquet(stage)
    total = ev.count()

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    writer = idempotent_foreach_batch(out)

    q1 = run_stream(
        file_stream(spark, stage, max_files_per_trigger=1),
        checkpoint_dir=ckpt,
        output_mode="append",
        fmt=None,
        foreach_batch=writer,
    )
    # wait for the first committed batch, then kill mid-stream
    deadline = __import__("time").monotonic() + 60
    while __import__("time").monotonic() < deadline:
        if any(p["numInputRows"] > 0 for p in q1.recentProgress):
            break
        __import__("time").sleep(0.2)
    q1.stop()
    q1.awaitTermination(30)
    first = spark.read.parquet(out).count()
    assert 0 < first

    q2 = run_stream(
        file_stream(spark, stage, max_files_per_trigger=1),
        checkpoint_dir=ckpt,
        output_mode="append",
        fmt=None,
        foreach_batch=writer,
        available_now=True,
    )
    q2.awaitTermination(120)
    final = spark.read.parquet(out)
    assert final.count() == total  # no loss, no duplication
    assert final.select("event_id").distinct().count() == total


def test_stream_stream_left_outer_join_emits_null_rows(spark, tmp_path):
    """LEFT OUTER stream-stream join: matched pairs equal the batch
    range join, and unmatched left rows whose join window closed before
    the final watermark are emitted exactly once with a NULL right side
    (the state-eviction semantics that bound outer-join state)."""
    from fink_broker_spark.core.time import ensure_event_ts
    from fink_broker_spark.streaming.join import stream_stream_join
    from fink_broker_spark.streaming.replay import run_stream

    stage = _stage_events(tmp_path)

    def sides(df):
        df = ensure_event_ts(df)
        left = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("uid"),
            F.col("event_id").alias("l_id"),
            F.col("ts").alias("l_ts"),
        )
        right = df.filter(F.col("event_type") == "error").select(
            F.col("user_id").alias("uid"),
            F.col("event_id").alias("r_id"),
            F.col("ts").alias("r_ts"),
        )
        return left, right

    sl, sr = sides(file_stream(spark, stage))
    joined = stream_stream_join(
        sl, sr, on=["uid"], left_time="l_ts", right_time="r_ts",
        tolerance="1 hour", watermark="2 hours", how="leftOuter",
    ).select("l_id", "r_id")
    q = run_stream(joined, available_now=True, query_name="ssj_outer")
    q.awaitTermination(180)
    if q.isActive:
        q.stop()
    streamed = sorted(
        map(tuple, spark.table("ssj_outer").collect())
    )
    assert len(streamed) == len(set(streamed))  # exactly-once emission

    bl, br = sides(spark.read.parquet(stage))
    matched = set(
        map(
            tuple,
            bl.join(
                br,
                (bl.uid == br.uid)
                & (br.r_ts >= bl.l_ts - F.expr("INTERVAL 1 hour"))
                & (br.r_ts <= bl.l_ts + F.expr("INTERVAL 1 hour")),
            )
            .select("l_id", "r_id")
            .collect(),
        )
    )
    got_matched = {t for t in streamed if t[1] is not None}
    got_null = {t[0] for t in streamed if t[1] is None}
    assert got_matched == matched
    # null-side rows are exactly the unmatched lefts whose window closed
    # before the final watermark (max event time - delay)
    import datetime

    # the authoritative cutoff is the query's own final watermark (the
    # derived max_ts - delay overshoots: watermark advancement lags one
    # trigger behind the data that moved it)
    wm_str = q.lastProgress["eventTime"]["watermark"]
    wm = datetime.datetime.fromisoformat(wm_str.replace("Z", "+00:00"))
    wm = wm.replace(tzinfo=None)
    matched_lids = {t[0] for t in matched}
    eligible = {
        r.l_id
        for r in bl.collect()
        if r.l_id not in matched_lids
        and r.l_ts + datetime.timedelta(hours=1) < wm
    }
    assert eligible <= got_null
    assert got_null.isdisjoint(matched_lids)
    assert got_null, "expected some watermark-closed unmatched lefts"


def test_session_dynamic_gap_stream_equals_batch(spark, tmp_path):
    """Dynamic per-event-gap session_window: the watermarked stream
    drains to the same session set the batch plan computes (error
    events time out in 10 minutes, the rest in 45)."""
    from fink_broker_spark.streaming.replay import replay_to_table

    stage = _stage_events(tmp_path)
    gap = F.when(F.col("event_type") == "error", F.lit("10 minutes")).otherwise(
        F.lit("45 minutes")
    )

    def sess(df, streaming):
        from fink_broker_spark.core.time import ensure_event_ts

        staged = ensure_event_ts(df)
        if streaming:
            staged = staged.withWatermark("ts", "1 hour")
        return (
            staged.groupBy("user_id", F.session_window(F.col("ts"), gap))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "user_id",
                F.col("session_window.start").alias("ws"),
                F.col("session_window.end").alias("we"),
                "n",
            )
        )

    streamed = replay_to_table(
        spark, stage, lambda df: sess(df, True), output_mode="complete"
    )
    batch = sess(spark.read.parquet(stage), False)
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )
    assert streamed.count() > 0


def test_stream_stream_join_on_healpix_pixel(spark, tmp_path):
    """The full multi-messenger composition (ztf/mm_utils.py:154-235):
    two live streams keyed by HEALPix sky pixel + time window. The
    pixelization is the same staged NESTED expression the batch
    crossmatch uses (applied to a *streaming* frame — pure column
    exprs, so Structured Streaming accepts it), and the watermarked
    join equals the batch range join over the same files."""
    from fink_broker_spark.core.time import ensure_event_ts
    from fink_broker_spark.functions.spatial import with_healpix_nest
    from fink_broker_spark.streaming.join import stream_stream_join
    from fink_broker_spark.streaming.replay import run_stream

    stage = _stage_events(tmp_path)

    def sides(df):
        df = ensure_event_ts(df)
        # deterministic synthetic sky positions (same recipe as
        # q_multires_index) so both layouts pixelize identically
        df = df.select(
            "event_id",
            "event_type",
            "ts",
            (((F.col("event_id") * 193) % 3600) / 10.0).alias("ra"),
            ((((F.col("user_id") * 37) % 1200) / 10.0) - 60.0).alias(
                "dec"
            ),
        )
        df = with_healpix_nest(df, "ra", "dec", 4, out="pix")
        left = df.filter(F.col("event_type") == "purchase").select(
            F.col("pix"),
            F.col("event_id").alias("l_id"),
            F.col("ts").alias("l_ts"),
        )
        right = df.filter(F.col("event_type") == "error").select(
            F.col("pix"),
            F.col("event_id").alias("r_id"),
            F.col("ts").alias("r_ts"),
        )
        return left, right

    sl, sr = sides(file_stream(spark, stage))
    joined = stream_stream_join(
        sl, sr, on=["pix"], left_time="l_ts", right_time="r_ts",
        tolerance="24 hours", watermark="48 hours",
    ).select("l_id", "r_id")
    q = run_stream(joined, available_now=True, query_name="mmj")
    q.awaitTermination(180)
    if q.isActive:
        q.stop()
    streamed = sorted(map(tuple, spark.table("mmj").collect()))

    bl, br = sides(spark.read.parquet(stage))
    batch = sorted(
        map(
            tuple,
            bl.join(
                br,
                (bl.pix == br.pix)
                & (br.r_ts >= bl.l_ts - F.expr("INTERVAL 24 hours"))
                & (br.r_ts <= bl.l_ts + F.expr("INTERVAL 24 hours")),
            )
            .select("l_id", "r_id")
            .collect(),
        )
    )
    assert streamed == batch
    assert len(streamed) > 0


def test_stream_queries_leave_no_temp_dirs(spark, tmp_path, monkeypatch):
    """Replay queries remove their staging and checkpoint directories
    once the drain is over; the drained table stays readable."""
    import tempfile

    import __spark_entry__ as entrymod

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    builders = entrymod.queries()
    for name in (
        "stream_replay_counts",
        "stream_topk_users",
        "stream_dedup_watermark",
        "stream_static_enrich",
        "stream_sliding_counts",
    ):
        assert builders[name](spark, SF0001).collect(), name
    assert not [p.name for p in tmp.iterdir() if p.name.startswith("fbs_")]
