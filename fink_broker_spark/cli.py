"""Service CLI — the engine's equivalent of the reference's ``fink``
launcher (``bin/fink:31-160``) and per-service scripts (``bin/<survey>/
<service>.py``), with the same service names and the argument surface of
``common/parser.py`` (night, data prefixes, trigger interval, exit_after,
backpressure) re-expressed for the parquet-native deployment.

    python -m fink_broker_spark stream2raw   -rawdata_prefix ... -night ...
    python -m fink_broker_spark raw2science  -rawdata_prefix ... -night ...
    python -m fink_broker_spark distribute   -science_prefix ... -night ...
    python -m fink_broker_spark archive      -science_prefix ... -night ...

Kafka in/out is gated (``sources/kafka.py``, ``sinks/kafka.py``); the
parquet file-stream path is fully functional and is what the nightly
CI-style replay drives.
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import Observation
from pyspark.sql import functions as F

from fink_broker_spark.core import fs as hfs
from fink_broker_spark.core.session import get_session


def _common(p: argparse.ArgumentParser) -> None:
    p.add_argument("-night", default="20240101", help="observing night YYYYMMDD")
    p.add_argument("-tinterval", type=float, default=0.0,
                   help="trigger interval seconds; 0 = as-soon-as-possible")
    p.add_argument("-exit_after", type=float, default=None,
                   help="stop all queries after N seconds (bounded run)")
    p.add_argument("-max_files_per_trigger", type=int, default=None,
                   help="file-source backpressure (maxOffsetsPerTrigger analog)")
    p.add_argument("-available_now", action="store_true",
                   help="drain everything present, then stop (replay mode)")
    p.add_argument("-cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    p.add_argument("-shuffle_partitions", type=int, default=None)


def _session(args):
    return get_session(
        app_name=f"fbs-{args.service}-{args.night}",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.shuffle_partitions,
    )


def _night_dir(prefix: str, night: str) -> str:
    return os.path.join(prefix, f"night={night}")


def _run(args, sdf, out_dir: str, ckpt: str):
    from fink_broker_spark.sinks.parquet import stream_to_parquet
    from fink_broker_spark.streaming.manager import QueryManager

    q = stream_to_parquet(
        sdf,
        out_dir,
        ckpt,
        available_now=args.available_now,
        processing_time=(
            f"{int(args.tinterval)} seconds" if args.tinterval else None
        ),
    )
    mgr = QueryManager(sdf.sparkSession)
    mgr.add(q)
    if args.exit_after is not None:
        return mgr.exit_after(args.exit_after)
    if args.available_now:
        q.awaitTermination()
        return mgr.stop_all()
    mgr.await_any_termination()
    return mgr.stop_all()


def cmd_stream2raw(args):
    """Ingest: tail the incoming directory, stamp ingestion metadata,
    append to the night-partitioned raw lake (``bin/ztf/stream2raw.py``)."""
    from fink_broker_spark.core.time import nanos_to_timestamp, with_night_partitions
    from fink_broker_spark.sources.parquet import file_stream

    spark = _session(args)
    sdf = file_stream(
        spark, args.incoming, max_files_per_trigger=args.max_files_per_trigger
    )
    if args.time_col in sdf.columns:
        dtypes = dict(sdf.dtypes)
        if dtypes.get(args.time_col) == "bigint":
            sdf = sdf.withColumn(
                args.time_col, nanos_to_timestamp(args.time_col)
            )
        sdf = with_night_partitions(sdf, args.time_col)
    sdf = sdf.withColumn("publisher", F.lit("fink_broker_spark"))
    return _run(
        args,
        sdf,
        _night_dir(args.rawdata_prefix, args.night),
        os.path.join(args.rawdata_prefix, f"ckpt_{args.night}"),
    )


def cmd_raw2science(args):
    """Enrich: stream the raw lake, apply quality cuts + the registered
    enrichment pipeline, append to the science lake
    (``bin/ztf/raw2science.py``, ``ztf/science.py:201-436``)."""
    from fink_broker_spark.enrich.pipeline import EnrichmentPipeline, Processor
    from fink_broker_spark.sources.parquet import file_stream, wait_for_path

    spark = _session(args)
    raw_dir = _night_dir(args.rawdata_prefix, args.night)
    wait_for_path(raw_dir, timeout_s=args.wait_timeout)
    sdf = file_stream(
        spark, raw_dir, max_files_per_trigger=args.max_files_per_trigger
    )
    if args.quality_cut:
        sdf = sdf.filter(F.expr(args.quality_cut))
    pipeline = EnrichmentPipeline().add(
        Processor(
            name="value_score",
            inputs=["value"],
            output="score",
            fn=lambda v: F.least(F.lit(1.0), F.col(v) / F.lit(100.0)),
        )
    )
    return _run(
        args,
        pipeline.apply(sdf),
        _night_dir(args.science_prefix, args.night),
        os.path.join(args.science_prefix, f"ckpt_{args.night}"),
    )


def cmd_distribute(args):
    """Distribute: apply every registered filter to the science lake and
    write one substream per filter (``bin/ztf/distribute.py``); Kafka
    topics in production, per-topic parquet dirs here.

    ``-single_pass`` routes every topic in ONE scan (all predicates in
    one codegen projection, explode into matched topics, one write
    partitioned by topic) instead of the reference's per-topic re-scan
    — the 100 TB distribute posture."""
    from fink_broker_spark.distribute.fanout import (
        FilterRegistry,
        fan_out,
        fan_out_single_pass,
    )
    from fink_broker_spark.sources.parquet import scan_parquet

    spark = _session(args)
    df = scan_parquet(spark, _night_dir(args.science_prefix, args.night))
    reg = FilterRegistry()
    for spec in args.filter or ["all:true"]:
        name, _, pred = spec.partition(":")
        reg.register(name, lambda d, p=pred: F.expr(p))

    if args.single_pass:
        routed = fan_out_single_pass(df, reg, topic_col="__topic")
        out = os.path.join(args.out_prefix, f"night={args.night}")
        (
            routed.write.mode("overwrite")
            .partitionBy("__topic")
            .parquet(out)
        )
        return {name: out for name in reg.names()}

    def sink(topic, fdf):
        out = os.path.join(args.out_prefix, topic, f"night={args.night}")
        fdf.write.mode("overwrite").parquet(out)
        return out

    return fan_out(df, reg, sink)


def cmd_archive(args):
    """Archive: compact the night, build the salted index table in
    stepped file chunks, compute nightly statistics (``bin/ztf/merge.py``,
    ``archive_index.py``, ``archive_science.py:60-66``,
    ``archive_statistics.py``).

    The index build walks the compacted night ``-chunk_files`` files at
    a time (the reference's 10-file ZTF / 100-file Rubin stepped loads):
    each chunk is an independent, retryable job and the serving-store
    append stays bounded regardless of night size.
    """
    from fink_broker_spark.archive.chunked import ingest_chunks
    from fink_broker_spark.archive.index_tables import build_index_table
    from fink_broker_spark.archive.statistics import nightly_statistics
    from fink_broker_spark.sinks.parquet import compact_night
    from fink_broker_spark.sources.parquet import scan_parquet

    spark = _session(args)
    night_dir = _night_dir(args.science_prefix, args.night)
    compacted = os.path.join(args.archive_prefix, f"night={args.night}")
    df = scan_parquet(spark, night_dir)
    nparts = compact_night(df, compacted, mode="overwrite")
    if getattr(args, "zorder", None):
        # rewrite the compacted night clustered on the Morton key of two
        # columns (plans/zorder.py): per-file min/max stats then prune
        # two-dimensional scans (pixel × time being the astronomy case);
        # staged + swapped so a crash leaves the plain compaction serving
        from fink_broker_spark.plans.zorder import write_zordered

        xcol, ycol = (c.strip() for c in args.zorder.split(",", 1))
        zbuild = compacted + "__zordering"
        hfs.delete(spark, zbuild)
        write_zordered(
            scan_parquet(spark, compacted), zbuild, xcol, ycol, nparts
        )
        hfs.delete(spark, compacted)
        hfs.rename(spark, zbuild, compacted)
    out = scan_parquet(spark, compacted)
    stats = nightly_statistics(out).collect()[0].asDict()
    stats["compaction_partitions"] = nparts

    if getattr(args, "index_prefix", None):
        index_dir = os.path.join(args.index_prefix, f"night={args.night}")
        # build into a staging dir and swap on success: a rerun is
        # idempotent (no chunk duplication) AND a mid-run crash leaves
        # the previous complete index serving instead of a partial one
        # swap runs through the Hadoop FileSystem API so the
        # idempotent-swap guarantee holds wherever Spark is writing
        # (local FS, HDFS; see core/fs.py for the S3A rename caveat)
        build_dir = index_dir + "__building"
        hfs.delete(spark, build_dir)

        def load_chunk(chunk, idx):
            # plan from the chunk itself: leaf-file reads don't carry the
            # night's dir-partition columns (the reference drops its
            # year/month/day partition cols the same way before loading)
            plan = {c: (c, t) for c, t in chunk.dtypes}
            key_cols = [
                c for c in ("event_id", "ts") if c in chunk.columns
            ] or [chunk.columns[0]]
            # the index keeps every row: count them as the write reads
            # them rather than in a second scan of the chunk. Observe the
            # input: a metric node above build_index_table's
            # sortWithinPartitions changes which sort the partitioned
            # write keeps, and with it the row order of the index files.
            rows = Observation()
            table = build_index_table(
                chunk.observe(rows, F.count(F.lit(1)).alias("n")),
                plan,
                key_cols,
            )
            (
                table.write.mode("append")
                .partitionBy("salt_bucket")
                .parquet(build_dir)
            )
            return rows.get["n"]

        counts = ingest_chunks(
            spark, compacted, load_chunk, chunk_files=args.chunk_files
        )
        hfs.delete(spark, index_dir)
        hfs.rename(spark, build_dir, index_dir)
        stats["index_chunks"] = len(counts)
        stats["index_rows"] = int(sum(counts))
    return stats


def build_parser() -> argparse.ArgumentParser:
    top = argparse.ArgumentParser(prog="fink_broker_spark")
    sub = top.add_subparsers(dest="service", required=True)

    p = sub.add_parser("stream2raw")
    _common(p)
    p.add_argument("-incoming", required=True)
    p.add_argument("-rawdata_prefix", required=True)
    p.add_argument("-time_col", default="ts")
    p.set_defaults(fn=cmd_stream2raw)

    p = sub.add_parser("raw2science")
    _common(p)
    p.add_argument("-rawdata_prefix", required=True)
    p.add_argument("-science_prefix", required=True)
    p.add_argument("-quality_cut", default=None,
                   help="SQL boolean, e.g. 'value >= 0 AND event_type <> \"error\"'")
    p.add_argument("-wait_timeout", type=float, default=60.0)
    p.set_defaults(fn=cmd_raw2science)

    p = sub.add_parser("distribute")
    _common(p)
    p.add_argument("-science_prefix", required=True)
    p.add_argument("-out_prefix", required=True)
    p.add_argument("-filter", action="append",
                   help="name:sql-bool, repeatable (one output per filter)")
    p.add_argument("-single_pass", action="store_true",
                   help="route all topics in one scan, partitioned by topic")
    p.set_defaults(fn=cmd_distribute)

    p = sub.add_parser("archive")
    p.add_argument("-index_prefix", default=None,
                   help="when set, build the salted index table here in "
                        "stepped chunks")
    p.add_argument("-chunk_files", type=int, default=10,
                   help="files per index-build step (reference: 10 ZTF / "
                        "100 Rubin)")
    p.add_argument("-zorder", default=None, metavar="XCOL,YCOL",
                   help="rewrite the compacted night range-clustered on "
                        "the Morton key of two columns (two-dimensional "
                        "file pruning)")
    _common(p)
    p.add_argument("-science_prefix", required=True)
    p.add_argument("-archive_prefix", required=True)
    p.set_defaults(fn=cmd_archive)
    return top


def main(argv: list[str] | None = None):
    args = build_parser().parse_args(argv)
    result = args.fn(args)
    print(result)
    return result
