"""Streaming execution policy: triggers, checkpoints, batch-equivalent replay.

The reference's streaming contract (SURVEY.md §2.11): micro-batch
``processingTime`` triggers with ``maxOffsetsPerTrigger`` backpressure,
append-only output, per-night checkpoint dirs, ``awaitAnyTermination`` for
concurrent queries, and the implicit invariant that a *replay* of the same
files through the stream equals the batch answer (``bin/fink_test_ztf``).

:func:`replay_to_table` makes that invariant executable: it consumes a
parquet directory with ``Trigger.AvailableNow`` (bounded drain of
everything present, honoring backpressure options) and materializes an
aggregation to an in-memory sink table, which callers compare to the batch
result.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from fink_broker_spark.sources.parquet import file_stream


def run_stream(
    sdf: DataFrame,
    checkpoint_dir: str | None = None,
    output_mode: str = "append",
    processing_time: str | None = None,
    available_now: bool = False,
    fmt: str | None = "memory",
    query_name: str | None = None,
    foreach_batch: Callable | None = None,
    **options,
):
    """Start a streaming query with the engine's trigger/checkpoint policy.

    ``processing_time=None`` + ``available_now=False`` → ASAP micro-batches
    (the reference's ``tinterval=0`` mode, ``bin/ztf/stream2raw.py:169-175``).
    ``foreach_batch`` replaces the sink format with a per-micro-batch
    callback (the reference's escape hatch for non-append semantics and
    external stores, ``common/hbase_utils.py:363-482``).
    """
    writer = sdf.writeStream.outputMode(output_mode)
    if foreach_batch is not None:
        writer = writer.foreachBatch(foreach_batch)
    elif fmt:
        writer = writer.format(fmt)
    if checkpoint_dir is None:
        # the caller owns the query's lifetime, so the throwaway
        # checkpoint goes when the process exits
        checkpoint_dir = tempfile.mkdtemp(prefix="fbs_ckpt_")
        atexit.register(shutil.rmtree, checkpoint_dir, ignore_errors=True)
    writer = writer.option("checkpointLocation", checkpoint_dir)
    for key, value in options.items():
        writer = writer.option(key, value)
    if query_name:
        writer = writer.queryName(query_name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def replay_to_table(
    spark: SparkSession,
    path: str,
    transform: Callable[[DataFrame], DataFrame],
    schema=None,
    output_mode: str = "complete",
    max_files_per_trigger: int | None = None,
    timeout_s: float = 120.0,
) -> DataFrame:
    """Replay a parquet directory through Structured Streaming and return
    the materialized result as a batch DataFrame.

    The stream drains with ``AvailableNow`` (bounded, respects
    ``maxFilesPerTrigger`` backpressure) into a memory-sink table; the
    returned DataFrame reads that table. Used to assert stream == batch.
    The query's checkpoint directory is removed once it has stopped.
    """
    sdf = file_stream(
        spark, path, schema=schema, max_files_per_trigger=max_files_per_trigger
    )
    name = f"replay_{uuid.uuid4().hex[:8]}"
    checkpoint_dir = tempfile.mkdtemp(prefix="fbs_ckpt_")
    try:
        query = run_stream(
            transform(sdf),
            checkpoint_dir=checkpoint_dir,
            output_mode=output_mode,
            available_now=True,
            fmt="memory",
            query_name=name,
        )
        try:
            query.awaitTermination(timeout_s)
        finally:
            if query.isActive:
                query.stop()
    finally:
        shutil.rmtree(checkpoint_dir, ignore_errors=True)
    return spark.table(name)
