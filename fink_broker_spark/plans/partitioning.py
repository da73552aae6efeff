"""Statistics-driven physical planning helpers.

The only optimizer-adjacent code the reference carries (SURVEY.md §4): a
py4j peek at Catalyst's optimized-plan statistics to size compaction output
at ~128 MB per file (``fink_broker/common/partitioning.py:108-152``).
Everything else — pushdown, pruning, join strategy, WSCG — is left to
Catalyst, and so it is here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MB = 1024 * 1024

#: Planned-width memo for the spread guards, keyed by (session id,
#: semantic plan hash, input-file fingerprints).  ``df.rdd
#: .getNumPartitions()`` compiles a full physical plan per call; the
#: guarded relations are overwhelmingly the SAME memoized table scans
#: (load_table returns one DataFrame object per session × table), so
#: one physical-planning pass per distinct relation per session
#: suffices.  The file fingerprints — the same
#: (mtime_ns, size) key the load_table memo uses — invalidate the
#: entry when a lake file is rewritten in place (the driftlab
#: in-process regeneration), because a canonicalized plan hash alone
#: does not see file sizes.  Conf-dependent width (maxPartitionBytes
#: etc.) is stable within a session by engine policy.
#: ``semanticHash`` is a 32-bit hash, so two different plans over the
#: same files can collide and share a width.  A collision can only make
#: ``ensure_scan_parallelism`` / ``ensure_keyed_parallelism`` add or skip
#: a repartition; it never changes a result row.
_WIDTH_MEMO: dict[tuple, int] = {}


def _planned_width(df: DataFrame) -> int:
    """Partition count the current plan would execute with (memoized)."""
    try:
        from fink_broker_spark.core.session import session_id

        files = []
        for uri in df.inputFiles():
            path = uri[7:] if uri.startswith("file://") else uri
            try:
                st = os.stat(path)
                files.append((path, st.st_mtime_ns, st.st_size))
            except OSError:
                files.append((path, None, None))
        if not files:
            # RDD-backed / local relations: planning them is cheap and
            # a canonicalized-plan hash is not a safe identity for two
            # different materialized block sets — skip the memo
            return df.rdd.getNumPartitions()
        key = (session_id(df.sparkSession), df.semanticHash(),
               tuple(sorted(files)))
    except Exception:
        return df.rdd.getNumPartitions()
    width = _WIDTH_MEMO.get(key)
    if width is None:
        if len(_WIDTH_MEMO) > 4096:  # bound a long-lived service
            _WIDTH_MEMO.clear()
        width = df.rdd.getNumPartitions()
        _WIDTH_MEMO[key] = width
    return width


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the optimized logical plan.

    Same mechanism as the reference's ``numPartitions`` helper: the
    optimized plan's ``stats().sizeInBytes()`` (parquet footer totals ×
    filter selectivity estimates), read through py4j. This is pre-execution
    metadata only — no job runs.
    """
    jdf = df._jdf
    size = jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    # BigInt on the Scala side; py4j may hand back int or a JavaObject
    return int(size if isinstance(size, int) else size.longValue())


def estimate_coalesce_partitions(
    df: DataFrame, target_partition_mb: float = 128.0
) -> int:
    """Partition count that yields ~``target_partition_mb`` output files.

    Reference semantics (``common/partitioning.py:108-152``): ceil of
    estimated bytes / target, floor 1. Used by the nightly compaction
    writer so the lake converges to large scan-friendly files regardless
    of how many small streaming appends a night produced.
    """
    size = plan_size_bytes(df)
    if size >= (1 << 50):
        # Catalyst reports Long.MaxValue when statistics are unknown
        # (e.g. a local relation); anything in the petabyte range is
        # that sentinel, not a real estimate — keep the input's current
        # partitioning instead of requesting billions of files
        return max(1, df.rdd.getNumPartitions())
    return max(1, int(size / (target_partition_mb * MB)) + 1)


def ensure_scan_parallelism(
    df: DataFrame, min_parts: int | None = None
) -> DataFrame:
    """Round-robin repartition of an under-split source so heavy map-side
    work (hashing, shingle explodes, per-row array math) runs on every
    core — a no-op whenever the scan already yields enough splits.

    The regime this fixes (optimization guide §2.5 "input skew: one huge
    unsplittable file … repartition immediately after the read"): a
    parquet file with a single row group produces exactly ONE scan task
    no matter the split-size confs, so every expression evaluated before
    the first Exchange is serialized onto one core.  Measured at sf0.1 on
    local[32]: bootstrap_ci 6.2 → 1.3 s, sky_knn 4.5 → 0.8 s, identical
    results (OPTIMIZATION_r10.md).

    Scale adaptivity: the guard compares the planned scan's partition
    count (physical planning only — no job) against
    ``defaultParallelism``; a production lake whose tables span many
    row groups/files already plans ≥ cores splits and the function
    returns the input UNCHANGED — no extra shuffle at 100 TB.  When it
    does fire, the shuffle moves only the columns downstream operators
    actually use (Catalyst prunes projections through Repartition), and
    the explicit partition count is deliberate: AQE never coalesces a
    user-requested repartition, so the spread survives.
    """
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    if _planned_width(df) >= target:
        return df
    return df.repartition(target)


def ensure_keyed_parallelism(
    df: DataFrame, *keys: str, min_parts: int | None = None
) -> DataFrame:
    """Keyed variant of :func:`ensure_scan_parallelism`: hash-repartition
    an under-split source by ``keys`` so that BOTH the heavy map work and
    every downstream key-compatible aggregate run wide.

    ``HashPartitioning(keys)`` satisfies the ``ClusteredDistribution`` of
    any aggregate/grouped-map keyed by a superset of ``keys``, so Spark
    plans NO further exchange for them — e.g. repartitioning a document
    table by ``doc_id`` before tokenize+explode makes the whole
    tokenize → explode → dropDuplicates(doc_id, shingle) →
    groupBy(doc_id) chain run in ``target`` tasks with ONE exchange of
    the compact pre-explode rows (the baseline shuffles the exploded
    relation instead — strictly more bytes; guide §3.3 "explode before a
    join multiplies the shuffle").  Same guard and scale posture as the
    round-robin variant: a scan that already has ≥ cores splits is
    returned unchanged.
    """
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    if _planned_width(df) >= target:
        return df
    return df.repartition(target, *[F.col(k) for k in keys])
