"""Parquet batch + file-stream sources.

Re-expresses the reference's lake readers:
- static merge-schema scan (``common/spark_utils.py:420-446``)
- parquet file-stream with pinned schema, ``latestFirst``, and a blocking
  wait-for-path with exponential backoff (``common/spark_utils.py:311-386``)
"""

from __future__ import annotations

import os
import time as _time

from pyspark.sql import DataFrame, SparkSession

from fink_broker_spark.core.session import configure_session, session_id
from fink_broker_spark.core.time import nanos_to_timestamp

#: Tables of the synthetic test lake (TESTDATA.md).
LAKE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def scan_parquet(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """Batch parquet scan; ``mergeSchema`` mirrors the reference's lake read
    (``common/spark_utils.py:444``) for schema-evolving nightly appends.

    Prefer ``merge_schema=False`` on stable tables: schema merging reads
    every footer up front, which at 100 TB / millions of files is a real
    driver-side cost.
    """
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(path)


#: Per-file cache of parquet-footer timestamp columns: (name, unit) pairs.
#: Keyed by (path, mtime_ns, size) so a lake file REWRITTEN in-process
#: with a different timestamp layout (e.g. a harness regenerating micros
#: as nanos at the same path) never reuses stale footer metadata.
_TS_COLS_CACHE: dict[tuple, tuple[tuple[str, str], ...]] = {}

#: Memoized :func:`load_table` plans, keyed by (session identity,
#: file fingerprint, table name).  Holds logical plans only — a few kB
#: each.  See the note inside :func:`load_table`.
_LOAD_TABLE_CACHE: dict[tuple, "DataFrame"] = {}

#: One weak reference per session seen by :func:`load_table`, keyed by
#: its :func:`session_id`.  A cached DataFrame strongly references its
#: session, so a ``WeakKeyDictionary`` keyed by the session would never
#: release (value → key cycle); instead the cache stays a plain dict
#: and :func:`_evict_dead_sessions` sweeps entries whose session object
#: was collected OR whose SparkContext was stopped — a long-lived
#: service that cycles sessions does not accumulate dead plans.
_SESSION_REFS: dict[str, object] = {}


def _evict_dead_sessions(live_sid: str) -> None:
    """Drop cache entries belonging to collected/stopped sessions.

    A session whose context cannot be inspected (Spark Connect has no
    ``sparkContext``) counts as live: only a session known to be gone
    loses its plans."""
    import weakref  # local: stdlib, but keep module import surface flat

    dead = []
    for sid, ref in _SESSION_REFS.items():
        if sid == live_sid:
            continue
        sess = ref() if isinstance(ref, weakref.ref) else None
        if sess is None:
            dead.append(sid)
            continue
        try:
            stopped = sess.sparkContext._jsc is None
        except Exception:
            stopped = False
        if stopped:
            dead.append(sid)
    for sid in dead:
        _SESSION_REFS.pop(sid, None)
        for key in [k for k in _LOAD_TABLE_CACHE if k[0] == sid]:
            _LOAD_TABLE_CACHE.pop(key, None)


def _cache_key(path: str) -> tuple:
    try:
        st = os.stat(path)
        if os.path.isdir(path):
            # a directory's own mtime does NOT change when a contained
            # file is rewritten in place — aggregate the entries' stats
            # (one shallow scandir; parquet dirs are flat) so an
            # in-place part-file rewrite invalidates the cache too
            agg_mtime = st.st_mtime_ns
            agg_size = n = 0
            with os.scandir(path) as it:
                for e in it:
                    es = e.stat()
                    agg_mtime = max(agg_mtime, es.st_mtime_ns)
                    agg_size += es.st_size
                    n += 1
            return (path, agg_mtime, agg_size, n)
        return (path, st.st_mtime_ns, st.st_size)
    except OSError:
        # remote / exotic paths: fall back to path-only (regeneration
        # there replaces the path set the dataset reads anyway)
        return (path, None, None)


def _timestamp_columns(path: str) -> tuple[tuple[str, str], ...]:
    """``(column, unit)`` pairs for the parquet timestamp columns of
    ``path``, read from ONE footer (driver-side, cached — at 100 TB this
    is a single small metadata read, not a data scan).

    Needed because the engine pins ``nanosAsLong``: a TIMESTAMP(NANOS)
    column arrives in Spark as a bare ``bigint``, indistinguishable from
    a genuine integer column without the footer's logical-type metadata.
    """
    key = _cache_key(path)
    cached = _TS_COLS_CACHE.get(key)
    if cached is not None:
        return cached
    out: list[tuple[str, str]] = []
    try:
        import pyarrow as pa
        import pyarrow.dataset as ds

        schema = ds.dataset(path, format="parquet").schema
        for field in schema:
            if pa.types.is_timestamp(field.type):
                out.append((field.name, field.type.unit))
    except Exception:
        # no pyarrow / exotic layout: fall back to dtype-only handling
        # for THIS call, but never cache the failure — a transient
        # footer-read error must not permanently disable the
        # ns-as-bigint normalization for the
        # process lifetime
        return ()
    _TS_COLS_CACHE[key] = tuple(out)
    return _TS_COLS_CACHE[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic-lake table, normalizing types.

    The lake's timestamp columns have shipped in two physical layouts:
    parquet TIMESTAMP(NANOS) (arrives as long under the engine's
    ``nanosAsLong`` conf) and TIMESTAMP(MICROS) (arrives as
    ``timestamp_ntz``). EVERY timestamp column of EVERY table — not just
    ``events.ts`` — is normalized to a proper UTC microsecond timestamp
    (truncating ns → µs toward zero, exactly what DuckDB's ``epoch_us``
    sees), so downstream queries get one schema regardless of the
    writer. ``events`` additionally exposes ``ts_ns`` (long
    nanoseconds-since-epoch) for the nanos-facing query surface.
    """
    configure_session(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Plan-construction memo (metadata only — never results): building
    # this DataFrame costs ~130-230 ms of driver-side work (parquet
    # schema inference, a .dtypes analysis pass, the withColumn chain),
    # paid 1-3× by every one of ~300 bench queries — ~60 s of the
    # measured bench total.  A DataFrame is an immutable logical
    # plan, so the SAME object can seed every query: each action still
    # re-scans parquet (nothing is persisted or cached executor-side).
    # Keyed by session identity (a new/restarted session never reuses a
    # dead session's plan) and by the file's (mtime, size) fingerprint
    # (a regenerated lake invalidates the entry — same _cache_key the
    # footer cache uses).  This is what a production catalog provides:
    # resolve the table metadata once, not once per query.
    sid = session_id(spark)
    memo_key = (sid, _cache_key(path), name)
    cached = _LOAD_TABLE_CACHE.get(memo_key)
    if cached is not None:
        return cached
    # miss path only (the hit path stays allocation-free): register the
    # session for eviction and sweep entries of dead/stopped sessions
    if sid not in _SESSION_REFS:
        import weakref

        try:
            _SESSION_REFS[sid] = weakref.ref(spark)
        except TypeError:  # unhashable/mocked session in a test
            pass
    _evict_dead_sessions(sid)
    df = scan_parquet(spark, path)
    from pyspark.sql import functions as F

    footer_ts = dict(_timestamp_columns(path))
    dtypes = dict(df.dtypes)
    if name == "events":
        dt = dtypes.pop("ts", None)
        if dt == "bigint":
            df = df.withColumnRenamed("ts", "ts_ns").withColumn(
                "ts", nanos_to_timestamp("ts_ns")
            )
        elif dt is not None:
            # timestamp / timestamp_ntz micros: session tz is UTC so the
            # cast is an identity on the stored value; ts_ns is exact
            # (micros * 1000) for the nanos-facing query surface
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
            # same column order the nanos layout yields: event_id, ts_ns,
            # payload..., ts — one stable schema for both writers
            df = df.select(
                "event_id",
                (F.unix_micros(F.col("ts")) * F.lit(1000)).alias("ts_ns"),
                *[c for c in df.columns if c not in ("event_id", "ts")],
                "ts",
            )
    for col, dt in dtypes.items():
        if dt == "bigint" and footer_ts.get(col) == "ns":
            # TIMESTAMP(NANOS) read as long under nanosAsLong: a naive
            # cast("timestamp") would reinterpret nanoseconds as SECONDS
            df = df.withColumn(col, nanos_to_timestamp(col))
        elif dt == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    _LOAD_TABLE_CACHE[memo_key] = df
    return df


def file_stream(
    spark: SparkSession,
    path: str,
    schema=None,
    latest_first: bool = False,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming read of a growing parquet directory.

    Mirrors ``connect_to_raw_database`` (``common/spark_utils.py:311-368``):
    the schema is pinned — from the caller or a one-off static read —
    because Spark file streams do not infer schemas; ``latestFirst`` lets a
    restarted job drain the freshest files first
    (``common/spark_utils.py:320-323``).
    """
    configure_session(spark)
    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = spark.readStream.format("parquet").schema(schema)
    if latest_first:
        reader = reader.option("latestFirst", "true")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def wait_for_path(
    path: str, timeout_s: float = 60.0, initial_backoff_s: float = 0.25
) -> bool:
    """Block until ``path`` exists, with exponential backoff.

    Reference: the raw2science service waits for stream2raw to create the
    night's directory before attaching a file stream
    (``common/spark_utils.py:339-357,371-386``).
    """
    deadline = _time.monotonic() + timeout_s
    backoff = initial_backoff_s
    while _time.monotonic() < deadline:
        if os.path.exists(path):
            return True
        _time.sleep(backoff)
        backoff = min(backoff * 2, 5.0)
    return os.path.exists(path)
