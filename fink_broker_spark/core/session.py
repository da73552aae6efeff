"""SparkSession factory and runtime configuration.

Reproduces the semantics of the reference's ``init_sparksession``
(fink-broker ``fink_broker/common/spark_utils.py:158-198``): one place that
owns log level, shuffle sizing, Arrow, and time-zone policy — re-expressed
for Spark 4 with AQE on by default (the reference predates AQE maturity and
hand-tunes ``spark.sql.shuffle.partitions`` per job instead).

Two entry points:

- :func:`get_session` — build a session (tests, CLI, bench).
- :func:`configure_session` — apply the *runtime-settable* subset of the
  policy to an externally-owned session (e.g. the correctness driver's).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import weakref
import zipfile

from pyspark.sql import SparkSession

#: Runtime-settable SQL confs applied to every session the engine touches.
#: - ``nanosAsLong``: the synthetic lake stores TIMESTAMP(NANOS) parquet,
#:   which Spark 4 refuses by default; read as long and convert with
#:   :func:`fink_broker_spark.core.time.nanos_to_timestamp`.
#: - UTC session tz: all reference time semantics are UTC julian dates
#:   (``common/partitioning.py:26-105``); pinning the tz makes
#:   year/month/day partition columns deterministic across machines.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # skewed keys re-split at runtime instead of hand-salting every join
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


#: SparkContexts (by applicationId) the package zip was already shipped to.
_SHIPPED: set[str] = set()

#: Sessions already carrying the RUNTIME_CONFS policy (weak keys — a
#: stopped session's entry vanishes with the object). Applying six confs
#: through py4j costs ~3 ms; load_table calls configure_session on every
#: invocation (~400 times across a bench run), so the idempotent
#: re-apply was ~1-2 s of pure driver round-trips per run.
_CONFIGURED: "weakref.WeakKeyDictionary[SparkSession, bool]" = (
    weakref.WeakKeyDictionary()
)

#: Cached stable identity per live session, used as a memo key by
#: load_table: ``sparkContext.applicationId`` is a py4j round trip on
#: every call, but constant for a session's lifetime.
_SESSION_IDS: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)


#: This process's temporary directory (see :func:`_process_tmp`).
_TMP_DIR: str | None = None


def _process_tmp() -> str:
    """One temporary directory per process for what sessions leave on
    disk: the shipped package zip and the default SQL warehouse.  It is
    removed at interpreter exit."""
    global _TMP_DIR
    if _TMP_DIR is None:
        _TMP_DIR = tempfile.mkdtemp(prefix="fink_broker_spark_")
        atexit.register(shutil.rmtree, _TMP_DIR, True)
    return _TMP_DIR


def default_driver_memory(phys_bytes: int) -> str:
    """Driver heap for a host with *phys_bytes* of RAM: half of it,
    capped at 32g (a ``spark.driver.memory`` value in MiB)."""
    return f"{min(32 << 10, phys_bytes >> 21)}m"


def session_id(spark: SparkSession) -> str:
    """Stable identity for a live session (cached applicationId)."""
    try:
        sid = _SESSION_IDS.get(spark)
    except TypeError:  # unhashable mock in a test
        sid = None
    if sid is None:
        try:
            sid = spark.sparkContext.applicationId
        except Exception:  # e.g. Spark Connect: no SparkContext
            sid = f"session-{id(spark)}"
        try:
            _SESSION_IDS[spark] = sid
        except TypeError:
            pass
    return sid


def _ship_package(spark: SparkSession) -> None:
    """Make ``fink_broker_spark`` importable on executor Python workers.

    An externally-owned session (the correctness driver, a real cluster)
    knows nothing about this repo: the driver's ``sys.path`` does not
    propagate to the executors, so any pickled pandas-UDF referencing the
    package would die with ``ModuleNotFoundError``. Shipping a zip via
    ``SparkContext.addPyFile`` is the idiomatic fix and is exactly what a
    1000-executor deployment needs too (same mechanism as ``--py-files``).
    """
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.dirname(pkg_dir)
    zip_path = os.path.join(_process_tmp(), "fink_broker_spark.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for dirpath, _dirnames, filenames in os.walk(pkg_dir):
                if "__pycache__" in dirpath:
                    continue
                for fn in filenames:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        zf.write(full, os.path.relpath(full, root))
    try:
        sc.addPyFile(zip_path)
    except Exception:
        # e.g. Spark Connect sessions without an accessible SparkContext;
        # fall through — same-host deployments still import from cwd
        pass
    _SHIPPED.add(app_id)


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime conf policy to an existing session.

    Safe to call on a session we did not create (the driver's): only
    runtime-settable confs are touched. Idempotent and memoized per
    session — nothing in the engine or tests unsets a RUNTIME_CONF
    mid-session, so one application per session is sufficient.
    """
    try:
        if _CONFIGURED.get(spark):
            return spark
    except TypeError:
        pass
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # a conf may be static in some deployments — never fail the query
            pass
    _ship_package(spark)
    try:
        _CONFIGURED[spark] = True
    except TypeError:
        pass
    return spark


def get_session(
    app_name: str = "fink_broker_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's configuration.

    Parameters mirror the reference's per-job tuning: stream jobs ran with
    ``shuffle_partitions=2``, distribute with 10, archival batch with 200
    (``bin/ztf/stream2raw.py:64``, ``bin/ztf/distribute.py:62``,
    ``bin/rubin/archive_science.py:46``). With AQE enabled the number is a
    *ceiling*: ``spark.sql.adaptive.coalescePartitions`` shrinks it at
    runtime, so a single generous default scales from local tests to a
    1000-executor cluster.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.config("spark.master", master)
    # local mode runs every executor thread inside the driver JVM, whose
    # default heap (1g) starves shuffles long before the machine does;
    # static confs — they only take effect when this call launches the JVM
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    builder = builder.config(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(phys),
    )
    # reliable checkpoints (plans/materialize.py) are deleted once their
    # RDD is garbage-collected, instead of outliving the session
    builder = builder.config(
        "spark.cleaner.referenceTracking.cleanCheckpoints", "true"
    )
    builder = builder.config(
        "spark.sql.warehouse.dir", os.path.join(_process_tmp(), "warehouse")
    )
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    if extra_confs:
        for key, value in extra_confs.items():
            builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure_session(spark)
