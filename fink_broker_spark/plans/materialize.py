"""Lineage-truncating materialization with a reliability switch.

Every multi-consumer relation the engine materializes (shingle tables,
signature relations, per-round graph state) funnels through
:func:`materialize` so ONE site owns the fault-tolerance trade:

- **Default** (no checkpoint directory configured):
  ``DataFrame.localCheckpoint`` — blocks live un-replicated in executor
  block-manager storage and lineage is truncated.  Fastest, and the
  right trade on a single-JVM ``local[N]`` bench where no executor can
  be "lost" independently; an executor loss on a real cluster makes the
  blocks unrecomputable and aborts the query.

- **Reliable mode** (``SparkContext.setCheckpointDir(...)`` /
  ``spark.checkpoint.dir`` points at shared storage):
  ``DataFrame.checkpoint`` — blocks are written to the checkpoint
  directory, surviving executor loss.  This is the swap the 100 TB
  deployment needs: same plan shape, same tokenize-once / explode-once
  savings, durable blocks.

The switch is *deployment configuration*, not code: a cluster job sets
the checkpoint dir once at session build and every materialization in
the engine upgrades itself.  Nothing is cached across actions beyond
what checkpointing already implies — each query still computes from its
inputs.  Reliable checkpoint files outlive the DataFrame's plan unless
``spark.cleaner.referenceTracking.cleanCheckpoints`` is on, which
``core/session.get_session`` sets so that the ContextCleaner deletes them
once the checkpointed RDD is garbage-collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _checkpoint_dir(df: DataFrame) -> str | None:
    """The session's configured checkpoint directory, if any."""
    try:
        sc = df.sparkSession.sparkContext
        opt = sc._jsc.sc().getCheckpointDir()
        if opt is not None and not opt.isEmpty():
            return str(opt.get())
    except Exception:
        # Spark Connect / mocked sessions: no JVM context to inspect
        pass
    return None


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` once for its multiple consumers, truncating
    lineage.

    Uses a RELIABLE ``checkpoint`` when the session has a checkpoint
    directory configured (``SparkContext.setCheckpointDir``), else
    ``localCheckpoint`` — see the module docstring for the trade.
    ``eager=False`` defers the write into the next action (the CC
    convergence-fusion pattern: one job per round instead of two).
    """
    if _checkpoint_dir(df) is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def materialize_many(*dfs: DataFrame) -> tuple:
    """Materialize several INDEPENDENT multi-consumer relations with
    concurrently-submitted jobs (one thread per relation; py4j job
    submission is thread-safe and the local scheduler interleaves the
    stages), instead of paying each eager checkpoint's full job latency
    serially during query construction.  Same results and same storage
    trade as :func:`materialize` — only the submission overlaps.
    Callers must pass relations with NO data dependency on each other
    (a dependent relation would recompute its parent)."""
    if len(dfs) == 1:
        return (materialize(dfs[0]),)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(dfs)) as ex:
        return tuple(ex.map(materialize, dfs))
