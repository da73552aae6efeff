"""Native session-window aggregation (batch and streaming).

Spark's ``session_window`` merges events into gap-bounded sessions
inside the engine's windowing state machinery — the declarative form of
the lag/cumulative-sum sessionizer in ``queries/events.py``
(``session_window_lag``) and the grouped-map twin
(``session_applyinpandas``). In streaming it is watermark-aware: a
session closes (and emits, in append mode) once the watermark passes
its end + gap, so state is bounded by the gap like the dedup horizon in
``streaming/dedup.py``.

Reference anchor: fink-broker sessionizes imperatively in pandas; this
is the Spark-first replacement (SURVEY.md §2.11 extension).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    key_col: str,
    time_col: str,
    gap: str,
    aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Gap-based session aggregation via native ``session_window``.

    Output: ``key_col, session_start, session_end`` + aggregates
    (default: ``n_events``). Works identically on batch and streaming
    DataFrames; streaming callers should ``withWatermark(time_col, ...)``
    first so session state is reclaimable.

    Scale: one shuffle on (key, overlapping-session ranges); Spark
    merges windows engine-side, so there is no per-key collect and no
    Python in the loop — the plan this engine recommends over both the
    window-lag and grouped-map sessionizers when only session aggregates
    (not per-row session ids) are needed.
    """
    aggs = aggs or {"n_events": F.count(F.lit(1))}
    win = F.session_window(F.col(time_col), gap)
    return (
        df.groupBy(F.col(key_col), win)
        .agg(*[expr.alias(name) for name, expr in aggs.items()])
        .select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *aggs.keys(),
        )
    )
