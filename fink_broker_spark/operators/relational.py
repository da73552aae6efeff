"""Relational operators: joins, dedup, last-per-key, top-k.

Each operator is a thin, tested composition of DataFrame primitives chosen
for its 100 TB physical plan, with the reference site it re-expresses cited
inline.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def broadcast_equi_join(
    big: DataFrame,
    small: DataFrame,
    on: str | list[str],
    how: str = "inner",
) -> DataFrame:
    """Equi-join with an explicit broadcast hint on the small side.

    Reference: re-attaching per-night tracklet ids on ``candid``
    (``bin/ztf/merge.py:81-83``, ``join(F.broadcast(df2), on, 'outer')``).
    At scale this turns a sort-merge shuffle of the 100 TB fact side into a
    map-side hash join — the single biggest join optimization available
    when one side fits in executor memory.
    """
    return big.join(F.broadcast(small), on=on, how=how)


def last_per_key(
    df: DataFrame, key: str | Sequence[str], order_col: str
) -> DataFrame:
    """Keep the newest row per key: unbounded window max + equality filter.

    Exactly the reference's batch dedup idiom
    (``fink_broker/rubin/hbase_utils.py:677-691,992-1005``):
    ``max(midpointMjdTai) over (partition by diaObjectId rows between
    unbounded preceding and unbounded following)`` then filter equality.
    Ties on ``order_col`` keep all tied rows (reference semantics).

    Physical plan: one hash-partition shuffle on the key, no sort-based
    ranking needed (max over unbounded frame is computed as a streaming
    aggregate within each partition).
    """
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        df.withColumn("__max_order", F.max(order_col).over(w))
        .filter(F.col(order_col) == F.col("__max_order"))
        .drop("__max_order")
    )


def dedup_exact(
    df: DataFrame,
    key: Sequence[str],
    representative: str | None = None,
) -> DataFrame:
    """Exact deduplication on a key set.

    Two modes:
    - ``representative=None``: ``dropDuplicates(key)`` — the reference's
      tracklet dedup (``ztf/tracklet_identification.py:329``,
      ``dropDuplicates(['jd','xpos','ypos'])``). Fast, but *which* row
      survives is nondeterministic — fine when rows are identical on key.
    - ``representative=col``: deterministic keep-min: ``groupBy(key)
      .agg(min(col))`` — use when downstream must be reproducible (the
      oracle-testable form).

    Both are a single hash shuffle on the key; map-side partial
    aggregation makes the shuffle carry at most one row per key per
    input partition.
    """
    if representative is None:
        return df.dropDuplicates(list(key))
    return df.groupBy(*key).agg(F.min(representative).alias(representative))


def top_k(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Global top-k: ``orderBy(...).limit(k)``.

    Replaces the reference's driver-side pandas sort of SLSN candidates
    (``bin/ztf/archive_slsn_candidates.py:256-258``) with an in-engine
    TakeOrderedAndProject — each task keeps a k-row heap, only k rows per
    partition reach the driver; no global sort at any scale.
    """
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame,
    group_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k within each group via ``row_number`` (deterministic when
    ``order_by`` includes a tiebreaker).

    Not present in the reference (it has only the unbounded-max window,
    §2.7) but required for per-class candidate shortlists; one shuffle on
    the group key.
    """
    w = Window.partitionBy(*group_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def _check_asof_names(
    left_cols: Sequence[str], right_values: Sequence[str]
) -> None:
    """Reject silent name hazards in the as-of union construction: a
    ``right_values`` name colliding with a left column would be
    shadowed in the output projection, and ``__``-prefixed left columns
    collide with the construction's internal markers — both previously
    failed with a confusing analyzer error or, worse, silently."""
    clash = set(right_values) & set(left_cols)
    if clash:
        raise ValueError(
            f"right_values collide with left columns: {sorted(clash)} — "
            "alias them on the right side before the as-of join"
        )
    reserved = [c for c in left_cols if c.startswith("__")]
    if reserved:
        raise ValueError(
            f"left columns use the reserved '__' prefix: {reserved} — "
            "rename them before the as-of join"
        )
    bad_rv = [c for c in right_values if c.startswith("__")]
    if bad_rv:
        # '__t' would duplicate the nearest-join struct field; any
        # '__'-name risks colliding with the construction's markers
        raise ValueError(
            f"right_values use the reserved '__' prefix: {bad_rv} — "
            "alias them on the right side before the as-of join"
        )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_time: str,
    right_time: str,
    right_values: Sequence[str],
) -> DataFrame:
    """As-of join: attach, to every left row, the columns of the newest
    right row with the same key and ``right_time <= left_time`` (left
    rows with no earlier right row get nulls).

    Not an operator the reference ships (its history is carried *inside*
    each row as arrays, §1.1) but the natural generalization of its
    last-per-key window (``rubin/hbase_utils.py:677-691``) to two tables,
    and a staple of training-data pipelines (point-in-time-correct
    feature joins).

    Physical plan (100 TB rationale): the naive formulation is a
    non-equi range join (cross product per key). Instead we UNION the
    two sides with a side marker, single-shuffle on the key, and carry
    right values forward with ``last(..., ignorenulls=True)`` over an
    ordered running window — one shuffle, no cross product, linear in
    rows per key, skew-bounded by the hottest key exactly like any
    groupBy. Right rows sort before left rows at equal timestamps, so
    the match is inclusive (``<=``).
    """
    _check_asof_names(left.columns, right_values)
    lcols = left.columns
    marker = F.lit(None)
    r = right.select(
        F.col(right_on).alias("__key"),
        F.col(right_time).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__r_{c}") for c in right_values],
        *[marker.cast(left.schema[c].dataType).alias(c) for c in lcols],
    )
    l = left.select(
        F.col(left_on).alias("__key"),
        F.col(left_time).alias("__ts"),
        F.lit(1).alias("__side"),
        *[
            marker.cast(right.schema[c].dataType).alias(f"__r_{c}")
            for c in right_values
        ],
        *lcols,
    )
    w = (
        Window.partitionBy("__key")
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = r.unionByName(l).select(
        "*",
        *[
            F.last(f"__r_{c}", ignorenulls=True)
            .over(w)
            .alias(f"__f_{c}")
            for c in right_values
        ],
    )
    return filled.filter(F.col("__side") == 1).select(
        *lcols,
        # SQL equality semantics: a NULL key matches nothing.  The
        # window partition would otherwise group all NULL-key rows
        # together and "match" them to each other — the nullfk driftlab
        # layout caught exactly that
        *[
            F.when(F.col("__key").isNotNull(), F.col(f"__f_{c}"))
            .alias(c)
            for c in right_values
        ],
    )


def nearest_asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_time: str,
    right_time: str,
    right_values: Sequence[str],
) -> DataFrame:
    """Nearest-neighbor as-of join: attach, to every left row, the
    right row of the same key whose time is CLOSEST (either side);
    ties in |Δt| go to the earlier (backward) match. Appends, for each
    ``v`` in ``right_values``, the chosen ``v`` plus ``__match_dt``
    (right_time − left_time, may be negative) — the bidirectional
    generalization of :func:`asof_join` for feature joins where the
    nearest observation matters, not only the latest-before.

    Same single-shuffle plan as ``asof_join`` — union with a side
    marker, one (key)-partitioned sort, then BOTH a running
    ``last(ignorenulls)`` (backward candidate, inclusive at equal
    times because right rows sort first) and a running
    ``first(ignorenulls)`` over the forward frame (strictly-after
    candidate — an equal-time right sorts before the left row and so
    never appears forward). One exchange feeds both window directions.
    Callers needing cross-engine determinism must pre-collapse right
    rows to one per (key, time).
    """
    _check_asof_names(left.columns, right_values)
    lcols = left.columns
    marker = F.lit(None)
    r = right.select(
        F.col(right_on).alias("__key"),
        F.col(right_time).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(
            F.col(right_time).alias("__t"),
            *[F.col(c) for c in right_values],
        ).alias("__rv"),
        *[marker.cast(left.schema[c].dataType).alias(c) for c in lcols],
    )
    l = left.select(
        F.col(left_on).alias("__key"),
        F.col(left_time).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None)
        .cast(
            r.schema["__rv"].dataType
        )
        .alias("__rv"),
        *lcols,
    )
    wb = (
        Window.partitionBy("__key")
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("__key")
        .orderBy("__ts", "__side")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    filled = r.unionByName(l).select(
        "*",
        F.last("__rv", ignorenulls=True).over(wb).alias("__prev"),
        F.first("__rv", ignorenulls=True).over(wf).alias("__next"),
    )
    prev_dt = F.col("__prev.__t") - F.col("__ts")
    next_dt = F.col("__next.__t") - F.col("__ts")
    use_prev = F.col("__next").isNull() | (
        F.col("__prev").isNotNull()
        & (F.abs(prev_dt) <= F.abs(next_dt))
    )
    chosen = F.when(use_prev, F.col("__prev")).otherwise(F.col("__next"))
    return (
        filled.filter(F.col("__side") == 1)
        # NULL keys match nothing (SQL equality semantics) — same
        # masking as asof_join above
        .withColumn(
            "__ch", F.when(F.col("__key").isNotNull(), chosen)
        )
        .select(
            *lcols,
            *[F.col(f"__ch.{c}").alias(c) for c in right_values],
            (F.col("__ch.__t") - F.col("__ts")).alias("__match_dt"),
        )
    )


def select_with_defaults(
    df: DataFrame, wanted: dict[str, tuple[str, object]]
) -> DataFrame:
    """Project ``wanted`` columns; absent ones are filled with a typed
    default literal.

    Generic replacement for the reference's per-loader default filling
    (``common/hbase_utils.py:66-137``, ``ztf/hbase_utils.py:443-479``,
    ``rubin/hbase_utils.py:412-427``): schema evolution means a night's
    data may lack columns another night has.

    ``wanted`` maps column name → (spark type ddl, default value).
    """
    present = set(df.columns)
    cols = []
    for name, (dtype, default) in wanted.items():
        if name in present:
            cols.append(F.col(name).cast(dtype).alias(name))
        else:
            cols.append(F.lit(default).cast(dtype).alias(name))
    return df.select(*cols)


def flatten_cast(
    df: DataFrame, plan: dict[str, tuple[str, str]]
) -> DataFrame:
    """Nested → flat projection with per-column cast and rename.

    One generic implementation of the reference's three hand-written
    flatten/cast loaders (``ztf/hbase_utils.py:395-489``,
    ``rubin/hbase_utils.py:328-438``): ``plan`` maps output name →
    (source path e.g. ``"candidate.jd"``, spark type ddl).
    Column pruning pushes the nested-field selection into the parquet
    scan (only the referenced struct fields are read).
    """
    return df.select(
        *[F.col(src).cast(dtype).alias(out) for out, (src, dtype) in plan.items()]
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_time: str,
    start_col: str,
    end_col: str,
    on: Sequence[str] = (),
    bucket: int = 86_400_000_000,
) -> DataFrame:
    """Range join: every (point, interval) pair with
    ``start <= t <= end`` (both ends inclusive) and equal ``on`` keys.

    Not an operator Spark ships (a raw non-equi join plans as
    BroadcastNestedLoopJoin — per-key cross product). Physical plan
    here: both sides bucket time into width-``bucket`` cells — points
    to one cell (scan-side expression), intervals to the cell range
    they span (``sequence`` + ``explode``) — so the candidate stage is
    a plain shuffled **equi-join** on (keys, cell), and the exact
    ``BETWEEN`` predicate refines. The astronomy special case is the
    reference's pixel-bucketed crossmatch (space instead of time); this
    is the same trick on the time axis.

    Scale: shuffle ∝ |points| + |intervals| · (span/bucket + 1).
    Pick ``bucket`` ≈ the median interval span so the explode fan-out
    stays ~2 and no cell goes hot; AQE handles residual cell skew.
    Timestamp columns are compared as epoch microseconds (``bucket`` is
    in µs; default one day); numeric time columns are bucketed as-is.
    """
    from pyspark.sql.types import TimestampType

    def as_us(df: DataFrame, col: str) -> Column:
        if isinstance(df.schema[col].dataType, TimestampType):
            return F.unix_micros(F.col(col))
        return F.col(col).cast("long")

    on = list(on)
    p_cell = F.floor(as_us(points, point_time) / F.lit(bucket))
    i_lo = F.floor(as_us(intervals, start_col) / F.lit(bucket))
    i_hi = F.floor(as_us(intervals, end_col) / F.lit(bucket))
    pt = points.withColumn("__cell", p_cell)
    it = (
        intervals.withColumn(
            "__cell", F.explode(F.sequence(i_lo, i_hi))
        )
        .select(
            *[F.col(c).alias(c if c in on else f"r_{c}") for c in intervals.columns],
            "__cell",
        )
    )
    t = F.col(point_time)
    lo = F.col(f"r_{start_col}") if start_col not in on else F.col(start_col)
    hi = F.col(f"r_{end_col}") if end_col not in on else F.col(end_col)
    return (
        pt.join(it, on=on + ["__cell"])
        .filter((t >= lo) & (t <= hi))
        .drop("__cell")
    )


def interval_event_counts(
    points: DataFrame,
    intervals: DataFrame,
    point_time: str,
    start_col: str,
    end_col: str,
    id_cols: Sequence[str] = (),
    on: Sequence[str] = (),
    carry: Sequence[str] = (),
    count_col: str = "n_points",
) -> DataFrame:
    """Per-interval COUNT of points with ``start <= t <= end`` and equal
    ``on`` keys — the counting specialization of :func:`interval_join`
    that never materializes a (point, interval) pair.

    Plan (optimization guide §8 "decide with small rows"): union the
    point instants with each interval's two endpoints as probe rows,
    one running event count per key ordered by ``(t, kind)`` (kind
    sorts a start probe BEFORE and an end probe AFTER points at the
    same instant, giving closed-interval semantics exactly), then
    ``count = F(end⁺) − F(start⁻)`` per interval.  Cost is
    O((|P| + 2|I|) log) per key with ONE shuffle on the key — versus
    the bucketed pair join whose output alone is Σ matches (the pair
    join stays the right plan when downstream needs the pairs
    themselves).  Exact integer algebra throughout; intervals with
    ``start > end`` count 0.

    Output: one row per DISTINCT ``(on, id_cols, carry, start, end)``
    combination, with ``count_col`` = interval-row multiplicity ×
    matching points — i.e. exactly what a pair join + per-interval
    count would sum to, including re-ingested duplicate interval ROWS
    (duprows lakes: each duplicate joins independently, so its matches
    count once per duplicate).  Callers mirroring a join+groupBy must
    filter ``count_col > 0`` to reproduce inner-join emptiness
    semantics.
    """
    from pyspark.sql.types import TimestampType

    def as_us(df: DataFrame, col: str) -> Column:
        if isinstance(df.schema[col].dataType, TimestampType):
            return F.unix_micros(F.col(col))
        return F.col(col).cast("long")

    on = list(on)
    carry = list(carry)
    id_cols = list(id_cols)
    # collapse duplicate interval rows to (definition, multiplicity):
    # each duplicate row would join independently, so its match count
    # scales by the multiplicity — and the sweep's per-group max-F
    # algebra requires one probe pair per distinct definition
    ivg = (
        intervals.select(
            *on,
            *id_cols,
            *carry,
            as_us(intervals, start_col).alias("__lo"),
            as_us(intervals, end_col).alias("__hi"),
        )
        .groupBy(*on, *id_cols, *carry, "__lo", "__hi")
        .agg(F.count(F.lit(1)).alias("__m"))
    )
    probes = ivg.select(
        *on,
        *id_cols,
        *carry,
        "__lo",
        "__hi",
        "__m",
        F.explode(
            F.array(
                F.struct(F.col("__lo").alias("__t"), F.lit(0).alias("__k")),
                F.struct(F.col("__hi").alias("__t"), F.lit(2).alias("__k")),
            )
        ).alias("__p"),
    ).select(
        *on, *id_cols, *carry, "__lo", "__hi", "__m",
        F.col("__p.__t").alias("__t"), F.col("__p.__k").alias("__k"),
    )
    pts = points.select(
        *on,
        *[F.lit(None).cast(probes.schema[c].dataType).alias(c) for c in id_cols],
        *[F.lit(None).cast(probes.schema[c].dataType).alias(c) for c in carry],
        F.lit(None).cast("long").alias("__lo"),
        F.lit(None).cast("long").alias("__hi"),
        F.lit(None).cast("long").alias("__m"),
        as_us(points, point_time).alias("__t"),
        F.lit(1).alias("__k"),
    )
    # NULL never matches an equi-join key or a BETWEEN bound: a NULL-key
    # or NULL-instant point must not enter any running count (the sweep
    # would otherwise group NULL keys together — join semantics do not);
    # a NULL interval endpoint drops that probe row, which yields the
    # correct 0 via greatest(0, NULL)
    null_free = F.lit(True)
    for key in on:
        null_free = null_free & F.col(key).isNotNull()
    pts = pts.filter(null_free & F.col("__t").isNotNull())
    probes = probes.filter(null_free & F.col("__t").isNotNull())
    merged = pts.unionByName(probes)
    w = (
        Window.partitionBy(*on)
        .orderBy("__t", "__k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = merged.select(
        *on,
        *id_cols,
        *carry,
        "__lo",
        "__hi",
        "__m",
        "__k",
        F.sum(F.when(F.col("__k") == 1, 1).otherwise(0)).over(w).alias("__f"),
    ).filter(F.col("__k") != 1)
    return (
        swept.groupBy(*on, *id_cols, *carry, "__lo", "__hi")
        .agg(
            F.max("__m").alias("__m"),
            F.greatest(
                F.lit(0).cast("long"),
                F.max(F.when(F.col("__k") == 2, F.col("__f")))
                - F.max(F.when(F.col("__k") == 0, F.col("__f"))),
            ).alias("__cnt1"),
        )
        .select(
            *on,
            *id_cols,
            *carry,
            (F.col("__m") * F.col("__cnt1")).cast("long").alias(count_col),
        )
    )


def replicated_skew_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    salt_col: str,
    nsalts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join that stays parallel under heavy key skew: the big side
    is salted by a high-cardinality column, the small side is replicated
    ``nsalts``× (explode over the salt range), and the join runs on
    (keys, salt) — each hot key fans across ``nsalts`` reducers instead
    of melting one.

    Result-identical to ``big.join(small, on, how)``: every big row
    carries exactly one salt and the small side holds every salt, so
    each matching pair meets exactly once (and a left row that matches
    nothing is emitted once for ``how="left"``).

    When to use: the small side is too big to broadcast (else
    :func:`broadcast_equi_join` is strictly better) AND the key
    histogram is skewed beyond what AQE's skew-join splitting handles
    (AQE splits oversized *partitions* of the sorted side; salting also
    splits a single oversized *key*). ``salt_col`` must vary within a
    key (a row id, not the join key) — the salt is derived by
    ``xxhash64`` so reruns are deterministic.
    """
    on = list(on)
    salt = F.pmod(F.xxhash64(F.col(salt_col)), F.lit(nsalts)).cast("int")
    b = big.withColumn("__salt", salt)
    s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(nsalts - 1)))
    )
    return b.join(s, on=on + ["__salt"], how=how).drop("__salt")
