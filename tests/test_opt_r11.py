"""Round-11 optimization regression tests.

Pins the operator internals the second optimization round changed:
- ``q_mannwhitney_u``'s chunked two-level cumulative (the rank-sum
  decomposition) against the single global-window form;
- ``q_max_concurrency``'s aggregate-before-join spans against the old
  join-then-aggregate form (including duplicate-key and NULL cases on
  a synthetic frame);
- :func:`fink_broker_spark.plans.materialize.materialize` — local
  default vs the reliable ``spark.checkpoint.dir`` mode;
- :mod:`fink_broker_spark.sources.parquet` load-table cache eviction
  for dead/stopped sessions;
- the memoized ``_planned_width`` spread guard (same width as a direct
  physical-planning pass; memo populated).
"""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F
import pytest

from pyspark.sql import Window

SF0001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from fink_broker_spark.core.session import get_session

    return get_session(
        app_name="test-opt-r11", master="local[4]", shuffle_partitions=4
    )


# ---------------------------------------------------------------------------
# mannwhitney_u: chunked cumulative ≡ global window
# ---------------------------------------------------------------------------


def _mwu_reference(spark, sf_dir):
    """The pre-r11 single-global-window form, kept verbatim as the
    reference semantics (only the aggregate inputs — the grid walk —
    changed; the z-score tail is shared with the live query)."""
    from fink_broker_spark.sources.parquet import load_table

    li = load_table(spark, sf_dir, "lineitem")
    t = (
        li.filter(
            F.col("l_returnflag").isin("R", "A")
            & F.col("l_extendedprice").isNotNull()
        )
        .select(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            F.when(F.col("l_returnflag") == "R", 1)
            .otherwise(0)
            .alias("is1"),
        )
        .groupBy("cents")
        .agg(F.sum("is1").alias("n1"), F.sum(1 - F.col("is1")).alias("n2"))
    )
    w = Window.orderBy("cents")
    grid = t.select(
        "cents",
        "n1",
        "n2",
        (F.col("n1") + F.col("n2")).alias("tt"),
        (
            F.sum(F.col("n1") + F.col("n2")).over(w)
            - (F.col("n1") + F.col("n2"))
        ).alias("cumb"),
    )
    return grid.agg(
        F.sum("n1").alias("n1t"),
        F.sum("n2").alias("n2t"),
        F.sum(
            (F.col("n1") * (2 * F.col("cumb") + F.col("tt") + 1)).cast(
                "decimal(38,0)"
            )
        ).alias("r1_2"),
        F.sum(
            (F.col("tt") * F.col("tt") * F.col("tt") - F.col("tt")).cast(
                "decimal(38,0)"
            )
        ).alias("tie3"),
    ).collect()[0]


def test_mannwhitney_chunked_equals_global_window(spark):
    """The live chunked query must produce the identical final row —
    checked through the full pipeline (the z-score tail is a pure
    function of (n1t, n2t, r1_2, tie3), so matching those four exact
    operands AND the final row pins the decomposition)."""
    import __spark_entry__ as entrymod

    ref = _mwu_reference(spark, SF0001)
    live = entrymod.queries()["mannwhitney_u"](spark, SF0001).collect()
    assert len(live) == 1
    row = live[0]
    assert row.n_returned == ref.n1t
    assert row.n_accepted == ref.n2t
    # u1_doubled = r1_2 − n1t·(n1t+1), exact integers
    assert row.u1_doubled == int(ref.r1_2) - ref.n1t * (ref.n1t + 1)


def test_mannwhitney_chunk_expr_is_floor_division(spark):
    """The chunk id must be FLOOR division for any sign (DIV truncates
    toward zero; pmod repairs negatives) so chunk order is monotone in
    cents."""
    w = 1 << 16
    rows = spark.createDataFrame(
        [(-65537,), (-65536,), (-1,), (0,), (1,), (65535,), (65536,)],
        "cents long",
    ).select(
        "cents",
        F.expr(f"(cents - pmod(cents, {w})) DIV {w}").alias("chunk"),
    ).collect()
    got = {r.cents: r.chunk for r in rows}
    assert got == {c: c // w for c in got}


# ---------------------------------------------------------------------------
# max_concurrency: aggregate-before-join ≡ join-then-aggregate
# ---------------------------------------------------------------------------


def _spans_reference(orders, li):
    """Pre-r11 spans: join the raw fact rows, then group."""
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.min(F.unix_micros(F.col("o_orderdate"))).alias("t0"),
            F.max(F.unix_micros(F.col("l_shipdate"))).alias("t1"),
        )
        .filter(F.col("t1") >= F.col("t0"))
        .select("o_orderpriority", "t0", "t1")
    )


def _spans_new(orders, li):
    """r11 form: per-side aggregates meeting on the key."""
    ords = orders.groupBy("o_orderkey", "o_orderpriority").agg(
        F.min(F.unix_micros(F.col("o_orderdate"))).alias("t0")
    )
    ship = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.max(F.unix_micros(F.col("l_shipdate"))).alias("t1")
    )
    return (
        ords.join(ship, "o_orderkey")
        .filter(F.col("t1") >= F.col("t0"))
        .select("o_orderpriority", "t0", "t1")
    )


def test_max_concurrency_spans_equivalence_with_duplicates(spark):
    """Duplicate order keys (same and different priorities), orders
    without lineitems, lineitems without orders, NULL keys and NULL
    dates — the per-side-aggregate form must match the join-then-group
    form row-for-row (multiset)."""
    orders = spark.createDataFrame(
        [
            (1, "HIGH", "2020-01-01"),
            (1, "HIGH", "2020-01-05"),   # dup (key, priority): min wins
            (1, "LOW", "2020-02-01"),    # dup key, other priority
            (2, "MED", "2020-03-01"),
            (3, "MED", "2020-04-01"),    # no lineitems -> dropped
            (None, "X", "2020-05-01"),   # NULL key never joins
        ],
        "o_orderkey long, o_orderpriority string, o_orderdate string",
    ).select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
    )
    li = spark.createDataFrame(
        [
            (1, "2020-01-10"),
            (1, "2020-06-01"),
            (2, "2020-02-01"),           # ships BEFORE the order: filtered
            (4, "2020-01-01"),           # no order -> dropped
            (None, "2020-01-01"),
            (2, None),                   # NULL shipdate ignored by max
        ],
        "l_orderkey long, l_shipdate string",
    ).select(
        "l_orderkey",
        F.col("l_shipdate").cast("timestamp").alias("l_shipdate"),
    )
    ref = sorted(map(tuple, _spans_reference(orders, li).collect()))
    new = sorted(map(tuple, _spans_new(orders, li).collect()))
    assert new == ref
    # the HIGH dup collapsed to one span with the earlier date
    assert len([r for r in new if r[0] == "HIGH"]) == 1


def test_max_concurrency_matches_reference_at_sf0001(spark):
    """Full-query pin at sf0.001: the live query's output must equal the
    old formulation's sweep run on the reference spans."""
    import __spark_entry__ as entrymod
    from fink_broker_spark.sources.parquet import load_table

    live = sorted(
        map(tuple, entrymod.queries()["max_concurrency"](spark, SF0001).collect())
    )
    orders = load_table(spark, SF0001, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, SF0001, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    spans = _spans_reference(orders, li)
    events = spans.select(
        "o_orderpriority", F.col("t0").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        spans.select(
            "o_orderpriority", F.col("t1").alias("t"), F.lit(-1).alias("delta")
        )
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("t"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ref = sorted(
        map(
            tuple,
            events.withColumn("run", F.sum("delta").over(w))
            .groupBy("o_orderpriority")
            .agg(
                F.max("run").alias("max_concurrent"),
                (F.count(F.lit(1)) / 2).cast("bigint").alias("n_orders"),
            )
            .collect(),
        )
    )
    assert live == ref


# ---------------------------------------------------------------------------
# materialize(): local default vs reliable checkpoint-dir mode
# ---------------------------------------------------------------------------


def test_materialize_local_default(spark):
    from fink_broker_spark.plans.materialize import (
        _checkpoint_dir,
        materialize,
    )

    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("y"))
    assert _checkpoint_dir(df) is None
    out = materialize(df)
    assert sorted(r.y for r in out.collect()) == sorted(range(0, 200, 2))
    # lineage truncated: the analyzed plan is an RDD scan, not the range
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "Range" not in analyzed


def test_materialize_reliable_with_checkpoint_dir(spark, tmp_path):
    from fink_broker_spark.plans.materialize import (
        _checkpoint_dir,
        materialize,
    )

    sc = spark.sparkContext
    ckdir = str(tmp_path / "ck")
    sc.setCheckpointDir(ckdir)
    try:
        df = spark.range(50).select(F.col("id"), (F.col("id") + 1).alias("y"))
        assert _checkpoint_dir(df) is not None
        out = materialize(df)
        assert sorted(r.y for r in out.collect()) == list(range(1, 51))
        written = glob.glob(os.path.join(ckdir, "**", "*"), recursive=True)
        assert any(os.path.isfile(p) for p in written), (
            "reliable mode must write checkpoint files under the dir"
        )
    finally:
        # restore the default (no dir) so other tests keep the local path
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            spark._jvm.scala.Option.empty()
        )
    assert _checkpoint_dir(spark.range(1)) is None


# ---------------------------------------------------------------------------
# load_table cache: dead-session eviction
# ---------------------------------------------------------------------------


def test_load_table_cache_evicts_dead_sessions(spark):
    import weakref

    from fink_broker_spark.core.session import session_id
    from fink_broker_spark.sources import parquet as pq

    class _Dummy:  # weakref-able stand-in for a collected session
        pass

    dead = _Dummy()
    pq._SESSION_REFS["dead-sid"] = weakref.ref(dead)
    pq._LOAD_TABLE_CACHE[("dead-sid", ("x", 1, 2), "orders")] = object()
    pq._LOAD_TABLE_CACHE[("dead-sid", ("y", 3, 4), "nation")] = object()
    del dead  # referent collected -> entries must vanish on the sweep

    pq._evict_dead_sessions(session_id(spark))

    assert not [k for k in pq._LOAD_TABLE_CACHE if k[0] == "dead-sid"]
    assert "dead-sid" not in pq._SESSION_REFS


def test_load_table_cache_keeps_uninspectable_session(spark):
    """A session whose context cannot be read (Spark Connect) is live."""
    import weakref

    from fink_broker_spark.core.session import session_id
    from fink_broker_spark.sources import parquet as pq

    class _ConnectLike:
        @property
        def sparkContext(self):
            raise RuntimeError("no JVM context behind this session")

    stub = _ConnectLike()
    key = ("connect-sid", ("z", 5, 6), "region")
    pq._SESSION_REFS["connect-sid"] = weakref.ref(stub)
    pq._LOAD_TABLE_CACHE[key] = object()
    try:
        pq._evict_dead_sessions(session_id(spark))
        assert key in pq._LOAD_TABLE_CACHE
        assert "connect-sid" in pq._SESSION_REFS
    finally:
        pq._SESSION_REFS.pop("connect-sid", None)
        pq._LOAD_TABLE_CACHE.pop(key, None)


def test_load_table_cache_keeps_live_session(spark):
    from fink_broker_spark.core.session import session_id
    from fink_broker_spark.sources import parquet as pq

    df = pq.load_table(spark, SF0001, "nation")
    sid = session_id(spark)
    assert [k for k in pq._LOAD_TABLE_CACHE if k[0] == sid]
    # hit path returns the identical plan object
    assert pq.load_table(spark, SF0001, "nation") is df


# ---------------------------------------------------------------------------
# _planned_width memo
# ---------------------------------------------------------------------------


def test_planned_width_matches_physical_plan(spark):
    from fink_broker_spark.sources.parquet import load_table
    from fink_broker_spark.plans import partitioning as pt

    df = load_table(spark, SF0001, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pt._WIDTH_MEMO.clear()
    w = pt._planned_width(df)
    assert w == df.rdd.getNumPartitions()
    assert len(pt._WIDTH_MEMO) == 1
    # second call is a memo hit (no new entries, same answer)
    assert pt._planned_width(df) == w
    assert len(pt._WIDTH_MEMO) == 1


def test_planned_width_skips_memo_for_rdd_backed(spark):
    from fink_broker_spark.plans import partitioning as pt

    df = spark.range(10).localCheckpoint(eager=True)
    pt._WIDTH_MEMO.clear()
    w = pt._planned_width(df)
    assert w == df.rdd.getNumPartitions()
    assert len(pt._WIDTH_MEMO) == 0


# ---------------------------------------------------------------------------
# bounded_sssp: direct min-source init (node set removed)
# ---------------------------------------------------------------------------


def test_bounded_sssp_empty_and_tiny(spark):
    """r11 removed the node-set aggregate+checkpoint (only the min-id
    source row survived it).  Pins: empty edge list -> empty dist (no
    (NULL, 0) row), and the source picks the global min node with
    exact min-plus distances."""
    from fink_broker_spark.ext.graph import bounded_sssp

    empty = spark.createDataFrame([], "src long, dst long, w long")
    assert bounded_sssp(empty, iters=3).count() == 0

    edges = spark.createDataFrame(
        # min node 2; 2-4 direct (w=9) vs 2-3-4 (w=1+1): relaxation
        # must find the cheaper 2-hop path within 3 rounds
        [(2, 3, 1), (3, 2, 1), (3, 4, 1), (4, 3, 1), (2, 4, 9), (4, 2, 9),
         (9, 11, 1), (11, 9, 1)],  # disconnected component: unreached
        "src long, dst long, w long",
    )
    got = {r.node: r.dist for r in bounded_sssp(edges, iters=3).collect()}
    assert got == {2: 0, 3: 1, 4: 2}


# ---------------------------------------------------------------------------
# weighted_median / winsorized_stats: chunked cumulative ≡ flag window
# ---------------------------------------------------------------------------


def test_weighted_median_chunked_equals_flag_window(spark):
    import __spark_entry__ as entrymod
    from fink_broker_spark.sources.parquet import load_table

    li = load_table(spark, SF0001, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_quantity").isNotNull()
    )
    g = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("w"),
    ).groupBy("l_returnflag", "cents").agg(F.sum("w").alias("w"))
    win = Window.partitionBy("l_returnflag").orderBy("cents")
    cum = g.select(
        "l_returnflag",
        "cents",
        F.sum("w").over(win).alias("cumw"),
        F.sum("w").over(Window.partitionBy("l_returnflag")).alias("total_w"),
    )
    ref = sorted(
        map(
            tuple,
            cum.filter(2 * F.col("cumw") >= F.col("total_w"))
            .groupBy("l_returnflag")
            .agg(
                F.min("cents").alias("wmedian_cents"),
                F.max("total_w").alias("total_weight"),
            )
            .collect(),
        )
    )
    live = sorted(
        map(
            tuple,
            entrymod.queries()["weighted_median"](spark, SF0001).collect(),
        )
    )
    assert live == ref


def test_winsorized_stats_chunked_equals_flag_window(spark):
    import __spark_entry__ as entrymod
    from fink_broker_spark.sources.parquet import load_table

    li = load_table(spark, SF0001, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
    )
    grid = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    ).groupBy("l_returnflag", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("l_returnflag").orderBy("cents")
    cum = grid.select(
        "l_returnflag",
        "cents",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("l_returnflag")).alias("n"),
    )
    bounds = cum.groupBy("l_returnflag").agg(
        F.min(
            F.when(100 * F.col("cum") >= F.col("n"), F.col("cents"))
        ).alias("p01"),
        F.min(
            F.when(100 * F.col("cum") >= 99 * F.col("n"), F.col("cents"))
        ).alias("p99"),
    )
    clamped = grid.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag",
        "cnt",
        F.greatest(
            F.col("p01"), F.least(F.col("p99"), F.col("cents"))
        ).alias("c"),
        (F.col("cents") < F.col("p01")).cast("long").alias("lo"),
        (F.col("cents") > F.col("p99")).cast("long").alias("hi"),
    )
    ref = sorted(
        map(
            tuple,
            clamped.groupBy("l_returnflag")
            .agg(
                F.sum("cnt").alias("n_rows"),
                F.sum(F.col("lo") * F.col("cnt")).alias("n_clipped_low"),
                F.sum(F.col("hi") * F.col("cnt")).alias("n_clipped_high"),
                (
                    F.sum(F.col("c") * F.col("cnt")).cast("double")
                    / F.sum("cnt").cast("double")
                    / F.lit(100.0)
                ).alias("winsorized_mean"),
            )
            .collect(),
        )
    )
    live = sorted(
        map(
            tuple,
            entrymod.queries()["winsorized_stats"](spark, SF0001).collect(),
        )
    )
    assert live == ref
