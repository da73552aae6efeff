"""Unit tests for operator semantics on synthetic nested alert fixtures.

The testdata lake has no nested alert table, so the ZTF/Rubin-shaped
fixtures of FIXTURES.md §2-3 are built in-memory here; the invariants are
the ones the reference's own doctests assert (SURVEY.md §5).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Row

from fink_broker_spark.operators.arrays import (
    array_filter_since,
    array_reduce_max,
    concat_col,
    explode_history,
)
from fink_broker_spark.operators.relational import (
    dedup_exact,
    flatten_cast,
    last_per_key,
    select_with_defaults,
    top_k_per_group,
)
from fink_broker_spark.operators.salting import salt_expr, salted_row_key


@pytest.fixture(scope="module")
def alerts(spark):
    """Mini ZTF-shaped alerts: candidate struct + history array."""
    rows = [
        Row(
            objectId=f"ZTF{oid}",
            candid=100 + i,
            candidate=Row(jd=2459000.5 + i, fid=1 + (i % 3), magpsf=17.0 + i, rb=0.4 + 0.1 * (i % 6), nbad=i % 2),
            prv_candidates=[
                Row(jd=2459000.5 + i - k - 1, fid=1, magpsf=18.0 + k, rb=0.9, nbad=0)
                for k in range(i % 4)
            ],
        )
        for i, oid in enumerate(["a", "a", "b", "b", "b", "c", "d", "e"])
    ]
    return spark.createDataFrame(rows)


def test_concat_col_invariant(alerts):
    out = concat_col(alerts, "magpsf")
    chk = out.select(
        (F.size("cmagpsf") == F.size("prv_candidates") + 1).alias("ok")
    )
    assert all(r.ok for r in chk.collect())
    # append puts the current value last
    row = out.filter(F.size("prv_candidates") > 0).select(
        F.element_at("cmagpsf", -1).alias("last"), F.col("candidate.magpsf").alias("cur")
    ).first()
    assert row.last == row.cur


def test_explode_history_row_count(alerts):
    out = explode_history(alerts, "prv_candidates", ["jd", "magpsf"], keep=["objectId", "candid"])
    expected = alerts.select(F.sum(F.size("prv_candidates"))).collect()[0][0]
    assert out.count() == expected
    assert set(out.columns) == {"objectId", "candid", "jd", "magpsf"}


def test_quality_cut_partition(alerts):
    """nbad == 0 AND rb >= 0.55 AND fid != 3 partitions deterministically."""
    good = alerts.filter(
        (F.col("candidate.nbad") == 0)
        & (F.col("candidate.rb") >= 0.55)
        & (F.col("candidate.fid") != 3)
    )
    bad = alerts.filter(
        ~(
            (F.col("candidate.nbad") == 0)
            & (F.col("candidate.rb") >= 0.55)
            & (F.col("candidate.fid") != 3)
        )
    )
    assert good.count() + bad.count() == alerts.count()


def test_last_per_key_one_row_per_key(alerts):
    out = last_per_key(alerts, "objectId", "candid")
    assert out.count() == alerts.select("objectId").distinct().count()
    row = out.filter(F.col("objectId") == "ZTFb").first()
    assert row.candid == 104  # max candid among the three 'b' alerts


def test_hof_forced_photometry_pattern(spark):
    """FIXTURES.md §3: aggregate-max then filter-since then explode."""
    df = spark.createDataFrame(
        [
            Row(
                alertId=1,
                prvDiaSources=[Row(midpointMjdTai=60001.0), Row(midpointMjdTai=60003.0)],
                prvDiaForcedSources=[
                    Row(diaObjectId=7, midpointMjdTai=60000.0),
                    Row(diaObjectId=7, midpointMjdTai=60003.5),
                ],
            )
        ]
    )
    out = df.withColumn(
        "max_mjd", array_reduce_max("prvDiaSources", "midpointMjdTai")
    ).withColumn(
        "recent",
        array_filter_since("prvDiaForcedSources", "midpointMjdTai", F.col("max_mjd")),
    )
    row = out.first()
    assert row.max_mjd == 60003.0
    assert [x.midpointMjdTai for x in row.recent] == [60003.5]


def test_select_with_defaults(alerts):
    out = select_with_defaults(
        alerts,
        {
            "objectId": ("string", None),
            "not_there": ("double", -1.0),
            "candid": ("bigint", None),
        },
    )
    assert out.columns == ["objectId", "not_there", "candid"]
    assert out.select(F.min("not_there")).collect()[0][0] == -1.0


def test_flatten_cast(alerts):
    out = flatten_cast(
        alerts,
        {
            "objectId": ("objectId", "string"),
            "jd": ("candidate.jd", "double"),
            "fid": ("candidate.fid", "int"),
            "magpsf_str": ("candidate.magpsf", "string"),
        },
    )
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "string", "double", "int", "string",
    ]


def test_rowkey_uniqueness(alerts):
    """FIXTURES.md §2: concat_ws('_', objectId, jd) unique per (objectId, jd)."""
    out = alerts.select(
        salted_row_key(
            salt_expr("candid", 2), "objectId", F.col("candidate.jd")
        ).alias("rowkey")
    )
    assert out.distinct().count() == alerts.count()


def test_dedup_exact_nondeterministic_mode(alerts):
    out = dedup_exact(alerts, ["objectId"])
    assert out.count() == alerts.select("objectId").distinct().count()


def test_top_k_per_group_deterministic(spark):
    df = spark.createDataFrame(
        [Row(g="x", v=float(i % 5), i=i) for i in range(20)]
    )
    out = top_k_per_group(df, ["g"], [F.desc("v"), F.asc("i")], 3)
    assert [(r.v, r.i) for r in out.orderBy("rank").collect()] == [
        (4.0, 4), (4.0, 9), (4.0, 14),
    ]


def test_asof_join_semantics(spark):
    from datetime import datetime

    from fink_broker_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [
            (1, "k1", datetime(2024, 1, 10)),
            (2, "k1", datetime(2024, 1, 1)),   # before any right row
            (3, "k1", datetime(2024, 1, 5)),   # exact tie → inclusive
            (4, "k2", datetime(2024, 1, 10)),  # key with no right rows
        ],
        "id long, k string, t timestamp",
    )
    right = spark.createDataFrame(
        [
            ("k1", datetime(2024, 1, 5), 100),
            ("k1", datetime(2024, 1, 8), 200),
            ("k1", datetime(2024, 1, 12), 300),
        ],
        "k string, t timestamp, val int",
    )
    out = asof_join(
        left,
        right.select("k", "t", F.col("val").alias("rval")),
        left_on="k",
        right_on="k",
        left_time="t",
        right_time="t",
        right_values=["rval"],
    )
    got = {r.id: r.rval for r in out.collect()}
    assert got == {1: 200, 2: None, 3: 100, 4: None}
    assert out.count() == left.count()


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Bucketed tables co-locate the join: the physical plan contains no
    hash-partition Exchange (the persisted analog of the reference's
    pre-sharded serving tables, common/hbase_utils.py:485-526)."""
    from fink_broker_spark.archive.bucketed import colocated_join, write_bucketed
    from fink_broker_spark.sources.parquet import load_table
    from tests.conftest import SF0001

    orders = load_table(spark, SF0001, "orders")
    li = load_table(spark, SF0001, "lineitem")
    try:
        write_bucketed(
            orders, "b_orders", ["o_orderkey"], nbuckets=8,
            sort_cols=["o_orderkey"], path=str(tmp_path / "b_orders"),
        )
        write_bucketed(
            li.withColumnRenamed("l_orderkey", "o_orderkey"),
            "b_lineitem", ["o_orderkey"], nbuckets=8,
            sort_cols=["o_orderkey"], path=str(tmp_path / "b_lineitem"),
        )
        joined = colocated_join(spark, "b_orders", "b_lineitem", on="o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        # row parity with the plain (shuffled) join
        expected = orders.join(
            li, orders.o_orderkey == li.l_orderkey
        ).count()
        assert joined.count() == expected > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_scan_pushdown_and_partition_pruning(spark, tmp_path):
    """Plan-level contracts the engine relies on at 100 TB: predicate
    pushdown reaches the parquet scan (PushedFilters), night-partition
    predicates prune directories (PartitionFilters), and projections
    shrink ReadSchema."""
    from fink_broker_spark.core.time import with_night_partitions
    from fink_broker_spark.sources.parquet import load_table
    from tests.conftest import SF0001

    out = str(tmp_path / "nights")
    ev = load_table(spark, SF0001, "events")
    from fink_broker_spark.core.time import nanos_to_timestamp

    staged = with_night_partitions(
        ev.withColumn("ts", nanos_to_timestamp("ts_ns")), "ts"
    )
    staged.write.partitionBy("year", "month", "day").mode(
        "overwrite"
    ).parquet(out)

    back = spark.read.parquet(out)
    plan = (
        back.filter((F.col("day") == 5) & (F.col("value") > 100.0))
        .select("event_id", "value")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan
    assert "(day" in plan.split("PartitionFilters")[1][:200]
    assert "PushedFilters: [" in plan
    assert "GreaterThan(value" in plan
    # column pruning: ReadSchema carries only the selected data columns
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "event_id" in read_schema and "value" in read_schema
    assert "props" not in read_schema and "event_type" not in read_schema


def test_snowflake_join_stays_broadcast(spark):
    """The Q5-shaped dimension chain must keep every HINTED dimension
    edge broadcast (cust/supp/dims/region = 4 of the 5 joins); the
    unhinted lineitem-orders fact edge is Catalyst's choice and also
    auto-broadcasts at this test scale, so the whole plan is
    SortMergeJoin-free here — at production scale that one edge would
    legitimately become a shuffle join."""
    import __spark_entry__ as em
    from tests.conftest import SF0001

    plan = (
        em.queries()["local_supplier_volume"](spark, SF0001)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_interval_join_equals_naive_nonequi(spark):
    """Bucketed interval join must return exactly the naive non-equi
    join's pair set: inclusive ends, multi-bucket spans, key matching."""
    from fink_broker_spark.operators.relational import interval_join

    points = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 250), (3, "b", 250), (4, "a", 900),
         (5, "a", 300)],  # 300 == interval end: inclusive
        "pid bigint, k string, t bigint",
    )
    intervals = spark.createDataFrame(
        [(10, "a", 100, 300),   # spans 3 cells at bucket=100
         (11, "b", 240, 260),
         (12, "a", 800, 801),
         (13, "c", 0, 1000)],   # key with no points
        "iid bigint, k string, s bigint, e bigint",
    )
    got = {
        (r.pid, r.r_iid)
        for r in interval_join(
            points, intervals, "t", "s", "e", on=["k"], bucket=100
        ).collect()
    }
    naive = {
        (p.pid, i.iid)
        for p in points.collect()
        for i in intervals.collect()
        if p.k == i.k and i.s <= p.t <= i.e
    }
    assert naive == {(1, 10), (2, 10), (5, 10), (3, 11)}
    assert got == naive


def test_interval_join_timestamp_columns(spark):
    """Timestamp sides bucket via epoch micros; same inclusive
    semantics."""
    from fink_broker_spark.operators.relational import interval_join

    points = spark.createDataFrame(
        [(1, "2024-01-01 12:00:00"), (2, "2024-01-03 00:00:00"),
         (3, "2024-01-05 00:00:01")],
        "pid bigint, t string",
    ).select("pid", F.col("t").cast("timestamp").alias("t"))
    intervals = spark.createDataFrame(
        [(10, "2024-01-01 00:00:00", "2024-01-03 00:00:00")],
        "iid bigint, s string, e string",
    ).select(
        "iid",
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
    )
    got = {
        (r.pid, r.r_iid)
        for r in interval_join(points, intervals, "t", "s", "e").collect()
    }
    assert got == {(1, 10), (2, 10)}


def test_replicated_skew_join_equals_plain_join(spark):
    """Salted join must be result-identical to the plain join for inner
    and left joins, including rows whose key matches nothing."""
    from fink_broker_spark.operators.relational import replicated_skew_join

    big = spark.range(2000).select(
        F.col("id").alias("row_id"),
        (F.col("id") % 3).alias("k"),  # 3 hot keys
    )
    small = spark.createDataFrame(
        [(0, "x"), (1, "y"), (5, "unmatched")], "k bigint, label string"
    )
    for how in ("inner", "left"):
        plain = sorted(
            map(tuple, big.join(small, on=["k"], how=how).collect())
        )
        salted = sorted(
            map(
                tuple,
                replicated_skew_join(
                    big, small, on=["k"], salt_col="row_id", nsalts=7,
                    how=how,
                ).collect(),
            )
        )
        assert salted == plain, how


def test_zorder_key_matches_reference_interleave(spark):
    """Morton key expr == bit-by-bit NumPy reference; SQL twin (DuckDB)
    == the expr on the same values; clustered write prunes both dims."""
    import duckdb
    import numpy as np

    from fink_broker_spark.plans.zorder import zorder_key_expr, zorder_sql

    rng = np.random.RandomState(7)
    xs = rng.randint(0, 1 << 16, 200).astype(np.int64)
    ys = rng.randint(0, 1 << 16, 200).astype(np.int64)

    def ref_z(x, y):
        z = 0
        for b in range(16):
            z |= ((int(x) >> b) & 1) << (2 * b)
            z |= ((int(y) >> b) & 1) << (2 * b + 1)
        return z

    expected = [ref_z(x, y) for x, y in zip(xs, ys)]
    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(xs, ys)], "x bigint, y bigint"
    )
    got = [
        r.z for r in df.select(zorder_key_expr("x", "y").alias("z")).collect()
    ]
    assert got == expected

    con = duckdb.connect()
    con.execute("CREATE TABLE t (x BIGINT, y BIGINT)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)",
        [(int(x), int(y)) for x, y in zip(xs, ys)],
    )
    sql_z = [
        r[0]
        for r in con.execute(
            f"SELECT {zorder_sql('x', 'y')} FROM t"
        ).fetchall()
    ]
    assert sql_z == expected


def test_zorder_write_prunes_both_dimensions(spark, tmp_path):
    """Files written via write_zordered have non-overlapping key ranges,
    so a box predicate on (x, y) touches a strict subset of files."""
    import os

    from fink_broker_spark.plans.zorder import write_zordered, zorder_key_expr

    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    out = str(tmp_path / "zordered")
    write_zordered(df, out, "x", "y", num_partitions=8)
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) == 8
    # per-file zkey ranges must not overlap (range partitioning held)
    ranges = []
    for f in files:
        part = spark.read.parquet(os.path.join(out, f))
        row = part.select(
            F.min(zorder_key_expr("x", "y")).alias("lo"),
            F.max(zorder_key_expr("x", "y")).alias("hi"),
        ).collect()[0]
        ranges.append((row.lo, row.hi))
    ranges.sort()
    for (l1, h1), (l2, h2) in zip(ranges, ranges[1:]):
        assert h1 <= l2


def test_dynamic_partition_pruning_on_night_join(spark, tmp_path):
    """Joining a night-partitioned fact to a filtered dimension must prune
    fact partitions at RUNTIME (dynamic partition pruning): the dim filter
    isn't known at plan time, yet only the matching year=/ directories may
    be scanned. This is the mechanism that makes 'rebuild one night from a
    100 TB lake' touch one night of files."""
    from fink_broker_spark.core.time import with_night_partitions
    from fink_broker_spark.sources.parquet import load_table

    from tests.conftest import SF0001 as _sf
    ev = with_night_partitions(load_table(spark, _sf, "events"), "ts")
    lake = str(tmp_path / "lake")
    ev.write.partitionBy("year").parquet(lake)

    fact = spark.read.parquet(lake)
    years = [r.year for r in fact.select("year").distinct().collect()]
    dim = spark.createDataFrame(
        [(y, f"night_{y}") for y in years], "year int, label string"
    ).filter(F.col("label") == f"night_{min(years)}")

    joined = fact.join(dim, "year").groupBy("label").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    rows = joined.collect()
    assert len(rows) == 1
    expected = fact.filter(F.col("year") == min(years)).count()
    assert rows[0]["count"] == expected


def test_new_query_plan_shapes(spark):
    """Pin the shuffle budget the round-3 query docstrings claim:
    chunking is map-only, the single-aggregate folds and windowed
    queries shuffle exactly once, tf-idf stays at three exchanges
    (agg + two window repartitions — no duplicated aggregate subtree)."""
    import __spark_entry__ as em
    from tests.conftest import SF001

    budgets = {
        "doc_chunks": 0,
        "scd2_history": 1,
        "cdc_fold": 1,
        "reservoir_sample": 1,
        "bigram_counts": 1,
        "tfidf_topterms": 3,
    }
    queries = em.queries()
    for name, budget in budgets.items():
        plan = (
            queries[name](spark, SF001)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n = sum(
            "Exchange" in line and "Broadcast" not in line
            for line in plan.splitlines()
        )
        assert n <= budget, f"{name}: {n} exchanges > budget {budget}"


def test_zorder_decode_roundtrips(spark):
    """Property: decode(encode(x, y)) == (x, y) for random 16-bit pairs —
    the serving-key read-back path."""
    import numpy as np

    from fink_broker_spark.plans.zorder import (
        zorder_decode_exprs,
        zorder_key_expr,
    )

    rng = np.random.RandomState(23)
    pairs = [
        (int(x), int(y))
        for x, y in zip(
            rng.randint(0, 1 << 16, 300), rng.randint(0, 1 << 16, 300)
        )
    ] + [(0, 0), (65535, 65535), (65535, 0), (0, 65535)]
    df = spark.createDataFrame(pairs, "x bigint, y bigint")
    dx, dy = zorder_decode_exprs(zorder_key_expr("x", "y"))
    rows = df.select("x", "y", dx.alias("rx"), dy.alias("ry")).collect()
    assert all(r.x == r.rx and r.y == r.ry for r in rows)


def test_regression_trend_matches_native_aggregates(spark):
    """The exact-integer decomposition in q_regression_trend equals the
    native float regression aggregates (F.regr_slope/regr_intercept/
    F.corr) to float tolerance — the native forms are the production
    API, the decomposition is the oracle-checkable twin."""
    import pyspark.sql.functions as F

    from fink_broker_spark.queries.stats import q_regression_trend
    from fink_broker_spark.sources.parquet import load_table
    from tests.conftest import SF001

    got = {
        r.event_type: (r.slope, r.intercept, r.corr)
        for r in q_regression_trend(spark, SF001).collect()
    }
    ev = load_table(spark, SF001, "events")
    x = F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000)).cast(
        "double"
    )
    native = {
        r.event_type: (r.slope, r.intercept, r.corr)
        for r in ev.select(
            "event_type", x.alias("x"), F.col("value").alias("y")
        )
        .groupBy("event_type")
        .agg(
            F.regr_slope("y", "x").alias("slope"),
            F.regr_intercept("y", "x").alias("intercept"),
            F.corr("y", "x").alias("corr"),
        )
        .collect()
    }
    assert set(got) == set(native)
    for et in got:
        for a, b in zip(got[et], native[et]):
            assert abs(a - b) < 1e-9 * max(1.0, abs(b)), (et, a, b)


def test_exploded_aggregates_group_on_scalars(spark):
    """Plan pin for the scalar-extract discipline (SCALING.md round-3d):
    grouping keys must be plain attributes, not struct-field expressions
    — Catalyst marks the latter as `_groupingexpression` aliases inside
    the aggregate's grouping projection, which costs ~2x on exploded
    hot paths (measured on basket_pairs: 10.9 s -> 4.9 s at 10x)."""
    from fink_broker_spark.queries.relational import q_basket_pairs
    from fink_broker_spark.functions.sketches import cms_build
    from fink_broker_spark.sources.parquet import load_table
    from tests.conftest import SF0001

    basket = q_basket_pairs(spark, SF0001)
    plan = basket._jdf.queryExecution().executedPlan().toString()
    assert "_groupingexpression" not in plan

    ev = load_table(spark, SF0001, "events")
    cms = cms_build(ev, "user_id", depth=3, width=64)
    plan = cms._jdf.queryExecution().executedPlan().toString()
    assert "_groupingexpression" not in plan


def test_funnel_walk_edge_semantics(spark):
    """Funnel stage walk: clicks BEFORE the first view don't count, the
    window is anchored at the first view, and boundary events at
    exactly t1+window are included (<=) while t==t1 is excluded (>)."""
    import datetime

    import pyspark.sql.functions as F

    from fink_broker_spark.queries.events import q_funnel_conversion

    E = datetime.datetime(2024, 1, 1)

    def ts(s):
        return E + datetime.timedelta(seconds=s)

    W = 7 * 86_400
    rows = [
        # u1: full funnel in order
        (1, ts(0), "view"), (1, ts(10), "click"), (1, ts(20), "purchase"),
        # u2: click precedes the first view -> stage 1 only
        (2, ts(0), "click"), (2, ts(10), "view"),
        # u3: click exactly at the window edge counts (<=)
        (3, ts(0), "view"), (3, ts(W), "click"),
        # u4: click one second past the window -> stage 1
        (4, ts(0), "view"), (4, ts(W + 1), "click"),
        # u5: no view at all -> stage 0
        (5, ts(0), "purchase"),
        # u6: click at the same microsecond as the view is NOT after it
        (6, ts(0), "view"), (6, ts(0), "click"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    ).withColumn("event_id", F.monotonically_increasing_id()) \
     .withColumn("value", F.lit(1.0)).withColumn("props", F.lit("{}"))
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        out = {
            r.stage: r.n_users
            for r in q_funnel_conversion(spark, d).collect()
        }
    assert out == {0: 1, 1: 3, 2: 1, 3: 1}


def test_bucketed_ntile_matches_native(spark):
    """The distributed bucket-offset ntile must equal a native global
    NTILE for every (n, direction, width) shape — including n < buckets
    (every row its own tile), duplicate keys broken by the tiebreak,
    negative keys (descending metrics), and coarse buckets."""
    from pyspark.sql import Window

    from fink_broker_spark.operators.ranking import bucketed_ntile

    import random

    rnd = random.Random(7)
    for n, width in [(3, 1), (17, 1), (1000, 1), (1000, 37)]:
        rows = [(i, rnd.randrange(-50, 50) * 13) for i in range(n)]
        df = spark.createDataFrame(rows, "id long, v long")
        got = {
            r.id: r.t
            for r in bucketed_ntile(
                df, F.col("v"), F.col("id"), 5, "t", bucket_width=width
            ).collect()
        }
        want = {
            r.id: r.t
            for r in df.select(
                "id",
                F.ntile(5)
                .over(Window.orderBy("v", "id"))
                .alias("t"),
            ).collect()
        }
        assert got == want, (n, width)
    # descending metric via negated key
    df = spark.createDataFrame(
        [(i, (i * 7) % 23) for i in range(40)], "id long, v long"
    )
    got = {
        r.id: r.t
        for r in bucketed_ntile(
            df, -F.col("v"), F.col("id"), 4, "t"
        ).collect()
    }
    want = {
        r.id: r.t
        for r in df.select(
            "id",
            F.ntile(4)
            .over(Window.orderBy(F.col("v").desc(), "id"))
            .alias("t"),
        ).collect()
    }
    assert got == want


def test_nearest_asof_join_semantics(spark):
    """Edge semantics: equal-time match counts as backward (dt=0);
    |dt| ties choose the earlier match; one-sided keys fall back to
    the only side; keys with no right rows yield nulls."""
    from fink_broker_spark.operators.relational import nearest_asof_join

    left = spark.createDataFrame(
        [
            (1, 100),  # right at 100 (equal) and 150 -> dt 0
            (2, 100),  # rights at 90 and 110 -> tie, earlier wins (-10)
            (3, 100),  # right only at 170 -> forward (+70)
            (4, 100),  # right only at 30 -> backward (-70)
            (5, 100),  # no rights at all -> nulls
        ],
        "k long, t long",
    )
    right = spark.createDataFrame(
        [
            (1, 100, 11), (1, 150, 12),
            (2, 90, 21), (2, 110, 22),
            (3, 170, 31),
            (4, 30, 41),
        ],
        "k long, rt long, rid long",
    )
    out = {
        r["k"]: (r["rid"], r["__match_dt"])
        for r in nearest_asof_join(
            left, right, "k", "k", "t", "rt", ["rid"]
        ).collect()
    }
    assert out == {
        1: (11, 0),
        2: (21, -10),
        3: (31, 70),
        4: (41, -70),
        5: (None, None),
    }


def test_bucketed_prefix_sum_matches_native(spark):
    """Distributed prefix sum must equal a native global running
    total, including duplicate keys (tiebreak order), negative keys,
    and coarse buckets."""
    from pyspark.sql import Window

    from fink_broker_spark.operators.ranking import bucketed_prefix_sum

    import random

    rnd = random.Random(11)
    for n, width in [(17, 1), (500, 1), (500, 23)]:
        rows = [
            (i, rnd.randrange(-40, 40) * 7, rnd.randrange(1, 100))
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "id long, k long, v long")
        got = {
            r.id: r.ps
            for r in bucketed_prefix_sum(
                df, F.col("k"), F.col("id"), F.col("v"), "ps",
                bucket_width=width,
            ).collect()
        }
        want = {
            r.id: r.ps
            for r in df.select(
                "id",
                F.sum("v")
                .over(
                    Window.orderBy("k", "id").rowsBetween(
                        Window.unboundedPreceding, 0
                    )
                )
                .alias("ps"),
            ).collect()
        }
        assert got == want, (n, width)


def test_seat_apportionment_invariants(spark):
    """Hamilton apportionment: seats sum exactly to the house size,
    every nation gets at least its quota floor, and top-ups are 0/1."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["seat_apportionment"](spark, SF0001).collect()
    assert sum(r.seats for r in rows) == 1000
    assert all(r.seats in (r.base_seats, r.base_seats + 1) for r in rows)
    assert all(r.seats >= r.base_seats for r in rows)


def test_theil_index_nonnegative(spark):
    """Theil T is a Jensen gap — nonnegative for every nation, zero
    only under perfect equality."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["theil_index"](spark, SF0001).collect()
    assert len(rows) == 25
    # quantized at scale 5: allow the quantization epsilon
    assert all(r.theil >= -1e-4 for r in rows)
    assert any(r.theil > 0 for r in rows)


def test_kl_divergence_nonnegative(spark):
    """KL(p_source || p_corpus) is nonnegative (Gibbs); the terminal
    scale-5 quantize can dip at most one unit below zero."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["kl_divergence_sources"](spark, SF0001).collect()
    assert rows and all(r.kl >= -1e-4 for r in rows)


def test_order_freq_quantiles_monotone(spark):
    """Grid quantiles are monotone (p50 <= p90 <= p99) and the rates
    live in [0, 1]."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["order_freq_quantiles"](spark, SF0001).collect()
    assert rows
    for r in rows:
        assert r.p50_orders <= r.p90_orders <= r.p99_orders
        assert 0.0 <= r.one_time_rate <= 1.0
        assert r.p50_orders <= r.mean_orders * 2  # sanity


def test_graph_modularity_bounds(spark):
    """Newman modularity lives in [-1/2, 1]; intra-community edges
    cannot exceed the edge count."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    (row,) = em.queries()["graph_modularity"](spark, SF0001).collect()
    assert 0 <= row.intra_edges <= row.m_edges
    assert -0.5 <= row.modularity <= 1.0


def test_centroid_distances_selfconsistency(spark):
    """Pairwise centroid cosine: every unordered label pair appears
    exactly once, cosines live in [-1, 1], and the exact dot obeys
    Cauchy-Schwarz against the exact norms."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["centroid_distances"](spark, SF0001).collect()
    labels = set()
    for r in rows:
        assert r.label_a < r.label_b
        labels.add(r.label_a); labels.add(r.label_b)
        assert -1.0 <= r.cosine <= 1.0
        assert r.dot * r.dot <= r.na * r.nb
    k = len(labels)
    assert len(rows) == k * (k - 1) // 2


def test_status_audit_partitions(spark):
    """pure_f + pure_o + mixed partitions every order exactly once."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["status_consistency_audit"](spark, SF0001).collect()
    assert rows
    for r in rows:
        assert r.n_pure_f + r.n_pure_o + r.n_mixed == r.n_orders
        assert 0 <= r.n_violating <= r.n_orders


def test_revenue_bridge_reconciles(spark):
    """The bridge identity: class deltas sum to total(Y) - total(Y-1)."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["revenue_bridge"](spark, SF0001).collect()
    assert {r.bridge_class for r in rows} <= {
        "new", "churned", "expanded", "contracted", "flat"
    }
    assert sum(r.delta_cents for r in rows) == (
        sum(r.cur_cents for r in rows) - sum(r.base_cents for r in rows)
    )
    churned = [r for r in rows if r.bridge_class == "churned"]
    assert all(r.cur_cents == 0 for r in churned)


def test_conversion_latency_sane(spark):
    import __spark_entry__ as em

    from tests.conftest import SF0001

    (row,) = em.queries()["conversion_latency"](spark, SF0001).collect()
    assert row.n_converted > 0
    assert 0 <= row.p50_days <= row.p90_days
    assert row.mean_days >= 0.0


def test_cohort_ltv_monotone(spark):
    """Cumulative LTV never decreases along a cohort's offset axis;
    active customers never exceed the cohort size."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["cohort_ltv"](spark, SF0001).collect()
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_q, []).append(r)
        assert r.n_active <= r.cohort_size
    for rs in by_cohort.values():
        rs.sort(key=lambda r: r.offset)
        assert rs[0].offset == 0
        for a, b in zip(rs, rs[1:]):
            assert b.cum_cents >= a.cum_cents


def test_degree_assortativity_bounds(spark):
    import __spark_entry__ as em

    from tests.conftest import SF0001

    (row,) = em.queries()["degree_assortativity"](spark, SF0001).collect()
    assert -1.0 <= row.assortativity <= 1.0
    assert row.sxy <= row.sxx  # Cauchy-Schwarz with symmetric moments


def test_kcore_peel_invariants(spark):
    """Every surviving node of the bounded 3-round 3-core peel keeps
    degree >= 3, and the handshake identity holds."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    (row,) = em.queries()["kcore_peel"](spark, SF0001).collect()
    if row.core_nodes:
        # a fixed 3-round peel may not have converged: round-3
        # removals can legally drop a survivor below degree 3 — the
        # documented bounded-unroll semantics. Only the handshake
        # identity and positivity are invariant.
        assert row.min_degree >= 1
        assert row.core_edges * 2 >= row.core_nodes * row.min_degree


def test_quartile_skewness_bounds(spark):
    """Bowley skewness is bounded in [-1, 1] and quartiles monotone."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["quartile_skewness"](spark, SF0001).collect()
    assert rows
    for r in rows:
        assert r.q1 <= r.q2 <= r.q3
        assert -1.0 <= r.bowley_skew <= 1.0


def test_price_index_positive(spark):
    import __spark_entry__ as em

    from tests.conftest import SF0001

    (row,) = em.queries()["price_index"](spark, SF0001).collect()
    assert row.n_parts > 0 and row.laspeyres_index > 0.0


def test_distinctive_terms_shape(spark):
    """Top-5 per source, rank keys dense from 1, lift positive."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["distinctive_terms"](spark, SF0001).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
        assert r.lift > 0.0
    for rs in by_src.values():
        assert sorted(x.rk for x in rs) == list(range(1, len(rs) + 1))
        assert len(rs) <= 5


def test_multires_rollup_telescopes(spark):
    """Every level's total equals the level-1 total (the pyramid
    telescopes), and bucket day counts never exceed the level width."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["multires_rollup"](spark, SF0001).collect()
    by_level = {}
    for r in rows:
        by_level.setdefault(r.level, []).append(r)
        assert 1 <= r.n_days <= r.level
    totals = {
        lvl: sum(r.net_cents for r in rs) for lvl, rs in by_level.items()
    }
    assert len(set(totals.values())) == 1


def test_grid_smooth_conserves_mass(spark):
    """Stencil identity: every cell contributes once per in-bounds
    neighbor, so nbr_cells <= 9 and an isolated uniform grid's
    smoothed value equals its own count."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["grid_smooth"](spark, SF0001).collect()
    assert rows
    for r in rows:
        assert 1 <= r.nbr_cells <= 9
        assert r.nbr_sum >= r.n  # own count always contributes


def test_bounce_rate_bounds(spark):
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["bounce_rate"](spark, SF0001).collect()
    assert rows
    for r in rows:
        assert 0 <= r.hour <= 23
        assert 0.0 <= r.bounce_rate <= 1.0
        assert r.n_bounce <= r.n_sessions


def test_psi_drift_symmetric_zero(spark):
    """PSI is nonnegative-ish in practice but exactly symmetric:
    identical arms would give 0; here just bound sanity (psi finite,
    small for random hash split)."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["psi_drift"](spark, SF0001).collect()
    assert rows
    for r in rows:
        assert abs(r.psi) < 5.0


def test_qgram_match_refines(spark):
    """Every emitted pair is within the Levenshtein bound, ordered,
    and deduplicated."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["qgram_match"](spark, SF0001).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r.name_a < r.name_b
        assert 0 <= r.dist <= 3
        assert (r.name_a, r.name_b) not in seen
        seen.add((r.name_a, r.name_b))


def test_skew_report_identity(spark):
    """max >= n_rows/n_distinct (pigeonhole) and skew_ratio >= 1."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["skew_report"](spark, SF0001).collect()
    assert {r.key_col for r in rows} == {
        "l_orderkey", "l_partkey", "l_suppkey"
    }
    for r in rows:
        assert r.max_cnt * r.n_distinct >= r.n_rows
        assert r.skew_ratio >= 1.0
        assert r.hottest_key is not None


def test_assoc_rules_identities(spark):
    """Confidence is n_ab/n_a in (0, 1]; lift symmetric per unordered
    pair; n_ab never exceeds either support."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["assoc_rules"](spark, SF0001).collect()
    assert rows
    lifts = {}
    for r in rows:
        assert 0.0 < r.confidence <= 1.0
        assert r.n_ab <= r.n_a and r.n_ab <= r.n_b
        key = (min(r.a, r.b), max(r.a, r.b))
        if key in lifts:
            assert lifts[key] == r.lift
        lifts[key] = r.lift


def test_price_volume_mix_reconciles(spark):
    """volume_fp + price_fp equals delta*10^4 up to the two floor
    remainders (each < 10^4)."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["price_volume_mix"](spark, SF0001).collect()
    # nations with orders in BOTH years (inner match) — ≤ 25
    assert 0 < len(rows) <= 25
    for r in rows:
        recon = r.volume_effect_fp4 + r.price_effect_fp4
        assert abs(recon - r.delta_cents * 10000) < 2 * 10000


def test_forecast_backtest_shape(spark):
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = {r.predictor: r for r in em.queries()["forecast_backtest"](
        spark, SF0001
    ).collect()}
    assert set(rows) == {"naive_lag1", "seasonal_lag7"}
    for r in rows.values():
        assert r.n_days > 0 and r.mae_cents >= 0.0
        assert r.rmse_dollars >= 0.0


def test_dataset_split_partitions(spark):
    """Every source's shares sum to 1 and the three splits are
    roughly 80/10/10 (hash uniformity at corpus size)."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["dataset_split"](spark, SF0001).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, {})[r.split] = r
    for src, d in by_src.items():
        assert abs(sum(r.share for r in d.values()) - 1.0) < 1e-12
        n_src = sum(r.n_docs for r in d.values())
        # hash-uniformity band only meaningful for non-tiny sources
        if d.get("train") and n_src >= 200:
            assert 0.6 < d["train"].share < 0.95


def test_split_leakage_bounds(spark):
    import __spark_entry__ as em

    from tests.conftest import SF0001

    (row,) = em.queries()["split_leakage"](spark, SF0001).collect()
    assert 0 <= row.cross_split_families <= row.dup_families
    assert row.leaked_eval_docs >= 0


def test_length_caps_monotone(spark):
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["length_caps"](spark, SF0001).collect()
    assert rows
    for r in rows:
        assert r.p50_tokens <= r.p95_tokens <= r.p99_tokens
        assert 0 <= r.dropped_tokens <= r.total_tokens
        assert 0.0 <= r.dropped_share < 0.5


def test_rolling_median_bounds(spark):
    """Every month's rolling-median summary is bounded by the raw
    daily range, and mean <= max."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["rolling_median"](spark, SF0001).collect()
    assert rows
    for r in rows:
        assert r.n_days >= 1
        assert r.mean_med28 <= r.max_med28 + 1e-9


def test_ohlc_weekly_envelope(spark):
    """low <= open/close <= high for every week."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["ohlc_weekly"](spark, SF0001).collect()
    assert rows
    for r in rows:
        assert r.low_cents <= r.open_cents <= r.high_cents
        assert r.low_cents <= r.close_cents <= r.high_cents
        assert 1 <= r.n_days <= 7


def test_lateral_topk_matches_window_form(spark):
    """The correlated-LATERAL plan returns exactly the window-function
    top-2 per nation."""
    import __spark_entry__ as em
    from pyspark.sql import Window

    from fink_broker_spark.sources.parquet import load_table
    from tests.conftest import SF0001

    got = sorted(
        map(tuple, em.queries()["lateral_topk"](spark, SF0001).collect())
    )
    cu = load_table(spark, SF0001, "customer").select(
        "c_nationkey",
        "c_name",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_cents"),
    )
    na = load_table(spark, SF0001, "nation").select(
        "n_nationkey", "n_name"
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("bal_cents").desc(), "c_name"
    )
    want = sorted(
        map(
            tuple,
            cu.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 2)
            .join(na, F.col("c_nationkey") == F.col("n_nationkey"))
            .select("n_name", "c_name", "bal_cents")
            .collect(),
        )
    )
    assert got == want


def test_invoice_reconciliation_partitions(spark):
    """Buckets partition the joined orders; diffs are nonnegative."""
    import __spark_entry__ as em

    from tests.conftest import SF0001

    rows = em.queries()["invoice_reconciliation"](
        spark, SF0001
    ).collect()
    assert rows and {r.recon_bucket for r in rows} <= {
        "exact", "within_1pct", "beyond_1pct"
    }
    for r in rows:
        assert r.n_orders > 0
        assert 0 <= r.worst_abs_diff_cents
        assert r.total_abs_diff_cents >= r.worst_abs_diff_cents or (
            r.recon_bucket == "exact"
        )
