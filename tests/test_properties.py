"""Property-based checks (hypothesis) for the custom algorithms: the
Spark implementations must agree with trivially-correct Python oracles
on arbitrary inputs — the reference has no property tests (SURVEY §5.7);
these guard the operators whose SQL oracles can't vary their inputs."""

from __future__ import annotations

from contextlib import contextmanager, nullcontext
from datetime import datetime, timedelta

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st

EPOCH = datetime(2024, 1, 1)

pair_lists = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
        lambda p: p[0] != p[1]
    ),
    min_size=1,
    max_size=40,
)

events = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 100)),  # (key, minute)
    min_size=0,
    max_size=25,
)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min-label per node
    return {n: find(n) for n in parent}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=pair_lists)
def test_dedup_groups_matches_union_find(spark, edges):
    from fink_broker_spark.ext.dedup import dedup_groups

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "id_a long, id_b long"
    )
    got = {r.id: r.component for r in dedup_groups(pairs).collect()}
    want = _union_find(edges)
    assert got == want


@contextmanager
def _distributed_components(spark):
    """Broadcast off: ``dedup_groups`` runs its pointer-jumping loop
    instead of finishing the pairs on the driver."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=pair_lists)
def test_dedup_groups_distributed_matches_union_find(spark, edges):
    from fink_broker_spark.ext.dedup import dedup_groups

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "id_a long, id_b long"
    )
    with _distributed_components(spark):
        got = {r.id: r.component for r in dedup_groups(pairs).collect()}
    assert got == _union_find(edges)


def test_dedup_groups_driver_edge_limit(spark):
    """The broadcast bound sizes the driver path, capped by a constant;
    ``-1`` keeps every graph distributed."""
    from fink_broker_spark.ext.dedup import (
        _DRIVER_EDGE_CAP,
        _EDGE_BYTES,
        _driver_edge_limit,
    )

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, str(10 * 1024 * 1024))
        assert _driver_edge_limit(spark) == 10 * 1024 * 1024 // _EDGE_BYTES
        spark.conf.set(key, str(1 << 40))
        assert _driver_edge_limit(spark) == _DRIVER_EDGE_CAP
        spark.conf.set(key, "-1")
        assert _driver_edge_limit(spark) is None
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("distributed", [False, True])
def test_dedup_groups_null_ids(spark, distributed):
    """A NULL id joins no component: its partner stays a node of its
    own, and every NULL collapses into one ``(NULL, NULL)`` row."""
    from fink_broker_spark.ext.dedup import dedup_groups

    pairs = spark.createDataFrame(
        [(1, 2), (None, 5), (7, None), (2, 3), (None, None), (9, 9)],
        "id_a long, id_b long",
    )
    with _distributed_components(spark) if distributed else nullcontext():
        got = dedup_groups(pairs).collect()
    assert sorted(got, key=lambda r: (r.id is None, r.id or 0)) == [
        (1, 1), (2, 1), (3, 1), (5, 5), (7, 7), (9, 9), (None, None)
    ]


def _closed_min_rounds(edges, k):
    """k synchronous rounds of label(v) ← min over {v} ∪ neighbours(v)."""
    nbrs = {}
    for u, v in edges:
        nbrs.setdefault(u, {u}).add(v)
        nbrs.setdefault(v, {v}).add(u)
    lbl = {n: n for n in nbrs}
    for _ in range(k):
        lbl = {n: min(lbl[m] for m in ns) for n, ns in nbrs.items()}
    return lbl


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=0,
        max_size=30,
    ),
    k=st.sampled_from((0, 1, 3)),
)
@example(edges=[], k=0)
@example(edges=[], k=3)
@example(edges=[(5, 4), (4, 3), (3, 2), (2, 1)], k=1)
@example(edges=[(5, 4), (4, 3), (3, 2), (2, 1)], k=3)
def test_min_label_propagation_matches_closed_min(spark, edges, k):
    from fink_broker_spark.ext.graph import min_label_propagation, symmetrize

    oriented = spark.createDataFrame(
        sorted({(min(a, b), max(a, b)) for a, b in edges}), "u long, v long"
    )
    got = {
        r.node: r.lbl
        for r in min_label_propagation(symmetrize(oriented), k).collect()
    }
    assert got == _closed_min_rounds(edges, k)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=events, right=events)
def test_asof_join_matches_naive(spark, left, right):
    from fink_broker_spark.operators.relational import asof_join

    lrows = [
        (i, k, EPOCH + timedelta(minutes=m)) for i, (k, m) in enumerate(left)
    ]
    rrows = [
        (k, EPOCH + timedelta(minutes=m), i * 10)
        for i, (k, m) in enumerate(right)
    ]
    # asof semantics need a deterministic right side: one row per (key, t)
    best = {}
    for k, t, v in rrows:
        best[(k, t)] = max(best.get((k, t), -1), v)
    rrows = [(k, t, v) for (k, t), v in best.items()]

    ldf = spark.createDataFrame(lrows, "id long, k long, t timestamp")
    rdf = spark.createDataFrame(rrows, "k long, t timestamp, v long")
    out = asof_join(
        ldf, rdf, left_on="k", right_on="k",
        left_time="t", right_time="t", right_values=["v"],
    )
    got = {r.id: r.v for r in out.collect()}

    want = {}
    for i, k, t in lrows:
        cands = [(rt, v) for (rk, rt, v) in rrows if rk == k and rt <= t]
        want[i] = max(cands)[1] if cands else None
    assert got == want


docs_tokens = st.lists(st.integers(1, 50), min_size=1, max_size=60)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tokens=docs_tokens, budget=st.integers(5, 100), nshards=st.integers(1, 4))
def test_pack_by_prefix_sum_matches_naive(spark, tokens, budget, nshards):
    from fink_broker_spark.ext.pipeline import pack_by_prefix_sum

    rows = [(i, t) for i, t in enumerate(tokens)]
    df = spark.createDataFrame(rows, "doc_id bigint, n_tokens int")
    packed = pack_by_prefix_sum(
        df, "n_tokens", budget=budget, id_col="doc_id", nshards=nshards
    )
    got = {r.doc_id: (r.shard, r.bin) for r in packed.collect()}

    want = {}
    for shard in range(nshards):
        running = 0
        for i, t in rows:
            if i % nshards != shard:
                continue
            want[i] = (shard, running // budget)
            running += t
    # every doc lands in exactly one bin, matching the per-shard naive pack
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    words=st.lists(
        st.sampled_from(["a", "b", "c", "dd", "eee"]), min_size=1, max_size=30
    )
)
def test_repetition_metrics_match_counter(spark, words):
    from collections import Counter

    from fink_broker_spark.ext.pipeline import repetition_metrics

    df = spark.createDataFrame([(1, words)], "doc_id bigint, toks array<string>")
    row = repetition_metrics(df, "doc_id", "toks").collect()[0]
    c = Counter(words)
    assert row.n_tokens == len(words)
    assert row.distinct_tokens == len(c)
    assert row.top_token_count == max(c.values())


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.floats(0.0, 359.9, allow_nan=False),
            st.floats(-89.0, 89.0, allow_nan=False),
        ),
        min_size=1,
        max_size=50,
    ),
    nside=st.sampled_from([1, 4, 16, 64]),
)
def test_healpix_expr_matches_numpy_property(spark, pts, nside):
    import numpy as np

    from fink_broker_spark.functions.spatial import (
        ang2pix_ring_np,
        healpix_ring_expr,
    )

    df = spark.createDataFrame(pts, "ra double, dec double")
    got = [
        r.pix
        for r in df.select(
            healpix_ring_expr("ra", "dec", nside).alias("pix")
        ).collect()
    ]
    ra = np.array([p[0] for p in pts])
    dec = np.array([p[1] for p in pts])
    want = ang2pix_ring_np(ra, dec, nside).tolist()
    assert got == want


# -- Avro binary codec: round-trip over random schemas and values ---------

_avro_primitives = st.sampled_from(
    ["boolean", "int", "long", "float", "double", "string", "bytes"]
)


def _value_for(t):
    if t == "boolean":
        return st.booleans()
    if t in ("int", "long"):
        lo, hi = (-(2**31), 2**31 - 1) if t == "int" else (-(2**63), 2**63 - 1)
        return st.integers(lo, hi)
    if t == "float":
        return st.floats(width=32, allow_nan=False)
    if t == "double":
        return st.floats(allow_nan=False)
    if t == "string":
        return st.text(max_size=40)
    return st.binary(max_size=40)


@st.composite
def _record_and_value(draw):
    nfields = draw(st.integers(1, 6))
    fields = []
    value = {}
    for i in range(nfields):
        t = draw(_avro_primitives)
        nullable = draw(st.booleans())
        as_array = draw(st.booleans())
        ftype = {"type": "array", "items": t} if as_array else t
        if nullable:
            ftype = [ftype, "null"]
        fields.append({"name": f"f{i}", "type": ftype})
        if nullable and draw(st.booleans()):
            value[f"f{i}"] = None
        elif as_array:
            value[f"f{i}"] = draw(
                st.lists(_value_for(t), max_size=5)
            )
        else:
            value[f"f{i}"] = draw(_value_for(t))
    return {"type": "record", "name": "r", "fields": fields}, value


@given(rv=_record_and_value())
@settings(max_examples=200, deadline=None)
def test_avro_codec_roundtrip_property(rv):
    """decode(encode(v)) == v for random record schemas mixing
    primitives, arrays, and nullable unions; the cursor must land
    exactly at the end of the buffer (no trailing garbage, no
    over-read)."""
    from fink_broker_spark.schema.avro_codec import decode, encode

    schema, value = rv
    blob = encode(schema, value)
    back, pos = decode(schema, blob)
    assert pos == len(blob)
    assert back == value


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ref_pts=st.lists(
        st.tuples(st.integers(0, 5000), st.integers(-1000, 1000)),
        min_size=2,
        max_size=25,
        unique_by=lambda p: p[0],
    ),
    obs_ts=st.lists(st.integers(0, 5000), min_size=1, max_size=25),
)
def test_interpolate_at_matches_numpy_interp(spark, ref_pts, obs_ts):
    """interpolate_at ≡ numpy.interp on a random per-key series —
    np.interp clamps outside the range exactly as the operator does."""
    import numpy as np

    from fink_broker_spark.operators.timeseries import interpolate_at

    ref_pts = sorted(ref_pts)
    ref = spark.createDataFrame(
        [("k", EPOCH + timedelta(seconds=t), float(v)) for t, v in ref_pts],
        "k string, ts timestamp, v double",
    )
    obs = spark.createDataFrame(
        [
            (i, "k", EPOCH + timedelta(seconds=t))
            for i, t in enumerate(obs_ts)
        ],
        "id long, k string, ts timestamp",
    )
    got = {
        r.id: r.iv
        for r in interpolate_at(obs, ref, "k", "ts", "v", "iv").collect()
    }
    xs = [t for t, _ in ref_pts]
    ys = [float(v) for _, v in ref_pts]
    for i, t in enumerate(obs_ts):
        want = float(np.interp(t, xs, ys))
        assert got[i] == pytest.approx(want, abs=1e-9), (t, ref_pts)


# ---------------------------------------------------------------------------
# round-6 integer-exact statistics: the q_* functions run against
# hypothesis-generated mini-lakes (real parquet through load_table, the
# exact production path) and must match trivially-correct Python oracles.
# The DuckDB parity gate varies the LAYOUT of one dataset; these vary
# the DATA — ties, single-row groups, constant series, empty buckets.
# ---------------------------------------------------------------------------

order_series = st.lists(
    st.tuples(
        st.sampled_from(["A", "B"]),  # priority group
        st.integers(0, 120),          # day offset from EPOCH
        st.integers(1, 500),          # totalprice (whole dollars)
    ),
    min_size=1,
    max_size=30,
)


def _orders_lake(spark, tmp_path_factory, rows):
    sf = str(tmp_path_factory.mktemp("lake"))
    spark.createDataFrame(
        [
            (f"{p}-PRIO", EPOCH + timedelta(days=d), float(v), i)
            for i, (p, d, v) in enumerate(rows)
        ],
        "o_orderpriority string, o_orderdate timestamp, "
        "o_totalprice double, o_custkey long",
    ).coalesce(1).write.parquet(f"{sf}/orders.parquet")
    return sf


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=order_series)
def test_mann_kendall_matches_naive(spark, tmp_path_factory, rows):
    from fink_broker_spark.queries.stats import q_mann_kendall_trend

    sf = _orders_lake(spark, tmp_path_factory, rows)
    got = {
        r.priority: (r.n_buckets, r.n_pairs, r.s_stat)
        for r in q_mann_kendall_trend(spark, sf).collect()
    }
    # naive: exact cents per (priority, 30-day bucket), then the
    # quadratic double loop over ordered buckets.  Buckets are
    # UNIX-epoch-aligned (the query floors absolute epoch-µs), not
    # aligned to this test's EPOCH constant.
    epoch_day0 = int(EPOCH.timestamp()) // 86400
    series: dict = {}
    for p, d, v in rows:
        key = f"{p}-PRIO"
        series.setdefault(key, {})
        b = (epoch_day0 + d) // 30
        series[key][b] = series[key].get(b, 0) + v * 100
    want = {}
    for p, by_bucket in series.items():
        xs = [by_bucket[b] for b in sorted(by_bucket)]
        s = sum(
            (1 if xs[j] > xs[i] else -1 if xs[j] < xs[i] else 0)
            for i in range(len(xs))
            for j in range(i + 1, len(xs))
        )
        want[p] = (len(xs), len(xs) * (len(xs) - 1) // 2, s)
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=order_series)
def test_runs_test_matches_naive(spark, tmp_path_factory, rows):
    from fink_broker_spark.queries.stats import q_runs_test

    sf = _orders_lake(spark, tmp_path_factory, rows)
    got = {
        r.priority: (r.n_up, r.n_down, r.n_runs)
        for r in q_runs_test(spark, sf).collect()
    }
    series: dict = {}
    for p, d, v in rows:
        key = f"{p}-PRIO"
        series.setdefault(key, {})
        series[key][d] = series[key].get(d, 0) + v * 100
    want = {}
    for p, by_day in series.items():
        xs = [by_day[d] for d in sorted(by_day)]
        signs = [
            1 if b > a else -1
            for a, b in zip(xs, xs[1:])
            if b != a
        ]
        n_up = sum(1 for s in signs if s == 1)
        n_down = len(signs) - n_up
        n_runs = 0
        prev = None
        for s in signs:
            if s != prev:
                n_runs += 1
            prev = s
        if signs:
            want[p] = (n_up, n_down, n_runs)
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=order_series)
def test_survival_counts_matches_naive(spark, tmp_path_factory, rows):
    from fink_broker_spark.queries.stats import q_survival_counts

    # reuse (priority) as the customer id modulo 3 so lifespans vary
    sf = str(tmp_path_factory.mktemp("lake"))
    spark.createDataFrame(
        [
            (i % 3, EPOCH + timedelta(days=d))
            for i, (_, d, _) in enumerate(rows)
        ],
        "o_custkey long, o_orderdate timestamp",
    ).coalesce(1).write.parquet(f"{sf}/orders.parquet")
    got = {
        r.bucket: (r.n_at_risk, r.n_events, r.n_censored)
        for r in q_survival_counts(spark, sf).collect()
    }
    per: dict = {}
    for i, (_, d, _) in enumerate(rows):
        k = i % 3
        lo, hi = per.get(k, (d, d))
        per[k] = (min(lo, d), max(hi, d))
    max_day = max(d for _, d, _ in rows)
    tab: dict = {}
    for lo, hi in per.values():
        bucket = (hi - lo) // 30
        cens = 1 if (max_day - hi) < 90 else 0
        ev, ce = tab.get(bucket, (0, 0))
        tab[bucket] = (ev + (1 - cens), ce + cens)
    want = {}
    running = 0
    for b in sorted(tab, reverse=True):
        ev, ce = tab[b]
        running += ev + ce
        want[b] = (running, ev, ce)
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(evts=events)
def test_window_distinct_count_matches_naive(
    spark, tmp_path_factory, evts
):
    from fink_broker_spark.queries.events import q_window_distinct_count

    if not evts:
        return
    sf = str(tmp_path_factory.mktemp("lake"))
    spark.createDataFrame(
        [
            (i, EPOCH + timedelta(days=m), u, "click")
            for i, (u, m) in enumerate(evts)
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    ).coalesce(1).write.parquet(f"{sf}/events.parquet")
    got = {
        r.d: r.n_cum_users
        for r in q_window_distinct_count(spark, sf).collect()
    }
    days = sorted({m for _, m in evts})
    epoch_day0 = int(EPOCH.timestamp()) // 86400
    want = {}
    for d in days:
        seen = {u for u, m in evts if m <= d}
        want[epoch_day0 + d] = len(seen)
    assert got == want
