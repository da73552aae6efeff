"""Regression pins for the round-10 measured engine facts.

The ``nanemb`` driftlab layout's 36 first-sweep issues all trace to a
handful of MEASURED cross-engine behaviors (SWEEP_r10.md §4).  These
tests pin each measurement directly, so a Spark or DuckDB upgrade
that silently changes one of them fails HERE with the rationale
attached, instead of resurfacing as an unexplained driver red:

1. Spark ``floor(double)`` is LONG-typed and SILENT on non-finite
   input (floor(NaN) = 0, floor(±Inf) = ±Long.MAX) — the reason every
   ``floor(x·k+0.5)`` integerization needs a symmetric finite guard;
2. Spark's double→DECIMAL cast maps NaN/±Inf to NULL even under ANSI
   (DuckDB hard-errors) — the engine semantics ``_dec()`` makes
   explicit and every oracle mirrors with an isfinite CASE;
3. ``_finite()`` / DuckDB ``isfinite`` agree state-by-state;
4. ``well_formed_vectors`` is finite-strict, and its oracle mirror
   predicate selects the identical vector set;
5. the decimal precision-loss class: a DECIMAL(18,9) × BIGINT product
   silently drops scale digits (required precision 39 > 38), while
   the DECIMAL(10,0)-pinned multiplicand keeps the product exact —
   the ``surprise_drift_series`` bug caught pre-registration;
6. duckdb 1.0 ``range()`` rejects subquery bounds (the measured
   constraint behind the symmetric 100k-token gram bound, ADVICE r9
   #2) — if an upgrade lifts this, the caps can become derived.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

NAN = float("nan")
INF = float("inf")


@pytest.fixture(scope="module")
def nonfinite_df(spark):
    return spark.createDataFrame(
        [(1, 1.5), (2, NAN), (3, INF), (4, -INF), (5, None)],
        "id bigint, v double",
    )


def test_spark_floor_double_is_silent_on_nonfinite(nonfinite_df):
    rows = {
        r["id"]: r["f"]
        for r in nonfinite_df.select(
            "id", F.floor(F.col("v") * 100 + F.lit(0.5)).alias("f")
        ).collect()
    }
    assert rows[1] == 150
    # the hazard: NaN aliases a real zero, infinities alias Long.MAX/MIN
    assert rows[2] == 0
    assert rows[3] == 2**63 - 1
    assert rows[4] == -(2**63)
    assert rows[5] is None
    # DuckDB's same tree hard-errors instead — crash-vs-corrupt split
    con = duckdb.connect()
    with pytest.raises(duckdb.ConversionException):
        con.execute(
            "SELECT CAST(FLOOR(CAST('nan' AS DOUBLE) * 100 + 0.5)"
            " AS BIGINT)"
        )


def test_spark_decimal_cast_nulls_nonfinite_even_ansi(spark, nonfinite_df):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    rows = {
        r["id"]: r["d"]
        for r in nonfinite_df.select(
            "id", F.col("v").cast("decimal(18,9)").alias("d")
        ).collect()
    }
    assert rows[1] is not None and float(rows[1]) == 1.5
    assert rows[2] is None and rows[3] is None and rows[4] is None
    assert rows[5] is None
    # DuckDB's cast hard-errors — hence the oracle-side isfinite CASE
    con = duckdb.connect()
    with pytest.raises(duckdb.ConversionException):
        con.execute("SELECT CAST(CAST('inf' AS DOUBLE) AS DECIMAL(18,9))")


def test_finite_helper_mirrors_duckdb_isfinite(nonfinite_df):
    from fink_broker_spark.queries.common import _finite

    got = {
        r["id"]: r["ok"]
        for r in nonfinite_df.select(
            "id", _finite("v").alias("ok")
        ).collect()
    }
    assert got == {1: True, 2: False, 3: False, 4: False, 5: None}
    con = duckdb.connect()
    duck = con.execute(
        "SELECT isfinite(1.5), isfinite('nan'::DOUBLE),"
        " isfinite('inf'::DOUBLE), isfinite('-inf'::DOUBLE),"
        " isfinite(NULL::DOUBLE)"
    ).fetchone()
    assert list(duck) == [True, False, False, False, None]


def test_well_formed_vectors_is_finite_strict(spark):
    from fink_broker_spark.ext.ann import well_formed_vectors

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),
            (2, None),
            (3, [1.0, None]),
            (4, [NAN, 1.0]),
            (5, [1.0, INF]),
            (6, [-INF, 1.0]),
            (7, []),
        ],
        "vec_id bigint, embedding array<float>",
    )
    kept = sorted(
        r["vec_id"]
        for r in well_formed_vectors(df, "embedding").collect()
    )
    assert kept == [1, 7]
    # oracle mirror selects the identical set
    import pyarrow as pa
    import pyarrow.parquet as pq
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "e.parquet")
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(
                        [1, 2, 3, 4, 5, 6, 7], pa.int64()
                    ),
                    "embedding": pa.array(
                        [
                            [1.0, 2.0],
                            None,
                            [1.0, None],
                            [NAN, 1.0],
                            [1.0, INF],
                            [-INF, 1.0],
                            [],
                        ],
                        pa.list_(pa.float32()),
                    ),
                }
            ),
            path,
        )
        con = duckdb.connect()
        duck_kept = sorted(
            r[0]
            for r in con.execute(
                f"""
                SELECT vec_id FROM read_parquet('{path}')
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding,
                          x -> x IS NULL OR NOT isfinite(x))) = 0
                """
            ).fetchall()
        )
    assert duck_kept == kept


def test_decimal_times_bigint_precision_loss_class(spark):
    df = spark.createDataFrame([(7,)], "n bigint").select(
        F.lit(0.123456789).cast("decimal(18,9)").alias("t"), "n"
    )
    lossy = df.select((F.col("t") * F.col("n")).alias("p")).schema[
        "p"
    ].dataType.simpleString()
    # the hazard: required decimal(39,9) > 38 → Spark silently drops
    # a scale digit (allowPrecisionLoss default)
    assert lossy == "decimal(38,8)", lossy
    pinned = df.select(
        (F.col("t") * F.col("n").cast("decimal(10,0)")).alias("p")
    )
    assert (
        pinned.schema["p"].dataType.simpleString() == "decimal(29,9)"
    )
    # and the pinned product is exact, matching DuckDB's
    got = pinned.collect()[0]["p"]
    duck = duckdb.connect().execute(
        "SELECT CAST(0.123456789 AS DECIMAL(18,9))"
        " * CAST(7 AS DECIMAL(10,0))"
    ).fetchone()[0]
    assert got == duck


def test_duckdb_range_requires_constant_bounds():
    """The measured constraint behind the symmetric 100k-token gram
    bound (ADVICE r9 #2): duckdb 1.0 cannot derive the shingle
    position range from a scalar subquery.  If this starts passing,
    the constant caps in the shingle oracles can become derived."""
    con = duckdb.connect()
    with pytest.raises(duckdb.BinderException):
        con.execute(
            "WITH w AS (SELECT [1,2,3] AS toks)"
            " SELECT toks[i] FROM w,"
            " range(1, (SELECT MAX(len(toks)) + 1 FROM w)) t(i)"
            " WHERE i <= len(toks)"
        )


def test_materialize_routes_through_localcheckpoint(spark):
    """``materialize`` must actually truncate lineage via
    localCheckpoint — patched on the CONCRETE DataFrame class with a
    fired-flag, per the r9 monkeypatch lesson (the abstract
    pyspark.sql.DataFrame parent is a silent no-op to patch)."""
    from fink_broker_spark.plans.materialize import materialize

    cls = type(spark.range(1))
    orig = cls.localCheckpoint
    fired = []

    def spy(self, eager=True):
        fired.append(eager)
        return orig(self, eager=eager)

    cls.localCheckpoint = spy
    try:
        out = materialize(spark.range(5))
        assert out.count() == 5
    finally:
        cls.localCheckpoint = orig
    assert fired == [True], "localCheckpoint spy did not fire"
