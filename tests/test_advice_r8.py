"""Regression tests for the round-8 VERDICT reds + ADVICE advisories.

The two r8 driver reds (``rolling_volatility``, ``table_checksum``)
were the registry's ONLY two queries emitting a ``DECIMAL(38,0)``
column: the driver's canonicalizer fetches DuckDB's HUGEINT-backed
wide decimals (p > 18) differently from Spark's ``Decimal`` even when
every value is cross-engine identical (VERDICT r8 root cause — the
same fetch-typing family ``probe_type_hugeint`` pinned in r6, one
level up).  These tests pin the closure:

1. both queries now emit the wide numerator as three exact BIGINT
   limbs (``_limb3_bigints``) and their schemas carry NO decimal
   wider than 18 digits; the limbs recombine to the exact HUGEINT
   the oracle computes;
2. ``admin/typeaudit`` flags ANY output column with decimal
   precision > 18 on either engine (the gate that would have caught
   both reds pre-driver);
3. (ADVICE r8 #1) ``kernel_portable_topk`` drops NULL embeddings
   symmetrically with the oracle instead of crashing in np.asarray;
4. (ADVICE r8 #2) the semantic-dedup tau inequality rides
   decimal(18,0): operands past the old 1e14 envelope now answer
   instead of ANSI-throwing against a DuckDB that answers.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as em
from fink_broker_spark.admin.typeaudit import (
    _MAX_EMIT_DECIMAL_PRECISION,
    _decimal_precision,
    compare_types,
)
from tests.conftest import SF0001, duck_connection, run_oracle_compare


# -- 1. the two r8 reds emit BIGINT limbs, never a wide decimal ------------


@pytest.mark.parametrize("name", ["rolling_volatility", "table_checksum"])
def test_red_queries_emit_no_wide_decimal(spark, name):
    df = em.queries()[name](spark, SF0001)
    wide = [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in df.schema.fields
        if (_decimal_precision(f.dataType.simpleString()) or 0)
        > _MAX_EMIT_DECIMAL_PRECISION
    ]
    assert not wide, f"wide-decimal emission regressed: {wide}"
    run_oracle_compare(spark, name, SF0001)


def test_rolling_volatility_limbs_recombine_exactly(spark):
    """hi·10¹⁸ + mid·10⁹ + lo must equal the exact HUGEINT numerator
    the oracle computes — stronger than hash parity (a symmetric limb
    bug would hash green)."""
    rows = {
        r["d"]: (r["var_hi"], r["var_mid"], r["var_lo"])
        for r in em.queries()["rolling_volatility"](spark, SF0001).collect()
    }
    con = duck_connection(SF0001)
    exact = dict(
        con.execute(
            """
            WITH daily AS (
              SELECT CAST(FLOOR(epoch_us(o_orderdate) / 86400000000)
                          AS BIGINT) AS d,
                     SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                       AS cents
              FROM orders GROUP BY 1
            ), roll AS (
              SELECT d, count(*) OVER w AS n_days,
                     SUM(cents) OVER w AS s_cents,
                     SUM(CAST(cents AS HUGEINT) * cents) OVER w AS qq
              FROM daily
              WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING
                           AND CURRENT ROW)
            )
            SELECT d, CAST(n_days AS HUGEINT) * qq
                      - CAST(s_cents AS HUGEINT) * s_cents
            FROM roll
            """
        ).fetchall()
    )
    assert rows.keys() == exact.keys()
    for d, (hi, mid, lo) in rows.items():
        assert hi * 10**18 + mid * 10**9 + lo == int(exact[d]), f"day {d}"
        assert 0 <= lo < 10**9 and 0 <= mid < 10**9


# -- 2. the typeaudit gate that would have caught the class ---------------


def test_typeaudit_flags_wide_decimal_either_side():
    # both sides wide and kind-identical — the exact r8 blind spot
    assert compare_types(
        [("v", "decimal(38,0)")], [("v", "DECIMAL(38,0)")]
    ), "kind-identical DECIMAL(38,0) must be flagged (r8 red class)"
    # one side wide is enough (DuckDB backs p>18 with HUGEINT)
    assert compare_types(
        [("v", "decimal(18,0)")], [("v", "DECIMAL(19,0)")]
    )
    assert compare_types(
        [("v", "decimal(20,2)")], [("v", "DECIMAL(18,2)")]
    )
    # the widest SAFE decimal stays allowed
    assert not compare_types(
        [("v", "decimal(18,0)")], [("v", "DECIMAL(18,0)")]
    )
    assert not compare_types(
        [("v", "decimal(18,7)")], [("v", "DECIMAL(12,7)")]
    )


# -- 4. ADVICE #1: NULL embeddings drop symmetrically ----------------------


def _write_embeddings(tmp_path, vecs) -> str:
    table = pa.table(
        {
            "vec_id": pa.array(list(range(1, len(vecs) + 1)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )
    pq.write_table(table, os.path.join(tmp_path, "embeddings.parquet"))
    return str(tmp_path)


def test_kernel_portable_null_embeddings_symmetric(spark, tmp_path):
    """NULL embeddings AND embeddings with a NULL element, in BOTH
    the query slice (vec_id < 10) and the corpus: the old code
    crashed in np.asarray (driver-side for queries, executor-side for
    corpus; NULL elements arrive as None inside the list) while the
    oracle answered — now both sides drop them and stay
    hash-identical."""
    vecs = [[float(i + j) for j in range(4)] for i in range(12)]
    vecs[4] = None  # vec_id 5: NULL array inside the query slice
    vecs[10] = None  # vec_id 11: NULL array in the corpus
    vecs[6] = [1.0, None, 3.0, 4.0]  # vec_id 7: NULL element, queries
    vecs[11] = [None, 2.0, 3.0, 4.0]  # vec_id 12: NULL element, corpus
    sf_dir = _write_embeddings(tmp_path, vecs)
    rows = em.queries()["ann_kernel_portable"](spark, sf_dir).collect()
    ids = {r["query_id"] for r in rows} | {r["vec_id"] for r in rows}
    assert not ids & {5, 7, 11, 12}
    run_oracle_compare(spark, "ann_kernel_portable", sf_dir)


# -- 5. ADVICE #2: semdedup tau inequality past the old 1e14 envelope ------


def test_semdedup_d18_envelope_past_1e14(spark, tmp_path):
    """Operands ≈ 1e15 (int dot of 64-dim vectors at magnitude 400 ×
    scale 1e4): the old decimal(14,0) cast ANSI-threw on Spark while
    DuckDB's HUGEINT answered — an asymmetric throw-vs-answer split.
    decimal(18,0) answers and stays hash-identical to the oracle."""
    vecs = [[400.0 + i] * 64 for i in range(4)]
    sf_dir = _write_embeddings(tmp_path, vecs)
    con = duck_connection(sf_dir)
    dot_max = con.execute(
        """
        SELECT MAX(list_reduce(
          [CAST(FLOOR(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)
           * CAST(FLOOR(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)
           FOR x IN embedding], (a, b) -> a + b)) FROM embeddings
        """
    ).fetchone()[0]
    assert dot_max > 10**14, f"fixture too small: {dot_max}"
    run_oracle_compare(spark, "semantic_dedup_portable", sf_dir)
