"""Regression tests for the four round-7 ADVICE.md advisories.

Each pins the fixed behavior so the advisory class cannot regress:

1. ``welch_ttest`` converts its decimal(38,0)/HUGEINT Σcents² moments
   through the hi/lo split (``v DIV 1e9`` / ``v % 1e9``) — past 2⁶³
   DuckDB's int128→double is not correctly rounded, so a direct cast
   carries a latent data-dependent 1-ulp split (the r5 corollary).
2. ``mannwhitney_u`` guards the tie-correction RADICAND itself, not
   ``sqrt(...)``: an all-ties sample drives the radicand to exactly 0
   (and float rounding can push it tiny-negative at N³ > 2⁵³), where
   DuckDB's sqrt hard-errors while Spark yields NaN → the guard must
   fire before either engine evaluates the root.
3. Doc-level dedups must be SYMMETRIC under re-ingest drift (same
   doc_id, different text/lang): min(text) survivor picks /
   same-tuple DISTINCT on both sides — the dupdrift driftlab class.
4. ``spearman_corr`` emits ρ rounded at scale 9 on both sides (the
   corr_matrix rationale: past 2⁶³ the engines' int128→double stop
   agreeing at the last ulp, and |ρ| ≤ 1 makes 1e-9 semantically free).
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF0001, run_oracle_compare


def _arm(custkey: int) -> int:
    """The engine's md5-parity arm assignment, replayed in python."""
    return int(hashlib.md5(str(custkey).encode()).hexdigest()[:8], 16) % 2


def _write_bigmoney_orders(tmp_path) -> str:
    """Orders whose per-(priority, arm) Σcents² exceeds 2⁶³: cents ≈
    2×10⁹ per row, ≥ 6 rows per cell → q_a ≈ 2.4×10¹⁹ > 9.2×10¹⁸."""
    rows = []
    ok = 1
    for prio in ("1-URGENT", "2-HIGH"):
        per_arm = {0: 0, 1: 0}
        cust = 1
        while min(per_arm.values()) < 6:
            a = _arm(cust)
            per_arm[a] += 1
            # vary the price so variances are nonzero
            rows.append((ok, cust, prio, 2.0e7 + cust * 137.0))
            ok += 1
            cust += 1
    table = pa.table(
        {
            "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
            "o_orderpriority": pa.array([r[2] for r in rows], pa.string()),
            "o_totalprice": pa.array([r[3] for r in rows], pa.float64()),
        }
    )
    pq.write_table(table, os.path.join(tmp_path, "orders.parquet"))
    return str(tmp_path)


def test_welch_hilo_split_past_2_63(spark, tmp_path):
    """Exact engine/oracle equality on a lake whose Σcents² moments sit
    PAST 2⁶³ — the zone the direct double cast cannot survive."""
    import duckdb

    sf_dir = _write_bigmoney_orders(tmp_path)
    # preconditions: the moments really are past 2^63
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM read_parquet("
        f"'{os.path.join(sf_dir, 'orders.parquet')}')"
    )
    qmax = con.execute(
        """
        SELECT MAX(q) FROM (
          SELECT SUM(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                     AS HUGEINT)
                     * CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS q
          FROM orders
          GROUP BY o_orderpriority,
                   CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8)
                        AS BIGINT) % 2)
        """
    ).fetchone()[0]
    assert qmax > 2**63, f"fixture too small: {qmax}"
    run_oracle_compare(spark, "welch_ttest", sf_dir)


def _write_alltie_lineitem(tmp_path) -> str:
    """Every price identical across both flags: the all-ties regime
    where the tie-corrected variance radicand is exactly zero."""
    n = 40
    table = pa.table(
        {
            "l_orderkey": pa.array(list(range(1, n + 1)), pa.int64()),
            "l_returnflag": pa.array(
                ["R" if i % 2 else "A" for i in range(n)], pa.string()
            ),
            "l_extendedprice": pa.array([1234.56] * n, pa.float64()),
        }
    )
    pq.write_table(table, os.path.join(tmp_path, "lineitem.parquet"))
    return str(tmp_path)


def test_mannwhitney_radicand_guard_all_ties(spark, tmp_path):
    """All-ties lake: radicand = n1·n2·((N+1) − (N³−N)/(N(N−1)))/12 = 0
    exactly — z must be NULL on BOTH engines (DuckDB must never reach
    sqrt(0⁻); Spark must never emit NaN)."""
    import __spark_entry__ as em
    from fink_broker_spark.queries.stats import q_mannwhitney_u

    sf_dir = _write_alltie_lineitem(tmp_path)
    rows = q_mannwhitney_u(spark, sf_dir).collect()
    assert len(rows) == 1 and rows[0]["z_score"] is None
    run_oracle_compare(spark, "mannwhitney_u", sf_dir)
    # structural pin: the oracle guards the materialized radicand
    assert "radicand" in em.oracle_sql()["mannwhitney_u"]


_BASE = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
)


def _write_drifted_documents(tmp_path) -> str:
    """A documents lake with re-ingest DRIFT: doc 3 recurs with a
    different body, doc 4 recurs with a different body AND lang — the
    dupdrift layout in miniature, plus an exact duplicate (doc 5), an
    empty body, and a NULL body."""
    rows = [
        (1, _BASE + " one", "en", "web"),
        (2, _BASE + " two", "en", "web"),
        (3, _BASE + " three", "en", "web"),
        (3, "entirely different revision of the third document body",
         "en", "web"),
        (4, _BASE + " four", "en", "web"),
        (4, _BASE + " four revised edition", "fr", "web"),
        (5, _BASE + " five", "en", "web"),
        (5, _BASE + " five", "en", "web"),  # verbatim duprow
        (6, "", "en", "web"),
        (7, None, "en", "web"),
        # whitespace-only body drift: identical collapsed-whitespace
        # fingerprint, different raw punct_ratio → same (doc_id, fp)
        # with TWO distinct quality scores — the case that fanned out
        # the old dedup_keep_best oracle join (r8 code-review finding)
        (8, _BASE.replace("alpha beta", "alpha, beta"), "en", "web"),
        (8, _BASE.replace("alpha beta", "alpha,  beta"), "en", "web"),
    ]
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array(
                [len(r[1]) if r[1] else 0 for r in rows], pa.int64()
            ),
        }
    )
    pq.write_table(table, os.path.join(tmp_path, "documents.parquet"))
    return str(tmp_path)


@pytest.mark.parametrize(
    "name",
    [
        "repetition_rules",
        "dedup_keep_best",
        "exact_substring_remove",
        "ppjoin_neardup",
        "dup_span_coverage",
    ],
)
def test_doc_dedup_symmetric_under_reingest_drift(spark, tmp_path, name):
    sf_dir = _write_drifted_documents(tmp_path)
    run_oracle_compare(spark, name, sf_dir)


def test_reingest_drift_audit_values(spark, tmp_path):
    """The governance audit sees the miniature drift lake exactly:
    12 rows / 8 docs; docs 3, 4, 5, 8 multirow; doc 5's second row is
    the only verbatim dup; docs 3, 4, 8 drift text; doc 4 drifts
    lang."""
    from fink_broker_spark.queries.text import q_reingest_drift_audit

    sf_dir = _write_drifted_documents(tmp_path)
    row = q_reingest_drift_audit(spark, sf_dir).collect()[0].asDict()
    assert row == {
        "n_rows": 12,
        "n_docs": 8,
        "n_multirow_docs": 4,
        "n_verbatim_dup_rows": 1,
        "n_text_drifted_docs": 3,
        "n_lang_drifted_docs": 1,
        "max_versions": 2,
    }, row
    run_oracle_compare(spark, "reingest_drift_audit", sf_dir)


def test_spearman_rho_rounded_scale_9(spark):
    from fink_broker_spark.queries.stats import q_spearman_corr

    for row in q_spearman_corr(spark, SF0001).collect():
        rho = row["spearman_rho"]
        if rho is not None:
            assert rho == round(rho, 9), rho


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
