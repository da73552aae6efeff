"""Regression tests for the three round-6 ADVICE.md advisories.

Each pins the fixed behavior so the advisory class cannot regress:

1. ``relational_division`` must emit the scalar divisor ``n_years``
   even when NO customer achieves full coverage (the empty-input
   row-shape class — same family as the ``set_ops_all`` fix in
   a270310): the old ``F.max('n_years')`` over an empty aggregate gave
   NULL while the oracle's scalar subquery still produced the divisor.
2. ``gdpr_cascade`` must NOT force-broadcast the orders-derived key set
   into the lineitem semi-join — it is fact-derived (~1 % of ORDERS,
   unbounded at 100 TB); only the dimension-sized customer request set
   may carry an explicit broadcast hint (twice: orders hop, events
   hop).
3. ``bm25_topk`` / ``dsir_importance`` carry an explicit not-drop-in
   warning (rankings can diverge from the published log-sum forms) and
   the honest ``rational_bm25_topk`` alias exists.
"""

from __future__ import annotations

import datetime
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest


def _write_no_full_coverage_orders(tmp_path) -> str:
    """A lake where every customer misses at least one calendar year:
    3 years total, each customer orders in exactly 2 of them."""
    rows = []
    years = [1995, 1996, 1997]
    ok = 1
    for cust in range(1, 8):
        missing = cust % 3
        for i, y in enumerate(years):
            if i == missing:
                continue
            rows.append((ok, cust, datetime.datetime(y, 3, 1)))
            ok += 1
    table = pa.table(
        {
            "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
            "o_orderdate": pa.array(
                [r[2] for r in rows], pa.timestamp("us")
            ),
        }
    )
    pq.write_table(table, os.path.join(tmp_path, "orders.parquet"))
    return str(tmp_path)


def test_relational_division_empty_full_coverage(spark, tmp_path):
    import __spark_entry__ as em
    from fink_broker_spark.queries.relational import q_relational_division

    sf_dir = _write_no_full_coverage_orders(tmp_path)
    got = q_relational_division(spark, sf_dir).collect()
    assert len(got) == 1
    row = got[0].asDict()
    # the divisor must survive the empty full-coverage set
    assert row["n_full_coverage"] == 0
    assert row["n_years"] == 3, row
    assert row["min_custkey"] is None and row["max_custkey"] is None

    # and the oracle agrees value-for-value on the same lake
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM read_parquet("
        f"'{os.path.join(sf_dir, 'orders.parquet')}')"
    )
    cur = con.execute(em.oracle_sql()["relational_division"])
    orow = dict(zip([d[0] for d in cur.description], cur.fetchone()))
    assert {k: row[k] for k in orow} == orow


def test_gdpr_cascade_broadcasts_only_dimension_keys(spark):
    from fink_broker_spark.queries.relational import q_gdpr_cascade
    from tests.conftest import SF0001

    plan = (
        q_gdpr_cascade(spark, SF0001)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    # the dimension-key (customer) hint rides the lineage into three of
    # the four union branches (orders hop, lineitem hop via okeys,
    # events hop) = exactly 3 occurrences; a 4th means the fact-derived
    # okeys set regressed to a forced broadcast on the lineitem
    # semi-join (ADVICE r6: OOMs the driver at 100 TB)
    assert plan.count("ResolvedHint (strategy=broadcast)") == 3, plan[:2000]


def test_retrieval_scorers_document_divergence():
    from fink_broker_spark.ext import retrieval

    assert retrieval.rational_bm25_topk is retrieval.bm25_topk
    assert "Not drop-in" in retrieval.bm25_topk.__doc__
    assert "Not drop-in" in retrieval.dsir_importance.__doc__


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
