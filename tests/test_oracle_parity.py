"""Oracle-diff harness: every declared query hash-matches DuckDB at sf0.01.

This IS the correctness gate (SURVEY.md §5 implication): exact value
equality, order-insensitive, column-name-keyed — stricter than the
driver's value-hash, on the very same scale factor the driver uses.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from fink_broker_spark.queries.registry import QUERIES
from tests.conftest import SF001, run_oracle_compare

ORACLE_NAMES = sorted(entrymod.oracle_sql())


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity_sf001(spark, name):
    run_oracle_compare(spark, name, SF001)


def test_all_queries_have_oracle_or_reason():
    queries = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    assert oracles <= queries
    # engine-hash-specific / stateful-streaming ops are the only
    # permitted oracle-less entries
    assert queries - oracles <= {
        "minhash_lsh_neardup",
        "simhash_neardup",
        "stream_dedup_watermark",
        "ivf_ann_topk",
        "pq_ann_topk",  # codebook fit is engine-specific
        "ann_kernel_topk",
        "approx_cardinality",  # sketch estimates are engine-specific
        "embedding_pca",  # eigendecomposition is not ANSI-expressible
        "approx_quantiles",  # sketch estimates are engine-specific
        "semantic_dedup",  # k-means model fit is not ANSI-expressible
    }


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema) > 0


def test_driver_priority_names_resolve():
    """The ledger-derived priority must be a permutation of the real
    query registry — a drop or duplicate silently shrinks the driver's
    50-row sample window."""
    priority = entrymod._driver_priority()
    assert sorted(priority) == sorted(QUERIES)
    assert list(entrymod.queries()) == priority


ROWS_ONLY_NAMES = sorted(set(entrymod.queries()) - set(entrymod.oracle_sql()))

_ATOMIC = (
    "string", "int", "bigint", "smallint", "tinyint", "double", "float",
    "boolean", "date", "timestamp", "binary",
)


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_output_is_canonicalizable(spark, name):
    """The driver's rows-only check pandas-sorts the result over ALL
    columns; an array/map/struct cell is unhashable and crashes the
    canonicalizer (the embedding_pca r03 red row).  Every oracle-less
    query must emit only atomic columns — and no decimal wider than
    18 digits (the r8 wide-decimal red class: the driver's typed fetch
    path splits on DECIMAL(p>18) exactly like raw HUGEINT; oracled
    queries get the same rule from admin/typeaudit via
    test_type_parity, so together the two gates cover the full
    registry)."""
    from fink_broker_spark.admin.typeaudit import (
        _MAX_EMIT_DECIMAL_PRECISION,
        _decimal_precision,
    )

    df = entrymod.queries()[name](spark, SF001)
    bad = [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in df.schema.fields
        if not (
            f.dataType.simpleString() in _ATOMIC
            or f.dataType.simpleString().startswith("decimal")
        )
        or (_decimal_precision(f.dataType.simpleString()) or 0)
        > _MAX_EMIT_DECIMAL_PRECISION
    ]
    assert not bad, f"non-atomic driver-facing columns: {bad}"
