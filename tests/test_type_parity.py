"""Cross-engine result-TYPE parity gate (admin/typeaudit.py in CI).

Round-6 forensics: 17 of the 19 non-FP driver red rows in
CORRECTNESS_r05.json had a DuckDB ``HUGEINT`` output column (``SUM``
over an integer auto-widens to int128) where Spark emits ``bigint`` —
and zero green rows did.  The local ``fetchall()``-repr compare cannot
see the difference (a HUGEINT arrives as a plain Python int); the
external driver's Arrow/pandas canonicalizer can.  This suite fails
any oracled query whose Spark schema and DuckDB ``DESCRIBE`` disagree
on a canonicalizer-relevant kind — HUGEINT anywhere, int-family vs
float vs decimal kind mismatches, decimal-scale mismatches, or 32-bit
floats — before the driver ever samples it.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from fink_broker_spark.admin.typeaudit import compare_types
from tests.conftest import SF0001, duck_connection

# queries/probes.py fingerprint probes are exempt: probe_type_hugeint
# carries a HUGEINT column ON PURPOSE (it exists to detect whether the
# driver's canonicalizer distinguishes it)
ORACLE_NAMES = sorted(
    n for n in entrymod.oracle_sql() if not n.startswith("probe_")
)


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF0001)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_result_types_cannot_split_a_typed_canonicalizer(spark, duck, name):
    df = entrymod.queries()[name](spark, SF0001)
    spark_fields = [
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    ]
    duck_cols = [
        (r[0], r[1])
        for r in duck.execute(
            "DESCRIBE " + entrymod.oracle_sql()[name]
        ).fetchall()
    ]
    flags = compare_types(spark_fields, duck_cols)
    assert not flags, (
        f"{name}: cross-engine type mismatch (cast the oracle column or "
        f"list it in its @query(bigint=...)): {flags}"
    )
