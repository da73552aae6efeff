"""Cross-engine result-TYPE parity audit.

Driver hash mismatches that no local data layout could reproduce
turned out to be caused by *result column types*, not values: 17 of
19 non-FP red rows had a DuckDB ``HUGEINT`` output column
(``SUM`` over an INTEGER/BIGINT expression auto-widens to int128)
where Spark emits ``bigint`` — and zero green rows did.  The local
driver-sim compares ``fetchall()`` reprs, where a HUGEINT arrives as a
plain Python ``int`` and the difference is invisible; the external
driver's canonicalizer goes through an Arrow/pandas fetch, where
HUGEINT materializes as ``Decimal('6')`` / ``6.0`` against Spark's
``6`` and every row hash-splits.  Empirically (CORRECTNESS_r05):

- DuckDB ``HUGEINT`` vs Spark ``bigint``  → red, 17/17 sampled;
- ``INTEGER``/``BIGINT`` width differences → green (plain ints on
  both fetch paths: ``yoy_growth``, ``log2_histogram``);
- same-scale ``DECIMAL`` on both sides    → green (``Decimal``
  objects with identical digit strings).

This module turns that forensic rule into a permanent gate: for every
registered query it compares the Spark result schema against DuckDB's
``DESCRIBE`` of the oracle SQL (neither executes the query) and flags
any pairing that can split under a typed canonicalizer:

- any DuckDB ``HUGEINT``/``UHUGEINT`` column (always flagged — there
  is no Spark twin; wrap the aggregate in ``CAST(... AS BIGINT)``);
- kind mismatches (int-family vs float vs decimal vs string vs
  temporal vs boolean), e.g. an uncast DuckDB ``FLOOR`` (DOUBLE)
  against Spark ``F.floor`` (LONG);
- decimal *scale* mismatches (precision is immaterial to the digit
  string, scale is not: ``Decimal('1.25')`` != ``Decimal('1.250')``);
- 32-bit floats anywhere (``REAL``/``float`` — shortest-repr
  formatting differs from the value's double formatting);
- decimal *precision > 18* on either side (DuckDB backs decimals
  wider than 18 digits with HUGEINT internally, so the driver's typed
  fetch path splits on them exactly like raw HUGEINT, even on
  value-identical results.  Wide decimals may ride INTERNALLY for
  overflow headroom but must leave a query as BIGINT limbs
  (``queries/common._limb3_bigints``), a ``_limb3_double``
  conversion, or a string cast).

CLI::

    python -m fink_broker_spark.admin.typeaudit [--sf DIR] [--names a,b]

Exit code 0 iff no query is flagged.  ``tests/test_type_parity.py``
runs the same audit per-query in CI.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

#: int-family names on either engine — width differences are safe
#: (both fetch paths materialize plain Python ints)
_INT_KINDS = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER",
    "INT", "LONG",
}
#: DuckDB types with NO cross-engine twin — always flagged
_FORBIDDEN_DUCK = {"HUGEINT", "UHUGEINT", "UBIGINT"}
_FLOAT64 = {"DOUBLE", "FLOAT8"}
_FLOAT32 = {"REAL", "FLOAT", "FLOAT4"}


#: widest decimal precision a query may EMIT: DuckDB backs p > 18 with
#: HUGEINT (int128) internally and the driver's typed fetch path splits
#: on it (the wide-decimal class) — same hazard as
#: ``_FORBIDDEN_DUCK`` under a DECIMAL label
_MAX_EMIT_DECIMAL_PRECISION = 18


def _decimal_precision(type_name: str):
    """Precision of a DECIMAL type name, or None for non-decimals."""
    m = re.match(
        r"DECIMAL\s*\(\s*(\d+)\s*,\s*\d+\s*\)", type_name.upper().strip()
    )
    return int(m.group(1)) if m else None


def _kind(type_name: str) -> str:
    """Collapse an engine type name to a canonicalizer-relevant kind."""
    t = type_name.upper().strip()
    if t in _FORBIDDEN_DUCK:
        return "hugeint"
    if t in _INT_KINDS:
        return "int"
    if t in _FLOAT64:
        return "double"
    if t in _FLOAT32:
        return "float32"
    m = re.match(r"DECIMAL\s*\(\s*\d+\s*,\s*(\d+)\s*\)", t)
    if m:
        return f"decimal.{m.group(1)}"
    if t in {"VARCHAR", "STRING", "TEXT"}:
        return "string"
    if t in {"BOOLEAN", "BOOL"}:
        return "bool"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP WITH TIME ZONE") or t == "TIMESTAMPTZ":
        return "timestamptz"
    if t.startswith("TIMESTAMP_NS"):
        return "timestamp_ns"
    if t in {"TIMESTAMP", "TIMESTAMP_NTZ"} or t.startswith("DATETIME"):
        return "timestamp"
    if t in {"BLOB", "BINARY", "BYTEA"}:
        return "binary"
    return t.lower()


def compare_types(spark_fields, duck_cols) -> list[tuple[str, str, str]]:
    """Return flagged ``(column, spark_type, duck_type)`` triples.

    ``spark_fields``: iterable of ``(name, simpleString)``;
    ``duck_cols``: iterable of ``(name, duck_type_name)``.
    Column order is the canonicalizer's concern, not ours — match by
    name (the driver sorts columns by name before hashing).
    """
    duck = {n: t for n, t in duck_cols}
    flags: list[tuple[str, str, str]] = []
    for name, stype in spark_fields:
        dtype = duck.get(name)
        if dtype is None:
            flags.append((name, stype, "<missing-in-oracle>"))
            continue
        sk, dk = _kind(stype), _kind(dtype)
        sp, dp = _decimal_precision(stype), _decimal_precision(dtype)
        wide = any(
            p is not None and p > _MAX_EMIT_DECIMAL_PRECISION
            for p in (sp, dp)
        )
        if dk == "hugeint" or sk == "float32" or dk == "float32" or wide:
            flags.append((name, stype, dtype))
        elif sk != dk:
            flags.append((name, stype, dtype))
    for name in duck:
        if name not in {n for n, _ in spark_fields}:
            flags.append((name, "<missing-in-spark>", duck[name]))
    return flags


def audit(
    sf_dir: str,
    names=None,
    spark=None,
    entry_module=None,
) -> dict[str, list[tuple[str, str, str]]]:
    """Audit every (or a subset of) registered oracled queries.

    Returns name → flag list (empty list == clean).  Queries without
    an oracle are skipped (their driver check is rows-only and the
    atomic-column gate in ``test_oracle_parity`` covers them).
    """
    import duckdb

    if entry_module is None:
        repo_root = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
        if repo_root not in sys.path:
            sys.path.insert(0, repo_root)
        import __spark_entry__ as entry_module
    if spark is None:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[4]")
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    from fink_broker_spark.sources.parquet import LAKE_TABLES

    con = duckdb.connect()
    for t in LAKE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    queries = entry_module.queries()
    oracles = entry_module.oracle_sql()
    out: dict[str, list[tuple[str, str, str]]] = {}
    for name in names if names else queries:
        # fingerprint probes (queries/probes.py) carry adversarial types
        # ON PURPOSE (probe_type_hugeint) — auditing them would fail
        # every clean run; explicit --names still reaches them
        if names is None and name.startswith("probe_"):
            continue
        sql = oracles.get(name)
        if not sql:
            continue
        df = queries[name](spark, sf_dir)
        spark_fields = [
            (f.name, f.dataType.simpleString()) for f in df.schema.fields
        ]
        duck_cols = [
            (r[0], r[1])
            for r in con.execute("DESCRIBE " + sql).fetchall()
        ]
        out[name] = compare_types(spark_fields, duck_cols)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--sf", default="/root/testdata/sf0.001")
    p.add_argument("--names", default=None)
    args = p.parse_args(argv)
    names = args.names.split(",") if args.names else None
    res = audit(args.sf, names)
    bad = {k: v for k, v in res.items() if v}
    print(f"typeaudit: {len(res)} oracled queries, {len(bad)} flagged")
    for k, v in sorted(bad.items()):
        for col, st, dt in v:
            print(f"  {k}: {col}  spark={st}  duck={dt}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
