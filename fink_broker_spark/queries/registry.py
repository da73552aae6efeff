"""The query registry: each query is registered once, at its definition.

``@query(name, oracle=SQL)`` registers a query with its DuckDB oracle;
``@query(name, rows_only="reason")`` registers one whose result cannot be
written as portable SQL, and says why.  ``bigint=(col, ...)`` re-types
oracle columns that DuckDB widens to HUGEINT (see :func:`_retype_bigint`).
"""

from __future__ import annotations

#: name -> query function ``(spark, sf_dir) -> DataFrame``, in
#: registration order
QUERIES: dict = {}
#: name -> DuckDB oracle SQL, for every query registered with ``oracle=``
ORACLES: dict[str, str] = {}


def _retype_bigint(sql: str, cols: tuple[str, ...]) -> str:
    """Wrap *sql* so each named output column is BIGINT, not HUGEINT.

    DuckDB widens SUM over an integer expression to HUGEINT (int128).  A
    ``fetchall()`` compare sees a plain Python int either way, but a
    canonicalizer that fetches through Arrow/pandas gets
    ``Decimal('6')`` against Spark's ``6`` and every row hash-splits
    (``admin/typeaudit.py`` records the measurement;
    ``tests/test_type_parity.py`` fails any oracle that emits a HUGEINT
    column without casting it inline or listing it in ``bigint=``).
    The listed columns are counts and cent sums far below 2^63, and an
    overflow errors loudly rather than truncating.

    ``* REPLACE`` keeps the inner query's row set (an inner ORDER BY /
    LIMIT has already chosen the rows) and every other column; the
    compare is row- and column-order insensitive, so the wrap preserves
    the result.
    """
    repl = ", ".join(f"CAST({c} AS BIGINT) AS {c}" for c in cols)
    return f"SELECT * REPLACE ({repl}) FROM (\n{sql}\n) __typed"


def query(
    name: str,
    *,
    oracle: str | None = None,
    rows_only: str | None = None,
    bigint: tuple[str, ...] = (),
):
    """Register the decorated function as query *name*.

    Exactly one of *oracle* (the DuckDB SQL whose result must hash-equal
    the function's) and *rows_only* (why no such SQL exists) is given.
    """
    if (oracle is None) == (rows_only is None):
        raise ValueError(
            f"query {name!r}: give exactly one of oracle= or rows_only="
        )
    if bigint and oracle is None:
        raise ValueError(f"query {name!r}: bigint= re-types an oracle")

    def register(fn):
        if name in QUERIES:
            raise ValueError(f"query {name!r} is registered twice")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = _retype_bigint(oracle, bigint) if bigint else oracle
        return fn

    return register
