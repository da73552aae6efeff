"""Vector (embedding) column expressions — all JVM-side, no UDFs.

Generalizes the reference's crossmatch geometry (per-row scoring against a
catalog, ``ztf/science.py:84-197``) to arbitrary ``array<float>`` embedding
columns. Arithmetic is pinned to a deterministic shape — cast to double
first, multiply pairwise, then a strict left-to-right ``aggregate`` sum —
so results are bit-reproducible across runs and across engines (the DuckDB
oracle mirrors the same reduction order).

On the 100 TB path these expressions run inside whole-stage codegen over
the scan; no Python worker, no Arrow transfer, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def double_matrix_lit(rows) -> Column:
    """``array<array<double>>`` literal from a Python float matrix.

    Built by parsing ONE SQL array expression instead of ``F.lit`` on a
    nested list: PySpark's lit converts nested sequences element-by-
    element over py4j (~0.8 s for a 16×64 centroid matrix),
    while one Catalyst parse is ~3 ms. Bit-exact: ``repr(float)`` is the
    shortest round-trip form and Java's parseDouble returns the nearest
    double, i.e. the original (verified incl. -0.0 and denormals).
    """
    body = ",".join(
        "array(" + ",".join(repr(float(x)) + "D" for x in r) + ")"
        for r in rows
    )
    return F.expr(f"array({body})")


def dot_expr(a: Column | str, b: Column | str) -> Column:
    """Dot product of two equal-length arrays (double, left-to-right sum)."""
    prods = F.zip_with(
        _as_double_array(a), _as_double_array(b), lambda x, y: x * y
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm2_expr(a: Column | str) -> Column:
    """Squared L2 norm."""
    return dot_expr(a, a)


def norm_expr(a: Column | str) -> Column:
    return F.sqrt(norm2_expr(a))


def cosine_expr(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL when either norm is zero."""
    num = dot_expr(a, b)
    den = norm_expr(a) * norm_expr(b)
    return F.when(den != 0.0, num / den)
