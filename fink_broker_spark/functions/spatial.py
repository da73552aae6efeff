"""Sky pixelization: HEALPix ang2pix (RING) and an equirectangular grid.

The reference pixelizes alert coordinates with healpy inside pandas UDFs
(``ang2pix`` at ``common/spark_utils.py:529-564``, multi-resolution
variant at ``:567-609``) to drive crossmatch bucketing and index-table row
keys. healpy is not a dependency here: :func:`ang2pix_ring` implements the
public RING-scheme algorithm (Górski et al. 2005, ApJ 622:759) directly in
vectorized NumPy behind a pandas UDF, and :func:`grid_pixel_expr` offers a
pure-Column equirectangular alternative that stays in codegen (and is
expressible in ANSI SQL for the oracle harness).

Both are *bucketing* functions: equal pixel ⇒ nearby on the sky, which
turns a cone-search crossmatch into an equi-join on pixel id
(SURVEY.md §2.5 "healpix-bucketed broadcast range join").
"""

from __future__ import annotations

import warnings
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def healpix_pixel_scale_deg(nside: int) -> float:
    """Characteristic pixel size in degrees: sqrt of the (equal) pixel
    area, ``sqrt(4π / (12·nside²))`` ≈ 58.63°/nside (healpy's
    ``nside2resol``). The sampled cone cover is guaranteed-complete only
    for radii at or below this scale — see :func:`cone_pixels_udf`."""
    return float(np.degrees(np.sqrt(4.0 * np.pi / (12.0 * nside * nside))))


def ang2pix_ring_np(
    ra_deg: np.ndarray, dec_deg: np.ndarray, nside: int
) -> np.ndarray:
    """Vectorized HEALPix RING-scheme ang2pix (Górski et al. 2005).

    Accepts degrees (astronomy convention: ra ∈ [0, 360), dec ∈ [-90, 90]).

    The op tree (``z = sin(radians(dec))``, ``tt = mod(ra/90, 4)``) is
    deliberately identical to :func:`healpix_ring_expr` and its DuckDB
    oracle SQL so all three engines agree bit-for-bit away from the
    measure-zero floor boundaries.
    """
    z = np.sin(np.deg2rad(np.asarray(dec_deg, dtype=np.float64)))
    tt = np.mod(np.asarray(ra_deg, dtype=np.float64) / 90.0, 4.0)

    pix = np.empty(z.shape, dtype=np.int64)
    equa = np.abs(z) <= 2.0 / 3.0

    # equatorial belt
    temp1 = nside * (0.5 + tt[equa])
    temp2 = nside * z[equa] * 0.75
    jp = np.floor(temp1 - temp2).astype(np.int64)  # ascending edge line
    jm = np.floor(temp1 + temp2).astype(np.int64)  # descending edge line
    ir = nside + 1 + jp - jm  # ring number counted from z = 2/3
    kshift = 1 - (ir & 1)
    ip = (jp + jm - nside + kshift + 1) // 2
    ip = np.mod(ip, 4 * nside)
    ncap = 2 * nside * (nside - 1)
    pix[equa] = ncap + (ir - 1) * 4 * nside + ip

    # polar caps
    pol = ~equa
    tp = tt[pol] - np.floor(tt[pol])
    tmp = nside * np.sqrt(3.0 * (1.0 - np.abs(z[pol])))
    jp = np.floor(tp * tmp).astype(np.int64)
    jm = np.floor((1.0 - tp) * tmp).astype(np.int64)
    ir = jp + jm + 1
    ip = np.mod(np.floor(tt[pol] * ir).astype(np.int64), 4 * ir)
    north = z[pol] > 0
    pix_pol = np.where(
        north,
        2 * ir * (ir - 1) + ip,
        12 * nside * nside - 2 * ir * (ir + 1) + ip,
    )
    pix[pol] = pix_pol
    return pix


def _spread_bits_np(v: np.ndarray) -> np.ndarray:
    """Interleave zeros between the bits of v (Morton/Z-order spread)."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def ang2pix_nest_np(
    ra_deg: np.ndarray, dec_deg: np.ndarray, nside: int
) -> np.ndarray:
    """Vectorized HEALPix NESTED-scheme ang2pix (Górski et al. 2005).

    ``nside`` must be a power of two. Same cells as RING — only the
    numbering differs: pixel = face·nside² + Z-order interleave of the
    in-face (ix, iy) coordinates, which is what gives nested ids their
    hierarchical prefix property (pix >> 2 is the parent at nside/2 —
    the basis of multi-resolution index keys).
    """
    if nside & (nside - 1):
        raise ValueError("nested scheme requires power-of-two nside")
    z = np.sin(np.deg2rad(np.asarray(dec_deg, dtype=np.float64)))
    tt = np.mod(np.asarray(ra_deg, dtype=np.float64) / 90.0, 4.0)
    za = np.abs(z)

    face = np.empty(z.shape, dtype=np.int64)
    ix = np.empty(z.shape, dtype=np.int64)
    iy = np.empty(z.shape, dtype=np.int64)

    equa = za <= 2.0 / 3.0
    temp1 = nside * (0.5 + tt[equa])
    temp2 = nside * z[equa] * 0.75
    jp = np.floor(temp1 - temp2).astype(np.int64)
    jm = np.floor(temp1 + temp2).astype(np.int64)
    ifp = jp // nside
    ifm = jm // nside
    face[equa] = np.where(
        ifp == ifm, (ifp & 3) + 4, np.where(ifp < ifm, ifp & 3, (ifm & 3) + 8)
    )
    ix[equa] = jm & (nside - 1)
    iy[equa] = nside - (jp & (nside - 1)) - 1

    pol = ~equa
    ntt = np.minimum(3, tt[pol].astype(np.int64))
    tp = tt[pol] - ntt
    tmp = nside * np.sqrt(3.0 * (1.0 - za[pol]))
    jp = np.minimum(np.floor(tp * tmp).astype(np.int64), nside - 1)
    jm = np.minimum(np.floor((1.0 - tp) * tmp).astype(np.int64), nside - 1)
    north = z[pol] > 0
    face[pol] = np.where(north, ntt, ntt + 8)
    ix[pol] = np.where(north, nside - jm - 1, jp)
    iy[pol] = np.where(north, nside - jp - 1, jm)

    pix = (
        face.astype(np.uint64) * np.uint64(nside) * np.uint64(nside)
        + (_spread_bits_np(ix) | (_spread_bits_np(iy) << np.uint64(1)))
    )
    return pix.astype(np.int64)


def ang2pix_udf(nside: int = 256, nest: bool = False):
    """Pandas-UDF wrapper (Arrow-vectorized), mirroring the reference's
    ``ang2pix`` operator signature (``common/spark_utils.py:529-564``).
    ``nest=False`` matches the reference's healpy default (RING)."""

    fn = ang2pix_nest_np if nest else ang2pix_ring_np

    @pandas_udf("long")
    def _ang2pix(ra: pd.Series, dec: pd.Series) -> pd.Series:
        return pd.Series(fn(ra.to_numpy(), dec.to_numpy(), nside))

    return _ang2pix


def ang2pix_multires_udf(nsides: list[int], nest: bool = False):
    """Multi-resolution pixel string ``pix@nside[0]_pix@nside[1]_...`` —
    the reference's ``ang2pix_array`` (``common/spark_utils.py:567-609``),
    used as a serving-table column so one stored key supports crossmatch
    at several radii (coarse nside for wide cones, fine for tight)."""

    fn = ang2pix_nest_np if nest else ang2pix_ring_np

    @pandas_udf("string")
    def _multires(ra: pd.Series, dec: pd.Series) -> pd.Series:
        r, d = ra.to_numpy(), dec.to_numpy()
        cols = [fn(r, d, ns).astype(str) for ns in nsides]
        out = cols[0]
        for c in cols[1:]:
            out = np.char.add(np.char.add(out, "_"), c)
        return pd.Series(out)

    return _multires


def healpix_ring_expr(
    ra: Column | str, dec: Column | str, nside: int
) -> Column:
    """HEALPix RING ang2pix as a pure Column expression (no UDF).

    Same formula as :func:`ang2pix_ring_np` term for term, so the JVM
    codegen path, the numpy path, and an ANSI-SQL oracle transcription
    all agree exactly (floor boundaries are measure-zero). Requires
    ra ∈ [0, 360); callers normalize first. Projection-level common
    subexpression elimination keeps the repeated z/tt subtrees single-
    evaluation in codegen.
    """
    r = F.col(ra) if isinstance(ra, str) else ra
    d = F.col(dec) if isinstance(dec, str) else dec
    z = F.sin(F.radians(d))
    tt = F.pmod(r / F.lit(90.0), F.lit(4.0))

    # equatorial belt
    temp1 = F.lit(float(nside)) * (F.lit(0.5) + tt)
    temp2 = F.lit(float(nside)) * z * F.lit(0.75)
    jp = F.floor(temp1 - temp2)
    jm = F.floor(temp1 + temp2)
    ir = F.lit(nside + 1) + jp - jm
    kshift = F.lit(1) - F.pmod(ir, F.lit(2))
    ip_e = F.pmod(
        F.floor((jp + jm - F.lit(nside) + kshift + F.lit(1)) / F.lit(2.0)),
        F.lit(4 * nside),
    )
    ncap = 2 * nside * (nside - 1)
    pix_equa = F.lit(ncap) + (ir - F.lit(1)) * F.lit(4 * nside) + ip_e

    # polar caps
    tp = tt - F.floor(tt)
    tmp = F.lit(float(nside)) * F.sqrt(F.lit(3.0) * (F.lit(1.0) - F.abs(z)))
    jp_p = F.floor(tp * tmp)
    jm_p = F.floor((F.lit(1.0) - tp) * tmp)
    ir_p = jp_p + jm_p + F.lit(1)
    ip_p = F.pmod(F.floor(tt * ir_p), F.lit(4) * ir_p)
    pix_pol = F.when(
        z > 0, F.lit(2) * ir_p * (ir_p - F.lit(1)) + ip_p
    ).otherwise(
        F.lit(12 * nside * nside) - F.lit(2) * ir_p * (ir_p + F.lit(1)) + ip_p
    )

    return (
        F.when(F.abs(z) <= F.lit(2.0 / 3.0), pix_equa).otherwise(pix_pol)
    ).cast("long")


def healpix_ring_sql(ra_sql: str, dec_sql: str, nside: int) -> str:
    """The DuckDB/ANSI transcription of :func:`healpix_ring_expr`, for
    oracle harnesses. ``ra_sql`` / ``dec_sql`` are SQL fragments.

    The ``tt`` wrap mirrors Spark's ``pmod`` branch for branch so both
    engines agree bit-for-bit on EVERY input: for a non-negative
    dividend pmod is plain fmod (an unconditional ``((x%4)+4)%4`` would
    round-trip through [4, 8) and shave low mantissa bits); for a
    negative dividend pmod adds the modulus once, and fmod(x,4)+4 lies
    in (0, 4) where the trailing ``%4`` of the classic wrap is exact —
    so the CASE form is identical to pmod in both regimes."""
    ncap = 2 * nside * (nside - 1)
    npix = 12 * nside * nside
    z = f"sin(radians({dec_sql}))"
    x = f"(({ra_sql}) / 90.0)"
    # condition on the REMAINDER's sign, exactly like pmod's branch:
    # fmod(-8, 4) = -0.0 is not < 0, and pmod returns it unchanged
    tt = (
        f"(CASE WHEN ({x} % 4.0) < 0 THEN ({x} % 4.0) + 4.0"
        f" ELSE {x} % 4.0 END)"
    )
    temp1 = f"({nside} * (0.5 + {tt}))"
    temp2 = f"({nside} * {z} * 0.75)"
    jp = f"CAST(floor({temp1} - {temp2}) AS BIGINT)"
    jm = f"CAST(floor({temp1} + {temp2}) AS BIGINT)"
    ir = f"({nside} + 1 + {jp} - {jm})"
    kshift = f"(1 - (({ir}) % 2 + 2) % 2)"
    ip_e = (
        f"((CAST(floor(({jp} + {jm} - {nside} + {kshift} + 1) / 2.0) AS BIGINT)"
        f" % {4 * nside} + {4 * nside}) % {4 * nside})"
    )
    pix_equa = f"({ncap} + ({ir} - 1) * {4 * nside} + {ip_e})"
    tp = f"({tt} - floor({tt}))"
    tmp = f"({nside} * sqrt(3.0 * (1.0 - abs({z}))))"
    jp_p = f"CAST(floor({tp} * {tmp}) AS BIGINT)"
    jm_p = f"CAST(floor((1.0 - {tp}) * {tmp}) AS BIGINT)"
    ir_p = f"({jp_p} + {jm_p} + 1)"
    ip_p = (
        f"((CAST(floor({tt} * {ir_p}) AS BIGINT) % (4 * {ir_p})"
        f" + (4 * {ir_p})) % (4 * {ir_p}))"
    )
    pix_pol = (
        f"(CASE WHEN {z} > 0 THEN 2 * {ir_p} * ({ir_p} - 1) + {ip_p} "
        f"ELSE {npix} - 2 * {ir_p} * ({ir_p} + 1) + {ip_p} END)"
    )
    return (
        f"CAST(CASE WHEN abs({z}) <= 2.0/3.0 THEN {pix_equa} "
        f"ELSE {pix_pol} END AS BIGINT)"
    )


def healpix_nest_expr(
    ra: Column | str, dec: Column | str, nside: int
) -> Column:
    """HEALPix NESTED ang2pix as a pure Column expression (no UDF).

    Term-for-term twin of :func:`ang2pix_nest_np` (same float ops, same
    floors, same clamps) so the codegen path, the numpy path, and the
    SQL transcription (:func:`healpix_nest_sql`) agree exactly. The
    nested numbering's hierarchical prefix property —
    ``pix_at(nside/2) == pix >> 2`` — is what makes it the right
    numbering for multi-resolution index keys: one fine pixelization
    yields every coarser level with a shift, instead of one full
    trig CASE tree per level (the RING numbering has no such
    derivation). ``nside`` must be a power of two.
    """
    if nside & (nside - 1):
        raise ValueError("nested scheme requires power-of-two nside")
    from fink_broker_spark.plans.zorder import spread_bits_expr

    r = F.col(ra) if isinstance(ra, str) else ra
    d = F.col(dec) if isinstance(dec, str) else dec
    z = F.sin(F.radians(d))
    tt = F.pmod(r / F.lit(90.0), F.lit(4.0))
    face, ix, iy = _nest_face_ix_iy(z, tt, nside)
    return (
        face.cast("long") * F.lit(nside * nside)
        + spread_bits_expr(ix).bitwiseOR(
            F.shiftleft(spread_bits_expr(iy), 1)
        )
    ).cast("long")


def _nest_face_ix_iy(z: Column, tt: Column, nside: int):
    """(face, ix, iy) for the NESTED scheme from the z = sin(dec) and
    tt = ra/90 mod 4 columns — shared by the inline Column builder and
    the staged (projection-materialized) builder so they cannot drift."""
    za = F.abs(z)

    # equatorial belt: same jp/jm floors as the RING formula
    temp1 = F.lit(float(nside)) * (F.lit(0.5) + tt)
    temp2 = F.lit(float(nside)) * z * F.lit(0.75)
    jp = F.floor(temp1 - temp2).cast("long")
    jm = F.floor(temp1 + temp2).cast("long")
    # jp/jm are small non-negative ints: double division is exact and
    # the long cast truncates == floors
    ifp = F.floor(jp / F.lit(nside)).cast("long")
    ifm = F.floor(jm / F.lit(nside)).cast("long")
    face_e = (
        F.when(ifp == ifm, ifp.bitwiseAND(F.lit(3)) + F.lit(4))
        .when(ifp < ifm, ifp.bitwiseAND(F.lit(3)))
        .otherwise(ifm.bitwiseAND(F.lit(3)) + F.lit(8))
    )
    ix_e = jm.bitwiseAND(F.lit(nside - 1))
    iy_e = F.lit(nside) - jp.bitwiseAND(F.lit(nside - 1)) - F.lit(1)

    # polar caps
    ntt = F.least(F.lit(3), F.floor(tt).cast("long"))
    tp = tt - ntt.cast("double")
    tmp = F.lit(float(nside)) * F.sqrt(F.lit(3.0) * (F.lit(1.0) - za))
    jp_p = F.least(F.floor(tp * tmp).cast("long"), F.lit(nside - 1))
    jm_p = F.least(
        F.floor((F.lit(1.0) - tp) * tmp).cast("long"), F.lit(nside - 1)
    )
    north = z > 0
    face_p = F.when(north, ntt).otherwise(ntt + F.lit(8))
    ix_p = F.when(north, F.lit(nside) - jm_p - F.lit(1)).otherwise(jp_p)
    iy_p = F.when(north, F.lit(nside) - jp_p - F.lit(1)).otherwise(jm_p)

    equa = za <= F.lit(2.0 / 3.0)
    face = F.when(equa, face_e).otherwise(face_p)
    ix = F.when(equa, ix_e).otherwise(ix_p)
    iy = F.when(equa, iy_e).otherwise(iy_p)
    return face, ix, iy


def with_healpix_nest(
    df: DataFrame,
    ra: Column | str,
    dec: Column | str,
    nside: int,
    out: str = "hpx_nest",
) -> DataFrame:
    """Staged twin of :func:`healpix_nest_expr`: same pixel ids, linear
    plan size.

    The single-Column form nests the full trig CASE tree inside every
    bit-interleave step; each of the 5 spread steps references its input
    twice, so the analyzed expression holds ~2⁵ copies of the trig tree
    per axis — seconds of Catalyst analysis per query and generated
    methods pushing the JIT limits. Here every intermediate (z, tt,
    ix, iy, each interleave step) is a LATERAL COLUMN ALIAS inside ONE
    ``select`` (Spark ≥3.4 resolves references to aliases defined
    earlier in the same projection): the analyzer expands them into
    nested Projects, ``CollapseProject`` keeps the non-cheap
    multi-referenced ones, so the optimized plan stays linear in the
    step count while whole-stage codegen still fuses everything into
    one stage. One select also means ONE eager Dataset analysis pass —
    the previous ``withColumns``-per-step chain re-analyzed a growing
    plan seven times per pixelization (~0.8 s of driver time per call
    at this tree size). Intermediates are dropped before returning."""
    if nside & (nside - 1):
        raise ValueError("nested scheme requires power-of-two nside")
    r = F.col(ra) if isinstance(ra, str) else ra
    d = F.col(dec) if isinstance(dec, str) else dec
    p = f"__hn{nside}_"
    cols = [
        F.sin(F.radians(d)).alias(p + "z"),
        F.pmod(r / F.lit(90.0), F.lit(4.0)).alias(p + "tt"),
        *_nest_staged_cols(nside),
    ]
    staged = df.select("*", *cols)
    out_df = staged.withColumnRenamed(p + "pix", out)
    return out_df.drop(*[c for c in out_df.columns if c.startswith(p)])


@lru_cache(maxsize=None)
def _nest_staged_cols(nside: int) -> tuple[Column, ...]:
    """The nside-only part of the staged NESTED projection: every column
    references the fixed ``__hn{nside}_z`` / ``_tt`` entry aliases, so
    the (expensive — ~0.5 s of py4j round-trips for the trig CASE tree)
    Column construction is built once per nside and reused. Columns are
    plain expression wrappers, safe to share across DataFrames of one
    JVM; the cache key carries no session state.

    Unlike the inline :func:`_nest_face_ix_iy` tree (where jp/jm/tmp
    appear as *duplicated subtrees* inside each of face/ix/iy and only
    codegen-level common-subexpression elimination deduplicates them),
    every intermediate here is its own lateral alias — the analyzed plan
    holds each subexpression exactly once, which keeps analysis time and
    generated-code size linear in the formula length. The tri-agreement
    tests (tests/test_spatial.py) pin this staging bit-for-bit to the
    inline expr, the numpy twin, and the SQL transcription."""
    from fink_broker_spark.plans.zorder import _SPREAD_STEPS

    p = f"__hn{nside}_"
    z, tt = F.col(p + "z"), F.col(p + "tt")
    za, jp, jm = F.col(p + "za"), F.col(p + "jp"), F.col(p + "jm")
    ifp, ifm = F.col(p + "ifp"), F.col(p + "ifm")
    ntt, tp, tmp = F.col(p + "ntt"), F.col(p + "tp"), F.col(p + "tmp")
    jpp, jmp = F.col(p + "jpp"), F.col(p + "jmp")
    north, equa = F.col(p + "north"), F.col(p + "equa")
    # stage every intermediate of _nest_face_ix_iy as a lateral alias;
    # the formulas are the term-for-term twins of that function (and of
    # ang2pix_nest_np), just named instead of nested
    cols = [
        F.abs(z).alias(p + "za"),
        (z > 0).alias(p + "north"),
        # equatorial-belt floors
        F.floor(
            F.lit(float(nside)) * (F.lit(0.5) + tt)
            - F.lit(float(nside)) * z * F.lit(0.75)
        ).cast("long").alias(p + "jp"),
        F.floor(
            F.lit(float(nside)) * (F.lit(0.5) + tt)
            + F.lit(float(nside)) * z * F.lit(0.75)
        ).cast("long").alias(p + "jm"),
        F.floor(jp / F.lit(nside)).cast("long").alias(p + "ifp"),
        F.floor(jm / F.lit(nside)).cast("long").alias(p + "ifm"),
        # polar-cap pieces
        F.least(F.lit(3), F.floor(tt).cast("long")).alias(p + "ntt"),
        (tt - ntt.cast("double")).alias(p + "tp"),
        (
            F.lit(float(nside))
            * F.sqrt(F.lit(3.0) * (F.lit(1.0) - za))
        ).alias(p + "tmp"),
        F.least(
            F.floor(tp * tmp).cast("long"), F.lit(nside - 1)
        ).alias(p + "jpp"),
        F.least(
            F.floor((F.lit(1.0) - tp) * tmp).cast("long"),
            F.lit(nside - 1),
        ).alias(p + "jmp"),
        (za <= F.lit(2.0 / 3.0)).alias(p + "equa"),
        # face / ix / iy select between belt and cap forms
        F.when(
            equa,
            F.when(ifp == ifm, ifp.bitwiseAND(F.lit(3)) + F.lit(4))
            .when(ifp < ifm, ifp.bitwiseAND(F.lit(3)))
            .otherwise(ifm.bitwiseAND(F.lit(3)) + F.lit(8)),
        )
        .otherwise(F.when(north, ntt).otherwise(ntt + F.lit(8)))
        .cast("long")
        .alias(p + "face"),
        F.when(equa, jm.bitwiseAND(F.lit(nside - 1)))
        .otherwise(
            F.when(north, F.lit(nside) - jmp - F.lit(1)).otherwise(jpp)
        )
        .cast("long")
        .bitwiseAND(F.lit((1 << 16) - 1))
        .alias(p + "sx0"),
        F.when(
            equa, F.lit(nside) - jp.bitwiseAND(F.lit(nside - 1)) - F.lit(1)
        )
        .otherwise(
            F.when(north, F.lit(nside) - jpp - F.lit(1)).otherwise(jmp)
        )
        .cast("long")
        .bitwiseAND(F.lit((1 << 16) - 1))
        .alias(p + "sy0"),
    ]
    for i, (shift, mask) in enumerate(_SPREAD_STEPS, start=1):
        for ax in ("sx", "sy"):
            prev = F.col(f"{p}{ax}{i - 1}")
            cols.append(
                prev.bitwiseOR(F.shiftleft(prev, shift))
                .bitwiseAND(F.lit(mask).cast("long"))
                .alias(f"{p}{ax}{i}")
            )
    last = len(_SPREAD_STEPS)
    cols.append(
        (
            F.col(p + "face") * F.lit(nside * nside)
            + F.col(f"{p}sx{last}").bitwiseOR(
                F.shiftleft(F.col(f"{p}sy{last}"), 1)
            )
        )
        .cast("long")
        .alias(p + "pix")
    )
    return tuple(cols)


def healpix_nest_sql(ra_sql: str, dec_sql: str, nside: int) -> str:
    """DuckDB/ANSI transcription of :func:`healpix_nest_expr` — generated
    from the same structure (and the same interleave masks, via
    ``plans.zorder.zorder_sql``'s spread steps) so the twins cannot
    drift. Every double→int conversion goes through ``floor`` before the
    cast because DuckDB ``CAST(double AS BIGINT)`` rounds-to-nearest
    while Spark truncates."""
    from fink_broker_spark.plans.zorder import _SPREAD_STEPS

    def spread(e: str) -> str:
        x = f"({e} & {(1 << 16) - 1})"
        for shift, mask in _SPREAD_STEPS:
            x = f"(({x} | ({x} << {shift})) & {mask})"
        return x

    z = f"sin(radians({dec_sql}))"
    x = f"(({ra_sql}) / 90.0)"
    tt = (
        f"(CASE WHEN ({x} % 4.0) < 0 THEN ({x} % 4.0) + 4.0"
        f" ELSE {x} % 4.0 END)"
    )
    temp1 = f"({nside} * (0.5 + {tt}))"
    temp2 = f"({nside} * {z} * 0.75)"
    jp = f"CAST(floor({temp1} - {temp2}) AS BIGINT)"
    jm = f"CAST(floor({temp1} + {temp2}) AS BIGINT)"
    ifp = f"CAST(floor({jp} / {float(nside)}) AS BIGINT)"
    ifm = f"CAST(floor({jm} / {float(nside)}) AS BIGINT)"
    face_e = (
        f"(CASE WHEN {ifp} = {ifm} THEN ({ifp} & 3) + 4"
        f" WHEN {ifp} < {ifm} THEN {ifp} & 3"
        f" ELSE ({ifm} & 3) + 8 END)"
    )
    ix_e = f"({jm} & {nside - 1})"
    iy_e = f"({nside} - ({jp} & {nside - 1}) - 1)"
    ntt = f"LEAST(3, CAST(floor({tt}) AS BIGINT))"
    tp = f"({tt} - CAST({ntt} AS DOUBLE))"
    tmp = f"({nside} * sqrt(3.0 * (1.0 - abs({z}))))"
    jp_p = f"LEAST(CAST(floor({tp} * {tmp}) AS BIGINT), {nside - 1})"
    jm_p = f"LEAST(CAST(floor((1.0 - {tp}) * {tmp}) AS BIGINT), {nside - 1})"
    north = f"({z} > 0)"
    face_p = f"(CASE WHEN {north} THEN {ntt} ELSE {ntt} + 8 END)"
    ix_p = f"(CASE WHEN {north} THEN {nside} - {jm_p} - 1 ELSE {jp_p} END)"
    iy_p = f"(CASE WHEN {north} THEN {nside} - {jp_p} - 1 ELSE {jm_p} END)"
    equa = f"(abs({z}) <= 2.0/3.0)"
    face = f"(CASE WHEN {equa} THEN {face_e} ELSE {face_p} END)"
    ix = f"(CASE WHEN {equa} THEN {ix_e} ELSE {ix_p} END)"
    iy = f"(CASE WHEN {equa} THEN {iy_e} ELSE {iy_p} END)"
    return (
        f"CAST({face} * {nside * nside}"
        f" + ({spread(ix)} | ({spread(iy)} << 1)) AS BIGINT)"
    )


def grid_pixel_expr(
    ra: Column | str, dec: Column | str, cell_deg: float = 1.0
) -> Column:
    """Equirectangular grid cell id as a pure Column expression.

    ``pix = floor((dec+90)/cell) * ceil(360/cell) + floor(ra/cell)`` —
    codegen-friendly, ANSI-SQL-mirrorable, good enough for bucketed
    crossmatch joins when HEALPix's equal-area property is not required.
    """
    r = F.col(ra) if isinstance(ra, str) else ra
    d = F.col(dec) if isinstance(dec, str) else dec
    ncols = int(np.ceil(360.0 / cell_deg))
    return (
        F.floor((d + F.lit(90.0)) / F.lit(cell_deg)) * F.lit(ncols)
        + F.floor(r / F.lit(cell_deg))
    ).cast("long")


def neighbor_pixels_expr(
    ra: Column | str, dec: Column | str, cell_deg: float = 1.0
) -> Column:
    """The 3×3 neighborhood of grid cells around a point (array<long>).

    Crossmatch pattern: explode the query side over its neighborhood and
    equi-join on pixel id — candidates within one cell of the true
    position are guaranteed to collide, after which an exact angular
    distance filter applies (cone search radius ≤ cell size).
    """
    r = F.col(ra) if isinstance(ra, str) else ra
    d = F.col(dec) if isinstance(dec, str) else dec
    ncols = int(np.ceil(360.0 / cell_deg))
    row = F.floor((d + F.lit(90.0)) / F.lit(cell_deg))
    col = F.floor(r / F.lit(cell_deg))
    cells = []
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            cells.append(
                ((row + F.lit(dr)) * F.lit(ncols)
                 + F.pmod(col + F.lit(dc), F.lit(ncols))).cast("long")
            )
    return F.array_distinct(F.array(*cells))


def cone_pixels_udf(
    nside: int, radius_deg: float, nest: bool = False, nsamples: int = 32
):
    """Pixels covered by a cone of ``radius_deg`` around each point —
    an approximate ``query_disc`` (array<long> per row).

    Samples the disc: the center, ``nsamples`` points on the boundary
    circle, and ``nsamples`` bearing-offset points on the half-radius
    interior ring are pixelized and deduplicated. This is a SAMPLED
    cover, not a geometric one: a pixel the disc overlaps only in a
    corner sliver narrower than the sample spacing (~2πr/nsamples of
    arc) can be missed, silently dropping candidate pairs. Keep the
    radius at or below the pixel scale (where the brute-force-equality
    tests hold at the default ``nsamples``), and raise ``nsamples`` or
    coarsen ``nside`` for wider cones — the cost is linear and
    vectorized, so oversampling is cheap insurance. This is the query-side half of a
    healpix-bucketed crossmatch: explode the array, equi-join on pixel
    against the catalog's single-pixel column, then refine with the
    exact angular predicate — same radius semantics as the reference's
    healpy crossmatch at ``common/spark_utils.py:529-609``.
    """
    fn = ang2pix_nest_np if nest else ang2pix_ring_np

    @pandas_udf("array<long>")
    def _cone(ra: pd.Series, dec: pd.Series) -> pd.Series:
        ra0 = np.deg2rad(ra.to_numpy(dtype=np.float64))
        dec0 = np.deg2rad(dec.to_numpy(dtype=np.float64))
        bearings = np.linspace(0.0, 2.0 * np.pi, nsamples, endpoint=False)
        sd, cd = np.sin(dec0)[:, None], np.cos(dec0)[:, None]
        ra_parts = [ra0[:, None]]
        dec_parts = [dec0[:, None]]
        # sample the boundary AND an interior ring (half radius, offset
        # bearings) so pixels strictly inside the disc are still touched
        # when the radius exceeds the pixel scale
        for frac, offset in ((1.0, 0.0), (0.5, np.pi / nsamples)):
            r = np.deg2rad(radius_deg) * frac
            sr, cr = np.sin(r), np.cos(r)
            cbo = np.cos(bearings + offset)[None, :]
            sbo = np.sin(bearings + offset)[None, :]
            # spherical destination point formula (rows × bearings);
            # clip: the sine can exceed 1 by a ulp at the poles, and
            # arcsin(1+ulp)=NaN would corrupt that sample's pixel
            dec_s = np.arcsin(np.clip(sd * cr + cd * sr * cbo, -1.0, 1.0))
            ra_s = ra0[:, None] + np.arctan2(
                sbo * sr * cd, cr - sd * np.sin(dec_s)
            )
            ra_parts.append(ra_s)
            dec_parts.append(dec_s)
        all_ra = np.concatenate(ra_parts, axis=1)
        all_dec = np.concatenate(dec_parts, axis=1)
        pix = fn(
            np.mod(np.rad2deg(all_ra), 360.0).ravel(),
            np.rad2deg(all_dec).ravel(),
            nside,
        ).reshape(all_ra.shape)
        return pd.Series([np.unique(row).tolist() for row in pix])

    return _cone


def angular_sep_deg_expr(
    ra1: Column | str, dec1: Column | str, ra2: Column | str, dec2: Column | str
) -> Column:
    """Exact great-circle separation in degrees (haversine, stable at
    small angles — the refine predicate after a pixel-bucket join)."""
    r1 = F.radians(F.col(ra1) if isinstance(ra1, str) else ra1)
    d1 = F.radians(F.col(dec1) if isinstance(dec1, str) else dec1)
    r2 = F.radians(F.col(ra2) if isinstance(ra2, str) else ra2)
    d2 = F.radians(F.col(dec2) if isinstance(dec2, str) else dec2)
    a = (
        F.pow(F.sin((d2 - d1) / 2), 2)
        + F.cos(d1) * F.cos(d2) * F.pow(F.sin((r2 - r1) / 2), 2)
    )
    # near-antipodal float error can push a past 1.0: Spark's
    # sqrt(negative) silently yields NaN (pair correctly excluded) but
    # an un-clamped SQL transcription hard-errors in engines that raise
    # on sqrt(<0) — clamp on BOTH sides so the trees stay identical
    # (greatest(0, x) == x bit-for-bit whenever x >= 0; surfaced by the
    # sf0.1 parity sweep, invisible at sf0.01)
    return F.degrees(
        F.lit(2.0)
        * F.atan2(
            F.sqrt(a), F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - a))
        )
    )


def healpix_crossmatch(
    left: DataFrame,
    right: DataFrame,
    radius_deg: float,
    nside: int = 64,
    left_ra: str = "ra",
    left_dec: str = "dec",
    right_ra: str = "ra",
    right_dec: str = "dec",
    nest: bool = False,
    keep_sep: str | None = None,
    broadcast: bool = True,
) -> DataFrame:
    """Cone-search crossmatch bucketed on HEALPix cells.

    Physical plan: the (small) ``right`` side maps each row to the
    pixels its cone covers and explodes (fan-out = covered pixels, ~1-4
    at radius ≲ pixel scale); ``left`` — the big survey side — gets ONE
    pixel per row as a pure scan-side expression when RING (no UDF);
    the equi-join on pixel is broadcast when right is small, and the
    exact angular predicate refines. Equal-area cells mean no polar
    hot-bucket — the failure mode of naive lat/lon grids at scale.

    **Completeness guard**: the sampled cone cover is complete only for
    ``radius_deg`` ≲ the pixel scale (58.6°/nside). When the caller's
    ``nside`` is too fine for the radius, the *bucketing* resolution is
    auto-coarsened (halved until the scale covers the radius) with a
    warning — results are identical because bucketing only generates
    candidates and the exact haversine predicate decides membership;
    only bucket granularity changes. Enforced, not just documented:
    ``tests/test_spatial.py::test_too_fine_nside_auto_coarsens`` checks
    a radius≫scale call still recovers 100% of brute-force pairs.

    **Large catalogs**: ``broadcast=False`` drops the broadcast hint so
    the pixel equi-join plans as a shuffle join (SortMergeJoin /
    ShuffledHashJoin, AQE free to re-plan) — for catalog sides too big
    for the driver (Gaia-scale), where the reference offloads to a
    remote xmatch service, this engine shuffle-joins instead.
    """
    scale = healpix_pixel_scale_deg(nside)
    eff_nside = nside
    while eff_nside > 1 and radius_deg > healpix_pixel_scale_deg(eff_nside):
        eff_nside //= 2
    if eff_nside != nside:
        warnings.warn(
            f"healpix_crossmatch: radius_deg={radius_deg} exceeds the "
            f"nside={nside} pixel scale ({scale:.3f} deg); coarsening "
            f"bucketing to nside={eff_nside} so the sampled cone cover "
            f"stays complete (results unchanged, candidate fan-in wider)",
            stacklevel=2,
        )
        nside = eff_nside
    if nest:
        lpix = ang2pix_udf(nside, nest=True)(F.col(left_ra), F.col(left_dec))
    else:
        lpix = healpix_ring_expr(
            F.pmod(F.col(left_ra), F.lit(360.0)), F.col(left_dec), nside
        )
    lt = left.withColumn("__pix", lpix)
    # spread the catalog scan before the cone-cover UDF: the per-row
    # disc sampling is Python work that otherwise runs in the single
    # scan task of a one-split catalog file (measured: 1.7 s of the
    # broadcast build single-task; guide §2.5 / §4 — a guarded no-op on
    # any multi-split catalog)
    from fink_broker_spark.plans.partitioning import ensure_scan_parallelism

    # asNondeterministic (guide §4.4): the explode's inferred
    # ``size(__pixes) > 0`` predicate is otherwise pushed below this
    # projection and DUPLICATES the ArrowEvalPython node — every
    # catalog row paid the disc sampling twice, and the pushed copy ran
    # below the spread exchange (single-task).  The UDF is pure; the
    # marker only forbids the optimizer from re-evaluating it.
    cone = cone_pixels_udf(nside, radius_deg, nest=nest).asNondeterministic()
    rt = ensure_scan_parallelism(right).withColumn(
        "__pixes",
        cone(F.col(right_ra), F.col(right_dec)),
    ).withColumn("__pix", F.explode("__pixes")).drop("__pixes")
    sep = angular_sep_deg_expr(left_ra, left_dec, f"r_{right_ra}", f"r_{right_dec}")
    rt = rt.select(
        *[F.col(c).alias(f"r_{c}") for c in right.columns], "__pix"
    )
    out = (
        lt.join(F.broadcast(rt) if broadcast else rt, on="__pix")
        .filter(sep <= F.lit(radius_deg))
        .drop("__pix")
    )
    if keep_sep:
        # ``keep_sep`` names an output column with the exact separation
        # (e.g. for nearest-match ranking in enrichment)
        out = out.withColumn(keep_sep, sep)
    return out
