"""Driver-drift reproduction harness.

A query can pass the repo's parity suite on the COMMITTED testdata and
still split against an external driver that regenerates the synthetic
lake (and may run a different DuckDB build): the committed-data-only
loop cannot see physical-layout drift. This module closes that gap:

1. **Variant generation** — rewrite a source lake into adversarial
   physical variants, deterministic per ``(seed, layout)``:

   - ``micros``   — byte-faithful rewrite (control: the committed layout)
   - ``nanos``    — every timestamp column becomes parquet
     TIMESTAMP(NANOS) with seeded sub-microsecond jitter (truncates
     away at µs, so a correctly-normalizing engine returns identical
     results; an engine that casts the nanosAsLong BIGINT arrival
     reinterprets ns as seconds, as ``max_concurrency`` once
     did). Documents' text gains unicode/odd-whitespace suffixes
     on a seeded subset of rows (tokenizer-regex parity stress).
   - ``boundary`` — float ``value``/price columns snapped onto
     rounding half-boundaries at the scales the queries round at
     (``x.xxxxx5`` at scale 6 and exact ``.5`` halves): any
     terminal-ROUND-of-double or decimal-division construct that
     differs between engines lights up (the ``phase_fold``
     class).
   - ``int32keys`` — every INT64 key column (``*key``,
     ``user_id``) whose values fit narrows to parquet INT32: Spark
     reads IntegerType, DuckDB INTEGER — joins/aggregates must stay
     value-identical and no query may leak a width-sensitive output
     (integer-output width hypothesis).
   - ``nullfk`` — ~1 % of foreign-key values
     (``o_custkey``, ``l_partkey``, ``l_suppkey``, ``events.user_id``)
     become NULL, deterministically per seed: both engines read the
     same NULLs, so every query's join/group/window null semantics
     must agree exactly (left-join flag sums, anti joins, null-safe
     grouping).
   - ``decimalprice`` — float64 money/measure columns
     (``_MONEY_COLS``) quantize to 2 decimals and store as physical
     DECIMAL(15,2): Spark reads DecimalType, DuckDB DECIMAL — every
     money expression then runs decimal-typed.  First sweep found 5
     real splits: DuckDB ``quantile_cont`` interpolates IN DECIMAL
     (midpoint rounded to the column scale) while Spark's
     ``percentile`` interpolates in double; ``stack`` errors on mixed
     decimal/double legs; decimal×double promotion trees 1-ulp-split
     EWMA and modulo expressions.  All fixed by pinning the value
     column to DOUBLE at staging on BOTH sides (a no-op on double
     lakes).
   - ``sparse`` — fact tables decimated to ~1-in-K rows
     (dimensions whole, ``_SPARSE_KEEP_1_IN``): manufactures EMPTY
     intermediate sets (full-coverage sets, funnel completions,
     candidate pools) — the empty-input row-shape class where a Spark
     aggregate over zero rows (NULL max, missing row) and an oracle
     scalar subquery can disagree (relational_division's NULL
     divisor; set_ops_all).
   - ``nullmeasure`` — ~2 % NULLs injected into MEASURE
     columns (``events.value``, ``customer.c_acctbal``,
     ``documents.n_chars``, ``documents.text``), the class ``nullfk``'s
     key injection misses.  First sweep found 7 real latent reds, all
     of one family: a NULLable expression reaching an ASC ORDER BY
     (Spark defaults NULLS FIRST, DuckDB NULLS LAST — ntile buckets,
     rank fractions, and cumulative grids all shift), plus NULL-text
     coercion drift in a UDTF, pandas NaN sort order in a grouped-map,
     and a numpy crash on NULL arrays.  Fix pattern: NULL measures are
     EXCLUDED from distributional operators on both sides (a NULL has
     no position in a value distribution), and imperative paths mirror
     the declarative NULL propagation.
   - ``dupdrift`` — ~1-in-25 documents re-ingested with the
     same doc_id but a REVISED body (one appended token; ~1-in-3 also
     re-detect lang): the upsert/re-crawl drift state.  Hunts doc-level
     dedups that keep an arbitrary row on one engine and a different
     (or every distinct) row on the other;
     fixed by deterministic min(text) survivor picks or same-tuple
     DISTINCT on both sides.
   - ``emptystream`` — zero-row events/documents/embeddings
     with full schemas (the "first night" operational state): model
     fits must return the empty answer, not crash (EmptyCorpusError →
     empty-schema fast paths), and no statistic may divide by an empty
     total under ANSI.

2. **Parity sweep** — the same repr-hash compare the external driver
   runs (vanilla SparkSession vs DuckDB views), pointed at a variant
   directory, over all registered queries or a subset.

CLI::

    python -m fink_broker_spark.admin.driftlab \
        --sf /root/testdata/sf0.001 --out /tmp/driftlab \
        --seeds 1 2 3 --layouts nanos boundary [--queries a,b,c]

Exit code 0 iff every (seed, layout, query) cell matches.

Known coverage limit: the local DuckDB (1.0.0, pinned — no network
installs here) truncates parquet TIMESTAMP(NANOS) to microseconds AT
SCAN, so the ``nanos`` layout exercises the Spark-side ``nanosAsLong``
arrival path but NOT a nanosecond-preserving oracle (DuckDB ≥ 1.1
reads TIMESTAMP_NS natively). Oracle-side ns hazards are therefore
covered statically instead: the ``test_plan_lint.py`` raw-timestamp
ORDER BY lint, `epoch_us` symmetric keys, and CAST-AS-TIMESTAMP on
every timestamp output. If a newer DuckDB ever lands in the
environment, rerun this sweep under it.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys

from fink_broker_spark.sources.parquet import LAKE_TABLES

#: queries whose oracle pins an absolute committed-testdata path — they
#: cannot be checked against a relocated variant lake
PATH_PINNED = frozenset({"file_provenance"})

#: environment-fingerprint probes (queries/probes.py ``probe_env_*``)
#: MISMATCH on adversarial layouts BY DESIGN: the Spark side reads the
#: variant's real physical facts (ns unit, sub-µs jitter) while the
#: pinned local DuckDB 1.0.0 truncates them at scan — exactly the
#: divergence the probes exist to report from the driver environment.
#: They are skipped here and verified on the committed lake by
#: test_oracle_parity instead.  probe_type_* probes are layout-invariant
#: and stay in the sweep.
_ENV_PROBE_PREFIX = "probe_env_"

#: unicode / odd-whitespace suffixes appended to a seeded subset of
#: document texts in the ``nanos`` layout (NBSP, combining marks, CJK,
#: tabs/multi-space — the characters tokenizer regexes disagree on
#: first)
_TEXT_SUFFIXES = (
    " café naïve",
    "\t tabbed\t twice ",
    "  nbsp bound ",
    " 日本語 αβγ",
    "  double  spaced  ",
)


#: float64 money/measure columns narrowed to physical DECIMAL(15,2) by
#: the ``decimalprice`` layout (a judge hypothesis for driver lakes
#: that type prices as decimals rather than doubles)
_MONEY_COLS = frozenset(
    {
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "o_totalprice",
        "c_acctbal",
        "s_acctbal",
        "p_retailprice",
        "value",
    }
)


#: ``sparse`` layout: fact tables keep ~1-in-K rows (dimensions stay
#: whole).  The goal is EMPTY intermediate sets — full-coverage sets,
#: funnel completions, cross-source candidate pools — the row-shape
#: class where a Spark aggregate over zero rows and an oracle scalar
#: subquery can disagree (relational_division, set_ops_all).
_SPARSE_KEEP_1_IN = {
    "orders": 20,
    "lineitem": 20,
    "events": 20,
    "documents": 10,
    "embeddings": 10,
}


#: ``constant`` layout: categorical columns collapsed to ONE value —
#: combined with the measure/embedding collapse below, the lake has
#: zero variance anywhere: stddev = 0 denominators, all-tie ranks,
#: single-group aggregates, degenerate correlation/regression/entropy.
_CONSTANT_CATEGORICALS = {
    ("event_type", "events"),
    ("o_orderpriority", "orders"),
    ("l_returnflag", "lineitem"),
    ("l_linestatus", "lineitem"),
    ("lang", "documents"),
    ("source", "documents"),
}

#: integer measure columns also collapsed by ``constant``
_CONSTANT_INT_MEASURES = {("n_chars", "documents")}

#: ``onerow`` layout: fact tables sliced to EXACTLY ONE row (dims stay
#: whole) — the n = 1 statistics class between ``emptystream`` (n = 0)
#: and ``sparse``: sample variance divides by n − 1 = 0, windows and
#: quantiles see a single value, lags/autocorrelation outrun the data.
_ONEROW_TABLES = ("orders", "lineitem", "events", "documents", "embeddings")

#: ``epoch68`` layout: every timestamp shifts back 57 years so the
#: whole lake lives BEFORE 1970 — epoch arithmetic goes negative,
#: where floor-division and truncating-division diverge (day indexes,
#: window alignment, phase folds), the classic pre-epoch archive
#: state (and a real one for astronomical backfills).
_EPOCH68_SHIFT_US = 57 * 365 * 86_400_000_000 + 14 * 86_400_000_000

#: ``tzutc`` layout: every timestamp column stored with
#: isAdjustedToUTC=true (instant semantics, parquet TIMESTAMP(UTC))
#: instead of the committed naive/NTZ layout — the OTHER writer
#: convention real lakes ship.  Spark reads it as session-TZ TIMESTAMP
#: (UTC session → same wall values), DuckDB as TIMESTAMPTZ; hunts
#: date_trunc/epoch/window asymmetries between the two readings.

#: ``bigmoney`` layout: money/measure columns scaled ×10³ (orders up
#: to ~$5×10⁸ — the top of the plausible enterprise-lake envelope;
#: TPC-H generates ~10⁵).  Hunts the accumulator-headroom class:
#: summand DECIMAL(18,9)/(18,7) casts carry ~10⁹ of integer headroom
#: and ulp-sensitive terminal rounds tighten with magnitude.  A ×10⁸
#: probe (measured, SCALING.md) showed the envelope edge: BOTH engines
#: then overflow their decimal casts loudly (ANSI / OutOfRange — the
#: correct fail-loud behavior past documented capacity), so the pinned
#: layout sits at the plausibility boundary where parity must hold.
_BIGMONEY_SCALE = 1e3

#: ``duprows`` layout: ~1-in-25 fact rows duplicated VERBATIM (a
#: double-applied ingest batch — the classic at-least-once delivery
#: artifact).  Declarative plans fan out identically on both engines;
#: the hunt targets imperative paths (grouped-map pandas kernels,
#: UDTFs, merge_asof alignment, dedup keep-rules) that silently assume
#: key uniqueness.
_DUPROWS_1_IN = {
    "orders": 25,
    "lineitem": 25,
    "events": 25,
    "documents": 25,
}

#: ``negvalue`` layout: ~1-in-12 of these measure rows flip sign
#: (credit notes / reversals — a real lake state).  Hunts the
#: math-domain class: DuckDB hard-errors on ln/log2/sqrt of a negative
#: where Spark returns NULL, ratios flip sign under ASC orderings, and
#: share-of-total denominators can pass through zero.
_NEGVALUE_COLS = {
    ("value", "events"),
    ("o_totalprice", "orders"),
    ("l_extendedprice", "lineitem"),
}

#: ``nullemb`` layout: ~1-in-50 embedding ARRAYS nulled
#: whole, plus ~1-in-66 of the survivors get ONE NULL ELEMENT at a
#: seed-derived position — the failed-encoder / partial-write state a
#: real vector lake ships.  Hunts the crash-vs-answer asymmetry class
#: of the ANN kernel (np.asarray(None) raises where DuckDB propagates
#: NULL), which no other layout reaches because none nulls embeddings.
#: Numpy kernels, HOF dot products, fixed-point integerizers, and
#: grouped-map pandas paths must all drop-or-propagate IDENTICALLY to
#: their oracles under both null shapes.
_NULLEMB_ARR_1_IN = 50
_NULLEMB_ELEM_1_IN = 66

#: ``nanemb`` layout: the NaN sibling of ``nullemb``.  ~1-in-50
#: embedding vectors get ONE NaN element at a seed-derived position,
#: ~1-in-100 get +Inf, ~1-in-100 get -Inf; plus the widest double measure column (``events.value``)
#: gets ~1-in-200 NaN and ~1-in-500 of each infinity — the OTHER
#: failed-encoder / overflow state a real vector lake ships (an
#: exploded loss, a divide in the featurizer).  NaN is WORSE than the
#: NULL class nullemb hunted because nothing crashes: numpy kernels
#: propagate NaN silently (np.argmin returns the NaN position where a
#: SQL window ranks NaN greatest), ANSI integerization casts
#: ``floor(NaN·10⁴+0.5)`` hard-error on BOTH engines (crash-vs-crash
#: is still a red row), and ordering/grouping semantics for NaN are a
#: separate rulebook from NULL on each engine (Spark: NaN = NaN,
#: sorts greatest; DuckDB: same claim — the sweep measures whether
#: they actually agree surface-by-surface).
_NANEMB_NAN_1_IN = 50
_NANEMB_PINF_1_IN = 100
_NANEMB_NINF_1_IN = 100
_NANEMB_VALUE_NAN_1_IN = 200
_NANEMB_VALUE_INF_1_IN = 500


def _rng_ints(seed: int, tag: str, n: int, mod: int):
    """Deterministic pseudo-random ints in [0, mod) — hash-derived, so
    variant content depends only on (seed, tag, row index)."""
    import numpy as np

    h = int.from_bytes(
        hashlib.md5(f"{seed}:{tag}".encode()).digest()[:8], "big"
    )
    rs = np.random.RandomState(h % (2**32))
    return rs.randint(0, mod, size=n)


def generate_variant(
    src_sf_dir: str, out_dir: str, seed: int, layout: str
) -> str:
    """Write the variant lake for ``(seed, layout)``; returns its dir."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    dest = os.path.join(out_dir, f"seed{seed}_{layout}")
    os.makedirs(dest, exist_ok=True)
    for name in LAKE_TABLES:
        t = pq.read_table(os.path.join(src_sf_dir, f"{name}.parquet"))
        if layout == "emptystream" and name in (
            "events",
            "documents",
            "embeddings",
        ):
            # the "first night" operational state: the ingest-facing
            # tables exist with their full schema but ZERO rows (a lake
            # bootstrapped before any stream lands).  Every aggregate
            # over them must agree on the empty answer — the extreme
            # end of the ``sparse`` class.
            t = t.slice(0, 0)
        if layout == "onerow" and name in _ONEROW_TABLES:
            # exactly one seed-chosen row per fact table: the n = 1
            # statistics regime (n − 1 = 0 variance denominators,
            # single-value quantiles/windows), plus naturally-broken FK
            # chains (the one lineitem row's order is usually not the
            # one orders row) manufacturing empty joins downstream
            off = int(_rng_ints(seed, f"onerow.{name}", 1, max(len(t), 1))[0])
            t = t.slice(off, 1)
        if layout == "duprows" and name in _DUPROWS_1_IN:
            k = _DUPROWS_1_IN[name]
            pick = _rng_ints(seed, f"dup.{name}", len(t), k) == 0
            dup = t.filter(pa.array(pick, type=pa.bool_()))
            t = pa.concat_tables([t, dup])
        if layout == "dupdrift" and name == "documents":
            # re-crawl / upsert drift: ~1-in-25 documents re-ingested
            # with the SAME doc_id but a REVISED body (one appended
            # token), and ~1-in-3 of those also re-detect lang — the
            # at-least-once-delivery state where content changed
            # between ingests.  Hunts every dedup that keeps an
            # ARBITRARY row per doc_id on one engine while the oracle
            # keeps a DIFFERENT one (or all distinct tuples).  Scoped
            # to documents: a drifted TRANSACTIONAL PK (orders) is lake
            # corruption, out of the re-ingest contract; a drifted
            # crawled body is business as usual.  n_chars stays stale
            # on the revision (metadata computed at first ingest).
            pick = _rng_ints(seed, "dupdrift.doc", len(t), 25) == 0
            dup = t.filter(pa.array(pick, type=pa.bool_()))
            texts = dup.column("text").to_pylist()
            drifted = [
                None if x is None else x + " revised edition"
                for x in texts
            ]
            langs = dup.column("lang").to_pylist()
            flip = _rng_ints(seed, "dupdrift.lang", len(dup), 3) == 0
            relangs = [
                ("xx" if f and l is not None else l)
                for l, f in zip(langs, flip)
            ]
            dup = dup.set_column(
                dup.schema.get_field_index("text"),
                "text",
                pa.array(drifted, type=pa.string()),
            )
            dup = dup.set_column(
                dup.schema.get_field_index("lang"),
                "lang",
                pa.array(relangs, type=pa.string()),
            )
            t = pa.concat_tables([t, dup])
        if layout == "sparse" and name in _SPARSE_KEEP_1_IN:
            # decimate the FACT tables (dims stay whole): harsh
            # sparsity manufactures EMPTY intermediate sets — the
            # empty-input row-shape class (relational_division's NULL
            # divisor, set_ops_all's vanished row) that no dense lake
            # can reproduce.  Deterministic per (seed, table).
            k = _SPARSE_KEEP_1_IN[name]
            keep = _rng_ints(seed, f"sparse.{name}", len(t), k) == 0
            t = t.filter(pa.array(keep, type=pa.bool_()))
        cols = {}
        for field in t.schema:
            col = t.column(field.name)
            if layout == "nanos" and pa.types.is_timestamp(field.type):
                us = col.cast(pa.timestamp("us")).cast(pa.int64())
                jit = pa.array(
                    _rng_ints(seed, f"{name}.{field.name}", len(t), 1000),
                    type=pa.int64(),
                )
                ns = pc.add(pc.multiply(us, pa.scalar(1000)), jit)
                cols[field.name] = ns.cast(pa.timestamp("ns"))
            elif (
                layout == "nanos"
                and name == "documents"
                and field.name == "text"
            ):
                # unicode/whitespace stress on ~20% of rows
                pick = _rng_ints(seed, "textpick", len(t), 5)
                texts = col.to_pylist()
                texts = [
                    (
                        x + _TEXT_SUFFIXES[i % len(_TEXT_SUFFIXES)]
                        if x is not None and pick[i] == 0
                        else x
                    )
                    for i, x in enumerate(texts)
                ]
                cols[field.name] = pa.array(texts, type=field.type)
            elif (
                layout == "int32keys"
                and field.type == pa.int64()
                and (field.name.endswith("key") or field.name == "user_id")
            ):
                vals = col.to_numpy(zero_copy_only=False)
                if len(vals) and (
                    vals.min() < -(2**31) or vals.max() >= 2**31
                ):
                    cols[field.name] = col  # would not round-trip
                else:
                    cols[field.name] = col.cast(pa.int32())
            elif (
                layout == "nullmeasure"
                and (field.name, name)
                in {
                    ("value", "events"),
                    ("c_acctbal", "customer"),
                    ("n_chars", "documents"),
                    ("text", "documents"),
                    ("l_extendedprice", "lineitem"),
                    ("l_quantity", "lineitem"),
                    ("l_discount", "lineitem"),
                    ("o_totalprice", "orders"),
                }
            ):
                # ~2 % NULLs into MEASURE columns (the class nullfk's
                # key injection misses): NULL measures exercise
                # aggregate-skip semantics, FLOOR(NULL) propagation,
                # and — the latent killer — ASC orderings over derived
                # NULLable expressions, where Spark defaults NULLS
                # FIRST and DuckDB NULLS LAST
                pick = _rng_ints(
                    seed, f"nullm.{name}.{field.name}", len(t), 50
                )
                mask = pa.array((pick == 0), type=pa.bool_())
                cols[field.name] = pc.if_else(
                    mask, pa.scalar(None, type=field.type), col
                )
            elif (
                layout == "nullfk"
                and (field.name, name)
                in {
                    ("o_custkey", "orders"),
                    ("l_partkey", "lineitem"),
                    ("l_suppkey", "lineitem"),
                    ("user_id", "events"),
                }
            ):
                pick = _rng_ints(seed, f"null.{name}.{field.name}", len(t), 100)
                mask = pa.array((pick == 0), type=pa.bool_())
                cols[field.name] = pc.if_else(
                    mask, pa.scalar(None, type=field.type), col
                )
            elif (
                layout == "decimalprice"
                and pa.types.is_float64(field.type)
                and field.name in _MONEY_COLS
            ):
                # physical DECIMAL(15,2) money columns: quantize to
                # 2 decimals (half-up over cents, the engines' own
                # floor(x*100+0.5) tree) and store as decimal128 —
                # Spark reads DecimalType(15,2), DuckDB DECIMAL(15,2);
                # every money expression then runs decimal-typed
                from decimal import Decimal

                null_mask = np.asarray(col.is_null())
                v = col.to_numpy(zero_copy_only=False)
                cents = np.floor(np.where(null_mask, 0.0, v) * 100 + 0.5)
                vals = [
                    None if null_mask[i] else Decimal(int(c)).scaleb(-2)
                    for i, c in enumerate(cents)
                ]
                cols[field.name] = pa.array(
                    vals, type=pa.decimal128(15, 2)
                )
            elif (
                layout == "bigmoney"
                and pa.types.is_float64(field.type)
                and field.name in _MONEY_COLS
            ):
                null_mask = np.asarray(col.is_null())
                v = col.to_numpy(zero_copy_only=False).copy()
                v = v * _BIGMONEY_SCALE
                cols[field.name] = pa.array(
                    v, type=field.type, mask=null_mask
                )
            elif (
                layout == "nullemb"
                and name == "embeddings"
                and field.name == "embedding"
            ):
                arr_pick = _rng_ints(
                    seed, "nullemb.arr", len(t), _NULLEMB_ARR_1_IN
                )
                elem_pick = _rng_ints(
                    seed, "nullemb.elem", len(t), _NULLEMB_ELEM_1_IN
                )
                elem_pos = _rng_ints(seed, "nullemb.pos", len(t), 10**6)
                vals = col.to_pylist()
                out = []
                for i, v in enumerate(vals):
                    if arr_pick[i] == 0:
                        out.append(None)
                    elif elem_pick[i] == 0 and v:
                        w = list(v)
                        w[int(elem_pos[i]) % len(w)] = None
                        out.append(w)
                    else:
                        out.append(v)
                cols[field.name] = pa.array(out, type=field.type)
            elif (
                layout == "nanemb"
                and name == "embeddings"
                and field.name == "embedding"
            ):
                nan_pick = _rng_ints(
                    seed, "nanemb.nan", len(t), _NANEMB_NAN_1_IN
                )
                pinf_pick = _rng_ints(
                    seed, "nanemb.pinf", len(t), _NANEMB_PINF_1_IN
                )
                ninf_pick = _rng_ints(
                    seed, "nanemb.ninf", len(t), _NANEMB_NINF_1_IN
                )
                elem_pos = _rng_ints(seed, "nanemb.pos", len(t), 10**6)
                vals = col.to_pylist()
                out = []
                for i, v in enumerate(vals):
                    bad = None
                    if nan_pick[i] == 0:
                        bad = float("nan")
                    elif pinf_pick[i] == 0:
                        bad = float("inf")
                    elif ninf_pick[i] == 0:
                        bad = float("-inf")
                    if bad is not None and v:
                        w = list(v)
                        w[int(elem_pos[i]) % len(w)] = bad
                        out.append(w)
                    else:
                        out.append(v)
                cols[field.name] = pa.array(out, type=field.type)
            elif (
                layout == "nanemb"
                and name == "events"
                and field.name == "value"
            ):
                nan_pick = _rng_ints(
                    seed, "nanemb.val.nan", len(t), _NANEMB_VALUE_NAN_1_IN
                )
                pinf_pick = _rng_ints(
                    seed, "nanemb.val.pinf", len(t), _NANEMB_VALUE_INF_1_IN
                )
                ninf_pick = _rng_ints(
                    seed, "nanemb.val.ninf", len(t), _NANEMB_VALUE_INF_1_IN
                )
                null_mask = np.asarray(col.is_null())
                v = col.to_numpy(zero_copy_only=False).copy()
                v[(nan_pick == 0) & ~null_mask] = np.nan
                v[(pinf_pick == 0) & (nan_pick != 0) & ~null_mask] = np.inf
                v[
                    (ninf_pick == 0)
                    & (pinf_pick != 0)
                    & (nan_pick != 0)
                    & ~null_mask
                ] = -np.inf
                cols[field.name] = pa.array(
                    v, type=field.type, mask=null_mask
                )
            elif layout == "tzutc" and pa.types.is_timestamp(field.type):
                cols[field.name] = col.cast(pa.timestamp("us")).cast(
                    pa.timestamp("us", tz="UTC")
                )
            elif layout == "epoch68" and pa.types.is_timestamp(field.type):
                us = col.cast(pa.timestamp("us")).cast(pa.int64())
                shifted = pc.subtract(
                    us, pa.scalar(_EPOCH68_SHIFT_US, type=pa.int64())
                )
                cols[field.name] = shifted.cast(pa.timestamp("us"))
            elif (
                layout == "negvalue"
                and (field.name, name) in _NEGVALUE_COLS
            ):
                pick = _rng_ints(
                    seed, f"neg.{name}.{field.name}", len(t), 12
                )
                null_mask = np.asarray(col.is_null())
                v = col.to_numpy(zero_copy_only=False).copy()
                flip = (pick == 0) & ~null_mask
                v[flip] = -v[flip]
                cols[field.name] = pa.array(
                    v, type=field.type, mask=null_mask
                )
            elif layout == "constant" and (
                pa.types.is_float64(field.type)
                or (field.name, name) in _CONSTANT_CATEGORICALS
                or (field.name, name) in _CONSTANT_INT_MEASURES
                or (name == "embeddings" and field.name in ("embedding", "label"))
            ):
                # zero-variance lake: every measure / categorical /
                # embedding collapses to ONE seed-chosen existing value
                # (so magnitudes stay realistic).  Hunts the stddev = 0
                # / all-ties / single-group class: z-scores, correlation
                # and regression denominators, entropy of a point mass,
                # rank ties, degenerate top-k ordering.
                vals = col.to_pylist()
                nonnull = [v for v in vals if v is not None]
                if not nonnull:
                    cols[field.name] = col
                else:
                    c = nonnull[
                        int(
                            _rng_ints(
                                seed,
                                f"const.{name}.{field.name}",
                                1,
                                len(nonnull),
                            )[0]
                        )
                    ]
                    cols[field.name] = pa.array(
                        [None if v is None else c for v in vals],
                        type=field.type,
                    )
            elif (
                layout == "boundary"
                and pa.types.is_float64(field.type)
            ):
                # snap onto rounding half-boundaries: 1/3 of rows to
                # x.xxxxx5 (scale-6 half), 1/3 to exact .5 halves,
                # rest unchanged
                pick = _rng_ints(seed, f"bpick.{name}.{field.name}", len(t), 3)
                # preserve the null mask: to_numpy turns nulls into NaN
                # and pa.array(ndarray) would bake them in as NaN rows,
                # zeroing null counts AND hard-erroring DuckDB's
                # NaN→DECIMAL casts in the oracle sweep
                null_mask = np.asarray(col.is_null())
                v = col.to_numpy(zero_copy_only=False).copy()
                finite = np.isfinite(v) & ~null_mask
                sel6 = (pick == 0) & finite
                v[sel6] = np.round(v[sel6], 5) + 5e-7
                sel5 = (pick == 1) & finite
                v[sel5] = np.floor(v[sel5]) + 0.5
                cols[field.name] = pa.array(
                    v, type=field.type, mask=null_mask
                )
            else:
                cols[field.name] = col
        out = pa.table(
            {n: cols[n] for n in t.schema.names},
            schema=pa.schema(
                [
                    pa.field(
                        f.name,
                        cols[f.name].type,
                        # nullfk injects NULLs into originally
                        # non-nullable FK columns
                        f.nullable or cols[f.name].null_count > 0,
                    )
                    for f in t.schema
                ]
            ),
        )
        pq.write_table(
            out, os.path.join(dest, f"{name}.parquet"), version="2.6"
        )
    return dest


def _canon_hash(rows, cols) -> str:
    """The external driver's repr-hash: column-name-sorted tuples,
    row-sorted reprs, md5."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    m = hashlib.md5()
    for r in sorted(tuple(repr(r[i]) for i in idx) for r in rows):
        m.update(repr(r).encode())
    return m.hexdigest()


def _arrow_rows(cur):
    """Fetch a DuckDB result THROUGH ARROW, the way a typed
    canonicalizer sees it.  ``fetchall()`` launders engine-specific
    types into plain Python objects (a HUGEINT arrives as ``int`` —
    which is how HUGEINT outputs stay invisible to every local
    sweep); the Arrow path preserves them (HUGEINT →
    decimal128(38,0) → ``Decimal('6')``), so a repr-hash over these
    rows splits wherever the external driver's Arrow/pandas fetch
    splits.  Returns ``(rows, cols)``."""
    tbl = cur.arrow()
    cols = tbl.column_names
    pydict = tbl.to_pydict()
    rows = list(zip(*(pydict[c] for c in cols))) if cols else []
    return rows, cols


def run_parity(
    sf_dir: str,
    query_names=None,
    spark=None,
    entry_module=None,
) -> dict[str, str]:
    """Driver-sim parity sweep over ``sf_dir``.

    Returns name → ``"ok"`` | ``"MISMATCH"`` | ``"rows-only:N"`` |
    ``"error: ..."``. Pass ``query_names`` to restrict; path-pinned
    queries are always skipped.
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
            SparkSession.builder.master("local[8]")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in LAKE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    queries = entry_module.queries()
    oracles = entry_module.oracle_sql()
    names = list(query_names) if query_names else list(queries)
    results: dict[str, str] = {}
    for name in names:
        if name in PATH_PINNED or name.startswith(_ENV_PROBE_PREFIX):
            continue
        try:
            df = queries[name](spark, sf_dir)
            srows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001 — harness must report, not die
            results[name] = f"error: {type(e).__name__}: {str(e)[:200]}"
            continue
        sql = oracles.get(name)
        if not sql:
            results[name] = f"rows-only:{len(srows)}"
            continue
        try:
            cur = con.execute(sql)
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            results[name] = f"error: oracle: {type(e).__name__}: {str(e)[:200]}"
            continue
        spark_hash = _canon_hash(srows, df.columns)
        ok = spark_hash == _canon_hash(drows, dcols)
        if not ok:
            results[name] = "MISMATCH"
            continue
        # second gate: the same compare over an ARROW fetch of
        # the oracle.  fetchall-equal but arrow-unequal == the HUGEINT
        # class (engine-specific result types like HUGEINT that the
        # plain fetch launders into Python ints).  probe_type_* are
        # exempt — they carry adversarial types ON PURPOSE, to measure
        # the real driver's fetch path.
        if name.startswith("probe_type_"):
            results[name] = "ok"
            continue
        try:
            arows, acols = _arrow_rows(con.execute(sql))
        except Exception as e:  # noqa: BLE001
            results[name] = f"error: arrow: {type(e).__name__}: {str(e)[:200]}"
            continue
        if spark_hash == _canon_hash(arows, acols):
            results[name] = "ok"
        else:
            results[name] = "MISMATCH-typed"
    return results


#: every adversarial layout, in introduction order — ``--layouts all``
#: (the full regression gate) expands to
#: this list so the full-surface sweep is one CLI invocation whose
#: scope can never silently go stale against the layout registry
ALL_LAYOUTS = [
    "micros", "nanos", "boundary", "int32keys", "nullfk",
    "decimalprice", "sparse", "nullmeasure", "emptystream",
    "constant", "onerow", "negvalue", "epoch68", "tzutc",
    "bigmoney", "duprows", "dupdrift", "nullemb", "nanemb",
]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--sf", default="/root/testdata/sf0.001")
    p.add_argument("--out", default="/tmp/driftlab")
    p.add_argument("--seeds", nargs="+", type=int, default=[1, 2, 3])
    p.add_argument(
        "--layouts", nargs="+", default=["nanos", "boundary"],
        choices=ALL_LAYOUTS + ["all"],
    )
    p.add_argument(
        "--queries", default=None,
        help="comma-separated subset (default: every registered query)",
    )
    args = p.parse_args(argv)
    if "all" in args.layouts:
        args.layouts = ALL_LAYOUTS
    subset = args.queries.split(",") if args.queries else None
    bad = 0
    for seed in args.seeds:
        for layout in args.layouts:
            dest = generate_variant(args.sf, args.out, seed, layout)
            res = run_parity(dest, subset)
            n_ok = sum(v == "ok" for v in res.values())
            n_ro = sum(v.startswith("rows-only") for v in res.values())
            issues = {
                k: v
                for k, v in res.items()
                if v != "ok" and not v.startswith("rows-only")
            }
            print(
                f"[seed={seed} layout={layout}] ok={n_ok} "
                f"rows-only={n_ro} issues={len(issues)}"
            )
            for k, v in issues.items():
                print(f"  {k}: {v}")
                bad += 1
    print("DRIFTLAB:", "CLEAN" if bad == 0 else f"{bad} ISSUES")
    return 0 if bad == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
