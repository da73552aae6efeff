"""Sparse retrieval and data-selection operators over the documents table.

Training-data pipelines need more than dedup: they *select* — retrieve
the documents most relevant to a probe query (BM25-family lexical
retrieval, the workhorse behind RAG corpus construction) and resample a
raw crawl toward a target domain (DSIR-style importance weighting, Xie
et al. 2023, "Data Selection for Language Models via Importance
Resampling").  Both are expressed as pure DataFrame plans: one
tokenize+explode pass, vocabulary-bounded aggregates, broadcast 1-row
corpus statistics, and TakeOrdered top-k — no UDFs, no driver-side
state.

FP discipline: both scorers are
**transcendental-free**.  The classic ``ln()``-based forms survived two
rounds of quantization hardening (scale-9 summand rounds, terminal
scale-5 quantize) and still hash-split on the external driver — a 1-ulp
JVM-vs-libm ``ln()`` difference in ONE summand can always straddle some
rounding boundary.  The scores below are exact ratios of integers,
fixed-point-scaled with INTEGRAL division (Spark ``div`` ≡ DuckDB
``//`` — both truncate toward zero, probe-measured), summed
as plain BIGINTs: bit-identical on any engine, any libm, any data
layout.

- BM25 keeps the Robertson tf-saturation/length-normalization term
  exactly, and replaces the log-IDF ``ln(1 + (N-df+0.5)/(df+0.5))`` by
  its argument ``1 + (N-df+0.5)/(df+0.5) = (2N+2)/(2df+1)`` — the
  rational RSJ weight without the log.  Per-term ordering is identical
  (x ↦ ln(1+·) is monotone); the log's inter-term compression is
  deliberately traded for exactness, and the raw integer operands
  (tf, df, dl) ride along in the output for any downstream re-scoring.
- DSIR ranks by the per-token-occurrence sum of the exact smoothed
  probability ratio ``p_target(tok)/p_raw(tok)`` instead of the sum of
  its log: same candidate set, same per-token monotonicity, exact
  integer arithmetic.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fink_broker_spark.functions.text import tokens_expr

#: fixed-point scale of the emitted scores: score × 10^9, integral-divided
#:
#: Magnitude envelope: the widest intermediate is BM25's scaled
#: numerator ``(2N+2)·A·tf·T·10^9`` (N docs, T total tokens, A = 22 at
#: default k1).  It must stay under the DECIMAL(38,0)/HUGEINT ceiling
#: (~10^38): with the driver lakes (N ≤ 10^6, T ≤ 10^9, tf ≤ 10^4)
#: the peak is ~10^29 — five orders of headroom.  At a true web-corpus
#: scale (N ~ 10^10, T ~ 10^13) the product overflows, and the two
#: engines fail DIFFERENTLY (Spark non-ANSI decimal overflow → NULL,
#: silently dropped from the sum; DuckDB HUGEINT → loud error) — so a
#: deployment at that scale must drop ``_Q`` and/or pre-divide T out of
#: the ratio before widening, not just raise the precision.
_Q = 9
_QLIT = 10**_Q


def _d38(col):
    """Exact integer intermediate: DECIMAL(38,0) (DuckDB twin: HUGEINT)."""
    return col.cast("decimal(38,0)")


def _bm25_consts(k1: float, b: float) -> tuple[int, int, int, int]:
    """Exact integer constants (A, B, C, L) with A/L = k1+1,
    B/L = k1(1-b), C/L = k1·b — derived via Fraction so 1.2/0.75-style
    parameters stay exact."""
    fa, fb = Fraction(str(k1)), Fraction(str(b))
    f1, f2, f3 = fa + 1, fa * (1 - fb), fa * fb
    lcm = 1
    for f in (f1, f2, f3):
        d = f.denominator
        g, x = lcm, d
        while x:
            g, x = x, g % x
        lcm = lcm * d // g
    return int(f1 * lcm), int(f2 * lcm), int(f3 * lcm), lcm


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rational-IDF BM25 top-``k`` retrieval for a literal term query.

    .. warning:: **Not drop-in Okapi/Robertson BM25.**  The log-IDF
       ``ln(1 + (N-df+0.5)/(df+0.5))`` is replaced by its (monotone)
       argument, so each term's ranking is preserved but the SUM over
       several query terms weighs rare terms more heavily than the
       log-compressed original — multi-term rankings can differ from
       published BM25.  The trade buys bit-exact cross-engine
       reproducibility (see the module docstring); the raw integer
       operands (tf, df, dl) ride along in the output for downstream
       re-scoring with a true log-IDF where approximate FP parity is
       acceptable.  ``rational_bm25_topk`` is the honest alias.

    Per matched (doc, term), with N docs, T total tokens, and integer
    constants A/L = k1+1, B/L = k1(1-b), C/L = k1·b::

        idf_ratio = (2N + 2) / (2df + 1)            # 1+(N-df+.5)/(df+.5)
        tf_norm   = A·tf·T / (L·tf·T + B·T + C·dl·N)  # Robertson, exact
        s         = (idf_ratio · tf_norm · 10^9) div 1  # one integral div

    computed as ONE integral division ``(p·10^9) div q`` over exact
    DECIMAL(38,0) products, then summed per doc as BIGINT.

    Plan shape (and why it scales):

    - ``tok`` — one LOGICAL tokenize+explode relation feeds both the
      length stats and the term frequencies. Physically Spark
      recomputes an uncached subtree per consuming branch; the
      production posture at 100 TB is to MATERIALIZE the tokenized
      relation once and hang every consumer off it — the logical shape
      below is unchanged by that choice;
    - doc lengths + corpus stats — one groupBy(doc) aggregate, then a
      1-row global aggregate (``N``, ``T``) that stays in the DAG and
      broadcasts (never ``.count()`` on the driver);
    - term frequencies — ``tok`` filtered to the query terms *before*
      its shuffle (an ``isin`` literal filter the scanner can push), so
      the tf aggregate only moves matching tokens;
    - document frequencies — bounded by ``len(query_terms)`` rows,
      broadcast back into the scorer;
    - final ``orderBy().limit(k)`` compiles to TakeOrderedAndProject.
    """
    terms = [t.lower() for t in query_terms]
    A, B, C, L = _bm25_consts(k1, b)
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_expr(text_col)).alias("token"),
    )
    doclen = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = doclen.groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_len"),
    )
    tf = (
        tok.filter(F.col("token").isin(terms))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_t), "token")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            (
                _d38(F.lit(2) * F.col("n_docs") + F.lit(2))
                * F.lit(A)
                * _d38(F.col("tf"))
                * _d38(F.col("total_len"))
            ).alias("p"),
            (
                _d38(F.lit(2) * F.col("df") + F.lit(1))
                * (
                    _d38(F.lit(L) * F.col("tf")) * _d38(F.col("total_len"))
                    + _d38(F.lit(B) * F.col("total_len"))
                    + _d38(F.lit(C) * F.col("dl")) * _d38(F.col("n_docs"))
                )
            ).alias("q"),
        )
        .select(
            "doc_id",
            F.expr(
                f"CAST((p * CAST({_QLIT} AS DECIMAL(38,0))) div q AS BIGINT)"
            ).alias("s"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("s").alias("bm25_scaled9"),
            F.count(F.lit(1)).alias("n_matched_terms"),
        )
    )
    return scored.orderBy(
        F.col("bm25_scaled9").desc(), F.col("doc_id")
    ).limit(k)


#: honest name for the scorer: the IDF is the rational RSJ
#: weight, not its log — see the warning in the docstring
rational_bm25_topk = bm25_topk


def bm25_topk_oracle_sql(
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB twin of :func:`bm25_topk` (same exact-integer tree;
    HUGEINT stands in for DECIMAL(38,0), ``//`` for ``div``)."""
    terms = ", ".join(f"'{t.lower()}'" for t in query_terms)
    A, B, C, L = _bm25_consts(k1, b)
    return rf"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
  WHERE length(trim(lower(text))) > 0
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
corpus AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM doclen),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok
  WHERE token IN ({terms}) GROUP BY doc_id, token
),
df_t AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
scored AS (
  SELECT tf.doc_id,
         CAST(SUM(
           (CAST(2 * n_docs + 2 AS HUGEINT) * {A} * tf * total_len
            * {_QLIT})
           // (CAST(2 * df + 1 AS HUGEINT)
               * (CAST({L} * tf AS HUGEINT) * total_len
                  + CAST({B} AS HUGEINT) * total_len
                  + CAST({C} * dl AS HUGEINT) * n_docs))
         ) AS BIGINT) AS bm25_scaled9,
         count(*) AS n_matched_terms
  FROM tf JOIN df_t USING (token) JOIN doclen USING (doc_id), corpus
  GROUP BY tf.doc_id
)
SELECT doc_id, bm25_scaled9, n_matched_terms FROM scored
ORDER BY bm25_scaled9 DESC, doc_id
LIMIT {k}
"""


def dsir_importance(
    docs: DataFrame,
    target_pred,
    k: int = 50,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance ranking: score out-of-target documents by
    how target-like their unigram distribution is.

    Per token occurrence, with add-``alpha`` smoothing over the shared
    vocabulary V (``alpha`` exact via Fraction ``a_n/a_d``)::

        r(tok) = p_target(tok) / p_raw(tok)
               = (a_d·n_tgt + a_n)(a_d·t_raw + a_n·V)
                 / ((a_d·n_raw + a_n)(a_d·t_tgt + a_n·V))

    and ``importance_scaled9(doc) = Σ_tok (num(r)·10^9) div den(r)`` —
    an exact BIGINT sum of integral divisions (the published method
    sums ``log r``; the exact-rational ratio sum keeps the same
    candidate set and per-token monotonicity while being bit-stable
    across engines — see the module docstring).  High value = looks
    like the target corpus ⇒ keep for resampling.

    .. warning:: **Not drop-in Xie et al. DSIR.**  Summing the ratio
       instead of its log means tokens with extreme ratios dominate a
       document's score more than in the published log-sum — document
       RANKINGS can differ from the paper's importance weights.  Use
       the emitted exact operands for a log re-score where approximate
       FP parity is acceptable.

    Plan shape: one logical tokenize+explode relation feeds the counts
    aggregate and the scoring join; target and raw counts ride a SINGLE
    shuffle via ``count_if`` (vocabulary-bounded), corpus totals are a
    1-row broadcast, and the result is a TakeOrdered top-``k`` over
    out-of-target docs.
    """
    fa = Fraction(str(alpha))
    an, ad = fa.numerator, fa.denominator
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        target_pred.alias("is_target"),
        F.explode(tokens_expr(text_col)).alias("token"),
    )
    counts = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.count_if("is_target").alias("n_tgt"),
    )
    totals = counts.groupBy().agg(
        F.sum("n_raw").alias("t_raw"),
        F.sum("n_tgt").alias("t_tgt"),
        F.count(F.lit(1)).alias("vocab"),
    )
    scored = (
        tok.filter(~F.col("is_target"))
        .join(counts, "token")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            (
                _d38(F.lit(ad) * F.col("n_tgt") + F.lit(an))
                * _d38(
                    F.lit(ad) * F.col("t_raw") + F.lit(an) * F.col("vocab")
                )
            ).alias("p"),
            (
                _d38(F.lit(ad) * F.col("n_raw") + F.lit(an))
                * _d38(
                    F.lit(ad) * F.col("t_tgt") + F.lit(an) * F.col("vocab")
                )
            ).alias("q"),
        )
        .select(
            "doc_id",
            F.expr(
                f"CAST((p * CAST({_QLIT} AS DECIMAL(38,0))) div q AS BIGINT)"
            ).alias("s"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("s").alias("importance_scaled9"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )
    return scored.orderBy(
        F.col("importance_scaled9").desc(), F.col("doc_id")
    ).limit(k)


def dsir_importance_oracle_sql(
    target_sql_pred: str, k: int = 50, alpha: float = 0.5
) -> str:
    """DuckDB twin of :func:`dsir_importance`."""
    fa = Fraction(str(alpha))
    an, ad = fa.numerator, fa.denominator
    return rf"""
WITH tok AS (
  SELECT doc_id, ({target_sql_pred}) AS is_target,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
  WHERE length(trim(lower(text))) > 0
),
counts AS (
  SELECT token, count(*) AS n_raw,
         count(*) FILTER (is_target) AS n_tgt
  FROM tok GROUP BY token
),
totals AS (
  SELECT sum(n_raw) AS t_raw, sum(n_tgt) AS t_tgt, count(*) AS vocab
  FROM counts
),
scored AS (
  SELECT tok.doc_id,
         CAST(SUM(
           (CAST({ad} * n_tgt + {an} AS HUGEINT)
            * (CAST({ad} AS HUGEINT) * t_raw + {an} * vocab)
            * {_QLIT})
           // (CAST({ad} * n_raw + {an} AS HUGEINT)
               * (CAST({ad} AS HUGEINT) * t_tgt + {an} * vocab))
         ) AS BIGINT) AS importance_scaled9,
         count(*) AS n_tokens
  FROM tok JOIN counts USING (token), totals
  WHERE NOT is_target
  GROUP BY tok.doc_id
)
SELECT doc_id, importance_scaled9, n_tokens FROM scored
ORDER BY importance_scaled9 DESC, doc_id
LIMIT {k}
"""
