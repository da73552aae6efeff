"""Text-corpus queries over ``documents``: quality signals, tokenization,
sampling, mixtures, contamination and retrieval scoring.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fink_broker_spark.ext.retrieval import (
    bm25_topk_oracle_sql,
    dsir_importance_oracle_sql,
)
from fink_broker_spark.functions.text import (
    bpe_token_count_expr,
    lang_id_expr,
    punct_ratio_expr,
    quality_score_expr,
    stopword_ratio_expr,
    token_count_expr,
    tokens_expr,
)
from fink_broker_spark.plans.materialize import materialize
from fink_broker_spark.plans.partitioning import (
    ensure_keyed_parallelism,
    ensure_scan_parallelism,
)
from fink_broker_spark.queries.registry import query
from fink_broker_spark.sources.parquet import load_table


ORACLE_TEXT_QUALITY = r"""
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(lower(text))) = 0 THEN 0
              ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
                   / CAST(length(text) AS DOUBLE) END AS punct_ratio,
         len(regexp_extract_all(lower(text),
             '\b(the|a|an|and|or|of|to|in|is|it|on|for)\b')) AS stop_hits
  FROM documents
)
SELECT doc_id,
       CAST(n_tokens AS INTEGER) AS n_tokens,
       CAST(n_bpe AS INTEGER) AS n_bpe_tokens,
       punct_ratio,
       CASE WHEN n_tokens = 0 THEN 0.0
            ELSE CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS stop_ratio,
       0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
       + 0.3 * (1.0 - punct_ratio)
       + 0.3 * least(1.0, (CASE WHEN n_tokens = 0 THEN 0.0
                   ELSE CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) END) * 5.0)
         AS quality
FROM t
"""


@query("text_quality", oracle=ORACLE_TEXT_QUALITY)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts, punctuation/stopword ratios, quality score."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_expr("text").alias("n_tokens"),
        bpe_token_count_expr("text").alias("n_bpe_tokens"),
        punct_ratio_expr("text").alias("punct_ratio"),
        stopword_ratio_expr("text").alias("stop_ratio"),
        quality_score_expr("text").alias("quality"),
    )


ORACLE_LANG_ID = r"""
WITH s AS (
  SELECT doc_id, lang,
    len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in|that|it|for|with)\b')) AS s_en,
    len(regexp_extract_all(lower(text), '\b(el|la|los|las|de|que|y|en|un|una|es|por)\b')) AS s_es,
    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|eine|zu|mit|von)\b')) AS s_de,
    len(regexp_extract_all(lower(text), '\b(le|la|les|des|et|est|une|dans|pour|que|qui)\b')) AS s_fr
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN s_en = greatest(s_en, s_es, s_de, s_fr) AND greatest(s_en, s_es, s_de, s_fr) > 0 THEN 'en'
            WHEN s_es = greatest(s_en, s_es, s_de, s_fr) AND greatest(s_en, s_es, s_de, s_fr) > 0 THEN 'es'
            WHEN s_de = greatest(s_en, s_es, s_de, s_fr) AND greatest(s_en, s_es, s_de, s_fr) > 0 THEN 'de'
            WHEN s_fr = greatest(s_en, s_es, s_de, s_fr) AND greatest(s_en, s_es, s_de, s_fr) > 0 THEN 'fr'
            ELSE 'und' END AS lang_pred
FROM s
"""


@query("lang_id", oracle=ORACLE_LANG_ID)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language heuristic (argmax with priority ties)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", lang_id_expr("text").alias("lang_pred")
    )


ORACLE_PACK_SEQUENCES = r"""
WITH t AS (
  SELECT doc_id, doc_id % 32 AS shard,
         CASE WHEN length(trim(lower(text))) = 0 THEN 0
              ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, shard, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
  FROM t
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(floor(excl / 256.0) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM c GROUP BY 1, 2
"""


@query("pack_sequences", oracle=ORACLE_PACK_SEQUENCES)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: documents → fixed-token-budget
    bins by exclusive prefix sum within deterministic shards. The window
    is partitioned by shard (32 independent sorted streams — never a
    global ORDER BY, which would serialize the corpus through one
    task)."""
    from fink_broker_spark.ext.pipeline import pack_by_prefix_sum
    from fink_broker_spark.functions.text import token_count_expr

    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", token_count_expr("text").alias("n_tokens")
    )
    packed = pack_by_prefix_sum(
        staged, "n_tokens", budget=256, id_col="doc_id", nshards=32
    )
    return packed.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


ORACLE_STRATIFIED_SAMPLE = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM documents
WHERE doc_id % 100 < (CASE lang WHEN 'en' THEN 35 WHEN 'zh' THEN 80
                                WHEN 'de' THEN 100 ELSE 50 END)
GROUP BY lang
"""


@query("stratified_sample", oracle=ORACLE_STRATIFIED_SAMPLE)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language down-sampling with a deterministic modulo predicate
    (pushdown-friendly; the xxhash64 production twin shares the shape —
    rate equivalence pinned in tests)."""
    from fink_broker_spark.ext.pipeline import stratified_keep_expr

    docs = load_table(spark, sf_dir, "documents")
    keep = stratified_keep_expr(
        "lang", {"en": 35, "zh": 80, "de": 100}, "doc_id", default_pct=50
    )
    return docs.filter(keep).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


ORACLE_PII_SCRUB = r"""
WITH inj AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         '@example.com ref ' || CAST(doc_id + 100000000 AS VARCHAR) AS text
  FROM documents
), scrub AS (
  SELECT doc_id, text,
         regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{6,}', '<NUM>', 'g') AS clean
  FROM inj
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT) AS n_digit_runs,
       CAST(length(clean) AS BIGINT) AS len_scrubbed,
       right(clean, 24) AS tail
FROM scrub
"""


@query("pii_scrub", oracle=ORACLE_PII_SCRUB)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction as chained regexp_replace (emails then long digit
    runs — whole-stage codegen, no UDF). PII is injected
    deterministically per doc so the scrub provably fires on every
    row, then counts and the redacted tail are oracle-checked."""
    from fink_broker_spark.ext.pipeline import pii_counts, pii_scrub_expr

    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ref "),
            (F.col("doc_id") + F.lit(100000000)).cast("string"),
        ).alias("text"),
    )
    counts = pii_counts("text")
    return injected.select(
        "doc_id",
        counts["n_emails"].cast("bigint").alias("n_emails"),
        counts["n_digit_runs"].cast("bigint").alias("n_digit_runs"),
        F.length(pii_scrub_expr("text")).cast("bigint").alias("len_scrubbed"),
        F.right(pii_scrub_expr("text"), F.lit(24)).alias("tail"),
    )


ORACLE_REPETITION_RULES = r"""
WITH uniq AS (
  -- one row per document (duprows re-ingest parity)
  SELECT DISTINCT doc_id, lang, text
  FROM documents WHERE length(trim(lower(text))) > 0
), toks AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM uniq
), per AS (
  SELECT doc_id, lang, tok, count(*) AS c FROM toks GROUP BY 1, 2, 3
), met AS (
  SELECT doc_id, lang, SUM(c) AS n_tokens, COUNT(*) AS distinct_tokens,
         MAX(c) AS top_cnt
  FROM per GROUP BY 1, 2
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN CAST(top_cnt AS DOUBLE) / n_tokens < 0.12
                      AND CAST(distinct_tokens AS DOUBLE) / n_tokens > 0.35
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       max(CAST(top_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS max_top_frac,
       min(CAST(distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS min_distinct_ratio
FROM met GROUP BY lang
"""


@query("repetition_rules", oracle=ORACLE_REPETITION_RULES)
def q_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filtering: most-common-token fraction and
    distinct-token ratio per document (explode → two-level aggregate,
    shuffle ∝ tokens with map-side partials), rolled up per language
    with the keep rule applied."""
    from fink_broker_spark.ext.pipeline import repetition_metrics
    from fink_broker_spark.functions.text import tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    # tuple-distinct on (doc_id, lang, text) — the SAME tuple the
    # oracle's DISTINCT keeps — so a re-ingested duplicate row
    # (duprows driftlab) is one document on both engines, and a
    # re-ingest that drifts text or lang yields the
    # same per-(doc, lang) token pools here and in DuckDB; metrics key
    # on the full (doc_id, lang) tuple for the same reason.
    staged = (
        docs.dropDuplicates(["doc_id", "lang", "text"])
        .select("doc_id", "lang", tokens_expr("text").alias("toks"))
        .filter(F.size("toks") > 0)
    )
    joined = repetition_metrics(staged, ["doc_id", "lang"], "toks")
    top_frac = F.col("top_token_count") / F.col("n_tokens")
    distinct_ratio = F.col("distinct_tokens") / F.col("n_tokens")
    keep = (top_frac < 0.12) & (distinct_ratio > 0.35)
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(keep).alias("n_kept"),
        F.max(top_frac).alias("max_top_frac"),
        F.min(distinct_ratio).alias("min_distinct_ratio"),
    )


ORACLE_CORPUS_MIXTURE = r"""
WITH t AS (
  SELECT lang, source,
         CASE WHEN length(trim(lower(text))) = 0 THEN 0
              ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS n_tokens
  FROM documents
), cell AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS tokens
  FROM t GROUP BY 1, 2
)
SELECT lang, source, n_docs, tokens,
       CAST(tokens AS DOUBLE) / CAST(SUM(tokens) OVER () AS DOUBLE) AS token_share
FROM cell
"""


@query("corpus_mixture", oracle=ORACLE_CORPUS_MIXTURE)
def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture accounting: per (lang, source) document/token totals and
    each cell's share of the corpus token budget — the report that
    drives training mixture weights. Token counting stays in codegen;
    the share is one window over the tiny aggregate (never the raw
    corpus)."""
    from fink_broker_spark.functions.text import token_count_expr

    docs = load_table(spark, sf_dir, "documents")
    per_cell = (
        docs.select(
            "lang", "source", token_count_expr("text").alias("n_tokens")
        )
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens"),
        )
    )
    total = Window.partitionBy()
    return per_cell.select(
        "lang",
        "source",
        "n_docs",
        "tokens",
        (F.col("tokens") / F.sum("tokens").over(total)).alias("token_share"),
    )


ORACLE_DECONTAMINATE = r"""
WITH bench AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0
), corpus AS (
  SELECT doc_id, lang, text FROM documents WHERE doc_id % 50 <> 0
), btok AS (
  SELECT string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM bench WHERE length(trim(text)) > 0
), bsh AS (
  SELECT DISTINCT array_to_string(toks[i:i+2], ' ') AS shingle
  FROM btok, range(1, 100000) t(i) WHERE i <= len(toks) - 2
), ctok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM corpus WHERE length(trim(text)) > 0
), csh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM ctok, range(1, 100000) t(i) WHERE i <= len(toks) - 2
), contaminated AS (
  SELECT DISTINCT c.doc_id FROM csh c JOIN bsh USING (shingle)
)
SELECT corpus.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN k.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       CAST(SUM(CASE WHEN k.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_contaminated
FROM corpus LEFT JOIN contaminated k ON corpus.doc_id = k.doc_id
GROUP BY corpus.lang
"""


@query("decontaminate", oracle=ORACLE_DECONTAMINATE)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: docs sharing any word 3-gram with the
    "benchmark" split (every 50th doc) are dropped via a broadcast
    semi-join on exploded distinct shingles + one anti-join — the
    corpus is never shuffled on content. Rolled up per language."""
    from fink_broker_spark.ext.pipeline import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    clean = decontaminate(corpus, benchmark, n=3)
    total = corpus.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    kept = clean.groupBy("lang").agg(F.count(F.lit(1)).alias("n_clean"))
    return (
        total.join(kept, "lang", "left")
        .select(
            "lang",
            "n_docs",
            F.coalesce("n_clean", F.lit(0)).alias("n_clean"),
            (F.col("n_docs") - F.coalesce("n_clean", F.lit(0))).alias(
                "n_contaminated"
            ),
        )
    )


ORACLE_TFIDF_TOPTERMS = """
WITH words AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
  FROM documents
), w2 AS (
  SELECT doc_id, word FROM words WHERE length(word) >= 4
), tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM w2 GROUP BY 1, 2
), dfreq AS (
  SELECT word, COUNT(*) AS df_docs FROM tf GROUP BY 1
)
SELECT doc_id, word, tf, df_docs, rank FROM (
  SELECT tf.doc_id, tf.word, tf.tf, dfreq.df_docs,
         row_number() OVER (PARTITION BY tf.doc_id
             ORDER BY tf.tf DESC, dfreq.df_docs ASC, tf.word ASC) AS rank
  FROM tf JOIN dfreq USING (word)
) WHERE rank <= 3 AND doc_id < 200
"""


@query("tfidf_topterms", oracle=ORACLE_TFIDF_TOPTERMS)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-shaped term salience over the documents corpus: tokenize →
    per-(doc, term) frequency → document frequency → top-3 terms per doc.

    The plan is the 100 TB shape: the token explode never materializes
    past its map stage (map-side combine folds it into the (doc, word)
    aggregate), document frequency is an unbounded COUNT window over
    that aggregate partitioned by word — NOT a groupBy + self-join,
    which would scan and aggregate the token table twice (measured: the
    join formulation planned 5 exchanges with a duplicated aggregate
    subtree; this one plans 3 with a single scan) — and the ranking
    window partitions by doc. Ranking uses the exact lexicographic key
    (tf DESC, df ASC, word) rather than ``tf·ln(N/df)`` because JVM
    ``StrictMath.log`` and C ``libm`` may differ in the last ulp — same
    ordering intent, hash-exact across engines."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word"),
    ).filter(F.length("word") >= 4)
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.withColumn(
        "df_docs", F.count(F.lit(1)).over(Window.partitionBy("word"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df_docs").asc(), F.col("word").asc()
    )
    return (
        tf.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= 3) & (F.col("doc_id") < 200))
        .select("doc_id", "word", "tf", "df_docs", "rank")
    )


ORACLE_DOC_CHUNKS = """
SELECT doc_id,
       CAST((s - 1) // 150 AS INT) AS chunk_idx,
       length(substr(text, s, 200)) AS chunk_chars,
       md5(substr(text, s, 200)) AS chunk_md5
FROM documents,
     UNNEST(generate_series(1, greatest(length(text), 1), 150)) AS t(s)
"""


@query("doc_chunks", oracle=ORACLE_DOC_CHUNKS)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (200 chars, 50 overlap) — the
    standard context-window prep for training/retrieval corpora. The
    window starts come from ``sequence`` + ``explode`` (pure codegen;
    output rows ∝ total corpus chars / stride, shuffle-free until the
    optional downstream dedup), each chunk carries a portable md5
    fingerprint so cross-engine identity is checkable without shipping
    the text twice. At 100 TB chunking is a map-only stage — the plan
    here is exactly that: scan → generate → project, no exchange."""
    docs = load_table(spark, sf_dir, "documents")
    stride, size = 150, 200
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length("text"), F.lit(1)),
                    F.lit(stride),
                )
            ).alias("start"),
        )
        .withColumn("chunk", F.expr(f"substr(text, start, {size})"))
        .select(
            "doc_id",
            ((F.col("start") - 1) / stride).cast("int").alias("chunk_idx"),
            F.length("chunk").alias("chunk_chars"),
            F.md5("chunk").alias("chunk_md5"),
        )
    )


@query("doc_chunks_udtf", oracle=ORACLE_DOC_CHUNKS)
def q_doc_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same chunking computed by a Spark 4 Python UDTF in a LATERAL
    join — the §2.12 table-function surface (one input row → N output
    rows with imperative logic), sharing ``doc_chunks``'s oracle so the
    twins cannot drift. Python's hashlib md5 over UTF-8 bytes equals
    both engines' ``md5``; slicing is by code points, matching
    ``substr`` character semantics. The declarative sequence+explode
    form remains the recommended plan (codegen, no Python workers);
    this pins the escape hatch's correctness for logic that genuinely
    needs imperative row expansion."""
    import hashlib

    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, chunk_chars int, chunk_md5 string")
    class ChunkUDTF:
        def eval(self, text: str):
            if text is None:
                # mirror the declarative twin: substr/md5 of NULL text
                # propagate NULL, one placeholder row (nullmeasure lake)
                yield (0, None, None)
                return
            for start in range(0, max(len(text), 1), 150):
                chunk = text[start : start + 200]
                yield (
                    start // 150,
                    len(chunk),
                    hashlib.md5(chunk.encode("utf-8")).hexdigest(),
                )

    spark.udtf.register("chunk_udtf", ChunkUDTF)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__docs_for_udtf")
    return spark.sql(
        "SELECT d.doc_id, c.chunk_idx, c.chunk_chars, c.chunk_md5 "
        "FROM __docs_for_udtf d, LATERAL chunk_udtf(d.text) c"
    )


ORACLE_BIGRAM_COUNTS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z]+'),
                     x -> length(x) >= 2) AS t
  FROM documents
), bg AS (
  SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
                               i -> t[i] || ' ' || t[i+1])) AS bigram
  FROM toks
)
SELECT bigram, COUNT(*) AS n FROM bg GROUP BY 1 HAVING n >= 5
"""


@query("bigram_counts", oracle=ORACLE_BIGRAM_COUNTS)
def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language-model counts: tokenize once, build bigrams
    IN-ARRAY with higher-order functions (``slice`` + indexed
    ``transform`` — no posexplode self-join, so the only shuffle is the
    final count aggregate, map-side combinable), explode, count, keep
    n ≥ 5. The HOF formulation keeps token arrays inside one codegen
    stage; the self-join alternative would shuffle the exploded token
    table twice. Threshold filter instead of global top-k so the result
    set is total-order-free (hash-exact without tie-breaking)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower("text"), "[^a-z]+"),
        lambda x: F.length(x) >= 2,
    )
    d = docs.select(F.col("doc_id"), toks.alias("t"))
    bigrams = F.transform(
        F.slice(
            F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))
        ),
        lambda x, i: F.concat_ws(" ", x, F.element_at("t", i + 2)),
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
    )


ORACLE_CORPUS_TEMPERATURE = """
WITH counts AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1
),
w AS (
  SELECT source, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS weight
  FROM counts
),
d AS (
  SELECT list_reduce(list(weight ORDER BY source), (x, y) -> x + y)
           AS denom,
         SUM(n_docs) AS total
  FROM w
)
SELECT source, n_docs, weight,
       weight / denom AS share,
       CAST(FLOOR((weight / denom) * CAST(total AS DOUBLE)) AS BIGINT)
         AS quota
FROM w CROSS JOIN d
"""


@query("corpus_temperature", oracle=ORACLE_CORPUS_TEMPERATURE)
def q_corpus_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted corpus mixing (``ext/pipeline.py``): per-source
    sampling shares ``√count / Σ√count`` (alpha = 0.5) and the per-epoch
    document quota they imply. One aggregate over the corpus; all float
    arithmetic happens on the ≤ #sources mixture table, with the
    denominator folded left-to-right over the source-sorted weight list
    so the IEEE tree matches the oracle's ``list_reduce`` exactly."""
    from fink_broker_spark.ext.pipeline import temperature_shares

    docs = load_table(spark, sf_dir, "documents")
    return temperature_shares(docs, "source", alpha=0.5)


ORACLE_EPOCH_SHUFFLE_ORDER = """
WITH h AS (
  SELECT doc_id,
         ((doc_id % 1000003) * 2654435761 + 1 * 97003) % 2147483647
           AS order_key
  FROM documents
),
s AS (SELECT doc_id, order_key, order_key % 8 AS shard FROM h)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard
                               ORDER BY order_key, doc_id) AS INT)
         AS position
FROM s
"""


@query("epoch_shuffle_order", oracle=ORACLE_EPOCH_SHUFFLE_ORDER)
def q_epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (``ext/pipeline.py``): reproducible
    training order as (shard, position) — a Knuth multiplicative mix of
    (doc id, epoch) assigns the shard and the within-shard sort key, and
    ``row_number`` runs per shard so no global ORDER BY serializes the
    corpus through one task. Epoch 1, 8 shards."""
    from fink_broker_spark.ext.pipeline import epoch_shuffle

    docs = load_table(spark, sf_dir, "documents")
    return epoch_shuffle(docs, "doc_id", epoch=1, n_shards=8)


ORACLE_UNIGRAM_LM_SCORES = r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
  WHERE length(trim(lower(text))) > 0
),
counts AS (
  SELECT token, count(*) AS tok_count FROM tok GROUP BY token
),
total AS (SELECT count(*) AS n FROM tok),
scored AS (
  SELECT t.doc_id,
         CAST(SUM(CAST(round(ln(CAST(c.tok_count AS DOUBLE) / total.n), 9)
                       AS DECIMAL(18,9))) AS DECIMAL(28,9)) AS sum_logp,
         count(*) AS n_tokens
  FROM tok t JOIN counts c USING (token), total
  GROUP BY t.doc_id
)
SELECT doc_id, n_tokens,
       CAST(CAST(round(sum_logp, 5) AS DECIMAL(28,5)) AS DOUBLE)
           / n_tokens AS mean_logp
FROM scored
ORDER BY mean_logp, doc_id
LIMIT 50
"""


@query("unigram_lm_scores", oracle=ORACLE_UNIGRAM_LM_SCORES)
def q_unigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram language-model quality scoring: fit the
    corpus unigram distribution (one token shuffle with map-side
    partial counts), score each document by its mean token
    log-probability, and return the 50 most atypical documents — the
    ones a perplexity filter would drop first.

    Shape at 100 TB: the model fit and the scoring share one LOGICAL
    tokenize + explode relation (physically recomputed per branch while
    uncached — materialize the token table once when the corpus is the
    cost); the vocabulary aggregate is bounded by distinct-token count,
    and the final top-50 is a TakeOrdered, never a global sort. FP discipline: each token's
    log-prob rounds to ``decimal(18,9)`` BEFORE the per-doc sum, so the
    aggregation is exact and order-independent on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    from fink_broker_spark.functions.text import tokens_expr

    tok = docs.select(
        "doc_id", F.explode(tokens_expr("text")).alias("token")
    )
    counts = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("tok_count")
    )
    # corpus total as a 1-row broadcast, same DAG — no driver action
    total = counts.groupBy().agg(F.sum("tok_count").alias("n_total"))
    scored = (
        tok.join(counts, "token")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(
                F.log(
                    F.col("tok_count").cast("double")
                    / F.col("n_total").cast("double")
                ),
                9,
            )
            .cast("decimal(18,9)")
            .alias("logp"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("logp").cast("decimal(28,9)").alias("sum_logp"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            # DOUBLE division of exact inputs, not decimal/bigint:
            # DuckDB divides decimals in double while Spark divides
            # exactly with HALF_UP, so a quotient on a .5 at the target
            # scale would split the engines; double division of the
            # same exact operands is correctly rounded on both.
            # The scale-9 sum is first quantized to scale 5: a 1-ulp
            # JVM-vs-libm ln() divergence can move one scale-9 summand
            # by 1e-9, and the coarse quantization absorbs it (same
            # defense as ext/retrieval.py)
            (
                F.round("sum_logp", 5).cast("decimal(28,5)").cast("double")
                / F.col("n_tokens")
            ).alias("mean_logp"),
        )
    )
    return scored.orderBy("mean_logp", "doc_id").limit(50)


_BM25_TERMS = ["hash", "join", "scan", "vector"]


@query("bm25_topk", oracle=bm25_topk_oracle_sql(_BM25_TERMS, k=20))
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 lexical retrieval over the documents table
    (``ext/retrieval.py:bm25_topk``) — the sparse-retrieval workhorse a
    RAG corpus builder runs at scale. One tokenize+explode pass feeds
    doc lengths and term frequencies; corpus stats are a 1-row
    broadcast; the query-term filter prunes the tf shuffle BEFORE it
    moves; final top-k is TakeOrderedAndProject. Per-term scores round
    to decimal(18,9) pre-sum (exact, order-independent)."""
    from fink_broker_spark.ext.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_TERMS, k=20)


@query(
    "dsir_importance",
    oracle=dsir_importance_oracle_sql("lang = 'en'", k=50),
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling weights (Xie et al. 2023,
    ``ext/retrieval.py:dsir_importance``): score every non-English
    document by how English-corpus-like its unigram distribution is
    (add-α smoothed log-ratio of target vs raw token probabilities),
    return the 50 most target-like — the documents importance
    resampling would pull into the training mix first. Single
    tokenize pass; target and raw counts ride one shuffle via
    ``count_if``; totals broadcast; decimal-exact log-ratio sums."""
    from fink_broker_spark.ext.retrieval import dsir_importance

    docs = load_table(spark, sf_dir, "documents")
    return dsir_importance(docs, F.col("lang") == "en", k=50)


ORACLE_QUALITY_LOGISTIC = r"""
WITH t AS (
  SELECT source,
         CASE WHEN length(trim(lower(text))) = 0 THEN 0
              ELSE len(string_split_regex(trim(lower(text)), '\s+'))
         END AS n_tokens,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
                        AS DOUBLE) / CAST(length(text) AS DOUBLE)
         END AS punct_ratio,
         len(regexp_extract_all(lower(text),
             '\b(the|a|an|and|or|of|to|in|is|it|on|for)\b')) AS stop_hits
  FROM documents
),
z AS (
  SELECT source,
         -1.0 + 2.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
         - 4.0 * punct_ratio
         + 3.0 * least(1.0, (CASE WHEN n_tokens = 0 THEN 0.0
               ELSE CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             END) * 5.0) AS zval
  FROM t
),
s AS (
  SELECT source,
         CAST(round(1.0 / (1.0 + exp(-zval)), 6) AS DECIMAL(9,6))
             AS score_dec
  FROM z
)
SELECT source,
       least(9, CAST(floor(score_dec * 10) AS INT)) AS decile,
       count(*) AS n_docs,
       min(CAST(score_dec AS DOUBLE)) AS min_score,
       max(CAST(score_dec AS DOUBLE)) AS max_score
FROM s
GROUP BY source, least(9, CAST(floor(score_dec * 10) AS INT))
"""


@query("quality_logistic", oracle=ORACLE_QUALITY_LOGISTIC)
def q_quality_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic quality-classifier scoring (the fasttext-classifier
    shape of C4/CCNet pipelines, with a fixed literal weight vector —
    model serving, not model fitting): engineered per-row features
    (capped length, punctuation ratio, boosted stopword ratio) →
    sigmoid → per-(source, decile) histogram. Pure Column math in one
    codegen stage, integer-exact histogram counts; the per-row doubles
    never cross an aggregation unrounded."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = token_count_expr("text").cast("double")
    z = (
        F.lit(-1.0)
        + F.lit(2.5) * F.least(F.lit(1.0), n_tok / F.lit(100.0))
        - F.lit(4.0) * punct_ratio_expr("text")
        + F.lit(3.0)
        * F.least(F.lit(1.0), stopword_ratio_expr("text") * F.lit(5.0))
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    # decile from the ROUNDED score as exact DECIMAL math: binning the
    # raw exp()-derived double would split engines when score*10 sits
    # within an ulp of an integer boundary (Java Math.exp vs C libm
    # exp differ in the last ulp) — the same boundary hazard phase_fold
    # avoids with integral DIV
    score_dec = F.round(score, 6).cast("decimal(9,6)")
    scored = docs.select(
        "source",
        F.least(F.lit(9), F.floor(score_dec * 10).cast("int")).alias(
            "decile"
        ),
        score_dec.cast("double").alias("score_r"),
    )
    return scored.groupBy("source", "decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("score_r").alias("min_score"),
        F.max("score_r").alias("max_score"),
    )


ORACLE_DOMAIN_QUOTA_SAMPLE = r"""
WITH scored AS (
  SELECT doc_id, source,
         CASE WHEN length(trim(lower(text))) = 0 THEN 0
              ELSE len(string_split_regex(trim(lower(text)), '\s+'))
         END AS n_tokens
  FROM documents
),
ranked AS (
  SELECT source, doc_id, CAST(n_tokens AS INT) AS n_tokens,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_tokens DESC, doc_id)
             AS rank_in_source
  FROM scored
)
SELECT source, rank_in_source, doc_id, n_tokens
FROM ranked WHERE rank_in_source <= 10
"""


@query("domain_quota_sample", oracle=ORACLE_DOMAIN_QUOTA_SAMPLE)
def q_domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling: cap every source at its 10 best
    documents by a deterministic (quality desc, doc_id) rule — the
    data-governance cap a corpus mixer applies so no single domain
    floods the training mix. One row_number window per source
    partition; the quota filter prunes before anything else moves.
    At 100 TB the window state is one counter per (bounded) source."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        token_count_expr("text").alias("n_tokens"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank_in_source", F.row_number().over(w))
        .filter(F.col("rank_in_source") <= 10)
        .select("source", "rank_in_source", "doc_id", "n_tokens")
    )


ORACLE_WEIGHTED_SAMPLE = r"""
WITH staged AS (
  SELECT doc_id, source,
         least(CAST(floor((CASE WHEN length(trim(lower(text))) = 0 THEN 0
               ELSE len(string_split_regex(trim(lower(text)), '\s+')) END)
              / 64) + 1 AS INT), 8) AS w
  FROM documents
),
keyed AS (
  SELECT doc_id, source, w,
         list_max(list_transform(
           range(1, least(greatest(w, 1), 8) + 1),
           j -> CAST('0x' || substr(
                  md5(CAST(doc_id AS VARCHAR) || '#' ||
                      CAST(j AS VARCHAR) || '#ws'), 1, 8) AS BIGINT)
         )) AS priority
  FROM staged
)
SELECT doc_id, source, w, priority FROM keyed
ORDER BY priority DESC, doc_id
LIMIT 50
"""


@query("weighted_sample", oracle=ORACLE_WEIGHTED_SAMPLE)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (``ext/pipeline.py:weighted_sample_key_expr``): 50 documents drawn
    with inclusion odds ∝ an integer quality weight (token-count
    bands), via the Efraimidis–Spirakis sampler re-expressed as
    max-of-w-uniforms so the priority key is EXACT integer md5
    arithmetic — no transcendental whose last ulp could split the
    engines, hence a full value-hash oracle for a *weighted random
    sample*. Plan: per-row O(w) codegen key + one TakeOrdered."""
    from fink_broker_spark.ext.pipeline import weighted_sample_key_expr

    docs = load_table(spark, sf_dir, "documents")
    # floor, not a bare int cast: Spark's double→int cast truncates but
    # DuckDB's rounds; /64 itself is exact (power of two) so floor
    # agrees. The cap is applied HERE so the emitted w is the weight
    # the sampler actually honors (an uncapped display weight would
    # claim odds the capped key does not deliver).
    staged = docs.select(
        "doc_id",
        "source",
        F.least(
            (F.floor(token_count_expr("text") / 64) + 1).cast("int"),
            F.lit(8),
        ).alias("w"),
    )
    keyed = staged.withColumn(
        "priority", weighted_sample_key_expr("doc_id", "w", max_weight=8)
    )
    return (
        keyed.orderBy(F.col("priority").desc(), F.col("doc_id"))
        .limit(50)
        .select("doc_id", "source", "w", "priority")
    )


ORACLE_COLLOCATION_LIFT = """
WITH toksarr AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
                     x -> length(x) >= 2) AS t
  FROM documents
), uni AS (
  SELECT unnest(t) AS w FROM toksarr
), uc AS (
  SELECT w, COUNT(*) AS n_w FROM uni GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS n_tokens FROM uni
), bgf AS (
  SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
                               i -> struct_pack(x := t[i], y := t[i+1]))) AS b
  FROM toksarr
), bpair AS (
  SELECT b.x AS x, b.y AS y FROM bgf
), btot AS (
  SELECT COUNT(*) AS n_bigrams FROM bpair
), bc AS (
  SELECT x, y, COUNT(*) AS n_xy FROM bpair GROUP BY 1, 2
  HAVING COUNT(*) >= 5
)
SELECT bc.x || ' ' || bc.y AS bigram, bc.n_xy,
       (CAST(bc.n_xy AS DOUBLE) * CAST(tot.n_tokens AS DOUBLE)
        * CAST(tot.n_tokens AS DOUBLE))
         / (CAST(btot.n_bigrams AS DOUBLE) * CAST(ux.n_w AS DOUBLE)
            * CAST(uy.n_w AS DOUBLE)) AS lift
FROM bc
JOIN uc ux ON ux.w = bc.x
JOIN uc uy ON uy.w = bc.y
CROSS JOIN tot CROSS JOIN btot
ORDER BY lift DESC, bigram LIMIT 20
"""


@query("collocation_lift", oracle=ORACLE_COLLOCATION_LIFT)
def q_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 bigrams by pointwise lift
    p(xy) / (p(x)·p(y)) — the PMI ranking WITHOUT the log (lift is
    monotone in PMI, so ranking is identical and no transcendental ever
    touches the hash; emitting ln() would split the engines at the last
    ulp). The lift is a fixed tree of double products over the five
    exact sub-2⁵³ count operands — every factor casts to double FIRST,
    so no intermediate ever overflows BIGINT (the former
    n_xy·N² integer product aborts both engines around N≈3e7 corpus
    tokens) and both engines evaluate the identical IEEE sequence.

    Scale shape: tokenize once per branch with in-array HOFs (the only
    shuffles are the two count aggregates), unigram side broadcast into
    the bigram side twice (vocab ≪ corpus), 1-row totals broadcast,
    TakeOrdered top-k — no global sort materialization."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower("text"), "[^a-z]+"),
        lambda x: F.length(x) >= 2,
    )
    d = docs.select(toks.alias("t"))
    uni = d.select(F.explode("t").alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    tot = uni.agg(F.count(F.lit(1)).alias("n_tokens"))
    bigrams = d.select(
        F.explode(
            F.transform(
                F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
                lambda x, i: F.struct(
                    x.alias("x"), F.element_at("t", i + 2).alias("y")
                ),
            )
        ).alias("b")
    ).select("b.x", "b.y")
    btot = bigrams.agg(F.count(F.lit(1)).alias("n_bigrams"))
    bc = (
        bigrams.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n_xy"))
        .filter(F.col("n_xy") >= 5)
    )
    joined = (
        bc.join(F.broadcast(uc.withColumnRenamed("w", "x")
                .withColumnRenamed("n_w", "n_x")), "x")
        .join(F.broadcast(uc.withColumnRenamed("w", "y")
                .withColumnRenamed("n_w", "n_y")), "y")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
    )
    lift = (
        F.col("n_xy").cast("double")
        * F.col("n_tokens").cast("double")
        * F.col("n_tokens").cast("double")
    ) / (
        F.col("n_bigrams").cast("double")
        * F.col("n_x").cast("double")
        * F.col("n_y").cast("double")
    )
    return (
        joined.select(
            F.concat_ws(" ", "x", "y").alias("bigram"),
            "n_xy",
            lift.alias("lift"),
        )
        .orderBy(F.desc("lift"), "bigram")
        .limit(20)
    )


ORACLE_SPARSE_COSINE_PAIRS = """
WITH tc AS (
  SELECT doc_id, w, COUNT(*) AS c FROM (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                              x -> length(x) >= 3)) AS w
    FROM documents
  ) GROUP BY 1, 2
), nd AS (
  SELECT COUNT(*) AS n_docs FROM documents
), rare AS (
  SELECT w FROM (SELECT w, COUNT(*) AS df FROM tc GROUP BY 1)
  CROSS JOIN nd WHERE df * 20 <= n_docs
), tcr AS (
  SELECT tc.doc_id, tc.w, tc.c FROM tc JOIN rare USING (w)
), norms AS (
  SELECT doc_id, SUM(c * c) AS n2 FROM tc GROUP BY 1
), dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.c * b.c) AS dot
  FROM tcr a JOIN tcr b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(dot AS BIGINT) AS dot,
       CAST(dot AS DOUBLE)
         / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
         AS cosine
FROM dots
JOIN norms na ON na.doc_id = id_a
JOIN norms nb ON nb.doc_id = id_b
ORDER BY cosine DESC, id_a, id_b LIMIT 20
"""


@query("sparse_cosine_pairs", oracle=ORACLE_SPARSE_COSINE_PAIRS)
def q_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse term-count cosine similarity between documents via an
    inverted-index join — the bag-of-words twin of the dense-embedding
    near-dup family: pairs meet ONLY through shared terms (posting-list
    equi-join), never an all-pairs product; high-DF terms are cut
    RELATIVE to corpus size (df ≤ 5% of docs — an absolute cut would
    silently empty the candidate set as the corpus grows) to bound
    posting-list fan-out, the standard inverted-index guard. Dot products and norms are EXACT integer sums; the
    cosine is the fixed tree dot/(sqrt(na)·sqrt(nb)) over those exact
    operands — no transcendental. Top-20 pairs, (id_a, id_b) tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower("text"), "[^a-z]+"),
        lambda x: F.length(x) >= 3,
    )
    tc = (
        docs.select(F.col("doc_id"), F.explode(toks).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    rare = (
        tc.groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(nd))
        .filter(F.col("df") * 20 <= F.col("n_docs"))
    )
    tcr = tc.join(F.broadcast(rare.select("w")), "w")
    norms = tc.groupBy("doc_id").agg(
        F.sum(F.col("c") * F.col("c")).alias("n2")
    )
    dots = (
        tcr.alias("a")
        .join(tcr.alias("b"), "w")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            (F.col("a.c") * F.col("b.c")).alias("p"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.sum("p").alias("dot"))
    )
    cos = (
        dots.join(
            F.broadcast(norms.select(F.col("doc_id").alias("id_a"),
                                     F.col("n2").alias("na"))), "id_a"
        )
        .join(
            F.broadcast(norms.select(F.col("doc_id").alias("id_b"),
                                     F.col("n2").alias("nb"))), "id_b"
        )
        .select(
            "id_a",
            "id_b",
            "dot",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                )
            ).alias("cosine"),
        )
    )
    return cos.orderBy(F.desc("cosine"), "id_a", "id_b").limit(20)


ORACLE_SOURCE_QUALITY_MATRIX = """
WITH cell AS (
  SELECT source, lang, count(*) AS n_docs, SUM(n_chars) AS sum_chars
  FROM documents GROUP BY source, lang
), per_source AS (
  SELECT source, SUM(n_docs) AS source_docs FROM cell GROUP BY source
)
SELECT c.source, c.lang, c.n_docs,
       CAST(c.sum_chars AS DOUBLE) / CAST(c.n_docs AS DOUBLE)
         AS mean_chars,
       CAST(c.n_docs AS DOUBLE) / CAST(p.source_docs AS DOUBLE)
         AS share_of_source
FROM cell c JOIN per_source p ON c.source = p.source
"""


@query("source_quality_matrix", oracle=ORACLE_SOURCE_QUALITY_MATRIX)
def q_source_quality_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus composition matrix over documents: per (source, lang)
    cell — doc count, exact mean length (double division of integer
    sums), and the cell's share within its source (a source-partitioned
    total attached by broadcast join, never a window over the corpus).
    The training-data-mixture view a 100 TB curation run starts from.
    One fact aggregate; everything downstream is |sources×langs|-sized."""
    d = load_table(spark, sf_dir, "documents")
    cell = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )
    per_source = cell.groupBy("source").agg(
        F.sum("n_docs").alias("source_docs")
    )
    return cell.join(F.broadcast(per_source), "source").select(
        "source",
        "lang",
        "n_docs",
        (
            F.col("sum_chars").cast("double")
            / F.col("n_docs").cast("double")
        ).alias("mean_chars"),
        (
            F.col("n_docs").cast("double")
            / F.col("source_docs").cast("double")
        ).alias("share_of_source"),
    )


ORACLE_LEXICAL_DIVERSITY = r"""
WITH t AS (
  SELECT source,
         CAST(CAST(length(list_distinct(
                  string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE)
              / CAST(length(
                  string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE)
              AS DECIMAL(18,9)) AS ttr
  FROM documents
  WHERE length(trim(lower(text))) > 0
)
SELECT source, count(*) AS n_docs,
       CAST(SUM(ttr) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_ttr
FROM t GROUP BY source
"""


@query("lexical_diversity", oracle=ORACLE_LEXICAL_DIVERSITY)
def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio (lexical diversity) per source: per-document
    TTR = |distinct tokens| / |tokens| — both pure per-row integer
    reductions over the shared tokenizer (``functions/text.py``), no
    token shuffle at all — then the source-level mean with the float
    discipline (each TTR is a double division of exact ints, rounded
    to decimal(18,9) before the exact sum). Map-only until a
    |sources|-row aggregate."""
    d = load_table(spark, sf_dir, "documents")
    from fink_broker_spark.functions.text import tokens_expr

    toks = tokens_expr("text")
    t = d.filter(
        F.length(F.trim(F.lower(F.col("text")))) > 0
    ).select(
        "source",
        (
            F.size(F.array_distinct(toks)).cast("double")
            / F.size(toks).cast("double")
        )
        .cast("decimal(18,9)")
        .alias("ttr"),
    )
    return t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("ttr").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_ttr"),
    )


ORACLE_SOURCE_SIMILARITY = r"""
WITH tok AS (
  SELECT source,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents
  WHERE length(trim(lower(text))) > 0
), pruned AS (
  SELECT source, w, count(*) AS n FROM tok GROUP BY 1, 2
), norms AS (
  SELECT source, SUM(n * n) AS norm2 FROM pruned GROUP BY source
), dots AS (
  SELECT a.source AS sa, b.source AS sb, SUM(a.n * b.n) AS dot
  FROM pruned a JOIN pruned b ON a.w = b.w AND a.source < b.source
  GROUP BY 1, 2
)
SELECT d.sa, d.sb,
       CAST(d.dot AS DOUBLE)
         / sqrt(CAST(na.norm2 AS DOUBLE) * CAST(nb.norm2 AS DOUBLE))
         AS cosine
FROM dots d
JOIN norms na ON d.sa = na.source
JOIN norms nb ON d.sb = nb.source
ORDER BY cosine DESC, sa, sb LIMIT 20
"""


@query("source_similarity", oracle=ORACLE_SOURCE_SIMILARITY)
def q_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise lexical similarity between document sources: cosine
    over each source's token-count vector via the inverted-index join
    (posting lists keyed by token — the sparse_cosine_pairs algebra on
    the source axis, |sources|² pairs max). Dots and norms are exact
    integers through DECIMAL(38,0)/HUGEINT; the posting-list fan-out
    is |sources| per token (sources are a bounded dimension — the
    df-cut lever for unbounded axes lives in sparse_cosine_pairs).
    Fixed sqrt tree, (pair) tiebreak top-20."""
    docs = load_table(spark, sf_dir, "documents")
    pruned = (
        docs.select("source", F.explode(tokens_expr("text")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    norms = pruned.groupBy("source").agg(
        F.sum(
            F.col("n").cast("decimal(38,0)")
            * F.col("n").cast("decimal(38,0)")
        ).alias("norm2")
    )
    a = pruned.select(
        "w", F.col("source").alias("sa"), F.col("n").alias("na")
    )
    b = pruned.select(
        "w", F.col("source").alias("sb"), F.col("n").alias("nb")
    )
    dots = (
        a.join(b, "w")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(
            F.sum(
                F.col("na").cast("decimal(38,0)")
                * F.col("nb").cast("decimal(38,0)")
            ).alias("dot")
        )
    )
    joined = (
        dots.join(
            norms.select(
                F.col("source").alias("sa"), F.col("norm2").alias("n2a")
            ),
            "sa",
        )
        .join(
            norms.select(
                F.col("source").alias("sb"), F.col("norm2").alias("n2b")
            ),
            "sb",
        )
    )
    cos = F.col("dot").cast("double") / F.sqrt(
        F.col("n2a").cast("double") * F.col("n2b").cast("double")
    )
    return (
        joined.select("sa", "sb", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), "sa", "sb")
        .limit(20)
    )


ORACLE_VOCAB_ENTROPY = r"""
WITH tok AS (
  SELECT source,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents WHERE length(trim(lower(text))) > 0
),
counts AS (
  SELECT source, token, count(*) AS c FROM tok GROUP BY source, token
),
totals AS (
  SELECT source, SUM(c) AS n_tokens, count(*) AS vocab
  FROM counts GROUP BY source
),
ent AS (
  SELECT c.source,
         CAST(-SUM(CAST(round(
               (CAST(c.c AS DOUBLE) / t.n_tokens)
                 * ln(CAST(c.c AS DOUBLE) / t.n_tokens), 9)
             AS DECIMAL(18,9))) AS DECIMAL(28,9)) AS ent_exact
  FROM counts c JOIN totals t USING (source)
  GROUP BY c.source
)
SELECT t.source, t.n_tokens, t.vocab,
       CAST(CAST(round(e.ent_exact, 5) AS DECIMAL(28,5)) AS DOUBLE)
         AS entropy
FROM totals t JOIN ent e USING (source)
ORDER BY t.source
"""


@query("vocab_entropy", oracle=ORACLE_VOCAB_ENTROPY, bigint=("n_tokens",))
def q_vocab_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon entropy of the token distribution — the
    vocabulary-diversity measure a corpus curator tracks next to
    type-token ratio (lexical_diversity): H = −Σ p·ln p over per-source
    token frequencies. One tokenize+explode pass, a vocab-bounded
    (source, token) aggregate, a |sources|-row totals equi-join, and
    the repo's transcendental-sum discipline: each p·ln p term rounds
    to decimal(18,9) BEFORE the exact sum (p is a double division of
    exact integers — identical IEEE on both engines; ln may differ by
    1 ulp), and the exact sum quantizes terminally to scale 5 so a
    straddled 0.5e-9 boundary cannot move the output."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokens_expr("text")).alias("token")
    )
    counts = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = counts.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
    )
    p = F.col("c").cast("double") / F.col("n_tokens")
    term = F.round(p * F.log(p), 9).cast("decimal(18,9)")
    return (
        counts.join(totals, "source")
        .groupBy("source")
        .agg(
            F.max("n_tokens").alias("n_tokens"),
            F.max("vocab").alias("vocab"),
            (-F.sum(term)).cast("decimal(28,9)").alias("ent_exact"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab",
            F.round("ent_exact", 5)
            .cast("decimal(28,5)")
            .cast("double")
            .alias("entropy"),
        )
    )


ORACLE_KL_DIVERGENCE_SOURCES = r"""
WITH tok AS (
  SELECT source,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents WHERE length(trim(lower(text))) > 0
),
sc AS (
  SELECT source, token, count(*) AS c FROM tok GROUP BY source, token
),
stot AS (SELECT source, SUM(c) AS ns FROM sc GROUP BY source),
cc AS (SELECT token, SUM(c) AS cc FROM sc GROUP BY token),
ctot AS (SELECT SUM(cc) AS nc FROM cc),
terms AS (
  SELECT sc.source,
         CAST(round(
             (CAST(sc.c AS DOUBLE) / stot.ns)
               * ln((CAST(sc.c AS DOUBLE) / stot.ns)
                    / (CAST(cc.cc AS DOUBLE) / ctot.nc)),
             9) AS DECIMAL(18,9)) AS term,
         stot.ns AS ns
  FROM sc
  JOIN stot USING (source)
  JOIN cc USING (token), ctot
)
SELECT source, MAX(ns) AS n_tokens,
       CAST(CAST(round(CAST(SUM(term) AS DECIMAL(28,9)), 5)
                 AS DECIMAL(28,5)) AS DOUBLE) AS kl
FROM terms GROUP BY source
"""


@query(
    "kl_divergence_sources",
    oracle=ORACLE_KL_DIVERGENCE_SOURCES,
    bigint=("n_tokens",),
)
def q_kl_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's token distribution from the
    whole-corpus distribution — the domain-shift measure behind
    DSIR-style data selection (dsir_importance scores documents; this
    scores the SOURCES): KL(p_s ‖ p_corpus) = Σ_t p_s(t)·ln(p_s(t)/p_c(t)).
    Every source token also lives in the corpus, so p_c > 0 by
    construction. One tokenize pass feeds both the (source, token) and
    corpus-token aggregates (vocab-bounded); probabilities are double
    divisions of exact counts; terms round to decimal(18,9) before the
    exact sum; terminal scale-5 quantize."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokens_expr("text")).alias("token")
    )
    sc = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    stot = sc.groupBy("source").agg(F.sum("c").alias("ns"))
    cc = sc.groupBy("token").agg(F.sum("c").alias("cc"))
    ctot = cc.agg(F.sum("cc").alias("nc"))
    ps = F.col("c").cast("double") / F.col("ns")
    pc = F.col("cc").cast("double") / F.col("nc")
    term = F.round(ps * F.log(ps / pc), 9).cast("decimal(18,9)")
    return (
        sc.join(stot, "source")
        .join(cc, "token")
        .crossJoin(F.broadcast(ctot))
        .groupBy("source")
        .agg(
            F.max("ns").alias("n_tokens"),
            F.sum(term).cast("decimal(28,9)").alias("kl_exact"),
        )
        .select(
            "source",
            "n_tokens",
            F.round("kl_exact", 5)
            .cast("decimal(28,5)")
            .cast("double")
            .alias("kl"),
        )
    )


ORACLE_DISTINCTIVE_TERMS = r"""
WITH tok AS (
  SELECT source,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents WHERE length(trim(lower(text))) > 0
),
sc AS (
  SELECT source, token, count(*) AS c FROM tok GROUP BY source, token
),
stot AS (SELECT source, SUM(c) AS ns FROM sc GROUP BY source),
cc AS (SELECT token, SUM(c) AS cc FROM sc GROUP BY token),
ctot AS (SELECT SUM(cc) AS nc FROM cc),
scored AS (
  SELECT sc.source, sc.token, sc.c,
         sc.c * ctot.nc AS num, cc.cc * stot.ns AS den
  FROM sc
  JOIN stot USING (source)
  JOIN cc USING (token), ctot
  WHERE sc.c >= 5
),
ranked AS (
  SELECT source, token, c,
         CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS lift,
         ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE) DESC,
                      token) AS rk
  FROM scored
)
SELECT source, token, c, lift, rk FROM ranked WHERE rk <= 5
"""


@query("distinctive_terms", oracle=ORACLE_DISTINCTIVE_TERMS)
def q_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinctive tokens per source by lift (class-based
    keyword extraction, the c-TF-IDF idea without the transcendental):
    lift = (tf_in_source/source_total) / (tf_corpus/corpus_total),
    monotone in PMI so the log never needs to exist near the hash
    (collocation_lift's rule at class granularity). One tokenize pass
    feeds both vocab-bounded aggregates; a per-(source, token)
    term-frequency cut (c ≥ 5) kills rare-token noise; the per-source top-5 is a row_number with
    (lift exact-operand double DESC, token) tiebreak — but the RANK
    key is the exact integer cross product c·nc vs cc·ns, so ties
    resolve identically on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokens_expr("text")).alias("token")
    )
    sc = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    stot = sc.groupBy("source").agg(F.sum("c").alias("ns"))
    cc = sc.groupBy("token").agg(F.sum("c").alias("cc"))
    ctot = cc.agg(F.sum("cc").alias("nc"))
    scored = (
        sc.filter(F.col("c") >= 5)
        .join(stot, "source")
        .join(cc, "token")
        .crossJoin(F.broadcast(ctot))
        .select(
            "source",
            "token",
            "c",
            # exact integer rank key: lift = (c/ns)/(cc/nc) has the
            # same order as c*nc vs cc*ns (all positive); c*nc peaks
            # ~1e6*1e7 = 1e13 << 2^63
            (F.col("c") * F.col("nc")).alias("num"),
            (F.col("cc") * F.col("ns")).alias("den"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        # exact rational comparison via the cross product is a join;
        # the double division of exact sub-2^53 ints is correctly
        # rounded and order-preserving at this magnitude spread
        (F.col("num").cast("double") / F.col("den").cast("double")).desc(),
        "token",
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "source",
            "token",
            "c",
            (
                F.col("num").cast("double") / F.col("den").cast("double")
            ).alias("lift"),
            "rk",
        )
    )


def _split_expr() -> Column:
    """Deterministic 80/10/10 split of documents by md5(doc_id) bucket
    — the ONE definition both the split manifest (q_dataset_split) and
    the leakage audit (q_split_leakage) consume, so the thresholds can
    never drift between the pinning query and its auditor (the
    min_label_propagation lesson applied to split governance)."""
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    return (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )


#: the DuckDB twin of _split_expr — interpolated into both oracles
_SPLIT_SQL = """CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                       1, 8) AS BIGINT) % 100 < 80
              THEN 'train'
              WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                       1, 8) AS BIGINT) % 100 < 90
              THEN 'val' ELSE 'test' END"""


ORACLE_DATASET_SPLIT = f"""
WITH assigned AS (
  SELECT source,
         {_SPLIT_SQL} AS split
  FROM documents
),
per AS (
  SELECT source, split, count(*) AS n_docs
  FROM assigned GROUP BY 1, 2
),
tot AS (SELECT source, SUM(n_docs) AS n_src FROM per GROUP BY source)
SELECT source, split, n_docs,
       CAST(n_docs AS DOUBLE) / CAST(n_src AS DOUBLE) AS share
FROM per JOIN tot USING (source)
"""


@query("dataset_split", oracle=ORACLE_DATASET_SPLIT)
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment audit: every
    document lands in exactly one split via the cross-engine md5
    bucket (hash of doc_id mod 100 — reproducible across runs,
    engines, and partitionings; never rand()), reported per
    (source, split) with exact counts and the within-source share —
    the split manifest a training pipeline pins before anything else
    reads the corpus. One scan, one tiny-grid aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select("source", _split_expr().alias("split")).groupBy(
        "source", "split"
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    tot = per.groupBy("source").agg(F.sum("n_docs").alias("n_src"))
    return per.join(tot, "source").select(
        "source",
        "split",
        "n_docs",
        (
            F.col("n_docs").cast("double") / F.col("n_src").cast("double")
        ).alias("share"),
    )


ORACLE_SPLIT_LEAKAGE = f"""
WITH assigned AS (
  SELECT md5(text) AS fp,
         {_SPLIT_SQL} AS split
  FROM documents
),
fam AS (
  SELECT fp, count(*) AS n_copies,
         count(DISTINCT split) AS n_splits,
         count(*) FILTER (WHERE split = 'train') AS n_train,
         count(*) FILTER (WHERE split <> 'train') AS n_eval
  FROM assigned GROUP BY fp
  HAVING count(*) >= 2
)
SELECT count(*) AS dup_families,
       count(*) FILTER (WHERE n_splits >= 2) AS cross_split_families,
       COALESCE(SUM(CASE WHEN n_train >= 1 THEN n_eval ELSE 0 END),
                0) AS leaked_eval_docs
FROM fam
"""


@query(
    "split_leakage",
    oracle=ORACLE_SPLIT_LEAKAGE,
    bigint=("leaked_eval_docs",),
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: identical-text documents
    whose copies land in DIFFERENT splits of the md5 80/10/10
    assignment — the leakage decontaminate checks against a benchmark,
    applied between a corpus's own train/eval partitions (duplicate
    families straddling the split boundary leak eval answers into
    training). One fingerprint collapse to per-split distinct-copy
    counts, then a 1-row matrix: families, cross-split families, and
    leaked eval docs (val/test copies of any family that also has a
    train copy). Exact integers."""
    docs = load_table(spark, sf_dir, "documents")
    fam = (
        docs.select(
            F.md5(F.col("text")).alias("fp"), _split_expr().alias("split")
        )
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.count_distinct("split").alias("n_splits"),
            F.count_if(F.col("split") == "train").alias("n_train"),
            F.count_if(F.col("split") != "train").alias("n_eval"),
        )
        .filter(F.col("n_copies") >= 2)
    )
    return fam.agg(
        F.count(F.lit(1)).alias("dup_families"),
        F.count_if(F.col("n_splits") >= 2).alias("cross_split_families"),
        # coalesce: SUM over an empty family set is NULL on both
        # engines; a leakage report should read 0
        F.coalesce(
            F.sum(
                F.when(F.col("n_train") >= 1, F.col("n_eval")).otherwise(
                    F.lit(0)
                )
            ),
            F.lit(0).cast("long"),
        ).alias("leaked_eval_docs"),
    )


ORACLE_LENGTH_CAPS = r"""
WITH lens AS (
  SELECT source,
         CAST(CASE WHEN length(trim(lower(text))) = 0 THEN 0
              ELSE len(string_split_regex(trim(lower(text)), '\s+'))
              END AS BIGINT) AS n_tok
  FROM documents WHERE text IS NOT NULL
),
grid AS (
  SELECT source, n_tok, count(*) AS cnt FROM lens GROUP BY 1, 2
),
cum AS (
  SELECT source, n_tok, cnt,
         SUM(cnt) OVER (PARTITION BY source ORDER BY n_tok
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cnt) OVER (PARTITION BY source) AS n
  FROM grid
),
q AS (
  SELECT source, MAX(n) AS n_docs,
         MIN(CASE WHEN 2 * cum >= n THEN n_tok END) AS p50_tokens,
         MIN(CASE WHEN 20 * cum >= 19 * n THEN n_tok END)
           AS p95_tokens,
         MIN(CASE WHEN 100 * cum >= 99 * n THEN n_tok END)
           AS p99_tokens
  FROM cum GROUP BY source
),
capped AS (
  SELECT g.source,
         SUM(g.n_tok * g.cnt) AS total_tokens,
         SUM(CASE WHEN g.n_tok > q.p95_tokens
                  THEN (g.n_tok - q.p95_tokens) * g.cnt
                  ELSE 0 END) AS dropped_tokens
  FROM grid g JOIN q USING (source)
  GROUP BY g.source
)
SELECT source, n_docs, p50_tokens, p95_tokens, p99_tokens,
       total_tokens, dropped_tokens,
       CAST(dropped_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)
         AS dropped_share
FROM q JOIN capped USING (source)
"""


@query(
    "length_caps",
    oracle=ORACLE_LENGTH_CAPS,
    bigint=("n_docs", "total_tokens", "dropped_tokens"),
)
def q_length_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length truncation policy: exact p50/p95/p99
    of document token counts on the bounded (source, n_tokens) value
    grid, plus the exact share of tokens that a p95 cap would drop —
    the number a curation pipeline needs before fixing max_seq_len.
    Grid quantiles (conditional MIN under integer thresholds), then
    one re-aggregation against the chosen cap; every output is an
    integer or a double division of exact sums."""
    # NULL text has no token length; its NULL n_tok would also ride the
    # cumulative ORDER BY with engine-different placement (nullmeasure)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    lens = docs.select(
        "source", token_count_expr("text").cast("long").alias("n_tok")
    )
    grid = lens.groupBy("source", "n_tok").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("source").orderBy("n_tok")
    wp = Window.partitionBy("source")
    cum = grid.select(
        "source",
        "n_tok",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wp).alias("n"),
    )
    q = cum.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        F.min(
            F.when(2 * F.col("cum") >= F.col("n"), F.col("n_tok"))
        ).alias("p50_tokens"),
        F.min(
            F.when(20 * F.col("cum") >= 19 * F.col("n"), F.col("n_tok"))
        ).alias("p95_tokens"),
        F.min(
            F.when(100 * F.col("cum") >= 99 * F.col("n"), F.col("n_tok"))
        ).alias("p99_tokens"),
    )
    capped = (
        grid.join(q.select("source", "p95_tokens"), "source")
        .groupBy("source")
        .agg(
            F.sum(F.col("n_tok") * F.col("cnt")).alias("total_tokens"),
            F.sum(
                F.when(
                    F.col("n_tok") > F.col("p95_tokens"),
                    (F.col("n_tok") - F.col("p95_tokens")) * F.col("cnt"),
                ).otherwise(F.lit(0))
            ).alias("dropped_tokens"),
        )
    )
    return q.join(capped, "source").select(
        "source",
        "n_docs",
        "p50_tokens",
        "p95_tokens",
        "p99_tokens",
        "total_tokens",
        "dropped_tokens",
        (
            F.col("dropped_tokens").cast("double")
            / F.col("total_tokens").cast("double")
        ).alias("dropped_share"),
    )


ORACLE_SOURCE_NGRAM_OVERLAP = r"""
WITH words AS (
  SELECT source, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents WHERE length(trim(lower(text))) > 0
),
vocab AS (
  SELECT DISTINCT source, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM words, range(1, 100000) t(i) WHERE i <= len(toks) - 2
),
sizes AS (SELECT source, count(*) AS n FROM vocab GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
  FROM vocab a JOIN vocab b USING (shingle)
  WHERE a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, CAST(n_shared AS BIGINT) AS n_shared,
       sa.n AS n_a, sb.n AS n_b,
       CAST(n_shared AS DOUBLE) / CAST(sa.n + sb.n - n_shared AS DOUBLE)
         AS jaccard
FROM shared
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
"""


@query("source_ngram_overlap", oracle=ORACLE_SOURCE_NGRAM_OVERLAP)
def q_source_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-diversity audit: pairwise Jaccard overlap of the 3-gram
    shingle VOCABULARIES of every document-source pair — the standard
    check that two crawl slices are not near-copies of each other
    before mixing them into one training corpus.

    Plan: tokenize+shingle once, collapse to the DISTINCT
    (source, shingle) relation (vocabulary-bounded — this is the only
    fact-sized shuffle), per-source vocabulary counts, then a
    shingle-keyed self-join whose output is bounded by |sources|²
    rows.  Counts are exact BIGINTs; only the reported jaccard is a
    terminal double of exact integers (identical division both
    engines)."""
    from fink_broker_spark.functions.text import shingles_from_tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    # tokens materialize into a named column first: a HOF lambda
    # re-evaluates captured subexpressions per element, so an inlined
    # tokenize would re-split once per shingle
    # spread the single-split scan so tokenize+shingle run wide (guide
    # §2.5), and materialize the vocabulary ONCE — it feeds three
    # consumers (sizes + both self-join sides), which otherwise
    # re-tokenize the corpus when static exchange reuse does not fire
    # lineage-truncation tradeoff: see materialize
    vocab = materialize(
        ensure_scan_parallelism(docs.select("source", "text"))
        .select("source", tokens_expr("text").alias("toks"))
        .select(
            "source",
            F.explode(
                F.array_distinct(shingles_from_tokens_expr("toks", 3))
            ).alias("shingle"),
        )
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    shared = (
        vocab.select(F.col("source").alias("source_a"), "shingle")
        .join(
            vocab.select(F.col("source").alias("source_b"), "shingle"),
            "shingle",
        )
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            (
                F.col("n_shared").cast("double")
                / (
                    F.col("n_a") + F.col("n_b") - F.col("n_shared")
                ).cast("double")
            ).alias("jaccard"),
        )
    )


ORACLE_NEGATIVE_SAMPLING = """
WITH cand AS (
  SELECT doc_id AS cand_id, source AS cand_grp,
         CAST('0x' || substr(md5(concat_ws('|', 'cand',
           CAST(doc_id AS VARCHAR))), 1, 8) AS BIGINT) % 16 AS bkt
  FROM documents
), anchors AS (
  SELECT doc_id AS anchor_id, source AS anchor_grp,
         CAST('0x' || substr(md5(concat_ws('|', 'probe',
           CAST(doc_id AS VARCHAR))), 1, 8) AS BIGINT) % 16 AS bkt
  FROM documents
), ranked AS (
  SELECT a.anchor_id, c.cand_id,
         ROW_NUMBER() OVER (
           PARTITION BY a.anchor_id
           ORDER BY md5(concat_ws('|', 'pair',
                        CAST(a.anchor_id AS VARCHAR),
                        CAST(c.cand_id AS VARCHAR))), c.cand_id
         ) AS rnk
  FROM anchors a JOIN cand c ON a.bkt = c.bkt
  WHERE c.cand_grp <> a.anchor_grp
)
SELECT anchor_id, cand_id AS neg_id, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 3
"""


@query("negative_sampling", oracle=ORACLE_NEGATIVE_SAMPLING)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic cross-source negative sampling for contrastive
    pairs (``ext/pipeline.py:negative_sampling``): every document
    draws up to 3 pseudo-random negatives from OTHER sources via
    md5-bucketed routing — no ``rand()``, so the training pairs are
    reproducible on any engine and any rerun.  The all-pairs sampler
    this replaces is a cross join; the bucketed plan is one equi-join
    with |docs|²/n_buckets candidate volume and a bounded per-anchor
    row_number."""
    from fink_broker_spark.ext.pipeline import negative_sampling

    docs = load_table(spark, sf_dir, "documents")
    return negative_sampling(docs, k=3, n_buckets=16)


ORACLE_QUANTILE_NORMALIZE = """
WITH r AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars NULLS FIRST, doc_id) AS rnk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT doc_id, source, rnk,
       CAST(CASE WHEN n > 1 THEN ((rnk - 1) * 1000000000) // (n - 1)
                 ELSE 0 END AS BIGINT) AS q_scaled9
FROM r
"""


@query("quantile_normalize", oracle=ORACLE_QUANTILE_NORMALIZE)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based quantile normalization of a feature column (the ML
    preprocessing transform: map each value to its empirical quantile,
    uniform on [0, 1]) — per source, every document's ``n_chars``
    becomes ``(rank−1)·10⁹ div (n−1)``, an exact fixed-point integer
    on both engines (single-member groups map to 0).

    Plan: ONE window shuffle on the group key carrying rank and group
    size together.  Rank transforms inherently require a per-group
    ordering; at 100 TB the per-source sort is the honest cost (and
    sources partition it) — a deployment that can tolerate ±1/accuracy
    error swaps in ``percentile_approx`` bucketing instead (the same
    trade as ``archive/statistics.py``'s size gate)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    return (
        docs.select(
            "doc_id",
            "source",
            F.row_number().over(w).alias("rnk"),
            F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
        )
        .select(
            "doc_id",
            "source",
            "rnk",
            F.when(
                F.col("n") > 1,
                F.expr(
                    "((rnk - 1) * CAST(1000000000 AS BIGINT)) div (n - 1)"
                ),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("q_scaled9"),
        )
    )


ORACLE_KS_TWO_SAMPLE = """
WITH d AS (
  SELECT n_chars, source FROM documents WHERE n_chars IS NOT NULL
),
s0 AS (SELECT MIN(source) AS src_a FROM d),
t AS (
  SELECT s0.src_a, n_chars,
         SUM(CASE WHEN source = s0.src_a THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN source = s0.src_a THEN 0 ELSE 1 END) AS cb
  FROM d CROSS JOIN s0
  GROUP BY s0.src_a, n_chars
),
cum AS (
  SELECT src_a,
         SUM(ca) OVER (ORDER BY n_chars
                       ROWS UNBOUNDED PRECEDING) AS cuma,
         SUM(cb) OVER (ORDER BY n_chars
                       ROWS UNBOUNDED PRECEDING) AS cumb
  FROM t
),
scored AS (
  SELECT src_a, cuma, cumb,
         MAX(cuma) OVER () AS n_a, MAX(cumb) OVER () AS n_b
  FROM cum
)
SELECT src_a, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(MAX(abs(cuma * n_b - cumb * n_a)) AS BIGINT) AS d_num,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
         CAST(MAX(abs(cuma * n_b - cumb * n_a)) AS DOUBLE)
           / CAST(n_a * n_b AS DOUBLE) END AS ks_d
FROM scored GROUP BY src_a, n_a, n_b
"""


@query("ks_two_sample", oracle=ORACLE_KS_TWO_SAMPLE)
def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between document-length
    distributions: the lexicographically-first source vs the rest of
    the corpus — the drift test a curator runs before mixing a new
    source in (ks_uniformity is the one-sample twin).

    Exactness: D = max |cA·nB − cB·nA| / (nA·nB) is carried as the
    EXACT integer numerator (cum counts × totals) and divided once at
    the end — no per-step float CDFs.  Plan: collapse to the distinct
    value grid (ONE shuffle), one windowed cum-sum over the grid
    (|distinct| rows, not |docs|), one global max.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    src0 = docs.agg(F.min("source").alias("src_a"))
    t = (
        docs.crossJoin(F.broadcast(src0))
        .select(
            "n_chars",
            (F.col("source") == F.col("src_a")).cast("long").alias("ina"),
            "src_a",
        )
        .groupBy("src_a", "n_chars")
        .agg(
            F.sum("ina").alias("ca"),
            F.sum(1 - F.col("ina")).alias("cb"),
        )
    )
    w = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = t.select(
        "src_a",
        F.sum("ca").over(w).alias("cuma"),
        F.sum("cb").over(w).alias("cumb"),
    )
    # totals ride the same grid (max of a nondecreasing cum IS the
    # total), so the numerator never needs a second scan of the docs
    wtot = Window.partitionBy(F.lit(1))
    scored = cum.select(
        "src_a",
        "cuma",
        "cumb",
        F.max("cuma").over(wtot).alias("n_a"),
        F.max("cumb").over(wtot).alias("n_b"),
    ).select(
        "src_a",
        "n_a",
        "n_b",
        F.abs(
            F.col("cuma") * F.col("n_b") - F.col("cumb") * F.col("n_a")
        ).alias("dnum"),
    )
    return scored.groupBy("src_a", "n_a", "n_b").agg(
        F.max("dnum").alias("d_num")
    ).select(
        "src_a",
        "n_a",
        "n_b",
        "d_num",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.col("d_num").cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double"),
        ).alias("ks_d"),
    )


ORACLE_REINGEST_DRIFT_AUDIT = """
WITH d1 AS (
  SELECT doc_id, text, lang, count(*) AS m
  FROM documents GROUP BY 1, 2, 3
),
per AS (
  SELECT doc_id, SUM(m) AS c_rows, count(*) AS n_versions,
         count(DISTINCT text) AS n_texts,
         count(DISTINCT lang) AS n_langs
  FROM d1 GROUP BY doc_id
)
SELECT CAST(COALESCE(SUM(c_rows), 0) AS BIGINT) AS n_rows,
       count(*) AS n_docs,
       CAST(COALESCE(SUM(CASE WHEN c_rows > 1 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_multirow_docs,
       CAST(COALESCE(SUM(c_rows - n_versions), 0) AS BIGINT)
         AS n_verbatim_dup_rows,
       CAST(COALESCE(SUM(CASE WHEN n_texts > 1 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_text_drifted_docs,
       CAST(COALESCE(SUM(CASE WHEN n_langs > 1 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_lang_drifted_docs,
       CAST(MAX(n_versions) AS BIGINT) AS max_versions
FROM per
"""


@query("reingest_drift_audit", oracle=ORACLE_REINGEST_DRIFT_AUDIT)
def q_reingest_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-ingest drift audit over the document lake — the governance
    companion to ``uniqueness_audit`` for CONTENT keys: how many
    doc_ids carry multiple rows, how many of those are verbatim
    duplicates (at-least-once delivery) vs DRIFTED bodies or
    re-detected langs (upsert/re-crawl — the dupdrift driftlab state),
    and the worst version depth.  This is the report that decides
    whether the canonical min(text) survivor pick (the dedup staging
    discipline) is a no-op or is actively resolving conflicts.

    Plan: ONE (doc_id, text, lang) group (shuffle ∝ distinct tuples,
    map-side combined), one per-doc re-aggregate, a 1-row output — no
    self-joins, no windows.  All outputs exact integers; NULL texts
    are version tuples (GROUP BY semantics) but not drift values
    (count DISTINCT skips NULLs identically on both engines)."""
    docs = load_table(spark, sf_dir, "documents")
    d1 = docs.groupBy("doc_id", "text", "lang").agg(
        F.count(F.lit(1)).alias("m")
    )
    per = d1.groupBy("doc_id").agg(
        F.sum("m").cast("long").alias("c_rows"),
        F.count(F.lit(1)).alias("n_versions"),
        F.count_distinct("text").alias("n_texts"),
        F.count_distinct("lang").alias("n_langs"),
    )
    return per.agg(
        F.coalesce(F.sum("c_rows"), F.lit(0)).cast("long").alias("n_rows"),
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(
            F.sum(F.when(F.col("c_rows") > 1, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_multirow_docs"),
        F.coalesce(F.sum(F.col("c_rows") - F.col("n_versions")), F.lit(0))
        .cast("long")
        .alias("n_verbatim_dup_rows"),
        F.coalesce(
            F.sum(F.when(F.col("n_texts") > 1, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_text_drifted_docs"),
        F.coalesce(
            F.sum(F.when(F.col("n_langs") > 1, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_lang_drifted_docs"),
        F.max("n_versions").alias("max_versions"),
    )


ORACLE_VOCAB_GROWTH = r"""
WITH uniq AS (
  SELECT doc_id, min(text) AS text
  FROM documents WHERE length(trim(lower(text))) > 0
  GROUP BY doc_id
),
words AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM uniq
),
grams AS (
  -- len(toks) <= 100000 mirrors the engine's symmetric gram bound
  -- (range() takes constant bounds only in duckdb 1.0; ADVICE r9 #2)
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS g
  FROM words, range(1, 100000) t(i)
  WHERE i <= len(toks) - 2 AND len(toks) <= 100000
),
first AS (SELECT g, min(doc_id) AS doc_id FROM grams GROUP BY g),
bounds AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM uniq),
per_docs AS (
  SELECT CAST((10 * (doc_id - lo)) // (hi - lo + 1) AS INTEGER)
           AS decile,
         count(*) AS n_docs
  FROM uniq, bounds GROUP BY 1
),
per_new AS (
  SELECT CAST((10 * (doc_id - lo)) // (hi - lo + 1) AS INTEGER)
           AS decile,
         count(*) AS n_new_shingles
  FROM first, bounds GROUP BY 1
),
joined AS (
  SELECT d.decile, CAST(d.n_docs AS BIGINT) AS n_docs,
         CAST(COALESCE(n.n_new_shingles, 0) AS BIGINT) AS n_new_shingles
  FROM per_docs d LEFT JOIN per_new n ON n.decile = d.decile
)
SELECT decile, n_docs, n_new_shingles,
       CAST(SUM(n_new_shingles) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_vocab,
       CAST(n_new_shingles AS DOUBLE) / CAST(n_docs AS DOUBLE)
         AS new_per_doc
FROM joined
"""


@query("vocab_growth", oracle=ORACLE_VOCAB_GROWTH)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth audit: walking the corpus in
    ingest order (doc_id), how many NEW 3-gram shingles does each
    successive tenth of the corpus contribute?  The
    diminishing-returns curve data teams read before paying for the
    next crawl — a flattening tail means more of the same, a steep
    tail means the source still adds novelty.

    Scale shape: the decile is computed from the doc_id VALUE range
    (``10·(id − lo) DIV (hi − lo + 1)`` against a 1-row min/max
    broadcast) — NOT an ntile/rank window, which would single-
    partition-sort billions of doc ids at 100 TB.  First occurrence
    is one shingle-keyed min aggregate (the only fact-sized shuffle);
    everything after runs on ≤ 10 rows.  Canonical per-doc rows via
    the dupdrift survivor rule (min(text) after the empty filter);
    integer division has non-negative operands on both engines so
    Spark's truncating DIV and DuckDB's flooring ``//`` agree."""
    from fink_broker_spark.functions.text import (
        shingles_from_tokens_expr,
    )

    docs = load_table(spark, sf_dir, "documents")
    uniq = (
        docs.filter(F.length(F.trim(F.lower(F.col("text")))) > 0)
        .groupBy("doc_id")
        .agg(F.min("text").alias("text"))
    )
    # three consumers (grams, id bounds, per-decile doc counts) — the
    # uncheckpointed plan scans documents 4× (explain-counted); materialize the canonical relation once
    uniq = materialize(uniq)
    # 100k-token gram bound, SYMMETRIC on both engines:
    # DuckDB 1.0's range() only takes constant bounds, so the oracle's
    # shingle positions stop at 100000 — rather than leave that as a
    # silent long-doc hash split, docs longer than 100k tokens are
    # excluded from the GRAM relation on both sides (they still count
    # in per_docs).  A no-op on the synthetic corpus (max ~200 tokens)
    # and on any corpus chunked upstream of shingling.
    grams = uniq.select(
        "doc_id", tokens_expr("text").alias("toks")
    ).filter(F.size("toks") <= 100000).select(
        "doc_id",
        F.explode(shingles_from_tokens_expr("toks", 3)).alias("g"),
    )
    first = grams.groupBy("g").agg(F.min("doc_id").alias("doc_id"))
    bounds = uniq.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    dec = F.expr("cast((10 * (doc_id - lo)) div (hi - lo + 1) as int)")
    per_docs = (
        uniq.crossJoin(F.broadcast(bounds))
        .select(dec.alias("decile"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    per_new = (
        first.crossJoin(F.broadcast(bounds))
        .select(dec.alias("decile"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_new_shingles"))
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    joined = per_docs.join(per_new, "decile", "left").select(
        "decile",
        "n_docs",
        F.coalesce("n_new_shingles", F.lit(0))
        .cast("long")
        .alias("n_new_shingles"),
    )
    return joined.select(
        "decile",
        "n_docs",
        "n_new_shingles",
        F.sum("n_new_shingles").over(wc).cast("long").alias("cum_vocab"),
        (
            F.col("n_new_shingles").cast("double")
            / F.col("n_docs").cast("double")
        ).alias("new_per_doc"),
    )


ORACLE_MIXTURE_WEIGHTS = r"""
WITH counts AS (
  SELECT source, count(*) AS n_docs,
         SUM(CASE WHEN length(trim(lower(text))) = 0 THEN 0
             ELSE len(string_split_regex(trim(lower(text)), '\s+'))
             END) AS n_tok
  FROM documents
  WHERE source IS NOT NULL AND text IS NOT NULL
  GROUP BY source
),
cum AS (
  SELECT source, n_docs, CAST(n_tok AS BIGINT) AS n_tokens,
         sqrt(CAST(n_tok AS DOUBLE)) AS s,
         -- source-ordered running sum: pins the float merge order to
         -- the identical left-to-right tree the engine uses
         SUM(sqrt(CAST(n_tok AS DOUBLE)))
           OVER (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS cs
  FROM counts
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
       CASE WHEN last_value(cs) OVER (ORDER BY source
              ROWS BETWEEN UNBOUNDED PRECEDING
              AND UNBOUNDED FOLLOWING) > 0
            THEN s / last_value(cs) OVER (ORDER BY source
              ROWS BETWEEN UNBOUNDED PRECEDING
              AND UNBOUNDED FOLLOWING)
       END AS weight
FROM cum
"""


@query("mixture_weights", oracle=ORACLE_MIXTURE_WEIGHTS)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain-mixture weights over the document
    sources — the DoReMi/data-mixing primitive: sampling weight
    w_s ∝ tokens_s^(1/T) with T = 2, so large domains are
    down-weighted sub-linearly instead of dominating the mixture.

    T = 2 makes the scaling a SQRT — IEEE correctly-rounded on both
    engines — instead of the exp/ln tree a softmax would need (libm
    transcendentals are not cross-engine exact).  The normalizer is a
    float sum over sources, so its merge order is pinned with the
    source-ordered cumulative window (the established exact-sum-order
    pattern): both engines add the same sqrt values left-to-right in
    source order and take the last running value as the total.

    Plan: one map-side token-count aggregate to |sources| rows
    (~5), then two windows over that spine.  At 100 TB the tokenize
    pass is the whole cost; everything after is constant-sized.
    NULL sources and NULL texts are excluded symmetrically (Spark
    size(split(NULL)) and DuckDB len(string_split_regex(NULL)) do not
    agree on a convention — exclusion is the only portable rule)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("text").isNotNull()
    )
    counts = (
        docs.select(
            "source",
            F.size(tokens_expr("text")).cast("long").alias("n_tok"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )
    wcum = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = counts.select(
        "source",
        "n_docs",
        "n_tokens",
        F.sqrt(F.col("n_tokens").cast("double")).alias("s"),
        F.sum(F.sqrt(F.col("n_tokens").cast("double")))
        .over(wcum)
        .alias("cs"),
    )
    total = F.last("cs").over(wall)
    return cum.select(
        "source",
        "n_docs",
        "n_tokens",
        # lazy guard on the DENOMINATOR itself: an all-empty corpus
        # drives total to exactly 0.0, where ANSI Spark throws on the
        # division and DuckDB answers inf
        F.when(total > 0, F.col("s") / total).alias("weight"),
    )


ORACLE_EVAL_CONTAMINATION = r"""
WITH uniq AS (
  SELECT doc_id, min(text) AS text, min(source) AS source
  FROM documents
  WHERE source IS NOT NULL AND length(trim(lower(text))) > 0
  GROUP BY doc_id
),
words AS (
  SELECT doc_id, source,
         string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM uniq
),
grams AS MATERIALIZED (
  -- len(toks) <= 100000 mirrors the engine's symmetric gram bound
  -- (range() takes constant bounds only in duckdb 1.0; ADVICE r9 #2)
  SELECT DISTINCT doc_id, source,
         array_to_string(toks[i:i+7], ' ') AS g
  FROM words, range(1, 100000) t(i)
  WHERE i <= len(toks) - 7 AND len(toks) <= 100000
),
es AS (SELECT min(source) AS es FROM grams),
tg AS (
  SELECT doc_id, g FROM grams, es WHERE source <> es.es
),
evg AS (
  SELECT DISTINCT g FROM grams, es WHERE source = es.es
),
sizes AS (SELECT doc_id, count(*) AS n_grams FROM tg GROUP BY doc_id),
hits AS (
  SELECT tg.doc_id, count(*) AS n_hit
  FROM tg JOIN evg USING (g) GROUP BY tg.doc_id
)
SELECT s.doc_id, CAST(s.n_grams AS BIGINT) AS n_grams,
       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       CAST(COALESCE(h.n_hit, 0) AS DOUBLE)
         / CAST(s.n_grams AS DOUBLE) AS contamination
FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
ORDER BY contamination DESC, s.doc_id
LIMIT 25
"""


@query("eval_contamination", oracle=ORACLE_EVAL_CONTAMINATION)
def q_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination scan (the GPT-3/PaLM n-gram
    containment check): treating the lexicographically-first source as
    the held-out eval slice, every training document is scored by the
    fraction of its distinct 8-gram shingles that also occur anywhere
    in the eval slice; top 25 most-contaminated docs.

    Plan: tokenize+shingle ONCE over canonical per-doc rows (min(text)
    / min(source) after the empty filter — the dupdrift survivor
    rule), split train/eval by a 1-row broadcast of min(source), then
    one gram-keyed UNHINTED join of train grams against the DISTINCT
    eval gram vocabulary — AQE broadcasts the vocabulary when its
    measured size is small (a true benchmark eval set) and
    shuffle-joins when it is corpus-fraction-sized (this synthetic
    slice); a forced broadcast would hit the 8 GB ceiling at 100 TB.
    Docs with fewer than 8 tokens have no
    8-grams and are excluded symmetrically by construction.
    Contamination is an exact-integer division (n_grams ≥ 1); the
    top-k order is (ratio DESC, doc_id) — a strict total order."""
    from fink_broker_spark.functions.text import (
        shingles_from_tokens_expr,
    )

    docs = load_table(spark, sf_dir, "documents")
    uniq = (
        docs.filter(F.col("source").isNotNull())
        .filter(F.length(F.trim(F.lower(F.col("text")))) > 0)
        .groupBy("doc_id")
        .agg(F.min("text").alias("text"), F.min("source").alias("source"))
    )
    # len(toks) <= 100000 mirrors the oracle's constant range() bound
    # as an explicit symmetric gram-domain rule — a
    # no-op on the synthetic corpus and on pre-chunked lakes
    grams = uniq.select(
        "doc_id", "source", tokens_expr("text").alias("toks")
    ).filter(F.size("toks") <= 100000).select(
        "doc_id",
        "source",
        F.explode(shingles_from_tokens_expr("toks", 8)).alias("g"),
    )
    # three consumers (train split, eval split, min-source scalar) —
    # materialize the shingle relation once instead of tokenizing the
    # corpus three times (the ppjoin arrs lesson; measured 3.0→2.0 s
    # at sf0.1).  The eval source is the lexicographic min over the
    # SHINGLED corpus (docs with < 8 tokens have no grams and cannot
    # anchor the eval slice) — the oracle mirrors the same domain.
    grams = materialize(grams)
    ev_src = grams.agg(F.min("source").alias("es"))
    tg = (
        grams.crossJoin(F.broadcast(ev_src))
        .filter(F.col("source") != F.col("es"))
        .select("doc_id", "g")
    )
    evg = (
        grams.crossJoin(F.broadcast(ev_src))
        .filter(F.col("source") == F.col("es"))
        .select("g")
        .distinct()
    )
    sizes = tg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    # UNHINTED gram join: the eval vocabulary is a whole source's
    # distinct 8-grams — corpus-fraction-sized, NOT a broadcastable
    # scalar (a broadcast hint here hits
    # Spark's 8 GB broadcast ceiling at the 100 TB design point).
    # AQE broadcasts it when it measures small and shuffle-joins
    # otherwise — the size decision belongs to the runtime.
    hits = (
        tg.join(evg, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        sizes.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            (
                F.coalesce("n_hit", F.lit(0)).cast("double")
                / F.col("n_grams").cast("double")
            ).alias("contamination"),
        )
        .orderBy(F.desc("contamination"), "doc_id")
        .limit(25)
    )


ORACLE_BPE_PACKING_AUDIT = r"""
WITH t AS (
  SELECT source,
         CASE WHEN length(trim(lower(text))) = 0 THEN 0
              ELSE len(string_split_regex(trim(lower(text)), '\s+'))
         END AS n_ws,
         len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_ws) AS BIGINT) AS sum_ws_tokens,
       CAST(SUM(n_bpe) AS BIGINT) AS sum_bpe_tokens,
       CAST(SUM((n_bpe + 511) // 512) AS BIGINT) AS n_seqs_512,
       CAST(SUM((n_bpe + 511) // 512 * 512 - n_bpe) AS BIGINT)
         AS pad_waste_512,
       CASE WHEN SUM(n_ws) > 0
            THEN CAST(SUM(n_bpe) AS DOUBLE) / CAST(SUM(n_ws) AS DOUBLE)
       END AS bpe_per_ws,
       CASE WHEN SUM((n_bpe + 511) // 512) > 0
            THEN CAST(SUM(n_bpe) AS DOUBLE)
                 / (CAST(SUM((n_bpe + 511) // 512) AS DOUBLE) * 512.0)
       END AS fill_ratio
FROM t GROUP BY source
"""


@query("bpe_packing_audit", oracle=ORACLE_BPE_PACKING_AUDIT)
def q_bpe_packing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware sequence-length / packing audit at BPE
    granularity: per source, whitespace-vs-subword token totals, the
    subword expansion ratio, and the packing numbers a training
    pipeline actually pays for at max_seq_len = 512 — sequences
    needed (Σ ceil(bpe/512)) and padding waste (Σ (512·ceil − bpe)) —
    the BPE-granular sibling of ``pack_sequences`` (whitespace budget
    bins) and ``length_caps`` (whitespace quantiles).  A corpus that
    looks 400-token under whitespace splitting routinely exceeds 512
    BPE pieces; this is the report that catches it before a truncated
    training run.

    Exactness: token counts are regexp counts (the repo's BPE-ish
    pattern, cross-engine-pinned by ``text_quality``), ceil is the
    non-negative integer tree ``(n + 511) DIV 512`` (Spark DIV ≡
    DuckDB ``//`` on non-negatives), so every sum is exact; the two
    ratios are guarded double divisions of exact sums.  NULL text
    rows count in n_docs with NULL token counts (SUM skips), exactly
    as the oracle's CASE/len propagation.

    Scale: ONE scan, one |sources|-row partial-aggregating shuffle —
    the mergeable-partials shape; no window, no join, no explode."""
    docs = load_table(spark, sf_dir, "documents")
    seqs = F.expr("(n_bpe + 511) div 512")
    staged = docs.select(
        "source",
        token_count_expr("text").cast("long").alias("n_ws"),
        bpe_token_count_expr("text").cast("long").alias("n_bpe"),
    ).select(
        "source",
        "n_ws",
        "n_bpe",
        seqs.alias("n_seqs"),
        (seqs * F.lit(512) - F.col("n_bpe")).alias("n_pad"),
    )
    g = staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_ws").alias("sum_ws_tokens"),
        F.sum("n_bpe").alias("sum_bpe_tokens"),
        F.sum("n_seqs").alias("n_seqs_512"),
        F.sum("n_pad").alias("pad_waste_512"),
    )
    return g.select(
        "source",
        "n_docs",
        "sum_ws_tokens",
        "sum_bpe_tokens",
        "n_seqs_512",
        "pad_waste_512",
        F.when(
            F.col("sum_ws_tokens") > 0,
            F.col("sum_bpe_tokens").cast("double")
            / F.col("sum_ws_tokens").cast("double"),
        ).alias("bpe_per_ws"),
        F.when(
            F.col("n_seqs_512") > 0,
            F.col("sum_bpe_tokens").cast("double")
            / (F.col("n_seqs_512").cast("double") * F.lit(512.0)),
        ).alias("fill_ratio"),
    )


ORACLE_SURPRISE_DRIFT_SERIES = r"""
WITH uniq AS (
  SELECT doc_id, min(text) AS text, min(source) AS source
  FROM documents
  WHERE source IS NOT NULL AND length(trim(lower(text))) > 0
  GROUP BY doc_id
),
bounds AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM uniq),
toks AS (
  SELECT doc_id, source, unnest(string_split_regex(trim(lower(text)),
         '\s+')) AS tok
  FROM uniq
),
tok_dec AS (
  SELECT source, tok,
         CAST((10 * (doc_id - lo)) // (hi - lo + 1) AS INTEGER)
           AS decile,
         count(*) AS n_dec
  FROM toks, bounds
  GROUP BY 1, 2, 3
),
src_tok AS (
  SELECT source, tok, SUM(n_dec) AS n_src FROM tok_dec GROUP BY 1, 2
),
src_tot AS (
  SELECT source, SUM(n_src) AS n_total, count(*) AS vocab
  FROM src_tok GROUP BY 1
),
per_dec AS (
  SELECT td.source, td.decile,
         SUM(td.n_dec) AS n_tokens,
         -- DECIMAL(10,0) multiplier mirrors the engine's exact
         -- decimal(28,9) product (Spark would precision-lose at 39,9)
         SUM(CAST(round(-ln(CAST(st.n_src + 1 AS DOUBLE)
                            / CAST(tt.n_total + tt.vocab AS DOUBLE)), 9)
                  AS DECIMAL(18,9))
             * CAST(td.n_dec AS DECIMAL(10,0))) AS sum_surprise
  FROM tok_dec td
  JOIN src_tok st ON st.source = td.source AND st.tok = td.tok
  JOIN src_tot tt ON tt.source = td.source
  GROUP BY 1, 2
),
avgd AS (
  SELECT source, decile, n_tokens,
         CAST(sum_surprise AS DOUBLE) / CAST(n_tokens AS DOUBLE)
           AS avg_surprise
  FROM per_dec
),
baseline AS (
  SELECT a.source, a.avg_surprise AS avg0
  FROM avgd a
  JOIN (SELECT source, min(decile) AS d0 FROM avgd GROUP BY source) f
    ON f.source = a.source AND a.decile = f.d0
)
SELECT a.source, a.decile,
       CAST(a.n_tokens AS BIGINT) AS n_tokens,
       a.avg_surprise,
       a.avg_surprise - b.avg0 AS delta_vs_first
FROM avgd a JOIN baseline b ON b.source = a.source
"""


@query("surprise_drift_series", oracle=ORACLE_SURPRISE_DRIFT_SERIES)
def q_surprise_drift_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source perplexity-proxy drift series over ingest order —
    the QUALITY companion to ``reingest_drift_audit``'s content
    governance: walking each source's documents in doc_id (ingest)
    order split into value-range deciles, the average token surprise
    −ln p̂(token | source) under the source's own Laplace-smoothed
    unigram distribution, and each decile's delta against the
    source's first populated decile.  A rising curve means the
    source's later crawls drift away from its own vocabulary (spam
    injection, template churn, encoding rot) — the signal that gates
    a re-crawl before it poisons the training mix.  Distinct from
    ``vocab_entropy`` (one static H per source, no time axis) and
    ``psi_drift`` (numeric value distributions, two fixed arms).

    Exactness: p̂ = (n_tok + 1) / (N + V) is a double division of
    exact integers (identical tree both engines); each token's
    −ln p̂ ≥ 0 follows the repo's transcendental-sum discipline
    (scale-9 round → DECIMAL(18,9), multiplied by the exact per-decile
    count — positive operands, so Spark HALF_UP ≡ DuckDB half-away);
    the per-decile average is one double division of the exact
    decimal sum by the exact token count.  Envelope: the decimal sum
    stays < 2⁵³ in unscaled units while per-(source, decile) token
    mass < ~9·10⁶ — five orders above the sf0.1 lake.

    Scale shape: deciles come from the doc_id VALUE range against a
    1-row min/max broadcast (the ``vocab_growth`` rule — never an
    ntile global sort); the (source, token) LM is a vocab-bounded
    aggregate; the canonical doc relation is materialized once for
    its two consumers (bounds + tokens); everything downstream of the
    one tokenize+explode pass runs on vocab- or grid-sized relations.
    Canonical per-doc rows via the dupdrift survivor rule (min(text),
    min(source) after the empty filter)."""
    docs = load_table(spark, sf_dir, "documents")
    # keyed spread (guide §2.5): the canonical-row aggregate below
    # would otherwise AQE-coalesce to 1-3 partitions, and the
    # materialized relation INHERITS that width — the downstream
    # tokenize+explode (the query's heaviest map work) then ran
    # near-serial off the checkpoint blocks (profiled 1.4 s
    # single-task stage).  A user repartition is never coalesced, so
    # the checkpoint stays core-wide.  Guarded no-op on a wide lake.
    uniq = (
        ensure_keyed_parallelism(
            docs.filter(F.col("source").isNotNull())
            .filter(F.length(F.trim(F.lower(F.col("text")))) > 0)
            .select("doc_id", "text", "source"),
            "doc_id",
        )
        .groupBy("doc_id")
        .agg(F.min("text").alias("text"), F.min("source").alias("source"))
    )
    # two consumers (id bounds + the token explode) — materialize once
    uniq = materialize(uniq)
    bounds = uniq.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    dec = F.expr("cast((10 * (doc_id - lo)) div (hi - lo + 1) as int)")
    toks = uniq.select(
        "doc_id", "source", F.explode(tokens_expr("text")).alias("tok")
    )
    tok_dec = (
        toks.crossJoin(F.broadcast(bounds))
        .select("source", "tok", dec.alias("decile"))
        .groupBy("source", "tok", "decile")
        .agg(F.count(F.lit(1)).alias("n_dec"))
    )
    # the (source, tok, decile) grid feeds TWO consumers (the per-dec
    # join side and the src_tok/src_tot LM chain) — uncut, the plan
    # tokenizes the corpus twice (explain-counted two Generate
    # explodes); the materialized relation is vocab×10-bounded
    tok_dec = materialize(tok_dec)
    src_tok = tok_dec.groupBy("source", "tok").agg(
        F.sum("n_dec").alias("n_src")
    )
    src_tot = src_tok.groupBy("source").agg(
        F.sum("n_src").alias("n_total"),
        F.count(F.lit(1)).alias("vocab"),
    )
    p_hat = (F.col("n_src") + F.lit(1)).cast("double") / (
        F.col("n_total") + F.col("vocab")
    ).cast("double")
    term = F.round(-F.log(p_hat), 9).cast("decimal(18,9)")
    per_dec = (
        tok_dec.join(src_tok, ["source", "tok"])
        .join(F.broadcast(src_tot), "source")
        .select(
            "source",
            "decile",
            "n_dec",
            # the multiplier pins to DECIMAL(10,0): a bare BIGINT
            # multiplicand needs decimal(39,9) > 38, which Spark
            # resolves by SILENTLY dropping the 9th scale digit
            # (allowPrecisionLoss) — measured ~1e-9·|vocab| drift vs
            # the oracle's exact DECIMAL product
            (term * F.col("n_dec").cast("decimal(10,0)")).alias(
                "contrib"
            ),
        )
        .groupBy("source", "decile")
        .agg(
            F.sum("n_dec").alias("n_tokens"),
            F.sum("contrib").alias("sum_surprise"),
        )
        .select(
            "source",
            "decile",
            "n_tokens",
            (
                F.col("sum_surprise").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("avg_surprise"),
        )
    )
    first_dec = per_dec.groupBy("source").agg(
        F.min("decile").alias("d0")
    ).withColumnRenamed("source", "b_source")
    baseline = per_dec.join(
        first_dec,
        (F.col("source") == F.col("b_source"))
        & (F.col("decile") == F.col("d0")),
    ).select(
        F.col("b_source").alias("source"),
        F.col("avg_surprise").alias("avg0"),
    )
    return per_dec.join(F.broadcast(baseline), "source").select(
        "source",
        "decile",
        "n_tokens",
        "avg_surprise",
        (F.col("avg_surprise") - F.col("avg0")).alias("delta_vs_first"),
    )
