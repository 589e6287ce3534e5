"""Text / retrieval / dedup / similarity operators over ``documents``
and ``embeddings`` — the training-data-pipeline surface plus the
SQL-expressible slice of the BM25 engine.

These use the "simple" analyzer (lower → split(' ') → drop empties)
so the DuckDB oracle can replay tokenization exactly; the full
snowball analyzer path is oracled by the in-repo Python oracle
(operators/oracle.py) instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .common import t
from .qcache import DERIVED


def _TOKS():
    # lower → split single space → drop empties (== DuckDB
    # list_filter(string_split(lower(text),' '), x -> x <> ''))
    return F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")

BM25_QUERY_TERMS = ["key", "agg", "row", "scan"]


def _toks_df(spark, sf_dir):
    return t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(_TOKS()).alias("term")
    )


def _dl_df(spark, sf_dir):
    return t(spark, sf_dir, "documents").select(
        "doc_id", F.size(_TOKS()).alias("doc_len")
    )


# ----------------------------------------------------------------- doc stats

def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token counts — the doc_lengths SEARCH sub-store
    (schema/codegraph.surql:933 DOC_LENGTHS_ORDER) as an explicit table."""
    return _dl_df(spark, sf_dir)


DOC_STATS_SQL = """
SELECT doc_id,
       len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS doc_len
FROM documents
"""


def dictionary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term dictionary (term, df, cf) — the terms sub-store
    (schema/codegraph.surql:933 TERMS_ORDER)."""
    return _toks_df(spark, sf_dir).groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"), F.count(F.lit(1)).alias("cf")
    )


DICTIONARY_STATS_SQL = """
SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
FROM (SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS term
      FROM documents)
GROUP BY term
"""


def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N/avgdl corpus scalars (BM25 length normalization inputs)."""
    return _dl_df(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("doc_len"), 6).alias("avgdl"),
        F.sum("doc_len").alias("n_tokens"),
    )


CORPUS_STATS_SQL = """
SELECT count(*) AS n_docs, round(avg(doc_len), 6) AS avgdl,
       cast(sum(doc_len) AS bigint) AS n_tokens
FROM (SELECT len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS doc_len
      FROM documents)
"""


def term_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postings as rows for the fixed query terms — the uncompressed
    logical content of the postings sub-store (surql:933 POSTINGS_ORDER)."""
    toks = _toks_df(spark, sf_dir)
    return (
        toks.filter(F.col("term").isin(BM25_QUERY_TERMS))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


TERM_POSTINGS_SQL = """
SELECT term, doc_id, count(*) AS tf
FROM (SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS term
      FROM documents)
WHERE term IN ('key', 'agg', 'row', 'scan')
GROUP BY term, doc_id
"""


# ----------------------------------------------------------------- BM25 SQL

def bm25_topk(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Exhaustive BM25(1.2, 0.75) top-k over documents for the fixed
    query — the 'degenerate index' end-to-end slice (SURVEY.md §7):
    tf/df/dl via joins, scoring in whole-stage-codegen expressions,
    TakeOrderedAndProject top-k. Semantics of surql:425-447.

    ORACLE-ONLY slice: re-tokenizes the corpus per call, so it is the
    DuckDB-mirrorable twin, not the production path — the engine-backed
    ``indexed.bm25_index_topk`` (compressed postings + MaxScore) is
    what ``entry()`` routes through.  Corpus scalars (N, avgdl) come
    from ONE fused aggregation = one driver action, not two."""
    from pyspark.sql import Window

    scored = _bm25_scored(spark, sf_dir)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )


def _bm25_inputs(spark: SparkSession, sf_dir: str):
    """(tf DataFrame, dl DataFrame, n_docs, avgdl) for sf_dir.

    The exhaustive oracle-slice family (bm25_topk + filtered + hybrid +
    rerank) would otherwise re-derive tf/doc_len from the raw text on
    every call; the inputs are a pure function of ``documents``, so one
    persisted materialization per session and snapshot of that file
    serves them all (qcache.DERIVED; eviction unpersists both frames).
    The engine path's twin is the on-disk ``indexed.ensure_doc_index``."""
    from pyspark import StorageLevel

    def compute():
        dl = _dl_df(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
        stats = dl.agg(
            F.count(F.lit(1)).alias("n_docs"), F.avg("doc_len").alias("avgdl")
        ).collect()[0]
        tf = (
            _toks_df(spark, sf_dir)
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        return tf, dl, stats["n_docs"], stats["avgdl"] or 1.0

    def release(hit):
        for df in hit[:2]:
            df.unpersist()

    return DERIVED.get_or_compute(
        spark,
        ("bm25_inputs", sf_dir),
        [os.path.join(sf_dir, "documents.parquet")],
        compute,
        release,
    )


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score) for EVERY doc matching the fixed query — the
    un-truncated exhaustive ranking bm25_topk and the filtered variant
    both consume (no global sort here; callers sort/limit)."""
    tf, dl, n_docs, avgdl = _bm25_inputs(spark, sf_dir)
    dfr = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    q = spark.createDataFrame([(x,) for x in BM25_QUERY_TERMS], "term string")
    return (
        tf.join(F.broadcast(q), "term")
        .join(dfr, "term")
        .join(dl, "doc_id")
        .withColumn(
            "partial",
            F.log(
                (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
            )
            * (F.col("tf") * (1.2 + 1.0))
            / (F.col("tf") + 1.2 * (1.0 - 0.75 + 0.75 * F.col("doc_len") / F.lit(float(avgdl)))),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("partial"), 6).alias("score"))
    )


_BM25_TOPK_SQL_T = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS term
  FROM documents
),
dl AS (
  SELECT doc_id,
         len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS doc_len
  FROM documents
),
stats AS (
  SELECT cast(count(*) AS double) AS n_docs, avg(doc_len) AS avgdl FROM dl
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         round(sum(
           ln((s.n_docs - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0)
           * (tf.tf * (1.2 + 1.0))
           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.doc_len / s.avgdl))
         ), 6) AS score
  FROM tf
  JOIN dfr USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  WHERE tf.term IN ('key', 'agg', 'row', 'scan')
  GROUP BY tf.doc_id
)
SELECT doc_id, score,
       cast(row_number() OVER (ORDER BY score DESC, doc_id) AS int) AS rank
FROM scored ORDER BY score DESC, doc_id LIMIT {k}
"""

BM25_TOPK_SQL = _BM25_TOPK_SQL_T.format(k=10)


def bm25_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k restricted by a metadata SearchFilters predicate —
    the reference composes typed filters onto text search
    (crates/codegraph-vector/src/search.rs SearchFilters applied to the
    candidate set; surql WHERE + @@ conjunctions).  Semantics: scores
    use FULL-corpus statistics (df, N, avgdl — the index is global),
    the predicate prunes candidates, top-k is of the filtered set.

    The metadata predicate reaches the parquet scan of the candidate
    join side (lang isin + n_chars range are pushable); at the engine
    tier the same composition is overfetch-then-filter-then-refill —
    here the exhaustive scoring keeps the entry oracle-exact."""
    from pyspark.sql import Window

    scored = _bm25_scored(spark, sf_dir)  # un-truncated — no global sort
    meta = t(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "de") & F.col("n_chars").between(500, 5000)
    ).select("doc_id", "lang", "n_chars")
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.join(meta, "doc_id")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
        .withColumn("rank", F.row_number().over(w))
        .select("doc_id", "score", "lang", "n_chars", "rank")
    )


# Oracle bound: the ranked CTE keeps the top 10^6 query-matching docs
# before the metadata join — exhaustive for every driver SF (≤ 10^5
# docs total); on a corpus with > 10^6 matches the oracle could drop
# filtered candidates the Spark side keeps.  Raise k with the test SF.
BM25_TOPK_FILTERED_SQL = f"""
WITH ranked AS ({_BM25_TOPK_SQL_T.format(k=10 ** 6)}),
meta AS (
  SELECT doc_id, lang, n_chars FROM documents
  WHERE lang IN ('en', 'de') AND n_chars BETWEEN 500 AND 5000
)
SELECT r.doc_id, r.score, m.lang, m.n_chars,
       cast(row_number() OVER (ORDER BY r.score DESC, r.doc_id) AS int) AS rank
FROM ranked r JOIN meta m ON m.doc_id = r.doc_id
ORDER BY r.score DESC, r.doc_id LIMIT 10
"""


def find_docs_by_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring containment filter, analog of
    ``string::lowercase(name) CONTAINS $q`` (schema/codegraph.surql:162)."""
    return (
        t(spark, sf_dir, "documents")
        .filter(F.contains(F.lower(F.col("text")), F.lit("spark")))
        .select("doc_id", "n_chars")
    )


FIND_DOCS_BY_TERM_SQL = """
SELECT doc_id, n_chars FROM documents WHERE contains(lower(text), 'spark')
"""


def top_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup by source with distinct-language list, analog of
    fn::get_top_directories (schema/codegraph.surql:1051-1066)."""
    return (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy(F.desc("n_docs"), F.asc("source"))
        .limit(10)
    )


TOP_SOURCES_SQL = """
SELECT source, count(*) AS n_docs,
       array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs,
       round(avg(n_chars), 2) AS avg_chars
FROM documents GROUP BY source
ORDER BY n_docs DESC, source LIMIT 10
"""


def metadata_search_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite metadata SearchFilters — the reference's typed filter
    object (languages isin + numeric range + array membership,
    crates/codegraph-vector/src/search.rs SearchFilters / surql
    composite-index predicates :843-849) as one pushed-down conjunctive
    scan: categorical isin, range, and token-array CONTAINS."""
    d = t(spark, sf_dir, "documents")
    return (
        d.filter(
            F.col("lang").isin("en", "de")
            & F.col("n_chars").between(500, 5000)
            & F.array_contains(_TOKS(), "data")
        )
        .select("doc_id", "lang", "n_chars")
    )


METADATA_SEARCH_FILTERS_SQL = """
SELECT doc_id, lang, n_chars
FROM documents
WHERE lang IN ('en', 'de')
  AND n_chars BETWEEN 500 AND 5000
  AND list_contains(list_filter(string_split(lower(text), ' '), x -> x <> ''), 'data')
"""


# --------------------------------------------------------------- text stats

def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and BPE-ish regex runs."""
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(_TOKS()).alias("n_ws_tokens"),
        F.expr("size(regexp_extract_all(lower(text), '[a-z0-9]+', 0))").alias(
            "n_re_tokens"
        ),
    )


TOKEN_COUNT_SQL = """
SELECT doc_id,
       len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_ws_tokens,
       len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_re_tokens
FROM documents
"""


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length, mean word length, alpha ratio
    (training-pipeline doc filtering)."""
    d = t(spark, sf_dir, "documents")
    n_words = F.size(_TOKS())
    n_chars = F.length("text")
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round((n_chars - (n_words - 1)).cast("double") / F.nullif(n_words.cast("double"), F.lit(0.0)), 6).alias("mean_word_len"),
        F.round(n_alpha.cast("double") / F.nullif(n_chars.cast("double"), F.lit(0.0)), 6).alias("alpha_ratio"),
    )


QUALITY_SCORE_SQL = """
SELECT doc_id,
       len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_words,
       round(cast(length(text) - (len(list_filter(string_split(lower(text), ' '), x -> x <> '')) - 1) AS double)
             / nullif(cast(len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS double), 0.0), 6) AS mean_word_len,
       round(cast(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS double)
             / nullif(cast(length(text) AS double), 0.0), 6) AS alpha_ratio
FROM documents
"""


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram language-ID heuristic: frequency of common English bigrams
    per character (training-pipeline language filter)."""
    d = t(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))

    def bigram_count(bg: str):
        return (F.length(low) - F.length(F.regexp_replace(low, bg, ""))) / F.lit(
            float(len(bg))
        )

    rate = (
        (bigram_count("th") + bigram_count("er") + bigram_count("on") + bigram_count("an"))
        / F.nullif(F.length(low).cast("double"), F.lit(0.0))
    )
    return d.select(
        "doc_id",
        F.round(rate, 6).alias("en_bigram_rate"),
        F.when(rate >= 0.01, F.lit("en")).otherwise(F.lit("other")).alias("pred_lang"),
    )


LANG_ID_SQL = """
SELECT doc_id,
       round(((length(lower(text)) - length(replace(lower(text), 'th', ''))) / 2.0
            + (length(lower(text)) - length(replace(lower(text), 'er', ''))) / 2.0
            + (length(lower(text)) - length(replace(lower(text), 'on', ''))) / 2.0
            + (length(lower(text)) - length(replace(lower(text), 'an', ''))) / 2.0)
            / nullif(cast(length(lower(text)) AS double), 0.0), 6) AS en_bigram_rate,
       CASE WHEN ((length(lower(text)) - length(replace(lower(text), 'th', ''))) / 2.0
            + (length(lower(text)) - length(replace(lower(text), 'er', ''))) / 2.0
            + (length(lower(text)) - length(replace(lower(text), 'on', ''))) / 2.0
            + (length(lower(text)) - length(replace(lower(text), 'an', ''))) / 2.0)
            / nullif(cast(length(lower(text)) AS double), 0.0) >= 0.01
            THEN 'en' ELSE 'other' END AS pred_lang
FROM documents
"""


def doclen_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p95 of document length per language — the corpus
    profiling step a curation pipeline runs before setting its quality
    thresholds.  EXACT percentiles (sort-based linear interpolation,
    identical in Spark's percentile() and DuckDB's quantile_cont —
    verified value-equal), not approx sketches: profiling feeds
    thresholds, and a threshold from an approximate quantile is a
    silently different dataset.  At 10^12 docs swap in
    approx_percentile with a documented error bound."""
    return (
        t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("percentile(n_chars, 0.25)").alias("p25_chars"),
            F.expr("percentile(n_chars, 0.5)").alias("p50_chars"),
            F.expr("percentile(n_chars, 0.95)").alias("p95_chars"),
        )
    )


DOCLEN_PERCENTILES_SQL = """
SELECT lang, count(*) AS n_docs,
       quantile_cont(n_chars, 0.25) AS p25_chars,
       quantile_cont(n_chars, 0.5) AS p50_chars,
       quantile_cont(n_chars, 0.95) AS p95_chars
FROM documents GROUP BY lang
"""


def vocab_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-frequency head of the vocabulary (top-20 terms by corpus
    frequency) — the Zipf profile a corpus report leads with, and the
    empirical input to every skew dial in this repo (salt thresholds,
    shingle df caps are sized off exactly this curve)."""
    from pyspark.sql import Window

    d = dictionary_stats(spark, sf_dir)
    w = Window.orderBy(F.desc("cf"), F.asc("term"))
    return (
        d.orderBy(F.desc("cf"), F.asc("term"))
        .limit(20)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "term", "df", "cf")
    )


VOCAB_ZIPF_PROFILE_SQL = f"""
WITH d AS ({DICTIONARY_STATS_SQL})
SELECT cast(row_number() OVER (ORDER BY cf DESC, term) AS int) AS rank,
       term, df, cf
FROM d ORDER BY cf DESC, term LIMIT 20
"""


TFIDF_TOP_K = 3


def tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document — keyword tagging for the
    training pipeline (the classic tf·idf = tf · (ln((N+1)/(df+1))+1)
    smooth-idf form).  One tf aggregation, one df aggregation, a
    broadcast-friendly join, and a doc_id-partitioned rank window
    (natural key, no skew); scores rounded to 6dp before ranking so
    the tie-break (score desc, term asc) is engine-independent."""
    from pyspark.sql import Window

    toks = _toks_df(spark, sf_dir)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfr = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = t(spark, sf_dir, "documents").count()
    scored = tf.join(dfr, "term").withColumn(
        "score",
        F.round(
            F.col("tf")
            * (F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0),
            6,
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("kw_rank", F.row_number().over(w))
        .filter(F.col("kw_rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "score", "kw_rank")
    )


TFIDF_KEYWORDS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT cast(count(*) AS double) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(tf.tf * (ln((n.n_docs + 1.0) / (dfr.df + 1.0)) + 1.0), 6) AS score
  FROM tf JOIN dfr USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term) AS kw_rank
  FROM scored
)
SELECT doc_id, term, tf, cast(kw_rank AS int) AS kw_rank, score
FROM ranked WHERE kw_rank <= {TFIDF_TOP_K}
"""


# -------------------------------------------------------------------- dedup

def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy — the reference's SHA-256
    content_hash ledger semantics (file_metadata, surql:856-870;
    detect_file_changes indexer.rs:3186-3251)."""
    return (
        t(spark, sf_dir, "documents")
        .groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


EXACT_DEDUP_SQL = """
SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
"""


# Tokens per duplicated-span window.  Lee et al. 2022 ("Deduplicating
# Training Data Makes Language Models Better") use 50-BPE-token spans
# at web scale; the dial tracks the span length considered memorizable
# — constant in corpus size n.  4 fits the short synthetic docs (and
# yields real cross-doc signal at the test SFs).  Stride = W
# (non-overlapping): windows per doc = tokens/W, so the whole stage is
# LINEAR in corpus tokens — the stride-1 exact variant multiplies that
# by W and is what the suffix-array batch job buys back offline.
DUP_SPAN_W = 4


def dup_span_profile(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Sub-document duplicated-span profile: hash fixed-width token
    windows, mark spans appearing in ≥ 2 DISTINCT docs, and rank docs
    by the fraction of their windows that are cross-doc duplicates —
    the doc-level signal CC pipelines use to strip boilerplate and
    memorizable repeats that whole-doc dedup (exact_dedup_groups,
    MinHash) cannot see.

    Scale shape (100 TB): window extraction is pure column exprs over
    one scan (no Python); the distinct (doc, span) projection and the
    span-count agg both partial-aggregate map-side, so a boilerplate
    span present in 10^9 docs arrives at its reducer as per-partition
    partial counts, never as 10^9 rows — the window-function
    formulation (count OVER (PARTITION BY whash)) was rejected for
    exactly that hot-key reason.  The rejoin is a shuffle join on
    whash, the same partitioning the agg just produced."""
    w = DUP_SPAN_W
    wins = (
        t(spark, sf_dir, "documents")
        .select("doc_id", _TOKS().alias("a"))
        .filter(F.size("a") >= w)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(a) div {w}), "
                    f"i -> md5(array_join(slice(a, (i-1)*{w}+1, {w}), ' ')))"
                )
            ).alias("whash"),
        )
    )
    counts = (
        wins.select("doc_id", "whash")
        .distinct()
        .groupBy("whash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    dup = F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)).cast("long")
    return (
        wins.join(counts, "whash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            dup.alias("dup_windows"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("dup_windows") / F.col("n_windows"), 6),
        )
        .orderBy(F.desc("dup_frac"), F.asc("doc_id"))
        .limit(k)
    )


DUP_SPAN_PROFILE_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS a
  FROM documents
),
win AS (
  SELECT doc_id,
         md5(array_to_string(a[(i-1)*{DUP_SPAN_W}+1 : i*{DUP_SPAN_W}], ' ')) AS whash
  FROM toks, unnest(range(1, len(a)//{DUP_SPAN_W} + 1)) AS t(i)
  WHERE len(a) >= {DUP_SPAN_W}
),
counts AS (
  SELECT whash, count(*) AS n_docs
  FROM (SELECT DISTINCT doc_id, whash FROM win) GROUP BY whash
)
SELECT w.doc_id,
       count(*) AS n_windows,
       cast(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS bigint) AS dup_windows,
       round(cast(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS double)
             / cast(count(*) AS double), 6) AS dup_frac
FROM win w JOIN counts c USING (whash)
GROUP BY w.doc_id
ORDER BY dup_frac DESC, doc_id
LIMIT 20
"""


def _trigrams(spark, sf_dir):
    # docs with < 3 tokens produce no trigrams — filter BEFORE the
    # transform: under ANSI mode a[i] on an out-of-range index raises
    # (an empty or 2-token doc used to crash the whole job); with the
    # filter, i ranges over [0, size-3] so every a[i+2] is in bounds
    d = t(spark, sf_dir, "documents").select("doc_id", _TOKS().alias("a"))
    # per-doc dedup via array_distinct INSIDE the row instead of a
    # corpus-wide .distinct(): the distinct key is (doc_id, sh) and all
    # of a doc's shingles are generated in its own row, so the row-local
    # dedup is set-identical — and it removes a full shuffle of ~25-byte
    # string keys from every trigram consumer (jaccard / minhash /
    # fingerprint / the whole neardup+curate family)
    return (
        d.filter(F.size("a") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(0, size(a) - 3), "
                        "i -> concat_ws(' ', a[i], a[i+1], a[i+2]))"
                    )
                )
            ).alias("sh"),
        )
    )


# Shingles appearing in more than this many docs are dropped before the
# self-join: a single hot trigram in 10^6 docs would otherwise emit 10^12
# join rows (quadratic in its df).  Hot shingles are boilerplate — they
# carry no near-dup signal — so the Jaccard universe is the capped set
# (sizes are computed post-cap on BOTH sides so the ratio stays coherent).
SHINGLE_DF_CAP = 1000


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs by word-trigram Jaccard ≥ 0.1 — the
    shingle→intersect→ratio pattern (reference's trigram Jaccard
    similarity for symbols, indexer.rs:2883-2964, applied doc-level).
    Shingles with df > SHINGLE_DF_CAP are excluded (skew guard: the
    self-join is quadratic per hot shingle).  Shingles are hashed to
    int64 BEFORE any shuffle — 8-byte join/group keys instead of
    ~25-byte strings (collision odds ~n²/2^65: immaterial next to the
    0.1 threshold)."""
    raw = _trigrams(spark, sf_dir).select(
        "doc_id", F.xxhash64("sh").alias("sh")
    )
    hot = (
        raw.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("sh_df"))
        .filter(F.col("sh_df") > SHINGLE_DF_CAP)
        .select("sh")
    )
    # no broadcast hint: the hot set is usually tiny (AQE will broadcast
    # it), but at 100 TB it can exceed driver memory — let AQE decide.
    sh = raw.join(hot, "sh", "left_anti").persist()
    try:
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        a = sh.alias("a")
        b = sh.alias("b")
        common = (
            a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .agg(F.count(F.lit(1)).alias("common"))
        )
        sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
        sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
        out = (
            common.join(sa, "doc_a")
            .join(sb, "doc_b")
            .withColumn(
                "jaccard",
                F.round(
                    F.col("common")
                    / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
                    6,
                ),
            )
            .filter(F.col("jaccard") >= 0.1)
            .select("doc_a", "doc_b", "jaccard")
        )
        # materialize the (small) pair set so the shingle cache can be
        # RELEASED before returning — repeated registry calls in a
        # long-lived session must not accumulate cached partitions
        return out.localCheckpoint(eager=True)
    finally:
        sh.unpersist()


NGRAM_JACCARD_SQL = """
WITH toksa AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS a
  FROM documents
),
sh_raw AS (
  SELECT DISTINCT doc_id, a[g] || ' ' || a[g+1] || ' ' || a[g+2] AS sh
  FROM (SELECT doc_id, a, unnest(generate_series(1, greatest(len(a) - 2, 0))) AS g
        FROM toksa)
),
sh AS (
  SELECT doc_id, sh FROM sh_raw
  WHERE sh NOT IN (SELECT sh FROM sh_raw GROUP BY sh HAVING count(*) > 1000)
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(common / cast(sa.n_sh + sb.n_sh - common AS double), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE common / cast(sa.n_sh + sb.n_sh - common AS double) >= 0.1
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over the sorted distinct trigram set
    (order-insensitive content signature; analog of the reference's
    content-hash identity, types.rs:13-34)."""
    sh = _trigrams(spark, sf_dir)
    return sh.groupBy("doc_id").agg(
        F.md5(F.array_join(F.array_sort(F.collect_set("sh")), "|")).alias("fingerprint")
    )


DOC_FINGERPRINT_SQL = """
WITH toksa AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS a
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, a[g] || ' ' || a[g+1] || ' ' || a[g+2] AS sh
  FROM (SELECT doc_id, a, unnest(generate_series(1, greatest(len(a) - 2, 0))) AS g
        FROM toksa)
)
SELECT doc_id, md5(array_to_string(list_sort(list(sh)), '|')) AS fingerprint
FROM sh GROUP BY doc_id
"""


# --------------------------------------------------------------- similarity

def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 query vector —
    the exhaustive baseline of the KNN sort (surrealdb_storage.rs:295-303;
    surql:621-627). Dot products in whole-stage-codegen higher-order
    functions (no Python)."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    dot = "aggregate(zip_with(embedding, q_emb, (x, y) -> cast(x AS double) * cast(y AS double)), cast(0 AS double), (acc, v) -> acc + v)"
    nrm = "sqrt(aggregate(transform(embedding, x -> cast(x AS double) * cast(x AS double)), cast(0 AS double), (acc, v) -> acc + v))"
    qnrm = "sqrt(aggregate(transform(q_emb, x -> cast(x AS double) * cast(x AS double)), cast(0 AS double), (acc, v) -> acc + v))"
    from pyspark.sql import Window

    scored = (
        e.crossJoin(F.broadcast(q))
        .withColumn("cosine", F.round(F.expr(f"({dot}) / (({nrm}) * ({qnrm}))"), 6))
        .select("vec_id", "cosine")
    )
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
        .withColumn("rank", F.row_number().over(w))
    )


KNN_BRUTEFORCE_SQL = """
WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         round(
           list_dot_product(cast(e.embedding AS double[]), cast(q.q_emb AS double[]))
           / (sqrt(list_dot_product(cast(e.embedding AS double[]), cast(e.embedding AS double[])))
              * sqrt(list_dot_product(cast(q.q_emb AS double[]), cast(q.q_emb AS double[])))),
           6) AS cosine
  FROM embeddings e CROSS JOIN q
)
SELECT vec_id, cosine,
       cast(row_number() OVER (ORDER BY cosine DESC, vec_id) AS int) AS rank
FROM scored ORDER BY cosine DESC, vec_id LIMIT 10
"""


def ann_signbucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-style bucketed ANN: 4-bit sign signature over fixed
    components prunes the candidate set, then exact cosine within the
    query's bucket — the IVF/LSH two-stage shape of the reference's
    1M-vector path (CHANGELOG.md:1079-1082), scale path for ANN."""
    e = t(spark, sf_dir, "embeddings")
    sig = F.concat(
        *[
            F.when(F.element_at("embedding", i) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in (1, 8, 20, 32)
        ]
    ).alias("bucket")
    eb = e.select("vec_id", "embedding", sig)
    qb = eb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"), F.col("bucket").alias("q_bucket")
    )
    dot = "aggregate(zip_with(embedding, q_emb, (x, y) -> cast(x AS double) * cast(y AS double)), cast(0 AS double), (acc, v) -> acc + v)"
    nrm = "sqrt(aggregate(transform(embedding, x -> cast(x AS double) * cast(x AS double)), cast(0 AS double), (acc, v) -> acc + v))"
    qnrm = "sqrt(aggregate(transform(q_emb, x -> cast(x AS double) * cast(x AS double)), cast(0 AS double), (acc, v) -> acc + v))"
    from pyspark.sql import Window

    scored = (
        eb.join(F.broadcast(qb), eb.bucket == qb.q_bucket)
        .withColumn("cosine", F.round(F.expr(f"({dot}) / (({nrm}) * ({qnrm}))"), 6))
        .select("vec_id", "bucket", "cosine")
    )
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
        .withColumn("rank", F.row_number().over(w))
    )


ANN_SIGNBUCKET_SQL = """
WITH eb AS (
  SELECT vec_id, embedding,
         (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
          CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END ||
          CASE WHEN embedding[20] >= 0 THEN '1' ELSE '0' END ||
          CASE WHEN embedding[32] >= 0 THEN '1' ELSE '0' END) AS bucket
  FROM embeddings
),
q AS (SELECT embedding AS q_emb, bucket AS q_bucket FROM eb WHERE vec_id = 0),
scored AS (
  SELECT eb.vec_id, eb.bucket,
         round(
           list_dot_product(cast(eb.embedding AS double[]), cast(q.q_emb AS double[]))
           / (sqrt(list_dot_product(cast(eb.embedding AS double[]), cast(eb.embedding AS double[])))
              * sqrt(list_dot_product(cast(q.q_emb AS double[]), cast(q.q_emb AS double[])))),
           6) AS cosine
  FROM eb JOIN q ON eb.bucket = q.q_bucket
)
SELECT vec_id, bucket, cosine,
       cast(row_number() OVER (ORDER BY cosine DESC, vec_id) AS int) AS rank
FROM scored ORDER BY cosine DESC, vec_id LIMIT 5
"""


def embedding_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-pool partial aggregation per label over embedding arrays —
    the per-node chunk-embedding average (chunker.rs:335-374) as a
    posexplode + partial-avg plan (first 8 dims, long format)."""
    e = t(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .filter(F.col("pos") < 8)
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("avg_val"))
    )


EMBEDDING_MEAN_POOL_SQL = """
SELECT label, cast(g - 1 AS int) AS pos,
       round(avg(cast(embedding[g] AS double)), 6) AS avg_val
FROM (SELECT label, embedding, unnest(generate_series(1, 8)) AS g FROM embeddings)
GROUP BY label, g
"""


def hybrid_score_topk(
    spark: SparkSession,
    sf_dir: str,
    w_vector: float = 0.9,
    w_text: float = 0.1,
) -> DataFrame:
    """Hybrid w_vector·vector + w_text·text combined top-k — the
    reference's hybrid fusion (schema/codegraph.surql:452-478; weights
    0.9/0.1 at :471 and 0.7/0.3 in the experimental schema
    codegraph_graph_experimental.surql:879-885 — configurable here)
    with documents.doc_id ≡ embeddings.vec_id.

    ORACLE-ONLY slice (inherits the exhaustive bm25_topk): the engine
    path is ``indexed.hybrid_index_topk``."""
    from pyspark.sql import Window

    text = bm25_topk(spark, sf_dir).select(
        F.col("doc_id"), F.col("score").alias("text_score")
    )
    vec = knn_bruteforce(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), F.col("cosine").alias("vector_score")
    )
    combined = (
        vec.join(text, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                w_vector * F.coalesce("vector_score", F.lit(0.0))
                + w_text * F.coalesce("text_score", F.lit(0.0)),
                6,
            ).alias("combined_score"),
        )
    )
    w = Window.orderBy(F.desc("combined_score"), F.asc("doc_id"))
    return (
        combined.orderBy(F.desc("combined_score"), F.asc("doc_id"))
        .limit(10)
        .withColumn("rank", F.row_number().over(w))
    )


def _hybrid_sql(w_vector: float, w_text: float) -> str:
    return f"""
WITH text_hits AS (
  SELECT doc_id, score AS text_score FROM ({BM25_TOPK_SQL})
),
vec_hits AS (
  SELECT vec_id AS doc_id, cosine AS vector_score FROM ({KNN_BRUTEFORCE_SQL})
),
combined AS (
  SELECT coalesce(v.doc_id, t.doc_id) AS doc_id,
         round({w_vector!r} * coalesce(v.vector_score, 0.0)
               + {w_text!r} * coalesce(t.text_score, 0.0), 6) AS combined_score
  FROM vec_hits v FULL OUTER JOIN text_hits t ON v.doc_id = t.doc_id
)
SELECT doc_id, combined_score,
       cast(row_number() OVER (ORDER BY combined_score DESC, doc_id) AS int) AS rank
FROM combined ORDER BY combined_score DESC, doc_id LIMIT 10
"""


HYBRID_SCORE_TOPK_SQL = _hybrid_sql(0.9, 0.1)


def hybrid_score_topk_73(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experimental-schema weighting (0.7 vector / 0.3 text,
    reference: schema/codegraph_graph_experimental.surql:879-885)."""
    return hybrid_score_topk(spark, sf_dir, w_vector=0.7, w_text=0.3)


HYBRID_SCORE_TOPK_73_SQL = _hybrid_sql(0.7, 0.3)
