"""Registry entries answered through the BUILT compressed-postings
engine (SPIMI build → Group-VarInt split-layout codec → salted
term-sharded postings → doc-residue-parallel MaxScore), oracled by the
same exhaustive DuckDB SQL as the degenerate re-tokenize plans.

This is the driver-facing proof that the REAL engine — not just an
equivalent DataFrame expression — produces the reference semantics
(BM25(1.2, 0.75) top-k of schema/codegraph.surql:425-447): the Spark
side decodes compressed posting payloads; the oracle recomputes from
raw text.

The index is built once per source snapshot into a cache directory
(``ensure_doc_index``; resume=True makes repeat calls a metadata
check); the ``simple`` analyzer is used so DuckDB can replay
tokenization exactly.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..config import IndexConfig
from .qcache import mtime_ns
from .textops import (
    BM25_QUERY_TERMS,
    BM25_TOPK_SQL,
    HYBRID_SCORE_TOPK_SQL,
    knn_bruteforce,
)

_CACHE_TAG = "v2"  # bump when index layout / analyzer config changes

# iterations taken by the last bm25_index_topk_filtered refill loop
# (test-visible witness for the geometric-budget argument)
LAST_REFILL_ITERS = 0


def _doc_index_cfg() -> IndexConfig:
    return IndexConfig(
        analyzer="simple",
        doc_id_mode="provided",
        input_partitions=16,
        salt_df_threshold=2000,
        max_salts=16,
    )


def _digest(x) -> str:
    return hashlib.sha1(repr(x).encode()).hexdigest()[:16]


def ensure_doc_index(spark: SparkSession, sf_dir: str) -> tuple[str, IndexConfig]:
    """Build (or reuse) the postings index over ``documents`` at sf_dir.

    The index directory is named by its source's identity, a digest of
    (abspath(sf_dir), documents.parquet's snapshot token, _CACHE_TAG),
    behind a prefix digest of the abspath alone: two sources sharing a
    basename get separate indexes, a ``documents`` rewritten in place
    gets a fresh one, and building it removes the same source's stale
    snapshots (the siblings under that prefix)."""
    from ..plans.build import build_index
    from .common import t

    cfg = _doc_index_cfg()
    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    root = os.path.join(repo, ".data")
    src = os.path.abspath(sf_dir)
    prefix = f"docidx_{_digest(src)}_"
    token = mtime_ns(os.path.join(src, "documents.parquet"))
    index_dir = os.path.join(root, prefix + _digest((src, token, _CACHE_TAG)))
    if not os.path.isdir(index_dir) and os.path.isdir(root):
        for name in os.listdir(root):
            if name.startswith(prefix):
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    pages = t(spark, sf_dir, "documents").select("doc_id", "text")
    build_index(spark, pages, index_dir, cfg, resume=True)
    return index_dir, cfg


def bm25_index_topk(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """BM25(1.2, 0.75) top-k for the fixed query, answered through the
    compressed inverted index (MaxScore + block-max skipping) — the
    engine path; the DuckDB oracle recomputes exhaustively from text.

    Raw-score top-2k is re-ranked on the ROUNDED score (the oracle
    orders by its 6-dp rounded sum) so boundary ties resolve
    identically; the overfetch covers any tie group crossing rank k.
    """
    from ..operators.topk import InvertedIndex

    index_dir, cfg = ensure_doc_index(spark, sf_dir)
    idx = InvertedIndex(spark, index_dir, cfg)
    raw = idx.topk_batch(
        [(0, " ".join(BM25_QUERY_TERMS))], k=2 * k, mode="maxscore"
    ).drop("qid", "rank")
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        raw.withColumn("score", F.round("score", 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "score", "rank")
    )


BM25_INDEX_TOPK_SQL = BM25_TOPK_SQL  # identical semantics, engine-backed


def hybrid_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid 0.9·vector + 0.1·text fusion (schema/codegraph.surql:452-478)
    with the TEXT side through the compressed-postings engine but the
    VECTOR side still an exhaustive corpus scan — this entry is the
    ORACLE TWIN of the flagship, kept because its exhaustive vector leg
    is what the DuckDB SQL replays exactly.  The SERVING path is
    ``nsw.hybrid_nsw_topk`` (both legs through real indexes: postings
    MaxScore + NSW beam search), which is what ``entry()`` routes
    through — do not mistake this one for the production plan."""
    text = bm25_index_topk(spark, sf_dir).select(
        "doc_id", F.col("score").alias("text_score")
    )
    vec = knn_bruteforce(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), F.col("cosine").alias("vector_score")
    )
    combined = vec.join(text, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            0.9 * F.coalesce("vector_score", F.lit(0.0))
            + 0.1 * F.coalesce("text_score", F.lit(0.0)),
            6,
        ).alias("combined_score"),
    )
    w = Window.orderBy(F.desc("combined_score"), F.asc("doc_id"))
    return (
        combined.orderBy(F.desc("combined_score"), F.asc("doc_id"))
        .limit(10)
        .withColumn("rank", F.row_number().over(w))
    )


HYBRID_INDEX_TOPK_SQL = HYBRID_SCORE_TOPK_SQL  # same semantics, engine-backed


def bm25_index_topk_filtered(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Metadata-filtered BM25 top-k THROUGH the engine: overfetch from
    the compressed index, filter candidates by the SearchFilters
    predicate, REFILL (4× deeper) until the top-k of the filtered set
    is provably complete — the production composition sketched in
    ``textops.bm25_topk_filtered`` (whose exhaustive plan is the shared
    oracle).

    Exactness argument: engine scores equal exhaustive scores
    (rank-identity gates), so the filtered top-k is final once
    (a) ≥ k filtered hits are in hand AND the lowest fetched ROUNDED
    score is strictly below the k-th filtered rounded score (no
    unfetched doc can tie into the boundary, where doc_id tie-breaks
    could reorder), or (b) the fetch depth covers the corpus."""
    from ..operators.topk import InvertedIndex
    from .common import t

    index_dir, cfg = ensure_doc_index(spark, sf_dir)
    idx = InvertedIndex(spark, index_dir, cfg)
    meta = t(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "de") & F.col("n_chars").between(500, 5000)
    ).select("doc_id", "lang", "n_chars")

    # Budget: fetch grows 4× per refill, so reaching every doc that
    # matches any query term takes ceil(log4(matches / (4k+25))) + 1
    # iterations — 3 covers 64·(4k+25) ≈ 4k docs at k=10, and the
    # n_fetched < fetch exit fires at corpus exhaustion regardless.
    # Each iteration costs 2 driver actions (count + boundary collect)
    # on an ≤fetch-row checkpointed frame, not a re-decode.
    fetch = 4 * k + 25  # the reference's overfetch rule as the opener
    prev = None
    global LAST_REFILL_ITERS
    LAST_REFILL_ITERS = 0
    while True:
        LAST_REFILL_ITERS += 1
        # ONE engine execution per iteration: materialize the (≤ fetch
        # rows) result, then derive count / min / k-th from it without
        # re-triggering the postings decode.  Each deeper fetch
        # strictly supersedes the last — release its storage.
        raw = (
            idx.topk_batch([(0, " ".join(BM25_QUERY_TERMS))], k=fetch, mode="maxscore")
            .drop("qid", "rank")
            .withColumn("score", F.round("score", 6))
            .localCheckpoint(eager=True)
        )
        if prev is not None:
            prev.unpersist()
        prev = raw
        n_fetched = raw.count()
        rows = (
            raw.join(meta, "doc_id")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k + 1)
            .collect()
        )
        if n_fetched < fetch:
            break  # corpus exhausted — every matching doc fetched
        if len(rows) >= k:
            kth = rows[k - 1]["score"]
            fetched_min = raw.agg(F.min("score")).collect()[0][0]
            if fetched_min is not None and fetched_min < kth:
                break
        fetch *= 4

    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        raw.join(meta, "doc_id")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("doc_id", "score", "lang", "n_chars", "rank")
    )


from .textops import BM25_TOPK_FILTERED_SQL as BM25_INDEX_TOPK_FILTERED_SQL  # noqa: E402
# identical semantics (full-corpus stats, filter on candidates), engine-backed


def context_enriched_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-context enrichment composed onto the flagship: decorate
    each hybrid top-k hit with its top-5 related documents — the
    reference's batch post-retrieval enrichment
    (schema/codegraph.surql:480-535: fetch edges for ALL result nodes
    in TWO queries and join back, never per-row round-trips).

    Relatedness surrogate on the webtext tables: same ``source`` (the
    driver testdata's only inter-document link), ranked by n_chars
    desc.  The plan honors the reference's "two queries" discipline —
    exactly two corpus joins, both building a broadcast hash table
    from the k-row result side; the corpus never shuffles."""
    from .common import t

    topk = hybrid_index_topk(spark, sf_dir)
    docs = t(spark, sf_dir, "documents")
    # join 1: FK-deref the k results to their source (broadcast the k rows)
    hits = docs.select("doc_id", "source").join(F.broadcast(topk), "doc_id")
    # join 2: batch-fetch ALL related docs for ALL results at once
    rel = docs.select(
        F.col("doc_id").alias("rel_doc_id"),
        "source",
        F.col("n_chars").alias("rel_n_chars"),
    )
    pairs = rel.join(
        F.broadcast(hits.select("doc_id", "combined_score", "rank", "source")),
        "source",
    ).filter(F.col("rel_doc_id") != F.col("doc_id"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("rel_n_chars"), F.asc("rel_doc_id")
    )
    return (
        pairs.withColumn("rel_rank", F.row_number().over(w))
        .filter(F.col("rel_rank") <= 5)
        .select("doc_id", "combined_score", "rank", "rel_doc_id", "rel_rank")
    )


CONTEXT_ENRICHED_TOPK_SQL = f"""
WITH topk AS ({HYBRID_INDEX_TOPK_SQL}),
hits AS (
  SELECT t.doc_id, t.combined_score, t.rank, d.source
  FROM topk t JOIN documents d ON d.doc_id = t.doc_id
),
pairs AS (
  SELECT h.doc_id, h.combined_score, h.rank,
         d.doc_id AS rel_doc_id, d.n_chars AS rel_n_chars
  FROM hits h JOIN documents d
    ON d.source = h.source AND d.doc_id != h.doc_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY rel_n_chars DESC, rel_doc_id) AS rel_rank
  FROM pairs
)
SELECT doc_id, combined_score, rank, rel_doc_id, cast(rel_rank AS int) AS rel_rank
FROM ranked WHERE rel_rank <= 5
"""
