"""The index build job — analog of ``codegraph index <path>``.

Mirrors the reference's bulk pipeline (`index_project`,
crates/codegraph-mcp/src/indexer.rs:860-2231) re-expressed as Spark
stage boundaries:

  reference stage                      → our stage
  ------------------------------------   -------------------------------
  clean/incremental gate (:869-976)    → resume check on committed tables
  parse/extract (:1036-1060)           → tokenized table (mapInArrow)
  deterministic IDs (:1087-1102)       → xxhash64(url) doc ids (JVM)
  persist nodes + SEARCH upkeep (:1500)→ ledger/dictionary/postings writes
  metadata + lineage (:2160-2173)      → build_manifest rows
  final metrics (:2192-2216)           → per-stage docs/sec, postings/sec

The tokenize output (the expensive extract+stem pass) is materialized
as a parquet table rather than a JVM cache: columnar on disk beats a
heap full of per-row map objects (measured: the cached variant GC-
thrashed at 32 local threads), it is the natural resume checkpoint,
and it is the doc-granular ledger incremental updates splice
(streaming/incremental.py).  Every table write is committed atomically
(_SUCCESS marker); a rerun with resume=True skips committed stages —
the reference's content-hash CDC gate (indexer.rs:3186-3251) at stage
granularity, with per-tbucket lineage rows for partition accounting.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import IndexConfig
from ..operators.postings import (
    build_postings,
    dictionary_stage,
    explode_tf,
    tokenize_stage,
)
from ..sources.catalog import Catalog

TOKENIZED = "tokenized"
CORPUS = "corpus_stats"
DICT = "dictionary"
POSTINGS = "postings"
MANIFEST = "build_manifest"


def write_lineage(cat: Catalog, fingerprint: int) -> int:
    """Per-tbucket manifest rows (north rule: per-partition lineage +
    metrics), mirroring file_metadata (surql:856-870).  The per-bucket
    aggregates come from pyarrow over the postings table's int columns
    (``n``, ``n_bytes`` — precomputed at encode time) on the driver, so
    lineage costs no Spark job in a build or an index update.  Returns
    the total posting count."""
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.compute as pc

    post = cat.read_local(POSTINGS, columns=["tbucket", "n", "n_bytes"])
    post = post.set_column(0, "tbucket", post.column(0).cast(pa.int32()))
    agg = post.group_by("tbucket").aggregate(
        [("n", "count"), ("n", "sum"), ("n_bytes", "sum")]
    ).sort_by("tbucket")
    n = agg.num_rows
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    cat.write_local(
        pa.table(
            {
                "tbucket": agg.column("tbucket"),
                "rows": agg.column("n_count").cast(pa.int64()),
                "postings": agg.column("n_sum").fill_null(0).cast(pa.int64()),
                "bytes": agg.column("n_bytes_sum").fill_null(0).cast(pa.int64()),
                "stage": pa.array([POSTINGS] * n, pa.string()),
                "input_fingerprint": pa.array([int(fingerprint)] * n, pa.int64()),
                "committed_at": pa.array([now] * n, pa.timestamp("us")),
            }
        ),
        MANIFEST,
    )
    return int(pc.sum(agg.column("n_sum")).as_py() or 0)


CORPUS_AGGS = lambda: [  # noqa: E731 — shared by observe and agg paths
    F.count(F.lit(1)).alias("n_docs"),
    F.avg("doc_len").alias("avgdl"),
    F.sum("doc_len").alias("n_tokens"),
    F.expr("bit_xor(xxhash64(url))").alias("input_fingerprint"),
]


def write_corpus_row(cat: Catalog, spark: SparkSession, got: dict) -> None:
    import pyarrow as pa

    cat.write_local(
        pa.table(
            {
                "n_docs": pa.array([int(got["n_docs"])], pa.int64()),
                "avgdl": pa.array([float(got["avgdl"] or 0.0)], pa.float64()),
                "n_tokens": pa.array([int(got["n_tokens"] or 0)], pa.int64()),
                "input_fingerprint": pa.array(
                    [int(got["input_fingerprint"] or 0)], pa.int64()
                ),
            }
        ),
        CORPUS,
    )


def read_docs(spark: SparkSession, cat: Catalog) -> DataFrame:
    """The ``docs`` table is a column-pruned VIEW over the tokenized
    ledger — parquet columnar layout means reading the four scalar
    columns never touches the term/tf array pages, so a separate
    physical copy would only add a write stage and a second commit to
    every build."""
    return cat.read(spark, TOKENIZED).select(
        "doc_id", "url", "content_hash", "doc_len"
    )


def derived_stages(
    spark: SparkSession, cat: Catalog, cfg: IndexConfig, metrics: dict,
    done: dict | None = None, corpus_row: dict | None = None,
) -> dict:
    """corpus/dictionary/postings from a committed tokenized table —
    the stages of ``build_index`` after the ledger.  ``corpus_row``
    carries the corpus scalars of the ledger write so the fresh-build
    path never re-reads the one-row table it just wrote (every Spark
    action has a fixed scheduling floor; the scaling protocol counts
    them all)."""
    done = done or {}

    def timed(name, fn):
        t = time.time()
        fn()
        metrics.setdefault("stages", {})[name] = {"wall_s": round(time.time() - t, 3)}

    tokenized = cat.read(spark, TOKENIZED)

    if not done.get(CORPUS):
        # resume path only: in a fresh build these scalars ride the
        # ledger write's per-task partials (write_arrow_direct)
        timed(CORPUS, lambda: cat.write(tokenized.agg(*CORPUS_AGGS()), CORPUS))
    stats_row = corpus_row or cat.read_local(CORPUS).to_pylist()[0]
    n_docs, avgdl = int(stats_row["n_docs"]), float(stats_row["avgdl"] or 0.0)
    metrics["n_docs"], metrics["avgdl"] = n_docs, avgdl

    tf = explode_tf(tokenized)

    if not done.get(DICT):
        timed(DICT, lambda: cat.write(dictionary_stage(tf), DICT))
    dictionary = cat.read(spark, DICT)

    if not done.get(POSTINGS):
        def _postings():
            est_rows = int(n_docs * max(avgdl, 1.0) * 0.85)
            post = build_postings(tokenized, dictionary, cfg, est_rows=est_rows)
            # worker-direct partitioned write: encoded rows stream from
            # the merge tasks straight into tbucket=X parquet files
            # (no JVM row transpose of the payload blobs)
            cat.write_arrow_direct(post, POSTINGS, partition_col="tbucket")
        timed(POSTINGS, _postings)

    total = write_lineage(cat, int(stats_row["input_fingerprint"] or 0))
    return {"n_docs": n_docs, "avgdl": avgdl, "total_postings": total}


def partition_input(pages: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Tokenize-input partitioning: a uniform hash on url, so each task
    gets a mix of document sizes."""
    if not cfg.input_partitions:
        return pages
    if "url" in pages.columns:
        return pages.repartition(cfg.input_partitions, "url")
    return pages.repartition(cfg.input_partitions)


def write_url_unique(
    spark: SparkSession, cat: Catalog, name: str, cfg: IndexConfig, write
) -> dict:
    """Commit the tokenized ledger ``name`` through ``write(dedup)``
    (returning its corpus scalars) with urls unique.

    Duplicate urls collide on doc_id = xxhash64(url), so
    distinct(doc_id) < n_docs exposes them; checking the ledger's one
    int64 column replaces an eager url-probe scan of the raw corpus.
    Only on a violation does ``write(True)`` rewrite from
    url-deduplicated pages, and only then is the ledger re-checked: a
    collision left after the rewrite is a true xxhash64 collision
    between distinct urls, raised rather than committed."""
    stats = write(False)
    if (
        cfg.doc_id_mode != "hash"
        or not stats["n_docs"]
        or cat.read(spark, name).select("doc_id").distinct().count()
        == stats["n_docs"]
    ):
        return stats
    stats = write(True)
    dup = cat.read(spark, name).groupBy("doc_id").count().filter("count > 1").first()
    if dup is not None:
        raise ValueError(
            f"distinct urls collide on doc_id {dup['doc_id']} (xxhash64) "
            f"in ledger '{name}'"
        )
    return stats


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
    resume: bool = True,
) -> dict:
    """Build (or resume) the inverted index at index_dir. Returns metrics."""
    cfg = cfg or IndexConfig()
    cat = Catalog(index_dir)
    metrics: dict = {"stages": {}, "resumed": []}
    t0 = time.time()

    pages = partition_input(pages, cfg)

    done = {}
    for name in (TOKENIZED, CORPUS, DICT, POSTINGS):
        done[name] = resume and cat.exists(name)
        if done[name]:
            metrics["resumed"].append(name)

    corpus_row = None
    if not done[TOKENIZED]:
        # worker-direct Arrow parquet write (no JVM row transpose —
        # Catalog.write_arrow_direct); the corpus scalars
        # (n_docs/avgdl/fingerprint) ride the same pass as per-task
        # partials, costing zero extra jobs or scans
        t = time.time()
        corpus_row = write_url_unique(
            spark,
            cat,
            TOKENIZED,
            cfg,
            lambda dedup: cat.write_arrow_direct(
                tokenize_stage(
                    pages.dropDuplicates(["url"]) if dedup else pages,
                    cfg,
                    probe_dups=False,
                ),
                TOKENIZED,
                ledger_stats="hash" if cfg.doc_id_mode == "hash" else True,
            ),
        )
        metrics["stages"][TOKENIZED] = {"wall_s": round(time.time() - t, 3)}
        write_corpus_row(cat, spark, corpus_row)
        done[CORPUS] = True

    derived = derived_stages(spark, cat, cfg, metrics, done, corpus_row=corpus_row)

    total_postings = derived["total_postings"]
    n_docs = metrics["n_docs"]
    wall = time.time() - t0
    metrics.update(
        {
            "wall_s": round(wall, 3),
            "total_postings": int(total_postings),
            "docs_per_sec": round(n_docs / wall, 1) if wall > 0 else None,
            "postings_per_sec": round(int(total_postings) / wall, 1) if wall > 0 else None,
            "bytes": {t: cat.bytes(t) for t in (TOKENIZED, DICT, POSTINGS)},
        }
    )
    with open(os.path.join(index_dir, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=2)
    from dataclasses import asdict

    with open(os.path.join(index_dir, "config.json"), "w") as f:
        json.dump(asdict(cfg), f, indent=2)
    return metrics
