"""Incremental index maintenance — change-data-capture + delete-then-insert.

Re-expresses the reference's incremental path:

* change detection by content hash vs the ledger —
  ``detect_file_changes`` classifying Added/Modified/Deleted/Unchanged
  (crates/codegraph-mcp/src/indexer.rs:3186-3251) → a join of the new
  snapshot's (url, xxhash64) against the stored ``docs`` table
  (full-outer when the input is a full snapshot; left when it is an
  upsert feed from the watch source, which never implies deletes);
* unchanged ⇒ early return (indexer.rs:869-976 gate);
* delete-then-insert for changed docs (indexer.rs:1040-1048, 932-938)
  → splice the doc-granular ``tokenized`` ledger, then bring the
  derived tables up to date INCREMENTALLY:

  - dictionary: df/cf delta merge — subtract the removed docs' term
    counts, add the new docs', keep every other row (no full re-agg);
  - postings: re-encode ONLY the touched term buckets (the buckets of
    terms appearing in removed or added docs) and replace exactly those
    ``tbucket=X`` directories; every other bucket's files stay
    BYTE-IDENTICAL — possible because posting rows carry no global
    corpus statistics (block metadata is (tf_max, dl_min), not
    precomputed scores — operators/postings.py);
  - corpus/manifest: recomputed from the spliced ledger (doc-granular
    columnar scans, cheap relative to encode); the docs surface itself
    is a pruned view over the ledger (plans/build.read_docs), so there
    is no docs table to rebuild.

Cost model at scale: extraction + stemming runs only on changed
documents; encode + write touches only the term buckets those
documents' vocabularies hash into.  Global BM25 statistics (N, avgdl)
change with any update, but they live in the one-row ``corpus_stats``
table read at query time — posting payloads don't embed them.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import IndexConfig
from ..operators.postings import delta_merge_postings, explode_tf, tokenize_stage
from ..plans.build import (
    CORPUS,
    DICT,
    DOCS,
    POSTINGS,
    TOKENIZED,
    read_docs,
    write_corpus_row,
    write_lineage,
    write_url_unique,
)
from ..sources.catalog import Catalog


def _swap_table(cat: Catalog, name: str) -> None:
    """Crash-safe table swap: live → _old, _next → live, delete _old."""
    old_aside = cat.path(name + "_old")
    shutil.rmtree(old_aside, ignore_errors=True)
    if os.path.exists(cat.path(name)):
        os.rename(cat.path(name), old_aside)
    os.rename(cat.path(name + "_next"), cat.path(name))
    shutil.rmtree(old_aside, ignore_errors=True)


def _swap_ledger(cat: Catalog) -> None:
    _swap_table(cat, TOKENIZED)


def recover_ledger(cat: Catalog, name: str = TOKENIZED) -> bool:
    """Complete an interrupted swap of `name` (idempotent).  Returns
    True if recovery ran.  Rules: a committed live table wins; else a
    committed _next is promoted; a leftover _old is the fallback when
    neither live nor _next committed (crash mid-write)."""
    live, nxt, old = (cat.path(name + s) for s in ("", "_next", "_old"))
    if cat.exists(name):
        for p in (nxt, old):
            shutil.rmtree(p, ignore_errors=True)
        return False
    if cat.exists(name + "_next"):
        shutil.rmtree(live, ignore_errors=True)
        os.rename(nxt, live)
        shutil.rmtree(old, ignore_errors=True)
        return True
    if os.path.exists(old):
        shutil.rmtree(live, ignore_errors=True)
        os.rename(old, live)
        return True
    return False


def detect_changes(
    spark: SparkSession,
    pages_new: DataFrame,
    index_dir: str,
    cfg: IndexConfig,
    full_snapshot: bool = True,
) -> DataFrame:
    """Classify each url: added | modified | deleted | unchanged.
    With full_snapshot=False (watch-source upserts) absent urls are
    simply not reported — never 'deleted'."""
    cat = Catalog(index_dir)
    old = read_docs(spark, cat).select(
        "url", F.col("content_hash").alias("old_hash")
    )
    src_col = "html" if "html" in pages_new.columns else "text"
    new = pages_new.select("url", F.xxhash64(src_col).alias("new_hash"))
    joined = new.join(old, "url", "full_outer" if full_snapshot else "left")
    return joined.select(
        "url",
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("deleted"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("modified"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
    )


def _splice_postings(cat: Catalog, touched: list[int]) -> None:
    """Replace exactly the touched tbucket=X directories of the live
    postings table with the freshly encoded ones; every other bucket's
    files are untouched (byte-identical)."""
    post_dir = cat.path(POSTINGS)
    next_dir = cat.path(POSTINGS + "_next")
    for b in touched:
        sub = f"tbucket={int(b)}"
        dst = os.path.join(post_dir, sub)
        src = os.path.join(next_dir, sub)
        shutil.rmtree(dst, ignore_errors=True)
        if os.path.isdir(src):
            os.rename(src, dst)
    shutil.rmtree(next_dir, ignore_errors=True)


def incremental_update(
    spark: SparkSession,
    pages_new: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
    full_snapshot: bool = True,
) -> dict:
    """Bring the index at index_dir up to date with pages_new."""
    cfg = cfg or IndexConfig()
    cat = Catalog(index_dir)
    recover_ledger(cat)  # complete any interrupted swap first
    if not cat.exists(TOKENIZED):
        raise ValueError(f"index at {index_dir} has no '{TOKENIZED}' ledger")
    t0 = time.time()

    changes = detect_changes(spark, pages_new, index_dir, cfg, full_snapshot)
    changes = changes.persist()
    counts = {
        r["change"]: r["n"]
        for r in changes.groupBy("change").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    metrics: dict = {"changes": counts, "stages": {}}
    if not (counts.get("added") or counts.get("modified") or counts.get("deleted")):
        changes.unpersist()
        metrics.update({"unchanged": True, "wall_s": round(time.time() - t0, 3)})
        return metrics

    changed_urls = changes.filter(F.col("change") != "unchanged").select("url")
    reindex_urls = changes.filter(
        F.col("change").isin("added", "modified")
    ).select("url")

    # --- delete-then-insert on the doc-granular tokenized ledger
    old_tok = cat.read(spark, TOKENIZED)
    keep_tok = old_tok.join(changed_urls, "url", "left_anti")
    pages_re = pages_new.join(reindex_urls, "url", "left_semi")
    # worker-direct Arrow write (no JVM row transpose); the NEW
    # ledger's corpus scalars ride the write as per-task partials, so
    # the post-splice corpus re-scan below is free.  Duplicate urls in
    # the delta collide on doc_id — write_url_unique dedups on violation
    next_stats = write_url_unique(
        spark,
        cat,
        TOKENIZED + "_next",
        cfg,
        lambda dedup: cat.write_arrow_direct(
            keep_tok.unionByName(
                tokenize_stage(
                    pages_re.dropDuplicates(["url"]) if dedup else pages_re,
                    cfg,
                    probe_dups=False,
                ).select(*old_tok.columns)
            ),
            TOKENIZED + "_next",
            ledger_stats=True,
        ),
    )
    next_tok = cat.read(spark, TOKENIZED + "_next")

    # --- dictionary delta merge (everything below reads the OLD ledger
    #     lazily, so it runs before any swap)
    # materialized once: both frames feed the dictionary delta AND the
    # postings delta-merge; without truncation each consumer re-runs
    # the ledger semi-join + explode (O(delta) rows, tiny)
    removed_tf = explode_tf(
        old_tok.join(changed_urls, "url", "left_semi")
    ).localCheckpoint(eager=False)
    added_tf = explode_tf(
        next_tok.join(reindex_urls, "url", "left_semi")
    ).localCheckpoint(eager=False)
    rm = removed_tf.groupBy("term_id").agg(
        F.count(F.lit(1)).alias("rm_df"), F.sum("tf").alias("rm_cf")
    )
    ad = added_tf.groupBy("term_id").agg(
        F.count(F.lit(1)).alias("ad_df"), F.sum("tf").alias("ad_cf")
    )
    delta = rm.join(ad, "term_id", "full_outer").persist()
    touched = sorted(
        int(r["b"])
        for r in delta.select(
            F.pmod(F.col("term_id"), F.lit(cfg.term_buckets)).alias("b")
        )
        .distinct()
        .collect()
    )
    metrics["touched_tbuckets"] = touched
    old_dict = cat.read(spark, DICT)
    merged = (
        old_dict.join(delta, "term_id", "full_outer")
        .select(
            "term_id",
            (
                F.coalesce("df", F.lit(0))
                - F.coalesce("rm_df", F.lit(0))
                + F.coalesce("ad_df", F.lit(0))
            ).alias("df"),
            (
                F.coalesce("cf", F.lit(0))
                - F.coalesce("rm_cf", F.lit(0))
                + F.coalesce("ad_cf", F.lit(0))
            ).alias("cf"),
        )
        .filter(F.col("df") > 0)
    )
    t = time.time()
    cat.write(merged, DICT + "_next")
    metrics["stages"][DICT] = {"wall_s": round(time.time() - t, 3)}

    # --- term-granular delta merge of the touched buckets: unchanged
    #     terms' encoded rows pass through byte-identical; only delta
    #     terms decode + re-encode (operators/postings.
    #     delta_merge_postings) — the previous path re-ran the whole
    #     SPIMI pipeline over every doc whose terms hash into a touched
    #     bucket, which at web dials (a 1% delta's vocabulary covers
    #     every bucket) degenerated into a full postings rebuild
    t = time.time()
    cat.write_arrow_direct(
        delta_merge_postings(
            cat.read(spark, POSTINGS), removed_tf, added_tf, cfg, touched
        ),
        POSTINGS + "_next",
        partition_col="tbucket",
    )
    metrics["stages"][POSTINGS] = {"wall_s": round(time.time() - t, 3)}
    delta.unpersist()

    # --- swap + splice (directory ops only from here on)
    _swap_ledger(cat)
    _swap_table(cat, DICT)
    _splice_postings(cat, touched)

    # --- corpus scalars: the _next ledger IS the live ledger after the
    #     swap, and its scalars rode the write above — no re-scan.
    #     (docs is a pruned view over tokenized — plans/build.read_docs
    #     — so no table rebuild; a physical docs dir from an older
    #     index would now be stale)
    cat.drop(DOCS)
    stats = next_stats
    write_corpus_row(cat, spark, stats)
    write_lineage(cat, spark, int(stats["input_fingerprint"] or 0))

    changes.unpersist()
    metrics.update(
        {
            "unchanged": False,
            "n_docs": int(stats["n_docs"]),
            "wall_s": round(time.time() - t0, 3),
        }
    )
    return metrics
