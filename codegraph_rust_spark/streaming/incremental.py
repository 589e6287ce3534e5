"""Incremental index maintenance — change-data-capture + delete-then-insert.

Re-expresses the reference's incremental path:

* change detection by content hash vs the ledger —
  ``detect_file_changes`` classifying Added/Modified/Deleted/Unchanged
  (crates/codegraph-mcp/src/indexer.rs:3186-3251) → a join of the new
  snapshot's (url, xxhash64) against the stored ``docs`` table
  (full-outer when the input is a full snapshot; left when it is an
  upsert feed from the watch source, which never implies deletes); a
  null url matches nothing, as a SQL join key;
* unchanged ⇒ early return (indexer.rs:869-976 gate);
* delete-then-insert for changed docs (indexer.rs:1040-1048, 932-938)
  → splice the doc-granular ``tokenized`` ledger, then bring the
  derived tables up to date INCREMENTALLY:

  - dictionary: df/cf delta merge — subtract the removed docs' term
    counts, add the new docs', keep every other row (no full re-agg);
  - postings: re-encode ONLY the terms of removed or added docs
    (``operators/postings.merge_delta``) and replace exactly the
    ``tbucket=X`` directories they hash into; every other bucket's
    files stay BYTE-IDENTICAL — possible because posting rows carry no
    global corpus statistics (block metadata is (tf_max, dl_min), not
    precomputed scores — operators/postings.py);
  - corpus/manifest: the corpus scalars ride the ledger write; the
    per-bucket manifest is re-aggregated from the postings table's two
    int columns.  The docs surface is a pruned view over the ledger
    (plans/build.read_docs), so there is no docs table to rebuild.

Dispatch.  Before any job runs, the update sums the on-disk bytes of
the committed ``tokenized``, ``dictionary`` and ``postings`` tables (a
directory walk) and the input's optimizer size estimate
(``sizeInBytes`` of its optimized plan — one driver→JVM call, no job).
At most ``LOCAL_MAX_BYTES`` the update runs IN-PROCESS: one Spark job
collects the input's (doc_id, url, xxhash64(source), source) as Arrow;
everything else — classification, the lifted tokenize kernel on the
re-indexed pages, the ledger and dictionary rewrites, the delta-merge
kernel over the touched buckets, the corpus and manifest rows — runs
on the driver with pyarrow/numpy, written through the same part
writer as the Spark path (``Catalog.write_arrow_local``).  Larger
indexes run the Spark plan, whose postings stage runs the same kernel
per task.  The two paths write equal tables (pinned by
tests/test_incremental.py).

Commit and recovery.  An update first writes complete ``<table>_next``
copies (ledger and dictionary whole, postings only for the touched
buckets), each committed with its ``_SUCCESS`` marker.  Then it writes
ONE update record (``UPDATE_RECORD``: the touched buckets, those with
rows, and the new corpus row) atomically, and only then rolls the
index forward: swap the ledger, swap the dictionary, splice the touched
postings buckets, write the corpus row and the manifest, delete the
record.  Every step is idempotent, so ``incremental_update`` starts by
recovering: a record left by a crash is rolled forward to the end; with
no record, any ``_next`` table belongs to an update that never
committed and is discarded.  A crash at any point therefore leaves
either the old index or, after the next update call, the new one —
never a ledger that no longer matches its postings.

Cost model at scale: extraction + stemming runs only on changed
documents; encode + write touches only the term buckets those
documents' vocabularies hash into.  Global BM25 statistics (N, avgdl)
change with any update, but they live in the one-row ``corpus_stats``
table read at query time — posting payloads don't embed them.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..config import IndexConfig
from ..operators.postings import (
    POSTINGS_SCHEMA,
    TOKENIZED_SCHEMA,
    delta_merge_postings,
    explode_tf,
    merge_delta,
    tokenize_batch,
    tokenize_stage,
)
from ..plans.build import (
    DICT,
    POSTINGS,
    TOKENIZED,
    read_docs,
    write_corpus_row,
    write_lineage,
    write_url_unique,
)
from ..sources.catalog import Catalog

# Index bytes on disk (ledger + dictionary + postings) plus the input's
# estimated bytes up to which an update runs in-process.  The
# in-process path runs the kernels serially on the driver over the
# whole ledger, the dictionary and every touched bucket; the Spark plan
# pays 5-10 s of job overhead per update but runs on every core.  On a
# 4-vCPU host (perfbench corpus, 2k-120k pages; 8-page upsert, 1% and
# 5% snapshot deltas, upserts of 2k-40k new pages) no delta ran slower
# in-process up to 152 MB, where the 8-page upsert into 120k pages
# reached near parity (9.1 s vs 9.9 s); the first loss was a 1% delta
# at 255 MB (21.6 s vs 17.5 s).  The cap sits just below 152 MB.
# Input bytes cost the driver about as much memory per byte as index
# bytes (peak RSS 14-21x the sum), so the sum also bounds the driver's
# memory: about 2.6 GB at the cap.  Sweep in CHANGES.md.
LOCAL_MAX_BYTES = 144 << 20

# the update record: written once every _next table is committed,
# deleted once the index has been rolled forward
UPDATE_RECORD = "_update.json"


def _swap_table(cat: Catalog, name: str) -> None:
    """Promote a committed ``name_next`` to ``name`` (live → _old,
    _next → live, delete _old).  Idempotent: rerun after a crash at any
    point, it finishes the swap."""
    live, nxt, old = (cat.path(name + s) for s in ("", "_next", "_old"))
    if cat.exists(name + "_next"):
        if os.path.exists(live):
            shutil.rmtree(old, ignore_errors=True)
            os.rename(live, old)
        os.rename(nxt, live)
    shutil.rmtree(old, ignore_errors=True)


def _splice_postings(cat: Catalog, touched: list[int], written: list[int]) -> None:
    """Replace exactly the touched tbucket=X directories of the live
    postings table with the freshly encoded ones (``written``: the
    touched buckets that still hold rows; the others are removed);
    every other bucket's files are untouched (byte-identical).
    Idempotent: a bucket already moved in is left alone."""
    post_dir = cat.path(POSTINGS)
    next_dir = cat.path(POSTINGS + "_next")
    written = set(written)
    for b in touched:
        sub = f"tbucket={int(b)}"
        dst = os.path.join(post_dir, sub)
        src = os.path.join(next_dir, sub)
        if os.path.isdir(src):
            shutil.rmtree(dst, ignore_errors=True)
            os.rename(src, dst)
        elif b not in written:
            shutil.rmtree(dst, ignore_errors=True)
    shutil.rmtree(next_dir, ignore_errors=True)


def _roll_forward(cat: Catalog, rec: dict) -> None:
    """Apply a committed update record to the live index, then delete
    the record.  Every step is idempotent."""
    _swap_table(cat, TOKENIZED)
    _swap_table(cat, DICT)
    _splice_postings(cat, rec["touched"], rec["written"])
    write_corpus_row(cat, None, rec["corpus"])
    write_lineage(cat, int(rec["corpus"]["input_fingerprint"] or 0))
    os.remove(cat.path(UPDATE_RECORD))


def _commit(cat: Catalog, rec: dict) -> None:
    """Write the update record atomically, then roll forward."""
    path = cat.path(UPDATE_RECORD)
    with open(path + ".tmp", "w") as f:
        json.dump(rec, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(path + ".tmp", path)
    _roll_forward(cat, rec)


def recover(cat: Catalog) -> bool:
    """Bring the index to a consistent state after an interrupted
    update (idempotent); True if anything was repaired.  A committed
    update record is rolled forward; without one, ``_next`` tables are
    an update that never committed and are deleted, and a table moved
    aside with no replacement is moved back."""
    if os.path.exists(cat.path(UPDATE_RECORD)):
        with open(cat.path(UPDATE_RECORD)) as f:
            _roll_forward(cat, json.load(f))
        return True
    repaired = os.path.exists(cat.path(UPDATE_RECORD + ".tmp"))
    if repaired:
        os.remove(cat.path(UPDATE_RECORD + ".tmp"))
    for name in (TOKENIZED, DICT, POSTINGS):
        if os.path.exists(cat.path(name + "_next")):
            shutil.rmtree(cat.path(name + "_next"))
            repaired = True
        old = cat.path(name + "_old")
        if os.path.isdir(old):
            if not cat.exists(name):
                shutil.rmtree(cat.path(name), ignore_errors=True)
                os.rename(old, cat.path(name))
            shutil.rmtree(old, ignore_errors=True)
            repaired = True
    return repaired


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


def _index_bytes(cat: Catalog) -> int:
    return sum(cat.bytes(t) for t in (TOKENIZED, DICT, POSTINGS))


def _input_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate of `df` (no job runs)."""
    qe = df._jdf.queryExecution()
    return int(str(qe.optimizedPlan().stats().sizeInBytes()))


def incremental_update(
    spark: SparkSession,
    pages_new: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
    full_snapshot: bool = True,
) -> dict:
    """Bring the index at index_dir up to date with pages_new, on the
    path the module docstring's dispatch rule picks.  Returns the
    update profile: ``path`` (``local`` | ``spark``), the ``changes``
    counts, ``touched_tbuckets``, and per stage (``dictionary``,
    ``postings``) the wall and the rows/bytes read and written."""
    cfg = cfg or IndexConfig()
    cat = Catalog(index_dir)
    recover(cat)  # finish or discard an interrupted update first
    if not cat.exists(TOKENIZED):
        raise ValueError(f"index at {index_dir} has no '{TOKENIZED}' ledger")
    t0 = time.time()
    local = _index_bytes(cat) + _input_bytes(pages_new) <= LOCAL_MAX_BYTES
    metrics: dict = {"path": "local" if local else "spark", "stages": {}}
    update = _update_local if local else _update_spark
    rec = update(spark, pages_new, cat, cfg, full_snapshot, metrics)
    if rec is not None:
        _commit(cat, rec)
        metrics["n_docs"] = int(rec["corpus"]["n_docs"])
    metrics.update({"unchanged": rec is None, "wall_s": round(time.time() - t0, 3)})
    return metrics


def _stage(metrics: dict, name: str, fn, read: dict, cat: Catalog) -> None:
    """Run one stage writing ``name + "_next"``; record its wall and
    the rows/bytes it read (`read`) and wrote."""
    t = time.time()
    fn()
    metrics["stages"][name] = {
        "wall_s": round(time.time() - t, 3),
        "read": read,
        "written": cat.io(name + "_next"),
    }


def _written_buckets(cat: Catalog) -> list[int]:
    d = cat.path(POSTINGS + "_next")
    return sorted(int(s.split("=")[1]) for s in os.listdir(d) if s.startswith("tbucket="))


def _update_spark(spark, pages_new, cat, cfg, full_snapshot, metrics):
    """The Spark plan: every stage is a distributed job.  Writes the
    ``_next`` tables and returns the update record, or None when
    nothing changed."""
    changes = detect_changes(spark, pages_new, cat.root, cfg, full_snapshot)
    changes = changes.persist()
    counts = {
        r["change"]: r["n"]
        for r in changes.groupBy("change").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    metrics["changes"] = counts
    if not (counts.get("added") or counts.get("modified") or counts.get("deleted")):
        changes.unpersist()
        return None

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
    # no corpus re-scan is needed.  Duplicate urls in the delta collide
    # on doc_id — write_url_unique dedups on violation
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
            ledger_stats="hash" if cfg.doc_id_mode == "hash" else True,
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
    merged = (
        cat.read(spark, DICT).join(delta, "term_id", "full_outer")
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
    _stage(metrics, DICT, lambda: cat.write(merged, DICT + "_next"), cat.io(DICT), cat)

    # --- term-granular delta merge of the touched buckets: unchanged
    #     terms' encoded rows pass through byte-identical; only delta
    #     terms decode + re-encode (operators/postings.merge_delta)
    _stage(
        metrics, POSTINGS,
        lambda: cat.write_arrow_direct(
            delta_merge_postings(
                cat.read(spark, POSTINGS), removed_tf, added_tf, cfg, touched
            ),
            POSTINGS + "_next",
            partition_col="tbucket",
        ),
        cat.io(POSTINGS, ("tbucket", touched)), cat,
    )
    delta.unpersist()
    changes.unpersist()
    return {"touched": touched, "written": _written_buckets(cat), "corpus": next_stats}


def _postings_of(tok: pa.Table) -> tuple[np.ndarray, ...]:
    """(term_id, doc_id, tf, doc_len) of every posting of ledger rows —
    ``explode_tf`` on the driver."""
    n = pc.list_value_length(tok.column("term_ids")).to_numpy(zero_copy_only=False)
    return (
        pc.list_flatten(tok.column("term_ids")).to_numpy().astype(np.int64),
        np.repeat(tok.column("doc_id").to_numpy(), n),
        pc.list_flatten(tok.column("tfs")).to_numpy().astype(np.int64),
        np.repeat(tok.column("doc_len").to_numpy(), n),
    )


def _tokenize_local(pages: pa.Table, src: str, cfg: IndexConfig) -> pa.Table:
    schema = to_arrow_schema(TOKENIZED_SCHEMA)
    if not pages.num_rows:
        return schema.empty_table()
    rb = pages.select(["doc_id", "url", "content_hash", src]).combine_chunks().to_batches()[0]
    return pa.Table.from_batches([tokenize_batch(rb, src, cfg.analyzer)]).cast(schema)


def _dup_doc_id(tok: pa.Table):
    """A doc_id held by more than one ledger row, or None."""
    u, c = np.unique(tok.column("doc_id").to_numpy(), return_counts=True)
    return int(u[c > 1][0]) if (c > 1).any() else None


def _reindex(keep: pa.Table, pages: pa.Table, src: str, cfg: IndexConfig) -> pa.Table:
    """Ledger rows of the re-indexed `pages`, by ``write_url_unique``'s
    rule: in hash mode a doc_id held twice in ``keep`` ∪ new rows means
    duplicate urls, so the pages are re-tokenized with each url's first
    row only; a doc_id still held twice is a true xxhash64 collision
    between distinct urls and raises."""
    tok = _tokenize_local(pages, src, cfg)
    if cfg.doc_id_mode != "hash" or _dup_doc_id(pa.concat_tables([keep, tok])) is None:
        return tok
    urls = pages.column("url").to_numpy(zero_copy_only=False)
    tok = _tokenize_local(pages.take(np.sort(np.unique(urls, return_index=True)[1])), src, cfg)
    dup = _dup_doc_id(pa.concat_tables([keep, tok]))
    if dup is not None:
        raise ValueError(
            f"distinct urls collide on doc_id {dup} (xxhash64) "
            f"in ledger '{TOKENIZED}_next'"
        )
    return tok


def _update_local(spark, pages_new, cat, cfg, full_snapshot, metrics):
    """The in-process update: one Spark job collects the input, the
    driver does the rest.  Same contract as ``_update_spark``."""
    src = "html" if "html" in pages_new.columns else "text"
    hashed = cfg.doc_id_mode == "hash"
    if not hashed and "doc_id" not in pages_new.columns:
        raise ValueError("doc_id_mode='provided' but no doc_id column")
    key = F.xxhash64("url") if hashed else F.col("doc_id").cast("long")
    pages = pages_new.select(
        key.alias("doc_id"), "url", F.xxhash64(src).alias("content_hash"), src
    ).toArrow()
    ledger = cat.read_local(TOKENIZED).cast(to_arrow_schema(TOKENIZED_SCHEMA))

    # --- classify: the same join as detect_changes (null urls match
    #     nothing, so they count but are never re-indexed or removed)
    joined = pages.select(["url", "content_hash"]).rename_columns(["url", "new_hash"]).join(
        ledger.select(["url", "content_hash"]).rename_columns(["url", "old_hash"]),
        "url",
        join_type="full outer" if full_snapshot else "left outer",
    )
    added = joined.column("old_hash").is_null()
    deleted = joined.column("new_hash").is_null()
    modified = pc.fill_null(
        pc.not_equal(joined.column("old_hash"), joined.column("new_hash")), False
    )
    change = pc.if_else(
        added, "added", pc.if_else(deleted, "deleted", pc.if_else(modified, "modified", "unchanged"))
    )
    vc = pc.value_counts(change).to_pylist()
    metrics["changes"] = {d["values"]: d["counts"] for d in vc}
    if not pc.any(pc.not_equal(change, "unchanged")).as_py():
        return None
    url = joined.column("url")
    changed_urls = pc.filter(url, pc.not_equal(change, "unchanged")).drop_null()
    reindex_urls = pc.filter(url, pc.or_(added, modified)).drop_null()

    # --- delete-then-insert on the ledger (write_url_unique's rule)
    is_changed = pc.is_in(ledger.column("url"), value_set=changed_urls)
    removed = ledger.filter(is_changed)
    pages_re = pages.filter(pc.is_in(pages.column("url"), value_set=reindex_urls))
    pages_re = pages_re.filter(pc.is_valid(pages_re.column("doc_id")))
    keep = ledger.filter(pc.invert(is_changed))
    new_tok = _reindex(keep, pages_re, src, cfg)
    next_stats = cat.write_arrow_local(
        pa.concat_tables([keep, new_tok]), TOKENIZED + "_next",
        ledger_stats="hash" if cfg.doc_id_mode == "hash" else True,
    )

    rm_t, rm_d, rm_tf, _ = _postings_of(removed)
    ad_t, ad_d, ad_tf, ad_dl = _postings_of(new_tok)
    touched = sorted(set(np.mod(np.concatenate([rm_t, ad_t]), cfg.term_buckets).tolist()))
    metrics["touched_tbuckets"] = touched

    # --- dictionary: df/cf delta merge
    def dictionary():
        old = cat.read_local(DICT)
        t = np.concatenate([old.column("term_id").to_numpy(), rm_t, ad_t])
        u, inv = np.unique(t, return_inverse=True)
        df = np.zeros(len(u), dtype=np.int64)
        cf = np.zeros(len(u), dtype=np.int64)
        np.add.at(df, inv, np.concatenate(
            [old.column("df").to_numpy(), -np.ones_like(rm_t), np.ones_like(ad_t)]
        ))
        np.add.at(cf, inv, np.concatenate([old.column("cf").to_numpy(), -rm_tf, ad_tf]))
        live = df > 0
        cat.write_arrow_local(
            pa.table({"term_id": u[live], "df": df[live], "cf": cf[live]}), DICT + "_next"
        )

    _stage(metrics, DICT, dictionary, cat.io(DICT), cat)

    # --- postings: the delta-merge kernel over the touched buckets
    def postings():
        old = cat.read_local(
            POSTINGS, columns=POSTINGS_SCHEMA.names, partitions=("tbucket", touched)
        )
        cat.write_arrow_local(
            merge_delta(old, (rm_t, rm_d), (ad_t, ad_d, ad_tf, ad_dl), cfg),
            POSTINGS + "_next",
            partition_col="tbucket",
        )

    _stage(metrics, POSTINGS, postings, cat.io(POSTINGS, ("tbucket", touched)), cat)
    return {"touched": touched, "written": _written_buckets(cat), "corpus": next_stats}
