"""Incremental update ≡ from-scratch rebuild (FIXTURES.md §5 #7 analog,
reference semantics: indexer.rs:3186-3251 classify + delete-then-insert).

Every test that updates an index runs on BOTH update paths — the Spark
plan and the in-process one — by patching the module's byte cap
(``each_update_path``, tests/conftest.py): the dispatch itself has no
knob.  Each path updates its own copy of one built index.
"""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from codegraph_rust_spark.config import IndexConfig
from codegraph_rust_spark.plans.build import build_index
from codegraph_rust_spark.operators.topk import InvertedIndex
from codegraph_rust_spark.streaming import incremental
from codegraph_rust_spark.streaming.incremental import detect_changes, incremental_update

CFG = IndexConfig(input_partitions=4, salt_df_threshold=200, max_salts=4)


@pytest.fixture(scope="module")
def v1_pages(spark, tiny_corpus):
    return spark.read.parquet(os.path.join(tiny_corpus, "pages.parquet")) \
        .filter(F.col("url") != "https://host13.example/p/13")  # hold one out


@pytest.fixture(scope="module")
def v2_pages(spark, tiny_corpus):
    """v2 = v1 + the held-out doc + one modified + one deleted."""
    all_pages = spark.read.parquet(os.path.join(tiny_corpus, "pages.parquet"))
    modified = all_pages.filter(F.col("url") == "https://host21.example/p/21") \
        .withColumn("html", F.lit(b"<html><body><p>totally new modified content here</p></body></html>")) \
        .withColumn("text", F.lit("totally new modified content here"))
    return all_pages.filter(
        ~F.col("url").isin("https://host21.example/p/21", "https://host33.example/p/33")
    ).unionByName(modified)


@pytest.fixture(scope="module")
def v1_index(spark, v1_pages, tmp_path_factory):
    """v1 built once; each test updates its own copy (``_copy``)."""
    d = str(tmp_path_factory.mktemp("v1") / "index")
    build_index(spark, v1_pages, d, CFG, resume=False)
    return d


@pytest.fixture(scope="module")
def v2_scratch(spark, v2_pages, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("v2") / "index")
    build_index(spark, v2_pages, d, CFG, resume=False)
    return d


def _copy(src, dst):
    shutil.copytree(src, str(dst))
    return str(dst)


def _tables(index_dir):
    """Every table an update writes, as full rows in a canonical order
    (the manifest without its commit time)."""
    keys = {
        "tokenized": ["doc_id"],
        "dictionary": ["term_id"],
        "postings": ["tbucket", "term_id", "salt"],
        "corpus_stats": [],
        "build_manifest": ["tbucket"],
    }
    out = {}
    for name, key in keys.items():
        t = pq.read_table(os.path.join(index_dir, name))
        if name == "build_manifest":
            t = t.drop_columns(["committed_at"])
        if name == "postings":
            t = t.set_column(
                t.schema.get_field_index("tbucket"), "tbucket",
                t.column("tbucket").cast(pa.int32()),
            )
        t = t.select(sorted(t.column_names)).combine_chunks()
        out[name] = t.sort_by([(k, "ascending") for k in key]) if key else t
    return out


def _assert_tables_equal(a_dir, b_dir, names=None):
    """Equal rows (values, not schema nullability) in every table, or
    in `names`."""
    a, b = _tables(a_dir), _tables(b_dir)
    for name in names or a:
        assert a[name].column_names == b[name].column_names, name
        for col in a[name].column_names:
            assert a[name].column(col).to_pylist() == b[name].column(col).to_pylist(), (
                name, col
            )


def test_detect_changes_classes(spark, v1_index, v2_pages):
    ch = detect_changes(spark, v2_pages, v1_index, CFG)
    counts = {r["change"]: r["n"] for r in
              ch.groupBy("change").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts.get("added") == 1      # p/13 re-appears
    assert counts.get("modified") == 1   # p/21
    assert counts.get("deleted") == 1    # p/33
    assert counts.get("unchanged") == 997


def test_incremental_equals_scratch(
    spark, v1_index, v2_pages, v2_scratch, tmp_path, each_update_path
):
    ib = InvertedIndex(spark, v2_scratch, CFG)
    qs = [(0, "running searches"), (1, "totally modified"), (2, "index café")]
    rb = sorted((r["qid"], r["rank"], r["doc_id"], round(r["score"], 9))
                for r in ib.topk_batch(qs, 10).collect())
    for path in each_update_path():
        inc_dir = _copy(v1_index, tmp_path / path)
        m = incremental_update(spark, v2_pages, inc_dir, CFG)
        assert m["unchanged"] is False and m["path"] == path
        assert m["changes"] == {
            "added": 1, "modified": 1, "deleted": 1, "unchanged": 997
        }
        # every table, full rows: postings (payloads, block metadata,
        # df), dictionary, ledger, corpus row and manifest
        _assert_tables_equal(inc_dir, v2_scratch)

        # identical query results
        ia = InvertedIndex(spark, inc_dir, CFG)
        ra = sorted((r["qid"], r["rank"], r["doc_id"], round(r["score"], 9))
                    for r in ia.topk_batch(qs, 10).collect())
        assert ra == rb


def test_stale_physical_docs_dir_is_never_read(
    spark, v1_index, v2_pages, v2_scratch, tmp_path, each_update_path
):
    """An index written when ``docs`` was still a physical table may
    hold a committed ``docs/`` directory.  The docs surface is the
    ledger view, so a stale copy (every url rewritten) is never read:
    ``with_urls`` answers from the ledger, and an update succeeds and
    ends equal to a scratch build."""
    qs = [(0, "running searches"), (1, "index café")]
    for path in each_update_path():
        d = _copy(v1_index, tmp_path / path)
        ledger = pq.read_table(
            os.path.join(d, "tokenized"), columns=["doc_id", "url", "content_hash", "doc_len"]
        )
        url_of = dict(zip(ledger.column("doc_id").to_pylist(), ledger.column("url").to_pylist()))
        stale = ledger.set_column(
            1, "url", pa.array([f"stale://{i}" for i in range(ledger.num_rows)])
        )
        os.makedirs(os.path.join(d, "docs"))
        pq.write_table(stale, os.path.join(d, "docs", "part-00000.parquet"))
        open(os.path.join(d, "docs", "_SUCCESS"), "w").close()

        idx = InvertedIndex(spark, d, CFG)
        rows = idx.with_urls(idx.topk_batch(qs, 10)).collect()
        assert rows and all(r["url"] == url_of[r["doc_id"]] for r in rows)

        m = incremental_update(spark, v2_pages, d, CFG)
        assert m["path"] == path and m["changes"] == {
            "added": 1, "modified": 1, "deleted": 1, "unchanged": 997
        }
        _assert_tables_equal(d, v2_scratch)
        idx = InvertedIndex(spark, d, CFG)
        rows = idx.with_urls(idx.topk_batch(qs, 10)).collect()
        assert rows and all(not r["url"].startswith("stale://") for r in rows)


def test_update_paths_write_equal_tables(
    spark, v1_index, v2_pages, tmp_path, each_update_path
):
    """The in-process path and the Spark plan write the same rows into
    every table, report the same changes and touched buckets, and
    return one profile shape: the path, and per stage the wall plus the
    rows/bytes read and written (from parquet footers, so equal tables
    give equal row counts)."""
    got = {}
    for path in each_update_path():
        d = _copy(v1_index, tmp_path / path)
        m = incremental_update(spark, v2_pages, d, CFG)
        assert m["path"] == path
        assert set(m["stages"]) == {"dictionary", "postings"}
        for st in m["stages"].values():
            assert set(st) == {"wall_s", "read", "written"} and st["wall_s"] >= 0
            for side in ("read", "written"):
                assert set(st[side]) == {"rows", "bytes"} and st[side]["rows"] > 0
        rows = {s: (st["read"]["rows"], st["written"]["rows"]) for s, st in m["stages"].items()}
        got[path] = (d, m["changes"], m["touched_tbuckets"], m["n_docs"], rows)
    (a, *ma), (b, *mb) = got["spark"], got["local"]
    assert ma == mb
    _assert_tables_equal(a, b)


def test_small_update_runs_one_spark_job(spark, v1_index, v2_pages, tmp_path):
    """An update of an index under the byte cap runs in-process: the
    whole update — detection, ledger, dictionary, postings, commit —
    runs one Spark job (the input collect)."""
    d = _copy(v1_index, tmp_path / "idx")
    assert (
        incremental._index_bytes(incremental.Catalog(d))
        + incremental._input_bytes(v2_pages)
        <= incremental.LOCAL_MAX_BYTES
    )
    sc = spark.sparkContext
    group = "small-update-jobs"
    sc.setJobGroup(group, group)
    try:
        m = incremental_update(spark, v2_pages, d, CFG)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert m["path"] == "local" and m["unchanged"] is False
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1


class Crash(RuntimeError):
    pass


def _crash_points():
    """(point, attribute of the incremental module, replacement): each
    replacement makes the update die at one point of its commit —
    before and after the update record is written, after each
    roll-forward step."""

    def boom(*_a, **_k):
        raise Crash

    real_swap, real_lineage = incremental._swap_table, incremental.write_lineage

    def swap_then_die(cat, name):
        if name == incremental.DICT:
            raise Crash
        real_swap(cat, name)

    def lineage_then_die(*a, **k):
        real_lineage(*a, **k)
        raise Crash

    return [
        ("before record", "_commit", boom),
        ("after record", "_roll_forward", boom),
        ("after ledger swap", "_swap_table", swap_then_die),
        ("after dictionary swap", "_splice_postings", boom),
        ("after postings splice", "write_corpus_row", boom),
        ("after corpus row", "write_lineage", boom),
        ("after manifest", "write_lineage", lineage_then_die),
    ]


def test_interrupted_update_recovers_to_scratch(
    spark, v1_index, v2_pages, v2_scratch, tmp_path, monkeypatch, each_update_path
):
    """A crash at any point of the commit leaves an index that the next
    ``incremental_update`` brings to exactly the scratch build of the
    new snapshot: a crash before the update record is written discards
    the ``_next`` tables (the rerun applies the delta again); a crash
    after it is rolled forward from the record (the rerun then finds
    nothing changed).  Without the record, a crash before the postings
    splice left stale postings and corpus stats for good — the rerun
    saw the swapped ledger and returned unchanged."""
    for path in each_update_path():
        for i, (point, attr, crash) in enumerate(_crash_points()):
            d = _copy(v1_index, tmp_path / f"{path}-{i}")
            with monkeypatch.context() as mp:
                mp.setattr(incremental, attr, crash)
                with pytest.raises(Crash):
                    incremental_update(spark, v2_pages, d, CFG)
            m = incremental_update(spark, v2_pages, d, CFG)
            assert m["unchanged"] is (point != "before record"), (path, point)
            assert not os.path.exists(os.path.join(d, incremental.UPDATE_RECORD))
            assert not [n for n in os.listdir(d) if n.endswith(("_next", "_old"))]
            _assert_tables_equal(d, v2_scratch)


def _bucket_files(post_dir):
    """{tbucket -> {filename: bytes}} for every tbucket=X subdir."""
    out = {}
    for sub in os.listdir(post_dir):
        if not sub.startswith("tbucket="):
            continue
        b = int(sub.split("=")[1])
        d = os.path.join(post_dir, sub)
        out[b] = {
            f: open(os.path.join(d, f), "rb").read()
            for f in os.listdir(d)
            if not f.startswith(".")
        }
    return out


def test_untouched_buckets_byte_identical(spark, v1_pages, v1_index, tmp_path, each_update_path):
    """Per-tbucket merge: an update must rewrite ONLY the buckets of
    terms in changed docs; every other bucket's parquet files stay
    byte-identical.  Possible because posting rows carry no global
    corpus stats (block metadata is (tf_max, dl_min)).  The update here
    adds one tiny-vocabulary doc, so its touched-bucket set is small —
    a typical ~120-token doc's vocabulary hashes into every bucket."""
    before = _bucket_files(os.path.join(v1_index, "postings"))
    tiny_doc = v1_pages.sparkSession.createDataFrame(
        [("https://newhost.example/tiny",
          b"<html><body><p>zzyzx quux</p></body></html>", "zzyzx quux")],
        "url string, html binary, text string",
    )
    v3_pages = v1_pages.select("url", "html", "text").unionByName(tiny_doc)
    # the delta-merged dictionary must equal a scratch recompute
    scratch_dir = str(tmp_path / "bytes_scratch")
    build_index(spark, v3_pages, scratch_dir, CFG, resume=False)
    for path in each_update_path():
        idx_dir = _copy(v1_index, tmp_path / path)
        m = incremental_update(spark, v3_pages, idx_dir, CFG)
        touched = set(m["touched_tbuckets"])
        assert touched and len(touched) <= 2, (
            "one 2-term doc must touch at most 2 buckets"
        )
        after = _bucket_files(os.path.join(idx_dir, "postings"))
        untouched = set(before) - touched
        assert untouched, "need at least one untouched bucket to assert on"
        for b in untouched:
            assert after.get(b) == before[b], f"{path}: bucket {b} changed but was untouched"
        _assert_tables_equal(idx_dir, scratch_dir, ["dictionary"])


def test_noop_update_early_returns(spark, v1_pages, v1_index, tmp_path, each_update_path):
    for path in each_update_path():
        idx_dir = _copy(v1_index, tmp_path / path)
        m = incremental_update(spark, v1_pages, idx_dir, CFG)
        assert m["unchanged"] is True and m["path"] == path
        assert m["changes"].get("unchanged") == 999


def test_splice_granularity_scales_with_term_buckets(spark, v1_pages, tmp_path, each_update_path):
    """The splice unit is the term BUCKET, so term_buckets is the dial
    that turns a single-doc update from 'rebuild almost everything'
    (one doc's ~110 distinct stems cover ~all of 32 buckets) into a
    bounded splice.  Sizing rule at corpus scale: term_buckets ≫ the
    delta's distinct-term count (COVERAGE.md scale-dials).  Pinned
    here at 512 buckets with a ONE-doc modification: the touched set
    must be a strict minority and every untouched bucket directory
    must pass through byte-identical."""
    import hashlib

    cfg = IndexConfig(
        input_partitions=4, salt_df_threshold=200, max_salts=4,
        term_buckets=512,
    )
    base_dir = str(tmp_path / "fine")
    build_index(spark, v1_pages, base_dir, cfg, resume=False)

    # v2 = v1 with exactly ONE doc's content replaced (delta vocabulary
    # ≈ the old doc's ~110 stems + 5 new ones)
    mod_url = "https://host21.example/p/21"
    v2 = v1_pages.withColumn(
        "html",
        F.when(
            F.col("url") == mod_url,
            F.lit(b"<html><body><p>totally new modified content here</p></body></html>"),
        ).otherwise(F.col("html")),
    ).withColumn(
        "text",
        F.when(
            F.col("url") == mod_url, F.lit("totally new modified content here")
        ).otherwise(F.col("text")),
    )

    def bucket_digests(root):
        out = {}
        post = os.path.join(root, "postings")
        for d in os.listdir(post):
            if not d.startswith("tbucket="):
                continue
            h = hashlib.md5()
            for f in sorted(os.listdir(os.path.join(post, d))):
                if f.endswith(".parquet"):
                    with open(os.path.join(post, d, f), "rb") as fh:
                        h.update(fh.read())
            out[d] = h.hexdigest()
        return out

    before = bucket_digests(base_dir)
    for path in each_update_path():
        idx_dir = _copy(base_dir, tmp_path / path)
        m = incremental_update(spark, v2, idx_dir, cfg)
        touched = m["touched_tbuckets"]
        assert 0 < len(touched) < 256, len(touched)  # strict minority of 512
        after = bucket_digests(idx_dir)
        untouched = set(before) - {f"tbucket={b}" for b in touched}
        assert len(untouched) >= 256, len(untouched)
        for d in untouched:
            assert after[d] == before[d], f"{path}: {d} changed despite not being touched"


def test_incremental_reshards_across_salt_threshold(spark, tmp_path, each_update_path):
    """A delta that pushes a term's df across salt_df_threshold must
    RE-SHARD that term (n_salts 1 → 2): the delta-merge kernel
    (operators/postings.merge_delta) re-salts affected terms under
    their NEW df instead of patching old salt rows in place.  Pinned
    as full-row equality against a scratch rebuild, plus identical
    query results through both indexes."""
    from codegraph_rust_spark.operators.xxhash import xxh64_str
    from codegraph_rust_spark.textkit.porter2 import stem

    cfg = IndexConfig(
        input_partitions=2, salt_df_threshold=8, max_salts=4, term_buckets=8
    )

    def pages(n_hot):
        rows = []
        for i in range(20):
            hot = " zmarkerhot" if i < n_hot else ""
            txt = f"common filler words doc{i}{hot}"
            rows.append(
                (f"https://h{i}.example/p/{i}",
                 f"<html><body><p>{txt}</p></body></html>".encode(), txt)
            )
        return spark.createDataFrame(
            rows, "url string, html binary, text string"
        )

    v1, v2 = pages(6), pages(12)  # df(zmarkerhot): 6 ≤ 8 < 12
    base_dir, scratch_dir = str(tmp_path / "base"), str(tmp_path / "scratch")
    build_index(spark, v1, base_dir, cfg, resume=False)
    build_index(spark, v2, scratch_dir, cfg, resume=False)
    ib = InvertedIndex(spark, scratch_dir, cfg)
    qs = [(0, "zmarkerhot filler"), (1, "common doc5")]
    rb = sorted((r["qid"], r["rank"], r["doc_id"], round(r["score"], 9))
                for r in ib.topk_batch(qs, 10, mode="maxscore").collect())
    tid = xxh64_str(stem("zmarkerhot"))
    for path in each_update_path():
        inc_dir = _copy(base_dir, tmp_path / path)
        m = incremental_update(spark, v2, inc_dir, cfg)
        assert m["unchanged"] is False
        _assert_tables_equal(inc_dir, scratch_dir)
        # the hot term is actually sharded now (max salt > 0 somewhere)
        post = _tables(inc_dir)["postings"].to_pydict()
        shards = {s for t, s in zip(post["term_id"], post["salt"]) if t == tid}
        assert sorted(shards) == [0, 1], path

        ia = InvertedIndex(spark, inc_dir, cfg)
        ra = sorted((r["qid"], r["rank"], r["doc_id"], round(r["score"], 9))
                    for r in ia.topk_batch(qs, 10, mode="maxscore").collect())
        assert ra == rb


def test_n_salts_py_matches_expr(spark):
    """_n_salts_py (delta-merge re-salting) must be value-identical to
    n_salts_expr (build + query routing) across the full dial space —
    including max_salts > 64, where the expression's when-chain stops
    enumerating powers at 32 and falls through to max_salts."""
    from codegraph_rust_spark.operators.postings import (
        _n_salts_py,
        n_salts_expr,
    )

    dfs = list(range(1, 60)) + [100, 127, 128, 129, 320, 321, 1000, 10_000]
    for thr, max_salts in [(10, 4), (10, 64), (10, 128), (3, 16), (1, 256)]:
        cfg = IndexConfig(salt_df_threshold=thr, max_salts=max_salts)
        sdf = spark.createDataFrame([(d,) for d in dfs], "df long").select(
            "df", n_salts_expr(F.col("df"), cfg).alias("ns")
        )
        spark_ns = {r["df"]: r["ns"] for r in sdf.collect()}
        for d in dfs:
            assert _n_salts_py(d, cfg) == spark_ns[d], (
                thr, max_salts, d, _n_salts_py(d, cfg), spark_ns[d]
            )


def test_local_reindex_dedups_urls_and_raises_on_collision():
    """The in-process ledger rows follow ``write_url_unique``'s rule:
    duplicate urls in the delta keep one row each; two distinct urls on
    one doc_id (a true xxhash64 collision) raise, naming it."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from codegraph_rust_spark.operators.postings import TOKENIZED_SCHEMA

    keep = to_arrow_schema(TOKENIZED_SCHEMA).empty_table()

    def pages(ids, urls):
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()), "url": urls,
            "content_hash": pa.array([0] * len(ids), pa.int64()),
            "text": [f"page {u}" for u in urls],
        })

    tok = incremental._reindex(keep, pages([5, 5, 6], ["a", "a", "b"]), "text", CFG)
    assert tok.column("url").to_pylist() == ["a", "b"]
    with pytest.raises(ValueError, match="doc_id 7"):
        incremental._reindex(keep, pages([7, 7], ["a", "b"]), "text", CFG)
