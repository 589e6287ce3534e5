"""Index-build invariants (FIXTURES.md §5 #1,#3) + resume correctness (#7)."""

import os
import shutil

import numpy as np
from pyspark.sql import functions as F

from codegraph_rust_spark.operators.codec import (
    decode_u32,
    decode_u64,
    delta_decode_blocked,
)


def test_build_metrics(tiny_index):
    m = tiny_index["metrics"]
    assert m["n_docs"] == 1000
    assert m["total_postings"] > 0
    assert m["docs_per_sec"] > 0


def test_docs_table(spark, tiny_index):
    from codegraph_rust_spark.plans.build import read_docs
    from codegraph_rust_spark.sources.catalog import Catalog

    docs = read_docs(spark, Catalog(tiny_index["dir"]))
    assert set(docs.columns) == {"doc_id", "url", "content_hash", "doc_len"}
    assert docs.count() == 1000
    # doc ids unique (hash collisions would violate this)
    assert docs.select("doc_id").distinct().count() == 1000
    # empty doc exists (generator plants one)
    assert docs.filter(F.col("doc_len") == 0).count() >= 1


def test_load_index_config_drops_removed_keys(tmp_path):
    """The config.json of an index built when IndexConfig still had
    ``schedule_big_first`` and ``extra`` loads; both keys are dropped."""
    import dataclasses
    import json

    from codegraph_rust_spark.config import IndexConfig, load_index_config

    cfg = IndexConfig(analyzer="simple", max_salts=16, input_partitions=4)
    with open(tmp_path / "config.json", "w") as f:
        json.dump(
            {**dataclasses.asdict(cfg), "schedule_big_first": True, "extra": {"k": 1}}, f
        )
    assert load_index_config(str(tmp_path)) == cfg


def test_dictionary_invariants(spark, tiny_index):
    d = tiny_index["dir"]
    from codegraph_rust_spark.plans.build import read_docs
    from codegraph_rust_spark.sources.catalog import Catalog

    dic = spark.read.parquet(os.path.join(d, "dictionary"))
    docs = read_docs(spark, Catalog(d))
    # sum(df) == count of distinct (term, doc) pairs == sum over postings n
    post = spark.read.parquet(os.path.join(d, "postings"))
    assert dic.agg(F.sum("df")).collect()[0][0] == \
        post.agg(F.sum("n")).collect()[0][0]
    # sum(cf) == total token count == sum(doc_len)
    assert dic.agg(F.sum("cf")).collect()[0][0] == \
        docs.agg(F.sum("doc_len")).collect()[0][0]


def test_postings_sorted_and_roundtrip(spark, tiny_index):
    post = spark.read.parquet(os.path.join(tiny_index["dir"], "postings"))
    rows = post.orderBy(F.desc("n")).limit(20).collect()
    for r in rows:
        docs = delta_decode_blocked(decode_u64(bytes(r["doc_payload"])), 128)
        tfs = decode_u32(bytes(r["tf_payload"]))
        dls = decode_u32(bytes(r["dl_payload"]))
        assert len(docs) == r["n"] == len(tfs) == len(dls)
        assert np.all(np.diff(docs) > 0), "doc ids must be strictly increasing"
        assert tfs.min() >= 1
        nblocks = len(r["block_last_doc"])
        assert nblocks == (r["n"] + 127) // 128
        assert r["block_last_doc"][-1] == docs[-1]
        # block metadata: per-block tf max / dl min, block-last doc ids
        for bi in range(nblocks):
            s, e = bi * 128, min((bi + 1) * 128, r["n"])
            assert r["block_last_doc"][bi] == docs[e - 1]
            assert r["block_tf"][bi] == int(tfs[s:e].max())
            assert r["block_dl"][bi] == int(dls[s:e].min())


def test_salting_caps_group_size(spark, tiny_index):
    """Head terms (df>200) must be split: no (term,salt) row exceeds
    ~threshold entries by much, and salted terms have >1 row."""
    post = spark.read.parquet(os.path.join(tiny_index["dir"], "postings"))
    salted = post.filter(F.col("df") > 200)
    if salted.count() > 0:
        per_term = salted.groupBy("term_id").count().agg(F.max("count")).collect()[0][0]
        assert per_term > 1, "df>threshold terms should be salt-split"
        assert salted.agg(F.max("n")).collect()[0][0] <= 200 * 2 + 250


def test_manifest_lineage(spark, tiny_index):
    man = spark.read.parquet(os.path.join(tiny_index["dir"], "build_manifest"))
    rows = man.collect()
    assert len(rows) > 0
    assert all(r["postings"] > 0 and r["bytes"] > 0 for r in rows)
    post = spark.read.parquet(os.path.join(tiny_index["dir"], "postings"))
    assert man.agg(F.sum("postings")).collect()[0][0] == \
        post.agg(F.sum("n")).collect()[0][0]


def test_write_arrow_direct_refuses_non_local_master(spark, tmp_path, monkeypatch):
    """The worker-direct writer commits by rename-on-close, which is
    only safe without speculative or zombie task attempts: on any
    non-local master it must fail loudly before touching the table."""
    import pytest

    from codegraph_rust_spark.sources.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    df = spark.range(3)
    cat.write_arrow_direct(df, "ok")
    assert cat.exists("ok")
    monkeypatch.setattr(spark.sparkContext, "master", "yarn")
    with pytest.raises(RuntimeError, match="local master"):
        cat.write_arrow_direct(df, "ok")
    assert cat.exists("ok")  # the committed table was not touched


def test_resume_skips_committed_and_rebuilds_missing(spark, tiny_index, tmp_path):
    """Kill-after-partial-build semantics: drop postings, rerun with
    resume=True → ledger/dict reused, postings rebuilt, index identical."""
    from codegraph_rust_spark.plans.build import build_index

    src = tiny_index["dir"]
    work = str(tmp_path / "resume_idx")
    shutil.copytree(src, work)
    before = spark.read.parquet(os.path.join(work, "postings")) \
        .agg(F.sum("n"), F.count(F.lit(1))).collect()[0]
    shutil.rmtree(os.path.join(work, "postings"))

    pages = spark.read.parquet(
        os.path.join(tiny_index["corpus"], "pages.parquet"))
    m = build_index(spark, pages, work, tiny_index["cfg"], resume=True)
    assert "tokenized" in m["resumed"] and "dictionary" in m["resumed"]
    after = spark.read.parquet(os.path.join(work, "postings")) \
        .agg(F.sum("n"), F.count(F.lit(1))).collect()[0]
    assert tuple(before) == tuple(after)


def test_postings_partitioning_invariance(spark, tiny_corpus, tiny_index,
                                          tmp_path_factory):
    """The DECODED posting table must be identical whatever the input
    partitioning: the SPIMI merge (partial runs arrive in arbitrary
    order and counts) must resolve to one canonical (term, salt) →
    sorted-docs result.  Stronger than the top-k-hash invariance test —
    it pins every (term_id, salt, doc, tf, dl) tuple, not just query
    outcomes."""
    from codegraph_rust_spark.config import IndexConfig
    from codegraph_rust_spark.plans.build import build_index

    def decoded(index_dir):
        post = spark.read.parquet(os.path.join(index_dir, "postings"))
        tuples = []
        for r in post.collect():
            docs = delta_decode_blocked(decode_u64(bytes(r["doc_payload"])), 128)
            tfs = decode_u32(bytes(r["tf_payload"]))
            dls = decode_u32(bytes(r["dl_payload"]))
            for d, t, l in zip(docs.tolist(), tfs.tolist(), dls.tolist()):
                tuples.append((r["term_id"], r["salt"], r["df"], d, t, l))
        tuples.sort()
        return tuples

    base = decoded(tiny_index["dir"])
    other_dir = str(tmp_path_factory.mktemp("idx") / "tiny_index_p3")
    pages = spark.read.parquet(os.path.join(tiny_corpus, "pages.parquet"))
    cfg = IndexConfig(input_partitions=3, salt_df_threshold=200, max_salts=4)
    build_index(spark, pages, other_dir, cfg, resume=False)
    assert decoded(other_dir) == base
    shutil.rmtree(other_dir, ignore_errors=True)
