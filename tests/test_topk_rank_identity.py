"""Rank-identity: Spark TAAT + MaxScore vs pure-Python exhaustive oracle.

FIXTURES.md §5 #5 — identical top-10 ids, exact ranks, scores ≤1e-9.
This is the north rule's "matching the reference's top-k docIDs and
BM25 scores (rank-identical) on the reference query set".

Every test that queries the index runs on BOTH query paths — the Spark
plan and the in-process one — by patching the module's byte cap
(``each_path``): the dispatch itself has no knob.
"""

import os

import duckdb
import pytest

from codegraph_rust_spark.operators import topk
from codegraph_rust_spark.operators.oracle import load_queries, oracle_topk
from codegraph_rust_spark.operators.topk import InvertedIndex


def _golden(index):
    """(queries, oracle top-10 per qid) over an index fixture's corpus.
    Oracle input: (doc_id, text) with the SAME doc ids as the index
    (hash ids come from the tokenized ledger — the docs view's backing
    table; text from the corpus parquet)."""
    d = index["dir"]
    corpus = index["corpus"]
    con = duckdb.connect()
    rows = con.execute(
        f"""
        select d.doc_id, p.text
        from (select doc_id, url
              from '{os.path.join(d, "tokenized", "*.parquet")}') d
        join '{os.path.join(corpus, "pages.parquet", "*.parquet")}' p using (url)
        """
    ).fetchall()
    assert len(rows) == 1000
    queries = load_queries(os.path.join(corpus, "queries.tsv"))
    return queries, oracle_topk(rows, queries, k=10, cfg=index["cfg"])


@pytest.fixture(scope="module")
def oracle_results(spark, tiny_index):
    return _golden(tiny_index)


@pytest.fixture
def each_path(monkeypatch):
    """Iterates the two query paths, patching ``topk.LOCAL_MAX_BYTES``
    for each: cap 0 sends every query to the Spark plan, an unreachable
    cap answers every query in-process."""

    def paths():
        for name, cap in (("spark", 0), ("local", 1 << 62)):
            monkeypatch.setattr(topk, "LOCAL_MAX_BYTES", cap)
            yield name

    return paths


def _check(result_rows, golden, queries):
    got: dict[int, list] = {}
    for r in result_rows:
        got.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, _q in queries:
        want = golden[qid]
        have = sorted(got.get(qid, []))
        assert len(have) == len(want), f"q{qid}: {len(have)} != {len(want)} results"
        for (rank, doc_id, score), (w_doc, w_score) in zip(have, want):
            assert doc_id == w_doc, (
                f"q{qid} rank {rank}: doc {doc_id} != oracle {w_doc}"
            )
            assert abs(score - w_score) < 1e-9, (
                f"q{qid} rank {rank}: score {score} vs {w_score}"
            )


def test_taat_rank_identical(spark, tiny_index, oracle_results, each_path):
    queries, golden = oracle_results
    idx = InvertedIndex(spark, tiny_index["dir"], tiny_index["cfg"])
    for path in each_path():
        rows = idx.topk_batch(queries, k=10, mode="taat").collect()
        assert idx.last_profile["path"] == path
        _check(rows, golden, queries)


def test_maxscore_rank_identical(spark, tiny_index, oracle_results, each_path):
    queries, golden = oracle_results
    idx = InvertedIndex(spark, tiny_index["dir"], tiny_index["cfg"])
    for path in each_path():
        rows = idx.topk_batch(queries, k=10, mode="maxscore").collect()
        assert idx.last_profile["path"] == path
        _check(rows, golden, queries)


@pytest.fixture(scope="module")
def salted_index(spark, tiny_corpus, tmp_path_factory):
    """Second index with an aggressive salting config (max_salts=64,
    low df threshold) so the residue router has real work: matched term
    lists span n_salts ∈ {1..64} on the D = 64 grid."""
    from codegraph_rust_spark.config import IndexConfig
    from codegraph_rust_spark.plans.build import build_index

    index_dir = str(tmp_path_factory.mktemp("idx64") / "salted_index")
    pages = spark.read.parquet(os.path.join(tiny_corpus, "pages.parquet"))
    cfg = IndexConfig(input_partitions=8, salt_df_threshold=50, max_salts=64)
    build_index(spark, pages, index_dir, cfg, resume=False)
    return {"dir": index_dir, "cfg": cfg, "corpus": tiny_corpus}


def test_maxscore_rank_identical_at_64_salts(spark, salted_index, each_path):
    """A multi-query MaxScore batch over the 64-salt index — head lists
    split up to 64 ways, tail lists replicated to all 64 residues — is
    rank-identical to the oracle on both query paths."""
    queries, golden = _golden(salted_index)
    idx = InvertedIndex(spark, salted_index["dir"], salted_index["cfg"])
    for path in each_path():
        got = idx.topk_batch(queries, k=10, mode="maxscore").collect()
        assert idx.last_profile["path"] == path
        _check(got, golden, queries)


def test_one_query_batches_rank_identical(spark, tiny_index, salted_index, each_path):
    """Every reference query run ALONE — a one-query batch takes the
    global sort + limit ranking branch (topk._rank), which the
    multi-query gates above never reach — is rank-identical to the
    oracle in both modes, on the default and the 64-salt index."""
    for index in (tiny_index, salted_index):
        queries, golden = _golden(index)
        idx = InvertedIndex(spark, index["dir"], index["cfg"])
        for _path in each_path():
            for mode in ("taat", "maxscore"):
                for qid, q in queries:
                    rows = idx.topk_batch([(qid, q)], k=10, mode=mode).collect()
                    _check(rows, golden, [(qid, q)])


def test_paths_return_identical_rows(spark, salted_index, each_path):
    """The in-process path runs the Spark plan's (qid, g) groups
    through the same kernels: MaxScore rows are equal in
    (qid, doc_id, rank) and bit-equal in score; TAAT rows are
    rank-identical with |Δscore| ≤ 1e-9 (Spark sums partials in
    arbitrary order)."""
    queries, _ = _golden(salted_index)
    idx = InvertedIndex(spark, salted_index["dir"], salted_index["cfg"])
    for mode in ("maxscore", "taat"):
        got = {}
        for path in each_path():
            rows = idx.topk_batch(queries, k=10, mode=mode).collect()
            got[path] = sorted(
                (r["qid"], r["rank"], r["doc_id"], r["score"]) for r in rows
            )
        spark_rows, local_rows = got["spark"], got["local"]
        assert len(spark_rows) == len(local_rows) > 0
        assert [r[:3] for r in spark_rows] == [r[:3] for r in local_rows], mode
        if mode == "maxscore":
            assert spark_rows == local_rows
        else:
            assert all(
                abs(a[3] - b[3]) <= 1e-9 for a, b in zip(spark_rows, local_rows)
            )


def test_local_maxscore_profile(spark, salted_index):
    """An in-process MaxScore reports its work on the handle: the path,
    one (qid, g) group per residue of D = max_salts for every query,
    and kernel counters that account for every block of every list of
    every group exactly once — enumerated (essential lists) or decoded
    or skipped (probed lists).  The expected totals come from reading
    the matched postings directly."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from codegraph_rust_spark.operators.postings import _n_salts_py

    cfg = salted_index["cfg"]
    idx = InvertedIndex(spark, salted_index["dir"], cfg)
    queries = [(0, "run lonzenlon vezenlonra fulquajul"),
               (1, "boqua92 garquajulra runner dorzenlon61")]
    qterms = idx.analyze_queries(queries)
    rows = idx.topk_batch(queries, k=1, mode="maxscore").collect()
    prof = idx.last_profile
    assert rows and prof["path"] == "local" and prof["mode"] == "maxscore"

    post = pq.read_table(
        os.path.join(salted_index["dir"], "postings"),
        columns=["term_id", "df", "block_last_doc", "n_bytes"],
        filters=pc.field("term_id").isin(qterms["term_id"].tolist()),
    ).to_pylist()
    by_term = {}
    for r in post:
        by_term.setdefault(r["term_id"], []).append(r)
    D = cfg.max_salts
    lists = blocks = nbytes = 0
    for t in qterms["term_id"]:
        for r in by_term.get(t, []):
            reps = D // _n_salts_py(r["df"], cfg)
            lists += reps
            blocks += reps * len(r["block_last_doc"])
            nbytes += r["n_bytes"]
    assert prof["matched_rows"] == len(post)
    assert prof["matched_bytes"] == nbytes
    assert prof["groups"] == len(queries) * D
    assert prof["essential_lists"] + prof["probed_lists"] == lists
    assert prof["probed_lists"] > 0 and prof["blocks_skipped"] > 0
    assert (prof["blocks_enumerated"] + prof["blocks_decoded"]
            + prof["blocks_skipped"]) == blocks
    # a group's θ is the k-th best of its own docs: never above its
    # query's k-th best overall
    assert prof["theta_max"] <= max(r["score"] for r in rows)


def test_oov_query_returns_empty(spark, tiny_index, each_path):
    idx = InvertedIndex(spark, tiny_index["dir"], tiny_index["cfg"])
    for _path in each_path():
        assert idx.topk("zzz-never-a-term qqq-nope", k=10).count() == 0


def test_single_term_topk_with_urls(spark, tiny_index, each_path):
    idx = InvertedIndex(spark, tiny_index["dir"], tiny_index["cfg"])
    for _path in each_path():
        df = idx.with_urls(idx.topk("running", k=5, mode="taat"))
        # the hint must actually be honored: the k-row top-k side builds
        # a broadcast hash table, the corpus-sized docs table never
        # shuffles (a right-outer join here would silently fall back to
        # sort-merge)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        rows = df.collect()
        assert 0 < len(rows) <= 5
        assert all(r["url"].startswith("https://") for r in rows)


def test_python_xxhash_matches_spark(spark):
    """Bit-parity of the driver-side term-id hash with Spark xxhash64."""
    from pyspark.sql import functions as F

    from codegraph_rust_spark.operators.xxhash import xxh64_str

    terms = ["run", "a", "", "café", "x" * 7, "y" * 8, "z" * 31, "w" * 32,
             "v" * 100, "naïve😀", "spark.sql", "поиск", "検索"]
    rows = {
        r["t"]: r["h"]
        for r in spark.createDataFrame([(t,) for t in terms], "t string")
        .withColumn("h", F.xxhash64("t"))
        .collect()
    }
    assert all(rows[t] == xxh64_str(t) for t in terms)


def test_filtered_refill_loop_bounded(spark, each_path):
    """The bm25_index_topk_filtered refill loop is geometric (4× per
    round) with a corpus-exhaustion exit — on the driver tables it
    must settle within 3 iterations or the budget argument in its
    docstring is wrong."""
    for _path in each_path():
        _assert_refill_bounded(spark)


def _assert_refill_bounded(spark):
    from codegraph_rust_spark.functions import indexed as ix

    df = ix.bm25_index_topk_filtered(spark, "/root/testdata/sf0.01")
    assert df.count() > 0
    assert 1 <= ix.LAST_REFILL_ITERS <= 3, ix.LAST_REFILL_ITERS
