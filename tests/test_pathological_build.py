"""Build + query robustness on a PATHOLOGICAL corpus — the inputs a
real 100 TB web crawl actually contains: an ultra-hot term in (almost)
every doc, a single document with tens of thousands of repetitions of
one token (tf/dl at codec-stress magnitudes), megabyte-one-token docs,
empty and whitespace-only docs, non-ASCII/emoji text, and duplicate
urls.  The build must survive, salt the hot term, and stay
rank-identical to the exhaustive Python oracle."""

import os

import pytest
from pyspark.sql import functions as F

from codegraph_rust_spark.config import IndexConfig
from codegraph_rust_spark.operators.oracle import oracle_topk
from codegraph_rust_spark.operators.topk import InvertedIndex
from codegraph_rust_spark.plans.build import build_index

N_NORMAL = 400


@pytest.fixture(scope="module")
def patho_index(spark, tmp_path_factory):
    rows = []
    # hot term "hot" in every normal doc → df = N_NORMAL (>> threshold)
    for i in range(N_NORMAL):
        rows.append((f"https://p/{i}", f"hot filler{i % 37} common word{i % 11} text"))
    rows.append(("https://p/giant-tf", " ".join(["hot"] * 50_000)))     # tf=50k, dl=50k
    rows.append(("https://p/giant-token", "x" * 300_000))               # one huge token
    rows.append(("https://p/empty", ""))
    rows.append(("https://p/spaces", "     "))
    rows.append(("https://p/unicode", "naïve café 検索 поиск 🚀🚀 emoji"))
    rows.append(("https://p/dup", "duplicate url content"))
    rows.append(("https://p/dup", "duplicate url content"))             # same url twice
    pages = spark.createDataFrame(rows, "url string, text string")
    index_dir = str(tmp_path_factory.mktemp("patho") / "idx")
    cfg = IndexConfig(
        input_partitions=8, salt_df_threshold=50, max_salts=8
    )
    metrics = build_index(spark, pages, index_dir, cfg, resume=False)
    return {
        "dir": index_dir, "cfg": cfg, "metrics": metrics,
        "rows": rows,
    }


def test_build_survives_and_counts(spark, patho_index):
    # duplicate url deduped → N_NORMAL + 6 distinct docs
    assert patho_index["metrics"]["n_docs"] == N_NORMAL + 6


def test_hot_term_is_salted(spark, patho_index):
    post = spark.read.parquet(os.path.join(patho_index["dir"], "postings"))
    from codegraph_rust_spark.operators.xxhash import xxh64_str
    from codegraph_rust_spark.textkit.tokenizer import tokenize

    hot_id = xxh64_str(tokenize("hot", "snowball")[0])
    shards = post.filter(F.col("term_id") == hot_id).select("salt").collect()
    assert len(shards) > 1, "df=401 term above threshold 50 must split"
    # no shard holds more than ~df/n_salts + slack
    ns = post.filter(F.col("term_id") == hot_id).select("n").collect()
    assert max(r["n"] for r in ns) <= 401  # sanity; sharded sizes below df


def test_giant_tf_doc_scores_and_decodes(spark, patho_index):
    idx = InvertedIndex(spark, patho_index["dir"], patho_index["cfg"])
    # tf=50k in one doc: codec u32 payloads + BM25 saturation must hold
    rows = idx.topk("hot", k=5, mode="taat").collect()
    assert len(rows) == 5
    assert all(r["score"] > 0 for r in rows)


def test_rank_identity_on_pathological_corpus(spark, patho_index):
    import duckdb

    d = patho_index["dir"]
    con = duckdb.connect()
    url_text = {u: t for u, t in patho_index["rows"]}
    docs = [
        (r[0], url_text[r[1]])
        for r in con.execute(
            f"select doc_id, url from '{os.path.join(d, 'tokenized', '*.parquet')}'"
        ).fetchall()
    ]
    queries = [(0, "hot common"), (1, "naïve café"), (2, "duplicate content"),
               (3, "zzz-missing")]
    golden = oracle_topk(docs, queries, k=10, cfg=patho_index["cfg"])
    idx = InvertedIndex(spark, d, patho_index["cfg"])
    for mode in ("taat", "maxscore"):
        got: dict[int, list] = {}
        for r in idx.topk_batch(queries, k=10, mode=mode).collect():
            got.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
        for qid, _q in queries:
            want = golden[qid]
            have = sorted(got.get(qid, []))
            assert len(have) == len(want), (mode, qid)
            for (rank, doc_id, score), (w_doc, w_score) in zip(have, want):
                assert doc_id == w_doc, (mode, qid, rank)
                assert abs(score - w_score) < 1e-9, (mode, qid, rank)


def test_url_guard_raises_on_doc_id_collision(spark, tmp_path):
    """Two DISTINCT urls sharing one doc_id survive the url-dedup
    rewrite — a true xxhash64 collision must raise, naming the doc_id,
    instead of committing silently."""
    from codegraph_rust_spark.plans.build import TOKENIZED, write_url_unique
    from codegraph_rust_spark.sources.catalog import Catalog

    cat = Catalog(str(tmp_path / "idx"))
    ledger = spark.createDataFrame(
        [(7, "https://p/a"), (7, "https://p/b")], "doc_id long, url string"
    )
    calls = []

    def write(dedup):
        calls.append(dedup)
        df = ledger.dropDuplicates(["url"]) if dedup else ledger
        df.write.mode("overwrite").parquet(cat.path(TOKENIZED))
        return {"n_docs": df.count()}

    with pytest.raises(ValueError, match="doc_id 7"):
        write_url_unique(spark, cat, TOKENIZED, IndexConfig(), write)
    assert calls == [False, True]  # the dedup rewrite ran, then re-checked


def test_tokenize_stage_has_no_url_probe(spark):
    """tokenize_stage has no eager url-duplicate probe: the guard runs
    on the written ledger, so asking for the probe raises and names
    that guard."""
    from codegraph_rust_spark.operators.postings import tokenize_stage

    pages = spark.createDataFrame([("https://p/a", "text")], "url string, text string")
    with pytest.raises(ValueError, match="write_url_unique"):
        tokenize_stage(pages, IndexConfig(), probe_dups=True)
