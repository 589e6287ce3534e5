"""Graceful degradation: every registry entry must run (returning zero
or more rows, never raising) against structurally-valid EMPTY tables —
the 0-doc corpus a fresh deployment or an aggressive upstream filter
produces.  Caught in round 3: None+1 on max() scalars, float(None)
avgdl, and a schema-less postings table from an empty partitioned
write."""

import os

import pytest


@pytest.fixture(scope="module")
def empty_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf_empty"))
    src = "/root/testdata/sf0.001"
    for tname in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        spark.read.parquet(os.path.join(src, tname + ".parquet")).limit(
            0
        ).write.mode("overwrite").parquet(os.path.join(d, tname + ".parquet"))
    return d


def test_every_registry_entry_survives_empty_tables(spark, empty_dir):
    from codegraph_rust_spark.functions import registry

    fails = []
    for name, fn in registry.queries().items():
        try:
            fn(spark, empty_dir).count()
        except Exception as e:  # noqa: BLE001 — collecting all failures
            fails.append(f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:90]}")
    assert not fails, "\n".join(fails)


@pytest.fixture(scope="module")
def nulltext_dir(spark, tmp_path_factory, empty_dir):
    """Same table set, but documents contains NULL-text / NULL-lang
    rows among normal ones — the dirty rows a real crawl feed has."""
    d = str(tmp_path_factory.mktemp("sf_null"))
    for tname in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "embeddings",
    ]:
        spark.read.parquet(os.path.join(empty_dir, tname + ".parquet")).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, tname + ".parquet"))
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again", "en", "s", 60),
        (1, None, "en", "s", None),
        (2, "", None, "s", 0),
        (3, "hot key agg row scan data words here", "en", None, 36),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    return d


def test_empty_build_then_incremental_growth(spark, tmp_path, each_update_path):
    """Fresh-deployment path: build over a 0-doc corpus, then grow the
    index incrementally, on both update paths.  The empty build commits
    a postings table with no data file (no seed file, so no leaf-depth
    mix after the first tbucket rename-in); both update paths read it
    as 0 typed rows."""
    import datetime
    import shutil

    from codegraph_rust_spark.config import IndexConfig
    from codegraph_rust_spark.operators.topk import InvertedIndex
    from codegraph_rust_spark.plans.build import build_index
    from codegraph_rust_spark.streaming.incremental import incremental_update

    base_dir = str(tmp_path / "empty")
    cfg = IndexConfig(input_partitions=2)
    empty = spark.createDataFrame([], "url string, warc_ts timestamp, text string")
    m = build_index(spark, empty, base_dir, cfg, resume=False)
    assert m["n_docs"] == 0
    rows = [
        (f"https://g/{i}", datetime.datetime(2026, 1, 1),
         f"grown page number {i} hello fast")
        for i in range(5)
    ]
    batch = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
    for path in each_update_path():
        idx_dir = str(tmp_path / path)
        shutil.copytree(base_dir, idx_dir)
        m = incremental_update(spark, batch, idx_dir, cfg, full_snapshot=False)
        assert m["path"] == path
        idx = InvertedIndex(spark, idx_dir, cfg)
        assert idx.n_docs == 5
        assert idx.topk("hello", k=3).count() == 3


def test_update_that_removes_every_doc_then_regrow(spark, tmp_path, each_update_path):
    """A full-snapshot update with no pages empties the index: the
    roll-forward splices away every postings bucket, leaving a
    committed table with no data file.  On both update paths the
    update commits (no ``_update.json`` is left), the emptied index
    answers queries with 0 rows, and regrowing it gives the rows of
    the original build."""
    import datetime
    import shutil

    from codegraph_rust_spark.config import IndexConfig
    from codegraph_rust_spark.operators.topk import InvertedIndex
    from codegraph_rust_spark.plans.build import build_index
    from codegraph_rust_spark.streaming.incremental import UPDATE_RECORD, incremental_update

    schema = "url string, warc_ts timestamp, text string"
    cfg = IndexConfig(input_partitions=2)
    pages = spark.createDataFrame(
        [(f"https://e/{i}", datetime.datetime(2026, 1, 1),
          f"emptied page {i} hello world") for i in range(5)],
        schema,
    )
    queries = [(0, "hello"), (1, "emptied page 3"), (2, "world 4")]
    base_dir = str(tmp_path / "base")
    build_index(spark, pages, base_dir, cfg, resume=False)

    def ranked(idx_dir):
        idx = InvertedIndex(spark, idx_dir, cfg)
        rows = idx.topk_batch(queries, k=10).collect()
        return idx, sorted((r["qid"], r["rank"], r["doc_id"], r["score"]) for r in rows)

    _, want = ranked(base_dir)
    assert len(want) > 5
    for path in each_update_path():
        idx_dir = str(tmp_path / path)
        shutil.copytree(base_dir, idx_dir)
        m = incremental_update(
            spark, spark.createDataFrame([], schema), idx_dir, cfg, full_snapshot=True
        )
        assert m["path"] == path and m["n_docs"] == 0
        assert not os.path.exists(os.path.join(idx_dir, UPDATE_RECORD))
        idx, rows = ranked(idx_dir)
        assert idx.n_docs == 0 and rows == []

        m = incremental_update(spark, pages, idx_dir, cfg, full_snapshot=True)
        assert m["path"] == path and m["n_docs"] == 5
        assert not os.path.exists(os.path.join(idx_dir, UPDATE_RECORD))
        idx, rows = ranked(idx_dir)
        assert idx.n_docs == 5 and rows == want


def test_document_entries_survive_null_text(spark, nulltext_dir):
    from codegraph_rust_spark.functions import registry

    # every entry that reads documents (graph/events/embeddings ops are
    # empty-table covered above) must tolerate NULL text/lang rows
    fails = []
    for name, fn in registry.queries().items():
        try:
            fn(spark, nulltext_dir).count()
        except Exception as e:  # noqa: BLE001
            fails.append(f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:90]}")
    assert not fails, "\n".join(fails)
