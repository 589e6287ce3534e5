import os
import shutil

import pytest
from pyspark.sql import SparkSession

TINY_DIR = os.path.join(os.path.dirname(__file__), "..", ".data", "tiny")


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[8]")
        .appName("codegraph_rust_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def tiny_corpus():
    """Deterministic 1k-doc pages corpus (generated once, cached)."""
    from codegraph_rust_spark.sources.pages_gen import generate_pages

    marker = os.path.join(TINY_DIR, "pages.parquet")
    if not os.path.exists(marker):
        generate_pages(TINY_DIR, n_docs=1000, vocab_size=5000, mean_len=120)
    return os.path.abspath(TINY_DIR)


@pytest.fixture(scope="session")
def tiny_index(spark, tiny_corpus, tmp_path_factory):
    """Index built over the tiny corpus (session-cached)."""
    from codegraph_rust_spark.config import IndexConfig
    from codegraph_rust_spark.plans.build import build_index

    index_dir = str(tmp_path_factory.mktemp("idx") / "tiny_index")
    pages = spark.read.parquet(os.path.join(tiny_corpus, "pages.parquet"))
    cfg = IndexConfig(input_partitions=8, salt_df_threshold=200, max_salts=4)
    metrics = build_index(spark, pages, index_dir, cfg, resume=False)
    return {"dir": index_dir, "cfg": cfg, "metrics": metrics,
            "corpus": tiny_corpus}


@pytest.fixture
def each_update_path(monkeypatch):
    """Iterates the two ``incremental_update`` paths, patching
    ``incremental.LOCAL_MAX_BYTES`` for each: cap 0 sends every update
    to the Spark plan, a cap above any size estimate (an input of
    unknown size, e.g. an RDD-backed frame, is estimated at 2^63-1
    bytes) runs every update in-process."""
    from codegraph_rust_spark.streaming import incremental

    def paths():
        for name, cap in (("spark", 0), ("local", 1 << 64)):
            monkeypatch.setattr(incremental, "LOCAL_MAX_BYTES", cap)
            yield name

    return paths
