"""The catalog's part writer: the ledger fingerprint helper and the
vectorized partition-run split."""

import os

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from codegraph_rust_spark.plans.build import CORPUS_AGGS
from codegraph_rust_spark.sources import catalog
from codegraph_rust_spark.sources.catalog import Catalog, ledger_fingerprint

URLS = ["https://a.example/1", "https://b.example/ü", "", "https://c.example/x?q=1",
        "https://d.example/" + "p" * 300]


def test_ledger_fingerprint_matches_corpus_aggs(spark, tmp_path):
    """hash mode: XOR of doc_id = xxhash64(url); provided mode (any
    doc_id, a null url): per-url hashing — both equal CORPUS_AGGS'
    ``bit_xor(xxhash64(url))``, directly and as the scalar riding
    ``write_arrow_direct``."""
    hashed = spark.createDataFrame([(u,) for u in URLS], "url string").select(
        F.xxhash64("url").alias("doc_id"), "url", F.lit(3).cast("long").alias("doc_len")
    )
    provided = spark.createDataFrame(
        [(i, u) for i, u in enumerate(URLS + [None])], "doc_id long, url string"
    ).withColumn("doc_len", F.lit(2).cast("long"))
    cat = Catalog(str(tmp_path))
    for mode, df in (("hash", hashed), ("provided", provided)):
        want = df.agg(*CORPUS_AGGS()).collect()[0]["input_fingerprint"]
        t = df.toArrow()
        assert ledger_fingerprint(t.column("doc_id"), t.column("url"), mode == "hash") == want
        for stats in ("hash", True) if mode == "hash" else (True,):
            got = cat.write_arrow_direct(df, f"ledger_{mode}", ledger_stats=stats)
            assert got["input_fingerprint"] == want, (mode, stats)
            got = cat.write_arrow_local(t, f"local_{mode}", ledger_stats=stats)
            assert got["input_fingerprint"] == want and got["n_docs"] == t.num_rows
    with pytest.raises(ValueError, match="ledger_stats"):
        cat.write_arrow_local(t, "bad", ledger_stats="provided")


def _row_loop_runs(vals):
    """The per-row split the vectorized one replaced."""
    starts, stops, start = [], [], 0
    for i in range(1, len(vals) + 1):
        if i == len(vals) or vals[i] != vals[start]:
            starts.append(start)
            stops.append(i)
            start = i
    return np.array(starts), np.array(stops)


def test_partition_runs_equals_row_loop():
    rng = np.random.default_rng(3)
    cases = [np.array([5]), np.array([1, 1, 1]), np.arange(7)]
    cases += [np.repeat(rng.integers(0, 4, 30), rng.integers(1, 5, 30)) for _ in range(20)]
    for vals in cases:
        for got, want in zip(catalog.partition_runs(vals), _row_loop_runs(vals)):
            assert got.tolist() == want.tolist()


def test_partitioned_write_bytes_unchanged(tiny_index, tmp_path, monkeypatch):
    """Posting rows written through the part writer with the vectorized
    split and with the per-row loop give byte-identical files — rows
    sorted by bucket as a build writes them, and interleaved."""
    src = Catalog(tiny_index["dir"]).read_local("postings")
    src = src.set_column(
        src.schema.get_field_index("tbucket"), "tbucket", src.column("tbucket").cast(pa.int32())
    ).sort_by([("tbucket", "ascending"), ("term_id", "ascending"), ("salt", "ascending")])
    n = src.num_rows
    mixed = pa.concat_tables([src.slice(i, 97) for i in range(0, n, 97)][::-1])
    for name, table in (("sorted", src), ("interleaved", mixed)):
        files = {}
        for split in ("vectorized", "row_loop"):
            if split == "row_loop":
                monkeypatch.setattr(catalog, "partition_runs", _row_loop_runs)
            cat = Catalog(str(tmp_path / split))
            cat.write_arrow_local(table, name, partition_col="tbucket")
            root = cat.path(name)
            files[split] = {
                os.path.relpath(os.path.join(d, f), root): open(os.path.join(d, f), "rb").read()
                for d, _, fs in os.walk(root) for f in fs
            }
            monkeypatch.undo()
        assert len(files["vectorized"]) > 2
        assert files["vectorized"] == files["row_loop"], name
