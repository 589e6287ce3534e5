"""The snapshot-keyed cache: hit/expiry/LRU semantics with an
injected clock (so TTL is tested, not assumed), the real service
wiring — a repeat NSW batch query must come back from cache without
recomputing — and every piece of derived state missing when its
source changes (same-basename sources, in-place rewrites)."""

import os
import shutil
from types import SimpleNamespace

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as papq

from codegraph_rust_spark.functions.qcache import SnapshotCache

SF = "/root/testdata/sf0.001"


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_hit_ttl_and_lru():
    clk = FakeClock()
    c = SnapshotCache(max_entries=2, ttl_s=300.0, clock=clk)
    calls = []

    def mk(v):
        def compute():
            calls.append(v)
            return v

        return compute

    assert c.get_or_compute(None, ("a",), (), mk(1)) == 1
    assert c.get_or_compute(None, ("a",), (), mk(99)) == 1  # hit — no recompute
    assert calls == [1]
    assert (c.hits, c.misses) == (1, 1)

    # TTL expiry: 301 s later the entry is stale and recomputes
    clk.t = 301.0
    assert c.get_or_compute(None, ("a",), (), mk(2)) == 2
    assert calls == [1, 2]

    # LRU eviction at max_entries=2: touching 'a' keeps it, 'b' falls
    c.get_or_compute(None, ("b",), (), mk(3))
    c.get_or_compute(None, ("a",), (), mk(0))  # hit, moves 'a' to MRU
    c.get_or_compute(None, ("c",), (), mk(4))  # evicts 'b' (LRU), keeps 'a'
    assert c.get_or_compute(None, ("a",), (), mk(0)) == 2  # still cached
    assert c.get_or_compute(None, ("b",), (), mk(5)) == 5  # recomputed


def test_nsw_service_repeat_query_is_cached(spark):
    from codegraph_rust_spark.functions import nsw
    from codegraph_rust_spark.functions.qcache import SERVICE_CACHE

    sf = "/root/testdata/sf0.001"
    qids = [0, 5]
    r1 = nsw.nsw_search_batch_cached(spark, sf, qids, kind="lsh")
    h0 = SERVICE_CACHE.hits
    r2 = nsw.nsw_search_batch_cached(spark, sf, qids, kind="lsh")
    assert SERVICE_CACHE.hits == h0 + 1
    assert r2 is r1  # the very same materialized rows, zero Spark jobs
    # and identical to the uncached path
    fresh = nsw.nsw_search_batch(spark, sf, qids, kind="lsh").collect()
    assert sorted(map(tuple, fresh)) == sorted(map(tuple, r1))


def test_bm25_service_cache_hits_and_splice_invalidation(spark, tmp_path):
    """The BM25 query service's memoization must (a) serve repeats
    from cache and (b) MISS after an incremental splice rewrites the
    ledger commit marker — stale results across an index update are
    the one bug a result cache must never have."""
    import os
    import time as _time

    from codegraph_rust_spark.functions.indexed import ensure_doc_index
    from codegraph_rust_spark.functions.qcache import SERVICE_CACHE
    from codegraph_rust_spark.operators.topk import InvertedIndex
    from codegraph_rust_spark.plans.build import TOKENIZED

    index_dir, cfg = ensure_doc_index(spark, "/root/testdata/sf0.001")
    idx = InvertedIndex(spark, index_dir, cfg)
    queries = [(0, "key agg"), (1, "row scan")]

    r1 = idx.topk_batch_cached(queries, k=5)
    h0, m0 = SERVICE_CACHE.hits, SERVICE_CACHE.misses
    r2 = idx.topk_batch_cached(queries, k=5)
    assert r2 is r1 and SERVICE_CACHE.hits == h0 + 1

    # simulate a splice: the swap rewrites the ledger _SUCCESS marker
    marker = os.path.join(idx.cat.path(TOKENIZED), "_SUCCESS")
    future = _time.time() + 5
    os.utime(marker, (future, future))
    r3 = idx.topk_batch_cached(queries, k=5)
    assert SERVICE_CACHE.misses == m0 + 1  # new snapshot ⇒ recompute
    assert sorted(map(tuple, r3)) == sorted(map(tuple, r1))  # same data
    os.utime(marker, None)  # restore


def test_one_policy_releases_each_dropped_entry_once(tmp_path):
    """Dead application, superseded snapshot and LRU overflow all drop
    through one path that calls ``release`` exactly once; a failing
    release (dead session) is swallowed."""

    def session(app):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))

    src = tmp_path / "t.parquet"
    src.write_bytes(b"x")
    released = []
    c = SnapshotCache(max_entries=2, ttl_s=None)

    def get(app, key, v):
        return c.get_or_compute(
            session(app), (key,), [str(src)], lambda: v, released.append
        )

    assert get("app1", "k", 1) == 1
    assert get("app1", "k", 99) == 1  # hit
    os.utime(src, ns=(0, 123))  # the source changes: new snapshot token
    assert get("app1", "k", 2) == 2
    assert released == [1]  # superseded snapshot
    get("app1", "j", 3)
    get("app1", "i", 4)  # past max_entries=2: 'k' falls off the LRU end
    assert released == [1, 2]
    get("app2", "k", 5)  # app1 is gone: both of its entries drop
    assert sorted(released) == [1, 2, 3, 4]

    def boom(_):
        raise RuntimeError("session stopped")

    c.get_or_compute(session("app2"), ("z",), [], lambda: 0, boom)
    c.get_or_compute(session("app3"), ("z",), [], lambda: 1)  # boom swallowed
    assert sorted(released) == [1, 2, 3, 4, 5]


def _write(sf_dir, name, table):
    os.makedirs(sf_dir, exist_ok=True)
    papq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


def _odd(table, col):
    """The rows of ``table`` whose ``col`` is odd."""
    return table.filter(pa.array(table[col].to_numpy() % 2 == 1))


def _duck(sf_dir, sql):
    con = duckdb.connect()
    for name in ("documents", "embeddings"):
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return sorted(tuple(round(v, 6) if isinstance(v, float) else v for v in r)
                  for r in con.execute(sql).fetchall())


def _rows(df, cols):
    return sorted(tuple(round(r[c], 6) if isinstance(r[c], float) else r[c]
                        for c in cols) for r in df.collect())


def test_same_basename_sources_get_separate_doc_indexes(spark, tmp_path):
    """Two sources both named sf0.001 — the second holding only the
    odd-doc_id half of documents — must not share an on-disk index."""
    from codegraph_rust_spark.functions.indexed import (
        BM25_INDEX_TOPK_SQL,
        bm25_index_topk,
        ensure_doc_index,
    )

    docs = papq.read_table(os.path.join(SF, "documents.parquet"))
    full, half = str(tmp_path / "a" / "sf0.001"), str(tmp_path / "b" / "sf0.001")
    _write(full, "documents", docs)
    _write(half, "documents", _odd(docs, "doc_id"))
    dirs = []
    try:
        for d in (full, half):
            dirs.append(ensure_doc_index(spark, d)[0])
            got = _rows(bm25_index_topk(spark, d), ("doc_id", "score", "rank"))
            ids = set(papq.read_table(os.path.join(d, "documents.parquet"))["doc_id"].to_pylist())
            assert {r[0] for r in got} <= ids
            assert got == _duck(d, BM25_INDEX_TOPK_SQL)
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def test_in_place_rewrite_misses_every_cache(spark, tmp_path):
    """documents / embeddings / part rewritten in place within one
    session: the exhaustive BM25 inputs, the on-disk doc index, the
    max_key scalar and the exact NSW graph must all follow the new
    data."""
    from codegraph_rust_spark.functions import nsw
    from codegraph_rust_spark.functions.common import max_key
    from codegraph_rust_spark.functions.indexed import (
        bm25_index_topk,
        ensure_doc_index,
    )
    from codegraph_rust_spark.functions.textops import BM25_TOPK_SQL, bm25_topk

    sf = str(tmp_path / "sf0.001")
    src = {n: papq.read_table(os.path.join(SF, f"{n}.parquet"))
           for n in ("documents", "embeddings", "part")}
    for name, table in src.items():
        _write(sf, name, table)
    top = ("doc_id", "score", "rank")
    ann = ("vec_id", "cosine", "rank")

    def answers():
        return (
            _rows(bm25_topk(spark, sf), top),
            _rows(bm25_index_topk(spark, sf), top),
            max_key(spark, sf, "part", "p_partkey"),
            _rows(nsw.ann_nsw_beam(spark, sf), ann),
        )

    old_dir = ensure_doc_index(spark, sf)[0]
    new_dir = None
    try:
        before = answers()
        part = src["part"]
        keys = part["p_partkey"].to_numpy()
        _write(sf, "documents", _odd(src["documents"], "doc_id"))
        # keep vec_id 0 (the query) and drop the other even vectors
        emb = src["embeddings"]
        _write(sf, "embeddings", emb.filter(pa.array(
            (emb["vec_id"].to_numpy() % 2 == 1) | (emb["vec_id"].to_numpy() == 0))))
        _write(sf, "part", part.filter(pa.array(keys < keys.max())))

        after = answers()
        new_dir = ensure_doc_index(spark, sf)[0]
        expected = (
            _duck(sf, BM25_TOPK_SQL),
            _duck(sf, BM25_TOPK_SQL),
            pc.max(papq.read_table(os.path.join(sf, "part.parquet"))["p_partkey"]).as_py(),
            _duck(sf, nsw.ANN_NSW_BEAM_SQL),
        )
        assert all(b != e for b, e in zip(before, expected))  # data changed
        stale = [i for i, (a, e) in enumerate(zip(after, expected)) if a != e]
        assert stale == []  # indexes into answers()
        # the rebuilt index replaced the source's stale snapshot on disk
        assert new_dir != old_dir and not os.path.exists(old_dir)
    finally:
        for d in (old_dir, new_dir):
            if d:
                shutil.rmtree(d, ignore_errors=True)
