"""Incremental NSW insert gates (nsw.nsw_insert) — the vector-side
analog of the single-doc text reindex: split the real embeddings table
80/20, build the exact graph on the 80%, insert the 20% as a batch,
then assert structural invariants, determinism, and that beam search
through the SPLICED graph still finds the exact top-k.

Reference parity: the reference's HNSW index is CONSTRUCTED by
insert-time neighbor selection (surql:815-823); this is that operation
as bounded Spark joins."""

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _split(spark):
    from codegraph_rust_spark.functions.common import t

    e = t(spark, SF, "embeddings").select("vec_id", "embedding")
    e_old = e.filter(F.col("vec_id") % 5 != 0)
    e_new = e.filter(F.col("vec_id") % 5 == 0)
    return e, e_old, e_new


def _edge_set(df):
    return {(r["src"], r["dst"]) for r in df.collect()}


def test_nsw_insert_invariants_and_determinism(spark):
    from codegraph_rust_spark.functions.nsw import (
        NSW_M,
        _nsw_edges,
        nsw_insert,
    )

    e, e_old, e_new = _split(spark)
    edges_old = _nsw_edges(e_old).localCheckpoint()
    spliced = nsw_insert(e_old, edges_old, e_new)
    got = _edge_set(spliced)

    all_ids = {r["vec_id"] for r in e.select("vec_id").collect()}
    new_ids = {r["vec_id"] for r in e_new.select("vec_id").collect()}
    srcs = {s for s, _ in got}
    # every vector (old and new) keeps an adjacency list
    assert srcs == all_ids
    # no self-loops, no dangling endpoints
    assert all(s != d for s, d in got)
    assert {d for _, d in got} <= all_ids
    # degree bound holds everywhere after the shrink pass
    deg = {}
    for s, _ in got:
        deg[s] = deg.get(s, 0) + 1
    assert max(deg.values()) <= NSW_M
    # new vectors got a full complement of links (the batch plus the
    # old corpus dwarf NSW_M candidates at this SF)
    assert all(deg[n] == NSW_M for n in new_ids)
    # untouched old lists pass through byte-identical
    affected_old = {s for s, d in got if d in new_ids}
    old_edges = _edge_set(edges_old)
    for s, d in old_edges:
        if s not in affected_old:
            assert (s, d) in got
    # deterministic: same inputs, same graph
    again = _edge_set(nsw_insert(e_old, edges_old, e_new))
    assert again == got


def test_gemm_build_matches_sql_fold(spark):
    """The blocked-GEMM exact builder must produce the IDENTICAL edge
    set to the declarative SQL-fold formulation — the half-away-from-
    zero round(cos,6) ranking contract in action (np.round's
    half-to-even would break this on exact 7-decimal halves)."""
    from pyspark.sql import Window

    from codegraph_rust_spark.functions.common import t
    from codegraph_rust_spark.functions.nsw import (
        _DOT,
        _NRM,
        NSW_M,
        _nsw_edges,
    )

    e = t(spark, SF, "embeddings").select("vec_id", "embedding")
    en = e.select(
        "vec_id", "embedding", F.expr(_NRM.format(a="embedding")).alias("nrm")
    )
    a = en.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    b = en.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    pairs = a.join(b, a.src != b.dst).select(
        "src",
        "dst",
        F.round(
            F.expr(_DOT.format(a="a_emb", b="b_emb"))
            / (F.col("a_nrm") * F.col("b_nrm")),
            6,
        ).alias("cos"),
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos"), F.asc("dst"))
    sql_fold = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= NSW_M)
        .select("src", "dst")
    )
    assert _edge_set(_nsw_edges(e)) == _edge_set(sql_fold)


def test_nsw_insert_rejects_empty_base(spark):
    """Bootstrap must go through the batch builders: with no old
    vectors there are no seeds, and an outlier new vector with unique
    LSH bands would silently vanish from the adjacency set."""
    import pytest

    from codegraph_rust_spark.functions.nsw import nsw_insert

    e, _, e_new = _split(spark)
    empty = e.filter(F.col("vec_id") < 0)
    empty_edges = empty.select(
        F.col("vec_id").alias("src"), F.col("vec_id").alias("dst")
    )
    with pytest.raises(ValueError, match="non-empty base"):
        nsw_insert(empty, empty_edges, e_new)


def test_nsw_search_batch_matches_single_query(spark):
    """The batched query service must return, per qid, EXACTLY the
    single-query result — same entry points, same hop schedule, same
    tie-breaks; batching only amortizes the per-hop joins.  Holds for
    every index kind, and a batch that names one query twice is that
    one query (the global sort + limit ranking branch)."""
    from codegraph_rust_spark.functions import nsw

    singles = {
        "exact": nsw.ann_nsw_beam,
        "lsh": nsw.ann_nsw_lsh,
        "hnsw": nsw.ann_hnsw_layered,
    }

    def by_rank(rows):
        return sorted(
            [(r["vec_id"], r["cosine"], r["rank"]) for r in rows],
            key=lambda x: x[2],
        )

    for kind, single_fn in singles.items():
        single = by_rank(single_fn(spark, SF).collect())
        assert [rk for _, _, rk in single] == list(range(1, nsw.NSW_K + 1))
        dup = nsw.nsw_search_batch(spark, SF, qids=[0, 0], kind=kind).collect()
        assert {r["qid"] for r in dup} == {0}
        assert by_rank(dup) == single, kind
        rows = nsw.nsw_search_batch(spark, SF, qids=[0, 5, 10], kind=kind).collect()
        assert by_rank(r for r in rows if r["qid"] == 0) == single, kind
        # every query in the batch got a full top-k, ranked 1..k, and
        # finds itself first (its own vector is in the corpus)
        for qid in (0, 5, 10):
            mine = by_rank(r for r in rows if r["qid"] == qid)
            assert [rk for _, _, rk in mine] == list(range(1, len(mine) + 1))
            assert mine[0][0] == qid, (kind, qid, mine)


def test_nsw_insert_search_recall(spark):
    """Beam search through the incrementally-spliced graph must still
    recover the exact top-k for a query (vec_id=0 is itself one of the
    INSERTED vectors — the hard case: its links were made by the
    insert path, not the batch builder)."""
    from codegraph_rust_spark.functions.nsw import (
        NSW_EF,
        NSW_HOPS,
        NSW_K,
        _lazy_cp,
        _nsw_edges,
        _queries,
        _seeds,
        _top,
        _visited,
        nsw_insert,
    )
    from codegraph_rust_spark.functions.textops import knn_bruteforce

    e, e_old, e_new = _split(spark)
    edges_old = _nsw_edges(e_old).localCheckpoint()
    spliced = nsw_insert(e_old, edges_old, e_new).localCheckpoint()

    def search(edges):
        q = _queries(e.filter(F.col("vec_id") == 0))
        v = _visited(e, q, _seeds(e), [(edges, NSW_HOPS, NSW_EF)], _lazy_cp, True)
        return [r["vec_id"] for r in _top(v, NSW_K, True).collect()]

    got = search(spliced)
    exact = [r["vec_id"] for r in knn_bruteforce(spark, SF).collect()][:NSW_K]
    recall = len(set(got) & set(exact)) / float(NSW_K)
    # measured 1.0 on this deterministic table; the gate allows one
    # boundary miss
    assert recall >= 0.8, (recall, got, exact)
    # the from-scratch exact graph on the FULL table is the upper
    # bound; spliced recall must not fall more than one hit behind
    full = _nsw_edges(e).localCheckpoint()
    got_full = search(full)
    recall_full = len(set(got_full) & set(exact)) / float(NSW_K)
    assert recall >= recall_full - 0.2, (recall, recall_full)
