"""Plan-quality gates: the physical plans the registry queries ship
with must stay the plans you'd want at 100 TB — filters pushed to the
parquet scan, columns pruned, small sides broadcast, no shuffle where
the operator doesn't need one.  A refactor that silently turns a
broadcast into a sort-merge join or adds an exchange to a map-only
stage fails HERE, not in a 1000-executor postmortem."""

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_metadata_filters_are_pushed_to_scan(spark):
    from codegraph_rust_spark.functions.textops import metadata_search_filters

    p = _plan(metadata_search_filters(spark, SF))
    # categorical isin + numeric range reach the parquet reader
    assert "PushedFilters" in p
    assert "In(lang" in p and "GreaterThanOrEqual(n_chars,500)" in p


def test_projection_prunes_scan_columns(spark):
    from codegraph_rust_spark.functions.textops import find_docs_by_term

    p = _plan(find_docs_by_term(spark, SF))
    # the scan must not read the full documents schema for a 2-column result
    assert "ReadSchema" in p
    scan_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "lang" not in scan_schema and "source" not in scan_schema


def test_chunking_is_a_pure_map_stage(spark):
    from codegraph_rust_spark.functions.chunking import chunk_documents

    p = _plan(chunk_documents(spark, SF))
    assert "Exchange" not in p, "chunking must not shuffle"


def test_exact_dedup_is_one_shuffle(spark):
    from codegraph_rust_spark.functions.textops import exact_dedup_groups

    p = _plan(exact_dedup_groups(spark, SF))
    assert p.count("Exchange hashpartitioning") == 1
    # partial aggregation (map-side combine) before the exchange
    assert p.count("HashAggregate") == 2


def test_knn_broadcasts_query_not_corpus(spark):
    from codegraph_rust_spark.functions.textops import knn_bruteforce

    p = _plan(knn_bruteforce(spark, SF))
    assert "Broadcast" in p
    assert "Exchange hashpartitioning" not in p, (
        "brute-force knn must be scan + broadcast + TakeOrdered, no hash shuffle"
    )


def test_context_enrichment_broadcasts_topk_side(spark):
    from codegraph_rust_spark.functions.indexed import context_enriched_topk

    p = _plan(context_enriched_topk(spark, SF))
    assert p.count("BroadcastHashJoin") >= 2, (
        "both corpus joins must build from the k-row broadcast side"
    )
    # the only sort-merge join allowed is the k-row full-outer fusion
    # inside hybrid_index_topk (both sides already TakeOrdered results)
    assert p.count("SortMergeJoin") <= 1


def test_embedder_is_one_shuffle_with_partial_aggs(spark):
    from codegraph_rust_spark.functions.embedder import embed_documents

    p = _plan(embed_documents(spark, SF))
    # explode → partial agg → single exchange → final agg (+ the
    # left join back to documents for empty docs)
    assert p.count("Exchange hashpartitioning") <= 2
    assert "HashAggregate" in p


def _assert_hops_broadcast(spark, schedule, n_queries):
    """Every beam-search hop, at every layer, must join the
    (|batch|·EF)-row beam into that layer's edges table as a broadcast
    lookup — the HNSW ef-search access pattern.  A sort-merge join here
    would shuffle the whole adjacency table per hop, which is the plan
    that dies at 10^12 vectors.  The identity ``cp`` keeps the whole hop
    loop in one plan; the 8-row seed fan-out is a broadcast nested loop
    by construction — bounded, allowed."""
    from pyspark.sql import functions as F

    from codegraph_rust_spark.functions import nsw
    from codegraph_rust_spark.functions.common import t

    e = t(spark, SF, "embeddings").select("vec_id", "embedding")
    if schedule == "flat":
        entry = nsw._seeds(e)
        layers = [(nsw._nsw_edges(e), nsw.NSW_HOPS, nsw.NSW_EF)]
    else:
        entry = nsw._hnsw_entry(e)
        layers = [
            (
                nsw._nsw_edges(nsw._hnsw_layer_members(e, lvl)),
                nsw.HNSW_HOPS_UPPER,
                nsw.HNSW_EF_UPPER,
            )
            for lvl in range(nsw.HNSW_MAX_LEVEL, 0, -1)
        ] + [(nsw._nsw_edges(e), nsw.HNSW_HOPS_L0, nsw.NSW_EF)]
    q = nsw._queries(e.filter(F.col("vec_id") < n_queries))
    visited = nsw._visited(e, q, entry, layers, lambda d: d, n_queries == 1)
    p = _plan(visited)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_nsw_beam_hops_are_broadcast_lookups(spark):
    """Flat schedule, one query: the global sort + limit ranking."""
    _assert_hops_broadcast(spark, "flat", 1)


def test_nsw_batched_search_hops_are_broadcast_lookups(spark):
    """Flat schedule, three queries: the per-qid window ranking must
    keep the same broadcast hop plan as the single-query path."""
    _assert_hops_broadcast(spark, "flat", 3)


def test_hnsw_layered_hops_are_broadcast_lookups(spark):
    """Layered schedule: every upper layer and layer 0, for a one-query
    and a three-query batch."""
    for n_queries in (1, 3):
        _assert_hops_broadcast(spark, "layered", n_queries)


def test_one_query_maxscore_is_two_spark_jobs(spark, tiny_index, monkeypatch):
    """On the Spark path (forced: byte cap 0), a one-query MaxScore
    search routes term → qid with a literal
    CASE in the scan projection and ranks with a global sort + limit:
    no parallelized query-terms frame (``Scan ExistingRDD``), no
    broadcast of it, and at most two Spark jobs when collected (the
    residue exchange's map stage, then kernel + TakeOrdered).  A
    three-query batch still ranks with a window partitioned by qid."""
    import re

    from codegraph_rust_spark.operators import topk
    from codegraph_rust_spark.operators.topk import InvertedIndex

    monkeypatch.setattr(topk, "LOCAL_MAX_BYTES", 0)
    idx = InvertedIndex(spark, tiny_index["dir"], tiny_index["cfg"])
    one = idx.topk_batch([(0, "running searches")], k=10, mode="maxscore")
    p = _plan(one)
    assert "BroadcastExchange" not in p
    assert "Scan ExistingRDD" not in p
    sc = spark.sparkContext
    group = "one-query-maxscore-jobs"
    sc.setJobGroup(group, group)
    try:
        assert one.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2

    three = idx.topk_batch(
        [(0, "running searches"), (1, "index merge"), (2, "search")],
        k=10, mode="maxscore",
    )
    assert re.search(r"Window \[row_number\(\) windowspecdefinition\(qid#",
                     _plan(three))


def test_small_query_runs_no_spark_job(spark, tiny_index):
    """Opening an index makes no JVM call, and a query whose matched
    postings fit under the byte cap — one-query and three-query
    batches in both modes, and a query with no term in the index — is
    answered in-process: collecting it runs no Spark job."""
    from codegraph_rust_spark.operators.topk import InvertedIndex

    idx = InvertedIndex(spark, tiny_index["dir"], tiny_index["cfg"])
    assert "_post_df" not in vars(idx)
    sc = spark.sparkContext
    batches = (
        [(0, "running searches")],
        [(0, "running searches"), (1, "index merge"), (2, "search")],
        [(0, "zzz-never-a-term")],
    )
    for i, queries in enumerate(batches):
        for mode in ("taat", "maxscore"):
            group = f"small-query-jobs-{i}-{mode}"
            sc.setJobGroup(group, group)
            try:
                rows = idx.topk_batch(queries, k=10, mode=mode).collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert idx.last_profile["path"] == "local"
            assert bool(rows) == (i < 2)
            assert sc.statusTracker().getJobIdsForGroup(group) == [], (i, mode)
    assert "_post_df" not in vars(idx)


def test_nsw_lsh_graph_build_has_no_quadratic_join(spark):
    """The web-scale NSW graph builder must generate candidates via
    bucketed equi-joins (LSH bands, NN-descent key joins) only — a
    nested-loop or cartesian stage here IS the O(n^2) build the LSH
    path exists to avoid."""
    from codegraph_rust_spark.functions.common import t
    from codegraph_rust_spark.functions.nsw import _nsw_edges_lsh

    e = t(spark, SF, "embeddings").select("vec_id", "embedding")
    p = _plan(_nsw_edges_lsh(e))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_dup_span_profile_partial_aggs_no_quadratic_join(spark):
    """The span-count side must partial-aggregate BEFORE any exchange
    (a boilerplate span in 10^9 docs must arrive at its reducer as
    partial counts, not rows) and the rejoin must be an equi-join —
    never a nested-loop/cartesian."""
    from codegraph_rust_spark.functions.textops import dup_span_profile

    p = _plan(dup_span_profile(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # three agg pairs (distinct pairs, span counts, per-doc profile),
    # each map-side partial + reduce-side final
    assert p.count("HashAggregate") == 6
