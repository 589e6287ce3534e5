"""ANN quality gates: every approximate variant must recover a
meaningful fraction of the exact brute-force top-k on real testdata.
The SQL oracles prove Spark == SQL for the SAME approximation; these
prove the approximation is actually any good — the recall axis the
oracle can't see.  Deterministic data + deterministic planes ⇒ exact
assertions, not flaky bounds."""

SF = "/root/testdata/sf0.01"


def _topk_ids(df, id_col="vec_id"):
    return [r[id_col] for r in df.collect()]


def test_ann_variants_recall_vs_bruteforce(spark):
    from codegraph_rust_spark.functions.ivf_kmeans import ann_ivf_trained
    from codegraph_rust_spark.functions.nsw import ann_nsw_beam, ann_nsw_lsh
    from codegraph_rust_spark.functions.rerank import (
        ann_ivf,
        ann_multiprobe,
        ann_overfetch_refine,
    )
    from codegraph_rust_spark.functions.textops import ann_signbucket, knn_bruteforce

    exact5 = set(_topk_ids(knn_bruteforce(spark, SF))[:5])
    assert len(exact5) == 5

    recalls = {}
    for name, fn in [
        ("overfetch_refine", ann_overfetch_refine),
        ("multiprobe", ann_multiprobe),
        ("ivf", ann_ivf),
        ("ivf_trained", ann_ivf_trained),
        ("signbucket", ann_signbucket),
        ("nsw_beam", ann_nsw_beam),
        ("nsw_lsh", ann_nsw_lsh),
    ]:
        got = set(_topk_ids(fn(spark, SF)))
        recalls[name] = len(got & exact5) / 5.0

    # overfetch-refine prefetches k*4+25 by the full-width sign proxy
    # (SRP cosine estimate) then scores exactly — must recover most of
    # the true top-5 (measured 0.8 on this deterministic table)
    assert recalls["overfetch_refine"] >= 0.8, recalls
    assert recalls["ivf"] >= 0.8, recalls
    # trained coarse quantizer must do at least as well as the
    # deterministic-grid ivf at the same probe budget
    assert recalls["ivf_trained"] >= recalls["ivf"], recalls
    # bucketed variants trade recall for candidate-set size; they must
    # still find the query's own bucket neighborhood (non-trivial hit)
    assert recalls["multiprobe"] >= 0.4, recalls
    assert recalls["signbucket"] >= 0.2, recalls
    # the HNSW-analog graph search must match or beat the trained IVF
    # at its probe budget (measured 1.0 on this deterministic table)
    assert recalls["nsw_beam"] >= recalls["ivf_trained"], recalls
    assert recalls["nsw_beam"] >= 0.8, recalls
    # the approximate (LSH + NN-descent) graph build gives up some
    # recall vs the exact graph but must stay useful (measured 0.8)
    assert recalls["nsw_lsh"] >= 0.6, recalls
    # and every variant must at least contain the query vector itself
    for name, fn in [("multiprobe", ann_multiprobe), ("ivf", ann_ivf)]:
        assert 0 in _topk_ids(fn(spark, SF)), f"{name} lost the query vector"


def test_hnsw_layered_recall_and_budget(spark):
    """The layered-HNSW descent (reference: multi-layer HNSW,
    schema/codegraph.surql:815-823) must match the flat exact-graph
    NSW's recall while spending a strictly SMALLER scored-candidate
    budget and FEWER wide base-layer hops — the asymptotic point of
    the hierarchy (per-layer hop count constant; layer count carries
    the log n)."""
    from codegraph_rust_spark.functions import nsw
    from codegraph_rust_spark.functions.textops import knn_bruteforce

    exact5 = set(_topk_ids(knn_bruteforce(spark, SF))[:5])
    flat = set(_topk_ids(nsw.ann_nsw_beam(spark, SF)))
    layered = set(_topk_ids(nsw.ann_hnsw_layered(spark, SF)))

    recall_flat = len(flat & exact5) / 5.0
    recall_layered = len(layered & exact5) / 5.0
    assert recall_layered >= recall_flat, (recall_layered, recall_flat)
    assert recall_layered == 1.0, layered  # measured on this table

    # scored-candidate budget (worst case): layered < flat
    flat_budget = nsw.NSW_SEEDS + nsw.NSW_HOPS * nsw.NSW_EF * nsw.NSW_M
    layered_budget = (
        1
        + 2 * nsw.HNSW_HOPS_UPPER * nsw.HNSW_EF_UPPER * nsw.NSW_M
        + nsw.HNSW_HOPS_L0 * nsw.NSW_EF * nsw.NSW_M
    )
    assert layered_budget < flat_budget, (layered_budget, flat_budget)
    # wide (full-graph) hops: the layered path runs HALF the flat
    # path's, with the difference absorbed by constant-size upper hops
    assert nsw.HNSW_HOPS_L0 < nsw.NSW_HOPS


def test_hnsw_layer_graphs_are_nested_and_bounded(spark):
    """Layer membership is the deterministic md5 rule; upper layers
    must be strict geometric-ish subsets and every adjacency list must
    respect the degree bound M."""
    from pyspark.sql import functions as F

    from codegraph_rust_spark.functions import nsw
    from codegraph_rust_spark.functions.common import t

    e = t(spark, SF, "embeddings").select("vec_id", "embedding")
    n = e.count()
    n1 = nsw._hnsw_layer_members(e, 1).count()
    n2 = nsw._hnsw_layer_members(e, 2).count()
    assert 0 < n2 < n1 < n
    # p(level>=1)=1/4, p(level 2)=1/16 within loose deterministic bands
    assert n / 8 <= n1 <= n / 2.5
    assert n / 32 <= n2 <= n / 8

    counts = nsw.build_hnsw_graphs(spark, SF)
    assert set(counts) == {0, 1, 2}
    for lvl in (1, 2):
        edges = nsw._cached_graph(
            spark, SF, f"hnsw_l{lvl}", lambda: None  # cached by build above
        )
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        assert deg.agg(F.max("d")).collect()[0][0] <= nsw.NSW_M
        # closed over the layer: every endpoint is a layer member
        members = {r["vec_id"] for r in nsw._hnsw_layer_members(e, lvl).collect()}
        bad = edges.filter(
            ~F.col("src").isin(*members) | ~F.col("dst").isin(*members)
        ).count()
        assert bad == 0


def test_round6_half_up_matches_spark_decimal_semantics(spark):
    """The GEMM builder's rounding must agree with Spark F.round on
    adversarial 7-decimal half-boundary values — the exact window
    where a float-scaled floor can disagree with Spark's BigDecimal
    HALF_UP and flip an edge ranking (round-4 advice)."""
    import numpy as np
    from pyspark.sql import functions as F

    from codegraph_rust_spark.functions.nsw import _round6_half_up

    vals = [
        1 / 128,            # 0.0078125 — exact binary half at 1e-7
        -1 / 128,
        3 / 256,            # 0.01171875
        0.1234565,          # decimal half, not exactly representable
        -0.9999995,
        0.0000005,
        7 / 64,             # 0.109375
        0.3333335,
        1.0, -1.0, 0.0,
    ]
    ours = _round6_half_up(np.array(vals, dtype=np.float64).reshape(1, -1)).ravel()
    sdf = spark.createDataFrame(
        [(float(v),) for v in vals], "x double"
    ).select(F.round("x", 6).alias("r"))
    theirs = [r["r"] for r in sdf.collect()]
    assert list(ours) == theirs, list(zip(vals, ours, theirs))


def test_round6_half_up_matches_duckdb_round():
    """The numpy<->DuckDB side of the cross-engine rounding contract
    (round-5 advice): _round6_half_up must ALSO equal DuckDB's
    round() on the same half-boundary values, since the oracle rounds
    in DuckDB while the GEMM/vectorized builders round in numpy."""
    import duckdb
    import numpy as np

    from codegraph_rust_spark.functions.nsw import _round6_half_up

    vals = [
        1 / 128, -1 / 128, 3 / 256, 0.1234565, -0.9999995, 0.0000005,
        7 / 64, 0.3333335, 1.0, -1.0, 0.0, 0.9876545, -0.0000015,
        5 / 1024, 11 / 2048,
    ]
    ours = _round6_half_up(np.array(vals, dtype=np.float64).reshape(1, -1)).ravel()
    con = duckdb.connect()
    theirs = [
        con.execute("select round(?::DOUBLE, 6)", [float(v)]).fetchone()[0]
        for v in vals
    ]
    assert list(ours) == theirs, list(zip(vals, ours, theirs))


def test_hnsw_batched_search_equals_single_query(spark):
    """The batched layered descent must be per-qid IDENTICAL to the
    single-query layered search (same entry point, same per-layer hop
    schedule via the shared _layers) — the contract that lets
    the service answer batches without changing results."""
    from codegraph_rust_spark.functions import nsw

    single = sorted(
        (r["vec_id"], r["rank"], r["cosine"])
        for r in nsw.ann_hnsw_layered(spark, SF).collect()
    )
    batched = sorted(
        (r["vec_id"], r["rank"], r["cosine"])
        for r in nsw.ann_hnsw_batch(spark, SF).collect()
        if r["qid"] == 0
    )
    assert batched == single


def test_hnsw_entry_falls_back_when_top_layer_empty(spark, tmp_path):
    """A corpus too small to populate the top layer must still answer
    with top-k results via the highest POPULATED layer's entry point —
    never a silently empty result set (round-5 review finding)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from codegraph_rust_spark.functions import nsw
    from codegraph_rust_spark.functions.common import t

    src = "/root/testdata/sf0.001"
    d = str(tmp_path / "nolvl2")
    os.makedirs(d, exist_ok=True)
    e = t(spark, src, "embeddings")
    # strip every level-2 vector (md5 last hex char '0'); keep the rest
    kept = e.filter(
        ~nsw._lvl_char().isin(*nsw._HNSW_L2_CHARS)
    )
    assert kept.count() > 50
    kept.write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    doc_src = os.path.join(src, "documents.parquet")
    doc_dst = os.path.join(d, "documents.parquet")
    if os.path.isdir(doc_src):
        shutil.copytree(doc_src, doc_dst)
    else:
        shutil.copy(doc_src, doc_dst)

    out = nsw.ann_hnsw_layered(spark, d).collect()
    assert len(out) == nsw.NSW_K, out
    # vec 0 has level 0 at this seed (md5('0') ends in 'a') — the
    # query vector itself must still be found through the descent
    assert out[0]["vec_id"] == 0 and out[0]["rank"] == 1


def test_dot_f64_equals_sequential_fold_at_rounding_boundaries(spark):
    """dot_f64 (the Arrow-vectorized dot behind the LSH graph build and
    the near-dup verify leg) must return EXACTLY the sequential
    ``aggregate(zip_with(...))`` fold it replaces.  The vectors are
    random but snapped so each dot lands within a few ulps of a
    k·1e-6 + 5e-7 rounding boundary: there a summation-order
    difference of one ulp would flip round(·, 6) and, with it, an edge
    ranking."""
    import numpy as np
    from pyspark.sql import functions as F

    from codegraph_rust_spark.functions.dedup_approx import dot_f64
    from codegraph_rust_spark.functions.nsw import _DOT

    rng = np.random.default_rng(20240617)
    rows = []
    for i in range(400):
        a = rng.standard_normal(64) * rng.choice([1e-3, 1.0, 30.0])
        b = rng.standard_normal(64)
        a[-1] = 1.0
        partial = 0.0
        for x, y in zip(a[:-1], b[:-1]):
            partial += x * y
        boundary = (np.floor(partial * 1e6) + 0.5) / 1e6
        # last term lands the sequential fold on (or ulps off) the boundary
        b[-1] = boundary - partial + rng.integers(-4, 5) * np.spacing(boundary)
        rows.append((i, a.tolist(), b.tolist()))
    df = spark.createDataFrame(rows, "i int, a array<double>, b array<double>")
    got = df.select(
        "i",
        dot_f64("a", "b").alias("vec"),
        F.expr(_DOT.format(a="a", b="b")).alias("fold"),
    ).collect()
    assert len(got) == len(rows)
    diff = [(r["i"], r["vec"], r["fold"]) for r in got if r["vec"] != r["fold"]]
    assert not diff, diff[:5]
    # and the boundary snap is real: most dots sit within 1e-9 of a half
    near = sum(
        abs(r["fold"] * 1e6 - np.floor(r["fold"] * 1e6) - 0.5) < 1e-3 for r in got
    )
    assert near >= len(got) // 2, near
