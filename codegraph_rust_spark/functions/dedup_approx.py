"""Approximate near-dup detection: MinHash+LSH and SimHash.

Hash family: both operators key off **md5** (bit-identical in Spark
and DuckDB), so the ENTIRE pipeline — hashing, banding, bucket join,
verification — is replayed by a SQL oracle and driver-checked
hash-exact.  MinHash derives its 64 per-seed hashes from ONE md5 per
shingle via a universal-hash family h_i(x) = (a_i·x + b_i) mod p with
p = 2³¹−1 (Carter–Wegman; one wide hash + 64 multiply-mods is also
cheaper than 64 independent string hashes at 100 TB).  SimHash takes
its 64 term-hash bits from the first 16 hex digits of md5(term),
carried as two uint32 halves so every bit op stays in non-negative
int64 range where Spark's and DuckDB's shift/and/xor semantics agree
exactly.  (xxhash64 is the cheaper per-row hash for a pure production
build — pass ``family='xxh64'`` to either operator; md5, the default,
buys an engine-independent oracle.  Recall gates run for BOTH
families.)

Recall gates beyond the oracle (tests/test_dedup.py): MinHash vs exact
trigram-Jaccard pairs; SimHash vs exact Hamming pairs, where
pigeonhole banding makes recall 1.0 by construction.

Scale design:

* MinHash signatures are one JVM groupBy: explode shingles → N_HASHES
  independent ``min((a_i·x + b_i) mod p)`` aggregates in a SINGLE
  aggregation (map-side partial min combine — the shingle table
  crosses the shuffle once, NOT once per hash function; an earlier
  ×N_HASHES ``crossJoin(seeds)`` variant multiplied shuffle volume 16×
  for identical signatures).
* The only joins are on band buckets — candidate generation cost is
  proportional to bucket collisions, not the O(n²) pair space.
* SimHash is computed entirely JVM-side (md5 + bit arithmetic in
  whole-stage codegen, one shuffle with partial aggregation); no
  Python in the path at all.
* SimHash near-pair search uses pigeonhole banding: d+1 bands over the
  64-bit fingerprint guarantee that any pair within Hamming distance d
  collides on at least one full band (recall = 1.0), then candidates
  are verified by exact ``bit_count(a XOR b)``.  This is the
  block-permutation scheme of Manku/Jain/Sarma (WWW'07, public paper);
  note their production choice for 64-bit web fingerprints is d = 3
  (4 bands × 16 bits → fine buckets) — at d = 8 the bands are 7 bits
  wide, so per-bucket candidate sets grow ~n/128 and the verify join
  dominates at extreme corpus sizes.  d is therefore a parameter.
"""

from __future__ import annotations

import random
from functools import reduce
from operator import add

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .common import t
from .textops import _TOKS, NGRAM_JACCARD_SQL, _trigrams

N_HASHES = 64
BAND_SIZE = 4  # 16 bands × 4 rows

# Carter–Wegman universal family over the Mersenne prime 2^31-1:
# h_i(x) = (a_i·x + b_i) mod P with x < P, a_i ∈ [1, P), b_i ∈ [0, P).
# a_i·x < 2^62 so the arithmetic never leaves int64 — identical in
# Spark and DuckDB.  Coefficients are a fixed deterministic draw.
MINHASH_P = 2_147_483_647
_rng = random.Random(0xC0DE)
MINHASH_AB = [
    (_rng.randrange(1, MINHASH_P), _rng.randrange(0, MINHASH_P))
    for _ in range(N_HASHES)
]
del _rng


def _md5_60(col) -> Column:
    """First 60 bits of md5 as a non-negative int64 (15 hex digits —
    16 would overflow BIGINT's positive range).  Spark's
    conv(hex, 16, 10) and DuckDB's ('0x' || hex)::BIGINT agree."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


_MD5_60_SQL = "(('0x' || substr(md5({c}), 1, 15))::BIGINT)"


def _shingle_x(col, family: str) -> Column:
    """Shingle → x ∈ [0, P) for the Carter-Wegman family.

    family='md5' (default) is bit-replayable in DuckDB — the oracled
    registry path.  family='xxh64' is the cheaper production swap (no
    hex/string round-trip; same downstream pipeline, same recall
    guarantees — only the oracle is lost).  This is THE documented
    production dial for the dedup family."""
    if family == "md5":
        return _md5_60(col) % MINHASH_P
    if family == "xxh64":
        return F.pmod(F.xxhash64(col), F.lit(MINHASH_P))
    raise ValueError(f"unknown hash family {family!r}")


def minhash_signatures(
    spark: SparkSession, sf_dir: str, family: str = "md5"
) -> DataFrame:
    """doc_id → h0..h{N_HASHES-1} minhash signature over word trigrams,
    built in ONE groupBy (each hash = min over shingles of
    (a_i·x + b_i) mod P, x from the chosen hash family).  Shingle
    strings are hashed to int64 BEFORE the shuffle so only 8-byte keys
    cross."""
    sh = _trigrams(spark, sf_dir).select(
        "doc_id", _shingle_x(F.col("sh"), family).alias("x")
    )
    return sh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % MINHASH_P).alias(f"h{i}")
            for i, (a, b) in enumerate(MINHASH_AB)
        ]
    )


def minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, family: str = "md5"
) -> DataFrame:
    """MinHash(64) + LSH(16×4) candidate pairs over word trigrams.

    shingle → minhash signature (single groupBy, see module doc) →
    band signature → bucket self-join; returns distinct candidate
    pairs (doc_a < doc_b).  More hashes / narrower bands than the
    textbook 16×4 raise precision; band count raises recall — both are
    module constants.  ``family`` is the oracle-vs-production hash
    dial (see ``_shingle_x``).
    """
    # materialize the signature table before the band self-join: both
    # join sides reference it, and without a checkpoint Spark derives
    # the whole shingle→min-agg pipeline TWICE.  n_docs × 64 longs —
    # small relative to the corpus at any scale.
    sig = minhash_signatures(spark, sf_dir, family=family).localCheckpoint(
        eager=True
    )
    n_bands = N_HASHES // BAND_SIZE
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"h{i}").cast("string")
                                for i in range(b * BAND_SIZE, (b + 1) * BAND_SIZE)
                            ],
                        ).alias("band_sig"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig"))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _minhash_sql() -> str:
    mins = ",\n         ".join(
        f"min(({a} * x + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_AB)
    )
    n_bands = N_HASHES // BAND_SIZE
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, {sig} AS band_sig FROM sig".format(
            b=b,
            sig=" || ',' || ".join(
                f"h{i}::VARCHAR" for i in range(b * BAND_SIZE, (b + 1) * BAND_SIZE)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
WITH toksa AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS a
  FROM documents
),
sh_raw AS (
  SELECT DISTINCT doc_id, a[g] || ' ' || a[g+1] || ' ' || a[g+2] AS sh
  FROM (SELECT doc_id, a, unnest(generate_series(1, greatest(len(a) - 2, 0))) AS g
        FROM toksa)
),
xs AS (
  SELECT doc_id, {_MD5_60_SQL.format(c="sh")} % {MINHASH_P} AS x FROM sh_raw
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM xs GROUP BY doc_id
),
bands AS (
{band_rows}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
"""


MINHASH_LSH_PAIRS_SQL = _minhash_sql()


# embedding-cosine near-dup: 4 bands × 4 sign bits over fixed
# dimensions (1-based, matching both element_at and DuckDB list
# indexing).  Band WIDTH is the scale dial: a b-bit band bucket holds
# ~n/2^b vectors, so b grows with log2(n) at larger corpora (more
# planes per band, or true random hyperplanes instead of axis signs);
# 4 bits is sized for the test tables.  Candidates are verified by
# exact cosine, so precision is exact; banding trades recall for the
# all-pairs join the brute-force variant would need.
NEARDUP_BANDS = [(1, 9, 17, 25), (33, 41, 49, 57), (5, 13, 21, 29), (37, 45, 53, 61)]
NEARDUP_THRESHOLD = 0.35

_NRM = (
    "sqrt(aggregate(transform({c}, x -> cast(x AS double) * cast(x AS double)),"
    " cast(0 AS double), (acc, v) -> acc + v))"
)


def _make_dot_f64():
    """Arrow-vectorized float64 dot product over two array columns —
    the bulk-pair replacement for the interpreted lambda-fold dot
    (guide §4.2: hand whole batches to numpy instead of evaluating a
    higher-order-function expression per pair).  Each element is cast
    to float64 BEFORE multiplying, and the products are summed left to
    right from 0.0, one column at a time across the whole batch: the
    same float ops in the same order as the SQL ``aggregate(zip_with(
    cast(x AS double) * cast(y AS double)), 0.0, acc + v)`` fold, so
    the result is bit-identical to it.  (A pairwise/SIMD sum such as
    ``np.einsum`` differs in the last ulp, which flips round(·, 6) for
    a value on a k·1e-6 + 5e-7 boundary — pinned by
    test_dot_f64_equals_sequential_fold_at_rounding_boundaries.)
    The ROUNDING itself stays in JVM ``F.round`` so tie semantics are
    bit-identical to the expression it replaces."""

    from pyspark.sql.types import DoubleType

    # DataType instance, not a DDL string: the string form would need
    # an active SparkContext at import time to parse
    @F.pandas_udf(DoubleType())
    def dot_f64(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np

        if len(a) == 0:
            return pd.Series([], dtype="float64")
        av = np.stack(a.values).astype(np.float64, copy=False)
        bv = np.stack(b.values).astype(np.float64, copy=False)
        acc = np.zeros(len(av))
        for j in range(av.shape[1]):
            acc += av[:, j] * bv[:, j]
        return pd.Series(acc)

    return dot_f64


dot_f64 = _make_dot_f64()


def band_sigs(e: DataFrame) -> DataFrame:
    """(vec_id, band, sig) sign-band signatures over NEARDUP_BANDS —
    the shared LSH candidate-generation front end for both the near-dup
    verify leg (embedding_near_dup) and the NSW graph build
    (nsw._nsw_edges_lsh), kept in one place so the two can't drift."""
    return e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat(
                            *[
                                F.when(
                                    F.element_at("embedding", dim) >= 0, F.lit("1")
                                ).otherwise(F.lit("0"))
                                for dim in dims
                            ]
                        ).alias("sig"),
                    )
                    for bi, dims in enumerate(NEARDUP_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("vec_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def _sig_sql(dims: tuple[int, ...], col: str = "embedding") -> str:
    return " || ".join(
        f"(CASE WHEN {col}[{d}] >= 0 THEN '1' ELSE '0' END)" for d in dims
    )


def bands_cte_sql(table: str = "embeddings") -> str:
    """SQL body of the bands CTE, matching band_sigs() bit-for-bit."""
    return " UNION ALL ".join(
        f"SELECT vec_id, {bi} AS band, {_sig_sql(dims)} AS sig FROM {table}"
        for bi, dims in enumerate(NEARDUP_BANDS)
    )


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: sign-band LSH candidate
    generation (same-bucket self-join per band, union across bands)
    followed by exact cosine verification ≥ NEARDUP_THRESHOLD — the
    embedding leg of the dedup family (exact hash / MinHash / SimHash /
    n-gram Jaccard / embedding cosine).  Charikar's sign-random-
    projection LSH with deterministic axis-sign planes so the DuckDB
    oracle replays candidate generation bit-for-bit; dot products stay
    in whole-stage codegen (no Python)."""
    e = t(spark, sf_dir, "embeddings")
    bands = band_sigs(e)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    # per-vector norms hoisted out of the pair loop (identical float64
    # value to the per-pair recompute — the same _NRM fold on the same
    # vector), dot product Arrow-vectorized (see dot_f64): the verify
    # leg scores ~n·bucket_width pairs, and evaluating an interpreted
    # lambda fold per pair was the operator's dominant cost.
    emb = e.select(
        "vec_id", "embedding", F.expr(_NRM.format(c="embedding")).alias("nrm")
    )
    pairs = (
        cand.join(
            emb.select(
                F.col("vec_id").alias("vec_a"),
                F.col("embedding").alias("va"),
                F.col("nrm").alias("na"),
            ),
            "vec_a",
        )
        .join(
            emb.select(
                F.col("vec_id").alias("vec_b"),
                F.col("embedding").alias("vb"),
                F.col("nrm").alias("nb"),
            ),
            "vec_b",
        )
        .withColumn(
            "cosine",
            F.round(dot_f64("va", "vb") / (F.col("na") * F.col("nb")), 6),
        )
        .filter(F.col("cosine") >= NEARDUP_THRESHOLD)
        .select("vec_a", "vec_b", "cosine")
    )
    return pairs


EMBEDDING_NEAR_DUP_SQL = f"""
WITH bands AS (
  {bands_cte_sql()}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
),
scored AS (
  SELECT c.vec_a, c.vec_b,
         round(
           list_dot_product(cast(ea.embedding AS double[]), cast(eb.embedding AS double[]))
           / (sqrt(list_dot_product(cast(ea.embedding AS double[]), cast(ea.embedding AS double[])))
              * sqrt(list_dot_product(cast(eb.embedding AS double[]), cast(eb.embedding AS double[])))),
           6) AS cosine
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.vec_a
  JOIN embeddings eb ON eb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= {NEARDUP_THRESHOLD}
"""


def simhash_halves(
    spark: SparkSession, sf_dir: str, family: str = "md5"
) -> DataFrame:
    """(doc_id, lo_fp, hi_fp) — the 64-bit SimHash carried as two
    uint32 halves so every downstream bit op stays in non-negative
    int64 range (where Spark and DuckDB shift/and/xor agree exactly).

    tf-weighted bit voting over 64 term-hash bits (md5 by default —
    the oracled family; family='xxh64' is the cheaper production swap,
    same pigeonhole guarantees), entirely in JVM codegen (no Python
    UDF): vote_j = Σ_token_instances (2·bit_j − 1); bit j of the
    fingerprint is set when vote_j > 0.  Summing per token INSTANCE is
    identical to tf-weighting unique tokens.  One shuffle (groupBy
    doc_id) with map-side partial aggregation."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_TOKS()).alias("term"))
    if family == "md5":
        lo_e = F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long")
        hi_e = F.conv(F.substring(F.md5("term"), 9, 8), 16, 10).cast("long")
    elif family == "xxh64":
        h = F.xxhash64("term")
        lo_e = h.bitwiseAND(F.lit((1 << 32) - 1))
        hi_e = F.shiftrightunsigned(h, 32)
    else:
        raise ValueError(f"unknown hash family {family!r}")
    # MATERIALIZE the hash halves in a projection before aggregating:
    # inlining lo/hi into the 64 vote aggregates makes Spark evaluate
    # the md5+conv chain once PER AGGREGATE per row (measured 16.7s →
    # 2.5s on the sf0.1 token table for this exact groupBy)
    toks = toks.select("doc_id", lo_e.alias("lo"), hi_e.alias("hi"))
    lo, hi = F.col("lo"), F.col("hi")
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.shiftrightunsigned(lo if j < 32 else hi, j % 32)
                .bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"v{j}")
            for j in range(64)
        ]
    )
    lo_fp = reduce(
        add,
        [
            F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(32)
        ],
    )
    hi_fp = reduce(
        add,
        [
            F.when(F.col(f"v{j}") > 0, F.lit(1 << (j - 32))).otherwise(F.lit(0))
            for j in range(32, 64)
        ],
    )
    sim = votes.select("doc_id", lo_fp.alias("lo_fp"), hi_fp.alias("hi_fp"))
    # empty docs have no token rows: keep them with fingerprint 0
    return (
        d.select("doc_id")
        .join(sim, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("lo_fp", F.lit(0)).alias("lo_fp"),
            F.coalesce("hi_fp", F.lit(0)).alias("hi_fp"),
        )
    )


def simhash64(
    spark: SparkSession, sf_dir: str, family: str = "md5"
) -> DataFrame:
    """(doc_id, simhash) with the halves packed into one int64 — bit 31
    of hi_fp lands in the sign bit via shiftleft's natural wrap (two's
    complement), matching a plain uint64→int64 reinterpretation."""
    h = simhash_halves(spark, sf_dir, family=family)
    return h.select(
        "doc_id",
        F.shiftleft(F.col("hi_fp"), 32).bitwiseOR(F.col("lo_fp")).alias("simhash"),
    )


CC_MAX_ITERS = 30  # safety cap: pointer doubling reaches diameter 2^30
# pair sets at or below this collect to the driver for exact union-find
# (bounded: ~500k Row objects ≈ low hundreds of MB transient); larger
# graphs run the distributed pointer-doubling loop
CC_DRIVER_MAX_PAIRS = 500_000


def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate GROUPS: connected components over the exact
    n-gram-Jaccard candidate pair graph (edges = ngram_jaccard_pairs,
    jaccard ≥ 0.1) — the step a training-data pipeline actually needs
    after pair generation: pick one canonical doc per duplicate cluster
    (component id = min doc_id in the component).

    Min-label propagation with pointer doubling: each round first takes
    the min label over neighbors, then replaces every label by the
    label OF its label (comp[v] ← comp[comp[v]]), so reach doubles per
    round.  The loop runs to a FIXED POINT, not a fixed round count:
    labels are monotone non-increasing per node (the min always
    includes the node's own label), so Σcomp strictly decreases until
    converged — one cheap agg action per round is the convergence
    witness, and the exact transitive closure (= the DuckDB oracle's
    recursive CTE) is guaranteed for any component diameter.
    CC_MAX_ITERS caps runaway graphs at diameter 2^30; at planetary
    scale swap in the alternating-star algorithm of Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — same
    DataFrame surface.  Only docs that appear in at least one pair are
    emitted (singletons are their own trivial component).

    Lineage is truncated (localCheckpoint) on the pair set and on every
    round's label table: without it the self-referencing loop embeds
    3^rounds copies of the candidate-join subtree in one plan — the
    optimizer re-plans (and the broadcast pool re-builds) each copy,
    which is exponential planning work and unbounded driver memory.  On
    a real cluster swap localCheckpoint for checkpoint(reliable) so
    executor loss cannot drop iteration state."""
    from .textops import ngram_jaccard_pairs

    # ngram_jaccard_pairs already returns an eagerly-checkpointed pair
    # set (it materializes before releasing its shingle cache) — no
    # second checkpoint here
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")

    # Adaptive strategy (same broadcast-vs-shuffle logic the join
    # planner applies): a candidate PAIR set far smaller than the
    # corpus is the common case after banding/verification, and the
    # distributed loop below pays ~3 jobs per doubling round no matter
    # how tiny the graph is.  Under the cap, collect the pairs (already
    # materialized) and run exact union-find on the driver — the same
    # min-label components, bit-identically (component id = min doc_id)
    # — then hand back one small DataFrame.  Above the cap, the
    # pointer-doubling loop is the scale path, unchanged.
    n_pairs = pairs.count()
    if n_pairs <= CC_DRIVER_MAX_PAIRS:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        rows = pairs.collect()
        for r in rows:
            a, b = int(r["doc_a"]), int(r["doc_b"])
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN root so the representative is the min id
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        out = [(x, find(x)) for x in parent]
        return spark.createDataFrame(out, "doc_id long, component long")

    # undirected adjacency
    adj = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    labels = (
        adj.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("comp", F.col("doc_id"))
    )
    prev_sum = None
    for _ in range(CC_MAX_ITERS):
        # 1) min over neighbors' labels (and own)
        nbr = (
            adj.join(labels, adj.doc_b == labels.doc_id)
            .select(F.col("doc_a").alias("doc_id"), "comp")
        )
        labels = (
            labels.union(nbr)
            .groupBy("doc_id")
            .agg(F.min("comp").alias("comp"))
        )
        # 2) pointer doubling: comp[v] ← comp[comp[v]]
        parent = labels.select(
            F.col("doc_id").alias("comp"), F.col("comp").alias("comp2")
        )
        labels = (
            labels.join(parent, "comp", "left")
            .select("doc_id", F.coalesce("comp2", "comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
        # convergence: per-node labels are monotone non-increasing, so
        # an unchanged Σcomp means no label moved this round.  Sum in
        # DECIMAL(38,0): at doc_id ≈ 2^63-scale key spaces an int64
        # sum of n labels overflows (ANSI mode would raise mid-build)
        cur_sum = labels.agg(
            F.sum(F.col("comp").cast("decimal(38,0)"))
        ).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select("doc_id", F.col("comp").alias("component"))


def neardup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of near-duplicate CLUSTER sizes — the dedup-impact
    summary a curation run reports (how much of the corpus is 2-way,
    3-way, n-way duplicated): component sizes from the connected-
    components labeling, then a size → cluster-count rollup.  Two tiny
    aggregations on top of the component table."""
    comp = neardup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


NEARDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({NGRAM_JACCARD_SQL}) jp
),
edges AS (
  SELECT doc_a AS v, doc_b AS u FROM pairs
  UNION ALL
  SELECT doc_b AS v, doc_a AS u FROM pairs
),
reach(v, u) AS (
  SELECT v, v AS u FROM (SELECT DISTINCT v FROM edges)
  UNION
  SELECT r.v, e.u FROM reach r JOIN edges e ON r.u = e.v
)
SELECT v AS doc_id, min(u) AS component FROM reach GROUP BY v
"""


NEARDUP_CLUSTER_SIZES_SQL = f"""
WITH comp AS ({NEARDUP_COMPONENTS_SQL}),
sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
SELECT cluster_size, count(*) AS n_clusters FROM sizes GROUP BY cluster_size
"""


def _band_specs(d: int) -> list[tuple[int, int]]:
    """(offset, width) for d+1 bands covering all 64 bits as evenly as
    possible — the pigeonhole guarantee: hamming ≤ d ⇒ ≥1 band equal."""
    n_bands = d + 1
    base, rem = divmod(64, n_bands)
    widths = [base + 1] * rem + [base] * (n_bands - rem)
    offs, acc = [], 0
    for w in widths:
        offs.append((acc, w))
        acc += w
    return offs


def _band_val_col(off: int, w: int) -> Column:
    """Bits [off, off+w) of the fingerprint, read out of the lo_fp /
    hi_fp halves (spanning the 32-bit seam when needed).  Every
    intermediate stays a non-negative < 2^32 int64."""
    mask = (1 << w) - 1
    lo, hi = F.col("lo_fp"), F.col("hi_fp")
    if off >= 32:
        return F.shiftrightunsigned(hi, off - 32).bitwiseAND(F.lit(mask))
    if off + w <= 32:
        return F.shiftrightunsigned(lo, off).bitwiseAND(F.lit(mask))
    nlo = 32 - off
    return (
        F.shiftrightunsigned(lo, off)
        .bitwiseAND(F.lit((1 << nlo) - 1))
        .bitwiseOR(
            F.shiftleft(hi.bitwiseAND(F.lit((1 << (off + w - 32)) - 1)), nlo)
        )
    )


def _band_val_sql(off: int, w: int) -> str:
    mask = (1 << w) - 1
    if off >= 32:
        return f"((hi_fp >> {off - 32}) & {mask})"
    if off + w <= 32:
        return f"((lo_fp >> {off}) & {mask})"
    nlo = 32 - off
    return (
        f"(((lo_fp >> {off}) & {(1 << nlo) - 1})"
        f" | ((hi_fp & {(1 << (off + w - 32)) - 1}) << {nlo}))"
    )


def simhash_near_pairs(
    spark: SparkSession, sf_dir: str, d: int = 8, family: str = "md5"
) -> DataFrame:
    """All pairs within Hamming distance ≤ d of each other's SimHash.

    Pigeonhole banding (d+1 bands) generates candidates with recall
    1.0 by construction; exact ``bit_count(xor)`` (summed over the two
    halves) verifies.  See the module docstring for the
    d-vs-bucket-width scale trade-off (Manku et al. use d=3 for 64-bit
    fingerprints at web scale)."""
    # materialize fingerprints before the band self-join (both sides
    # reference them — see minhash_lsh_pairs); n_docs × 2 longs
    sh = simhash_halves(spark, sf_dir, family=family).localCheckpoint(eager=True)
    specs = _band_specs(d)
    banded = sh.select(
        "doc_id",
        "lo_fp",
        "hi_fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        _band_val_col(off, w).alias("band_val"),
                    )
                    for i, (off, w) in enumerate(specs)
                ]
            )
        ).alias("bs"),
    ).select(
        "doc_id",
        "lo_fp",
        "hi_fp",
        F.col("bs.band").alias("band"),
        F.col("bs.band_val").alias("band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (
                F.bit_count(F.col("a.lo_fp").bitwiseXOR(F.col("b.lo_fp")))
                + F.bit_count(F.col("a.hi_fp").bitwiseXOR(F.col("b.hi_fp")))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= d)
        .distinct()
    )
    return pairs


def _simhash_near_pairs_sql(d: int = 8) -> str:
    votes = ",\n         ".join(
        f"sum((({'lo' if j < 32 else 'hi'} >> {j % 32}) & 1) * 2 - 1) AS v{j}"
        for j in range(64)
    )
    lo_fp = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(32)
    )
    hi_fp = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << (j - 32)} ELSE 0 END)"
        for j in range(32, 64)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, lo_fp, hi_fp, {i} AS band,"
        f" {_band_val_sql(off, w)} AS band_val FROM fp"
        for i, (off, w) in enumerate(_band_specs(d))
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS term
  FROM documents
),
h AS (
  SELECT doc_id,
         ('0x' || substr(md5(term), 1, 8))::BIGINT AS lo,
         ('0x' || substr(md5(term), 9, 8))::BIGINT AS hi
  FROM toks
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id
),
fp0 AS (
  SELECT doc_id, {lo_fp} AS lo_fp, {hi_fp} AS hi_fp FROM votes
),
fp AS (
  SELECT d.doc_id, coalesce(f.lo_fp, 0)::BIGINT AS lo_fp,
         coalesce(f.hi_fp, 0)::BIGINT AS hi_fp
  FROM documents d LEFT JOIN fp0 f ON f.doc_id = d.doc_id
),
banded AS (
{band_rows}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       cast(bit_count(xor(a.lo_fp, b.lo_fp))
            + bit_count(xor(a.hi_fp, b.hi_fp)) AS int) AS hamming
FROM banded a JOIN banded b
  ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.lo_fp, b.lo_fp)) + bit_count(xor(a.hi_fp, b.hi_fp)) <= {d}
"""


SIMHASH_NEAR_PAIRS_SQL = _simhash_near_pairs_sql(8)
