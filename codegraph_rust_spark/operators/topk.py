"""BM25 top-k query engine over the compressed posting DataFrames.

Analog of the reference's BM25 text-candidate stage
(``content @1@ $q … ORDER BY text_score DESC LIMIT k`` — reference:
schema/codegraph.surql:425-447) driven from
``fn::semantic_search_nodes_via_chunks``; scoring parameters are the
SEARCH index's BM25(k1=1.2, b=0.75) (:933).

Two physical strategies over the same logical plan
(tokenize query → resolve term ids → pruned postings scan → score →
top-k per query):

* **TAAT** (``mode="taat"``) — fully distributed: each posting row
  decodes + scores itself in ``mapInPandas`` (pure numpy) and fans out
  to its queries through the driver's term_id → [qid] dict; partials
  shuffle on (qid, doc_id), ``groupBy().sum()`` merges, then ranks.
  Exhaustive and embarrassingly parallel — the 10^12-doc scan path.
* **MaxScore** (``mode="maxscore"``) — WAND-family dynamic pruning,
  parallelized over DOC-RESIDUE classes: every posting row is routed
  onto a common grid ``g = doc_id mod D`` (D = max salt count among
  the query's terms; power-of-two salt counts make the routing exact —
  a head term's shard (salt s, n_salts n) serves residues
  {s, s+n, s+2n, …}; tail rows replicate to all D residues).  Each
  (query, residue) group holds the COMPLETE postings of its docs, so
  it runs an independent MaxScore with a local threshold θ and returns
  a local top-k; a tiny merge produces the global top-k — exact,
  because every doc's full score lives in exactly one group.  Head-term
  volume therefore splits D ways instead of concentrating in one task
  (the round-1 design shipped ALL salt shards of a query to ONE task).

  Inside a group, non-essential lists are probed with true block-max
  skipping: per-block upper bounds come from the stored (tf_max,
  dl_min) metadata, candidates that cannot reach θ are dropped
  *per block*, and only the surviving blocks are decoded — possible
  because delta chains restart at block boundaries and the split-layout
  codec gives positional access from the prefix stream alone
  (operators/codec.py:decode_u64_at).

Query terms reach the plan as LITERALS, not as a joined DataFrame: the
scan filter is ``tbucket IN (…) AND term_id IN (…)`` and MaxScore's
scan projection routes each posting row to its queries with
``explode(CASE term_id WHEN <id>L THEN array(<qids>) … END) AS qid``,
so no driver-side frame is parallelized and broadcast per query.  The
filter, routing, residue grid and ranking are SQL strings (one
driver→JVM call each, where a Column-built expression costs tens).

Ranking (``_rank``) has two branches with the same rows: a one-query
batch (one distinct qid among the analyzed terms) takes a global
``orderBy(score DESC, doc_id ASC).limit(k)`` — one TakeOrdered, no
exchange — and numbers it with an unpartitioned ``row_number``; a
multi-query batch ranks with a ``row_number`` window partitioned by
qid.  A one-query MaxScore search thus runs in two Spark jobs (the
residue exchange's map stage, then kernel + TakeOrdered).

Both strategies produce rank-identical results (ties broken by
ascending doc_id) — asserted against the pure-Python exhaustive oracle
in tests (FIXTURES.md §5 #5), for one-query and multi-query batches.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..config import IndexConfig
from ..sources.catalog import Catalog
from ..textkit.tokenizer import tokenize
from .codec import (
    decode_u32,
    decode_u32_at,
    decode_u64,
    decode_u64_at,
    delta_decode_blocked,
    delta_decode_blocks_at,
)
from .postings import POSTINGS_TABLE_SCHEMA, n_salts_sql
from .xxhash import xxh64_str

PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("qid", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ]
)

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("qid", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("rank", T.IntegerType()),
    ]
)


def _bm25(tfs, dls, df, n_docs, avgdl, k1, b) -> np.ndarray:
    idf = np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
    t = tfs.astype(np.float64)
    d = dls.astype(np.float64)
    return idf * (t * (k1 + 1.0)) / (t + k1 * (1.0 - b + b * d / avgdl))


def _rank(partial: DataFrame, k: int, single: bool) -> DataFrame:
    """Top-k (qid, doc_id, score, rank) per qid of scored partials by
    (score DESC, doc_id ASC) — the order the oracle ranks by.  A
    one-query batch (``single``) ranks with a global sort + limit: one
    TakeOrdered instead of an exchange, sort and window, numbered by an
    unpartitioned ``row_number`` over its k rows.  Any other batch
    ranks with a window partitioned by qid."""
    if single:
        return (
            partial.orderBy("score", "doc_id", ascending=[False, True])
            .limit(k)
            .selectExpr(
                "qid", "doc_id", "score",
                "row_number() OVER (ORDER BY score DESC, doc_id) AS rank",
            )
        )
    return partial.selectExpr(
        "qid", "doc_id", "score",
        "row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)"
        " AS rank",
    ).filter(f"rank <= {k}")


def _routes(qterms: pd.DataFrame) -> dict[int, list[int]]:
    """term_id → [qid] of every query holding the term — the one
    term→query routing map behind both modes."""
    routes: dict[int, list[int]] = {}
    for t, q in zip(qterms["term_id"], qterms["qid"]):
        routes.setdefault(int(t), []).append(int(q))
    return routes


class InvertedIndex:
    """Handle over a built index directory."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 cfg: IndexConfig | None = None):
        from ..plans.build import CORPUS, POSTINGS

        self.spark = spark
        self.cat = Catalog(index_dir)
        self.cfg = cfg or IndexConfig()
        # the one-row corpus scalars, read driver-side: no Spark job
        row = self.cat.read_local(CORPUS).to_pylist()[0]
        self.n_docs = int(row["n_docs"])
        self.avgdl = float(row["avgdl"] or 1.0)
        # one parquet listing per handle, not per query; the known
        # schema spares the footer-inference job a bare read runs
        self._post_df = spark.read.schema(POSTINGS_TABLE_SCHEMA).parquet(
            self.cat.path(POSTINGS)
        )

    # ---------------------------------------------------------- helpers

    def analyze_queries(self, queries: list[tuple[int, str]]) -> pd.DataFrame:
        """(qid, text) → rows (qid, term, term_id); term ids from the
        pure-Python xxh64 (bit-parity with Spark's xxhash64 pinned by
        test) — no Spark job on the query path, mirroring the
        reference's in-process term-dictionary lookup."""
        rows = []
        for qid, text in queries:
            for term in sorted(set(tokenize(text, self.cfg.analyzer))):
                rows.append((int(qid), term, xxh64_str(term)))
        return pd.DataFrame(rows, columns=["qid", "term", "term_id"])

    def _matched_postings(self, term_ids) -> DataFrame:
        """Postings rows for the query terms, with static tbucket/file
        pruning (the partition-pruning the reference gets from its
        project-scoped composite indexes, surql:843-849).  The ids are
        SQL literals, so the filter reaches the parquet scan as-is."""
        buckets = sorted({t % self.cfg.term_buckets for t in term_ids})
        return self._post_df.filter(
            f"tbucket IN ({', '.join(map(str, buckets))})"
            f" AND term_id IN ({', '.join(f'{t}L' for t in term_ids)})"
        )

    # ------------------------------------------------------------- TAAT

    def _topk_taat(self, qterms: pd.DataFrame, k: int) -> DataFrame:
        n_docs, avgdl = self.n_docs, self.avgdl
        k1, b = self.cfg.k1, self.cfg.b
        block = self.cfg.block_size
        # the term → [qid] map is tiny: it ships inside the closure and
        # each scored posting row fans out to its queries in pandas
        routes = _routes(qterms)
        matched = self._matched_postings(routes)

        def score(batches):
            for pdf in batches:
                out_q, out_d, out_s = [], [], []
                for r in pdf.itertuples(index=False):
                    docs = delta_decode_blocked(
                        decode_u64(bytes(r.doc_payload)), block
                    )
                    tfs = decode_u32(bytes(r.tf_payload))
                    dls = decode_u32(bytes(r.dl_payload))
                    sc = _bm25(tfs, dls, int(r.df), n_docs, avgdl, k1, b)
                    for qid in routes.get(int(r.term_id), ()):
                        out_q.append(np.full(len(docs), qid, dtype=np.int32))
                        out_d.append(docs)
                        out_s.append(sc)
                if out_q:
                    yield pd.DataFrame(
                        {
                            "qid": np.concatenate(out_q),
                            "doc_id": np.concatenate(out_d),
                            "score": np.concatenate(out_s),
                        }
                    )

        partials = matched.mapInPandas(score, schema=PARTIAL_SCHEMA)
        agg = partials.groupBy("qid", "doc_id").agg(F.expr("sum(score) AS score"))
        return _rank(agg, k, qterms["qid"].nunique() == 1)

    # --------------------------------------------------------- MaxScore

    def _topk_maxscore(
        self, qterms: pd.DataFrame, k: int, residues: str = "max"
    ) -> DataFrame:
        n_docs, avgdl = self.n_docs, self.avgdl
        k1, b = self.cfg.k1, self.cfg.b
        block = self.cfg.block_size
        if residues == "max":
            d = str(int(self.cfg.max_salts))
        elif residues == "adaptive":
            d = "max(n_salts) OVER (PARTITION BY qid)"
        else:
            raise ValueError(f"unknown residues strategy {residues!r}")
        routes = _routes(qterms)
        matched = self._matched_postings(routes)

        def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            qid, g = int(key[0]), int(key[1])
            D = int(pdf["D"].iloc[0])
            lists = []
            for r in pdf.itertuples(index=False):
                df_t = int(r.df)
                idf = np.log((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
                btf = np.asarray(r.block_tf, dtype=np.float64)
                bdl = np.asarray(r.block_dl, dtype=np.float64)
                block_ub = idf * (btf * (k1 + 1.0)) / (
                    btf + k1 * (1.0 - b + b * bdl / avgdl)
                )
                ub = float(block_ub.max()) if len(block_ub) else 0.0
                lists.append((ub, int(r.term_id), r, df_t, block_ub))
            if not lists:
                return pd.DataFrame(
                    {"qid": [], "doc_id": [], "score": []}
                ).astype({"qid": "int32", "doc_id": "int64", "score": "float64"})
            # MaxScore: essential lists (desc ub) enumerated until the
            # remaining upper-bound mass cannot beat θ.
            lists.sort(key=lambda x: (-x[0], x[1]))
            ubs = np.array([x[0] for x in lists])
            suffix_ub = np.concatenate([np.cumsum(ubs[::-1])[::-1][1:], [0.0]])
            cand_docs = np.zeros(0, dtype=np.int64)
            cand_sc = np.zeros(0, dtype=np.float64)
            theta = -np.inf
            for i, (_ub, _tid, r, df_t, block_ub) in enumerate(lists):
                n_t = int(r.n_salts)
                essential = not (
                    theta > -np.inf
                    and ubs[i] + suffix_ub[i] < theta
                    and len(cand_docs) >= k
                )
                if essential:
                    # enumerate the full list (this group's residues only)
                    docs = delta_decode_blocked(
                        decode_u64(bytes(r.doc_payload)), block
                    )
                    tfs = decode_u32(bytes(r.tf_payload))
                    dls = decode_u32(bytes(r.dl_payload))
                    if n_t < D:
                        m = (docs % D) == g
                        docs, tfs, dls = docs[m], tfs[m], dls[m]
                    sc = _bm25(tfs, dls, df_t, n_docs, avgdl, k1, b)
                    all_docs = np.concatenate([cand_docs, docs])
                    all_sc = np.concatenate([cand_sc, sc])
                    cand_docs, inv = np.unique(all_docs, return_inverse=True)
                    merged = np.zeros(len(cand_docs))
                    np.add.at(merged, inv, all_sc)
                    cand_sc = merged
                else:
                    # candidates that cannot reach θ with the whole
                    # remaining mass are dead for good
                    keep = cand_sc + ubs[i] + suffix_ub[i] >= theta
                    cand_docs, cand_sc = cand_docs[keep], cand_sc[keep]
                    if len(cand_docs) == 0:
                        continue
                    bld = np.asarray(r.block_last_doc, dtype=np.int64)
                    nblocks = len(bld)
                    n_entries = int(r.n)
                    blk = np.searchsorted(bld, cand_docs, side="left")
                    inlist = blk < nblocks
                    # block-level refinement: candidate's potential
                    # contribution from THIS list is its block's ub
                    gain = np.zeros(len(cand_docs))
                    gain[inlist] = block_ub[blk[inlist]]
                    probe = inlist & (cand_sc + gain + suffix_ub[i] >= theta)
                    if not probe.any():
                        continue
                    # decode ONLY the blocks holding surviving candidates
                    sel = np.unique(blk[probe])
                    bs = sel * block
                    be = np.minimum(bs + block, n_entries)
                    blens = be - bs
                    bounds = np.zeros(len(sel), dtype=np.int64)
                    np.cumsum(blens[:-1], out=bounds[1:])
                    pos = (
                        np.arange(int(blens.sum()), dtype=np.int64)
                        - np.repeat(bounds, blens)
                        + np.repeat(bs, blens)
                    )
                    doc_buf = bytes(r.doc_payload)
                    docs_sel = delta_decode_blocks_at(
                        decode_u64_at(doc_buf, pos), bounds
                    )
                    pc = cand_docs[probe]
                    idx = np.searchsorted(docs_sel, pc)
                    idx_c = np.minimum(idx, len(docs_sel) - 1)
                    hit = docs_sel[idx_c] == pc
                    if hit.any():
                        hit_pos = pos[idx_c[hit]]
                        tf_h = decode_u32_at(bytes(r.tf_payload), hit_pos)
                        dl_h = decode_u32_at(bytes(r.dl_payload), hit_pos)
                        sc_h = _bm25(tf_h, dl_h, df_t, n_docs, avgdl, k1, b)
                        probe_idx = np.nonzero(probe)[0]
                        cand_sc[probe_idx[hit]] += sc_h
                if len(cand_sc) >= k:
                    theta = np.partition(cand_sc, -k)[-k]
            order = np.lexsort((cand_docs, -cand_sc))[:k]
            return pd.DataFrame(
                {
                    "qid": np.full(len(order), qid, dtype=np.int32),
                    "doc_id": cand_docs[order],
                    "score": cand_sc[order],
                }
            )

        # route rows onto the per-query doc-residue grid g = doc mod D.
        # ANY common D that every matched n_salts divides is exact
        # (power-of-two n_salts all divide max_salts):
        #   "max"      — D = cfg.max_salts, no extra pass (default: the
        #                replicated tail lists are each bounded by
        #                salt_df_threshold, so per-group waste is capped,
        #                and skipping the aggregation pass wins latency —
        #                measured p50 1.30s vs 1.55s at 20k docs);
        #   "adaptive" — D = max matched n_salts per qid (tight
        #                replication; one extra window exchange over the
        #                pruned scan — for very large max_salts configs).
        # The scan projection fans each row out to its queries with a
        # literal CASE over term_id; a head shard (salt s, n_salts n)
        # then serves residues g = s + rep·n for rep < D/n.
        whens = " ".join(
            f"WHEN {t}L THEN array({', '.join(map(str, qs))})"
            for t, qs in routes.items()
        )
        pq = (
            matched.selectExpr(
                "*",
                f"explode(CASE term_id {whens} END) AS qid",
                f"{n_salts_sql(self.cfg)} AS n_salts",
            )
            .selectExpr("*", f"{d} AS D")
            .selectExpr(
                "*",
                "explode(transform(sequence(0, CAST(D / n_salts AS INT) - 1),"
                " rep -> salt + rep * n_salts)) AS g",
            )
        )
        # explicit AQE-exempt partitioning: the groups are CPU-bound
        # Python; byte-based coalescing would serialize them into one
        # task (postings blobs are small in bytes).
        n_part = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        pq = pq.repartition(n_part, "qid", "g")

        # mapInPandas + in-partition groupby instead of
        # groupBy().applyInPandas: the repartition above already
        # co-locates every (qid, g) group, and a 50-query batch makes
        # |queries|·D tiny groups — applyInPandas pays per-GROUP pandas
        # materialization overhead, mapInPandas one concat + a C-level
        # groupby per partition (identical per-group algorithm → same
        # rows; pinned by the rank-identity gates)
        def run_part(batches):
            chunks = [pdf for pdf in batches if len(pdf)]
            if not chunks:
                return
            pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            for key, grp in pdf.groupby(["qid", "g"], sort=False):
                out = run(key, grp)
                if len(out):
                    yield out

        partial = pq.mapInPandas(run_part, schema=PARTIAL_SCHEMA)
        return _rank(partial, k, qterms["qid"].nunique() == 1)

    # ------------------------------------------------------------- API

    def topk_batch(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        mode: str = "taat",
        residues: str = "max",
    ) -> DataFrame:
        qterms = self.analyze_queries(queries)
        if len(qterms) == 0:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        if mode == "taat":
            return self._topk_taat(qterms, k)
        if mode == "maxscore":
            return self._topk_maxscore(qterms, k, residues=residues)
        raise ValueError(f"unknown mode {mode!r}")

    def topk(self, query: str, k: int = 10, mode: str = "taat") -> DataFrame:
        return self.topk_batch([(0, query)], k=k, mode=mode).drop("qid")

    def topk_batch_cached(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        mode: str = "taat",
        residues: str = "max",
    ) -> list:
        """``topk_batch`` behind the process-wide LRU+TTL result cache
        (functions/qcache.py — the reference daemon's (project, tool,
        params) memoization, graph_tool_executor.rs:299-322).  The key
        carries the index snapshot token, so a repeat query within the
        TTL returns collected rows with zero Spark jobs while any
        incremental splice transparently misses: the snapshot token is
        the tokenized ledger's ``_SUCCESS`` marker, rewritten by every
        swap (streaming/incremental._swap_ledger)."""
        from ..functions.qcache import SERVICE_CACHE
        from ..plans.build import TOKENIZED

        return SERVICE_CACHE.get_or_compute(
            self.spark,
            ("bm25_topk_batch", self.cat.root, tuple(queries), k, mode, residues),
            [os.path.join(self.cat.path(TOKENIZED), "_SUCCESS")],
            lambda: self.topk_batch(queries, k=k, mode=mode, residues=residues).collect(),
        )

    def with_urls(self, topk_df: DataFrame) -> DataFrame:
        """FK-deref of result doc_ids to urls (the reference's node
        lookup after candidate ranking).  The TOP-K side is broadcast —
        it is k·|queries| rows; the docs table is corpus-sized and must
        stay distributed (broadcasting docs would ship the whole corpus
        to every executor at web scale).

        INNER join on purpose: Spark cannot build the broadcast hash
        table on the preserved side of an outer join (RightOuter only
        supports BuildLeft), so a `right` join here would silently
        degrade to a corpus-wide sort-merge join.  Every top-k doc_id
        came out of this index's doc table, so inner ≡ right."""
        from ..plans.build import read_docs

        docs = read_docs(self.spark, self.cat)
        return (
            docs.select("doc_id", "url")
            .join(F.broadcast(topk_df), "doc_id")
            .select(*topk_df.columns, "url")
        )
