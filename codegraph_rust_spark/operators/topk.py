"""BM25 top-k query engine over the compressed posting DataFrames.

Analog of the reference's BM25 text-candidate stage
(``content @1@ $q … ORDER BY text_score DESC LIMIT k`` — reference:
schema/codegraph.surql:425-447) driven from
``fn::semantic_search_nodes_via_chunks``; scoring parameters are the
SEARCH index's BM25(k1=1.2, b=0.75) (:933).

Two scoring strategies over the same logical plan
(tokenize query → resolve term ids → pruned postings scan → score →
top-k per query):

* **TAAT** (``mode="taat"``) — exhaustive: each posting row decodes +
  scores itself (``taat_score``, pure numpy) and fans out to its
  queries through the term_id → [qid] routing map; partials are summed
  per (qid, doc_id), then ranked.  Embarrassingly parallel — the
  10^12-doc scan path.
* **MaxScore** (``mode="maxscore"``) — WAND-family dynamic pruning,
  parallelized over DOC-RESIDUE classes: every posting row is routed
  onto a common grid ``g = doc_id mod D`` (D = the index's max_salts;
  power-of-two salt counts make the routing exact —
  a head term's shard (salt s, n_salts n) serves residues
  {s, s+n, s+2n, …}; tail rows replicate to all D residues).  Each
  (query, residue) group holds the COMPLETE postings of its docs, so
  it runs an independent MaxScore (``maxscore_group``) with a local
  threshold θ and returns a local top-k; a tiny merge produces the
  global top-k — exact, because every doc's full score lives in
  exactly one group.  Head-term volume therefore splits D ways instead
  of concentrating in one task.

  Inside a group, non-essential lists are probed with true block-max
  skipping: per-block upper bounds come from the stored (tf_max,
  dl_min) metadata, candidates that cannot reach θ are dropped
  *per block*, and only the surviving blocks are decoded — possible
  because delta chains restart at block boundaries and the split-layout
  codec gives positional access from the prefix stream alone
  (operators/codec.py:decode_u64_at).

Dispatch.  After analysis the driver reads only ``term_id, n_bytes``
of the matched rows with pyarrow (the same tbucket/term_id pruning as
the Spark scan, listing only the touched ``tbucket=X`` directories).
When their payload bytes, each row counted once per query it serves,
are at most ``LOCAL_MAX_BYTES``, the batch is answered IN-PROCESS: the
full matched rows are read with pyarrow, grouped exactly as the Spark
plan groups them, run through the same kernels on the driver, ranked
in pandas and returned as a DataFrame over an Arrow table — no Spark
job runs, not even at collect (the reference's in-process SEARCH-index
lookup plus ``LIMIT k``).  A query with no analyzed term takes the
same exit with no rows.  Larger batches run the Spark plan below.

Spark plan.  Query terms reach the plan as LITERALS, not as a joined
DataFrame: the scan filter is ``tbucket IN (…) AND term_id IN (…)``
and MaxScore's scan projection routes each posting row to its queries
with ``explode(CASE term_id WHEN <id>L THEN array(<qids>) … END) AS
qid``, so no driver-side frame is parallelized and broadcast per
query.  The filter, routing, residue grid and ranking are SQL strings
(one driver→JVM call each, where a Column-built expression costs
tens).  Ranking (``_rank``) has two branches with the same rows: a
one-query batch takes a global ``orderBy(score DESC, doc_id
ASC).limit(k)`` — one TakeOrdered, no exchange — and numbers it with
an unpartitioned ``row_number``; a multi-query batch ranks with a
``row_number`` window partitioned by qid.  A one-query MaxScore search
on this path runs in two Spark jobs (the residue exchange's map stage,
then kernel + TakeOrdered).

Both strategies, on both paths, produce rank-identical results (ties
broken by ascending doc_id) — asserted against the pure-Python
exhaustive oracle in tests (FIXTURES.md §5 #5), for one-query and
multi-query batches; MaxScore rows are bit-equal between the paths.
"""

from __future__ import annotations

import os
from functools import cached_property
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

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
from .postings import _n_salts_py, n_salts_sql
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
_TOPK_ARROW = to_arrow_schema(TOPK_SCHEMA)

# Matched postings payload bytes (n_bytes, each row counted once per
# query it serves) up to which a batch is answered in-process.  The
# in-process path runs the kernels serially where the Spark plan runs
# them on every core after ~0.4-0.6 s of fixed job cost; on a 4-vCPU
# host over a 20k-doc index the lowest crossover of the two walls was
# a one-query MaxScore over many head terms, between 6.2 MB (in-process
# 1.08 s vs 1.24 s) and 8.3 MB (2.35 s vs 1.64 s); TAAT and
# multi-query MaxScore batches cross later (sweep in CHANGES.md).
LOCAL_MAX_BYTES = 6 << 20


class Scoring(NamedTuple):
    """What scoring a posting row needs besides the row: the corpus
    scalars, BM25's (k1, b) and the codec block size."""

    n_docs: int
    avgdl: float
    k1: float
    b: float
    block: int


def _bm25(tfs, dls, df, sc: Scoring) -> np.ndarray:
    idf = np.log((sc.n_docs - df + 0.5) / (df + 0.5) + 1.0)
    t = tfs.astype(np.float64)
    d = dls.astype(np.float64)
    return idf * (t * (sc.k1 + 1.0)) / (
        t + sc.k1 * (1.0 - sc.b + sc.b * d / sc.avgdl)
    )


def taat_score(rows, routes: dict[int, list[int]], sc: Scoring) -> pd.DataFrame | None:
    """TAAT kernel: decodes and scores every posting of ``rows``
    (postings rows: term_id, df and the three payloads) and fans each
    out to the queries ``routes`` maps its term to.  Returns partial
    (qid, doc_id, score) rows — one per (query, term, doc), to be
    summed per (qid, doc_id) — or None when nothing routes."""
    out_q, out_d, out_s = [], [], []
    for r in rows:
        docs = delta_decode_blocked(decode_u64(bytes(r.doc_payload)), sc.block)
        tfs = decode_u32(bytes(r.tf_payload))
        dls = decode_u32(bytes(r.dl_payload))
        s = _bm25(tfs, dls, int(r.df), sc)
        for qid in routes.get(int(r.term_id), ()):
            out_q.append(np.full(len(docs), qid, dtype=np.int32))
            out_d.append(docs)
            out_s.append(s)
    if not out_q:
        return None
    return pd.DataFrame(
        {
            "qid": np.concatenate(out_q),
            "doc_id": np.concatenate(out_d),
            "score": np.concatenate(out_s),
        }
    )


def maxscore_group(rows, g: int, D: int, k: int, sc: Scoring):
    """MaxScore kernel over one (query, residue) group: ``rows`` are
    the postings rows (with their ``n_salts``) routed to residue ``g``
    of the grid doc_id mod ``D``; a row of fewer than D shards is
    masked to the residue.  Returns the group's top-k doc ids and
    scores, ordered by (score DESC, doc_id ASC), and its engine
    counters: lists enumerated in full (``essential_lists``, their
    blocks ``blocks_enumerated``) and lists probed (``probed_lists``,
    their blocks split into ``blocks_decoded`` and ``blocks_skipped``),
    and the final θ (None while fewer than k candidates)."""
    c = dict(essential_lists=0, probed_lists=0, blocks_enumerated=0,
             blocks_decoded=0, blocks_skipped=0, theta=None)
    block = sc.block
    lists = []
    for r in rows:
        df_t = int(r.df)
        idf = np.log((sc.n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
        btf = np.asarray(r.block_tf, dtype=np.float64)
        bdl = np.asarray(r.block_dl, dtype=np.float64)
        block_ub = idf * (btf * (sc.k1 + 1.0)) / (
            btf + sc.k1 * (1.0 - sc.b + sc.b * bdl / sc.avgdl)
        )
        ub = float(block_ub.max()) if len(block_ub) else 0.0
        lists.append((ub, int(r.term_id), r, df_t, block_ub))
    if not lists:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64), c
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
        nblocks = len(block_ub)
        essential = not (
            theta > -np.inf
            and ubs[i] + suffix_ub[i] < theta
            and len(cand_docs) >= k
        )
        if essential:
            c["essential_lists"] += 1
            c["blocks_enumerated"] += nblocks
            # enumerate the full list (this group's residues only)
            docs = delta_decode_blocked(decode_u64(bytes(r.doc_payload)), block)
            tfs = decode_u32(bytes(r.tf_payload))
            dls = decode_u32(bytes(r.dl_payload))
            if n_t < D:
                m = (docs % D) == g
                docs, tfs, dls = docs[m], tfs[m], dls[m]
            s = _bm25(tfs, dls, df_t, sc)
            all_docs = np.concatenate([cand_docs, docs])
            all_sc = np.concatenate([cand_sc, s])
            cand_docs, inv = np.unique(all_docs, return_inverse=True)
            merged = np.zeros(len(cand_docs))
            np.add.at(merged, inv, all_sc)
            cand_sc = merged
        else:
            c["probed_lists"] += 1
            c["blocks_skipped"] += nblocks
            # candidates that cannot reach θ with the whole
            # remaining mass are dead for good
            keep = cand_sc + ubs[i] + suffix_ub[i] >= theta
            cand_docs, cand_sc = cand_docs[keep], cand_sc[keep]
            if len(cand_docs) == 0:
                continue
            bld = np.asarray(r.block_last_doc, dtype=np.int64)
            n_entries = int(r.n)
            blk = np.searchsorted(bld, cand_docs, side="left")
            inlist = blk < len(bld)
            # block-level refinement: candidate's potential
            # contribution from THIS list is its block's ub
            gain = np.zeros(len(cand_docs))
            gain[inlist] = block_ub[blk[inlist]]
            probe = inlist & (cand_sc + gain + suffix_ub[i] >= theta)
            if not probe.any():
                continue
            # decode ONLY the blocks holding surviving candidates
            sel = np.unique(blk[probe])
            c["blocks_decoded"] += len(sel)
            c["blocks_skipped"] -= len(sel)
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
            docs_sel = delta_decode_blocks_at(decode_u64_at(doc_buf, pos), bounds)
            pc = cand_docs[probe]
            idx = np.searchsorted(docs_sel, pc)
            idx_c = np.minimum(idx, len(docs_sel) - 1)
            hit = docs_sel[idx_c] == pc
            if hit.any():
                hit_pos = pos[idx_c[hit]]
                tf_h = decode_u32_at(bytes(r.tf_payload), hit_pos)
                dl_h = decode_u32_at(bytes(r.dl_payload), hit_pos)
                sc_h = _bm25(tf_h, dl_h, df_t, sc)
                probe_idx = np.nonzero(probe)[0]
                cand_sc[probe_idx[hit]] += sc_h
        if len(cand_sc) >= k:
            theta = np.partition(cand_sc, -k)[-k]
    if theta > -np.inf:
        c["theta"] = float(theta)
    order = np.lexsort((cand_docs, -cand_sc))[:k]
    return cand_docs[order], cand_sc[order], c


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


def _rank_local(partial: pd.DataFrame, k: int) -> pd.DataFrame:
    """``_rank`` in pandas: the top-k partials per qid by (score DESC,
    doc_id ASC), numbered from 1."""
    p = partial.sort_values(
        ["qid", "score", "doc_id"], ascending=[True, False, True], kind="stable"
    )
    p["rank"] = p.groupby("qid").cumcount() + 1
    return p[p["rank"] <= k]


def _routes(qterms: pd.DataFrame) -> dict[int, list[int]]:
    """term_id → [qid] of every query holding the term — the one
    term→query routing map behind both modes."""
    routes: dict[int, list[int]] = {}
    for t, q in zip(qterms["term_id"], qterms["qid"]):
        routes.setdefault(int(t), []).append(int(q))
    return routes


def _sum_counters(counters: list[dict]) -> dict:
    """Per-group MaxScore counters summed; θ is the largest group θ."""
    out = {key: sum(c[key] for c in counters) for key in counters[0] if key != "theta"}
    thetas = [c["theta"] for c in counters if c["theta"] is not None]
    out["theta_max"] = max(thetas) if thetas else None
    return out


class InvertedIndex:
    """Handle over a built index directory.  ``last_profile`` describes
    the latest ``topk_batch``: the path taken (``local`` or ``spark``),
    matched rows and bytes, and for an in-process MaxScore the (qid, g)
    group count and the summed kernel counters."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 cfg: IndexConfig | None = None):
        from ..plans.build import CORPUS

        self.spark = spark
        self.cat = Catalog(index_dir)
        self.cfg = cfg or IndexConfig()
        # the one-row corpus scalars, read driver-side: no Spark job
        row = self.cat.read_local(CORPUS).to_pylist()[0]
        self.n_docs = int(row["n_docs"])
        self.avgdl = float(row["avgdl"] or 1.0)
        self.scoring = Scoring(
            self.n_docs, self.avgdl, self.cfg.k1, self.cfg.b, self.cfg.block_size
        )
        self.last_profile: dict = {}

    @cached_property
    def _post_df(self) -> DataFrame:
        """The postings table for the Spark path: one parquet listing
        per handle, not per query, made by its first Spark-path query,
        so opening a handle makes no JVM call.  ``Catalog.read`` gives
        it the known schema, sparing the footer-inference job of a bare
        read."""
        from ..plans.build import POSTINGS

        return self.cat.read(self.spark, POSTINGS)

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

    def _buckets(self, term_ids) -> list[int]:
        return sorted({t % self.cfg.term_buckets for t in term_ids})

    def _matched_postings(self, term_ids) -> DataFrame:
        """Postings rows for the query terms, with static tbucket/file
        pruning (the partition-pruning the reference gets from its
        project-scoped composite indexes, surql:843-849).  The ids are
        SQL literals, so the filter reaches the parquet scan as-is."""
        return self._post_df.filter(
            f"tbucket IN ({', '.join(map(str, self._buckets(term_ids)))})"
            f" AND term_id IN ({', '.join(f'{t}L' for t in term_ids)})"
        )

    def _read_matched(self, term_ids, columns: list[str] | None = None):
        """The rows of ``_matched_postings`` read in-process with
        pyarrow (a pyarrow Table): only the touched tbucket directories
        are listed."""
        from ..plans.build import POSTINGS

        return self.cat.read_local(
            POSTINGS, columns=columns, where={"term_id": list(term_ids)},
            partitions=("tbucket", self._buckets(term_ids)),
        )

    # ------------------------------------------------------------- TAAT

    def _topk_taat(self, qterms: pd.DataFrame, k: int) -> DataFrame:
        sc = self.scoring
        # the term → [qid] map is tiny: it ships inside the closure and
        # each scored posting row fans out to its queries in pandas
        routes = _routes(qterms)
        matched = self._matched_postings(routes)

        def score(batches):
            for pdf in batches:
                out = taat_score(pdf.itertuples(index=False), routes, sc)
                if out is not None:
                    yield out

        partials = matched.mapInPandas(score, schema=PARTIAL_SCHEMA)
        agg = partials.groupBy("qid", "doc_id").agg(F.expr("sum(score) AS score"))
        return _rank(agg, k, qterms["qid"].nunique() == 1)

    # --------------------------------------------------------- MaxScore

    def _topk_maxscore(self, qterms: pd.DataFrame, k: int) -> DataFrame:
        sc = self.scoring
        d = str(int(self.cfg.max_salts))
        routes = _routes(qterms)
        matched = self._matched_postings(routes)

        # route rows onto the doc-residue grid g = doc mod D with
        # D = cfg.max_salts, which every (power-of-two) n_salts divides,
        # so the routing is exact.  The replicated tail lists are each
        # bounded by salt_df_threshold, so per-group waste is capped.
        # The scan projection fans each row out to its queries with a
        # literal CASE over term_id; a head shard (salt s, n_salts n)
        # then serves residues g = s + rep·n for rep < D/n.
        # ``_maxscore_local`` builds the same groups on the driver.
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
            for (qid, g), grp in pdf.groupby(["qid", "g"], sort=False):
                docs, scores, _ = maxscore_group(
                    grp.itertuples(index=False), int(g), int(grp["D"].iloc[0]), k, sc
                )
                if len(docs):
                    yield pd.DataFrame(
                        {
                            "qid": np.full(len(docs), qid, dtype=np.int32),
                            "doc_id": docs,
                            "score": scores,
                        }
                    )

        partial = pq.mapInPandas(run_part, schema=PARTIAL_SCHEMA)
        return _rank(partial, k, qterms["qid"].nunique() == 1)

    # ------------------------------------------------------- in-process

    def _maxscore_local(self, routes, rows: pd.DataFrame, k: int) -> pd.DataFrame:
        """The Spark plan's (qid, g) groups built on the driver — same D,
        same n_salts, g = salt + rep·n_salts — each run through
        ``maxscore_group``: partial (qid, doc_id, score) rows."""
        rows["n_salts"] = [_n_salts_py(int(x), self.cfg) for x in rows["df"]]
        by_q: dict[int, list] = {}
        for r in rows.itertuples(index=False):
            for q in routes[int(r.term_id)]:
                by_q.setdefault(q, []).append(r)
        qids, docs, scores, counters = [], [], [], []
        D = self.cfg.max_salts
        for q, rs in by_q.items():
            groups: dict[int, list] = {}
            for r in rs:
                for rep in range(D // r.n_salts):
                    groups.setdefault(int(r.salt) + rep * r.n_salts, []).append(r)
            for g, grp in groups.items():
                d, s, c = maxscore_group(grp, g, D, k, self.scoring)
                qids.append(np.full(len(d), q, dtype=np.int32))
                docs.append(d)
                scores.append(s)
                counters.append(c)
        self.last_profile.update(groups=len(counters), **_sum_counters(counters))
        return pd.DataFrame(
            {
                "qid": np.concatenate(qids),
                "doc_id": np.concatenate(docs),
                "score": np.concatenate(scores),
            }
        )

    def _local_result(self, ranked: pd.DataFrame | None) -> DataFrame:
        """A driver-side top-k (None: no rows) as a DataFrame over an
        Arrow table: collecting it runs no Spark job, with or without
        Arrow enabled in the session (a pandas or list frame runs
        one)."""
        if ranked is None:
            table = _TOPK_ARROW.empty_table()
        else:
            table = pa.Table.from_pandas(
                ranked[_TOPK_ARROW.names], schema=_TOPK_ARROW, preserve_index=False
            )
        return self.spark.createDataFrame(table, TOPK_SCHEMA)

    # ------------------------------------------------------------- API

    def topk_batch(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        mode: str = "taat",
    ) -> DataFrame:
        """Top-k (qid, doc_id, score, rank) of every (qid, text) query,
        answered in-process or by the Spark plan by the dispatch rule
        in the module docstring; ``last_profile`` records which."""
        if mode not in ("taat", "maxscore"):
            raise ValueError(f"unknown mode {mode!r}")
        qterms = self.analyze_queries(queries)
        routes = _routes(qterms)
        self.last_profile = {"path": "local", "mode": mode,
                             "queries": int(qterms["qid"].nunique()),
                             "matched_rows": 0, "matched_bytes": 0}
        if not routes:
            return self._local_result(None)
        meta = self._read_matched(routes, ["term_id", "n_bytes"]).to_pydict()
        nbytes = sum(
            len(routes[t]) * b for t, b in zip(meta["term_id"], meta["n_bytes"])
        )
        self.last_profile.update(matched_rows=len(meta["term_id"]), matched_bytes=nbytes)
        if nbytes > LOCAL_MAX_BYTES:
            self.last_profile["path"] = "spark"
            if mode == "taat":
                return self._topk_taat(qterms, k)
            return self._topk_maxscore(qterms, k)
        if not meta["term_id"]:
            return self._local_result(None)
        rows = self._read_matched(routes).to_pandas()
        if mode == "taat":
            partial = taat_score(rows.itertuples(index=False), routes, self.scoring)
            partial = partial.groupby(["qid", "doc_id"], as_index=False, sort=False)["score"].sum()
        else:
            partial = self._maxscore_local(routes, rows, k)
        return self._local_result(_rank_local(partial, k))

    def topk(self, query: str, k: int = 10, mode: str = "taat") -> DataFrame:
        return self.topk_batch([(0, query)], k=k, mode=mode).drop("qid")

    def topk_batch_cached(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        mode: str = "taat",
    ) -> list:
        """``topk_batch`` behind the process-wide LRU+TTL result cache
        (functions/qcache.py — the reference daemon's (project, tool,
        params) memoization, graph_tool_executor.rs:299-322).  The key
        carries the index snapshot token, so a repeat query within the
        TTL returns collected rows with zero Spark jobs while any
        incremental splice transparently misses: the snapshot token is
        the tokenized ledger's ``_SUCCESS`` marker, rewritten by every
        swap (streaming/incremental._swap_table)."""
        from ..functions.qcache import SERVICE_CACHE
        from ..plans.build import TOKENIZED

        return SERVICE_CACHE.get_or_compute(
            self.spark,
            ("bm25_topk_batch", self.cat.root, tuple(queries), k, mode),
            [os.path.join(self.cat.path(TOKENIZED), "_SUCCESS")],
            lambda: self.topk_batch(queries, k=k, mode=mode).collect(),
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
