"""The benchmark's workloads and their correctness gates.

``interactive``: closed loop, one client, one BM25 MaxScore query at a
time against an index built in setup.  ``ingest``: closed loop, one
client, one seeded change-feed delta at a time applied with
``incremental_update``, each followed by a query through a newly opened
index.  Both print the same end-to-end metrics; the per-layer metrics
come from a separate traced run.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from codegraph_rust_spark.config import IndexConfig
from codegraph_rust_spark.operators.oracle import oracle_topk
from codegraph_rust_spark.operators.topk import InvertedIndex
from codegraph_rust_spark.operators.xxhash import xxh64_str
from codegraph_rust_spark.plans.build import build_index

from . import inputs
from .trace import Outcomes, Tracer, median

N_DOCS = 2000          # pages per corpus
VOCAB = 50_000         # corpus and query vocabulary
K = 10                 # top-k per query
WARM_QUERIES = 5       # interactive warm-up queries (untimed, in setup)
FRESH_QUERIES = 3      # ingest: queries through a newly opened index per splice
N_VECTORS = 512        # NSW probe vectors (traced interactive runs)
NSW_BATCH = 16         # qids per NSW search batch
NSW_BATCHES = 3
NSW_RECALL_FLOOR = 0.6
# spans around calls that only traced runs make on the timed path
TRACE_ONLY_SPANS = ("incremental.detect",)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def parquet_files(path: str) -> int:
    return sum(
        f.endswith(".parquet") for _d, _s, files in os.walk(path) for f in files
    )


class Bench:
    """State of one run: session, tracer, outcomes and collected samples."""

    def __init__(self, spark, settings: dict, work: str, seed: int,
                 seconds: float, traced: bool, t_start: float) -> None:
        self.spark, self.settings, self.work = spark, settings, work
        self.seed, self.seconds, self.t_start = seed, seconds, t_start
        self.traced = traced
        self.tracer = Tracer(traced)
        self.outcomes = Outcomes()
        self.cfg = IndexConfig(
            input_partitions=settings["input_partitions"],
            # 10% of the corpus, the ratio bench.py uses at 20k pages, so
            # head terms take the salted path
            salt_df_threshold=N_DOCS // 10,
            max_salts=16,
        )
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, list[float]] = {}
        self.groups: dict[str, list[str]] = {}   # layer → Spark job groups
        self.context: dict = {}
        self._n_ops = 0

    # ------------------------------------------------------------ helpers

    def add(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(float(value))

    def op_id(self, kind: str) -> str:
        self._n_ops += 1
        return f"{kind}-{self._n_ops}"

    @contextmanager
    def jobs(self, layer: str, op: str, on: bool):
        """Tags the Spark jobs of ``op`` so their count can be read back."""
        if not on:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(op, op)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.groups.setdefault(layer, []).append(op)

    def job_counts(self, layer: str) -> dict[str, float]:
        """Median Spark jobs, stages and tasks per tagged operation."""
        st = self.spark.sparkContext.statusTracker()
        jobs, stages, tasks = [], [], []
        for g in self.groups.get(layer, []):
            ids = st.getJobIdsForGroup(g)
            n_st = n_tk = 0
            for j in ids:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    if si and si.numCompletedTasks:
                        n_st += 1
                        n_tk += si.numCompletedTasks
            jobs.append(len(ids))
            stages.append(n_st)
            tasks.append(n_tk)
        return {"jobs": median(jobs), "stages": median(stages), "tasks": median(tasks)}

    def trace_overhead(self, n_ops: int) -> None:
        """Per timed operation: the tracer's bookkeeping plus the
        trace-only probes on the timed path."""
        probes = sum(
            s.end - s.start for s in self.tracer.spans if s.name in TRACE_ONLY_SPANS
        )
        self.add("trace.overhead_s", (self.tracer.own_s + probes) / max(1, n_ops))

    def mark(self, phase: str) -> None:
        """Seconds since process start at the end of a setup phase."""
        self.context.setdefault("setup_phases_s", {})[phase] = time.perf_counter() - self.t_start

    def end_setup(self) -> None:
        self.mark("warm")
        self.e2e["setup_s"] = time.perf_counter() - self.t_start

    def window(self):
        """Yields once per closed-loop operation: at least once, then
        while the previous operation's wall still fits in what is left
        of ``seconds``.  An operation that cannot finish inside the
        window is not started, so an ``ingest`` delta costing between a
        half and the whole window is timed once on every run instead of
        once or twice depending on host speed."""
        t_end = time.perf_counter() + self.seconds
        while True:
            t_op = time.perf_counter()
            yield
            now = time.perf_counter()
            if now + (now - t_op) > t_end:
                return

    # ------------------------------------------------------- engine calls

    def build(self, pages_dir: str, index_dir: str) -> dict:
        pages = self.spark.read.parquet(pages_dir)
        t0 = time.perf_counter()
        with self.tracer.span("build.index"):
            m = build_index(self.spark, pages, index_dir, self.cfg, resume=False)
        wall = time.perf_counter() - t0
        st = {k: v["wall_s"] for k, v in m["stages"].items()}
        for stage in ("tokenized", "dictionary", "postings"):
            self.add(f"build.{stage}_s", st.get(stage, 0.0))
            self.add(f"build.{stage}_bytes", m["bytes"].get(stage, 0))
        self.add("build.rest_s", wall - sum(st.values()))
        self.add("build.total_postings", m["total_postings"])
        self.add("catalog.postings_files", parquet_files(os.path.join(index_dir, "postings")))
        self.e2e["build_docs_per_s"] = m["n_docs"] / wall
        return m

    def query(self, index_dir: str, q: tuple[int, str], op: str, traced: bool,
              idx: InvertedIndex | None = None) -> tuple[float, list]:
        """One closed-loop request: [open,] plan, collect.  Returns the
        wall from the call to the end of collect, and the rows."""
        tr = self.tracer if traced else Tracer(False)
        t0 = time.perf_counter()
        with self.jobs("topk", op, traced), tr.span("query", op=op):
            if idx is None:
                with tr.span("topk.open"):
                    idx = InvertedIndex(self.spark, index_dir, self.cfg)
            with tr.span("topk.plan"), self._traced_analyze(idx, tr):
                df = idx.topk_batch([q], k=K, mode="maxscore")
            with tr.span("topk.collect"):
                rows = df.collect()
        wall = time.perf_counter() - t0
        if traced:
            self.add("topk.result_rows", len(rows))
        return wall, rows

    @staticmethod
    @contextmanager
    def _traced_analyze(idx: InvertedIndex, tr: Tracer):
        """``topk_batch`` calls ``analyze_queries`` through the handle, so
        shadowing it on this handle nests a topk.analyze span inside
        topk.plan, and plan's self time excludes the analysis."""
        if not tr.enabled:
            yield
            return
        analyze = idx.analyze_queries

        def traced(queries):
            with tr.span("topk.analyze"):
                return analyze(queries)

        idx.analyze_queries = traced
        try:
            yield
        finally:
            del idx.analyze_queries

    def check_answers(self, answered, docs: list[tuple[str, str]], what: str) -> None:
        """Marks every answered query whose rows are not rank-identical
        to the oracle over ``docs`` as wrong."""
        want = golden(self, docs, [q for q, _ in answered])
        for q, rows in answered:
            problem = rank_mismatch(rows, want[q[0]])
            if problem:
                self.outcomes.wrong(f"{what} {q}: {problem}")

    # ------------------------------------------------ trace-only probes

    def dissect_build(self, pages_dir: str, index_dir: str) -> None:
        """Noop-sink walls of the tokenize and postings stages, and the
        same tokenize written through the catalog; the difference is
        the catalog's write cost.  Runs warm, after the timed window."""
        from codegraph_rust_spark.operators.postings import build_postings, tokenize_stage
        from codegraph_rust_spark.plans.build import DICT, TOKENIZED, partition_input
        from codegraph_rust_spark.sources.catalog import Catalog

        def noop(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        pages = partition_input(self.spark.read.parquet(pages_dir), self.cfg)
        tok_noop = noop(tokenize_stage(pages, self.cfg, probe_dups=False))
        cat = Catalog(os.path.join(self.work, "dissect"))
        t0 = time.perf_counter()
        cat.write_arrow_direct(
            tokenize_stage(pages, self.cfg, probe_dups=False), TOKENIZED, ledger_stats=True
        )
        tok_write = time.perf_counter() - t0
        live = Catalog(index_dir)
        tok = live.read(self.spark, TOKENIZED)
        stats = self.spark.read.parquet(live.path("corpus_stats")).collect()[0]
        est = int(stats["n_docs"] * max(float(stats["avgdl"] or 1.0), 1.0) * 0.85)
        post_noop = noop(build_postings(tok, live.read(self.spark, DICT), self.cfg, est_rows=est))
        self.add("postings.tokenize_noop_s", tok_noop)
        self.add("postings.build_postings_noop_s", post_noop)
        self.add("catalog.write_s", tok_write - tok_noop)

    def nsw_probe(self) -> None:
        """LSH NSW graph build plus seeded 16-qid batch searches over
        clustered vectors, each batch checked against numpy."""
        from codegraph_rust_spark.functions import nsw

        vec_dir = os.path.join(self.work, "vectors")
        x = inputs.clustered_vectors(vec_dir, self.seed, N_VECTORS).astype(np.float64)
        with self.tracer.span("nsw.graph_build"):
            nsw.build_graph(self.spark, vec_dir, "lsh")
        unit = x / np.linalg.norm(x, axis=1, keepdims=True)
        rng = np.random.default_rng([self.seed, 7])
        for _ in range(NSW_BATCHES):
            qids = sorted(int(q) for q in rng.choice(N_VECTORS, NSW_BATCH, replace=False))
            op = self.op_id("nsw")

            def search():
                with self.jobs("nsw", op, True), self.tracer.span("nsw.search", op=op):
                    with self.tracer.span("nsw.plan"):
                        df = nsw.nsw_search_batch(self.spark, vec_dir, qids, kind="lsh")
                    with self.tracer.span("nsw.collect"):
                        return df.collect()

            rows = self.outcomes.call(search, op)
            problem = rows is not None and self._nsw_problem(rows, qids, unit)
            if problem:
                self.outcomes.wrong(f"{op}: {problem}")

    @staticmethod
    def _nsw_problem(rows, qids: list[int], unit: np.ndarray) -> str | None:
        """What is wrong with an NSW batch result, or None."""
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["qid"], []).append(r)
        recalls = []
        for q in qids:
            got = sorted(by_q.get(q, []), key=lambda r: r["rank"])
            if not got or [r["rank"] for r in got] != list(range(1, len(got) + 1)):
                return f"qid {q}: ranks {[r['rank'] for r in got]}"
            keys = [(-r["cosine"], r["vec_id"]) for r in got]
            if keys != sorted(keys):
                return f"qid {q}: not ordered by (cosine desc, vec_id asc)"
            cos = unit @ unit[q]
            for r in got:
                # the engine rounds half away from zero; one step of 1e-6
                # covers a value that straddles a rounding boundary
                want = round(float(cos[r["vec_id"]]), 6)
                if abs(r["cosine"] - want) > 1.000001e-6:
                    return f"qid {q}: vec {r['vec_id']} cosine {r['cosine']} != {want}"
            exact = np.lexsort((np.arange(len(cos)), -np.round(cos, 6)))[:len(got)]
            recalls.append(len({r["vec_id"] for r in got} & set(exact.tolist())) / len(got))
        recall = float(np.mean(recalls))
        return None if recall >= NSW_RECALL_FLOOR else f"recall@k {recall:.2f} < {NSW_RECALL_FLOOR}"


def rank_mismatch(rows, want: list[tuple[int, float]]) -> str | None:
    """How ``rows`` differ from the oracle's top-k, or None when they are
    rank-identical: same doc ids in rank order, scores within 1e-9."""
    have = sorted((r["rank"], r["doc_id"], r["score"]) for r in rows)
    if len(have) == len(want) and all(
        d == wd and abs(s - ws) <= 1e-9 for (_r, d, s), (wd, ws) in zip(have, want)
    ):
        return None
    return f"{have[:3]} != oracle {want[:3]}"


def corpus_docs(pages_dir: str) -> list[tuple[str, str]]:
    t = pq.read_table(pages_dir, columns=["url", "text"]).to_pydict()
    return list(zip(t["url"], t["text"]))


def golden(b: Bench, docs: list[tuple[str, str]], queries) -> dict:
    """Exhaustive BM25 over (xxhash64(url), text) — the engine's doc ids."""
    return oracle_topk(
        [(xxh64_str(u), text) for u, text in docs], queries, k=K, cfg=b.cfg
    )


# ---------------------------------------------------------------- workloads


@dataclass
class Inputs:
    """Everything a run feeds the engine, generated from its seed."""

    pages_dir: str
    queries: list[tuple[int, str]]
    feed: inputs.ChangeFeed


def prepare(work: str, seed: int) -> Inputs:
    """Generates the run's inputs; needs no Spark, so it overlaps the
    session start."""
    pages_dir = inputs.generate_corpus(os.path.join(work, "corpus"), seed, N_DOCS, VOCAB)
    return Inputs(
        pages_dir,
        inputs.query_stream(seed, VOCAB, 1000),
        inputs.ChangeFeed(pages_dir, seed, VOCAB),
    )


def interactive(b: Bench, ins: Inputs) -> None:
    pages_dir = ins.pages_dir
    index_dir = os.path.join(b.work, "index")
    b.build(pages_dir, index_dir)
    b.mark("build")
    with b.tracer.span("topk.open"):
        idx = InvertedIndex(b.spark, index_dir, b.cfg)
    stream = iter(ins.queries)
    answered: list[tuple[tuple[int, str], list]] = []

    def run(q, traced: bool) -> float | None:
        got = b.outcomes.call(
            lambda: b.query(index_dir, q, b.op_id("query"), traced, idx=idx), f"query {q}"
        )
        if got is None:
            return None
        answered.append((q, got[1]))
        return got[0]

    for _ in range(WARM_QUERIES):
        run(next(stream), False)
    b.end_setup()

    walls, t_win = [], time.perf_counter()
    for _ in b.window():
        wall = run(next(stream), b.traced)
        if wall is not None:
            walls.append(wall)
    t_win = time.perf_counter() - t_win
    b.e2e["query_p50_s"] = median(walls)
    b.e2e["items_per_s"] = len(walls) / t_win
    b.context["walls"] = walls
    if b.traced:
        b.trace_overhead(len(walls))

    # ---- correctness gate (after the window, excluded from every metric)
    b.check_answers(answered, corpus_docs(pages_dir), "query")
    b.e2e["index_bytes_per_input_byte"] = dir_bytes(index_dir) / dir_bytes(pages_dir)

    if b.traced:
        b.nsw_probe()


def ingest(b: Bench, ins: Inputs) -> None:
    from codegraph_rust_spark.streaming.incremental import detect_changes, incremental_update

    feed, probes = ins.feed, iter(ins.queries)
    index_dir = os.path.join(b.work, "index")
    b.build(ins.pages_dir, index_dir)
    b.mark("build")
    last_answered: list = []

    def apply(pages_new, op: str, tr: Tracer) -> tuple[dict, float]:
        if tr.enabled:
            with tr.span("incremental.detect", op=op):
                detect_changes(b.spark, pages_new, index_dir, b.cfg).groupBy("change").count().collect()
        t0 = time.perf_counter()
        with tr.span("incremental.update", op=op):
            m = incremental_update(b.spark, pages_new, index_dir, b.cfg, full_snapshot=True)
        return m, time.perf_counter() - t0

    def cycle(traced: bool) -> tuple[float, list[float], int] | None:
        """One delta: apply it, then open the index and query it,
        ``FRESH_QUERIES`` times.  Returns the update wall, the query
        walls and the pages changed."""
        tr = b.tracer if traced else Tracer(False)
        delta = feed.next_delta()
        snap = feed.write_snapshot(os.path.join(b.work, f"snapshot-{feed.version}"))
        op = b.op_id("delta")
        got = b.outcomes.call(lambda: apply(b.spark.read.parquet(snap), op, tr), op)
        if got is None:
            return None
        m, update = got
        ch = m.get("changes", {})
        if (ch.get("modified", 0), ch.get("added", 0), ch.get("deleted", 0)) != (
            delta.modified, delta.added, delta.deleted
        ):
            b.outcomes.wrong(f"{op}: changes {ch} != {delta}")
        if traced:
            st = {k: v["wall_s"] for k, v in m["stages"].items()}
            b.add("incremental.dictionary_s", st.get("dictionary", 0.0))
            b.add("incremental.postings_s", st.get("postings", 0.0))
            b.add("incremental.rest_s", update - sum(st.values()))
            b.add("incremental.changed_docs", delta.changed)
            b.add("incremental.touched_tbuckets", len(m.get("touched_tbuckets") or []))
            b.add("catalog.postings_files", parquet_files(os.path.join(index_dir, "postings")))
        walls = []
        last_answered.clear()
        for _ in range(FRESH_QUERIES):
            q, qop = next(probes), b.op_id("fresh")
            got = b.outcomes.call(lambda: b.query(index_dir, q, qop, traced), qop)
            if got is not None:
                walls.append(got[0])
                last_answered.append((q, got[1]))
        return update, walls, delta.changed

    # warm the read path: one query through a newly opened index.  The
    # build has already run the write path's tokenize, Arrow write,
    # dictionary and encode code; a full warm-up delta (about 13 s)
    # does not fit the run's time budget.
    q = next(probes)
    b.outcomes.call(lambda: b.query(index_dir, q, b.op_id("warm"), False), "warm query")
    b.end_setup()

    updates, fresh, changed = [], [], 0
    for _ in b.window():
        got = cycle(b.traced)
        if got is None:
            continue
        updates.append(got[0])
        fresh.extend(got[1])
        changed += got[2]
    b.e2e["query_p50_s"] = median(fresh)
    b.e2e["items_per_s"] = changed / sum(updates) if updates else 0.0
    b.context["walls"] = updates
    b.context["fresh_walls"] = fresh
    b.context["update_p50_s"] = median(updates)
    if b.traced:
        b.trace_overhead(len(updates))

    # ---- correctness gate: the queries answered after the last splice
    #      equal the oracle over the final corpus (after the window,
    #      excluded from every metric)
    b.check_answers(last_answered, feed.docs(), "fresh query")
    snap = os.path.join(b.work, f"snapshot-{feed.version}")
    b.e2e["index_bytes_per_input_byte"] = dir_bytes(index_dir) / dir_bytes(snap)

    if b.traced:
        b.dissect_build(snap, index_dir)


WORKLOADS = {"interactive": interactive, "ingest": ingest}
