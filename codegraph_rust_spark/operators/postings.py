"""Posting-list construction operators (SPIMI → term-sharded merge).

The reference gets its inverted index implicitly: row UPSERTs into
SurrealDB trigger SEARCH-index maintenance (four B-tree sub-stores —
doc_ids / doc_lengths / postings / terms, reference:
schema/codegraph.surql:933).  Here the index is explicit DataFrames:

* ``tokenize_stage``  — pages → one row per doc with parallel
  (term_ids, tfs) int arrays: terms are hashed to 64-bit ids inside
  the tokenize batch (python xxh64, bit-identical to Spark xxhash64),
  so NO string payloads ever cross Arrow or a shuffle — map-side
  combine carries (term_id, doc, tf), and workers hold no python
  string object graphs (a map<string,int> variant measurably
  fragmented reused workers and slowed later Arrow stages 2-3x).
* ``explode_tf``      — JVM-side ``arrays_zip`` + ``explode``.
* ``dictionary_stage``— term_id → (df, cf): the terms sub-store (the
  analyzer+hash chain IS the term→id mapping at build and query).
* ``build_postings``  — SPIMI-merge: per-partition PARTIAL posting
  runs are sorted, salted (head-term skew split: salt = doc_id mod
  n_salts(df) from a collected head map — north-rule skew handling,
  analog of the reference's bounded chunk sizes, indexer.rs:1788) and
  Group-VarInt-encoded BEFORE the shuffle, so the posting exchange
  carries ~2 bytes/posting; a term-sharded merge batch-decodes, merges
  by doc id, and writes final rows with block-max (tf_max, dl_min)
  skip metadata.  Exact scores are recomputable at query time from
  (tf, dl) — doc lengths are inlined into the posting payloads.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..config import IndexConfig
from ..textkit.extract import extract_batch
from ..textkit.tokenizer import token_id_counts
from .codec import (
    decode_runs_flat,
    delta_decode_runs,
    delta_encode_runs,
    encode_runs,
)
from .xxhash import xxh64_str

TOKENIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("content_hash", T.LongType()),
        T.StructField("doc_len", T.LongType()),
        T.StructField("term_ids", T.ArrayType(T.LongType())),
        T.StructField("tfs", T.ArrayType(T.IntegerType())),
    ]
)

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term_id", T.LongType()),
        T.StructField("salt", T.IntegerType()),
        T.StructField("df", T.LongType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("doc_payload", T.BinaryType()),
        T.StructField("tf_payload", T.BinaryType()),
        T.StructField("dl_payload", T.BinaryType()),
        # total payload bytes (doc+tf+dl), precomputed at encode time so
        # lineage/metrics jobs never re-scan the binary columns (a
        # length(payload) aggregate reads every blob back; this int
        # column prunes to a few KB per bucket)
        T.StructField("n_bytes", T.LongType()),
        T.StructField("block_last_doc", T.ArrayType(T.LongType())),
        # Stat-INDEPENDENT block skip metadata: max tf and min dl per
        # block.  score(tf, dl) is increasing in tf and decreasing in
        # dl, so idf·score(tf_max, dl_min) is a sound per-block upper
        # bound computed with CURRENT corpus stats at query time.
        # Storing (tf_max, dl_min) instead of a precomputed score means
        # posting rows never depend on global N/avgdl — rows stay valid
        # (and byte-identical) across incremental updates that only
        # touch other terms, and the encode stage needs no corpus-stats
        # barrier before it.
        T.StructField("block_tf", T.ArrayType(T.IntegerType())),
        T.StructField("block_dl", T.ArrayType(T.IntegerType())),
    ]
)

# the committed postings table as read back: rows plus the tbucket
# partition column of its ``tbucket=X`` directories
POSTINGS_TABLE_SCHEMA = T.StructType(
    [*POSTINGS_SCHEMA.fields, T.StructField("tbucket", T.IntegerType())]
)


def n_salts_sql(cfg: IndexConfig, df: str = "df") -> str:
    """SQL text of the number of salt shards for a term with document
    frequency in column `df` — 1 for tail terms, else
    ceil(df/threshold) rounded UP to a power of two, capped at
    cfg.max_salts (itself a power of two).  The chain enumerates
    powers only up to 32; a larger ratio falls through to max_salts.

    Power-of-two shard counts make every n_salts divide max_salts, so
    the query path can route posting rows onto a common doc-residue
    grid (doc_id mod D) and run MaxScore per residue class in parallel
    (operators/topk.py) — the query-side half of the skew story.
    The ONE definition behind build (``n_salts_expr`` in
    ``head_term_map``; its Python twin ``_n_salts_py``) and query
    routing, so the two cannot drift."""
    thr = int(cfg.salt_df_threshold)
    whens = "".join(
        f" WHEN ceil({df} / {thr}) <= {p} THEN {p}"
        for p in (1, 2, 4, 8, 16, 32)
        if p <= cfg.max_salts
    )
    return (
        f"CAST(CASE WHEN {df} <= {thr} THEN 1{whens}"
        f" ELSE {int(cfg.max_salts)} END AS INT)"
    )


def n_salts_expr(df_col, cfg: IndexConfig):
    """``n_salts_sql`` as a Column; `df_col` is the df column's name or
    a plain reference to it (``F.col("df")``)."""
    name = df_col if isinstance(df_col, str) else df_col._jc.toString()
    return F.expr(n_salts_sql(cfg, name))


def tokenize_stage(
    pages: DataFrame, cfg: IndexConfig, probe_dups: bool = False
) -> DataFrame:
    """pages(doc_id?, url, html?, text?) → ledger rows (TOKENIZED_SCHEMA).

    doc_id: xxhash64(url) when cfg.doc_id_mode == "hash" (computed
    JVM-side — deterministic, shuffle-free, resume-stable), else the
    existing doc_id column.

    doc_id = xxhash64(url) requires unique urls: a duplicate would
    double its postings and inflate df/n_docs.  The guard is the
    caller's — ``plans.build.write_url_unique`` on the written ledger,
    or the in-process update's ``_reindex`` — so ``probe_dups`` only
    accepts ``False``.
    """
    if probe_dups:
        raise ValueError(
            "tokenize_stage has no url probe; guard url uniqueness on the "
            "written ledger (plans.build.write_url_unique)"
        )
    cols = set(pages.columns)
    use_html = "html" in cols
    analyzer = cfg.analyzer

    # Unkeyable rows are DROPPED, explicitly: a null url (hash mode) or
    # null doc_id (provided mode) cannot be upserted, deduped, resumed
    # or change-detected — and xxhash64(NULL) is a constant, so two
    # distinct null-url pages would silently collapse into one doc.
    if cfg.doc_id_mode == "hash" and "url" in cols:
        pages = pages.filter(F.col("url").isNotNull())
    elif "doc_id" in cols:
        pages = pages.filter(F.col("doc_id").isNotNull())

    if cfg.doc_id_mode == "hash":
        pages = pages.withColumn("doc_id", F.xxhash64("url"))
    elif "doc_id" not in cols:
        raise ValueError("doc_id_mode='provided' but no doc_id column")
    if "url" not in cols:
        pages = pages.withColumn("url", F.col("doc_id").cast("string"))

    src_col = "html" if use_html else "text"
    # content hash (JVM xxhash64) = the reference's SHA-256 file-hash
    # ledger key (indexer.rs:3161-3183) driving incremental change
    # detection; rides through the tokenize batch untouched.
    inp = pages.select(
        "doc_id", "url", F.xxhash64(src_col).alias("content_hash"), src_col
    )

    def run(batches):
        for rb in batches:
            yield tokenize_batch(rb, src_col, analyzer)

    return inp.mapInArrow(run, schema=TOKENIZED_SCHEMA)


def tokenize_batch(rb, src_col: str, analyzer: str):
    """The tokenize kernel: one Arrow batch of (doc_id, url,
    content_hash, <src_col>) → the same rows in TOKENIZED_SCHEMA, the
    source column replaced by doc_len and the parallel (term_ids, tfs)
    lists.  ``tokenize_stage`` runs it per batch on the workers; an
    in-process index update runs it on the driver.

    token_id_counts fuses tokenize→stem→hash→count behind a
    worker-local raw-token→id memo (Zipf: the hot vocabulary is
    tiny); xxh64_str is bit-identical to Spark's xxhash64 (pinned by
    test), so ids assigned here == ids the query path derives.

    Arrow in and out, not pandas: the host probe shows the Python
    kernel itself scales ~0.94 over 4→16 workers while the old
    mapInPandas stage measured 0.70 — the non-scaling residue was the
    pandas↔Arrow conversions (object columns holding per-doc numpy
    arrays serialize element-at-a-time).  Here the three key columns
    pass through ZERO-COPY from the input batch and the two nested
    columns are built directly as Arrow ListArrays over one
    concatenated buffer each."""
    cols = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
    if src_col == "html":
        texts = extract_batch(cols[src_col].to_pylist())
    else:
        texts = cols[src_col].to_pylist()
    n_rows = len(texts)
    doc_lens = np.empty(n_rows, dtype=np.int64)
    # accumulate offsets in int64: Arrow list<> carries int32 offsets,
    # so >2^31 flat values per batch would silently wrap — impossible
    # at the default 10k-records Arrow batch size, but guarded loudly
    # below rather than corrupting
    offsets = np.empty(n_rows + 1, dtype=np.int64)
    offsets[0] = 0
    id_chunks: list[np.ndarray] = []
    tf_chunks: list[np.ndarray] = []
    for i, text in enumerate(texts):
        cnt, ntoks = (
            token_id_counts(text, xxh64_str, analyzer) if text else ({}, 0)
        )
        doc_lens[i] = ntoks
        m = len(cnt)
        offsets[i + 1] = offsets[i] + m
        if m:
            id_chunks.append(np.fromiter(cnt.keys(), dtype=np.int64, count=m))
            tf_chunks.append(np.fromiter(cnt.values(), dtype=np.int32, count=m))
    flat_ids = (
        np.concatenate(id_chunks) if id_chunks else np.empty(0, dtype=np.int64)
    )
    flat_tfs = (
        np.concatenate(tf_chunks) if tf_chunks else np.empty(0, dtype=np.int32)
    )
    if offsets[n_rows] >= 2**31:
        raise ValueError(
            f"tokenize batch has {offsets[n_rows]} flat terms — "
            "exceeds Arrow int32 list offsets; lower "
            "spark.sql.execution.arrow.maxRecordsPerBatch"
        )
    off_arr = pa.array(offsets, type=pa.int32())
    return pa.RecordBatch.from_arrays(
        [
            cols["doc_id"],
            cols["url"],
            cols["content_hash"],
            pa.array(doc_lens, type=pa.int64()),
            pa.ListArray.from_arrays(off_arr, pa.array(flat_ids, type=pa.int64())),
            pa.ListArray.from_arrays(off_arr, pa.array(flat_tfs, type=pa.int32())),
        ],
        names=["doc_id", "url", "content_hash", "doc_len", "term_ids", "tfs"],
    )


def explode_tf(tokenized: DataFrame) -> DataFrame:
    """(doc_id, doc_len, term_ids, tfs) → tf rows
    (doc_id, doc_len, term_id, tf).

    Pure JVM operators (arrays_zip + explode stay in codegen); the
    analyzer already hashed terms to ids in the tokenize pass, so no
    strings flow through any shuffle.  doc_len rides along so posting
    build needs no doc-stats join.
    """
    return tokenized.select(
        "doc_id",
        "doc_len",
        F.explode(F.arrays_zip("term_ids", "tfs")).alias("z"),
    ).select(
        "doc_id",
        "doc_len",
        F.col("z.term_ids").alias("term_id"),
        F.col("z.tfs").alias("tf"),
    )


def dictionary_stage(tf: DataFrame) -> DataFrame:
    """term dictionary: (term_id, df, cf) — the terms sub-store.

    The analyzer chain + xxh64 IS the term→id mapping (applied
    identically at build and query time), so no reverse string column
    is needed on the query path; keep the id-keyed statistics only."""
    return tf.groupBy("term_id").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )


PARTIALS_SCHEMA = T.StructType(
    [
        T.StructField("term_id", T.LongType()),
        T.StructField("salt", T.IntegerType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("doc_payload", T.BinaryType()),
        T.StructField("tf_payload", T.BinaryType()),
        T.StructField("dl_payload", T.BinaryType()),
    ]
)


def head_term_map(dictionary: DataFrame, cfg: IndexConfig):
    """Collect the HEAD term set (df > salt_df_threshold) with its
    n_salts — the only globally-shared state the partial encoder needs.
    Zipf guarantees this set is tiny relative to the vocabulary (the
    threshold is chosen so a shard ≈ salt_df_threshold postings), so it
    ships to workers as two sorted numpy arrays inside the UDF closure
    — the scalable replacement for joining the FULL dictionary onto
    every tf row (which at web scale is a second corpus-sized shuffle).
    """
    rows = (
        dictionary.filter(F.col("df") > cfg.salt_df_threshold)
        .select("term_id", n_salts_expr(F.col("df"), cfg).alias("n_salts"))
        .collect()
    )
    tids = np.array(sorted(int(r["term_id"]) for r in rows), dtype=np.int64)
    ns_by = {int(r["term_id"]): int(r["n_salts"]) for r in rows}
    nsalts = np.array([ns_by[int(t)] for t in tids], dtype=np.int64)
    return tids, nsalts


def encode_partials(
    tokenized: DataFrame,
    head_tids: np.ndarray,
    head_nsalts: np.ndarray,
    cfg: IndexConfig,
) -> DataFrame:
    """Per-partition SPIMI pass: tokenized doc rows → PARTIAL posting
    runs, encoded (delta + Group-VarInt) BEFORE the shuffle.

    This is the classic SPIMI block build: each worker sorts a bounded
    chunk of its partition's (term, salt, doc) postings and emits one
    compressed partial list per run.  The shuffle that follows carries
    ~2 bytes/posting instead of a ~48-byte Tungsten row/posting — at
    10^12 documents the posting exchange is the single largest data
    movement of the build, and this is the 25× lever on it.

    ``mapInArrow``, not ``mapInPandas``: the (term_ids, tfs) list
    columns arrive as Arrow ListArrays whose FLAT values buffer is
    lifted zero-copy into numpy (list_flatten + list_value_length) —
    no per-document Python array objects, no JVM explode; the build is
    doc-major until the in-worker sort.  Memory traffic is the VM's
    scarcest resource (measured: per-worker numpy throughput drops
    2-3.5× when 16 workers stream concurrently), so every avoided copy
    shows up directly in the scaling curve.

    Skew: head terms are salt-split (salt = doc_id mod n_salts(df),
    n_salts from the collected head map), so no (term, salt) run — and
    hence no merge-side group — exceeds ~salt_df_threshold postings.
    """
    block_chunk = max(cfg.block_size * 4096, 1_000_000)  # postings per sort chunk

    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        acc_t: list = []
        acc_s: list = []
        acc_d: list = []
        acc_tf: list = []
        acc_dl: list = []
        acc_n = 0

        out_schema = pa.schema(
            [
                ("term_id", pa.int64()),
                ("salt", pa.int32()),
                ("n", pa.int32()),
                ("doc_payload", pa.binary()),
                ("tf_payload", pa.binary()),
                ("dl_payload", pa.binary()),
            ]
        )

        def flush():
            nonlocal acc_t, acc_s, acc_d, acc_tf, acc_dl, acc_n
            if acc_n == 0:
                return None
            t = np.concatenate(acc_t)
            s = np.concatenate(acc_s)
            d = np.concatenate(acc_d)
            tf = np.concatenate(acc_tf)
            dl = np.concatenate(acc_dl)
            acc_t, acc_s, acc_d, acc_tf, acc_dl, acc_n = [], [], [], [], [], 0
            order = np.lexsort((d, s, t))
            t, s, d = t[order], s[order], d[order]
            tf, dl = tf[order], dl[order]
            n = len(t)
            change = np.nonzero((t[1:] != t[:-1]) | (s[1:] != s[:-1]))[0]
            starts = np.concatenate([[0], change + 1]).astype(np.int64)
            ends = np.concatenate([change + 1, [n]]).astype(np.int64)
            doc_bufs = encode_runs(delta_encode_runs(d, starts), starts, ends, 8)
            tf_bufs = encode_runs(tf, starts, ends, 4)
            dl_bufs = encode_runs(np.minimum(dl, 2**32 - 1), starts, ends, 4)
            lens = (ends - starts).astype(np.int32)
            return pa.record_batch(
                [
                    pa.array(t[starts], pa.int64()),
                    pa.array(s[starts].astype(np.int32), pa.int32()),
                    pa.array(lens, pa.int32()),
                    pa.array(doc_bufs, pa.binary()),
                    pa.array(tf_bufs, pa.binary()),
                    pa.array(dl_bufs, pa.binary()),
                ],
                schema=out_schema,
            )

        for rb in batches:
            if rb.num_rows == 0:
                continue
            tid = rb.column(2)  # term_ids
            tfl = rb.column(3)  # tfs
            counts = pc.list_value_length(tid).to_numpy().astype(np.int64)
            total = int(counts.sum())
            if total == 0:
                continue
            flat_t = pc.list_flatten(tid).to_numpy().astype(np.int64, copy=False)
            flat_tf = pc.list_flatten(tfl).to_numpy().astype(np.int64)
            docs = np.repeat(rb.column(0).to_numpy(), counts)
            dls = np.repeat(rb.column(1).to_numpy(), counts)
            # head-term salt (identical to the n_salts_expr + pmod pair)
            if len(head_tids):
                pos = np.searchsorted(head_tids, flat_t)
                pos_c = np.minimum(pos, len(head_tids) - 1)
                is_head = head_tids[pos_c] == flat_t
                ns = np.ones(len(flat_t), dtype=np.int64)
                ns[is_head] = head_nsalts[pos_c[is_head]]
                salt = np.mod(docs, ns)
            else:
                salt = np.zeros(len(flat_t), dtype=np.int64)
            acc_t.append(flat_t)
            acc_s.append(salt)
            acc_d.append(docs)
            acc_tf.append(flat_tf)
            acc_dl.append(dls)
            acc_n += len(flat_t)
            if acc_n >= block_chunk:
                out = flush()
                if out is not None:
                    yield out
        out = flush()
        if out is not None:
            yield out

    cols = tokenized.select("doc_id", "doc_len", "term_ids", "tfs")
    return cols.mapInArrow(run, schema=PARTIALS_SCHEMA)


def _binary_flat(arr):
    """(uint8 values, int64 offsets) of an Arrow Binary or LargeBinary
    array — views over the Arrow buffers (offsets widened)."""
    if len(arr) == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    bufs = arr.buffers()
    wide = pa.types.is_large_binary(arr.type)
    offs = np.frombuffer(bufs[1], dtype=np.int64 if wide else np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64, copy=False)
    return np.frombuffer(bufs[2], dtype=np.uint8), offs


def _encode_final_chunk(rid, term_of_rid, salt_of_rid, doc_ids, tfs, dls,
                        block, out):
    """Slice one run-id-sorted chunk into runs and emit one FINAL
    posting row per run (block metadata, block-restarting delta chains)
    — all numpy work batched across runs.  Run identity arrives as a
    dense ``rid`` int per posting plus per-RUN (term, salt) lookup
    arrays: carrying ids per run instead of per posting avoids two
    60M-row repeat+gather passes per merge partition (the stage is
    memory-bandwidth-bound — every avoided stream is wall time)."""
    n = len(rid)
    if n == 0:
        return
    change = np.nonzero(rid[1:] != rid[:-1])[0]
    starts = np.concatenate([[0], change + 1]).astype(np.int64)
    ends = np.concatenate([change + 1, [n]]).astype(np.int64)
    lens = ends - starts

    nblocks = (lens + block - 1) // block
    boffs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(nblocks, out=boffs[1:])
    total_blocks = int(boffs[-1])
    block_run = np.repeat(np.arange(len(lens)), nblocks)
    within = (np.arange(total_blocks) - boffs[block_run]) * block
    bstarts = starts[block_run] + within
    bend = np.minimum(bstarts + block, ends[block_run])

    # delta chains restart at BLOCK starts (run starts included), so any
    # block is decodable alone — the random access BMW probes rely on
    doc_bufs = encode_runs(delta_encode_runs(doc_ids, bstarts), starts, ends, 8)
    tf_bufs = encode_runs(tfs, starts, ends, 4)
    dl_bufs = encode_runs(np.minimum(dls, 2**32 - 1), starts, ends, 4)

    block_last_all = doc_ids[bend - 1]
    block_tf_all = np.maximum.reduceat(tfs, bstarts)
    block_dl_all = np.minimum.reduceat(dls, bstarts)

    run_rid = rid[starts]
    for r in range(len(lens)):
        s = int(run_rid[r])
        b0, b1 = int(boffs[r]), int(boffs[r + 1])
        out.append(
            (
                int(term_of_rid[s]),
                int(salt_of_rid[s]),
                int(lens[r]),
                doc_bufs[r],
                tf_bufs[r],
                dl_bufs[r],
                len(doc_bufs[r]) + len(tf_bufs[r]) + len(dl_bufs[r]),
                block_last_all[b0:b1].tolist(),
                np.minimum(block_tf_all[b0:b1], 2**31 - 1).tolist(),
                np.minimum(block_dl_all[b0:b1], 2**31 - 1).tolist(),
            )
        )


MERGED_SCHEMA = T.StructType(
    [f for f in POSTINGS_SCHEMA.fields if f.name != "df"]
)


def merge_partials(
    partials: DataFrame, cfg: IndexConfig, est_rows: int | None = None
) -> DataFrame:
    """Term-sharded SPIMI merge: one hash shuffle of the COMPRESSED
    partial rows on (term_id, salt), then each partition batch-decodes
    its partials (codec.decode_runs_flat — one vectorized pass per
    payload stream, zero-copy over the Arrow BinaryArray buffers),
    merges runs by doc id with a single lexsort, and re-encodes final
    posting rows with block-max metadata.  The shuffle moves
    ~2 B/posting; decode + merge + encode are numpy passes that scale
    with cores (the row-shuffle + Tungsten-sort design this replaces
    flat-lined beyond 8 local cores on memory traffic)."""
    spark = partials.sparkSession
    block = cfg.block_size
    est_rows = max(1, int(est_rows or 1))
    # wave-quantized, data-sized partition count (see round-1 notes):
    # cap ~2.5M postings per merge task, round up to a multiple of 64
    n_part = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        (est_rows + 2_500_000 - 1) // 2_500_000,
    )
    n_part = ((n_part + 63) // 64) * 64
    parted = partials.repartition(n_part, "term_id", "salt")

    def run(batches):
        import pyarrow as pa

        terms: list = []
        salts: list = []
        ns: list = []
        streams: dict = {4: [], 5: []}  # col idx → [(data, offs)]
        doc_parts: list = []
        for rb in batches:
            if rb.num_rows == 0:
                continue
            terms.append(rb.column(0).to_numpy())
            salts.append(rb.column(1).to_numpy())
            ns.append(rb.column(2).to_numpy())
            doc_parts.append(_binary_flat(rb.column(3)))
            streams[4].append(_binary_flat(rb.column(4)))
            streams[5].append(_binary_flat(rb.column(5)))
        if not terms:
            return
        term = np.concatenate(terms)
        salt = np.concatenate(salts).astype(np.int64)
        n_arr = np.concatenate(ns).astype(np.int64)

        def cat_stream(parts):
            """Concatenate per-batch (values, offsets) Binary views into
            one (cat, boffs) pair for decode_runs_flat."""
            datas = [d[o[0] : o[-1]] for d, o in parts]
            lens = np.array([len(x) for x in datas], dtype=np.int64)
            bases = np.zeros(len(parts), dtype=np.int64)
            np.cumsum(lens[:-1], out=bases[1:])
            cat = datas[0] if len(datas) == 1 else np.concatenate(datas)
            pieces = [np.zeros(1, dtype=np.int64)]
            for b, (_d, o) in zip(bases, parts):
                pieces.append((o - o[0] + b)[1:])
            return cat, np.concatenate(pieces)

        doc_cat, doc_offs = cat_stream(doc_parts)
        tf_cat, tf_offs = cat_stream(streams[4])
        dl_cat, dl_offs = cat_stream(streams[5])

        gaps, out_offs = decode_runs_flat(doc_cat, doc_offs, 8)
        docs = delta_decode_runs(gaps.astype(np.uint64), out_offs[:-1])
        tfs, _ = decode_runs_flat(tf_cat, tf_offs, 4)
        dls, _ = decode_runs_flat(dl_cat, dl_offs, 4)

        # final run id per partial row: rank of its (term, salt) group
        order = np.lexsort((salt, term))
        st, ss = term[order], salt[order]
        change = np.zeros(len(st), dtype=np.int64)
        change[1:] = (st[1:] != st[:-1]) | (ss[1:] != ss[:-1])
        np.cumsum(change, out=change)
        rid_of_partial = np.empty(len(term), dtype=np.int64)
        rid_of_partial[order] = change
        # per-RUN (term, salt) lookups — scatter once (#partials rows),
        # so the posting-sized arrays below never carry term/salt
        nruns = int(change[-1]) + 1 if len(change) else 0
        term_of_rid = np.empty(nruns, dtype=np.int64)
        salt_of_rid = np.empty(nruns, dtype=np.int64)
        term_of_rid[rid_of_partial] = term
        salt_of_rid[rid_of_partial] = salt
        rid = np.repeat(rid_of_partial, n_arr)

        order2 = np.lexsort((docs, rid))
        rid2 = rid[order2]
        docs2 = docs[order2]
        tfs2 = tfs[order2].astype(np.int64)
        dls2 = dls[order2].astype(np.int64)
        out: list = []
        _encode_final_chunk(
            rid2, term_of_rid, salt_of_rid, docs2, tfs2, dls2, block, out
        )
        a_schema = to_arrow_schema(MERGED_SCHEMA)
        for s in range(0, len(out), 65536):
            cz = list(zip(*out[s : s + 65536]))
            yield pa.record_batch(
                [pa.array(c, a_schema.field(i).type) for i, c in enumerate(cz)],
                schema=a_schema,
            )

    return parted.mapInArrow(run, schema=MERGED_SCHEMA)


def _n_salts_py(df: int, cfg: IndexConfig) -> int:
    """Python twin of ``n_salts_sql`` — mirrors the EXPRESSION, not
    just its intent: the when-chain enumerates powers of two only up
    to 32, so any ratio above 32 maps straight to max_salts (which
    matters when max_salts > 64: ratio 40 must give max_salts, not
    64).  Pinned value-equal against the Spark expression by
    tests/test_incremental.py::test_n_salts_py_matches_expr."""
    if df <= cfg.salt_df_threshold:
        return 1
    ratio = -(-int(df) // cfg.salt_df_threshold)  # exact ceil
    for p in (1, 2, 4, 8, 16, 32):
        if p <= cfg.max_salts and ratio <= p:
            return p
    return cfg.max_salts


def _block_starts(run_offs: np.ndarray, block: int) -> np.ndarray:
    """Start offsets of every codec block of the concatenated runs
    ``[run_offs[r], run_offs[r+1])`` — where the doc-id delta chains
    restart (``_encode_final_chunk``)."""
    lens = np.diff(run_offs)
    nblocks = (lens + block - 1) // block
    boffs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(nblocks, out=boffs[1:])
    block_run = np.repeat(np.arange(len(lens)), nblocks)
    within = (np.arange(int(boffs[-1])) - boffs[block_run]) * block
    return run_offs[:-1][block_run] + within


# payload bytes per output chunk of ``merge_delta``
MERGE_CHUNK_BYTES = 1 << 28


def merge_delta(old, removed, added, cfg: IndexConfig):
    """The delta-merge kernel: fold a doc-granular delta into encoded
    posting rows, vectorized over every affected term at once.

    ``old`` holds the POSTINGS_SCHEMA rows of some whole term buckets
    (an Arrow table); ``removed = (term_id, doc_id)`` arrays are the
    postings of the removed documents, ``added = (term_id, doc_id, tf,
    doc_len)`` those of the (re-)added ones, both restricted to the
    same buckets.  Rows of terms outside the delta pass through with
    their payloads untouched.  Rows of delta terms are

    1. decoded all at once (``decode_runs_flat`` over the Arrow binary
       buffers);
    2. delta-decoded with the chain restarting at every block start;
    3. stripped of every posting of a removed doc (a removed doc only
       occurs in its own terms, so one doc-id set serves them all);
    4. joined by the added postings;
    5. re-salted under each term's NEW df (``_n_salts_py``: crossing a
       salt threshold re-shards the term);
    6. lexsorted by (term, salt, doc) and re-encoded by one
       ``_encode_final_chunk`` call — the bulk build's encoder, so the
       rows equal a from-scratch rebuild's.

    A term left with no posting vanishes; a term new to the corpus is
    encoded from the delta alone.  Returns POSTINGS_TABLE_SCHEMA rows
    sorted by (tbucket, term_id, salt), in chunks of about
    ``MERGE_CHUNK_BYTES`` payload bytes.  Both update paths run it: the
    Spark plan once per task (``delta_merge_postings``), an in-process
    update once on the driver (streaming/incremental.py)."""
    schema = to_arrow_schema(POSTINGS_SCHEMA)
    # payloads are LargeBinary inside the kernel: the affected rows of a
    # task's buckets, joined into one array, may pass the 2 GiB a Binary
    # array's int32 offsets address
    wide = pa.schema([
        f.with_type(pa.large_binary()) if pa.types.is_binary(f.type) else f
        for f in schema
    ])
    old = old.select(POSTINGS_SCHEMA.names).cast(wide).combine_chunks()
    rm_t, rm_d = (np.asarray(x, dtype=np.int64) for x in removed)
    ad_t, ad_d, ad_tf, ad_dl = (np.asarray(x, dtype=np.int64) for x in added)
    block = cfg.block_size

    affected = np.isin(
        old.column("term_id").to_numpy(), np.concatenate([rm_t, ad_t])
    )
    keep = old.filter(pa.array(~affected))
    aff = old.filter(pa.array(affected))

    # 1-2. decode every affected row in one pass per payload stream
    def decode(col, itemsize):
        return decode_runs_flat(
            *_binary_flat(aff.column(col).combine_chunks()), itemsize
        )

    gaps, run_offs = decode("doc_payload", 8)
    docs = delta_decode_runs(gaps, _block_starts(run_offs, block))
    tfs, dls = decode("tf_payload", 4)[0], decode("dl_payload", 4)[0]
    terms = np.repeat(
        aff.column("term_id").to_numpy().astype(np.int64), np.diff(run_offs)
    )

    # 3-4. drop the removed docs' postings, append the added ones
    live = ~np.isin(docs, rm_d)
    t = np.concatenate([terms[live], ad_t])
    d = np.concatenate([docs[live], ad_d])
    tf = np.concatenate([tfs[live].astype(np.int64), ad_tf])
    dl = np.concatenate([dls[live].astype(np.int64), ad_dl])

    # 5. re-salt under the new df (tail terms: one shard)
    uterm, inv, df = np.unique(t, return_inverse=True, return_counts=True)
    ns = np.ones(len(uterm), dtype=np.int64)
    head = np.flatnonzero(df > cfg.salt_df_threshold)
    ns[head] = [_n_salts_py(int(x), cfg) for x in df[head]]
    salt = np.mod(d, ns[inv])

    # 6. one sort, one encode
    order = np.lexsort((d, salt, t))
    t, salt, d, tf, dl = t[order], salt[order], d[order], tf[order], dl[order]
    rid = np.zeros(len(t), dtype=np.int64)
    rid[1:] = (t[1:] != t[:-1]) | (salt[1:] != salt[:-1])
    np.cumsum(rid, out=rid)
    first = np.flatnonzero(np.r_[True, rid[1:] != rid[:-1]]) if len(rid) else rid
    enc: list = []
    _encode_final_chunk(rid, t[first], salt[first], d, tf, dl, block, enc)

    cols = list(zip(*enc)) or [[]] * 10
    run_t = np.asarray(cols[0], dtype=np.int64)
    new_df = df[np.searchsorted(uterm, run_t)]
    merged = pa.table(
        [pa.array(cols[0], pa.int64()), pa.array(cols[1], pa.int32()),
         pa.array(new_df, pa.int64()), *(
             pa.array(c, wide.field(i).type) for i, c in enumerate(cols[2:], 3)
         )],
        schema=wide,
    )
    out = pa.concat_tables([keep, merged]).combine_chunks()
    term = out.column("term_id").to_numpy()
    tbucket = np.mod(term, cfg.term_buckets).astype(np.int32)
    out = out.append_column("tbucket", pa.array(tbucket))
    order = np.lexsort((out.column("salt").to_numpy(), term, tbucket))
    # emitted in pieces of about MERGE_CHUNK_BYTES payload bytes, each
    # narrowed back to Binary (n_bytes bounds every payload column)
    cum = np.cumsum(out.column("n_bytes").to_numpy()[order]) // MERGE_CHUNK_BYTES
    pieces = np.split(order, np.flatnonzero(np.diff(cum)) + 1)
    target = to_arrow_schema(POSTINGS_TABLE_SCHEMA)
    return pa.concat_tables([out.take(p).cast(target) for p in pieces])


# the Spark update plan's kernel input: posting rows of the touched
# buckets plus the delta's postings as extra rows (n and the payloads
# null; tf null marks a removed posting)
_MERGE_IN_SCHEMA = T.StructType(
    [
        *POSTINGS_TABLE_SCHEMA.fields,
        T.StructField("doc_id", T.LongType()),
        T.StructField("tf", T.IntegerType()),
        T.StructField("doc_len", T.LongType()),
    ]
)


def delta_merge_postings(
    old_post: DataFrame,
    removed_tf: DataFrame,
    added_tf: DataFrame,
    cfg: IndexConfig,
    touched: list[int],
) -> DataFrame:
    """O(delta)-shaped incremental postings maintenance on Spark:
    merge a doc-granular delta INTO the already-encoded posting rows of
    the touched buckets instead of re-running the whole SPIMI pipeline
    over the corpus ledger.  The unit of work is the TERM, not the
    bucket: posting rows of terms outside the delta pass through with
    their payloads untouched, delta terms are decoded, merged,
    re-salted and re-encoded (``merge_delta``).

    Plan: the touched buckets' posting rows and the delta's posting
    rows (``removed_tf`` / ``added_tf``: explode_tf-shaped
    (doc_id, doc_len, term_id, tf) rows of the removed / added
    documents) are unioned into one frame, hash-partitioned by
    tbucket, and each task runs ``merge_delta`` over its whole
    buckets.  Every bucket lives in one task and the kernel returns it
    sorted, so each bucket is written as one sorted file with tight
    term_id row-group stats.  Cost: one pruned scan of the touched
    ``tbucket=`` directories, one exchange of those rows plus the
    delta, and numpy decode/encode proportional to the AFFECTED lists'
    length — never a corpus-sized shuffle.

    Returns rows in POSTINGS_TABLE_SCHEMA for the touched buckets
    only."""
    spark = old_post.sparkSession
    touched = [int(b) for b in touched]
    bucket = F.pmod(F.col("term_id"), F.lit(cfg.term_buckets)).cast("int")

    def shape(df):
        return df.select(
            *(
                F.col(f.name) if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in _MERGE_IN_SCHEMA.fields
            )
        )

    merged_in = shape(old_post.filter(F.col("tbucket").isin(touched))).unionByName(
        shape(removed_tf.select("term_id", "doc_id").withColumn("tbucket", bucket))
    ).unionByName(
        shape(added_tf.withColumn("tbucket", bucket))
    )
    n_part = max(1, min(len(touched), int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )))
    names = POSTINGS_SCHEMA.names

    def run(batches):
        import pyarrow.compute as pc

        rbs = [rb for rb in batches if rb.num_rows]
        if not rbs:
            return
        tab = pa.Table.from_batches(rbs)
        is_old = tab.column("n").is_valid()
        delta = tab.filter(pc.invert(is_old))
        is_add = delta.column("tf").is_valid()
        rm, ad = delta.filter(pc.invert(is_add)), delta.filter(is_add)
        out = merge_delta(
            tab.filter(is_old).select(names),
            [rm.column(c).to_numpy() for c in ("term_id", "doc_id")],
            [ad.column(c).to_numpy() for c in ("term_id", "doc_id", "tf", "doc_len")],
            cfg,
        )
        yield from out.to_batches(65536)

    return merged_in.repartition(n_part, "tbucket").mapInArrow(
        run, schema=POSTINGS_TABLE_SCHEMA
    )


def build_postings(
    tokenized: DataFrame,
    dictionary: DataFrame,
    cfg: IndexConfig,
    est_rows: int | None = None,
) -> DataFrame:
    """Tokenized ledger → compressed posting rows with block skip
    metadata, SPIMI-merge formulation:

      1. ``encode_partials`` — per-partition sort + partial Group-VarInt
         encode (no shuffle; head-term salting via the broadcast head
         map);
      2. one hash shuffle of the compressed partials on (term_id, salt)
         — ~2 B/posting, the build's only posting-sized exchange;
      3. ``merge_partials`` — batch-decode, merge by doc id, final
         encode with block-max metadata;
      4. df joined from the dictionary onto the (small) posting rows —
         at web scale this is a join on #terms×salts rows, not a
         corpus-sized one;
      5. tbucket compaction: co-locate each bucket in one output task,
         sorted by term_id, for single-file sorted bucket writes
         (partition pruning + row-group stats at query time; identity
         bucket→directory mapping for incremental splices).

    Delta chains restart at every block boundary; block metadata is
    stat-independent (tf_max, dl_min) — see POSTINGS_SCHEMA.  Skew:
    salting caps every (term_id, salt) run at ~salt_df_threshold
    entries (the north rule's build-side skew handling); the merge-side
    memory bound is the 2.5M-posting partition cap.
    """
    head_tids, head_nsalts = head_term_map(dictionary, cfg)
    partials = encode_partials(tokenized, head_tids, head_nsalts, cfg)
    merged = merge_partials(partials, cfg, est_rows=est_rows)
    out = merged.join(dictionary.select("term_id", "df"), "term_id")
    out = out.select(*POSTINGS_SCHEMA.names).withColumn(
        "tbucket", F.pmod(F.col("term_id"), F.lit(cfg.term_buckets)).cast("int")
    )
    # compact: co-locate each tbucket in one output task and sort rows
    # by term_id, so every bucket is written as ONE sorted file with
    # tight term_id min/max row-group stats (the pre-repartition keeps
    # the dynamic-partition writer in sorted single-open-file mode; an
    # unsorted partitionBy write measured 4x slower).  This shuffle
    # moves already-encoded blobs, not raw postings.
    return out.repartition(cfg.term_buckets, "tbucket").sortWithinPartitions(
        "tbucket", "term_id"
    )
