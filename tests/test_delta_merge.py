"""The vectorized delta-merge kernel (operators/postings.merge_delta) ≡
the per-term decode/merge/re-encode loop it replaced, on random deltas.

Pure numpy/pyarrow: no Spark session.  The reference below is the old
loop — one decode, merge, re-salt and re-encode per affected term — kept
here as the specification the kernel must match row for row."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from codegraph_rust_spark.config import IndexConfig
from codegraph_rust_spark.operators.codec import (
    decode_u32,
    decode_u64,
    delta_decode_blocked,
)
from codegraph_rust_spark.operators.postings import (
    POSTINGS_SCHEMA,
    POSTINGS_TABLE_SCHEMA,
    _encode_final_chunk,
    _binary_flat,
    _n_salts_py,
    merge_delta,
)
from codegraph_rust_spark.operators import postings

# tiny blocks exercise block-restarting delta chains; 4 buckets with
# the base vocabulary in buckets 0-2 leave bucket 3 to new terms only
CFG = IndexConfig(salt_df_threshold=8, max_salts=4, term_buckets=4, block_size=4)
EMPTY = ((np.zeros(0, np.int64),) * 2, (np.zeros(0, np.int64),) * 4)


def _per_term_merge(old, removed, added, cfg):
    block, tb = cfg.block_size, cfg.term_buckets
    rm_t, rm_d = removed
    ad_t, ad_d, ad_tf, ad_dl = added
    delta_terms = sorted(set(rm_t.tolist()) | set(ad_t.tolist()))
    rows = old.to_pylist()
    keep = [dict(r, tbucket=r["term_id"] % tb) for r in rows
            if r["term_id"] not in set(delta_terms)]
    cols = ([], [], [], [], [])
    df_of = {}
    for t in delta_terms:
        parts = [r for r in rows if r["term_id"] == t]
        docs = np.concatenate([np.zeros(0, np.int64)] + [
            delta_decode_blocked(decode_u64(r["doc_payload"]), block) for r in parts
        ])
        tfs = np.concatenate([np.zeros(0, np.int64)] + [
            decode_u32(r["tf_payload"]).astype(np.int64) for r in parts
        ])
        dls = np.concatenate([np.zeros(0, np.int64)] + [
            decode_u32(r["dl_payload"]).astype(np.int64) for r in parts
        ])
        live = ~np.isin(docs, rm_d[rm_t == t])
        a = ad_t == t
        docs = np.concatenate([docs[live], ad_d[a]])
        tfs = np.concatenate([tfs[live], ad_tf[a]])
        dls = np.concatenate([dls[live], ad_dl[a]])
        if not len(docs):
            continue  # term vanished from the corpus
        salt = np.mod(docs, _n_salts_py(len(docs), cfg))
        o = np.lexsort((docs, salt))
        for c, v in zip(cols, (np.full(len(docs), t), salt, docs, tfs, dls)):
            c.append(v[o])
        df_of[t] = len(docs)
    enc = []
    if df_of:
        t, s, d, tf, dl = (np.concatenate(c).astype(np.int64) for c in cols)
        rid = np.zeros(len(t), dtype=np.int64)
        rid[1:] = (t[1:] != t[:-1]) | (s[1:] != s[:-1])
        rid = np.cumsum(rid)
        first = np.flatnonzero(np.r_[True, rid[1:] != rid[:-1]])
        _encode_final_chunk(rid, t[first], s[first], d, tf, dl, block, enc)
    names = ["term_id", "salt", "n", "doc_payload", "tf_payload", "dl_payload",
             "n_bytes", "block_last_doc", "block_tf", "block_dl"]
    new = [dict(zip(names, r), df=df_of[r[0]], tbucket=r[0] % tb) for r in enc]
    out = pa.Table.from_pylist(keep + new, schema=to_arrow_schema(POSTINGS_TABLE_SCHEMA))
    return out.sort_by(
        [("tbucket", "ascending"), ("term_id", "ascending"), ("salt", "ascending")]
    )


def _docs(rng, n, terms):
    """n random docs: (doc_id, {term: tf}) with doc_len = summed tf."""
    out = []
    for doc in rng.integers(-2**62, 2**62, size=n):
        k = int(rng.integers(1, min(8, len(terms)) + 1))
        tids = rng.choice(terms, size=k, replace=False)
        out.append((int(doc), {int(t): int(rng.integers(1, 5)) for t in tids}))
    return out


def _postings(docs):
    t, d, tf, dl = [], [], [], []
    for doc, tfs in docs:
        for term, f in tfs.items():
            t.append(term), d.append(doc), tf.append(f), dl.append(sum(tfs.values()))
    return tuple(np.asarray(x, dtype=np.int64) for x in (t, d, tf, dl))


def _case(seed):
    """(old rows with tbucket, removed, added, hot term, lone term)."""
    rng = np.random.default_rng(seed)
    # base vocabulary in buckets 0-2; HOT sits in 6 base docs (df 6 ≤ 8)
    base_terms = np.array([b + 4 * i for i in range(12) for b in (0, 1, 2)], np.int64)
    hot, lone = 1000, 1001  # buckets 0 and 1
    base = _docs(rng, 40, base_terms)
    for i in range(6):
        base[i][1][hot] = 1
    base[7][1][lone] = 2  # a term only doc 7 has
    old = merge_delta(pa.table({c: pa.nulls(0) for c in POSTINGS_SCHEMA.names}),
                      EMPTY[0], _postings(base), CFG)
    assert old.num_rows > 0

    # delta: delete doc 7 (lone vanishes), modify docs 8-11, add 8 docs
    # that carry HOT (df 6 → ≥ 12: re-shard) and terms of bucket 3,
    # which holds no old row
    new_terms = np.array([3 + 4 * i for i in range(5)], np.int64)
    removed = base[7:12]
    modified = [(doc, {int(t): 1 for t in rng.choice(base_terms, 3, replace=False)})
                for doc, _ in base[8:12]]
    added = _docs(rng, 8, np.concatenate([base_terms, new_terms]))
    for _doc, tfs in added:
        tfs[hot] = 3
        tfs[int(rng.choice(new_terms))] = 1
    return old, _postings(removed)[:2], _postings(modified + added), hot, lone


@pytest.mark.parametrize("seed", range(6))
def test_kernel_equals_per_term_loop(seed):
    old, rm, ad, hot, lone = _case(seed)
    got = merge_delta(old.drop_columns(["tbucket"]), rm, ad, CFG)
    want = _per_term_merge(old.drop_columns(["tbucket"]), rm, ad, CFG)
    assert got.equals(want)
    terms = got.column("term_id").to_pylist()
    assert lone not in terms
    assert {s for t, s in zip(terms, got.column("salt").to_pylist()) if t == hot} == {0, 1}
    assert 3 in got.column("tbucket").to_pylist()
    assert 3 not in old.column("tbucket").to_pylist()


def test_kernel_passes_unaffected_rows_through():
    """Rows of terms outside the delta keep their payloads as stored;
    an empty delta returns the input rows unchanged."""
    rng = np.random.default_rng(11)
    base = _docs(rng, 30, np.arange(0, 24, dtype=np.int64))
    old = merge_delta(pa.table({c: pa.nulls(0) for c in POSTINGS_SCHEMA.names}),
                      EMPTY[0], _postings(base), CFG)
    same = merge_delta(old.drop_columns(["tbucket"]), *EMPTY, CFG)
    assert same.equals(old)


def test_kernel_takes_and_emits_many_chunks(monkeypatch):
    """Rows arriving as many out-of-order chunks (a task's batches) and
    output emitted in many small pieces give the same rows as one chunk
    in, one out; the payload decode reads Binary and LargeBinary
    offsets alike."""
    old, rm, ad, _, _ = _case(0)
    old = old.drop_columns(["tbucket"])
    want = merge_delta(old, rm, ad, CFG)
    chunked = pa.concat_tables([old.slice(i, 5) for i in range(0, old.num_rows, 5)][::-1])
    assert chunked.column("doc_payload").num_chunks > 1
    monkeypatch.setattr(postings, "MERGE_CHUNK_BYTES", 64)
    got = merge_delta(chunked, rm, ad, CFG)
    assert got.column("doc_payload").num_chunks > 1
    assert got.equals(want)
    pay = old.column("doc_payload").combine_chunks().slice(3)
    for arr in (pay, pay.cast(pa.large_binary()).slice(0)):
        vals, offs = _binary_flat(arr)
        rows = [vals[a:b].tobytes() for a, b in zip(offs[:-1], offs[1:])]
        assert rows == pay.to_pylist()
