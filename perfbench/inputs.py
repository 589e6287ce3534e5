"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and sizes: the same seed
gives byte-identical inputs, and another seed gives inputs drawn from
the same distributions (same page count, same length law, same query
term-count cycle, same delta shape), so a claim made on one seed can be
re-checked on another.  The engine only ever sees the generated files.
"""

from __future__ import annotations

import html as _html
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from codegraph_rust_spark.sources import pages_gen
from codegraph_rust_spark.textkit.extract import sanitize_text

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

# independent RNG streams per generator, so adding draws to one never
# shifts another
_CORPUS, _QUERIES, _FEED, _VECTORS = 0, 1, 2, 3

MEAN_LEN = 120         # mean page length in tokens (log-normal)
MODIFY_FRAC = 0.01     # share of live pages a delta rewrites
N_ADD = N_DELETE = 4   # pages a delta adds and deletes
DIM, CLUSTERS = 64, 10
# noise scale over centre scale: the registry's embeddings testdata has 10
# labels whose centres sit far inside the noise (weakly clustered)
SPREAD = 8.0


def generate_corpus(out_dir: str, seed: int, n_docs: int, vocab_size: int) -> str:
    """Zipf pages corpus via the engine's own generator; returns the
    ``pages.parquet`` directory."""
    pages_gen.generate_pages(
        out_dir, n_docs=n_docs, vocab_size=vocab_size, mean_len=MEAN_LEN,
        seed=int(seed) * 1000 + _CORPUS,
    )
    return os.path.join(out_dir, "pages.parquet")


# Zipf rank bands of the query vocabulary (as shares of it: ranks
# 0-100, 100-5000 and the rest of a 50k vocabulary) and the fixed order
# in which query terms visit them: about half head terms, a third torso
# and a fifth tail (the Zipf mass of each band), so every seed gets the
# same cost mix and only the terms differ
_BANDS = ((0.0, 0.002), (0.002, 0.1), (0.1, 1.0))
_BAND_CYCLE = (0, 1, 0, 2, 0, 1, 0, 1, 2, 0)


def query_stream(seed: int, vocab_size: int, n: int) -> list[tuple[int, str]]:
    """``n`` queries (qid, text).  Query i has 1 + i % 4 distinct terms;
    each term is drawn Zipf-weighted (the corpus law) from the rank band
    ``_BAND_CYCLE`` assigns to its slot."""
    rng = np.random.default_rng([seed, _QUERIES])
    vocab = pages_gen.build_vocab(vocab_size)
    probs = pages_gen._zipf_probs(len(vocab))
    cdfs = []
    for a, b in _BANDS:
        lo, hi = int(a * len(vocab)), max(int(a * len(vocab)) + 1, int(b * len(vocab)))
        cdf = np.cumsum(probs[lo:hi])
        cdfs.append((lo, cdf / cdf[-1]))
    out, slot = [], 0
    for qid in range(n):
        ranks: list[int] = []
        while len(ranks) < 1 + qid % 4:
            lo, cdf = cdfs[_BAND_CYCLE[slot % len(_BAND_CYCLE)]]
            r = lo + min(int(np.searchsorted(cdf, rng.random(), side="right")), len(cdf) - 1)
            if r not in ranks:
                ranks.append(r)
                slot += 1
        out.append((qid, " ".join(vocab[r] for r in ranks)))
    return out


def _page(url_id: int, tokens: list[str]) -> tuple[bytes, str]:
    """(html, text) built exactly as ``pages_gen.generate_pages`` does,
    so ``text`` is what the engine's extractor yields from ``html``."""
    raw = " ".join(tokens)
    title = " ".join(tokens[:3])
    html = pages_gen._HTML_TMPL.format(
        title=_html.escape(title), body=_html.escape(raw), i=url_id
    ).encode("utf-8")
    return html, sanitize_text(f"{title} {title} {raw}")


@dataclass
class Delta:
    modified: int
    added: int
    deleted: int

    @property
    def changed(self) -> int:
        return self.modified + self.added + self.deleted


class ChangeFeed:
    """Seeded change feed over a pages snapshot.  Each ``next_delta``
    rewrites ``MODIFY_FRAC`` of the live pages with fresh Zipf content,
    appends ``N_ADD`` new urls and drops ``N_DELETE`` existing ones;
    ``write_snapshot`` writes the full new snapshot (the input shape of
    ``incremental_update(full_snapshot=True)``)."""

    def __init__(self, pages_dir: str, seed: int, vocab_size: int) -> None:
        t = pq.read_table(pages_dir).to_pydict()
        self.rows = {
            u: (ts, h, tx, lang)
            for u, ts, h, tx, lang in zip(
                t["url"], t["warc_ts"], t["html"], t["text"], t["lang"]
            )
        }
        self.rng = np.random.default_rng([seed, _FEED])
        self.vocab = np.array(pages_gen.build_vocab(vocab_size), dtype=object)
        self.probs = pages_gen._zipf_probs(len(self.vocab))
        self.next_id = len(self.rows)
        self.version = 0

    def _content(self, url_id: int) -> tuple[bytes, str]:
        n = max(1, int(self.rng.lognormal(np.log(MEAN_LEN), 0.7)))
        toks = self.vocab[self.rng.choice(len(self.vocab), size=n, p=self.probs)]
        return _page(url_id, toks.tolist())

    def next_delta(self) -> Delta:
        urls = sorted(self.rows)
        n_mod = max(1, round(MODIFY_FRAC * len(urls)))
        pick = self.rng.choice(len(urls), size=n_mod + N_DELETE, replace=False)
        for i in pick[:n_mod]:
            ts, _h, _t, lang = self.rows[urls[i]]
            self.rows[urls[i]] = (ts, *self._content(int(i)), lang)
        for i in pick[n_mod:]:
            del self.rows[urls[i]]
        base_ts = np.datetime64("2025-06-01T00:00:00")
        for _ in range(N_ADD):
            i = self.next_id
            self.next_id += 1
            self.rows[f"https://host{i % 1000}.example/p/{i}"] = (
                (base_ts + np.timedelta64(i, "s")).astype("datetime64[us]").item(),
                *self._content(i),
                "en",
            )
        self.version += 1
        return Delta(n_mod, N_ADD, N_DELETE)

    def write_snapshot(self, pages_dir: str, parts: int = 4) -> str:
        """Full snapshot as a directory of ``parts`` parquet files."""
        os.makedirs(pages_dir, exist_ok=True)
        urls = sorted(self.rows)
        for p in range(parts):
            chunk = urls[p::parts]
            cols = list(zip(*(self.rows[u] for u in chunk))) or [[]] * 4
            pq.write_table(
                pa.table(
                    [chunk, list(cols[0]), list(cols[1]), list(cols[2]), list(cols[3])],
                    schema=PAGES_SCHEMA,
                ),
                os.path.join(pages_dir, f"part-{p:05d}.parquet"),
                compression="zstd",
            )
        return pages_dir

    def docs(self) -> list[tuple[str, str]]:
        """(url, text) of every live page — the oracle's input."""
        return [(u, r[2]) for u, r in sorted(self.rows.items())]


def clustered_vectors(out_dir: str, seed: int, n: int) -> np.ndarray:
    """``n`` unit-norm float32 vectors of ``DIM`` around ``CLUSTERS``
    Gaussian centres, written as ``embeddings.parquet`` (vec_id,
    embedding, label) — the shape of the registry's embeddings testdata.
    Returns the matrix."""
    rng = np.random.default_rng([seed, _VECTORS])
    centres = rng.normal(size=(CLUSTERS, DIM))
    label = rng.integers(0, CLUSTERS, size=n)
    x = centres[label] + SPREAD * rng.normal(size=(n, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n), pa.int64()),
                "embedding": pa.array(list(x), pa.list_(pa.float32())),
                "label": pa.array(label.astype(np.int32)),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return x
