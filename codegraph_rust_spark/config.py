"""Engine configuration.

BM25 parameters mirror the reference SEARCH index declaration
``BM25(1.2, 0.75)`` (reference: schema/codegraph.surql:933,948); the
analyzer is the reference's ``code_analyzer`` chain (:781).  The
block size replaces the reference's B-tree order/cache knobs
(``POSTINGS_ORDER 100`` etc.) as our skip-metadata granularity.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, fields


@dataclass(frozen=True)
class IndexConfig:
    # BM25 (frozen into the index, like the reference's SEARCH index decl)
    k1: float = 1.2
    b: float = 0.75

    # analyzer: "snowball" (full reference chain) | "simple" (SQL-oracle mode)
    analyzer: str = "snowball"

    # posting layout
    block_size: int = 128          # entries per block-max block
    term_buckets: int = 32         # postings partition buckets (file pruning)

    # head-term skew: terms with df > salt_df_threshold are split across
    # salt shards (salt = doc_id mod n_salts(df)), capped at max_salts.
    # The build-side half of the north rule's explicit skew handling.
    salt_df_threshold: int = 200_000
    max_salts: int = 64

    # doc_id assignment: "hash" (xxhash64(url) — shuffle-free, stable
    # under resume, the 10^12-doc path) | "provided" (df already has
    # doc_id — driver testdata / pre-keyed corpora)
    doc_id_mode: str = "hash"

    # parallelism: repartition input into this many partitions before
    # tokenize (0 = leave as-is; local runs need it because a single
    # parquet file arrives as one split)
    input_partitions: int = 0


def load_index_config(index_dir: str) -> IndexConfig | None:
    """The config an index was BUILT with (config.json, written by
    build_index) — the query/watch side must use the same analyzer and
    salting parameters or head-term shards are mis-enumerated and
    query tokenization diverges from the index's."""
    p = os.path.join(index_dir, "config.json")
    if not os.path.exists(p):
        return None
    try:
        with open(p) as f:
            d = json.load(f)
    except (OSError, ValueError) as e:
        # fail LOUDLY: silently falling back to defaults here would
        # query/extend the index with the wrong analyzer or salting —
        # exactly the corruption this loader exists to prevent
        raise RuntimeError(
            f"{p} is unreadable ({e}); the index's build config is "
            "required for queries and incremental updates — restore it "
            "or rebuild the index"
        ) from e
    # keys this version no longer has (an older index's
    # schedule_big_first, extra) are dropped
    known = {f.name for f in fields(IndexConfig)}
    return IndexConfig(**{k: v for k, v in d.items() if k in known})
