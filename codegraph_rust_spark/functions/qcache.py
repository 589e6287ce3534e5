"""One snapshot-keyed cache for every piece of derived driver state.

The reference keys derived state to the identity of its source: its
parse cache by mtime + SHA-256 (parser.rs:319-402), its MCP daemon's
results per (project, tool, params) with a 5-minute TTL
(crates/codegraph-mcp-tools/src/graph_tool_executor.rs:299-322).
``SnapshotCache`` is that one mechanism here, with two instances:

* ``SERVICE_CACHE`` memoizes ANSWERS — collected query rows of the
  daemon-shaped entry points (``nsw_search_batch_cached``,
  ``InvertedIndex.topk_batch_cached``): a repeated query returns
  without launching a Spark job.  300 s TTL, 128 entries.
* ``DERIVED`` memoizes the state queries are answered FROM — max-key
  scalars, the persisted BM25 tf/dl frames, NSW graph checkpoints and
  the exact builder's broadcasts.  No TTL; ``DERIVED_MAX_ENTRIES``
  entries.

The stored key is ``(applicationId, *key, token)``; the token is the
``st_mtime_ns`` of each source path (-1 when missing), so a source
rewritten in place, or a rebuilt index ledger, misses instead of
serving stale state.  One policy drops an entry, calling its
``release(value)`` exactly once (errors from a dead session are
swallowed — its blocks are gone anyway), when:

1. its application is not the caller's (a stopped session's handles
   are invalid by construction);
2. a newer token is stored for the same key (the old snapshot can
   never hit again);
3. it falls off the LRU end past ``max_entries``.

With a TTL, an entry older than it misses and is replaced (and
released).  Values are shared, not copied: callers treat returned
rows as frozen.  The clock is injectable so expiry is tested, not
assumed.
"""

from __future__ import annotations

import os
import time
from collections import OrderedDict
from typing import Any, Callable, Hashable, Iterable

DEFAULT_TTL_S = 300.0  # reference daemon's 5-minute TTL
DEFAULT_MAX_ENTRIES = 128
# >= the 10 derived entries one registry sweep over one sf_dir creates
# (2 max_key scalars, 1 BM25 tf/dl pair, 4 NSW graphs, 3 exact-graph
# broadcasts), so a sweep never rebuilds a graph it already built
DERIVED_MAX_ENTRIES = 32


def mtime_ns(path: str) -> int:
    try:
        return os.stat(path).st_mtime_ns
    except OSError:
        return -1


class SnapshotCache:
    def __init__(
        self,
        max_entries: int = DEFAULT_MAX_ENTRIES,
        ttl_s: float | None = DEFAULT_TTL_S,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        self.max_entries = max_entries
        self.ttl_s = ttl_s
        self.clock = clock
        # stored key → (stored at, value, release)
        self._d: OrderedDict[tuple, tuple[float, Any, Callable | None]] = OrderedDict()
        self.hits = 0
        self.misses = 0

    def get_or_compute(
        self,
        spark,
        key: tuple[Hashable, ...],
        sources: Iterable[str],
        compute: Callable[[], Any],
        release: Callable[[Any], Any] | None = None,
    ) -> Any:
        """The value for ``key`` at the sources' current snapshot —
        from cache, or ``compute()`` stored with ``release``.  With
        ``spark`` None the entry belongs to no application."""
        app = spark.sparkContext.applicationId if spark is not None else None
        full = (app, *key, tuple(mtime_ns(p) for p in sources))
        now = self.clock()
        hit = self._d.get(full)
        if hit is not None and (self.ttl_s is None or now - hit[0] < self.ttl_s):
            self._d.move_to_end(full)  # LRU touch
            self.hits += 1
            return hit[1]
        self.misses += 1
        # release dead-session and superseded entries BEFORE computing,
        # so their storage is free for the rebuild
        for k in [k for k in self._d if k[0] != app or k[:-1] == full[:-1]]:
            self._drop(k)
        value = compute()
        self._d[full] = (now, value, release)
        while len(self._d) > self.max_entries:
            self._drop(next(iter(self._d)))
        return value

    def _drop(self, k: tuple) -> None:
        _, value, release = self._d.pop(k)
        if release is not None:
            try:
                release(value)
            except Exception:
                pass  # dead session: its blocks are already gone


# process-wide instances (keys carry applicationId, so session
# restarts can't collide)
SERVICE_CACHE = SnapshotCache()
DERIVED = SnapshotCache(max_entries=DERIVED_MAX_ENTRIES, ttl_s=None)
