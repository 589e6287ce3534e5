"""Table layer: parquet-backed catalog with an Iceberg-ready surface.

The reference persists to SurrealDB tables; our design target is
Iceberg (partition pruning, snapshot-checkpointed resume, atomic
commits).  This container ships no Iceberg runtime jar, so the same
interface is implemented over plain parquet directories:

* a table = a directory under the catalog root;
* commit marker = Spark's ``_SUCCESS`` file (atomicity: readers treat
  a directory without ``_SUCCESS`` as absent, so a killed write is
  invisible — the resume semantics Iceberg snapshots would give us);
* partition columns = physical ``col=value`` subdirectories (same
  pruning behavior as Iceberg identity/bucket partitioning).

On a real cluster, swap ``write``/``read`` for
``df.writeTo(f"cat.{name}").overwritePartitions()`` /
``spark.read.table`` with
``spark.sql.catalog.cat=org.apache.iceberg.spark.SparkCatalog`` —
every plan in this repo is expressed against DataFrames, so nothing
else changes.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import DataFrame, SparkSession


def partition_runs(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(starts, stops) of the runs of equal values in `vals` — the
    pieces a partitioned write sends to one ``col=value`` file each
    (upstream sorts by the partition column, so runs are long; an
    arbitrary interleave still works, just in more pieces)."""
    starts = np.concatenate([[0], np.flatnonzero(np.diff(vals)) + 1])
    return starts, np.append(starts[1:], len(vals))


def ledger_fingerprint(doc_id, url, hashed: bool) -> int:
    """CORPUS_AGGS' ``bit_xor(xxhash64(url))`` over ledger rows.  When
    `hashed` (doc_id_mode "hash") every doc_id IS xxhash64(url), so the
    fingerprint is the XOR of the doc_id column — no per-url Python
    hashing; otherwise each url is hashed with the Python twin of
    Spark's xxhash64, whose value for NULL is 42 (the unmodified
    seed)."""
    if hashed:
        ids = np.asarray(doc_id, dtype=np.int64)
        return int(np.bitwise_xor.reduce(ids)) if len(ids) else 0
    from ..operators.xxhash import xxh64_str

    fp = 0
    for u in url.to_pylist():
        fp ^= xxh64_str(u) if u is not None else 42
    return fp


def known_schema(name: str):
    """The Spark schema of catalog table ``name`` when the engine fixes
    it, else None: the postings table, the one that can be committed
    with no data file (an empty partitioned write, or an update that
    removes every document, leaves only ``_SUCCESS``)."""
    from ..operators.postings import POSTINGS_TABLE_SCHEMA
    from ..plans.build import POSTINGS

    return POSTINGS_TABLE_SCHEMA if name == POSTINGS else None


def data_files(top: str):
    """The data files under directory ``top``, walked in order: files
    and directories starting with ``_`` or ``.`` (commit marker,
    checksums, in-progress parts, leftover swaps) are not data, as for
    Spark's reader."""
    for dirpath, dirs, files in os.walk(top):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                yield os.path.join(dirpath, f)


def write_parts(path, batches, pid: int, partition_col=None, ledger_stats=False):
    """Write one task's Arrow batches as ``part-{pid}.parquet`` — under
    ``partition_col=value`` subdirectories when partitioned, the
    column itself dropped — each part written to a dot-prefixed
    ``.inprogress`` name and renamed on close.  Returns the task's
    (rows, summed doc_len, ledger fingerprint) partials; the last two
    are 0 unless ``ledger_stats``.  Shared by ``write_arrow_direct``'s
    tasks and ``write_arrow_local``."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if ledger_stats not in (False, True, "hash"):
        raise ValueError(f"ledger_stats must be False, True or 'hash', got {ledger_stats!r}")

    writers: dict = {}  # partition value (or None) → (tmp, final, writer)

    def get_writer(key, schema):
        w = writers.get(key)
        if w is None:
            d = path if key is None else os.path.join(path, f"{partition_col}={key}")
            os.makedirs(d, exist_ok=True)
            tmp = os.path.join(d, f".part-{pid:05d}.parquet.inprogress")
            final = os.path.join(d, f"part-{pid:05d}.parquet")
            w = writers[key] = (tmp, final, pq.ParquetWriter(tmp, schema))
        return w[2]

    n = ntok = fp = 0
    for rb in batches:
        if rb.num_rows == 0:
            continue
        n += rb.num_rows
        if ledger_stats:
            ntok += int(pc.sum(rb.column("doc_len")).as_py() or 0)
            fp ^= ledger_fingerprint(
                rb.column("doc_id"), rb.column("url"), ledger_stats == "hash"
            )
        if partition_col is None:
            get_writer(None, rb.schema).write_batch(rb)
            continue
        vals = rb.column(partition_col).to_numpy(zero_copy_only=False)
        body = rb.drop_columns([partition_col])
        starts, stops = partition_runs(vals)
        for a, b in zip(starts.tolist(), stops.tolist()):
            get_writer(int(vals[a]), body.schema).write_batch(body.slice(a, b - a))
    for tmp, final, w in writers.values():
        w.close()
        os.replace(tmp, final)
    return n, ntok, fp


class Catalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        """Committed = directory exists and carries the _SUCCESS marker."""
        p = self.path(name)
        return os.path.isdir(p) and os.path.exists(os.path.join(p, "_SUCCESS"))

    def write(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        mode: str = "overwrite",
    ) -> None:
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(name))

    def write_local(self, table, name: str) -> None:
        """Commit a DRIVER-LOCAL pyarrow Table as a catalog table —
        for control-plane tables of at most a few hundred rows (corpus
        scalars, lineage manifest).  Routing these through a Spark
        write costs a full job round-trip each (measured ~2.3s for the
        one-task coalesce(1) manifest write — pure serial floor in the
        scaling protocol); a driver-side parquet write plus the same
        _SUCCESS marker is the local-fs analog of a metadata-only
        Iceberg commit and costs milliseconds.  Readers can't tell the
        difference.

        Swap discipline: the OLD table dir is renamed aside, the new
        one os.replace'd into place, then the old copy deleted — the
        non-atomic window is two renames, not a full rmtree.  tmp/old
        are siblings of the target so EXDEV cannot occur.  POSIX has no
        true atomic directory swap, so a concurrent reader landing
        between the renames can still see the table missing — accepted
        for this single-driver control-plane path."""
        import pyarrow.parquet as pq

        p = self.path(name)
        tmp = p + "._tmp"
        old = p + "._old"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        os.makedirs(tmp)
        pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
        with open(os.path.join(tmp, "_SUCCESS"), "w"):
            pass
        if os.path.isdir(p):
            os.replace(p, old)
        os.replace(tmp, p)
        shutil.rmtree(old, ignore_errors=True)

    def read_local(
        self,
        name: str,
        columns: list[str] | None = None,
        where: dict | None = None,
        partitions: tuple[str, list] | None = None,
    ):
        """Read a committed catalog table into a DRIVER-LOCAL pyarrow
        Table — the reader twin of ``write_local`` for the same
        control-plane tables, and the in-process reader of a query's
        few matched posting rows.  ``spark.read.parquet(...).collect()``
        costs two Spark jobs (schema inference, then the collect);
        pyarrow reads a one-row table in milliseconds.  Files starting
        with ``_`` or ``.`` (commit marker, checksums, in-progress
        parts) are not data, as for Spark's reader.

        ``columns`` projects; ``where`` maps a column to the values it
        may hold (one IN filter each, pushed into the scan, so row
        groups whose statistics exclude them are skipped).
        ``partitions = (col, values)`` reads only the ``col=value``
        partition directories (a missing one holds no rows) and lists
        nothing else; the partition column itself is not returned.

        When the table (or those directories) holds no data file the
        result is an empty table of ``columns``, typed by the table's
        ``known_schema`` (null-typed for a table without one)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if partitions is None:
            src, partitioning = self.path(name), "hive"
            empty = next(data_files(src), None) is None
        else:
            col, values = partitions
            src, partitioning = [], None
            for v in sorted(set(values)):
                src += data_files(os.path.join(self.path(name), f"{col}={v}"))
            empty = not src
        if empty:
            known = known_schema(name)
            if known is None:
                return pa.table({c: pa.nulls(0) for c in columns or []})
            from pyspark.sql.pandas.types import to_arrow_schema

            schema = to_arrow_schema(known)
            if partitions is not None:
                schema = schema.remove(schema.get_field_index(partitions[0]))
            return schema.empty_table().select(columns or schema.names)
        flt = None
        for c, values in (where or {}).items():
            e = pc.field(c).isin(list(values))
            flt = e if flt is None else flt & e
        return pq.read_table(
            src, columns=columns, filters=flt, partitioning=partitioning,
            ignore_prefixes=["_", "."],
        )

    def write_arrow_direct(
        self,
        df: DataFrame,
        name: str,
        ledger_stats: bool | str = False,
        partition_col: str | None = None,
    ) -> dict:
        """Worker-direct parquet write: every task streams its Arrow
        batches straight into a part file with pyarrow, so the data
        never round-trips through the JVM row format (the standard
        ``df.write.parquet`` path converts each Arrow batch to internal
        rows and re-encodes them in the JVM writer — measured ~5s of a
        ~8s tokenized-ledger write at 100k docs, and a pure transpose
        tax at any scale).  The driver is the committer: tasks write to
        dot-prefixed temp names (invisible to Spark's parquet reader),
        rename on close, and the ``_SUCCESS`` marker is written only
        after the job completes — identical visibility semantics to the
        committed ``write`` path.  Task retries overwrite their own
        deterministic part name, so the protocol is retry-idempotent
        only while no two attempts of a task can run at once: a
        speculative or zombie attempt on a cluster could commit a
        duplicate or torn part file.  Local mode runs neither, so any
        other master raises ``RuntimeError`` before anything is
        written.

        With ``ledger_stats`` set the corpus scalars
        (n_docs/avgdl/n_tokens/input_fingerprint — CORPUS_AGGS
        semantics) ride the write as per-task partials folded on the
        driver, so no separate corpus scan is needed: ``True`` hashes
        every url, ``"hash"`` (a ledger in doc_id_mode "hash") says
        doc_id already is xxhash64(url) and XORs it
        (``ledger_fingerprint``).
        Returned dict always carries ``n_docs``."""
        from pyspark.sql.pandas.types import to_arrow_schema

        master = df.sparkSession.sparkContext.master
        if not master.startswith("local"):
            raise RuntimeError(
                f"write_arrow_direct needs a local master, got {master!r}: "
                "its rename-on-close commit is unsafe under speculative "
                "or zombie task attempts; use Catalog.write"
            )
        path = self._fresh(name)

        def sink(batches):
            import pyarrow as pa
            from pyspark import TaskContext

            got = write_parts(
                path, batches, TaskContext.get().partitionId(),
                partition_col, ledger_stats,
            )
            yield pa.record_batch(
                [pa.array([v], pa.int64()) for v in got], names=["n", "ntok", "fp"]
            )

        rows = df.mapInArrow(sink, "n long, ntok long, fp long").collect()
        return self._commit(
            path, to_arrow_schema(df.schema), [tuple(r) for r in rows],
            ledger_stats, partition_col,
        )

    def write_arrow_local(
        self,
        table,
        name: str,
        ledger_stats: bool | str = False,
        partition_col: str | None = None,
    ) -> dict:
        """``write_arrow_direct`` for a DRIVER-LOCAL pyarrow Table: the
        same part writer (``write_parts``, as task 0), the same commit
        and the same returned scalars, with no Spark job — the write
        half of an in-process index update.  With ``partition_col`` the
        table should be sorted by it, so each partition gets one
        part-00000.parquet."""
        path = self._fresh(name)
        got = write_parts(
            path, table.combine_chunks().to_batches(), 0, partition_col,
            ledger_stats,
        )
        return self._commit(path, table.schema, [got], ledger_stats, partition_col)

    def _fresh(self, name: str) -> str:
        path = self.path(name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        return path

    @staticmethod
    def _commit(path, schema, parts, ledger_stats, partition_col) -> dict:
        """Fold the per-task (rows, tokens, fingerprint) partials and
        write the ``_SUCCESS`` marker."""
        import pyarrow.parquet as pq

        n_docs = sum(int(p[0]) for p in parts)
        n_tokens = sum(int(p[1]) for p in parts)
        fp = 0
        for p in parts:
            fp ^= int(p[2])
        if n_docs == 0 and partition_col is None:
            # schema-ful empty file so the committed table stays readable
            pq.write_table(schema.empty_table(), os.path.join(path, "part-00000.parquet"))
        with open(os.path.join(path, "_SUCCESS"), "w"):
            pass
        out = {"n_docs": n_docs}
        if ledger_stats:
            out.update(
                {
                    "avgdl": (n_tokens / n_docs) if n_docs else 0.0,
                    "n_tokens": n_tokens,
                    "input_fingerprint": fp,
                }
            )
        return out

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """Table ``name`` as a Spark DataFrame.  A table with a
        ``known_schema`` is read with it: no footer-inference job, and a
        committed table with no data file reads as 0 typed rows (schema
        inference fails on it)."""
        known = known_schema(name)
        reader = spark.read if known is None else spark.read.schema(known)
        return reader.parquet(self.path(name))

    def bytes(self, name: str) -> int:
        total = 0
        for dirpath, _dirs, files in os.walk(self.path(name)):
            for f in files:
                total += os.path.getsize(os.path.join(dirpath, f))
        return total

    def io(self, name: str, partitions: tuple[str, list] | None = None) -> dict:
        """Rows and bytes of the data files of table `name` (only the
        ``col=value`` directories of ``partitions`` when given), from
        the parquet footers — the per-stage rows/bytes of an update
        profile, with no scan."""
        import pyarrow.parquet as pq

        root = self.path(name)
        dirs = [root] if partitions is None else [
            os.path.join(root, f"{partitions[0]}={v}") for v in sorted(set(partitions[1]))
        ]
        rows = nbytes = 0
        for top in dirs:
            for fp in data_files(top):
                rows += pq.read_metadata(fp).num_rows
                nbytes += os.path.getsize(fp)
        return {"rows": rows, "bytes": nbytes}
