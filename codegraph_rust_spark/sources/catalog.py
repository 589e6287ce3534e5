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

from pyspark.sql import DataFrame, SparkSession


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

    def append(self, df: DataFrame, name: str) -> None:
        df.write.mode("append").parquet(self.path(name))

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
        When those directories hold no data file the result is an
        empty table of null-typed ``columns``."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        src, partitioning = self.path(name), "hive"
        if partitions is not None:
            col, values = partitions
            src, partitioning = [], None
            for v in sorted(set(values)):
                d = os.path.join(self.path(name), f"{col}={v}")
                if os.path.isdir(d):
                    src += [
                        os.path.join(d, f) for f in sorted(os.listdir(d))
                        if not f.startswith(("_", "."))
                    ]
            if not src:
                return pa.table({c: pa.nulls(0) for c in columns or []})
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
        ledger_stats: bool = False,
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

        With ``ledger_stats=True`` the corpus scalars
        (n_docs/avgdl/n_tokens/input_fingerprint — CORPUS_AGGS
        semantics, xxh64_str == Spark xxhash64 pinned by test) ride the
        write as per-task partials folded on the driver, so no
        separate corpus scan is needed.  Returned dict always carries
        ``n_docs``."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F  # noqa: F401 (API parity)
        from pyspark.sql.pandas.types import to_arrow_schema

        master = df.sparkSession.sparkContext.master
        if not master.startswith("local"):
            raise RuntimeError(
                f"write_arrow_direct needs a local master, got {master!r}: "
                "its rename-on-close commit is unsafe under speculative "
                "or zombie task attempts; use Catalog.write"
            )
        path = self.path(name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        a_schema = to_arrow_schema(df.schema)
        names = list(df.columns)
        dl_i = names.index("doc_len") if ledger_stats else -1
        url_i = names.index("url") if ledger_stats else -1
        part_i = names.index(partition_col) if partition_col else -1

        def sink(batches):
            import os as _os

            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as _pq
            from pyspark import TaskContext

            from ..operators.xxhash import xxh64_str

            pid = TaskContext.get().partitionId()
            writers: dict = {}  # partition value (or None) → (tmp, final, writer)

            def get_writer(key, schema):
                w = writers.get(key)
                if w is None:
                    if key is None:
                        d = path
                    else:
                        d = _os.path.join(path, f"{partition_col}={key}")
                        _os.makedirs(d, exist_ok=True)
                    tmp = _os.path.join(d, f".part-{pid:05d}.parquet.inprogress")
                    final = _os.path.join(d, f"part-{pid:05d}.parquet")
                    w = (tmp, final, _pq.ParquetWriter(tmp, schema))
                    writers[key] = w
                return w[2]

            n = 0
            ntok = 0
            fp = 0
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                n += rb.num_rows
                if dl_i >= 0:
                    ntok += int(pc.sum(rb.column(dl_i)).as_py() or 0)
                    for u in rb.column(url_i).to_pylist():
                        # Spark xxhash64(NULL) = 42 (the unmodified
                        # seed) — replicate so the fingerprint matches
                        # CORPUS_AGGS on corpora with null urls
                        fp ^= xxh64_str(u) if u is not None else 42
                if part_i < 0:
                    get_writer(None, rb.schema).write_batch(rb)
                    continue
                # split the batch into runs of equal partition value
                # (upstream sorts by the partition column, so runs are
                # long; arbitrary interleave still works, just slower)
                vals = rb.column(part_i).to_numpy(zero_copy_only=False)
                body = rb.drop_columns([partition_col])
                start = 0
                for i in range(1, rb.num_rows + 1):
                    if i == rb.num_rows or vals[i] != vals[start]:
                        get_writer(int(vals[start]), body.schema).write_batch(
                            body.slice(start, i - start)
                        )
                        start = i
            for tmp, final, w in writers.values():
                w.close()
                _os.replace(tmp, final)
            yield pa.record_batch(
                [
                    pa.array([n], pa.int64()),
                    pa.array([ntok], pa.int64()),
                    pa.array([fp], pa.int64()),
                ],
                names=["n", "ntok", "fp"],
            )

        rows = df.mapInArrow(sink, "n long, ntok long, fp long").collect()
        n_docs = sum(int(r["n"]) for r in rows)
        n_tokens = sum(int(r["ntok"]) for r in rows)
        fp = 0
        for r in rows:
            fp ^= int(r["fp"])
        if n_docs == 0 and partition_col is None:
            # schema-ful empty file so the committed table stays readable
            pq.write_table(a_schema.empty_table(), os.path.join(path, "part-00000.parquet"))
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
        return spark.read.parquet(self.path(name))

    def drop(self, name: str) -> None:
        p = self.path(name)
        if os.path.isdir(p):
            shutil.rmtree(p)

    def bytes(self, name: str) -> int:
        total = 0
        for dirpath, _dirs, files in os.walk(self.path(name)):
            for f in files:
                total += os.path.getsize(os.path.join(dirpath, f))
        return total
