"""Replays the driver's correctness gate locally: for every registry
entry with an oracle, run the Spark query and the DuckDB SQL at sf0.01
and compare row counts + order-insensitive values (with float
tolerance at the rounded precision)."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ducked():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(SF_DIR, t)}.parquet'"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def _rowset(rows):
    return sorted(tuple(_norm(v) for v in r) for r in rows)


ORACLED = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, ducked, name):
    qfn = entry_mod.queries()[name]
    sdf = qfn(spark, SF_DIR)
    cols = sdf.columns
    spark_rows = [[r[c] for c in sorted(cols)] for r in sdf.collect()]

    odf = ducked.execute(entry_mod.oracle_sql()[name]).df()
    assert sorted(cols) == sorted(odf.columns.tolist()), (
        f"{name}: column mismatch {cols} vs {odf.columns.tolist()}"
    )
    oracle_rows = odf[sorted(cols)].values.tolist()

    assert len(spark_rows) == len(oracle_rows), (
        f"{name}: {len(spark_rows)} rows vs oracle {len(oracle_rows)}"
    )
    s, o = _rowset(spark_rows), _rowset(oracle_rows)
    mism = [(a, b) for a, b in zip(s, o) if a != b][:5]
    assert s == o, f"{name}: value mismatch, first diffs: {mism}"


def test_rows_only_queries_run(spark):
    qs = entry_mod.queries()
    for name in set(qs) - set(ORACLED):
        df = qs[name](spark, SF_DIR)
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"doc_id", "combined_score", "rank"} <= set(df.columns)


def test_oracle_type_parity(spark, ducked):
    """DESCRIBE every oracle SQL in DuckDB and pin (a) no 128-bit
    integer column anywhere — DuckDB widens windowed/plain integer
    SUM to HUGEINT, which the driver's byte-exact hash sees as a
    different value even when every number is identical (bit us in
    round 3 with sessionize_events' `sum(new_sess) OVER w`) — and
    (b) per-column-name type compatibility with the Spark schema, so
    a driver hash mismatch can never again be a *type* skew."""
    # DuckDB type → Spark simpleString()s the driver hashes identically.
    # Width within a family is canonicalized away by pandas (int32 and
    # int64 both land as exact int64; float32→float64 is value-exact),
    # proven by the r3 driver-green rows that carry INTEGER/BIGINT
    # skews — but a *128-bit* integer has no lossless pandas dtype and
    # is the one type class the driver hash punishes.
    ints = {"bigint", "int", "smallint", "tinyint"}
    compat = {
        "BIGINT": ints,
        "INTEGER": ints,
        "SMALLINT": ints,
        "TINYINT": ints,
        "DOUBLE": {"double", "float"},
        "FLOAT": {"double", "float"},
        "REAL": {"double", "float"},
        "VARCHAR": {"string"},
        "TIMESTAMP": {"timestamp", "timestamp_ntz"},
        "TIMESTAMP_NS": {"timestamp", "timestamp_ntz"},
        "DATE": {"date"},
        "BOOLEAN": {"boolean"},
    }
    banned = ("HUGEINT", "UHUGEINT", "INT128", "UBIGINT", "UINTEGER")
    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()
    offenders = []
    for name, sql in osql.items():
        otypes = {
            r[0]: r[1]
            for r in ducked.execute(f"DESCRIBE {sql}").fetchall()
        }
        stypes = {
            f.name: f.dataType.simpleString()
            for f in qs[name](spark, "/root/testdata/sf0.001").schema.fields
        }
        for col, dtyp in otypes.items():
            base = dtyp.split("(")[0].strip().upper()
            if any(b in base for b in banned):
                offenders.append(f"{name}.{col}: oracle {dtyp} is 128-bit")
                continue
            styp = stypes.get(col)
            if styp is None:
                offenders.append(f"{name}.{col}: oracle-only column")
            elif base not in compat:
                # strict allowlist: an unvetted oracle type (DECIMAL
                # materializes as object Decimal in pandas, INTERVAL
                # etc.) must be explicitly classified before it ships
                offenders.append(
                    f"{name}.{col}: unvetted oracle type {dtyp}"
                )
            elif styp not in compat[base]:
                offenders.append(
                    f"{name}.{col}: oracle {dtyp} vs spark {styp}"
                )
    assert not offenders, offenders


def test_all_outputs_are_driver_canonicalizable(spark):
    """The driver canonicalizes results with a pandas sort_values over
    every column — an ArrayType/MapType cell is unhashable there and
    breaks the gate even when the values are right (bit us in round 2
    with media_frame_features).  Pin: every entry's schema is flat
    scalars only."""
    from pyspark.sql import types as T

    banned = (T.ArrayType, T.MapType, T.StructType, T.BinaryType)
    offenders = []
    for name, fn in entry_mod.queries().items():
        for f in fn(spark, "/root/testdata/sf0.001").schema.fields:
            if isinstance(f.dataType, banned):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not offenders, offenders


# sha256 of the NSW/HNSW oracle SQL strings.  These statements are part
# of the driver contract: a refactor of nsw.py (shared SQL fragments,
# hop-loop rewrites) must leave every one of them byte-identical.
NSW_SQL_SHA256 = {
    "ANN_NSW_BEAM_SQL": "35616da2ae9f8eba5642e0edd45d411eacd568b10f303ec1b2a51d90f7dcd2f6",
    "ANN_NSW_LSH_SQL": "3fef595d50b168a7a62ac1d61d633fae5d1895f360aba2b209ea8fa24be8b192",
    "ANN_NSW_BATCH_SQL": "2797e5900200b65c12721c8c4cb25e6a977a1e5d56d75ff53d91aaa4d5860bef",
    "ANN_HNSW_LAYERED_SQL": "cff9b4b79baacec7103b288eb6dd45a62657cd0e6940d68e8d0343fd574b976b",
    "ANN_HNSW_BATCH_SQL": "c5669459297a65057e7a65078e45924a9f1d0cb7638611bab9018069603aaa19",
    "HYBRID_NSW_TOPK_SQL": "e1bda78b4898511ca59cdffd290c97d5276c2c1f1c34384b24019269d321b051",
}


@pytest.mark.parametrize("const", sorted(NSW_SQL_SHA256))
def test_nsw_oracle_sql_is_pinned(const):
    import hashlib

    from codegraph_rust_spark.functions import nsw

    sql = getattr(nsw, const)
    assert hashlib.sha256(sql.encode()).hexdigest() == NSW_SQL_SHA256[const]
