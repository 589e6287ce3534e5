"""Shared helpers for the query registry (driver-contract functions)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .qcache import DERIVED


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def max_key(spark: SparkSession, sf_dir: str, name: str, col: str) -> int:
    """max(col) over a source table, cached per (app, sf_dir, table,
    col) at the table file's snapshot (qcache.DERIVED).

    The synthetic edge graphs derive their modulus from the key-space
    size; without the cache every graph entry re-scanned the whole
    column per call.  At real scale this is a table-statistics lookup,
    not a scan."""
    return DERIVED.get_or_compute(
        spark,
        ("max_key", sf_dir, name, col),
        [os.path.join(sf_dir, f"{name}.parquet")],
        lambda: t(spark, sf_dir, name).agg(F.max(col)).collect()[0][0] or 0,
    )
