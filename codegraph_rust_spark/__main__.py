"""CLI — the reference's ``codegraph index <path>`` / query surface
(crates/codegraph-mcp CLI: index, search) re-expressed:

    python -m codegraph_rust_spark index  PAGES_PARQUET INDEX_DIR
    python -m codegraph_rust_spark query  INDEX_DIR "query text" [-k 10]
    python -m codegraph_rust_spark watch  WATCH_DIR INDEX_DIR
    python -m codegraph_rust_spark stats  INDEX_DIR

Run with PYTHONPATH pointing at the repo (or spark-submit --py-files)
so executors can import the package — see README "Running".
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _spark(cpus: str, shuffle: int | None = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("codegraph_rust_spark-cli")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
    )
    if shuffle:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle))
    s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    return s


def cmd_index(args) -> None:
    from codegraph_rust_spark.config import IndexConfig
    from codegraph_rust_spark.plans.build import build_index

    spark = _spark(args.cpus, args.cpus_int * 2)
    cfg = IndexConfig(
        analyzer=args.analyzer,
        input_partitions=args.cpus_int * 2,
        salt_df_threshold=args.salt_threshold,
    )
    pages = spark.read.parquet(args.pages)
    t0 = time.time()
    metrics = build_index(spark, pages, args.index_dir, cfg, resume=not args.fresh)
    metrics["wall_s"] = round(time.time() - t0, 3)
    print(json.dumps(metrics, default=str))


def cmd_query(args) -> None:
    from codegraph_rust_spark.config import IndexConfig, load_index_config
    from codegraph_rust_spark.operators.topk import InvertedIndex

    spark = _spark(args.cpus)
    # the index's OWN build config is authoritative: querying with a
    # different analyzer or salting threshold silently mis-enumerates
    # head-term shards / stems query terms differently
    cfg = load_index_config(args.index_dir) or IndexConfig()
    idx = InvertedIndex(spark, args.index_dir, cfg)
    t0 = time.time()
    df = idx.topk(args.text, k=args.k, mode=args.mode)
    if args.urls:
        df = idx.with_urls(df)
    rows = [r.asDict() for r in df.collect()]
    print(json.dumps({"wall_s": round(time.time() - t0, 3), "hits": rows,
                      "profile": idx.last_profile}))


# fallback schema when the drop dir is still empty at watcher start
# (schema inference would crash).  DELIBERATELY html-free: tokenize
# prefers an html column when present, so a phantom all-null html
# column would make every page index as empty.  A feed that ships
# html should start the watcher after its first drop (schema is then
# inferred) or call watch_pages(schema=...) directly.
_PAGES_DDL = "url string, warc_ts timestamp, text string, lang string"


def cmd_watch(args) -> None:
    from pyspark.sql import types as T

    from codegraph_rust_spark.config import IndexConfig, load_index_config
    from codegraph_rust_spark.streaming.watch import watch_pages

    spark = _spark(args.cpus)
    cfg = load_index_config(args.index_dir) or IndexConfig()
    try:
        schema = spark.read.parquet(args.watch_dir).schema
    except Exception:
        schema = T.StructType.fromDDL(_PAGES_DDL)
    q = watch_pages(
        spark,
        args.watch_dir,
        args.index_dir,
        cfg=cfg,
        schema=schema,
        available_now=args.once,
        processing_time=None if args.once else f"{args.interval} seconds",
    )
    q.awaitTermination()


def cmd_run(args) -> None:
    """Run any registry operator against an sf-style table directory
    (documents.parquet / embeddings.parquet / …) and print JSON rows."""
    from codegraph_rust_spark.functions import registry

    qs = registry.queries()
    if args.name not in qs:
        print(json.dumps({"error": f"unknown operator {args.name!r}",
                          "available": sorted(qs)}))
        sys.exit(2)
    spark = _spark(args.cpus)
    t0 = time.time()
    df = qs[args.name](spark, args.sf_dir)
    rows = [r.asDict() for r in df.limit(args.limit).collect()]
    print(json.dumps({"operator": args.name, "wall_s": round(time.time() - t0, 3),
                      "rows": rows}, default=str))


def cmd_curate(args) -> None:
    """Run the end-to-end curation pipeline and write the curated doc
    set as parquet — the training-data export."""
    from codegraph_rust_spark.functions.pipeline import curate_training_sample

    spark = _spark(args.cpus)
    t0 = time.time()
    df = curate_training_sample(spark, args.sf_dir)
    df.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"curated_docs": n, "out": args.out,
                      "wall_s": round(time.time() - t0, 3)}))


def cmd_stats(args) -> None:
    from codegraph_rust_spark.sources.catalog import Catalog

    spark = _spark(args.cpus)
    cat = Catalog(args.index_dir)
    out = {}
    out["corpus"] = cat.read_local("corpus_stats").to_pylist()[0]
    from pyspark.sql import functions as F

    post = cat.read(spark, "postings")
    agg = post.agg(
        F.sum("n").alias("postings"),
        F.approx_count_distinct("term_id").alias("terms"),
    ).collect()[0]
    out["postings"] = int(agg["postings"] or 0)
    out["approx_terms"] = int(agg["terms"] or 0)
    out["bytes"] = {
        t: cat.bytes(t) for t in ("tokenized", "dictionary", "postings")
    }
    print(json.dumps(out, default=str))


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(prog="codegraph_rust_spark")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("index", help="build (or resume) an index over a pages parquet")
    p.add_argument("pages")
    p.add_argument("index_dir")
    p.add_argument("--analyzer", default="snowball", choices=["snowball", "simple"])
    p.add_argument("--salt-threshold", type=int, default=200_000)
    p.add_argument("--fresh", action="store_true", help="ignore resume state")
    p.set_defaults(fn=cmd_index)

    p = sub.add_parser("query", help="BM25 top-k against a built index")
    p.add_argument("index_dir")
    p.add_argument("text")
    p.add_argument("-k", type=int, default=10)
    p.add_argument("--mode", default="maxscore", choices=["maxscore", "taat"])
    p.add_argument("--urls", action="store_true", help="attach urls to hits")
    p.set_defaults(fn=cmd_query)

    p = sub.add_parser("watch", help="keep an index updated from a drop directory")
    p.add_argument("watch_dir")
    p.add_argument("index_dir")
    p.add_argument("--once", action="store_true", help="drain and exit")
    p.add_argument("--interval", type=int, default=5)
    p.set_defaults(fn=cmd_watch)

    p = sub.add_parser("stats", help="index statistics")
    p.add_argument("index_dir")
    p.set_defaults(fn=cmd_stats)

    p = sub.add_parser("run", help="run a registry operator over an sf table dir")
    p.add_argument("name")
    p.add_argument("sf_dir")
    p.add_argument("--limit", type=int, default=20)
    p.set_defaults(fn=cmd_run)

    p = sub.add_parser("curate", help="export the curated training-doc set")
    p.add_argument("sf_dir")
    p.add_argument("out")
    p.set_defaults(fn=cmd_curate)

    args = ap.parse_args(argv)
    # sanitize ONCE, and use the sanitized value everywhere — the raw
    # string must not leak into the master URL (local[0] hangs forever)
    raw = str(args.cpus)
    if raw == "*":
        args.cpus_int = os.cpu_count() or 8
    elif raw.isdigit() and int(raw) > 0:
        args.cpus_int = int(raw)
    else:
        ap.error(f"--cpus must be a positive integer or '*', got {raw!r}")
    if raw != "*":
        args.cpus = str(args.cpus_int)
    args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
