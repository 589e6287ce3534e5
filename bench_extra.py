"""Extra benchmarks / profiling harness for the optimization round.

NOT part of the driver contract (bench.py is frozen for measurement);
this file exists to isolate the expensive stages per guide §1.4 (noop
sink, setJobDescription labels) and to capture plan shapes.

Usage:
  python bench_extra.py index          # index_build stage dissection
  python bench_extra.py nsw            # NSW graph build dissection
  python bench_extra.py ops op1 op2..  # noop-sink time registry ops
  python bench_extra.py plans [ops..]  # dump explain("formatted") to plans/r06
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import CPUS, N_DOCS, REPO, SF_DIR, get_spark  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, name, fn, n=1):
    walls = []
    for _ in range(n):
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        fn()
        walls.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
    print(f"TIMED {name}: {walls} (min {min(walls)})", flush=True)
    return min(walls)


def dissect_index(spark):
    from codegraph_rust_spark.config import IndexConfig
    from codegraph_rust_spark.operators.postings import (
        build_postings,
        dictionary_stage,
        encode_partials,
        explode_tf,
        head_term_map,
        merge_partials,
        tokenize_stage,
    )
    from codegraph_rust_spark.plans.build import build_index, partition_input

    corpus = os.path.join(REPO, ".data", f"bench_corpus_{N_DOCS}")
    pages = spark.read.parquet(os.path.join(corpus, "pages.parquet"))
    cfg = IndexConfig(
        input_partitions=CPUS * 2,
        salt_df_threshold=max(2000, N_DOCS // 10),
        max_salts=16,
    )

    # full build (reference number)
    idx = os.path.join(REPO, ".data", "xbench_index")
    shutil.rmtree(idx, ignore_errors=True)
    timed(spark, "index_build_full", lambda: build_index(spark, pages, idx, cfg, resume=False))
    print(json.dumps(json.load(open(os.path.join(idx, "metrics.json")))["stages"], indent=1))

    # tokenize-stage sub-dissection (noop sink).  tokenize_stage has no
    # url-duplicate probe (the build guards url uniqueness on the written
    # ledger); the tokenize leaves recorded before its removal included
    # that probe's groupBy(url) job, so they are not comparable with
    # leaves measured now
    timed(spark, "scan_only", lambda: noop(pages), 2)
    timed(spark, "scan_repart", lambda: noop(partition_input(pages, cfg)), 2)
    timed(
        spark, "tokenize_norepart_noop",
        lambda: noop(tokenize_stage(pages, cfg)), 2,
    )
    timed(
        spark, "tokenize_repart_noop",
        lambda: noop(tokenize_stage(partition_input(pages, cfg), cfg)), 2,
    )

    # derived stages from the committed ledger
    tok = spark.read.parquet(os.path.join(idx, "tokenized"))
    timed(spark, "explode_noop", lambda: noop(explode_tf(tok)), 2)
    timed(spark, "dictionary_noop", lambda: noop(dictionary_stage(explode_tf(tok))), 2)
    dictionary = spark.read.parquet(os.path.join(idx, "dictionary"))
    est = int(100000 * 171 * 0.85)
    h_t, h_n = head_term_map(dictionary, cfg)
    timed(
        spark, "encode_partials_noop",
        lambda: noop(encode_partials(tok, h_t, h_n, cfg)), 2,
    )
    timed(
        spark, "merge_partials_noop",
        lambda: noop(merge_partials(encode_partials(tok, h_t, h_n, cfg), cfg, est_rows=est)), 2,
    )
    timed(
        spark, "build_postings_noop",
        lambda: noop(build_postings(tok, dictionary, cfg, est_rows=est)), 2,
    )


def dissect_nsw(spark):
    from codegraph_rust_spark.functions import nsw as nsw_mod
    from codegraph_rust_spark.functions.common import t
    from codegraph_rust_spark.functions.dedup_approx import band_sigs
    from pyspark.sql import functions as F

    e = t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    print("n vectors:", e.count())
    bands = band_sigs(e)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst"))
        .distinct()
    )
    print("n cand pairs:", cand.count())
    timed(spark, "lsh_cand_noop", lambda: noop(cand), 2)
    timed(
        spark, "lsh_full_noop",
        lambda: noop(nsw_mod._nsw_edges_lsh(e)), 2,
    )
    timed(
        spark, "exact_full_noop",
        lambda: noop(nsw_mod._nsw_edges(e)), 2,
    )


def run_ops(spark, names):
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    for name in names:
        timed(spark, name, lambda: qs[name](spark, SF_DIR).collect(), 2)


def dump_plans(spark, names, tag="before"):
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    outdir = os.path.join(REPO, "plans", "r06")
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        try:
            df = qs[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as ex:  # plan-only harness: record the failure
            plan = f"ERROR: {ex}"
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print("wrote plan:", name, tag, flush=True)


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "ops"
    spark = get_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    if mode == "index":
        dissect_index(spark)
    elif mode == "nsw":
        dissect_nsw(spark)
    elif mode == "ops":
        run_ops(spark, sys.argv[2:])
    elif mode == "plans":
        import __spark_entry__ as entry_mod

        names = sys.argv[2:] or list(entry_mod.queries())
        tag = os.environ.get("PLAN_TAG", "before")
        dump_plans(spark, names, tag)
    spark.stop()


if __name__ == "__main__":
    main()
