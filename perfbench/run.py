"""Benchmark entry point.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, drives the engine
through its public functions for ``--seconds`` after setup and warm-up,
checks every output, and prints one JSON object as the last line of
stdout: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run records spans and reports the per-layer metrics instead.  A
line before it carries the run's context (session settings, sizes,
samples, host and JVM state).  Exits non-zero when any output is wrong.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# per-layer metrics timed by spans: metric → span name
SPAN_METRICS = {
    "topk.open_s": "topk.open",
    "topk.analyze_s": "topk.analyze",
    "topk.plan_s": "topk.plan",
    "topk.collect_s": "topk.collect",
    "incremental.detect_s": "incremental.detect",
    "nsw.graph_build_s": "nsw.graph_build",
    "nsw.plan_s": "nsw.plan",
    "nsw.collect_s": "nsw.collect",
}


def per_layer(b, host: dict) -> dict[str, float]:
    """Median per call of every layer metric the run reached."""
    from perfbench.trace import median

    selfs = b.tracer.self_times()
    out = {m: median(selfs.get(span, [])) for m, span in SPAN_METRICS.items()}
    out.update({m: median(v) for m, v in b.layer.items()})
    topk, nsw = b.job_counts("topk"), b.job_counts("nsw")
    out["topk.spark_jobs"] = topk["jobs"]
    out["topk.spark_stages"] = topk["stages"]
    out["topk.spark_tasks"] = topk["tasks"]
    out["nsw.spark_jobs"] = nsw["jobs"]
    out["trace.spans"] = len(b.tracer.spans)
    out.update(host)
    return out


def report(spec: list[dict], values: dict[str, float], missing: float | None = None) -> dict:
    """Every metric the spec names, with its unit.  A metric without a
    value reads ``missing``, or raises KeyError when that is None."""
    return {
        m["name"]: {
            "value": values[m["name"]] if missing is None else values.get(m["name"], missing),
            "unit": m["unit"],
        }
        for m in spec
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # fail fast, before any process starts, when the engine is missing
    import pyspark  # noqa: F401

    import codegraph_rust_spark  # noqa: F401
    from perfbench.session import HostContext, session_settings, start_spark, stop_spark
    from perfbench.trace import halves_ratio, percentile_with_tail
    from perfbench.workloads import N_DOCS, WORKLOADS, Bench, prepare

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    host = HostContext()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = tempfile.tempdir = work  # keep every file inside the checkout
    settings = session_settings(work)
    with ThreadPoolExecutor(1) as pool:
        generated = pool.submit(prepare, work, args.seed)
        spark = start_spark(settings, ROOT)
        try:
            ins = generated.result()
        except BaseException:
            stop_spark(spark)
            raise
    try:
        host.start_gc(spark)
        b = Bench(spark, settings, work, args.seed, args.seconds, bool(args.trace), T_START)
        b.mark("session_and_inputs")
        WORKLOADS[args.workload](b, ins)
        host_ctx = host.finish(spark)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        if args.trace:
            # a layer the workload never calls reads 0
            metrics = report(spec["per_layer"], per_layer(b, host_ctx), missing=0.0)
        else:
            metrics = report(spec["end_to_end"], b.e2e)
        walls = b.context.get("walls", [])
        context = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "session": settings, "n_docs": N_DOCS,
            "samples": len(walls), "halves_ratio": halves_ratio(walls),
            "p95_s": percentile_with_tail(walls, 0.95),
            "failed_ratio": b.outcomes.failed_ratio,
            "errors": b.outcomes.errors[:5],
            # in a traced run, its own end-to-end numbers: the tracing
            # overhead is their difference from an untraced run's
            "e2e": b.e2e,
            **b.context,
            **host_ctx,
        }
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"context": context}))
    correct = b.outcomes.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": b.outcomes.attempted,
        "failed": b.outcomes.failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
