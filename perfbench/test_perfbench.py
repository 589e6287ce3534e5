"""Self-tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pytest

from perfbench import inputs
from perfbench.run import report
from perfbench.trace import Outcomes, Span, Tracer, halves_ratio, percentile_with_tail, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------------------ generators


def test_query_stream_is_seeded():
    a = inputs.query_stream(5, 2000, 40)
    assert a == inputs.query_stream(5, 2000, 40)
    assert a != inputs.query_stream(6, 2000, 40)
    # the term-count cycle is fixed, so every seed has the same cost mix
    assert [len(t.split()) for _q, t in a[:8]] == [1, 2, 3, 4, 1, 2, 3, 4]


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _dirs, files in os.walk(d):
        for f in files:
            with open(os.path.join(dirpath, f), "rb") as fh:
                out[os.path.relpath(os.path.join(dirpath, f), d)] = fh.read()
    return out


def test_corpus_and_change_feed_are_seeded(tmp_path):
    runs = []
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        pages = inputs.generate_corpus(str(tmp_path / name), seed, n_docs=60, vocab_size=500)
        feed = inputs.ChangeFeed(pages, seed, vocab_size=500)
        deltas = [feed.next_delta() for _ in range(2)]
        feed.write_snapshot(str(tmp_path / name / "snap"))
        runs.append((_files(pages), deltas, feed.docs(), _files(str(tmp_path / name / "snap"))))
    assert runs[0] == runs[1]
    assert runs[0][0] != runs[2][0] and runs[0][2] != runs[2][2]
    # a delta has the same shape on every seed
    assert runs[0][1] == runs[2][1]
    # the snapshot holds exactly the live pages
    assert len(runs[0][2]) == 60 + 2 * (inputs.N_ADD - inputs.N_DELETE)


def test_clustered_vectors_are_seeded(tmp_path):
    a = inputs.clustered_vectors(str(tmp_path / "a"), 9, 64)
    b = inputs.clustered_vectors(str(tmp_path / "b"), 9, 64)
    c = inputs.clustered_vectors(str(tmp_path / "c"), 10, 64)
    assert a.shape == (64, 64) and np.array_equal(a, b) and not np.array_equal(a, c)
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))


# ------------------------------------------------------------ statistics


def test_percentile_needs_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 201)]
    assert percentile_with_tail(xs, 0.95) == 190.0       # 10 samples beyond
    assert percentile_with_tail(xs[:199], 0.95) is None   # 9 beyond
    assert percentile_with_tail(xs[:20], 0.5) == 10.0
    assert percentile_with_tail(xs[:19], 0.5) is None
    assert percentile_with_tail([], 0.5) is None


def test_halves_ratio():
    assert halves_ratio([1.0, 1.0, 2.0, 2.0]) == 2.0
    assert halves_ratio([1.0, 5.0, 1.0]) == 1.0   # middle sample belongs to neither
    assert halves_ratio([1.0]) is None


def test_window_starts_only_operations_that_fit():
    from perfbench.workloads import Bench

    b = Bench.__new__(Bench)
    for seconds, want in ((1.0, 3), (0.5, 1), (0.01, 1)):
        b.seconds, n = seconds, 0
        for _ in b.window():
            time.sleep(0.3)
            n += 1
        assert n == want, (seconds, n)


# ----------------------------------------------------------------- spans


def test_self_time_subtracts_the_union_of_direct_children():
    spans = [
        Span("op", 0.0, 10.0, None, "q"),
        Span("a", 1.0, 3.0, 0, "q"),
        Span("b", 2.0, 5.0, 0, "q"),     # overlaps a: [1, 5] counted once
        Span("c", 7.0, 8.0, 0, "q"),
        Span("c.child", 7.2, 7.7, 3, "q"),  # only its parent loses it
    ]
    assert self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 0.5, 0.5])


def test_tracer_nests_spans_and_shares_the_operation_id():
    tr = Tracer(True)
    with tr.span("query", op="q1"):
        with tr.span("topk.plan"):
            with tr.span("topk.analyze"):
                pass
        with tr.span("topk.collect"):
            pass
    names = [(s.name, s.parent, s.op) for s in tr.spans]
    assert names == [
        ("query", None, "q1"), ("topk.plan", 0, "q1"),
        ("topk.analyze", 1, "q1"), ("topk.collect", 0, "q1"),
    ]
    selfs = tr.self_times()
    total = tr.spans[0].end - tr.spans[0].start
    assert selfs["query"][0] <= total
    assert all(v[0] >= 0 for v in selfs.values())
    off = Tracer(False)
    with off.span("query"):
        pass
    assert off.spans == [] and off.own_s == 0.0


# -------------------------------------------------------------- outcomes


def test_failed_ratio_counts_raised_and_wrong_results():
    o = Outcomes()
    assert o.call(lambda: (1.0, ["row"]), "ok") == (1.0, ["row"])

    def boom():
        raise RuntimeError("executor lost")

    assert o.call(boom, "raised") is None
    got = o.call(lambda: (1.0, ["bad row"]), "wrong")
    o.wrong("wrong: rows differ from the oracle")   # checked after the window
    assert got is not None
    assert (o.attempted, o.failed) == (3, 2)
    assert o.failed_ratio == 2 / 3
    assert o.errors[0].startswith("raised: RuntimeError")


# ---------------------------------------------------------------- output


def test_report_names_every_metric_in_the_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"]]
    values = {n: 1.5 for n in names}
    out = report(spec["end_to_end"], values)
    assert list(out) == names and all(v["value"] == 1.5 for v in out.values())
    with pytest.raises(KeyError):
        report(spec["end_to_end"], {})
    layers = report(spec["per_layer"], {}, missing=0.0)
    assert set(layers) == {m["name"] for m in spec["per_layer"]}
