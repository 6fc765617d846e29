"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``
from the repository root.  The smoke tests start Spark and take about
a minute each."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from itertools import islice
from types import SimpleNamespace

import pytest

from perfbench import inputs, stats
from perfbench.layers import layer_metrics
from perfbench.tracing import OpRecord, Span, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _feed_bytes(seed: int, ticks: int = 2) -> list[bytes]:
    feed = inputs.IngestFeed(seed, n_series=300)
    out = []
    for _ in range(ticks):
        b = feed.next_batch()
        out.extend(b.prw + b.otlp)
    return out


def _queries(seed: int, n: int = 30) -> list:
    return list(islice(inputs.adhoc_queries(seed), n))


def test_same_seed_same_inputs():
    assert _feed_bytes(7) == _feed_bytes(7)
    assert _queries(7) == _queries(7)
    assert inputs.Dashboard(7).t0_us == inputs.Dashboard(7).t0_us
    assert [p.name for p in inputs.Dashboard(7).panel_order()] == [
        p.name for p in inputs.Dashboard(7).panel_order()
    ]


def test_other_seed_other_inputs():
    assert _feed_bytes(7) != _feed_bytes(8)
    assert _queries(7) != _queries(8)


def test_adhoc_mix_is_seed_independent_and_distinct():
    for seed in (1, 2):
        qs = _queries(seed, 60)
        assert len(set(qs)) == len(qs)
        langs = [q.lang for q in qs]
        assert langs[:3] == ["logql", "promql", "traceql"]
        assert [q.family for q in qs] == [q.family for q in _queries(seed + 10, 60)]


def test_ingest_churn_and_points():
    feed = inputs.IngestFeed(3, n_series=1000, churn=0.05)
    b0, b1 = feed.next_batch(), feed.next_batch()
    assert len(b0.series) == len(b1.series) == 1000
    assert len(set(b0.series) & set(b1.series)) == 950
    assert len(b1.points) == 1000 * feed.samples_per_tick


@pytest.mark.parametrize(
    "n, expected",
    [(5, None), (19, None), (20, 50), (40, 75), (100, 90), (200, 95), (1000, 99), (30, 66)],
)
def test_tail_percentile_rule(n, expected):
    assert stats.tail_percentile(n) == expected
    if expected is not None:
        # at least ten samples lie beyond the chosen nearest-rank position
        xs = list(range(n))
        assert sum(1 for x in xs if x > stats.percentile(xs, expected)) >= 10
        nxt = expected + 1
        if nxt < 100:
            assert sum(1 for x in xs if x > stats.percentile(xs, nxt)) < 10


def test_tail_falls_back_to_slowest():
    assert stats.tail([5.0, 1.0, 3.0]) == (100, 5.0)
    assert stats.tail([float(x) for x in range(40)]) == (75, 29.0)


def test_self_time_arithmetic():
    spans = [
        Span("root", 0.0, 100.0),
        Span("a", 10.0, 40.0, parent=0),
        Span("b", 30.0, 60.0, parent=0),  # overlaps a: union is 10..60
        Span("c", 15.0, 20.0, parent=1),
        Span("d", 90.0, 120.0, parent=0),  # runs past the parent: clipped at 100
    ]
    assert self_times(spans) == [40.0, 25.0, 30.0, 5.0, 30.0]


def test_coverage_leaves_out_the_facade_wrapper():
    # a facade call whose compile and action are probed: the 28 ms the
    # engine wrapper spends outside them is not covered
    tracer = SimpleNamespace(
        spans=[
            Span("op.fresh", 0.0, 100.0, op=0),
            Span("engine:PromQLEngine.query_range", 1.0, 99.0, parent=0, op=0),
            Span("promql.compile", 10.0, 30.0, parent=1, op=0),
            Span("spark.action:collect", 40.0, 90.0, parent=1, op=0),
        ],
        ops=[OpRecord("fresh", "adhoc:promql.rate", root=0, first_span=0, last_span=4,
                      client_ms=100.0)],
    )
    out = layer_metrics(tracer, {})
    assert out["trace.coverage_pct"] == 70.0
    assert out["engine.self_ms"] == 28.0
    assert out["promql.compile_ms"] == 20.0


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [
            sys.executable,
            "perfbench/run.py",
            "--workload", workload,
            "--seed", "5",
            "--seconds", "2",
            "--trace", str(trace),
            "--scale", "0.01",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["serve", "ingest_rw"])
def test_smoke_untraced(workload):
    res = _run(workload, 0)
    assert res["failed"] == 0 and res["correct"]
    assert res["metrics"]["success_rate"]["value"] == 1.0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(res["metrics"]) == {m["name"] for m in bench["end_to_end"]}


def test_smoke_traced_serve():
    res = _run("serve", 1)
    assert res["failed"] == 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(res["metrics"]) == {m["name"] for m in bench["per_layer"]}
    assert res["metrics"]["exec.jobs"]["value"] > 0
    assert 90.0 <= res["metrics"]["trace.coverage_pct"]["value"] <= 110.0
