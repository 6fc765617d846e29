"""Correctness checks: DuckDB oracles and the pure-Python referees.

Every check returns ``(ok, detail)``; the harness counts a False or an
exception as a failure.
"""

from __future__ import annotations

from collections import defaultdict

def _duck(fixture_dir: str):
    """A fresh DuckDB connection with one view per fixture table; the
    caller closes it, so no oracle memory outlives its check."""
    import duckdb

    from .fixtures import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
    return con


def gate_matches(spark, fixture_dir: str, gate: str):
    """A registered gate's Spark rows against its DuckDB oracle: row
    count, column names and order-insensitive normalized values (the
    comparison of ``tools/verify_oracles.py``)."""
    from oteldb_spark.queries import ORACLES, QUERIES
    from tools.verify_oracles import normalize

    df = QUERIES[gate](spark, fixture_dir)
    cols, rows = df.columns, [tuple(r) for r in df.collect()]
    with _duck(fixture_dir) as con:
        res = con.execute(ORACLES[gate])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    if len(rows) != len(orows):
        return False, f"{gate}: rowcount spark={len(rows)} oracle={len(orows)}"
    if sorted(cols) != sorted(ocols):
        return False, f"{gate}: columns spark={sorted(cols)} oracle={sorted(ocols)}"
    if normalize(rows, cols) != normalize(orows, ocols):
        return False, f"{gate}: values differ"
    return True, ""


def matrix_points(resp: dict) -> dict:
    """Loki/Prometheus matrix → {label set: {step µs: value string}}."""
    out: dict = {}
    for s in resp["data"]["result"]:
        sig = tuple(sorted(s["metric"].items()))
        out[sig] = {int(round(t * 1e6)): v for t, v in s["values"]}
    return out


def promql_referee(serve, q):
    from oteldb_spark.referee import build_referee, compare_corpus_entry

    from .inputs import PROM_LOOKBACK_US

    ref = build_referee(serve.spark, serve.fx, PROM_LOOKBACK_US, include_counter=True)
    cls, detail = compare_corpus_entry(serve.prom, ref, q.query, q.start_us, q.end_us, q.step_us)
    return cls in ("match", "both_error"), f"{q.query}: {cls} {detail}"


def logql_referee(serve, q):
    from oteldb_spark.logql_referee import build_logql_referee, compare_logql_entry

    ref = build_logql_referee(serve.spark, serve.fx)
    cls, detail = compare_logql_entry(serve.logs, ref, q.query, q.start_us, q.end_us, q.step_us)
    return cls in ("match", "both_error"), f"{q.query}: {cls} {detail[:300]}"


# the TraceQL referee runs over one trace in TRACE_SAMPLE: evaluating
# the sf0.1-sized span forest in pure Python would take longer than the
# rest of the run
TRACE_SAMPLE = 16


def traceql_referee(serve, q, r):
    """Tempo search against the TraceQL referee, both over the traces
    with ``trace_id % TRACE_SAMPLE`` equal to a seeded residue (whole
    traces, so structural operators see complete trees): the engine's
    traces are exactly the newest ``limit`` matched traces (ties at the
    cut may resolve either way), each with the referee's root name,
    duration and start."""
    from pyspark.sql import functions as F

    from oteldb_spark.engine import TraceQLEngine
    from oteldb_spark.queries.structural_stored import stored_spans
    from oteldb_spark.signals import spans_frame
    from oteldb_spark.traceql import SpanSource
    from oteldb_spark.traceql_referee import TraceQLReferee

    from .serve import SPAN_ATTRS

    sample = F.col("trace_id") % TRACE_SAMPLE == r.randrange(TRACE_SAMPLE)
    spans = [row.asDict() for row in spans_frame(serve.spark, serve.fx).where(sample).collect()]
    ref = TraceQLReferee(spans, dict(SPAN_ATTRS))
    engine = TraceQLEngine(
        SpanSource(df=stored_spans(serve.spark, serve.fx).where(sample), attr_cols=dict(SPAN_ATTRS))
    )
    matched = {t for t, _ in ref.query(q.query)}
    by_trace = defaultdict(list)
    for s in ref.spans:
        if s["trace_id"] in matched:
            by_trace[s["trace_id"]].append(s)
    want = {}
    for tid, spans in by_trace.items():
        root = min(
            spans,
            key=lambda s: (s["parent_span_id"] is not None, s["start_us"], s["span_id"]),
        )
        start = min(s["start_us"] for s in spans)
        end = max(s["start_us"] + s["duration_us"] for s in spans)
        want[tid] = (root["name"], (end - start) // 1000, start)
    got = engine.search(q.query, limit=q.limit)["traces"]
    n = min(q.limit, len(want))
    if len(got) != n:
        return False, f"{q.query}: {len(got)} traces, referee expects {n}"
    if n == 0:
        return True, ""
    cut = sorted((w[2] for w in want.values()), reverse=True)[n - 1]
    for t in got:
        tid = int(t["traceID"], 16)
        if tid not in want:
            return False, f"{q.query}: trace {tid} not matched by the referee"
        name, dur_ms, start = want[tid]
        if (t["rootTraceName"], t["durationMs"], int(t["startTimeUnixNano"])) != (
            name,
            dur_ms,
            start * 1000,
        ) or start < cut:
            return False, f"{q.query}: trace {tid} differs from the referee"
    return True, ""
