"""``serve``: one closed-loop client over the Loki, Prometheus and
Tempo facades.

Two request classes interleave, one panel call then two ad hoc calls:

* *dashboard panels* (``repeat``): a fixed set of facade calls —
  cached PromQL and LogQL ``query_range``, a PromQL ``query_instant``,
  a limited log listing and a Tempo ``search``.  Each refresh moves the
  window end and ``now`` one step, so the metric panels are partial
  hits in the ``StepResultCache``;
* *ad hoc* requests (``fresh``): distinct LogQL, PromQL and TraceQL
  queries drawn from templates by the seed, run without a cache.

Checks (outside the timed loop): the registered facade gates against
their DuckDB oracles, every cached dashboard response against one
uncached computation of the whole refreshed range, and one ad hoc query
per language, picked by the seed, against its pure-Python referee.
"""

from __future__ import annotations

import os
import sys
import time
from collections import defaultdict

from . import inputs, oracle
from .harness import Recorder, units

FACADE_GATES = [
    "logql_facade_query_range",
    "promql_facade_query_range",
    "logql_facade_instant",
    "promql_facade_instant",
    "logql_facade_log_range",
    "logql_facade_log_instant",
    "traceql_search_stored_facade",
]

LOG_LABELS = {"service": "service", "env": "env", "level": "level"}
METRICS = {
    "events_value_total": "counter_mod",
    "events_counter_total": "counter",
    "events_gauge": "gauge",
}
SPAN_ATTRS = {"service": "service", "service.name": "service"}

# one refresh: every panel once, each followed by two ad hoc queries;
# ~16 s on a 4-core host
ADHOC_PER_PANEL = 2
REFRESH_S = 16.0


class Serve:
    name = "serve"
    needs_fixtures = True

    def __init__(self, spark, fixture_dir: str, work_dir: str, seed: int, scale: float):
        self.spark = spark
        self.fx = fixture_dir
        self.work = work_dir
        self.seed = seed
        self.dash = inputs.Dashboard(seed)
        self.adhoc = inputs.adhoc_queries(seed)
        self.adhoc_done: list[inputs.AdhocQuery] = []
        self.refresh = 0
        # (panel, start_us, end_us, response) of every cached response
        self.cached_responses: list[tuple] = []
        self.caches: list = []

    # -- set-up ------------------------------------------------------------

    def setup(self, rec: Recorder) -> None:
        from oteldb_spark.engine import LogQLEngine, PromQLEngine, TraceQLEngine
        from oteldb_spark.logql import LogSource
        from oteldb_spark.plans.result_cache import StepResultCache
        from oteldb_spark.promql import MetricSource
        from oteldb_spark.queries.structural_stored import stored_spans
        from oteldb_spark.signals import counter_points_frame, logs_frame
        from oteldb_spark.traceql import SpanSource

        spark, fx = self.spark, self.fx
        t_src = time.perf_counter()
        self.log_source = LogSource(
            df=logs_frame(spark, fx), label_cols=dict(LOG_LABELS), body_col="body", ts_col="ts_us"
        )
        self.metric_source = MetricSource(
            df=counter_points_frame(spark, fx), metrics=dict(METRICS), label_cols=["mtype", "instance"]
        )
        self.span_source = SpanSource(df=stored_spans(spark, fx), attr_cols=dict(SPAN_ATTRS))
        prom_cache = StepResultCache(os.path.join(self.work, "cache", "promql"))
        log_cache = StepResultCache(os.path.join(self.work, "cache", "logql"))
        self.caches = [prom_cache, log_cache]
        lookback = inputs.PROM_LOOKBACK_US
        self.dash_prom = PromQLEngine(self.metric_source, lookback_us=lookback, result_cache=prom_cache)
        self.dash_logs = LogQLEngine(self.log_source, result_cache=log_cache)
        self.prom = PromQLEngine(self.metric_source, lookback_us=lookback)
        self.logs = LogQLEngine(self.log_source)
        self.tempo = TraceQLEngine(self.span_source)

        # the oracle checks double as the warm pass: they compile and run
        # every facade path once
        t0 = time.perf_counter()
        for gate in FACADE_GATES:
            rec.check_call(f"oracle:{gate}", oracle.gate_matches, spark, fx, gate)
        t1 = time.perf_counter()
        # seed the cache: the first refresh misses and fills it; one warm
        # ad hoc query per language (a stream the timed loop never draws)
        for panel in self.dash.panel_order():
            self._panel(panel, 0)
        t2 = time.perf_counter()
        warm = inputs.adhoc_queries(-1 - self.seed)
        for _ in range(3):
            self._adhoc(next(warm))
        self.refresh = 1
        print(
            f"# serve setup: sources {t0 - t_src:.1f}s, oracle checks {t1 - t0:.1f}s, "
            f"cache-seeding refresh "
            f"{t2 - t1:.1f}s, warm ad hoc {time.perf_counter() - t2:.1f}s",
            file=sys.stderr,
        )

    # -- requests ----------------------------------------------------------

    def _panel(self, panel: inputs.Panel, refresh: int):
        start, end = self.dash.window(refresh)
        step = inputs.DASH_STEP_US
        if panel.kind == "prom_range":
            out = self.dash_prom.query_range(panel.query, start, end, step, now_us=end)
        elif panel.kind == "logql_range":
            out = self.dash_logs.query_range(panel.query, start, end, step, now_us=end)
        elif panel.kind == "prom_instant":
            out = self.dash_prom.query_instant(panel.query, end)
        elif panel.kind == "log_listing":
            out = self.dash_logs.query_range(
                panel.query, end - inputs.LISTING_WINDOW_US, end, step, limit=panel.limit
            )
        else:
            out = self.tempo.search(panel.query, limit=panel.limit)
        if panel.cached:
            self.cached_responses.append((panel, start, end, out))
        return out

    def _adhoc(self, q: inputs.AdhocQuery):
        if q.lang == "promql":
            return self.prom.query_range(q.query, q.start_us, q.end_us, q.step_us)
        if q.lang == "logql":
            return self.logs.query_range(q.query, q.start_us, q.end_us, q.step_us, limit=q.limit)
        return self.tempo.search(q.query, limit=q.limit)

    def run(self, rec: Recorder, seconds: float) -> None:
        for _ in range(units(seconds, REFRESH_S)):
            for panel in self.dash.panel_order():
                rec.call("repeat", f"panel:{panel.name}", self._panel, panel, self.refresh)
                for _ in range(ADHOC_PER_PANEL):
                    q = next(self.adhoc)
                    self.adhoc_done.append(q)
                    rec.call("fresh", f"adhoc:{q.lang}.{q.family}", self._adhoc, q)
            self.refresh += 1

    # -- checks ------------------------------------------------------------

    def check(self, rec: Recorder) -> None:
        by_panel: dict[str, list] = defaultdict(list)
        for panel, start, end, resp in self.cached_responses:
            by_panel[panel.name].append((panel, start, end, resp))
        for name, responses in by_panel.items():
            rec.check_call(f"cache:{name}", self._cache_check, responses)
        for q in self._referee_sample():
            rec.check_call(f"referee:{q.lang}.{q.family}", self._referee_check, q)

    def _cache_check(self, responses: list):
        """Every cached response equals the uncached engine's answer
        over the whole refreshed range, cut to that response's steps
        (a step depends only on its own trailing window)."""
        panel = responses[0][0]
        lo = min(r[1] for r in responses)
        hi = max(r[2] for r in responses)
        step = inputs.DASH_STEP_US
        if panel.kind == "prom_range":
            full = self.prom.query_range(panel.query, lo, hi, step)
        else:
            full = self.logs.query_range(panel.query, lo, hi, step)
        truth = oracle.matrix_points(full)
        for _, start, end, resp in responses:
            want = {
                sig: {t: v for t, v in pts.items() if start <= t <= end}
                for sig, pts in truth.items()
            }
            want = {sig: pts for sig, pts in want.items() if pts}
            got = oracle.matrix_points(resp)
            if got != want:
                return False, f"{panel.name} [{start}, {end}] differs from uncached"
        return True, ""

    def _referee_sample(self) -> list[inputs.AdhocQuery]:
        """One executed ad hoc query per language, picked by the seed
        (LogQL log listings carry a limit the referee does not model)."""
        r = inputs.rng(self.seed, "referee")
        out = []
        for lang in ("promql", "logql", "traceql"):
            pool = [q for q in self.adhoc_done if q.lang == lang and not q.is_log_listing]
            if pool:
                out.append(r.choice(pool))
        return out

    def _referee_check(self, q: inputs.AdhocQuery):
        if q.lang == "promql":
            return oracle.promql_referee(self, q)
        if q.lang == "logql":
            return oracle.logql_referee(self, q)
        return oracle.traceql_referee(self, q, inputs.rng(self.seed, "trace-sample"))

    # -- tracing -----------------------------------------------------------

    def trace_gates(self, rec: Recorder) -> None:
        """The registered facade gates as traced gate operations:
        builder call, then ``.count()``, as ``bench.py`` runs
        them."""
        from oteldb_spark.queries import QUERIES

        tracer = rec.tracer

        def gate(name: str) -> int:
            with tracer.span("gate.build"):
                df = QUERIES[name](self.spark, self.fx)
            with tracer.span("gate.exec"):
                return df.count()

        for name in FACADE_GATES:
            rec.call("gate", f"gate:{name}", gate, name)

    def install_tracing(self, tracer) -> None:
        import oteldb_spark.api.serializers as ser
        import oteldb_spark.engine as engine
        import oteldb_spark.logql.parser as lp
        import oteldb_spark.promql.parser as pp
        import oteldb_spark.traceql.parser as tp
        from oteldb_spark.plans.result_cache import StepResultCache

        for cls in (engine.LogQLEngine, engine.PromQLEngine):
            for meth in ("query_range", "query_instant"):
                tracer.wrap(cls, meth, f"engine:{cls.__name__}.{meth}")
        tracer.wrap(engine.TraceQLEngine, "search", "engine:TraceQLEngine.search")
        tracer.wrap(lp, "parse", "logql.parse")
        tracer.wrap(pp, "parse", "promql.parse")
        tracer.wrap(tp, "parse", "traceql.parse")
        tracer.wrap(engine, "compile_logql", "logql.compile")
        tracer.wrap(engine, "compile_promql", "promql.compile")
        tracer.wrap(engine, "compile_traceql", "traceql.compile")
        tracer.wrap(StepResultCache, "query_range", "result_cache")
        for fn in ("loki_matrix", "prom_matrix", "loki_streams", "tempo_search"):
            tracer.wrap(engine, fn, f"serializers.fold:{fn}")
        tracer.wrap(ser, "prom_vector", "serializers.fold:prom_vector")

        def rows(span, _args, _kwargs, out):
            span.attrs["serializers.rows"] = len(out)

        tracer.wrap(ser, "bounded_collect", "serializers.bounded_collect", rows)
        tracer.wrap_spark_actions()
        self._stats0 = [vars(c.stats).copy() for c in self.caches]

    def layer_extra(self) -> dict[str, float]:
        hits = partial = misses = 0
        for c, before in zip(self.caches, self._stats0):
            hits += c.stats.hits - before["hits"]
            partial += c.stats.partial_hits - before["partial_hits"]
            misses += c.stats.misses - before["misses"]
        lookups = hits + partial + misses
        files = size = 0
        for root, _dirs, names in os.walk(os.path.join(self.work, "cache")):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
        return {
            "result_cache.hits": hits,
            "result_cache.partial_hits": partial,
            "result_cache.misses": misses,
            "result_cache.hit_ratio": (hits + partial) / lookups if lookups else 0.0,
            "result_cache.files": files,
            "result_cache.bytes": size,
        }
