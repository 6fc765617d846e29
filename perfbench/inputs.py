"""Every generated input of the benchmark, drawn from one seed.

The seed picks the ad hoc query draws, the dashboard panel order and
start time, and the ingest payload bytes (series churn, values,
timestamps).  Each consumer draws from its own named stream (``rng(seed, "adhoc")``, ...), so adding draws to one
stream never shifts another.  String seeds go through SHA-512 in
``random.Random``, so the streams do not depend on ``PYTHONHASHSEED``.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

# the fixture month (2024-01, µs epochs) every query evaluates over
MONTH_START_US = 1_704_067_200_000_000
HOUR_US = 3_600_000_000
DAY_US = 24 * HOUR_US
MINUTE_US = 60_000_000

# the engine-side lookback the ad hoc PromQL engine and its referee share
PROM_LOOKBACK_US = 2 * HOUR_US


def rng(seed: int, stream: str) -> random.Random:
    return random.Random(f"perfbench:{seed}:{stream}")


# --------------------------------------------------------------------------
# serve: ad hoc queries
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class AdhocQuery:
    lang: str  # "logql" | "promql" | "traceql"
    family: str
    query: str
    start_us: int = 0
    end_us: int = 0
    step_us: int = 0
    limit: int | None = None

    @property
    def is_log_listing(self) -> bool:
        return self.family == "listing"


_RANGES = ["1h", "2h", "3h", "6h"]
_SPANS_H = [12, 24, 48]
_STEPS_H = [1, 2]
_MTYPES = ["signup", "error", "click", "view", "purchase"]


def _promql(family: str, r: random.Random, rng_: str) -> str:
    if family == "rate":
        return (
            f'sum by (mtype) (rate(events_counter_total{{instance="host-{r.randrange(10)}"}}'
            f"[{rng_}]))"
        )
    if family == "irate":
        return f'irate(events_value_total{{mtype="{r.choice(_MTYPES)}"}}[{rng_}])'
    if family == "over_time":
        fn = r.choice(["avg", "max", "min", "sum", "count"])
        a = r.randrange(0, 7)
        return (
            f'{fn}_over_time(events_gauge{{instance=~"host-[{a}-{a + r.randrange(1, 3)}]"}}'
            f"[{rng_}])"
        )
    if family == "topk":
        return (
            f"topk({r.randint(2, 4)}, sum by (instance) "
            f"(rate(events_value_total[{rng_}])))"
        )
    if family == "cmp":
        return (
            f"sum by (mtype) (rate(events_counter_total[{rng_}])) > "
            f"{r.randint(1, 40) / 1000:.3f}"
        )
    raise ValueError(family)


def _logql(family: str, r: random.Random, rng_: str) -> str:
    env = r.choice(["prod", "staging"])
    if family == "count":
        return (
            f'sum by (service) (count_over_time({{env="{env}"}} |= `"k": {r.randrange(1, 10)}`'
            f" [{rng_}]))"
        )
    if family == "rate_json":
        return (
            f'sum by (level) (rate({{service="svc-{r.randrange(8)}"}} | json | '
            f"k > {r.randrange(10, 90)} [{rng_}]))"
        )
    if family == "topk":
        return (
            f"topk({r.randint(2, 4)}, sum by (service) (count_over_time("
            f'{{env="{env}"}} | json | k >= {r.randrange(10, 90)} [{rng_}])))'
        )
    if family == "unwrap":
        return (
            f'max by (service) (max_over_time({{env="{env}"}} | json | unwrap k'
            f" [{rng_}]))"
        )
    if family == "cmp":
        lv = r.choice(["INFO", "ERROR", "DEBUG"])
        return (
            f'sum by (env) (count_over_time({{level="{lv}"}}[{rng_}])) > '
            f"{r.randrange(0, 20)}"
        )
    if family == "listing":
        return (
            f'{{service="svc-{r.randrange(8)}", env="{env}"}} |= `"k": {r.randrange(10, 100)}`'
        )
    raise ValueError(family)


# TraceQL duration thresholds: line spans last 0.9-105 ms, so a
# threshold in this band keeps about half of them.  A wider band lets
# the seed choose between an empty and a full result, which changes a
# search's cost several-fold at sf0.1 size.
_TRACE_MS = range(30, 50)


def _traceql(family: str, r: random.Random, _rng: str) -> str:
    ms = r.choice(_TRACE_MS)
    if family == "filter":
        return f'{{ duration > {ms}ms && resource.service.name = "svc-{r.randrange(4)}" }}'
    if family == "status":
        # only returned ("R") line items carry error status
        return f'{{ status = error && name = "line-R" && duration > {ms}ms }}'
    if family == "child":
        prio = r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
        return (
            f'{{ resource.service.name = "frontend" && name = "order-{prio}" }}'
            f" > {{ duration > {ms}ms }}"
        )
    if family == "desc":
        return (
            f'{{ status = error }} >> {{ resource.service.name = "svc-{r.randrange(4)}" '
            f"&& duration > {ms}ms }}"
        )
    raise ValueError(family)


FAMILIES = {
    "promql": ["rate", "irate", "over_time", "topk", "cmp"],
    "logql": ["count", "rate_json", "topk", "unwrap", "cmp", "listing"],
    "traceql": ["filter", "status", "child", "desc"],
}
_BUILD = {"promql": _promql, "logql": _logql, "traceql": _traceql}


def adhoc_queries(seed: int):
    """Endless stream of distinct ad hoc requests.  Languages rotate
    L, P, T; within a language the template family, the range window,
    the evaluated span and the step rotate too.  Every seed therefore
    runs the same mix of query shapes and sizes, and the seed picks
    only what does not change the cost: labels, thresholds and where in
    the month the query starts."""
    r = rng(seed, "adhoc")
    seen: set = set()
    turn = {lang: 0 for lang in FAMILIES}
    while True:
        for lang in ("logql", "promql", "traceql"):
            k = turn[lang]
            turn[lang] += 1
            family = FAMILIES[lang][k % len(FAMILIES[lang])]
            span_h = _SPANS_H[k % len(_SPANS_H)]
            step_h = _STEPS_H[k % len(_STEPS_H)]
            while True:
                q = _BUILD[lang](family, r, _RANGES[k % len(_RANGES)])
                if lang == "traceql":
                    spec = AdhocQuery(lang, family, q, limit=20)
                else:
                    start = MONTH_START_US + r.randrange(0, 27 * 24 - span_h) * HOUR_US
                    spec = AdhocQuery(
                        lang,
                        family,
                        q,
                        start,
                        start + span_h * HOUR_US,
                        step_h * HOUR_US,
                        limit=50 if family == "listing" else None,
                    )
                if spec not in seen:
                    seen.add(spec)
                    break
            yield spec


# --------------------------------------------------------------------------
# serve: dashboard panels
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Panel:
    name: str
    kind: str  # prom_range | logql_range | prom_instant | log_listing | tempo_search
    query: str
    limit: int | None = None

    @property
    def cached(self) -> bool:
        return self.kind in ("prom_range", "logql_range")


PANELS = [
    Panel("counter_rate", "prom_range", "sum by (mtype) (rate(events_counter_total[2h]))"),
    Panel(
        "top_instances",
        "prom_range",
        "topk(3, sum by (instance) (irate(events_value_total[2h])))",
    ),
    Panel("log_volume", "logql_range", 'sum by (level) (count_over_time({env="prod"}[2h]))'),
    Panel("gauge_now", "prom_instant", "sum by (mtype) (events_gauge)"),
    Panel("recent_logs", "log_listing", '{env="prod", service="svc-3"} |= `"k": 1`', limit=50),
    Panel(
        "error_traces",
        "tempo_search",
        '{ resource.service.name = "frontend" && status = error } >> { duration > 50ms }',
        limit=20,
    ),
]
DASH_STEP_US = HOUR_US
DASH_WINDOW_US = 2 * DAY_US
LISTING_WINDOW_US = 6 * HOUR_US


@dataclass
class Dashboard:
    """Refresh k evaluates every panel over the window ending at
    ``t0 + k * step``; ``now`` equals the window end, so each refresh
    moves the cache watermark by one step (a partial hit)."""

    seed: int
    t0_us: int = 0
    _rng: random.Random = field(init=False, repr=False)

    def __post_init__(self):
        self._rng = rng(self.seed, "dashboard")
        # on the hour grid, leaving room for the window and ~16 days of
        # refreshes inside the fixture month
        self.t0_us = MONTH_START_US + DASH_WINDOW_US + self._rng.randrange(0, 96) * HOUR_US

    def window(self, refresh: int) -> tuple[int, int]:
        end = self.t0_us + refresh * DASH_STEP_US
        return end - DASH_WINDOW_US, end

    def panel_order(self) -> list[Panel]:
        order = list(PANELS)
        self._rng.shuffle(order)
        return order


# --------------------------------------------------------------------------
# ingest_rw: PRW + OTLP payloads with series churn
# --------------------------------------------------------------------------

SCRAPE_MS = 15_000


def series_hash(name: str, labels: dict[str, str]) -> str:
    """The canonical series key ``sources.otlp.series_key`` computes
    in Spark (md5 of ``name;k=v,...`` over key-sorted labels),
    restated in Python for the registry check."""
    canon = name + ";" + ",".join(f"{k}={v}" for k, v in sorted(labels.items()))
    return hashlib.md5(canon.encode()).hexdigest()


@dataclass
class TickBatch:
    prw: list[bytes]
    otlp: list[bytes]
    points: list[tuple[str, str, int, float]]  # (name, series_hash, ts_ns, value)
    series: dict[str, tuple[str, dict]]  # series_hash -> (name, labels)


@dataclass
class IngestFeed:
    """A churning population of ``n_series`` active series, 60% sent
    over Prometheus remote write and 40% over OTLP.  Each tick every
    active series gets ``samples_per_tick`` points, and ``churn`` of the
    population is replaced by series never seen before."""

    seed: int
    n_series: int = 10_000
    samples_per_tick: int = 2
    churn: float = 0.03
    series_per_payload: int = 250
    tick: int = 0
    _rng: random.Random = field(init=False, repr=False)
    _active: list[int] = field(init=False, repr=False)
    _next_id: int = field(init=False, repr=False)
    _t0_ms: int = field(init=False, repr=False)

    def __post_init__(self):
        self._rng = rng(self.seed, "ingest")
        self._active = list(range(self.n_series))
        self._next_id = self.n_series
        self._t0_ms = (MONTH_START_US // 1000) + self._rng.randrange(0, 20 * 24) * 3_600_000

    def _labels(self, sid: int) -> tuple[str, dict[str, str], bool]:
        """Series identity: name + labels, and whether it is sent via
        PRW (True) or OTLP (False)."""
        via_prw = sid % 5 < 3
        name = f"app_requests_{sid % 23}_total" if via_prw else f"app.latency.{sid % 17}"
        labels = {
            "instance": f"host-{sid % 64}",
            "job": f"job-{sid % 7}",
            "sid": str(sid),
        }
        return name, labels, via_prw

    @property
    def t_start_ms(self) -> int:
        return self._t0_ms

    def next_batch(self) -> TickBatch:
        import oteldb_spark.sources.otlp_pb as pb
        import oteldb_spark.sources.prw as prw

        r = self._rng
        if self.tick > 0:
            n_new = max(1, int(self.churn * len(self._active)))
            for _ in range(n_new):
                self._active.pop(r.randrange(len(self._active)))
            self._active.extend(range(self._next_id, self._next_id + n_new))
            self._next_id += n_new
        base_ms = self._t0_ms + self.tick * self.samples_per_tick * SCRAPE_MS
        points: list[tuple[str, str, int, float]] = []
        series: dict[str, tuple[str, dict]] = {}
        prw_series: list[bytes] = []
        otlp_metrics: list[bytes] = []
        for sid in self._active:
            name, labels, via_prw = self._labels(sid)
            h = series_hash(name, labels)
            series[h] = (name, labels)
            samples = []
            for i in range(self.samples_per_tick):
                ts_ms = base_ms + i * SCRAPE_MS + r.randrange(0, 1000)
                value = float(r.randrange(0, 1_000_000)) / 100.0
                samples.append((value, ts_ms))
                points.append((name, h, ts_ms * 1_000_000, value))
            if via_prw:
                prw_series.append(
                    prw.encode_time_series({"__name__": name, **labels}, samples)
                )
            else:
                pts = [
                    pb.enc_number_point(time_ns=t * 1_000_000, value=v, attrs=labels)
                    for v, t in samples
                ]
                otlp_metrics.append(pb.enc_gauge_metric(name, "ms", pts))
        k = self.series_per_payload
        prw_payloads = [
            prw.encode_write_request(prw_series[i : i + k])
            for i in range(0, len(prw_series), k)
        ]
        otlp_payloads = [
            pb.enc_metrics_request({"service.name": "perfbench"}, otlp_metrics[i : i + k])
            for i in range(0, len(otlp_metrics), k)
        ]
        self.tick += 1
        return TickBatch(prw_payloads, otlp_payloads, points, series)
