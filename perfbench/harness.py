"""Run loop shared by the workloads.

A workload supplies ``setup``, ``run`` (the timed closed loop), and
``check``.  The harness times set-up, brackets the run with the
machine-state control, records every client operation and turns the
records into the end-to-end metrics (untraced run) or the per-layer
metrics (traced run).

Each operation is timed from outside, from the call to the returned
result, and falls into one of two classes:

* ``repeat`` — a request the run has issued before (a dashboard panel
  refresh, the read after each ingest tick);
* ``fresh`` — a request first seen in this run (an ad hoc query, an
  ingest tick of new payload bytes).
"""

from __future__ import annotations

import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from . import stats


@dataclass
class Sample:
    cls: str  # "repeat" | "fresh"
    name: str
    ms: float
    ok: bool
    traced: bool


@dataclass
class Recorder:
    """Client-side operation log of one run."""

    tracer: object | None = None
    samples: list[Sample] = field(default_factory=list)
    check_attempted: int = 0
    check_failed: int = 0
    failures: list[str] = field(default_factory=list)

    def call(self, cls: str, name: str, fn, *args, **kwargs):
        """Time ``fn(*args, **kwargs)``; an exception is a failed
        operation (reported, not raised).  Returns the result or None."""
        tracer = self.tracer
        ok, out = True, None
        t0 = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.op(cls, name) as rec:
                    t_in = time.perf_counter()
                    out = fn(*args, **kwargs)
                    rec.client_ms = (time.perf_counter() - t_in) * 1000.0
            else:
                out = fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 — one failed request must not end the run
            ok = False
            self.failures.append(f"{cls}:{name}: {traceback.format_exc(limit=3)}")
        ms = (time.perf_counter() - t0) * 1000.0
        if tracer is not None and ok:
            ms = tracer.ops[-1].client_ms
        self.samples.append(Sample(cls, name, ms, ok, tracer is not None))
        return out

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.check_attempted += 1
        if not ok:
            self.check_failed += 1
            self.failures.append(f"check:{name}: {detail}")

    def check_call(self, name: str, fn, *args) -> None:
        """Run a check function that returns (ok, detail); an exception
        is a failed check."""
        t0 = time.perf_counter()
        try:
            ok, detail = fn(*args)
        except Exception:  # noqa: BLE001 — a crashing check is a failed check
            ok, detail = False, traceback.format_exc(limit=3)
        print(f"# check {name}: {time.perf_counter() - t0:.1f}s", file=sys.stderr)
        self.check(name, ok, detail)

    @property
    def attempted(self) -> int:
        return len(self.samples) + self.check_attempted

    @property
    def failed(self) -> int:
        return sum(1 for s in self.samples if not s.ok) + self.check_failed

    def latencies(self, cls: str | None = None, traced: bool = False) -> list[float]:
        return [
            s.ms
            for s in self.samples
            if s.ok and s.traced == traced and (cls is None or s.cls == cls)
        ]


def units(seconds: float, unit_s: float) -> int:
    """Whole work units (a dashboard refresh, an ingest tick) that fill
    ``seconds`` at the nominal unit length measured on a 4-core host;
    at least one.  A fixed count per run length, rather than a
    deadline checked between units, gives every run the same mix of
    requests on any machine."""
    return max(1, int(seconds // unit_s))


def end_to_end(rec: Recorder, setup_s: float, peak_rss_mb: float) -> dict[str, tuple[float, str]]:
    """The end-to-end metrics of an untraced run.  Latency is the mean
    per class: a run holds each dashboard panel once and a fixed mix of
    ad hoc templates, and over those few, unlike calls the median jumps
    between neighbouring panels (it spread twice as wide as the mean
    over the same runs)."""
    rep = rec.latencies("repeat")
    fresh = rec.latencies("fresh")
    for cls in ("repeat", "fresh"):
        calls = [f"{s.name}={s.ms:.0f}" for s in rec.samples if s.ok and s.cls == cls]
        print(f"# {cls} ms: " + " ".join(calls), file=sys.stderr)
    both = rec.latencies()
    p, tail_ms = stats.tail(both)
    print(f"# tail of all {len(both)} calls: p{p} = {tail_ms:.1f} ms")
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "success_rate": (1.0 - rec.failed / max(rec.attempted, 1), "ratio"),
        "repeat_mean_ms": (statistics.fmean(rep), "ms"),
        "fresh_mean_ms": (statistics.fmean(fresh), "ms"),
    }


def trace_overhead_pct(rec: Recorder) -> float:
    """Traced against untraced: mean over the classes present in both
    halves of the traced run of (traced median / untraced median - 1)."""
    ratios = []
    for cls in ("repeat", "fresh"):
        plain, traced = rec.latencies(cls, False), rec.latencies(cls, True)
        if plain and traced:
            ratios.append(stats.median(traced) / stats.median(plain) - 1.0)
    return 100.0 * sum(ratios) / len(ratios) if ratios else 0.0
