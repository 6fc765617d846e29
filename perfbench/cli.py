"""Command line of the benchmark (``python3 perfbench/run.py``).

    --workload serve|ingest_rw
    --seed N        drives every generated input
    --seconds S     length of the timed region, as whole work units
    --trace 0|1     0: end-to-end metrics; 1: per-layer metrics

Run from the root of a checkout.  Everything the run writes goes under
``.perfbench_work/`` there: its own directory, removed at the end, and
the shared directory of what a serving deployment finds already
written (the fixture tables and the warehouse with the program's
span coordinate store), which the first run builds and later runs of
the same code reuse.  The last line of standard output is the JSON
result; the lines before it print each metric with its unit, the
correctness verdict and the session sizing.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("serve", "ingest_rw")


def _parse(argv):
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale",
        type=float,
        default=1.0,
        help="multiplier on fixture rows and ingest series (the smoke tests use 0.01)",
    )
    return ap.parse_args(argv)


def _workload_class(name: str):
    if name == "serve":
        from .serve import Serve

        return Serve
    from .ingest import Ingest

    return Ingest


def _stop_session(spark) -> None:
    """Stop the context and the py4j gateway, then close the gateway
    JVM's stdin (it exits on EOF, taking its Python workers with it)
    and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
        proc.kill()
        proc.wait(timeout=30)


def main(argv=None) -> int:
    args = _parse(argv)
    try:
        import oteldb_spark  # noqa: F401
        import tools.verify_oracles  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program under test is missing: {exc}", file=sys.stderr)
        return 2

    from . import host

    shared = _shared_dir()
    _sweep(shared)
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    os.makedirs(work)
    os.makedirs(shared, exist_ok=True)
    env = host.session_env(ROOT, work, os.path.join(shared, "warehouse"))
    os.environ.update(env)
    # the session's relative paths (the metastore, Spark's own files)
    # land in work
    os.chdir(work)
    try:
        return _run(args, work, shared, env)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run still owns a directory there


def _shared_dir() -> str:
    """The shared directory, keyed by the source of the program and of
    the fixture generator: a change to either starts from nothing."""
    h = hashlib.sha256()
    pattern = os.path.join(ROOT, "oteldb_spark", "**", "*.py")
    for path in sorted(glob.glob(pattern, recursive=True)) + [
        os.path.join(ROOT, "perfbench", "fixtures.py")
    ]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return os.path.join(WORK_ROOT, f"shared-{h.hexdigest()[:12]}")


def _sweep(shared: str) -> None:
    """Remove run directories left by killed runs and shared
    directories of other program versions."""
    if not os.path.isdir(WORK_ROOT):
        return
    for name in os.listdir(WORK_ROOT):
        path = os.path.join(WORK_ROOT, name)
        pid = name.removeprefix("run-")
        dead_run = pid.isdigit() and not os.path.exists(f"/proc/{pid}")
        if dead_run or (name.startswith("shared-") and path != shared):
            shutil.rmtree(path, ignore_errors=True)


def _run(args, work: str, shared: str, env: dict[str, str]) -> int:
    from oteldb_spark.session import get_spark

    from . import fixtures, host
    from .harness import Recorder, end_to_end, trace_overhead_pct

    cls = _workload_class(args.workload)
    t0 = time.perf_counter()
    events, orders = int(100_000 * args.scale), int(150_000 * args.scale)
    fixture_dir = os.path.join(shared, f"fixtures-{events}-{orders}")
    if cls.needs_fixtures:
        fixtures.ensure_fixtures(fixture_dir, events, orders)
    t_fx = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    try:
        t_session = time.perf_counter()
        wl = cls(spark, fixture_dir, work, args.seed, args.scale)
        rec = Recorder()
        wl.setup(rec)
        setup_s = time.perf_counter() - t0
        print(
            f"# setup: fixtures {t_fx - t0:.2f}s session {t_session - t_fx:.2f}s "
            f"workload {t0 + setup_s - t_session:.2f}s",
            file=sys.stderr,
        )

        calib0 = host.calib_ms(spark)
        host.reset_peak_rss(spark)
        if args.trace:
            from .tracing import Tracer

            wl.run(rec, args.seconds / 2)
            tracer = Tracer(spark)
            tracer.install_listener()
            wl.install_tracing(tracer)
            rec.tracer = tracer
            try:
                wl.run(rec, args.seconds / 2)
                wl.trace_gates(rec)
            finally:
                tracer.uninstall()
                rec.tracer = None
        else:
            wl.run(rec, args.seconds)
        calib1 = host.calib_ms(spark)
        rss_py, rss_jvm = host.peak_rss_mb(spark)
        t_timed = time.perf_counter()
        wl.check(rec)
        t_checked = time.perf_counter()

        if args.trace:
            from .layers import UNITS, layer_metrics

            extra = wl.layer_extra()
            extra["host.calib_ms"] = calib0
            extra["host.calib_end_ms"] = calib1
            extra["trace.overhead_pct"] = trace_overhead_pct(rec)
            values = layer_metrics(tracer, extra)
            metrics = {m: (values[m], UNITS[m]) for m in UNITS}
        else:
            metrics = end_to_end(rec, setup_s, rss_py + rss_jvm)
    finally:
        t_stop = time.perf_counter()
        _stop_session(spark)
    print(
        f"# phases: setup {setup_s:.1f}s timed {t_timed - t0 - setup_s:.1f}s "
        f"checks {t_checked - t_timed:.1f}s stop {time.perf_counter() - t_stop:.1f}s",
        file=sys.stderr,
    )
    for f in rec.failures:
        print(f"# FAILED {f}", file=sys.stderr)
    print(
        "# session: "
        + " ".join(
            f"{k}={env[k]}"
            for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS", "PYTHONPATH")
        )
    )
    print(f"# host.calib_ms: start {calib0:.2f} end {calib1:.2f}")
    print(f"# peak rss: python {rss_py:.0f} MB, driver JVM {rss_jvm:.0f} MB")
    for name, (value, unit) in metrics.items():
        print(f"# {args.workload} {name} = {value:.6g} {unit}")
    verdict = "correct" if rec.failed == 0 else f"{rec.failed} of {rec.attempted} failed"
    print(f"# verdict: {verdict}")
    print(
        json.dumps(
            {
                "correct": rec.failed == 0,
                "attempted": rec.attempted,
                "failed": rec.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0
