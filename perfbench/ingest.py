"""``ingest_rw``: ticks of remote-write and OTLP ingest, each followed
by a read of the store written so far.

Every tick lands a seeded batch of PRW WriteRequests and OTLP
ExportMetricsServiceRequests as files (untimed, the client's side),
then drains each protocol with one ``availableNow`` micro-batch through
the public ingest functions — ``prw_points`` / ``pb_metrics`` decode,
``series_key`` flatten, ``upsert_series_registry`` (the registry
MERGE) and a date-partitioned parquet append: the shape of
``tools/bench_ingest.measure_prw_e2e``.  The timed tick (``fresh``) is
both drains; the read after it (``repeat``) is one PromQL
``query_range`` over the store through a ``MetricSource`` adapter that
joins the points with the registry's labels.

Checks: the store's rows equal the generated points and the
registry's series equal the generated distinct series.
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import nullcontext

from . import inputs
from .harness import Recorder, units

BINARY_SCHEMA = "path string, modificationTime timestamp, length long, content binary"
STORE_COLS = ["name", "series_hash", "ts_ns", "value", "date"]
READ_LOOKBACK_US = 2 * inputs.MINUTE_US
READ_STEP_US = 15_000_000
# one tick (both drains) plus its read: ~7 s on a 4-core host
TICK_S = 7.0
# the first tick starts the workers and the stream machinery and
# creates the registry; the second, the first MERGE into an existing
# registry, still runs 10-25% slow by a varying amount
WARM_TICKS = 2


class Ingest:
    name = "ingest_rw"
    needs_fixtures = False

    def __init__(self, spark, fixture_dir: str, work_dir: str, seed: int, scale: float):
        self.spark = spark
        self.seed = seed
        self.feed = inputs.IngestFeed(seed, n_series=max(50, int(10_000 * scale)))
        self.dirs = {
            k: os.path.join(work_dir, "ingest", k)
            for k in ("in_prw", "in_otlp", "ckpt_prw", "ckpt_otlp", "store", "registry")
        }
        self.points: list[tuple] = []
        self.series: set[str] = set()
        self.metric = f"app_requests_{inputs.rng(seed, 'read').randrange(23)}_total"
        self.end_us = 0
        self.tracer = None
        self._batch: inputs.TickBatch | None = None
        self._drain_series = 0

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer is not None else nullcontext()

    # -- streams -----------------------------------------------------------

    def _flat(self, proto: str):
        from pyspark.sql import functions as F

        import oteldb_spark.sources.otlp_pb as pb
        import oteldb_spark.sources.prw as prw
        from oteldb_spark.sources.otlp import series_key

        raw = (
            self.spark.readStream.format("binaryFile")
            .schema(BINARY_SCHEMA)
            .option("pathGlobFilter", "*.bin")
            .load(self.dirs[f"in_{proto}"])
        )
        payload = raw.select(F.col("content").alias("payload"))
        if proto == "prw":
            return prw.prw_points(payload).select(
                "name",
                "labels",
                (F.col("ts_ms") * 1_000_000).alias("ts_ns"),
                "value",
                F.to_date(F.timestamp_millis(F.col("ts_ms"))).alias("date"),
            ).withColumn("series_hash", series_key(F.col("name"), F.col("labels")))
        return pb.pb_metrics(payload).select(
            "name",
            "labels",
            "ts_ns",
            "value",
            "series_hash",
            F.to_date(F.timestamp_millis((F.col("ts_ns") / 1_000_000).cast("long"))).alias("date"),
        )

    def _sink(self, proto: str):
        import oteldb_spark.streaming.ingest as ingest

        decoder = "prw" if proto == "prw" else "otlp_pb"

        def sink(batch, _batch_id):
            # two actions (MERGE, append): persist so decode runs once
            batch.persist()
            try:
                with self.span("ingest.sink"):
                    if self.tracer is not None:
                        # traced runs materialize the persisted batch in
                        # its own action so the decode shows as a span;
                        # the MERGE and append then read the cache
                        with self.span(f"{decoder}.decode"):
                            batch.count()
                    ingest.upsert_series_registry(
                        self.spark,
                        batch.select("series_hash", "name", "labels", "ts_ns"),
                        self.dirs["registry"],
                    )
                    with self.span("store.append"):
                        batch.select(*STORE_COLS).write.mode("append").partitionBy(
                            "date"
                        ).parquet(self.dirs["store"])
            finally:
                batch.unpersist(blocking=False)

        return sink

    def _drain(self, proto: str, series: int, wire_bytes: int) -> None:
        self._drain_series = series
        attrs = {
            "ingest.points": series * self.feed.samples_per_tick,
            "ingest.wire_bytes": wire_bytes,
        }
        with self.span(f"stream.drain:{proto}", **attrs):
            q = (
                self.flats[proto]
                .writeStream.foreachBatch(self._sink(proto))
                .option("checkpointLocation", self.dirs[f"ckpt_{proto}"])
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    # -- ticks -------------------------------------------------------------

    def _land(self, batch: inputs.TickBatch) -> None:
        tick = self.feed.tick
        for proto, payloads in (("prw", batch.prw), ("otlp", batch.otlp)):
            d = self.dirs[f"in_{proto}"]
            for i, body in enumerate(payloads):
                name = f"t{tick:05d}-{i:04d}"
                tmp = os.path.join(d, f".{name}.tmp")
                with open(tmp, "wb") as f:
                    f.write(body)
                # rename: a file is visible to the stream only when whole
                os.replace(tmp, os.path.join(d, f"{name}.bin"))
        self.points.extend(batch.points)
        self.series.update(batch.series)
        self._batch = batch
        last_ms = max(p[2] for p in batch.points) // 1_000_000
        self.end_us = (last_ms // (READ_STEP_US // 1000)) * READ_STEP_US

    def _tick(self) -> None:
        b = self._batch
        n_prw = sum(1 for name, _labels in b.series.values() if name.startswith("app_requests"))
        self._drain("prw", n_prw, sum(map(len, b.prw)))
        self._drain("otlp", len(b.series) - n_prw, sum(map(len, b.otlp)))

    def _read(self) -> dict:
        """PromQL over the store written so far: points joined with the
        registry's labels, one value column for the read metric."""
        from pyspark.sql import functions as F

        from oteldb_spark.engine import PromQLEngine
        from oteldb_spark.promql import MetricSource

        spark = self.spark
        with self.span("store.read"):
            # lists the store's and the registry's files
            pts = spark.read.parquet(self.dirs["store"]).where(F.col("name") == self.metric)
            reg = spark.read.parquet(self.dirs["registry"]).select(
                "series_hash",
                F.col("labels")["job"].alias("job"),
                F.col("labels")["instance"].alias("instance"),
            )
        df = pts.join(reg, "series_hash").select(
            "job", "instance", F.expr("ts_ns div 1000").alias("ts_us"), "value"
        )
        eng = PromQLEngine(
            MetricSource(df=df, metrics={self.metric: "value"}, label_cols=["job", "instance"]),
            lookback_us=READ_LOOKBACK_US,
        )
        start = self.feed.t_start_ms * 1000
        return eng.query_range(
            f"sum by (job) (rate({self.metric}[1m]))", start, self.end_us, READ_STEP_US
        )

    # -- workload protocol ---------------------------------------------------

    def setup(self, rec: Recorder) -> None:
        for d in self.dirs.values():
            os.makedirs(d, exist_ok=True)
        self.flats = {p: self._flat(p) for p in ("prw", "otlp")}
        for _ in range(WARM_TICKS):
            self._land(self.feed.next_batch())
            t0 = time.perf_counter()
            self._tick()
            print(f"# ingest warm tick {time.perf_counter() - t0:.1f}s", file=sys.stderr)
        # one warm read, over the store the warm ticks wrote
        t0 = time.perf_counter()
        self._read()
        print(f"# ingest warm read {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    def run(self, rec: Recorder, seconds: float) -> None:
        for _ in range(units(seconds, TICK_S)):
            batch = self.feed.next_batch()
            self._land(batch)
            rec.call("fresh", "ingest:tick", self._tick)
            rec.call("repeat", "read:after_write", self._read)

    def check(self, rec: Recorder) -> None:
        rec.check_call("store_rows", self._store_check)
        rec.check_call("registry_series", self._registry_check)

    def _store_check(self):
        t = _read_parquet_dir(self.dirs["store"], ["name", "series_hash", "ts_ns", "value"])
        got = sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))
        want = sorted(self.points)
        if got != want:
            return False, f"store has {len(got)} rows, generated {len(want)} points"
        return True, ""

    def _registry_check(self):
        got = _read_parquet_dir(self.dirs["registry"], ["series_hash"]).column("series_hash")
        got = got.to_pylist()
        if len(got) != len(set(got)) or set(got) != self.series:
            return False, f"registry has {len(got)} rows, generated {len(self.series)} series"
        return True, ""

    # -- tracing -----------------------------------------------------------

    def trace_gates(self, rec: Recorder) -> None:
        """No registered gate drives the ingest path."""

    def install_tracing(self, tracer) -> None:
        import oteldb_spark.api.serializers as ser
        import oteldb_spark.engine as engine
        import oteldb_spark.promql.parser as pp
        import oteldb_spark.streaming.ingest as ingest

        self.tracer = tracer
        tracer.wrap(engine.PromQLEngine, "query_range", "engine:PromQLEngine.query_range")
        tracer.wrap(pp, "parse", "promql.parse")
        tracer.wrap(engine, "compile_promql", "promql.compile")
        tracer.wrap(engine, "prom_matrix", "serializers.fold:prom_matrix")

        def rows(span, _args, _kwargs, out):
            span.attrs["serializers.rows"] = len(out)

        tracer.wrap(ser, "bounded_collect", "serializers.bounded_collect", rows)
        tracer.wrap(ingest, "upsert_series_registry", "registry.merge")

        def touched(span, args, _kwargs, out):
            import pyarrow.parquet as pq

            rows = sum(
                pq.ParquetFile(f).metadata.num_rows
                for k in out
                for f in _parquet_files(os.path.join(args[2], f"__bucket={k}"))
            )
            span.attrs["registry.buckets_touched"] = len(out)
            span.attrs["rewritten_rows"] = rows
            span.attrs["batch_series"] = self._drain_series

        tracer.wrap(ingest, "merge_upsert", "registry.merge_upsert", touched)
        tracer.wrap_spark_actions()

    def layer_extra(self) -> dict[str, float]:
        store = _parquet_files(self.dirs["store"])
        size = sum(os.path.getsize(f) for f in store)
        return {
            "registry.series": _read_parquet_dir(self.dirs["registry"], ["series_hash"]).num_rows,
            "store.files": len(store),
            "store.bytes_per_point": size / max(len(self.points), 1),
        }


def _parquet_files(root: str) -> list[str]:
    """Data files of a Spark-written parquet directory (partition
    directories such as ``__bucket=3`` included, markers excluded)."""
    return sorted(
        os.path.join(d, n)
        for d, _dirs, names in os.walk(root)
        for n in names
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    )


def _read_parquet_dir(root: str, columns: list[str]):
    import pyarrow as pa
    import pyarrow.parquet as pq

    return pa.concat_tables(pq.read_table(f, columns=columns) for f in _parquet_files(root))
