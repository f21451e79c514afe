"""The four workloads.  Each stages its inputs through the load
generator, warms up untimed, then measures for ``ctx.seconds`` and
returns the end-to-end metrics; ``layers`` and ``probes`` add what only
the traced run measures.  Every unit of timed work is checked against a DuckDB
reference computation in the same run (``ctx.check``).

End-to-end metrics every workload returns:

- ``rows_per_s``: drains, backlog rows / drain wall time, median over
  the run's drains; open loop, rows / (first row created -> the sink
  return covering the last row); batch queries, staged rows / wall time
  of a pass over the 17 queries, median over passes.
- ``latency_p50_ms`` / ``latency_p90_ms``: per input row, from the
  moment the row was available to the sink write return of the batch
  that consumed it (drains: query start; open loop: the generator's
  ``created_ms``); per query execution for the batch queries.
"""

from __future__ import annotations

import os
import subprocess
import time
from statistics import median

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from confluent_kafka_streams_examples_spark.examples import (
    aggregation_pipeline,
    basic_stream_pipeline,
    joins_pipeline,
    processor_pipeline,
)
from confluent_kafka_streams_examples_spark.functions.json_serde import deserialize_json
from confluent_kafka_streams_examples_spark.queries import ORACLES, QUERIES
from confluent_kafka_streams_examples_spark.session import release_caches
from confluent_kafka_streams_examples_spark.sources.files import file_stream
from perfbench import checks
from perfbench.harness import (
    Ctx,
    StreamRun,
    drain,
    file_batches,
    TimedSink,
    merge_progress,
    progress_layers,
    read_manifest,
    reason,
    start_query,
    weighted_percentile,
)
from perfbench.loadgen import T0_US


def _latency(ctx: Ctx, samples: list[tuple[float, int]]) -> dict[str, float]:
    ctx.notes["latency_samples"] = sum(w for _, w in samples)
    ctx.notes["latency_batches"] = len(samples)
    return {"latency_p50_ms": weighted_percentile(samples, 0.5) * 1000.0,
            "latency_p90_ms": weighted_percentile(samples, 0.9) * 1000.0}


class Window:
    """The measuring window: units of work run back to back while one
    more, as long as the longest so far, still ends inside ``seconds``;
    at least one runs."""

    def __init__(self, seconds: float) -> None:
        self.end = time.perf_counter() + seconds
        self.last: float | None = None
        self.longest = 0.0

    def more(self) -> bool:
        now = time.perf_counter()
        if self.last is not None:
            self.longest = max(self.longest, now - self.last)
        first, self.last = self.last is None, now
        return first or now + self.longest <= self.end


class Workload:
    """Stages inputs and warms up (``prepare``), measures one window
    (``measure``), then, in the traced run only, reads the layer metrics
    of the last window (``layers``) and runs extra probes (``probes``)."""

    name: str

    def prepare(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def measure(self, ctx: Ctx) -> dict[str, float]:
        raise NotImplementedError

    def layers(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def probes(self, ctx: Ctx, e2e: dict[str, float]) -> None:
        """None by default."""


class Drains(Workload):
    """A closed loop of backlog drains: each drain is a new query with
    a fresh checkpoint over the same staged files."""

    #: untimed drains first: throughput still climbs over the first few
    #: drains of a fresh JVM while the JIT compiles the hot paths
    WARM_DRAINS = 4

    def stream(self, spark):
        """(streaming DataFrame, foreachBatch function, output mode)."""
        raise NotImplementedError

    def verify(self, ctx: Ctx, run: StreamRun) -> None:
        raise NotImplementedError

    def run_drain(self, ctx: Ctx) -> StreamRun:
        run = drain(ctx, *self.stream(ctx.spark))
        ok = run.error is None and run.rows == self.rows
        if ctx.check(ok, f"{self.name}: drain error={run.error} rows={run.rows}/{self.rows}"):
            self.verify(ctx, run)
        return run

    def warm(self, ctx: Ctx) -> None:
        for _ in range(self.WARM_DRAINS):
            self.run_drain(ctx)

    def measure(self, ctx: Ctx) -> dict[str, float]:
        runs: list[StreamRun] = []
        gc0 = ctx.gc_seconds()
        window = Window(ctx.seconds)
        while window.more():
            runs.append(self.run_drain(ctx))
        self.last_runs = runs
        self.gc_s = ctx.gc_seconds() - gc0
        samples = [s for r in runs for s in r.batch_latencies()]
        ctx.notes["unit_rows_per_s"] = [r.rows / r.wall for r in runs]
        return {"rows_per_s": median(r.rows / r.wall for r in runs), **_latency(ctx, samples)}

    def layers(self, ctx: Ctx) -> None:
        ctx.layers.update(progress_layers([p for r in self.last_runs for p in r.progress]))
        ctx.layers["session.jvm_gc_s"] = self.gc_s
        ctx.layers["streaming.sink_ms"] = median(
            (t1 - t0) * 1000.0 for r in self.last_runs for t0, t1 in r.sink.values())

    def probes(self, ctx: Ctx, e2e: dict[str, float]) -> None:
        """Single-core baseline of the same drain, in a new local[1]
        context; it ends the run's use of the full session."""
        ctx.restart_session(1)
        self.run_drain(ctx)
        one = self.run_drain(ctx)
        ctx.layers["session.scaling_x"] = e2e["rows_per_s"] / (one.rows / one.wall)


class JsonAggDrain(Drains):
    """Kafka-shaped JSON orders: file source -> deserialize_json ->
    basic_stream_pipeline -> aggregation_pipeline (update mode)."""

    name = "json_agg_drain"
    ROWS, FILES, FILES_PER_TRIGGER, KEYS = 120_000, 12, 4, 1000
    PAYLOAD = StructType([StructField("order_id", StringType()),
                          StructField("user_id", LongType()),
                          StructField("price", DoubleType())])
    SOURCE = StructType([StructField("key", StringType()), StructField("value", StringType()),
                         StructField("created_ms", LongType())])

    def prepare(self, ctx: Ctx) -> None:
        self.backlog = ctx.new_dir("orders")
        manifest = ctx.stage("orders-json", self.backlog, "--rows", str(self.ROWS),
                             "--files", str(self.FILES), "--keys", str(self.KEYS))
        self.rows = sum(m["rows"] for m in manifest)
        self.malformed = sum(m["malformed"] for m in manifest)
        self.expected = checks.json_agg_totals(self.backlog)
        self.warm(ctx)

    def source(self, spark):

        return file_stream(spark, self.backlog, self.SOURCE,
                           max_files_per_trigger=self.FILES_PER_TRIGGER)

    def stream(self, spark):

        typed = deserialize_json(self.source(spark), "value", self.PAYLOAD, keep_cols=("key",))
        out = aggregation_pipeline(basic_stream_pipeline(typed, "order_id"), "key", "price")
        totals: dict[str, float] = {}

        def sink(df, batch_id):
            for key, total in df.collect():
                totals[key] = total

        self.totals = totals
        return out, sink, "update"

    def verify(self, ctx: Ctx, run: StreamRun) -> None:
        got, want = self.totals, self.expected
        ok = got.keys() == want.keys() and all(checks.close(got[k], want[k]) for k in want)
        ctx.check(ok, f"{self.name}: per-key totals differ from DuckDB ({len(got)}/{len(want)} keys)")

    def probes(self, ctx: Ctx, e2e: dict[str, float]) -> None:
        """Prefix drains: the same backlog through the source only, then
        + deserialize_json, then + basic_stream_pipeline."""

        counted: dict[str, int] = {}

        def counting(stage, checksum):
            def sink(df, batch_id):
                n, _ = df.agg(F.count(F.lit(1)), F.sum(checksum)).first()
                counted[stage] = counted.get(stage, 0) + n
            return sink

        src = self.source(ctx.spark)
        typed = deserialize_json(src, "value", self.PAYLOAD, keep_cols=("key",))
        prefixes = {
            "source": (src, F.length("value")),
            "serde": (typed, F.col("price")),
            "stateless": (basic_stream_pipeline(typed, "order_id"), F.col("order_number")),
        }
        busy: dict[str, float] = {}
        for stage, (df, checksum) in prefixes.items():
            times = []
            for _ in range(2):
                counted[stage] = 0
                run = drain(ctx, df, counting(stage, checksum), "append")
                ctx.check(run.error is None and run.rows == self.rows,
                          f"{self.name}: prefix drain {stage} error={run.error}")
                # time executing the prefix's plan: its batches' sink calls
                times.append(sum(t1 - t0 for t0, t1 in run.sink.values()))
            busy[stage] = min(times)
        ctx.layers["functions.serde_s"] = busy["serde"] - busy["source"]
        ctx.layers["operators.stateless_s"] = busy["stateless"] - busy["serde"]
        dropped = counted["source"] - counted["serde"]
        ctx.layers["functions.malformed_dropped"] = float(dropped)
        ctx.check(dropped == self.malformed,
                  f"{self.name}: serde dropped {dropped} rows, generator wrote {self.malformed} malformed")
        super().probes(ctx, e2e)


class WindowJoinDrain(Drains):
    """Two typed streams, +-5 s inner join (joins_pipeline)."""

    name = "window_join_drain"
    RATE, FILES, FILES_PER_TRIGGER, KEYS, WINDOW_S = 10_000, 12, 2, 10_000, 5
    SIDE = StructType([StructField("user_id", StringType()), StructField("order_id", LongType()),
                       StructField("ts", TimestampType()), StructField("created_ms", LongType())])

    def prepare(self, ctx: Ctx) -> None:
        self.base = ctx.new_dir("join")
        manifest = ctx.stage("join-streams", self.base, "--rate", str(self.RATE),
                             "--files", str(self.FILES), "--keys", str(self.KEYS))
        self.rows = sum(m["rows"] for m in manifest)
        self.expected = checks.join_checksum(
            os.path.join(self.base, "left"), os.path.join(self.base, "right"), self.WINDOW_S)
        self.warm(ctx)

    def stream(self, spark):

        left, right = (file_stream(spark, os.path.join(self.base, side), self.SIDE,
                                   max_files_per_trigger=self.FILES_PER_TRIGGER)
                       for side in ("left", "right"))
        out = joins_pipeline(left, right, window_seconds=self.WINDOW_S)
        acc = [0, 0, 0, 0]

        def sink(df, batch_id):
            row = df.agg(F.count(F.lit(1)), F.sum("appliance_order_id"),
                         F.sum("electronic_order_id"),
                         F.sum(F.unix_micros("time") - F.lit(T0_US))).first()
            for i, v in enumerate(row):
                acc[i] += int(v or 0)

        self.acc = acc
        return out, sink, "append"

    def verify(self, ctx: Ctx, run: StreamRun) -> None:
        dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                      for p in run.progress for op in p.get("stateOperators", []))
        ctx.check(tuple(self.acc) == self.expected and dropped == 0,
                  f"{self.name}: join checksum {tuple(self.acc)} != {self.expected}, "
                  f"{dropped} rows dropped by watermark")


class ProcessorOpenLoop(Workload):
    """Typed orders arriving on a fixed schedule (one file every 100 ms)
    into processor_pipeline, the per-key running total."""

    name = "processor_openloop"
    RATE, INTERVAL_MS, KEYS = 2000, 100, 200
    SOURCE = StructType([StructField("key", StringType()), StructField("price", DoubleType()),
                         StructField("created_ms", LongType())])

    def prepare(self, ctx: Ctx) -> None:
        self.open_loop(ctx, 1)

    def open_loop(self, ctx: Ctx, seconds: int) -> dict[str, float]:

        inbox = ctx.new_dir("inbox")
        totals: dict[str, tuple[float, int]] = {}

        def collect(df, batch_id):
            for key, total, n in df.collect():
                totals[key] = (total, n)

        sink = TimedSink(collect)
        seen: dict[int, dict] = {}
        with ctx.tracer.span("open_loop") as sid:
            with ctx.tracer.span("query_start"):
                q, ckpt = start_query(
                    ctx, processor_pipeline(file_stream(ctx.spark, inbox, self.SOURCE), "key", "price"),
                    sink, "update")
            deadline = time.monotonic() + 60
            while q.status["message"] != "Waiting for data to arrive" and time.monotonic() < deadline:
                time.sleep(0.02)
            manifest_path = inbox + ".manifest.jsonl"
            gen = subprocess.Popen(ctx.loadgen_cmd(
                "openloop", inbox, manifest_path, "--rate", str(self.RATE),
                "--interval-ms", str(self.INTERVAL_MS), "--seconds", str(seconds),
                "--keys", str(self.KEYS)))
            error = None
            try:
                while gen.poll() is None:
                    merge_progress(q, seen)
                    time.sleep(0.5)
                # every generated row must reach the sink before the stop
                q.processAllAvailable()
            except Exception as exc:  # the query failed: count it, keep running
                error = reason(exc)
            finally:
                if gen.poll() is None:
                    gen.kill()
                gen.wait()
            merge_progress(q, seen)
            stopped = time.time()
            q.stop()
        files = read_manifest(manifest_path)
        progress = [seen[b] for b in sorted(seen)]
        for p in progress:
            ctx.tracer.add_progress(p, sid, sink.times)
        rows = sum(f["rows"] for f in files)
        got_rows = sum(p["numInputRows"] for p in progress)
        ok = gen.returncode == 0 and error is None and got_rows == rows
        if ctx.check(ok, f"{self.name}: error={error} rows {got_rows}/{rows}"):
            want = checks.running_totals([f["file"] for f in files])
            ok = totals.keys() == want.keys() and all(
                checks.close(totals[k][0], want[k][0]) and totals[k][1] == want[k][1] for k in want)
            ctx.check(ok, f"{self.name}: running totals differ from DuckDB")
        # when the sink returned each file's rows; a file never read
        # (a failed run) counts as done when the query stopped
        batch_of = file_batches(ckpt)
        done = [sink.times[batch_of[b]][1] if batch_of.get(b) in sink.times else stopped
                for b in (os.path.basename(f["file"]) for f in files)]
        samples = [(t - f["created_ms"] / 1000.0, f["rows"]) for f, t in zip(files, done)]
        self.run_layers = {
            **progress_layers(progress),
            "streaming.sink_ms": median((t1 - t0) * 1000.0 for t0, t1 in sink.times.values()),
            "streaming.catchup_s": done[-1] - files[-1]["due_ms"] / 1000.0,
            "loadgen.late_p99_ms": weighted_percentile(
                [(f["created_ms"] - f["due_ms"], 1) for f in files], 0.99),
        }
        # achieved throughput: first row created -> last row's result
        span = done[-1] - files[0]["created_ms"] / 1000.0
        return {"rows_per_s": rows / span, **_latency(ctx, samples)}

    def measure(self, ctx: Ctx) -> dict[str, float]:
        return self.open_loop(ctx, int(ctx.seconds))

    def layers(self, ctx: Ctx) -> None:
        ctx.layers.update(self.run_layers)


class ParityBatch(Workload):
    """The 17 reference-parity queries of ``queries.py`` to the noop sink."""

    name = "parity_batch"
    SCALE = 0.01
    QUERIES = (
        "basic_pipeline", "json_props_extract", "kafka_wire_roundtrip", "ktable_latest",
        "ktable_filter_extract", "stream_table_join", "stream_stream_window_join",
        "stream_stream_left_join", "stream_stream_outer_join", "agg_running_total",
        "agg_pricing_summary", "regional_revenue", "windowed_tumbling", "windowed_hopping",
        "windowed_session", "topk_per_key", "events_json_analytics",
    )
    TABLES = ("region", "nation", "customer", "orders", "lineitem", "events")
    WARM_PASSES = 2

    def prepare(self, ctx: Ctx) -> None:

        self.dir = ctx.new_dir("tables")
        manifest = ctx.stage("tables", self.dir, "--scale", str(self.SCALE))
        self.rows = sum(m["rows"] for m in manifest)
        # the first, cold pass is the correctness pass: untimed
        for name in self.QUERIES:
            try:
                df = QUERIES[name](ctx.spark, self.dir)
                cols, rows = list(df.columns), [tuple(r) for r in df.collect()]
                o_cols, o_rows = checks.oracle_rows(self.dir, self.TABLES, ORACLES[name])
                why = checks.same_rowset(cols, rows, o_cols, o_rows)
            except Exception as exc:  # a failing query is counted, not fatal
                why = reason(exc)
            finally:
                release_caches(ctx.spark)
            ctx.check(why is None, f"{self.name}: {name} vs oracle: {why}")
        # more untimed passes: pass times still fall over the first few
        for _ in range(self.WARM_PASSES):
            self.run_pass(ctx)

    def run_pass(self, ctx: Ctx) -> dict[str, tuple[float, float]]:
        """Every query to the noop sink: name -> (build s, build + execute s)
        of the queries that ran without an exception."""

        times: dict[str, tuple[float, float]] = {}
        with ctx.tracer.span("pass"):
            for name in self.QUERIES:
                with ctx.tracer.span("query"):
                    t0 = t1 = time.perf_counter()
                    error = None
                    try:
                        with ctx.tracer.span("build"):
                            df = QUERIES[name](ctx.spark, self.dir)
                        t1 = time.perf_counter()
                        with ctx.tracer.span("execute"):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as exc:  # counted as a failed query
                        error = reason(exc)
                    finally:
                        release_caches(ctx.spark)
                    t2 = time.perf_counter()
                if ctx.check(error is None, f"{self.name}: {name} raised {error}"):
                    times[name] = (t1 - t0, t2 - t0)
        return times

    def measure(self, ctx: Ctx) -> dict[str, float]:
        passes: list[dict[str, tuple[float, float]]] = []
        gc0 = ctx.gc_seconds()
        window = Window(ctx.seconds)
        while window.more():
            passes.append(self.run_pass(ctx))
        self.gc_s = ctx.gc_seconds() - gc0
        self.passes = passes
        pass_s = [sum(t for _, t in p.values()) for p in passes]
        samples = [(t, 1) for p in passes for _, t in p.values()]
        self.pass_s = median(pass_s)
        ctx.notes["unit_pass_s"] = pass_s
        return {"rows_per_s": self.rows / self.pass_s, **_latency(ctx, samples)}

    def layers(self, ctx: Ctx) -> None:
        ctx.layers["session.jvm_gc_s"] = self.gc_s
        ctx.layers["queries.pass_s"] = self.pass_s
        ctx.layers["queries.build_ms"] = median(
            sum(b for b, _ in p.values()) for p in self.passes) * 1000.0
        for name in self.QUERIES:
            ran = [p[name][1] for p in self.passes if name in p]
            ctx.layers[f"queries.{name}.exec_s"] = median(ran) if ran else 0.0


WORKLOADS = {w.name: w for w in (JsonAggDrain, WindowJoinDrain, ProcessorOpenLoop, ParityBatch)}
