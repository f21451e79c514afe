"""What every workload shares: the Spark session's lifetime, the load
generator process, streaming drains with their progress and sink
timings, failure accounting, and the process tree's memory."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time
import urllib.parse
from dataclasses import dataclass
from statistics import median

from pyspark import SparkContext

from confluent_kafka_streams_examples_spark.session import get_spark
from perfbench.spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))


class Ctx:
    """One benchmark run: its arguments, directories, tracer, session
    and the failures counted so far."""

    def __init__(self, seed: int, seconds: float, traced: bool, work: str) -> None:
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.tracer = Tracer(traced)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layers: dict[str, float] = {}
        self.notes: dict = {}
        self.spark = None
        self._dirs = 0

    # -- accounting ---------------------------------------------------------

    def check(self, ok: bool, what: str) -> bool:
        """Count one attempted unit of work; record it as failed unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
            print(f"perfbench: FAILED {what}", file=sys.stderr)
        return ok

    def new_dir(self, name: str) -> str:
        self._dirs += 1
        path = os.path.join(self.work, f"{name}-{self._dirs}")
        os.makedirs(path)
        return path

    # -- load generator -------------------------------------------------------

    def loadgen_cmd(self, command: str, out: str, manifest: str, *extra: str) -> list[str]:
        return [sys.executable, os.path.join(HERE, "loadgen.py"), command,
                "--seed", str(self.seed), "--out", out, "--manifest", manifest, *extra]

    def stage(self, command: str, out: str, *extra: str) -> list[dict]:
        """Run the generator to completion; return its manifest."""
        manifest = out + ".manifest.jsonl"
        t0 = time.perf_counter()
        proc = subprocess.run(self.loadgen_cmd(command, out, manifest, *extra))
        if proc.returncode != 0:
            raise RuntimeError(f"loadgen {command} exited with {proc.returncode}")
        self.layers["loadgen.stage_s"] = self.layers.get("loadgen.stage_s", 0.0) + time.perf_counter() - t0
        return read_manifest(manifest)

    # -- session ------------------------------------------------------------

    def start_session(self) -> None:
        """``get_spark`` plus a first trivial job, each timed."""
        t0 = time.perf_counter()
        with self.tracer.span("get_spark"):
            self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        with self.tracer.span("first_job"):
            self.spark.range(1000).count()
        t2 = time.perf_counter()
        self.layers["session.get_spark_s"] = t1 - t0
        self.layers["session.first_job_s"] = t2 - t1

    def restart_session(self, cpus: int) -> None:
        """A new SparkContext with ``cpus`` local cores in the same JVM."""
        self.spark.stop()
        old = os.environ["SPARK_GRAFT_CPUS"]
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        try:
            self.spark = get_spark("perfbench-baseline")
        finally:
            os.environ["SPARK_GRAFT_CPUS"] = old
        self.spark.sparkContext.setLogLevel("ERROR")

    def gc_seconds(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait until it and every Python
        worker it started have exited."""
        if self.spark is None:
            return
        procs = tree_pids(os.getpid()) - {os.getpid()}
        self.spark.stop()
        gateway = SparkContext._gateway
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            # the gateway JVM exits when its stdin closes
            jvm.stdin.close()
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        deadline = time.monotonic() + 30
        while procs and time.monotonic() < deadline:
            procs = {p for p in procs if os.path.exists(f"/proc/{p}")}
            time.sleep(0.1)
        for p in procs:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.spark = None


def reason(exc: BaseException) -> str:
    """One line naming an exception, for the run notes."""
    first = str(exc).splitlines()[0] if str(exc) else ""
    return f"{type(exc).__name__}: {first}"


def read_manifest(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


# -- streaming --------------------------------------------------------------


@dataclass
class StreamRun:
    """What one streaming query did: its wall time, per-batch progress
    and the interval each batch spent in the sink."""

    start: float
    end: float
    progress: list[dict]
    sink: dict[int, tuple[float, float]]
    error: str | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def rows(self) -> int:
        return sum(p["numInputRows"] for p in self.progress)

    def batch_latencies(self) -> list[tuple[float, int]]:
        """(seconds from query start to the sink returning, input rows)
        per batch: the backlog drain's time to result for each row."""
        return [(self.sink[p["batchId"]][1] - self.start, p["numInputRows"])
                for p in self.progress if p["batchId"] in self.sink]


class TimedSink:
    """``foreachBatch`` wrapper timing the sink call of every batch."""

    def __init__(self, fn) -> None:
        self.fn = fn
        self.times: dict[int, tuple[float, float]] = {}

    def __call__(self, df, batch_id: int) -> None:
        t0 = time.time()
        self.fn(df, batch_id)
        self.times[batch_id] = (t0, time.time())


def merge_progress(query, seen: dict[int, dict]) -> None:
    """Fold the query's recent progress into ``seen`` by batch id (the
    recent list is a rolling window)."""
    for p in query.recentProgress:
        d = json.loads(p.json)
        seen[d["batchId"]] = d


def start_query(ctx: Ctx, df, sink: TimedSink, mode: str):
    ckpt = ctx.new_dir("ckpt")
    q = (df.writeStream.foreachBatch(sink).outputMode(mode)
         .option("checkpointLocation", ckpt).start())
    return q, ckpt


def drain(ctx: Ctx, df, sink_fn, mode: str) -> StreamRun:
    """Run a query over the staged backlog until every available row is
    committed, then stop it.  A query exception is recorded in
    ``error``; the caller counts it."""
    sink = TimedSink(sink_fn)
    seen: dict[int, dict] = {}
    error = None
    with ctx.tracer.span("drain") as sid:
        t0 = time.time()
        with ctx.tracer.span("query_start"):
            q, _ = start_query(ctx, df, sink, mode)
        try:
            q.processAllAvailable()
        except Exception as exc:  # the query failed: count it, keep running
            error = reason(exc)
        t1 = time.time()
        merge_progress(q, seen)
        q.stop()
    if error is None and q.exception() is not None:
        error = str(q.exception()).splitlines()[0]
    progress = [seen[b] for b in sorted(seen)]
    for p in progress:
        ctx.tracer.add_progress(p, sid, sink.times)
    return StreamRun(t0, t1, progress, sink.times, error)


def file_batches(ckpt: str) -> dict[str, int]:
    """File name -> id of the batch that read it, from the file
    source's metadata log in the checkpoint."""
    out: dict[str, int] = {}
    d = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as fh:
            for line in fh.read().splitlines()[1:]:
                e = json.loads(line)
                out[os.path.basename(urllib.parse.urlparse(e["path"]).path)] = e["batchId"]
    return out


def progress_layers(progress: list[dict]) -> dict[str, float]:
    """Per-trigger medians of the micro-batch phases and state-store
    timings, plus counts, from progress events."""
    if not progress:
        return {}

    def med(values):
        return float(median(values)) if values else 0.0

    def dur(key):
        return med([p["durationMs"].get(key, 0) for p in progress])

    def state(key):
        return [sum(op.get(key, 0) for op in p.get("stateOperators", [])) for p in progress]

    return {
        "sources.latest_offset_ms": dur("latestOffset"),
        "sources.get_batch_ms": dur("getBatch"),
        "sources.rows_per_batch": med([p["numInputRows"] for p in progress]),
        "streaming.plan_ms": dur("queryPlanning"),
        "streaming.wal_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.batches": float(len(progress)),
        "streaming.state_commit_ms": med(state("commitTimeMs")),
        "streaming.state_update_ms": med(state("allUpdatesTimeMs")),
        "streaming.state_removal_ms": med(state("allRemovalsTimeMs")),
        "streaming.state_rows": float(max(state("numRowsTotal"))),
        "streaming.state_bytes": float(max(state("memoryUsedBytes"))),
        "streaming.rows_dropped_by_watermark": float(sum(state("numRowsDroppedByWatermark"))),
    }


def weighted_percentile(samples: list[tuple[float, int]], q: float) -> float:
    """The q-quantile of values each repeated ``weight`` times."""
    samples = sorted((v, w) for v, w in samples if w > 0)
    total = sum(w for _, w in samples)
    if not total:
        return 0.0
    rank, acc = q * total, 0
    for v, w in samples:
        acc += w
        if acc >= rank:
            return v
    return samples[-1][0]


# -- memory -------------------------------------------------------------------


def tree_pids(root: int) -> set[int]:
    """``root`` and its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid not in out:
            out.add(pid)
            todo.extend(children.get(pid, []))
    return out


def peak_rss_mb() -> float:
    """Summed peak resident set (``VmHWM``) of this process and its live
    descendants: driver Python, JVM and Python workers (the load
    generator has exited by now).  Read before they stop, so it needs no
    sampling that could disturb them."""
    total_kb = 0
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total_kb / 1024.0
