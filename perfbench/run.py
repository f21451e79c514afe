"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs from the root of a source checkout.  Stages the workload's inputs
with the load generator (a separate process), starts the package's
Spark session, warms up, measures for ``--seconds``, checks every
output against DuckDB, stops every process it started and prints one
JSON object as the last line of standard output.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run measures
once untraced and once traced, and reports the per-layer metrics, span
self times and the tracing overhead.  Scratch files go to
``.perfbench_work/``, span dumps and host markers to ``.perfbench_out/``.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def configure_env(work: str) -> None:
    """Keep Spark, the JVM and Python workers inside the checkout and
    size the session to the CPUs this process may use."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    heap = "1g"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    # no perf-data files in /tmp; -Xms = -Xmx: no heap resizing during the run
    jvm = f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = (os.environ.get("SPARK_LAUNCHER_OPTS", "") + jvm).strip()
    os.environ["SPARK_SUBMIT_OPTS"] = (os.environ.get("SPARK_SUBMIT_OPTS", "") + jvm + f" -Xms{heap}").strip()
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.enabled=false --conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={work}/warehouse pyspark-shell")


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the package and bench.py live at the checkout root; the script's
    # own directory must not shadow other modules
    sys.path[0] = ROOT
    from perfbench.harness import Ctx, peak_rss_mb
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)  # left over by a killed run
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    configure_env(work)

    ctx = Ctx(args.seed, args.seconds, args.trace == 1, work)
    wl = WORKLOADS[args.workload]()
    try:
        import bench

        # set-up is process start -> get_spark returned and a first job
        # run; the host-marker sample inside it is the benchmark's own
        t0 = time.perf_counter()
        host_start = bench.host_markers("start")
        markers_s = time.perf_counter() - t0
        ctx.start_session()
        t1 = time.perf_counter()
        setup_s = t1 - T_PROCESS - markers_s
        ctx.tracer.enabled = False
        wl.prepare(ctx)
        t2 = time.perf_counter()
        e2e = wl.measure(ctx)
        t3 = time.perf_counter()
        phases = {"setup": setup_s, "prepare": t2 - t1, "measure": t3 - t2}
        if ctx.traced:
            # the traced window sits between two untraced ones, so the
            # JIT still warming over the run does not read as overhead
            ctx.tracer.enabled = True
            traced = wl.measure(ctx)
            wl.layers(ctx)
            ctx.tracer.enabled = False
            after = wl.measure(ctx)
            wl.probes(ctx, traced)
            phases["traced"] = time.perf_counter() - t3
            untraced = {k: (e2e[k] + after[k]) / 2 for k in ("rows_per_s", "latency_p50_ms")}
            ctx.layers["trace.overhead_pct"] = (untraced["rows_per_s"] / traced["rows_per_s"] - 1) * 100.0
            ctx.layers["trace.latency_p50_delta_ms"] = traced["latency_p50_ms"] - untraced["latency_p50_ms"]
            for name, ms in ctx.tracer.self_times_ms().items():
                ctx.layers[f"span.{name}.self_ms"] = ms
            ctx.layers["trace.spans"] = float(len(ctx.tracer.spans))
        host_end = bench.host_markers("end", idle_interval_s=0.0)
        peak_mb = peak_rss_mb()
    finally:
        t4 = time.perf_counter()
        ctx.shutdown()
    phases["shutdown"] = time.perf_counter() - t4
    contaminated, reasons = bench.adjudicate_host(host_start, host_end)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump({"host": {"start": host_start, "end": host_end},
                   "contaminated": contaminated, "contamination_reasons": reasons,
                   "errors": ctx.errors, "phases_s": phases, "notes": ctx.notes,
                   "e2e": e2e, "layers": ctx.layers}, fh, indent=1)
    if ctx.traced:
        ctx.tracer.dump(os.path.join(out_dir, f"{tag}.spans.json"))
    shutil.rmtree(work, ignore_errors=True)

    e2e.update(setup_s=setup_s, peak_rss_mb=peak_mb)
    # report exactly the metrics BENCHMARK.json names; a layer the
    # workload does not exercise reads 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if ctx.traced:
        metrics = {m["name"]: {"value": float(ctx.layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
