"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload drain|stream --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` the run makes one traced pass (the traffic plus the
operator tail: console round and analytics queries) and a single-core
drain, reports per-layer metrics and the tracer's own overhead, and
writes the spans and trigger progress to
``.bench_traces/<workload>-<seed>.jsonl``. The line before the result
reports the run under the names DESIGN.md uses, with sample counts,
the percentile each tail figure could support, and the first failures.

The run is measured in a child process in a session of its own; this
process returns only once every process the run started has ended.
Exit code 0 when the run completed (check ``correct``); 2 when the
checkout has no engine to run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("drain", "stream")
RUN_DIR_ENV = "PERFBENCH_RUN_DIR"  # set for the measured process by the one that supervises it
GEN_REPEATS = 3  # set-up repeats the input generation and keeps the median

E2E_UNITS = {"setup_s": "s", "jobs_per_s": "jobs/s", "job_lat_p50_s": "s", "job_lat_p90_s": "s"}
API_OPS = ("size", "list_queues", "find_by_id", "page", "peek_dead", "dashboard_counts",
           "page_home", "page_enqueued", "page_dead", "prioritise_execution",
           "replay_dead", "delete_jobs")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)
    if not 1 <= args.seconds <= 600:
        ap.error("--seconds must be between 1 and 600")
    return args


def _isolate(run_dir: str) -> int:
    """Point every scratch location of the engine, Spark and the JVM at
    this run's directory; return the CPU count the session may use."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "spark-local", "flaky")}
    for d in dirs.values():
        os.makedirs(d)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "GOOSE_SPARK_FLAKY_DIR": dirs["flaky"],
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "JAVA_TOOL_OPTIONS": " ".join(p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                                                  f"-Djava.io.tmpdir={dirs['tmp']}") if p),
    })
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    return cpus


def main(argv=None) -> int:
    """Run the measured process, then stop and wait for every process
    it started (the Spark JVM, its Python workers, the generator) and
    remove its run directory."""
    argv = sys.argv[1:] if argv is None else argv
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "goose_spark", "__init__.py")):
        print(f"perfbench: no engine package at {os.path.join(ROOT, 'goose_spark')}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import supervise

    runs = os.path.join(ROOT, ".bench_runs")
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return supervise.run_to_end([sys.executable, os.path.abspath(__file__), *argv],
                                    dict(os.environ, **{RUN_DIR_ENV: run_dir}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass


def measured_main(argv: list[str], run_dir: str) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    # a terminated run still stops its children and its session
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(run_dir)
    cpus = _isolate(run_dir)
    summary, result = run(args, run_dir, cpus, t_main)
    print(json.dumps(summary))
    print(json.dumps(result), flush=True)
    return 0


def run(args, run_dir: str, cpus: int, t_main: float) -> tuple[dict, dict]:
    from perfbench import rss as rssmod
    from perfbench import stats, trace
    from perfbench import workloads as wl
    from goose_spark.session import get_spark

    peak = None if args.trace else rssmod.PeakRss().start()
    wl.query_names()  # import the query inventory before timing generation
    setup = wl.Pass(None, run_dir, "setup", trace.Tracer("setup", False), None)
    gen_s, inp = [], None
    for _ in range(GEN_REPEATS):
        t = time.perf_counter()
        again = wl.make_inputs(args.workload, args.seed, args.seconds)
        gen_s.append(time.perf_counter() - t)
        if inp is not None and again != inp:
            setup.fail(["two generations from one seed differ"], "inputs")
        inp = again
    t = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus, console_progress=False)
    spark.sparkContext.setLogLevel("ERROR")
    setup.spark = spark
    start_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.warm_engine(spark, run_dir, args.workload)
    warmup_s = time.perf_counter() - t
    setup_s = time.perf_counter() - t_main - sum(gen_s) + stats.quantile(gen_s, 0.5)

    summary = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "setup_s": setup_s, "session_start_s": start_s,
               "session_warmup_s": warmup_s}
    if args.trace:
        wl.warm_queries(setup)
        tracer = trace.Tracer(f"{args.workload}-{args.seed}", True)
        listener = trace.progress_listener(tracer)
        spark.streams.addListener(listener)
        measured = wl.Pass(spark, run_dir, "traced", tracer,
                           trace.SparkJobCounter(spark.sparkContext, tracer))
        t = time.perf_counter()
        wl.run_pass(measured, args.workload, inp, operator=True)
        traced_s = time.perf_counter() - t
        spark.streams.removeListener(listener)
        scaling = wl.scaling_x(spark, run_dir)
        metrics = layer_metrics(measured, traced_s, start_s, warmup_s, scaling)
        units = LAYER_UNITS
        os.makedirs(os.path.join(ROOT, ".bench_traces"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".bench_traces", f"{args.workload}-{args.seed}.jsonl"))
        spark.stop()
    else:
        measured = wl.Pass(spark, run_dir, "pass", trace.Tracer("pass", False), None, rss=peak)
        wl.run_pass(measured, args.workload, inp, operator=False)
        summary["peak_rss_mb"] = peak.stop()
        spark.stop()
        metrics = dict(measured.e2e, setup_s=setup_s)
        units = E2E_UNITS
    summary.update(measured.summary)
    passes = [setup, measured]

    failures = [f for p in passes for f in p.failures]
    attempted = sum(p.attempted for p in passes)
    summary["failed_ratio"] = len(failures) / attempted
    summary["failures"] = failures[:10]
    result = {"correct": not failures, "attempted": attempted,
              "failed": min(len(failures), attempted),
              "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}
    return summary, result


LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "client.calls": "count", "client.self_s": "s", "client.row_build_s": "s",
    "client.perform_async_s": "s", "client.perform_in_sec_s": "s", "client.perform_batch_s": "s",
    "ledger.calls": "count", "ledger.self_s": "s", "ledger.append_rows_s": "s",
    "ledger.state_s": "s", "ledger.files_per_job": "files/job", "ledger.bytes_per_job": "B/job",
    "worker.calls": "count", "worker.self_s": "s", "worker.process_available_s": "s",
    "worker.tick_s": "s", "worker.ticks": "count", "worker.triggers": "count",
    "worker.trigger_s": "s", "worker.list_s": "s", "worker.add_batch_s": "s",
    "worker.rows_per_trigger": "rows", "worker.executions_per_job": "ratio",
    "worker.backlog_end": "jobs", "worker.scaling_x": "x",
    "api.calls": "count", "api.self_s": "s", "api.spark_jobs_per_call": "jobs",
    "api.tasks_per_call": "tasks",
    **{f"api.{op}_s": "s" for op in API_OPS},
    "queries.calls": "count", "queries.self_s": "s", "queries.qj_s": "s",
    "queries.spark_jobs": "count", "queries.stages": "count", "queries.tasks": "count",
    "trace.spans": "count", "trace.overhead_x": "x",
}


def layer_metrics(traced, traced_s: float, start_s: float, warmup_s: float,
                  scaling: float) -> dict:
    from perfbench import stats

    tr = traced.tracer

    def med(name):
        d = tr.durations(name)
        return stats.quantile(d, 0.5) if d else 0.0

    out = {"session.start_s": start_s, "session.warmup_s": warmup_s}
    for layer, s in tr.layer_summary().items():
        if layer != "session":
            out[f"{layer}.calls"] = s["calls"]
            out[f"{layer}.self_s"] = s["self_s"]
    for name in ("client.row_build", "client.perform_async", "client.perform_in_sec",
                 "client.perform_batch", "ledger.append_rows", "ledger.state",
                 "worker.process_available", "worker.tick", "queries.qj",
                 *(f"api.{op}" for op in API_OPS)):
        out[f"{name}_s"] = med(name)
    out.update(traced.layer)
    out["worker.ticks"] = len(tr.durations("worker.tick"))
    prog = [r for r in tr.progress if r["rows"] > 0]
    dur = lambda key: [r["duration_ms"].get(key, 0) / 1e3 for r in prog]  # noqa: E731
    out["worker.triggers"] = len(prog)
    out["worker.trigger_s"] = stats.quantile(dur("triggerExecution"), 0.5) if prog else 0.0
    out["worker.list_s"] = stats.quantile(
        [a + b for a, b in zip(dur("latestOffset"), dur("getBatch"))], 0.5) if prog else 0.0
    out["worker.add_batch_s"] = stats.quantile(dur("addBatch"), 0.5) if prog else 0.0
    out["worker.rows_per_trigger"] = sum(r["rows"] for r in prog) / max(1, len(prog))
    out["worker.scaling_x"] = scaling
    jobs = traced.counter.totals
    api_n = jobs.get("api", [0, 0, 0, 0])
    out["api.spark_jobs_per_call"] = api_n[1] / max(1, api_n[0])
    out["api.tasks_per_call"] = api_n[3] / max(1, api_n[0])
    q = jobs.get("queries", [0, 0, 0, 0])
    out["queries.spark_jobs"], out["queries.stages"], out["queries.tasks"] = q[1], q[2], q[3]
    out["trace.spans"] = len(tr.spans)
    # wall time of the traced pass over the same pass less the tracer's
    # own bookkeeping (spans, job counts, progress records)
    out["trace.overhead_x"] = traced_s / (traced_s - tr.cost_ns / 1e9)
    return {k: out[k] for k in LAYER_UNITS}


if __name__ == "__main__":
    if RUN_DIR_ENV in os.environ:
        sys.exit(measured_main(sys.argv[1:], os.environ[RUN_DIR_ENV]))
    sys.exit(main())
