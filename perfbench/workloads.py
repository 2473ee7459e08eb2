"""The benchmark's workloads: seeded traffic through the engine's public
calls, checked afterwards against an independent model of the ledger.

Every pass runs one traffic phase on a fresh ledger:

* ``drain`` — bulk producer, closed: each burst of jobs is written as
  bulk files, then drained to empty by ``process_available`` + ``tick``;
* ``stream`` — open loop: a separate single-threaded generator process
  calls ``perform_*`` once per job at seeded due times, at a low and a
  high rate step, against a continuous ``Worker.start()``.

A traced pass then adds the operator tail on the same ledger: a
population that gives it every job status, one console round (each
console read and write once, closed loop, 1 client) and one pass over
the job-analytics query family. Every call into the engine goes through
``Pass.call`` so a traced pass records it as a span of its layer.
"""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import sys
import time
from datetime import datetime, timedelta, timezone

from perfbench import checks, inputs, stats
from perfbench.trace import Tracer

BURST_JOBS = 30_000
TRIGGER_SEC = 0.25
# Stream rate steps (jobs/s) of plain perform_async traffic. On a 4-CPU
# host the knee is near 50/s when the host is quiet (p50 latency about
# 2 s, double that of 25/s) and lower when it is busy, where 40/s already
# doubled p50 in one run of ten; hi = 30/s stays under it in both, and
# lo is half of hi (DESIGN.md).
LO_RATE, HI_RATE = 15, 30
MIX_S = 3.0  # the timer and batch step after the rate steps, at the lo rate
WARM_IN_S = 2.0  # unmeasured lead-in of stream traffic at the lo rate
STREAM_TAIL_S = 30.0  # how long offered jobs may take to finish after the last call
SCALE_JOBS = 10_000  # jobs in each drain of the single-core comparison
MIX_BATCHES = 20  # perform_batch calls in the console population
MIX_IN_SEC = 100  # perform_in_sec calls in the console population
QUERY_FAMILY = "qj"

GENERATOR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "generator.py")


# Retry delays, module-level so executors unpickle them by reference.
def zero_delay(n: int) -> int:
    return 0


def one_sec_delay(n: int) -> int:
    return 1


def hour_delay(n: int) -> int:
    return 3600


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def stream_steps(seconds: int) -> list[tuple]:
    """(name, rate, duration, mix): an unmeasured lead-in, the measured
    lo and hi steps, which share the run's seconds equally, then the
    timer and batch calls."""
    return [("warm", LO_RATE, WARM_IN_S, inputs.ASYNC_ONLY),
            ("lo", LO_RATE, seconds / 2, inputs.ASYNC_ONLY),
            ("hi", HI_RATE, seconds / 2, inputs.ASYNC_ONLY),
            ("mix", LO_RATE, MIX_S, inputs.TIMER_MIX)]


def make_inputs(workload: str, seed: int, seconds: int) -> dict:
    out = {"status_mix": inputs.status_mix(seed),
           "console": inputs.console_round(seed),
           "queries": inputs.query_order(seed, query_names())}
    if workload == "drain":
        # a burst takes about 4 s to write and drain on a 4-CPU host
        out["bursts"] = inputs.drain_bursts(seed, max(2, round(seconds / 4)), BURST_JOBS)
    else:
        out["steps"] = stream_steps(seconds)
        out["events"] = inputs.stream_schedule(seed, out["steps"])
    return out


def query_names() -> list[str]:
    from goose_spark.queries import load_all

    return sorted(n for n in load_all() if n.split("_", 1)[0].rstrip("0123456789") == QUERY_FAMILY)


class Pass:
    """State of one pass: the session, a tracer, where failures and
    measurements go."""

    def __init__(self, spark, run_dir: str, tag: str, tracer, counter, rss=None):
        self.spark = spark
        self.run_dir = run_dir
        self.tag = tag
        self.tracer = tracer
        self.counter = counter
        self.rss = rss
        self.failures: list[str] = []
        self.attempted = 0
        self.e2e: dict[str, float] = {}
        self.summary: dict[str, object] = {}
        self.layer: dict[str, float] = {}

    def ledger_root(self, name: str) -> str:
        root = os.path.join(self.run_dir, f"{self.tag}-{name}")
        os.makedirs(root)
        return root

    @contextlib.contextmanager
    def call(self, name: str):
        """Span ``name`` (``<layer>.<call>``); api and queries calls also
        count their Spark jobs, stages and tasks when tracing."""
        layer = name.split(".", 1)[0]
        with self.tracer.span(name):
            if self.counter is not None and layer in ("api", "queries"):
                with self.counter.count(layer):
                    yield
            else:
                yield

    def fail(self, problems: list[str], where: str) -> None:
        self.failures += [f"{where}: {p}" for p in problems]


# ---------------------------------------------------------------------------
# warm-up (set-up time)
# ---------------------------------------------------------------------------

def bulk_drain(spark, root: str, n: int, worker_id: str) -> float:
    """Write ``n`` jobs (1% flaky) as bulk files to a fresh ledger and
    drain it; returns the drain's jobs/s."""
    from goose_spark.client import JobClient
    from goose_spark.streaming.worker import Worker

    client = JobClient(root)
    rows = [client._job_row("flaky", (f"{worker_id}-{j}", 1), None, max_retries=1)
            if j % inputs.FLAKY_EVERY == 0 else client._job_row("noop", (j,), None)
            for j in range(n)]
    for k in range(0, n, inputs.JOBS_PER_FILE):
        client.ledger.append_rows(rows[k:k + inputs.JOBS_PER_FILE])
    worker = Worker(spark, root, worker_id=worker_id, retry_delay_fn=zero_delay)
    t = time.perf_counter()
    worker.process_available()
    while True:
        worker.tick()
        tbl = worker.ledger.read_scheduled()
        if tbl is None or tbl.num_rows == 0:
            return n / (time.perf_counter() - t)


def warm_engine(spark, run_dir: str, workload: str, tag: str = "warm") -> None:
    """Throwaway traffic of the workload's own kind on throwaway ledgers,
    so first-use costs of the streaming source, Python workers and code
    generation land in set-up, not in the first measured call: for
    ``drain`` one bulk drain (distributed path), for ``stream`` a few
    seconds of its rate steps."""
    if workload == "drain":
        # 12k rows: just over the worker's 10k small-batch bound
        bulk_drain(spark, os.path.join(run_dir, f"{tag}-0"), 12_000, f"{tag}-0")
    else:
        p = Pass(spark, run_dir, tag, Tracer(tag, False), None)
        steps = [(name, rate, dur / 4, mix) for name, rate, dur, mix in stream_steps(8)[:3]]
        stream_phase(p, p.ledger_root("ledger"), inputs.stream_schedule(-1, steps), steps)


def scaling_x(spark, run_dir: str) -> float:
    """jobs/s of one bulk drain on every CPU over the same drain on
    ``local[1]``. Stops ``spark``; the single-core session is stopped
    before returning."""
    from goose_spark.session import get_spark

    many = bulk_drain(spark, os.path.join(run_dir, "scale-n"), SCALE_JOBS, "scale-n")
    spark.stop()
    one = get_spark("perfbench-1core", cpus=1, console_progress=False)
    try:
        bulk_drain(one, os.path.join(run_dir, "warm-1core"), 200, "warm-1core")
        return many / bulk_drain(one, os.path.join(run_dir, "scale-1"), SCALE_JOBS, "scale-1")
    finally:
        one.stop()


def warm_queries(p: Pass) -> None:
    """Untimed first pass over the analytics queries, which doubles as
    their oracle check: each result must hash-match its DuckDB twin."""
    import duckdb

    from goose_spark.plans.guards import release_shared
    from goose_spark.queries import load_all

    reg = load_all()
    con = duckdb.connect()
    for name in query_names():
        p.attempted += 1
        spec = reg[name]
        df = spec.builder(p.spark, p.run_dir)
        if spec.oracle:
            p.fail(checks.check_query(df, con, spec.oracle), f"query {name}")
        else:
            df.count()
        release_shared()
    con.close()


# ---------------------------------------------------------------------------
# traffic phases
# ---------------------------------------------------------------------------

def _append_bulk(p: Pass, client, specs: list[tuple], **over) -> tuple[list[str], list[float]]:
    """Write job specs as bulk files through the client's row builder
    and ``Ledger.append_rows``; returns ids and per-file seconds."""
    ids, secs = [], []
    for k in range(0, len(specs), inputs.JOBS_PER_FILE):
        t = time.perf_counter()
        with p.call("client.row_build"):
            rows = [client._job_row(fn, args, q, **({"max_retries": 1} if fn == "flaky" else {}),
                                    **over)
                    for fn, args, q in specs[k:k + inputs.JOBS_PER_FILE]]
        with p.call("ledger.append_rows"):
            client.ledger.append_rows(rows)
        secs.append(time.perf_counter() - t)
        ids += [r["id"] for r in rows]
    return ids, secs


def _drain(p: Pass, worker, until_empty: bool = True) -> None:
    """process_available, then tick (until the scheduled store is empty
    when ``until_empty``)."""
    with p.call("worker.process_available"):
        worker.process_available()
    while True:
        with p.call("worker.tick"):
            worker.tick()
        tbl = worker.ledger.read_scheduled() if until_empty else None
        if tbl is None or tbl.num_rows == 0:
            return


def _ledger_footprint(p: Pass, root: str, jobs: int) -> None:
    log = os.path.join(root, "log")
    files = [f for f in os.listdir(log) if f.endswith(".parquet")]
    p.layer["ledger.files_per_job"] = len(files) / jobs
    p.layer["ledger.bytes_per_job"] = sum(os.path.getsize(os.path.join(log, f)) for f in files) / jobs


def drain_phase(p: Pass, root: str, bursts: list[list[tuple]]):
    """Closed, one pass per burst: a burst of bulk-enqueued jobs is
    drained to empty before the next is written."""
    from goose_spark.client import JobClient
    from goose_spark.streaming.worker import Worker

    client = JobClient(root)
    worker = Worker(p.spark, root, retry_delay_fn=zero_delay)
    jps, enq, starts = [], [], []
    for jobs in bursts:
        ids, secs = _append_bulk(p, client, jobs)
        enq.append(len(jobs) / sum(secs))
        start_ns = time.time_ns()
        t = time.perf_counter()
        _drain(p, worker)
        jps.append(len(jobs) / (time.perf_counter() - t))
        starts.append((start_ns, ids))
    total = sum(len(b) for b in bursts)
    flaky = sum(1 for b in bursts for fn, _, _ in b if fn == "flaky")
    p.attempted += total
    if worker.executions != total + flaky:
        p.fail([f"{worker.executions} executions, expected {total} jobs + {flaky} retries"],
               "drain")
    _ledger_footprint(p, root, total)
    p.layer["worker.executions_per_job"] = worker.executions / total
    p.layer["worker.backlog_end"] = 0
    p.e2e["jobs_per_s"] = stats.quantile(jps, 0.5)
    p.summary["enqueue_per_s"] = stats.quantile(enq, 0.5)
    p.summary["drain_bursts"] = [round(x, 1) for x in jps]

    def finish(model: checks.LedgerModel) -> None:
        all_ids = [i for _, ids in starts for i in ids]
        p.fail(checks.check_jobs_once(model, all_ids), "drain")
        done = checks.success_seq(model)
        lat = [(done[i] - s) / 1e9 for s, ids in starts for i in ids if i in done]
        p.e2e["job_lat_p50_s"] = stats.quantile(lat, 0.5)
        p.e2e["job_lat_p90_s"] = stats.quantile(lat, 0.9)
        p.summary["timer_lateness"] = _pct(checks.timer_lateness_s(model), 0.99)

    return client, finish


def _pct(values: list[float], wanted: float) -> dict:
    """Median and the highest percentile (<= wanted) the sample
    supports, with the sample count."""
    q, v = stats.tail(values, wanted)
    return {"n": len(values), "p50": stats.quantile(values, 0.5) if values else None,
            "tail_q": q, "tail": v}


def stream_phase(p: Pass, root: str, events: list[dict], steps: list[tuple]):
    """Open loop: a separate single-threaded generator process calls
    perform_* once per event at its due time, against Worker.start()."""
    from goose_spark.client import JobClient
    from goose_spark.streaming.worker import Worker

    client = JobClient(root)
    sched = os.path.join(p.run_dir, f"{p.tag}-schedule.json")
    out = os.path.join(p.run_dir, f"{p.tag}-generator.jsonl")
    with open(sched, "w") as fh:
        json.dump(events, fh)
    gen = subprocess.Popen([sys.executable, GENERATOR, sched, out, root],
                           stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    if p.rss is not None:
        p.rss.exclude.add(gen.pid)
    worker = Worker(p.spark, root, retry_delay_fn=one_sec_delay)
    handle = None
    try:
        if gen.stdout.readline().strip() != "ready":
            raise RuntimeError("traffic generator failed to start")
        handle = worker.start(trigger_sec=TRIGGER_SEC)
        t0 = time.time_ns() + 500_000_000
        gen.stdin.write(f"{t0}\n")
        gen.stdin.flush()
        gen.wait(timeout=events[-1]["t"] + 60)
        with open(out) as fh:
            recs = [json.loads(line) for line in fh]
        want = [i for r in recs for i in r.get("ids", ())]
        want += [f"callback-{r['batch_id']}" for r in recs if "batch_id" in r]
        deadline = time.monotonic() + STREAM_TAIL_S
        while time.monotonic() < deadline:
            time.sleep(0.5)
            if _all_succeeded(root, want):
                break
        hi_start, hi_end = _step_window(steps, "hi")
        done_by_hi_end = _success_before(root, t0 + int(hi_end * 1e9))
        backlog_end = sum(1 for i in want if i not in done_by_hi_end)
    finally:
        if handle is not None:
            handle.stop()
        if gen.poll() is None:
            gen.kill()
        gen.wait()
    if p.tracer.enabled:
        p.tracer.add_spans([dict(r["span"], run=p.tracer.run_id) for r in recs])
    errors = [f"{r['kind']} {r['key']}: {r['error']}" for r in recs if "error" in r]
    p.fail(errors, "generator")
    p.attempted += len(want) + len(errors)
    _ledger_footprint(p, root, len(want))
    p.layer["worker.executions_per_job"] = worker.executions / max(1, len(want))
    p.layer["worker.backlog_end"] = backlog_end
    late = [(r["sent_ns"] - r["due_ns"]) / 1e9 for r in recs]
    p.summary["generator_late_s"] = dict(_pct(late, 0.99), max=max(late))
    call_s = [(r["done_ns"] - r["sent_ns"]) / 1e9 for r in recs if r["kind"] == "async"]
    p.summary["enqueue_per_s"] = 1.0 / stats.quantile(call_s, 0.5)

    def finish(model: checks.LedgerModel) -> None:
        p.fail(checks.check_jobs_once(model, want), "stream")
        callbacks = model.rows(
            "SELECT id, count(*) FILTER (WHERE status = 'enqueued'), count(*) FILTER"
            " (WHERE status = 'success') FROM log WHERE id LIKE 'callback-%' GROUP BY id")
        fired = {i: (e, s) for i, e, s in callbacks}
        for r in recs:
            if "batch_id" in r and fired.get(f"callback-{r['batch_id']}") != (1, 1):
                p.fail([f"batch {r['batch_id']}: callback rows {fired.get('callback-' + r['batch_id'])}"],
                       "stream")
        done = checks.success_seq(model)
        by_step: dict[str, list[float]] = {"lo": [], "hi": []}
        hi_done = []
        for r in recs:
            if r["step"] in by_step and r["kind"] in ("async", "batch"):
                ends = [done.get(i, 0) for i in r.get("ids", ())]
                by_step[r["step"]] += stats.due_latencies([r["due_ns"]] * len(ends), ends)
                if r["step"] == "hi":
                    hi_done += ends
        for step, lat in by_step.items():
            p.summary[f"lat_{step}"] = _pct(lat, 0.99)
        p.e2e["job_lat_p50_s"] = stats.quantile(by_step["hi"], 0.5)
        p.e2e["job_lat_p90_s"] = stats.quantile(by_step["hi"], 0.9)
        # the rate at which the middle 90% of the hi step's jobs finished:
        # the offered rate while the worker keeps up, less when it falls
        # behind; robust to when the step's first and last jobs land
        span_s = (stats.quantile(hi_done, 0.95) - stats.quantile(hi_done, 0.05)) / 1e9
        p.e2e["jobs_per_s"] = 0.9 * len(hi_done) / span_s
        p.summary["timer_lateness"] = _pct(checks.timer_lateness_s(model), 0.99)

    return client, finish


def _step_window(steps, name) -> tuple[float, float]:
    """(start, end) offsets in seconds of a named step."""
    start = 0.0
    for n, _, dur, _ in steps:
        if n == name:
            return start, start + dur
        start += dur
    raise KeyError(name)


def _log_files(root: str) -> list[str]:
    log = os.path.join(root, "log")
    return [os.path.join(log, f) for f in os.listdir(log)
            if f.endswith(".parquet") and not f.startswith((".", "_"))]


def _success_before(root: str, t_ns: int | None = None) -> set[str]:
    import duckdb

    cond = f" AND seq < {int(t_ns)}" if t_ns is not None else ""
    con = duckdb.connect()
    try:
        return {r[0] for r in con.execute(
            f"SELECT DISTINCT id FROM read_parquet(?) WHERE status = 'success'{cond}",
            [_log_files(root)]).fetchall()}
    finally:
        con.close()


def _all_succeeded(root: str, ids: list[str]) -> bool:
    return set(ids) <= _success_before(root)


# ---------------------------------------------------------------------------
# console population, console and analytics phases
# ---------------------------------------------------------------------------

def populate(p: Pass, root: str, client, mix: dict) -> dict:
    """Give the ledger every job status: successes, immediate deaths,
    jobs retrying an hour out, scheduled jobs (perform_in_sec), batches
    (perform_batch) and, written last and never consumed, enqueued jobs."""
    from goose_spark.schema import STATUS_SCHEDULED
    from goose_spark.streaming.worker import Worker

    run_at = _utcnow() + timedelta(hours=1)
    ids, _ = _append_bulk(p, client, [("noop", (k,), q) for q, k in mix["success"]])
    ids += _append_bulk(p, client, [("always-fail", (k,), q) for q, k in mix["dead"]],
                        max_retries=0)[0]
    ids += _append_bulk(p, client, [("always-fail", (k,), q) for q, k in mix["retrying"]],
                        max_retries=3)[0]
    ids += _append_bulk(p, client, [("noop", (k,), q) for q, k in mix["scheduled"]],
                        status=STATUS_SCHEDULED, run_at=run_at)[0]
    for q, k in mix["scheduled"][:MIX_IN_SEC]:
        with p.call("client.perform_in_sec"):
            ids.append(client.perform_in_sec(3600, "noop", k + "-in", queue=q)["id"])
    for q, k in mix["success"][:MIX_BATCHES]:
        with p.call("client.perform_batch"):
            ids += client.perform_batch("noop", [(k + "-b0",), (k + "-b1",)], queue=q)["job_ids"]
    # retrying and scheduled jobs stay parked an hour: one tick, no drain-to-empty
    _drain(p, Worker(p.spark, root, worker_id="worker-mix", retry_delay_fn=hour_delay),
           until_empty=False)
    enqueued, _ = _append_bulk(p, client, [("noop", (k,), q) for q, k in mix["enqueued"]])
    return {"all": ids + enqueued, "enqueued": enqueued}


def _console_call(op: str, a: dict, api, con, client):
    return {
        "size": lambda: api.size(a["queue"]),
        "list_queues": api.list_queues,
        "find_by_id": lambda: api.find_by_id(a["id"]),
        "page": lambda: api.page(a["queue"], a["page"]),
        "peek_dead": lambda: api.peek_dead(a["n"]),
        "dashboard_counts": api.dashboard_counts,
        "page_home": con.page_home,
        "page_enqueued": lambda: con.page_enqueued(a["queue"], a["page"]),
        "page_dead": lambda: con.page_dead(a["page"]),
        "perform_async": lambda: client.perform_async("noop", a["key"], queue=a["queue"]),
        "prioritise_execution": lambda: api.prioritise_execution([a["id"]]),
        "replay_dead": lambda: api.replay_dead(1),
        "delete_jobs": lambda: api.delete_jobs([a["id"]]),
    }[op]()


def console_phase(p: Pass, root: str, client, ids: dict, rnd) -> list:
    """Closed loop, one client: every console read and write once."""
    from goose_spark.api import LedgerAPI
    from goose_spark.console import Console

    api = LedgerAPI(p.spark, root)
    con = Console(api)
    calls = []
    for op, a in rnd:
        a = dict(a, key=f"console-{op}")
        if op in ("find_by_id", "delete_jobs"):
            a["id"] = ids["all"][a["pick"] % len(ids["all"])]
        elif op == "prioritise_execution":
            a["id"] = ids["enqueued"][a["pick"] % len(ids["enqueued"])]
        layer = "client" if op == "perform_async" else "api"
        t0 = time.time_ns()
        s = time.perf_counter()
        with p.call(f"{layer}.{op}"):
            answer = _console_call(op, a, api, con, client)
        calls.append((op, a, t0, time.time_ns(), answer, time.perf_counter() - s))
    reads = [c[5] for c in calls if c[0] in inputs.CONSOLE_READS]
    writes = [c[5] for c in calls if c[0] in inputs.CONSOLE_WRITES]
    p.summary["read"] = _pct(reads, 0.9)
    p.summary["write"] = _pct(writes, 0.5)
    p.attempted += len(calls)
    return calls


def check_console(p: Pass, model: checks.LedgerModel, calls: list) -> None:
    for op, a, t0, t1, answer, _ in calls:
        p.fail(checks.check_console_call(model, op, a, t0, t1, answer), "console")


def analytics_phase(p: Pass, order: list[str]) -> None:
    """One pass over the query family; each query is materialised with
    count()."""
    from goose_spark.plans.guards import release_shared
    from goose_spark.queries import load_all

    reg = load_all()
    times = []
    for name in order:
        s = time.perf_counter()
        with p.call(f"queries.{QUERY_FAMILY}"):
            reg[name].builder(p.spark, p.run_dir).count()
        times.append(time.perf_counter() - s)
        release_shared()
    p.summary["query_total_s"] = sum(times)
    p.summary["query_geomean_s"] = stats.geomean(times)


def state_probe(p: Pass, root: str) -> None:
    from goose_spark.streaming.ledger import Ledger

    with p.call("ledger.state"):
        Ledger(root).state(p.spark).count()


def run_pass(p: Pass, workload: str, inp: dict, operator: bool) -> None:
    """One traffic phase and, with ``operator``, the operator tail."""
    from goose_spark.functions.registry import reset_flaky

    reset_flaky()  # flaky jobs count attempts per key on disk
    root = p.ledger_root("ledger")
    phases = p.summary.setdefault("phase_s", {})

    @contextlib.contextmanager
    def phase(name):
        t = time.perf_counter()
        with p.tracer.span(f"bench.{name}"):
            yield
        phases[name] = time.perf_counter() - t

    with phase("traffic"):
        if workload == "drain":
            client, finish = drain_phase(p, root, inp["bursts"])
        else:
            client, finish = stream_phase(p, root, inp["events"], inp["steps"])
    calls = []
    if operator:
        with phase("populate"):
            ids = populate(p, root, client, inp["status_mix"])
            state_probe(p, root)
        with phase("console"):
            calls = console_phase(p, root, client, ids, inp["console"])
        with phase("analytics"):
            analytics_phase(p, inp["queries"])
        state_probe(p, root)
    with phase("check"):
        model = checks.LedgerModel(root)
        try:
            finish(model)
            check_console(p, model, calls)
        finally:
            model.con.close()
