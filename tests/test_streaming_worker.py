"""Streaming scenario tests — modeled on goose's broker integration
tests (test/goose/brokers/redis/integration_test.clj): enqueue → run a
real worker pass → assert ledger state. availableNow triggers replace
the promise-with-timeout pattern."""

from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone

import pytest

from goose_spark.api import LedgerAPI
from goose_spark.client import JobClient
from goose_spark.functions.registry import reset_flaky
from goose_spark.streaming.ledger import Ledger
from goose_spark.streaming.worker import Worker


def utcnow():
    return datetime.now(timezone.utc).replace(tzinfo=None)


@pytest.fixture()
def ledger(tmp_path):
    return Ledger(str(tmp_path / "ledger"))


@pytest.fixture(autouse=True)
def _reset_flaky():
    reset_flaky()


def counts(spark, ledger):
    return LedgerAPI(spark, ledger).dashboard_counts()


# --- async execution (integration_test.clj:30-37) --------------------------

def test_async_execution(spark, ledger):
    client = JobClient(ledger)
    for i in range(100):
        client.perform_async("noop", i)
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    assert counts(spark, ledger) == {"success": 100}
    assert worker.executions == 100


# --- checkpoint = preservation queue: no re-execution on second pass -------

def test_no_duplicate_execution_across_passes(spark, ledger):
    client = JobClient(ledger)
    client.perform_async("noop")
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    worker.process_available()  # nothing new → nothing executed
    assert worker.executions == 1
    assert counts(spark, ledger) == {"success": 1}


# --- retry chain: fail → retry w/ backoff → succeed (clj:106-154) ----------

def test_retry_then_success(spark, ledger):
    client = JobClient(ledger)
    client.perform_async("flaky", "job-a", 2, max_retries=5)
    # zero jitter → delay = 20 + n⁴ sec; we shrink it by parking manually:
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    st = counts(spark, ledger)
    assert st == {"retrying": 1}

    # force the parked retry due: rewrite its run_at to the past
    import pyarrow as pa
    import pyarrow.parquet as pq

    for _ in range(2):  # two more executions: fail#2 then success
        files = ledger.scheduled_files()
        tbl = ledger.read_scheduled()
        pdf = tbl.to_pandas()
        pdf["run_at"] = utcnow() - timedelta(seconds=1)
        from goose_spark.streaming.ledger import ARROW_LOG_SCHEMA

        ledger.replace_scheduled(pa.Table.from_pandas(pdf, schema=ARROW_LOG_SCHEMA,
                                                      preserve_index=False), files)
        worker.tick()

    final = counts(spark, ledger)
    assert final == {"success": 1}
    # failure state audit trail is in the log history
    from pyspark.sql import functions as F

    api = LedgerAPI(spark, ledger)
    job = api.find_by_pattern(F.col("id").isNotNull(), limit=1)[0]
    assert job["retry_count"] == 2 and job["error"] is not None


# --- death after max retries (clj:171-188): exact execution count ----------

def test_death_after_max_retries(spark, ledger):
    client = JobClient(ledger)
    client.perform_async("always-fail", max_retries=2)
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()

    import pyarrow as pa
    from goose_spark.streaming.ledger import ARROW_LOG_SCHEMA

    for _ in range(2):
        files = ledger.scheduled_files()
        tbl = ledger.read_scheduled()
        if tbl is None or tbl.num_rows == 0:
            break
        pdf = tbl.to_pandas()
        pdf["run_at"] = utcnow() - timedelta(seconds=1)
        ledger.replace_scheduled(pa.Table.from_pandas(pdf, schema=ARROW_LOG_SCHEMA,
                                                      preserve_index=False), files)
        worker.tick()

    assert counts(spark, ledger) == {"dead": 1}
    # executes exactly max_retries + 1 times (retry.clj:86-91)
    assert worker.executions == 3
    dead = LedgerAPI(spark, ledger).peek_dead(1)[0]
    assert dead["died_at"] is not None and dead["retry_count"] == 2


# --- scheduled job: future stays parked, due executes ----------------------

def test_scheduled_job_not_due_then_due(spark, ledger):
    client = JobClient(ledger)
    client.perform_at(utcnow() + timedelta(hours=1), "noop")
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    assert counts(spark, ledger) == {"scheduled": 1}  # parked, not run

    client.perform_at(utcnow() - timedelta(seconds=5), "noop")  # past-due
    worker.process_available()
    st = counts(spark, ledger)
    assert st["success"] == 1 and st["scheduled"] == 1


# --- batch lifecycle: terminal status + exactly-one callback (clj:190-286) --

def test_batch_success_callback(spark, ledger):
    client = JobClient(ledger)
    res = client.perform_batch("noop", [(i,) for i in range(10)],
                               callback_fn="noop", queue="batch-q")
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    worker.process_available()  # second pass runs the callback job

    api = LedgerAPI(spark, ledger)
    state = {r["id"]: r for r in api.state().collect()}
    callback = state.get(f"callback-{res['id']}")
    assert callback is not None and callback["status"] == "success"
    assert json.loads(callback["args"]) == [res["id"], "success"]
    batches = worker.ledger.batches_state()
    assert batches[res["id"]]["status"] == "success"
    # callback emitted exactly once even after more passes
    worker.process_available()
    log_rows = ledger.log(spark).filter(f"id = 'callback-{res['id']}'").count()
    assert log_rows == 2  # enqueue row + success row


def test_batch_partial_success(spark, ledger):
    client = JobClient(ledger)
    res = client.perform_batch("flaky", [("k1", 0), ("k2", 99)],
                               callback_fn="noop", queue="batch-q", max_retries=0)
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    batches = worker.ledger.batches_state()
    assert batches[res["id"]]["status"] == "partial-success"


def test_batch_member_death_respects_skip_dead_queue(spark, ledger):
    """Round-6 advice parity fix: goose's skip-dead-queue omits dying
    BATCH members from the global dead queue too — the death is tracked
    only in the batch's own dead-set (batch.clj). So: no dead-queue
    surface entries, but the batch still terminates partial-success."""
    client = JobClient(ledger)
    res = client.perform_batch("flaky", [("sk1", 0), ("sk2", 99)],
                               callback_fn="noop", max_retries=0)
    worker = Worker(spark, ledger, rand_int=lambda n: 0,
                    retry_delay_fn=lambda n: 0, skip_dead_queue=True)
    worker.process_available()
    api = LedgerAPI(spark, ledger)
    assert api.peek_dead(5) == []                       # off dead surfaces
    assert api.dashboard_counts().get("dead", 0) == 0
    batches = worker.ledger.batches_state()
    assert batches[res["id"]]["status"] == "partial-success"  # death counted


# --- cron: registration upsert + tick materializes a job -------------------

def test_cron_tick_materializes_job(spark, ledger):
    """r12 de-flake (VERDICT r12 directive #4): the worker clock is
    INJECTED (frozen 10 min ahead), so the registration's next_run_at is
    deterministically due and the re-arm target is an exact minute — no
    dependence on where in a real minute the test happens to run."""
    client = JobClient(ledger)
    client.perform_every("tick-test", "* * * * *", "noop", queue="cron-q")
    import pyarrow.parquet as pq

    from goose_spark.functions import cron as cronlib

    frozen = (utcnow() + timedelta(minutes=10)).replace(second=0, microsecond=0)
    worker = Worker(spark, ledger, rand_int=lambda n: 0, now_fn=lambda: frozen)
    worker.tick()            # materialize due cron job
    worker.process_available()  # consume + execute it
    from pyspark.sql import functions as F

    api = LedgerAPI(spark, ledger)
    jobs = api.find_by_pattern(F.col("cron_name") == "tick-test", limit=10)
    assert len(jobs) == 1 and jobs[0]["status"] == "success"
    # re-armed to the exact next occurrence after the frozen clock
    entries = pq.read_table(ledger.cron_path).to_pylist()
    assert entries[0]["next_run_at"] == cronlib.next_run("* * * * *", "UTC", frozen)
    assert entries[0]["last_run_at"] == cronlib.prev_run("* * * * *", "UTC", frozen)


def test_cron_registration_overwrite(spark, ledger):
    client = JobClient(ledger)
    client.perform_every("same-name", "*/5 * * * *", "noop")
    client.perform_every("same-name", "0 * * * *", "noop")
    import pyarrow.parquet as pq

    entries = pq.read_table(ledger.cron_path).to_pylist()
    assert len(entries) == 1 and entries[0]["cron_schedule"] == "0 * * * *"


# --- management API: prioritise, replay dead, retention ---------------------

def test_replay_dead_and_retention(spark, ledger):
    client = JobClient(ledger)
    client.perform_async("always-fail", max_retries=0)
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    api = LedgerAPI(spark, ledger)
    assert api.dashboard_counts() == {"dead": 1}

    assert api.replay_dead(1) == 1
    worker.process_available()  # replayed job fails again → dead again
    assert api.dashboard_counts() == {"dead": 1}

    assert api.delete_dead_older_than(utcnow() + timedelta(days=1)) == 1
    assert api.dashboard_counts() == {"deleted": 1}


def test_priority_front_executes_first_within_partitions(spark, ledger, tmp_path):
    """P8 bounded-staleness priority: WITHIN each partition of a
    micro-batch, front-priority jobs execute before back-priority (the
    documented contract — cross-partition order is concurrent). Observed
    via a middleware recording (partition, order, priority)."""
    import os
    import time as _time

    from goose_spark.schema import PRIORITY_FRONT

    trace = str(tmp_path / "trace")
    os.makedirs(trace)

    def recorder(next_fn):
        def wrapped(job):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            with open(os.path.join(trace, f"{pid}-{_time.monotonic_ns()}-{job['id']}"), "w") as f:
                f.write(str(job.get("priority", "")))
            return next_fn(job)

        return wrapped

    client = JobClient(ledger)
    for i in range(150):
        client.perform_async("noop", i)
    for i in range(50):
        client.perform_async("noop", 1000 + i, priority=PRIORITY_FRONT)
    worker = Worker(spark, ledger, rand_int=lambda n: 0, middlewares=(recorder,))
    worker.process_available()

    # reconstruct per-partition execution order; priorities must be
    # non-increasing inside every partition
    ledger_state = {r["id"]: r["priority"] for r in ledger.state(spark).collect()}
    by_partition: dict[int, list] = {}
    for name in os.listdir(trace):
        pid, t, jid = name.split("-", 2)
        by_partition.setdefault(int(pid), []).append((int(t), ledger_state[jid]))
    assert sum(len(v) for v in by_partition.values()) == 200
    for pid, entries in by_partition.items():
        prios = [p for _, p in sorted(entries)]
        assert prios == sorted(prios, reverse=True), f"partition {pid}: {prios}"


def test_in_progress_visibility_and_crash_window(spark, ledger, tmp_path):
    """emit_in_progress=True: in-flight rows are stamped before
    execution; after a simulated crash (checkpoint rollback) the state
    view would show them in_progress, and replay finishes them."""
    import shutil

    client = JobClient(ledger)
    for i in range(5):
        client.perform_async("noop", i)
    worker = Worker(spark, ledger, rand_int=lambda n: 0, emit_in_progress=True)
    snapshot = str(tmp_path / "ck-snap")
    shutil.copytree(ledger.checkpoint_dir, snapshot)
    worker.process_available()
    assert counts(spark, ledger) == {"success": 5}
    # history contains the in_progress stamps with the worker id
    ip = ledger.log(spark).filter("status = 'in_progress'")
    assert ip.count() == 5
    assert {r["worker_id"] for r in ip.collect()} == {"worker-1"}
    # replay after "crash" re-marks and re-executes; state stays clean
    shutil.rmtree(ledger.checkpoint_dir)
    shutil.copytree(snapshot, ledger.checkpoint_dir)
    worker.process_available()
    assert counts(spark, ledger) == {"success": 5}


def test_prioritise_execution_moves_scheduled_to_front(spark, ledger):
    """Q8 prioritise: a future-scheduled job jumps to the ready queue at
    front priority and executes on the next pass (mirrors the console's
    LREM+RPUSH / ZREM+RPUSH, commands.clj:145-164)."""
    client = JobClient(ledger)
    res = client.perform_at(utcnow() + timedelta(hours=2), "noop")
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    api = LedgerAPI(spark, ledger)
    assert api.dashboard_counts() == {"scheduled": 1}

    assert api.prioritise_execution([res["id"]]) == 1
    worker.process_available()
    job = api.find_by_id(res["id"])
    assert job["status"] == "success" and job["priority"] == 1
    # the stale parked copy must not re-trigger anything
    worker.tick()
    assert api.dashboard_counts() == {"success": 1}


def test_prioritise_execution_skips_missing_and_ineligible(spark, ledger):
    """Q8 skip path (commands.clj:145-164): the reference verifies each id
    exists in the sorted set before moving it — non-existent ids and jobs
    in a non-movable state are skipped, and the returned count reflects
    only the jobs actually moved."""
    client = JobClient(ledger)
    sched = client.perform_at(utcnow() + timedelta(hours=2), "noop")
    done = client.perform_async("noop")
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()  # `done` executes; `sched` parks

    api = LedgerAPI(spark, ledger)
    moved = api.prioritise_execution(
        [sched["id"], done["id"], "no-such-job-id"]
    )
    assert moved == 1  # only the scheduled job is movable
    worker.process_available()
    assert api.find_by_id(sched["id"])["status"] == "success"
    # the completed job was not re-enqueued by the prioritise call
    worker.tick()
    assert api.dashboard_counts() == {"success": 2}


def test_crash_replay_at_least_once_state_converges(spark, ledger, tmp_path):
    """Crash-before-commit contract (W10/orphan-recovery analog): roll
    the checkpoint back to before a processed batch — the batch replays
    (at-least-once, same as goose), duplicate outcome rows land in the
    log, and the latest-seq state view still converges to one clean
    status per job."""
    import shutil

    client = JobClient(ledger)
    for i in range(10):
        client.perform_async("noop", i)
    worker = Worker(spark, ledger, rand_int=lambda n: 0)

    snapshot = str(tmp_path / "ck-snapshot")
    shutil.copytree(ledger.checkpoint_dir, snapshot)
    worker.process_available()
    assert worker.executions == 10

    # "crash": restore the pre-batch checkpoint (commit lost)
    shutil.rmtree(ledger.checkpoint_dir)
    shutil.copytree(snapshot, ledger.checkpoint_dir)
    worker.process_available()

    # replayed: jobs executed again (at-least-once)…
    assert worker.executions == 20
    # …but job state is still exactly one success per job
    assert counts(spark, ledger) == {"success": 10}
    state_ids = [r["id"] for r in LedgerAPI(spark, ledger).state().collect()]
    assert len(state_ids) == len(set(state_ids)) == 10
    # history keeps the duplicate outcome rows (the audit trail)
    assert ledger.log(spark).filter("status = 'success'").count() == 20


def test_effect_once_under_crash_replay(spark, ledger, tmp_path):
    """SURVEY §7.4.3's effect-once proof (round-8): kill between execute
    and commit (checkpoint rolled back after a processed batch), the
    micro-batch REPLAYS — executions double (at-least-once, the goose
    contract) — but a deliberately non-idempotent side effect routed
    through the dedup table (streaming/effects.py) lands exactly once."""
    import shutil

    table = str(tmp_path / "effects")
    out = str(tmp_path / "out.log")
    client = JobClient(ledger)
    for i in range(5):
        client.perform_async("effect-once-append", table, out, f"eff-{i}", f"payload-{i}")
    worker = Worker(spark, ledger, rand_int=lambda n: 0)

    snapshot = str(tmp_path / "ck-snapshot")
    shutil.copytree(ledger.checkpoint_dir, snapshot)
    worker.process_available()
    assert worker.executions == 5

    # crash between execute and commit: the checkpoint never advanced
    shutil.rmtree(ledger.checkpoint_dir)
    shutil.copytree(snapshot, ledger.checkpoint_dir)
    worker.process_available()

    assert worker.executions == 10  # the batch really did replay…
    with open(out) as fh:
        lines = sorted(fh.read().splitlines())
    assert lines == [f"payload-{i}" for i in range(5)]  # …the effect did not
    assert counts(spark, ledger) == {"success": 5}


def test_effect_once_table_protocol(tmp_path):
    """Unit contract: run_once runs-and-marks, a second call
    short-circuits, and mark() is atomic (no partial marker names)."""
    import os

    from goose_spark.streaming.effects import EffectOnceTable

    t = EffectOnceTable(str(tmp_path / "eff"))
    ran = []
    assert t.run_once("e1", lambda: ran.append(1)) is True
    assert t.run_once("e1", lambda: ran.append(1)) is False
    assert ran == [1]
    assert t.applied("e1") and not t.applied("e2")
    # ids of any shape are path-safe (hashed markers)
    assert t.run_once("batch/σ weird: id\n", lambda: None) is True
    assert not any(f.startswith(".tmp-") for f in os.listdir(t.root))
    # locks are scratch — only durable markers accumulate
    assert not any(f.endswith(".lock") for f in os.listdir(t.root))


def test_effect_once_retention_sweep(tmp_path):
    """Markers past the replay horizon are reclaimable; younger markers
    keep protecting their effects."""
    import os
    import time

    from goose_spark.streaming.effects import EffectOnceTable

    t = EffectOnceTable(str(tmp_path / "eff"))
    t.run_once("old-effect", lambda: None)
    old = t._marker("old-effect")
    past = time.time() - 3600
    os.utime(old, (past, past))  # age it beyond the horizon
    t.run_once("fresh-effect", lambda: None)

    assert t.sweep_older_than(600) == 1
    assert not t.applied("old-effect")  # reclaimed…
    assert t.applied("fresh-effect")  # …fresh marker still protects
    ran = []
    assert t.run_once("fresh-effect", lambda: ran.append(1)) is False
    assert ran == []


def test_effect_once_concurrent_racers_run_exactly_once(tmp_path):
    """Check-then-act hole closed: two overlapping executors (an orphan
    re-run racing a slow live worker) must not both run the thunk — the
    flock serializes them and the loser re-checks the marker inside the
    lock. A slow thunk maximizes the overlap window."""
    import threading
    import time

    from goose_spark.streaming.effects import EffectOnceTable

    t = EffectOnceTable(str(tmp_path / "eff"))
    runs = []

    def slow_effect():
        runs.append(threading.get_ident())
        time.sleep(0.3)  # hold the lock across the racer's arrival

    results = [None, None]

    def racer(i):
        results[i] = t.run_once("contended", slow_effect)

    a = threading.Thread(target=racer, args=(0,))
    b = threading.Thread(target=racer, args=(1,))
    a.start()
    time.sleep(0.05)  # ensure a is inside the thunk when b arrives
    b.start()
    a.join()
    b.join()
    assert len(runs) == 1  # the effect body ran once, ever
    assert sorted(results) == [False, True]


def test_ledger_compaction(spark, ledger):
    client = JobClient(ledger)
    for i in range(20):
        client.perform_async("noop", i)
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    # 20 enqueue files + outcome file(s) → history rows = 40
    assert ledger.log(spark).count() == 40
    stats = ledger.compact(spark)
    assert stats["rows_after"] == 20
    assert ledger.log(spark).count() == 20
    assert counts(spark, ledger) == {"success": 20}
    # retention: drop terminal rows entirely
    from datetime import timedelta

    stats2 = ledger.compact(spark, drop_terminal_before=utcnow() + timedelta(days=1))
    assert stats2["rows_after"] == 0


def test_per_batch_linger_compaction(spark, ledger):
    """Per-batch EXPIRE parity (brokers/redis/batch.clj:136-160): each
    terminal batch's rows live for ITS OWN linger_sec after the terminal
    transition — a 0-linger batch is compacted away while a long-linger
    batch in the same ledger survives."""
    client = JobClient(ledger)
    short = client.perform_batch("noop", [(1,), (2,)], linger_sec=0)
    longb = client.perform_batch("noop", [(3,), (4,)], linger_sec=86400)
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    batches = ledger.batches_state()
    assert batches[short["id"]]["status"] == "success"
    assert batches[longb["id"]]["status"] == "success"

    # not yet expired at terminal time − 1s; expired strictly after
    assert ledger.expired_batch_ids(now=utcnow() - timedelta(seconds=1)) == []
    stats = ledger.compact(spark)  # now > terminal + 0s for the short batch
    assert stats["expired_batches"] == 1
    remaining = {r["batch_id"] for r in ledger.log(spark).collect()}
    assert short["id"] not in remaining and longb["id"] in remaining
    # the expired batch's entity rows are gone; the long one's remain
    after = ledger.batches_state()
    assert short["id"] not in after and longb["id"] in after
    # idempotent: a second compaction expires nothing new
    assert ledger.compact(spark)["expired_batches"] == 0


def test_crash_recovery_replays_unacked_batch(spark, ledger, monkeypatch):
    """W10 orphan recovery, exercised not just designed (mirrors
    test/goose/brokers/redis/integration_test.clj:67-86): a worker dies
    mid-commit — executor parts staged, the publishing rename never
    happens — leaving the micro-batch unacked. A restarted worker
    replays exactly that batch; every job completes exactly once."""
    import os

    client = JobClient(ledger)
    for i in range(5):
        client.perform_async("noop", i)

    # SMALL_BATCH_ROWS=0 pins the STAGED (distributed) commit path —
    # this test exercises its torn-staging recovery specifically; the
    # small-batch driver commit has its own crash test below
    monkeypatch.setattr("goose_spark.streaming.worker.SMALL_BATCH_ROWS", 0)
    w1 = Worker(spark, ledger, worker_id="w-crash", rand_int=lambda n: 0)
    orig_append = ledger.append_df

    def dying_append(df):
        # stage the parts (the part of the commit that DID happen), then
        # die before any rename publishes them into log/
        staging = os.path.join(ledger.root, ".staging-simulated-crash")
        df.write.mode("overwrite").parquet(staging)
        raise RuntimeError("simulated crash before commit rename")

    ledger.append_df = dying_append
    with pytest.raises(Exception):
        w1.process_available()
    ledger.append_df = orig_append

    # nothing was published: jobs still enqueued, zero outcome rows, and
    # the torn staging dir is visibly orphaned
    assert counts(spark, ledger) == {"enqueued": 5}
    assert ledger.log(spark).filter("status = 'success'").count() == 0
    assert any(f.startswith(".staging-") for f in os.listdir(ledger.root))

    # restart (same checkpoint = the preservation queue): the unacked
    # micro-batch replays, exactly once
    w2 = Worker(spark, ledger, worker_id="w-recovered", rand_int=lambda n: 0)
    w2.process_available()
    assert w2.executions == 5
    assert counts(spark, ledger) == {"success": 5}
    dups = (
        ledger.log(spark)
        .filter("status = 'success'")
        .groupBy("id")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dups == 0
    # a third pass consumes nothing (the ack committed)
    w2.process_available()
    assert w2.executions == 5


def test_crash_recovery_small_batch_path(spark, ledger):
    """Same W10 contract on the small-batch driver commit: dying before
    the single-file rename publishes nothing; the restarted worker
    replays the unacked micro-batch exactly once."""
    client = JobClient(ledger)
    for i in range(5):
        client.perform_async("noop", i)

    w1 = Worker(spark, ledger, worker_id="w-crash-s", rand_int=lambda n: 0)
    orig = Ledger.append_table

    def dying_append(self, table):
        raise RuntimeError("simulated crash before driver-commit rename")

    Ledger.append_table = dying_append
    try:
        with pytest.raises(Exception):
            w1.process_available()
    finally:
        Ledger.append_table = orig

    assert counts(spark, ledger) == {"enqueued": 5}  # nothing published
    w2 = Worker(spark, ledger, worker_id="w-recovered-s", rand_int=lambda n: 0)
    w2.process_available()
    assert w2.executions == 5
    assert counts(spark, ledger) == {"success": 5}


def test_small_batch_routing(spark, ledger, monkeypatch):
    """Micro-batches at or under SMALL_BATCH_ROWS take the driver-
    compacted path; bigger ones keep the fully distributed path. The
    row estimate comes from the streaming source log + parquet footers
    (no Spark job)."""
    calls = []
    orig = Worker._execute_frame

    def spy(self, pdf):
        calls.append(True)
        return orig(self, pdf)

    monkeypatch.setattr(Worker, "_execute_frame", spy)

    client = JobClient(ledger)
    for i in range(20):
        client.perform_async("noop", i)
    Worker(spark, ledger, rand_int=lambda n: 0).process_available()
    assert calls == [True]  # 20 rows ≤ 10k default → small path
    assert counts(spark, ledger) == {"success": 20}

    calls.clear()
    for i in range(20):
        client.perform_async("noop", 100 + i)
    monkeypatch.setattr("goose_spark.streaming.worker.SMALL_BATCH_ROWS", 5)
    Worker(spark, ledger, rand_int=lambda n: 0).process_available()
    assert calls == []  # 20 rows > 5 → distributed path
    assert counts(spark, ledger) == {"success": 40}


def test_torn_commit_rolls_forward(spark, ledger):
    """Commit manifests make the multi-rename publish transactional: a
    crash AFTER the manifest lands but before all parts are renamed is
    rolled forward by the next Ledger open — readers never see a torn
    prefix as the final state."""
    import json as _json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from goose_spark.streaming.ledger import ARROW_LOG_SCHEMA, Ledger, next_seq

    client = JobClient(ledger)
    client.perform_async("noop", 1)
    # hand-build a torn commit: 2 staged outcome parts, manifest written,
    # only the first part renamed before the "crash"
    staging = os.path.join(ledger.root, ".staging-torn")
    os.makedirs(staging)
    base = next_seq()
    rows = []
    for i, f in enumerate(["part-0.parquet", "part-1.parquet"]):
        tbl = pa.Table.from_pylist(
            [
                {
                    "id": f"torn-{i}",
                    "queue": "default",
                    "execute_fn": "noop",
                    "status": "success",
                    "priority": 0,
                    "enqueued_at": utcnow(),
                    "max_retries": 27,
                    "seq": base + i,
                }
            ],
            schema=ARROW_LOG_SCHEMA,
        )
        pq.write_table(tbl, os.path.join(staging, f))
        rows.append({"src": f, "dst": f"{base + i}-torn.parquet", "rows": 1})
    ledger._write_manifest(base, staging, rows)
    os.replace(
        os.path.join(staging, "part-0.parquet"),
        os.path.join(ledger.log_dir, rows[0]["dst"]),
    )  # the crash: part-1 never renamed, staging never cleaned

    # a fresh Ledger open (the restarted process) completes the commit
    recovered = Ledger(ledger.root)
    assert os.path.exists(os.path.join(recovered.log_dir, rows[1]["dst"]))
    assert not os.path.isdir(staging)
    ids = {r["id"] for r in recovered.log(spark).collect()}
    assert {"torn-0", "torn-1"} <= ids
    # idempotent: opening again changes nothing
    Ledger(ledger.root)
    assert recovered.log(spark).filter("id like 'torn-%'").count() == 2


def test_queue_validation():
    with pytest.raises(ValueError):
        JobClient.__new__(JobClient)  # bypass init for static check
        from goose_spark.client import _validate_queue

        _validate_queue("scheduled-jobs")


def test_scheduled_store_hour_bucket_prune(spark, ledger):
    """Parked rows land in run_at-hour bucket files and the due-sweep
    opens only buckets inside the due horizon — the ZRANGEBYSCORE prune
    (SCALE.md scheduled-store layout)."""
    import os

    client = JobClient(ledger)
    client.perform_at(utcnow() + timedelta(hours=3), "noop")
    client.perform_async("noop")
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()  # parks the scheduled row, runs the async one

    names = [os.path.basename(f) for f in ledger.scheduled_files()]
    assert names and all(n.startswith("h20") for n in names)
    # the +3h bucket is beyond the due horizon → pruned without being read
    assert ledger.scheduled_files(due_before=utcnow()) == []
    # and a horizon past the bucket includes it
    assert len(ledger.scheduled_files(due_before=utcnow() + timedelta(hours=4))) == len(names)
    # sweep with nothing due leaves the future bucket untouched on disk
    worker.tick()
    assert [os.path.basename(f) for f in ledger.scheduled_files()] == names


# --- delete / purge / pop (api/{enqueued,scheduled,dead}_jobs.clj) ----------

def test_delete_jobs_prevents_execution(spark, ledger):
    """Deleting an undelivered job removes it from the queue semantics
    (enqueued_jobs.clj:42-48): it must never execute, and the state view
    reads deleted."""
    client = JobClient(ledger)
    doomed = client.perform_async("noop", "doomed")
    kept = client.perform_async("noop", "kept")
    api = LedgerAPI(spark, ledger)
    assert api.delete_jobs([doomed["id"], "missing-id"]) == 1

    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    assert worker.executions == 1  # only the kept job ran
    assert api.find_by_id(doomed["id"])["status"] == "deleted"
    assert api.find_by_id(kept["id"])["status"] == "success"


def test_delete_batch_members_never_execute(spark, ledger):
    """Batch delete (api/batch.clj:11-38) tombstones every live member
    the way delete_jobs does: none of them executes, all read deleted."""
    client = JobClient(ledger)
    res = client.perform_batch("noop", [(i,) for i in range(4)])
    api = LedgerAPI(spark, ledger)
    assert api.delete_batch(res["id"]) == 4

    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    assert worker.executions == 0
    assert {api.find_by_id(j)["status"] for j in res["job_ids"]} == {"deleted"}
    assert api.dashboard_counts() == {"deleted": 4}


def test_purge_queue(spark, ledger):
    """Queue purge (enqueued_jobs.clj:50-54): every enqueued job of the
    queue is deleted and never executes; other queues are untouched."""
    client = JobClient(ledger)
    for i in range(5):
        client.perform_async("noop", i, queue="purge-me")
    survivor = client.perform_async("noop", "other", queue="default")
    api = LedgerAPI(spark, ledger)
    assert api.purge("purge-me") == 5

    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    assert worker.executions == 1
    assert api.find_by_id(survivor["id"])["status"] == "success"
    assert api.size(queue="purge-me") == 0


def test_pop_dead_returns_and_deletes(spark, ledger):
    client = JobClient(ledger)
    client.perform_async("always-fail", max_retries=0)
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    api = LedgerAPI(spark, ledger)
    popped = api.pop_dead(1)
    assert len(popped) == 1 and popped[0]["execute_fn"] == "always-fail"
    assert api.peek_dead(1) == []  # gone (ZPOPMIN semantics)


def test_purge_all_and_get_by_range(spark, ledger):
    client = JobClient(ledger)
    for i in range(8):
        client.perform_async("noop", i)
    client.perform_at(utcnow() + timedelta(hours=1), "noop")
    api = LedgerAPI(spark, ledger)

    # LRANGE start..stop inclusive (enqueued_jobs.clj:56-60)
    window = api.get_by_range("default", 2, 4)
    assert len(window) == 3
    all_ids = [j["id"] for j in api.get_by_range("default", 0, 99)]
    assert [j["id"] for j in window] == all_ids[2:5]

    # scheduled purge spans scheduled+retrying across queues
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    assert api.purge_scheduled() == 1
    worker.tick()
    st = api.dashboard_counts()
    assert st.get("scheduled", 0) == 0 and st["success"] == 8


def test_queue_scoped_workers(spark, ledger):
    """Queue binding (worker.clj:27 `:queue` opt): two scoped workers
    share one ledger, each with its own checkpoint group; each executes
    only its queue, and a scheduled job parked in the other queue is
    left for that queue's worker to sweep."""
    client = JobClient(ledger)
    for i in range(3):
        client.perform_async("noop", i, queue="alpha")
    for i in range(2):
        client.perform_async("noop", i, queue="beta")
    # past-due → immediate front-priority enqueue (S2), still beta-only
    client.perform_at(utcnow() - timedelta(seconds=5), "noop", queue="beta")

    wa = Worker(spark, ledger, worker_id="w-alpha", rand_int=lambda n: 0,
                queues=["alpha"])
    wa.process_available()
    assert wa.executions == 3  # only alpha jobs; beta untouched
    api = LedgerAPI(spark, ledger)
    st = api.dashboard_counts()
    assert st["success"] == 3 and st["enqueued"] == 3

    wb = Worker(spark, ledger, worker_id="w-beta", rand_int=lambda n: 0,
                queues=["beta"])
    wb.process_available()  # consumes the whole log on ITS checkpoint
    assert wb.executions == 3  # 2 async + 1 past-due scheduled
    st = api.dashboard_counts()
    assert st == {"success": 6}


def test_scheduler_role_single_owner(spark, ledger):
    """Scheduled store + cron registry are single-writer: scoped workers
    don't sweep (their due jobs come back through the owner's sweep as
    front-priority enqueued rows, which the scoped worker then consumes)."""
    client = JobClient(ledger)
    client.perform_at(utcnow() + timedelta(hours=1), "noop", queue="alpha")
    owner = Worker(spark, ledger, worker_id="owner", rand_int=lambda n: 0)
    scoped = Worker(spark, ledger, worker_id="w-a", rand_int=lambda n: 0,
                    queues=["alpha"])
    assert owner.scheduler_role and not scoped.scheduler_role

    owner.process_available()  # parks the scheduled alpha job
    scoped.process_available()  # scoped tick is a no-op on the store
    files_before = sorted(ledger.scheduled_files())
    scoped.tick()
    assert sorted(ledger.scheduled_files()) == files_before

    # make it due; only the owner's sweep re-enqueues it
    import pyarrow as pa
    from goose_spark.streaming.ledger import ARROW_LOG_SCHEMA

    files = ledger.scheduled_files()
    pdf = ledger.read_scheduled().to_pandas()
    pdf["run_at"] = utcnow() - timedelta(seconds=1)
    ledger.replace_scheduled(
        pa.Table.from_pandas(pdf, schema=ARROW_LOG_SCHEMA, preserve_index=False), files
    )
    owner.tick()
    # the owner does NOT execute a claimed queue's job — it re-enqueues
    # it into the log for the owning fleet (executing here would run it
    # twice: the scoped worker's checkpoint also consumes the log)
    api = LedgerAPI(spark, ledger)
    assert api.dashboard_counts() == {"enqueued": 1}
    owner.process_available()  # owner's stream skips the claimed queue
    assert api.dashboard_counts() == {"enqueued": 1}
    scoped.process_available()  # the owning fleet consumes it — exactly once
    assert api.dashboard_counts() == {"success": 1}
    assert scoped.executions == 1 and owner.executions == 0


def test_mixed_topology_no_double_execution(spark, ledger):
    """The default mixed topology (unscoped scheduler-owner + scoped
    fleets) must execute each job exactly once: the owner and the scoped
    worker read the same log on separate checkpoints, so the owner must
    skip claimed queues entirely."""
    client = JobClient(ledger)
    for i in range(3):
        client.perform_async("noop", i, queue="alpha")
    client.perform_async("noop", 99)  # default queue → owner's
    owner = Worker(spark, ledger, worker_id="owner", rand_int=lambda n: 0)
    scoped = Worker(spark, ledger, worker_id="w-a", rand_int=lambda n: 0,
                    queues=["alpha"])

    owner.process_available()
    scoped.process_available()
    owner.process_available()  # second pass: nothing new to consume

    assert owner.executions == 1  # only the default-queue job
    assert scoped.executions == 3  # only alpha, once each
    api = LedgerAPI(spark, ledger)
    assert api.dashboard_counts() == {"success": 4}
    # success rows per job id: exactly one each (the double-run signature
    # would be 2 success rows for alpha ids)
    log = spark.read.parquet(ledger.log_dir)
    from pyspark.sql import functions as F
    dup = (log.filter(F.col("status") == "success").groupBy("id")
           .count().filter(F.col("count") > 1).count())
    assert dup == 0


def test_scoped_scheduler_reenqueues_other_queues(spark, ledger):
    """A scoped worker holding the scheduler role sweeps the shared
    store but executes only its own queues; other queues' due rows come
    back as enqueued log rows instead of staying parked forever."""
    client = JobClient(ledger)
    client.perform_async("noop", queue="alpha")
    client.perform_at(utcnow() + timedelta(hours=1), "noop", queue="gamma")
    scoped = Worker(spark, ledger, worker_id="w-a", rand_int=lambda n: 0,
                    queues=["alpha"], scheduler_role=True)
    scoped.process_available()  # executes alpha; parks the gamma schedule
    assert scoped.executions == 1

    import pyarrow as pa
    from goose_spark.streaming.ledger import ARROW_LOG_SCHEMA

    files = ledger.scheduled_files()
    pdf = ledger.read_scheduled().to_pandas()
    pdf["run_at"] = utcnow() - timedelta(seconds=1)
    ledger.replace_scheduled(
        pa.Table.from_pandas(pdf, schema=ARROW_LOG_SCHEMA, preserve_index=False), files
    )
    scoped.tick()  # sweeps gamma due row → re-enqueued, NOT executed
    api = LedgerAPI(spark, ledger)
    st = api.dashboard_counts()
    assert st.get("scheduled", 0) == 0  # no longer parked
    assert st.get("enqueued", 0) >= 1  # gamma came back as an enqueued row
    gamma = Worker(spark, ledger, worker_id="w-g", rand_int=lambda n: 0,
                   queues=["gamma"])
    gamma.process_available()
    assert gamma.executions == 1
    assert api.dashboard_counts().get("scheduled", 0) == 0


# --- time travel (Delta VERSION/TIMESTAMP AS OF analog) ---------------------

def test_state_as_of_cursor(spark, ledger):
    client = JobClient(ledger)
    client.perform_async("noop", 1)
    client.perform_async("noop", 2)
    cursor = ledger.mark()
    client.perform_async("noop", 3)
    api = LedgerAPI(spark, ledger)
    assert api.state().count() == 3
    past = api.state_as_of(seq=cursor)
    assert past.count() == 2
    # the third job does not exist at the cursor
    ids_then = {r["id"] for r in past.collect()}
    ids_now = {r["id"] for r in api.state().collect()}
    assert ids_then < ids_now


def test_state_as_of_sees_pre_execution_status(spark, ledger):
    client = JobClient(ledger)
    client.perform_async("noop", 1)
    cursor = ledger.mark()
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    api = LedgerAPI(spark, ledger)
    assert {r["status"] for r in api.state().collect()} == {"success"}
    assert {r["status"] for r in api.state_as_of(seq=cursor).collect()} == {"enqueued"}
    # wall-clock variant: an instant far in the future == current state
    from datetime import datetime, timedelta

    future = datetime.now() + timedelta(days=1)
    assert {r["status"] for r in api.state_as_of(ts=future).collect()} == {"success"}


def test_state_as_of_respects_compaction_horizon(spark, ledger):
    client = JobClient(ledger)
    client.perform_async("noop", 1)
    cursor = ledger.mark()
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    ledger.compact(spark)
    api = LedgerAPI(spark, ledger)
    # the pre-execution version was vacuumed: like Delta beyond its
    # retention window, the old cursor is refused rather than answered
    # with wrong history
    with pytest.raises(ValueError, match="vacuumed"):
        api.state_as_of(seq=cursor)
    # cursors at/after the compaction floor still work
    assert api.state_as_of(seq=ledger.mark()).count() == 1


def test_state_as_of_requires_exactly_one_cursor(spark, ledger):
    api = LedgerAPI(spark, ledger)
    with pytest.raises(ValueError):
        api.state_as_of()
    with pytest.raises(ValueError):
        api.state_as_of(seq=1, ts=1.0)


# --- error/death handlers + skip-dead-queue (retry.clj:47-55) ---------------

def _handler_log(tag):
    import tempfile
    return os.path.join(tempfile.gettempdir(), f"goose-handler-{tag}.log")


def test_error_and_death_handlers_fire(spark, ledger, tmp_path):
    """Handlers resolve from the fn registry and run executor-side: a
    failing job calls error_handler per retry-able failure and
    death_handler exactly once on death."""
    log = str(tmp_path / "handlers.log")
    client = JobClient(ledger)
    # the registry's recording handlers write to the path in the job's
    # first arg (handlers must be module-registered to resolve on
    # executor workers)
    res = client.perform_async("always-fail", log, max_retries=1)
    worker = Worker(spark, ledger, rand_int=lambda n: 0,
                    retry_delay_fn=lambda n: 0,
                    error_handler="record-error-handler",
                    death_handler="record-death-handler")
    worker.process_available()   # failure 1 → retrying (error handler)
    worker.tick()
    worker.process_available()   # failure 2 → dead (death handler)
    lines = open(log).read().strip().splitlines()
    errors = [l for l in lines if l.startswith("error")]
    deaths = [l for l in lines if l.startswith("death")]
    assert len(errors) == 1 and res["id"] in errors[0]
    assert len(deaths) == 1 and res["id"] in deaths[0]
    assert "RuntimeError" in deaths[0]


def test_skip_dead_queue(spark, ledger):
    """skip_dead_queue (retry.clj:55): a dying job is executed and
    accounted but never enters the dead-queue surfaces."""
    client = JobClient(ledger)
    client.perform_async("always-fail", max_retries=0)
    client.perform_async("noop", 1)
    worker = Worker(spark, ledger, rand_int=lambda n: 0,
                    retry_delay_fn=lambda n: 0, skip_dead_queue=True)
    worker.process_available()
    api = LedgerAPI(spark, ledger)
    st = api.dashboard_counts()
    assert st.get("dead", 0) == 0
    assert st["success"] == 1
    assert api.peek_dead(5) == []


def test_handler_exception_never_breaks_outcome(spark, ledger):
    client = JobClient(ledger)
    client.perform_async("always-fail", max_retries=0)
    # a handler that raises when called must be swallowed executor-side
    # without corrupting the outcome row (an UNRESOLVABLE handler name
    # now fails at Worker construction — see test_specs.py)
    worker = Worker(spark, ledger, rand_int=lambda n: 0,
                    retry_delay_fn=lambda n: 0,
                    death_handler="raising-handler")
    worker.process_available()
    api = LedgerAPI(spark, ledger)
    assert api.dashboard_counts()["dead"] == 1  # outcome row intact


def test_torn_compaction_completes_deletes(spark, ledger):
    """A compaction crash AFTER the compacted parts publish but BEFORE
    the superseded files are deleted leaves duplicate history rows —
    which the max-seq state view collapses — and the next Ledger open
    finishes the deletes (the OPTIMIZE-txn roll-forward)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from goose_spark.streaming.ledger import Ledger, next_seq

    client = JobClient(ledger)
    for i in range(3):
        client.perform_async("noop", i)
    old_files = sorted(glob.glob(os.path.join(ledger.log_dir, "*.parquet")))
    assert len(old_files) == 3

    # stage the compacted snapshot (the state view, one part)
    staging = os.path.join(ledger.root, ".compact-torn")
    os.makedirs(staging)
    state = ledger.state(spark)
    state.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(
        f for f in sorted(os.listdir(staging)) if f.endswith(".parquet")
    )
    base = next_seq()
    n = pq.ParquetFile(os.path.join(staging, part)).metadata.num_rows
    entries = [{"src": part, "dst": f"{base}-compacted.parquet", "rows": n}]
    ledger._write_manifest(base, staging, entries, deletes=old_files)
    # the crash: compacted part renamed in, deletes never executed
    os.replace(
        os.path.join(staging, part),
        os.path.join(ledger.log_dir, entries[0]["dst"]),
    )

    # duplicate rows visible in the raw log, but the state view already
    # collapses them — readers are never wrong mid-crash
    assert len(glob.glob(os.path.join(ledger.log_dir, "*.parquet"))) == 4
    assert ledger.state(spark).count() == 3

    # restart completes the txn: superseded files dropped
    recovered = Ledger(ledger.root)
    left = sorted(glob.glob(os.path.join(recovered.log_dir, "*.parquet")))
    assert left == [os.path.join(recovered.log_dir, entries[0]["dst"])]
    assert recovered.state(spark).count() == 3
    ids = {r["id"] for r in recovered.state(spark).collect()}
    assert len(ids) == 3


def test_concurrent_producers_never_lose_rows(spark, ledger):
    """Multi-writer enqueue safety: N threads each append through their
    own JobClient (unique staged filenames, atomic renames); every job
    lands exactly once. The reference gets this from Redis' single
    dispatcher — the ledger gets it from the filesystem rename contract."""
    import threading

    N_THREADS, PER = 8, 200

    def produce(k):
        c = JobClient(ledger)
        for i in range(PER):
            c.perform_async("noop", k * PER + i)

    threads = [threading.Thread(target=produce, args=(k,)) for k in range(N_THREADS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    log = ledger.log(spark)
    assert log.count() == N_THREADS * PER
    assert log.select("id").distinct().count() == N_THREADS * PER
    # seqs are unique too (the ordering key never collides)
    assert log.select("seq").distinct().count() == N_THREADS * PER


def test_large_args_payload_roundtrip(spark, ledger):
    """A ~1 MB JSON args payload survives enqueue → columnar ledger →
    Arrow executor → outcome commit intact (goose nippy-serializes blobs
    of arbitrary size; the engine's JSON-in-string column must too)."""
    big = "x" * (1 << 20)
    client = JobClient(ledger)
    res = client.perform_async("noop", big, {"nested": [1, 2, 3]})
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    api = LedgerAPI(spark, ledger)
    row = api.find_by_id(res["id"])
    assert row["status"] == "success"
    args = json.loads(row["args"])
    assert args[0] == big and args[1] == {"nested": [1, 2, 3]}
