"""W7 due-sweep scale tests: the sweep must never materialize the whole
scheduled backlog in driver memory. Reference contract: pop at most
``redis-scheduled-jobs-pop-limit`` (50) jobs per poll
(src/goose/defaults.clj:49, src/goose/brokers/redis/commands.clj:219-228)
and re-poll immediately while due jobs are found
(src/goose/brokers/redis/scheduler.clj:36-48). The engine's analog:
``Ledger.pop_due`` bounds one pop at ``SCHEDULE_POP_LIMIT`` rows (plus at
most one row-group of slack) and ``Worker._sweep_due`` loops until dry."""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from goose_spark.api import LedgerAPI
from goose_spark.functions.backoff import default_retry_delay_sec
from goose_spark.schema import PRIORITY_BACK, STATUS_SCHEDULED
from goose_spark.streaming.ledger import ARROW_LOG_SCHEMA, Ledger, next_seq
from goose_spark.streaming.worker import Worker


def utcnow():
    return datetime.now(timezone.utc).replace(tzinfo=None)


@pytest.fixture()
def ledger(tmp_path):
    return Ledger(str(tmp_path / "ledger"))


def _scheduled_table(n: int, run_at: datetime) -> pa.Table:
    """n synthetic parked rows, all with the same run_at."""
    now = utcnow()
    cols = {
        "id": [str(uuid.uuid4()) for _ in range(n)],
        "queue": ["default"] * n,
        "execute_fn": ["noop"] * n,
        "args": ["[]"] * n,
        "status": [STATUS_SCHEDULED] * n,
        "priority": [PRIORITY_BACK] * n,
        "enqueued_at": [now] * n,
        "run_at": [run_at] * n,
        "cron_name": [None] * n,
        "batch_id": [None] * n,
        "retry_count": [0] * n,
        "max_retries": [27] * n,
        "retry_queue": [None] * n,
        "error": [None] * n,
        "first_failed_at": [None] * n,
        "last_retried_at": [None] * n,
        "died_at": [None] * n,
        "worker_id": [None] * n,
    }
    base = next_seq()
    cols["seq"] = [base + i for i in range(n)]
    return pa.Table.from_arrays(
        [pa.array(cols[f.name], type=f.type) for f in ARROW_LOG_SCHEMA],
        schema=ARROW_LOG_SCHEMA,
    )


def _park_and_log(ledger: Ledger, table: pa.Table) -> None:
    """Park rows AND append the matching log rows, so the sweep's
    stale-guard sees each parked row as its job's latest state."""
    ledger.park(table)
    tmp = os.path.join(ledger.log_dir, f".tmp-{uuid.uuid4().hex}.parquet")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(ledger.log_dir, f"{next_seq()}-{uuid.uuid4().hex}.parquet"))


def _drain_pops(ledger: Ledger, now, limit: int):
    """Pop until dry; return the list of per-pop row counts and all ids."""
    sizes, ids = [], []
    while True:
        tbl, files, more = ledger.pop_due(now, limit)
        if tbl is None:
            if files:
                ledger.replace_scheduled(None, files)
            break
        sizes.append(tbl.num_rows)
        ids.extend(tbl["id"].to_pylist())
        ledger.replace_scheduled(None, files)
        if not more and not ledger.scheduled_files(due_before=now):
            break
    return sizes, ids


# --- pure-ledger pop semantics ---------------------------------------------

def test_pop_due_bounded_whole_files(ledger):
    past = utcnow() - timedelta(hours=1)
    for _ in range(5):
        ledger.park(_scheduled_table(40, past))
    sizes, ids = _drain_pops(ledger, utcnow(), limit=100)
    # each pop ≤ limit (whole 40-row files pack under it), union is exact
    assert all(s <= 100 for s in sizes)
    assert len(sizes) >= 2  # genuinely chunked, not one big read
    assert len(ids) == 200 and len(set(ids)) == 200
    assert ledger.scheduled_files() == []


def test_pop_due_parity_limit_50(ledger):
    # goose's literal pop limit (defaults.clj:49) must work too
    past = utcnow() - timedelta(minutes=5)
    for _ in range(4):
        ledger.park(_scheduled_table(50, past))
    sizes, ids = _drain_pops(ledger, utcnow(), limit=50)
    assert all(s <= 50 for s in sizes)
    assert len(ids) == 200 and len(set(ids)) == 200


def test_pop_due_splits_oversized_file(ledger, monkeypatch):
    # one park file far bigger than the limit: pop must consume head row
    # groups only and stream the tail into a replacement file
    monkeypatch.setattr(Ledger, "PARK_ROW_GROUP", 1_000)
    past = utcnow() - timedelta(minutes=5)
    ledger.park(_scheduled_table(10_000, past))
    assert len(ledger.scheduled_files()) == 1
    tbl, files, more = ledger.pop_due(utcnow(), limit=2_500)
    assert more is True
    assert 2_500 <= tbl.num_rows <= 2_500 + 1_000  # ≤ one row-group slack
    ledger.replace_scheduled(None, files)
    # tail survived in the replacement file
    rest = ledger.read_scheduled()
    assert rest.num_rows == 10_000 - tbl.num_rows
    sizes, ids = _drain_pops(ledger, utcnow(), limit=2_500)
    assert all(s <= 3_500 for s in sizes)
    assert len(set(ids)) == len(ids) == rest.num_rows


def test_pop_due_stats_prune_future_rows(ledger):
    # rows due later inside the CURRENT hour bucket: min-stats skip the
    # file unread — not consumed, and `more` stays False (no spin)
    future = utcnow() + timedelta(seconds=1800)
    if future.hour != utcnow().hour:
        future = utcnow() + timedelta(seconds=5)  # hour boundary: stay in-bucket
    ledger.park(_scheduled_table(30, future))
    tbl, files, more = ledger.pop_due(utcnow(), limit=100)
    assert tbl is None and files == [] and more is False
    assert len(ledger.scheduled_files()) == 1  # left in place


# --- end-to-end: mass-retry-wave drain under a driver-memory cap -----------

def test_sweep_massive_backlog_bounded(spark, ledger, monkeypatch):
    """~500k rows all due now (the mass-retry-wave shape) drain through
    tick() in bounded pops — no single materialization over the full
    backlog, no read_scheduled() call at all."""
    N, LIMIT = 500_000, 50_000
    past = utcnow() - timedelta(hours=2)
    # park in several files (micro-batches would produce many) plus one
    # oversized file to exercise the row-group split path under load
    _park_and_log(ledger, _scheduled_table(N - 200_000, past))
    _park_and_log(ledger, _scheduled_table(100_000, past))
    _park_and_log(ledger, _scheduled_table(100_000, past))

    pops: list[int] = []
    orig_pop = Ledger.pop_due

    def spy(self, now, limit):
        tbl, files, more = orig_pop(self, now, limit)
        pops.append(0 if tbl is None else tbl.num_rows)
        return tbl, files, more

    def no_full_read(self):
        raise AssertionError("sweep called read_scheduled() — unbounded backlog read")

    monkeypatch.setattr(Ledger, "pop_due", spy)
    monkeypatch.setattr(Ledger, "read_scheduled", no_full_read)

    monkeypatch.setattr("goose_spark.streaming.worker.SCHEDULE_POP_LIMIT", LIMIT)
    worker = Worker(spark, ledger, retry_delay_fn=lambda n: default_retry_delay_sec(n, lambda _: 0))
    worker.tick()

    assert max(pops) <= LIMIT + Ledger.PARK_ROW_GROUP  # driver-memory cap
    assert len([p for p in pops if p]) >= N // (LIMIT + Ledger.PARK_ROW_GROUP)
    assert ledger.scheduled_files() == []  # fully drained in one tick
    assert LedgerAPI(spark, ledger).dashboard_counts() == {"success": N}
