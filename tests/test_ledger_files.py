"""The ledger's side stores on disk: every file kind has one schema, and a
staged temp file (``.tmp-*.parquet``, complete or torn) is invisible to
every reader until its rename publishes it."""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from goose_spark.api import LedgerAPI
from goose_spark.client import JobClient
from goose_spark.functions.backoff import default_retry_delay_sec
from goose_spark.streaming.ledger import (
    ARROW_BATCH_SCHEMA,
    ARROW_CRON_SCHEMA,
    ARROW_LOG_SCHEMA,
    Ledger,
    next_seq,
)
from goose_spark.streaming.worker import Worker


def utcnow():
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _plant(directory: str, table: pa.Table) -> None:
    """A complete but un-renamed temp file plus a torn one (half its
    bytes), as a writer that died mid-publish leaves them."""
    pq.write_table(table, os.path.join(directory, ".tmp-complete.parquet"))
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    data = sink.getvalue().to_pybytes()
    with open(os.path.join(directory, ".tmp-torn.parquet"), "wb") as fh:
        fh.write(data[: len(data) // 2])


def _log_row(job_id: str, **over) -> dict:
    row = {"id": job_id, "queue": "default", "execute_fn": "noop", "args": "[]",
           "status": "enqueued", "priority": 0, "enqueued_at": utcnow(),
           "max_retries": 0, "seq": next_seq()}
    row.update(over)
    return row


def test_staged_temp_files_are_invisible(spark, tmp_path):
    ledger = Ledger(str(tmp_path / "ledger"))
    client = JobClient(ledger)
    batch = client.perform_batch("noop", [(i,) for i in range(3)], callback_fn="noop")
    later = client.perform_in_sec(3600, "noop")

    # a terminal row for the batch, a phantom job and a tombstone on a
    # batch member — each would change the committed state if read
    terminal = dict(ledger.batches_state()[batch["id"]], status="success", seq=next_seq())
    _plant(ledger.batches_dir, pa.Table.from_pylist([terminal], schema=ARROW_BATCH_SCHEMA))
    _plant(ledger.log_dir, pa.Table.from_pylist([_log_row("phantom")], schema=ARROW_LOG_SCHEMA))
    _plant(ledger.tombstones_dir, pa.table({
        "id": pa.array([batch["job_ids"][0]]),
        "max_seq": pa.array([Ledger.TOMB_ALL], type=pa.int64()),
    }))

    worker = Worker(spark, ledger, retry_delay_fn=lambda n: default_retry_delay_sec(n, lambda _: 0))
    worker.process_available()  # runs the batch, parks the scheduled job

    # the parked row made due in a staged copy: read, it would run early
    [parked] = ledger.read_scheduled().to_pylist()
    _plant(ledger.scheduled_dir, pa.Table.from_pylist(
        [dict(parked, run_at=utcnow() - timedelta(minutes=1))], schema=ARROW_LOG_SCHEMA))

    worker.process_available()  # runs the batch callback, sweeps
    worker.tick()

    state = {r["id"]: r["status"] for r in ledger.state(spark).collect()}
    callback = f"callback-{batch['id']}"
    assert state == {**{j: "success" for j in batch["job_ids"]},
                     later["id"]: "scheduled", callback: "success"}
    assert ledger.log(spark).filter(f"id = '{callback}'").count() == 2
    assert ledger.batches_state()[batch["id"]]["status"] == "success"
    assert ledger.expired_batch_ids() == []
    assert not any(os.path.basename(f).startswith(".") for f in ledger.scheduled_files())
    assert ledger.read_scheduled().num_rows == 1


def test_one_schema_per_file_kind(spark, tmp_path):
    ledger = Ledger(str(tmp_path / "ledger"))
    client = JobClient(ledger)
    frozen = utcnow() + timedelta(minutes=2)
    worker = Worker(spark, ledger, retry_delay_fn=lambda n: default_retry_delay_sec(n, lambda _: 0), now_fn=lambda: frozen)

    client.perform_every("every-minute", "* * * * *", "noop")
    assert pq.read_schema(ledger.cron_path) == ARROW_CRON_SCHEMA
    worker.tick()  # fires the entry and re-arms it
    [entry] = ledger.read_cron().to_pylist()
    assert entry["last_run_at"] is not None and entry["next_run_at"] > frozen
    assert pq.read_schema(ledger.cron_path) == ARROW_CRON_SCHEMA
    assert LedgerAPI(spark, ledger).cron_delete("every-minute")
    assert pq.read_schema(ledger.cron_path) == ARROW_CRON_SCHEMA
    assert ledger.read_cron().num_rows == 0

    batch = client.perform_batch("noop", [(1,), (2,)], callback_fn="noop")
    worker.process_available()
    files = sorted(f for f in os.listdir(ledger.batches_dir) if f.endswith(".parquet"))
    assert len(files) == 2  # creation row + terminal update
    for f in files:
        assert pq.read_schema(os.path.join(ledger.batches_dir, f)) == ARROW_BATCH_SCHEMA
    assert ledger.batches_state()[batch["id"]]["status"] == "success"
