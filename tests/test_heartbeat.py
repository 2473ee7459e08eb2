"""W9 worker process registry / heartbeat — parity with the reference's
process-set + heartbeat-key semantics (heartbeat.clj:7-44): register on
start, beat refreshes expiry, stale beats read as dead, graceful stop
deregisters, and the console home surfaces the live count."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from goose_spark.api import LedgerAPI
from goose_spark.client import JobClient
from goose_spark.console import Console
from goose_spark.functions.backoff import default_retry_delay_sec
from goose_spark.streaming.heartbeat import _SCHEMA, ProcessRegistry
from goose_spark.streaming.worker import Worker


def _stamp_beat(reg: ProcessRegistry, worker_id: str, age_sec: int) -> None:
    """Backdate a worker's beat (the expiry clock) by age_sec."""
    old = datetime.now(timezone.utc).replace(tzinfo=None) - timedelta(seconds=age_sec)
    table = pa.Table.from_pylist(
        [{"worker_id": worker_id, "registered_at": old, "last_beat_at": old}],
        schema=_SCHEMA,
    )
    pq.write_table(table, reg._path(worker_id))


def test_register_beat_alive_expire(tmp_path):
    reg = ProcessRegistry(str(tmp_path / "ledger"))
    reg.register("w1")
    assert reg.alive("w1") and reg.workers_count() == 1

    # stale beat → dead (heartbeat key expired), still listed
    _stamp_beat(reg, "w1", age_sec=120)
    assert not reg.alive("w1")
    assert reg.workers_count() == 0
    listed = reg.workers()
    assert len(listed) == 1 and listed[0]["alive"] is False

    # a fresh beat revives it and preserves registration time
    before = reg.workers()[0]["registered_at"]
    reg.beat("w1")
    after = reg.workers()[0]
    assert after["alive"] is True and after["registered_at"] == before

    reg.deregister("w1")
    assert reg.workers() == [] and not reg.alive("w1")


def test_worker_lifecycle_registers_and_beats(spark, tmp_path):
    root = str(tmp_path / "ledger")
    client = JobClient(root)
    client.perform_async("noop")
    worker = Worker(spark, root, worker_id="beat-worker", retry_delay_fn=lambda n: default_retry_delay_sec(n, lambda _: 0))
    api = LedgerAPI(spark, root)
    assert [w["worker_id"] for w in api.workers()] == ["beat-worker"]

    # a tick refreshes the beat (the timer thread's cadence in start())
    _stamp_beat(worker.registry, "beat-worker", age_sec=120)
    assert api.workers_count() == 0
    worker.process_available()  # runs a tick at the end
    assert api.workers_count() == 1

    home = Console(api).page_home()
    assert home["workers"] == 1


def test_continuous_stop_deregisters(spark, tmp_path):
    root = str(tmp_path / "ledger")
    JobClient(root).perform_async("noop")
    worker = Worker(spark, root, worker_id="cont-worker", retry_delay_fn=lambda n: default_retry_delay_sec(n, lambda _: 0))
    handle = worker.start(trigger_sec=0.5)
    try:
        assert worker.registry.alive("cont-worker")
    finally:
        handle.stop()
    # graceful shutdown removes the process from the set (heartbeat.clj:35-44)
    assert worker.registry.workers() == []
