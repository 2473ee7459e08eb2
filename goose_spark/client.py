"""Client API — producer side (S1–S5 in SURVEY §2.1).

Mirrors goose's client surface (``src/goose/client.clj:60-208``):
``perform_async`` / ``perform_at`` / ``perform_in_sec`` /
``perform_every`` / ``perform_batch``. Deliberately Spark-free — a
producer appends parquet rows to the ledger log exactly as a goose
client LPUSHes blobs to Redis; only workers and queries need a cluster.
"""

from __future__ import annotations

import json
import uuid
from datetime import datetime, timedelta, timezone

from goose_spark import specs
from goose_spark.functions import cron as cronlib
from goose_spark.schema import (
    DEFAULT_MAX_RETRIES,
    PRIORITY_BACK,
    PRIORITY_FRONT,
    STATUS_ENQUEUED,
    STATUS_SCHEDULED,
)
from goose_spark.streaming.ledger import Ledger, next_seq

# Protected queue names — parity with src/goose/defaults.clj:22.
PROTECTED_QUEUES = ("scheduled-jobs", "dead-jobs", "cron-schedules")
MAX_QUEUE_LEN = 200  # src/goose/specs.clj:97-100


def _now() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _validate_queue(queue: str) -> None:
    """Spec-gate parity (src/goose/specs.clj:97-100): <200 chars, not a
    protected internal name."""
    if not isinstance(queue, str) or not queue or len(queue) >= MAX_QUEUE_LEN:
        raise ValueError(f"invalid queue name: {queue!r}")
    if queue in PROTECTED_QUEUES:
        raise ValueError(f"queue {queue!r} is protected")


#: job-row fields a caller may override — anything else would be
#: silently dropped by the log schema, so the spec gate rejects it
#: (goose's retry-opts s/map-of key restriction, specs.clj:130-137)
_OVERRIDABLE = {
    "id", "status", "priority", "enqueued_at", "run_at", "cron_name",
    "batch_id", "retry_count", "error", "first_failed_at",
    "last_retried_at", "died_at", "worker_id",
}


class JobClient:
    """Producer client. ``instrument=False`` disables the enqueue-time
    spec gate (specs.clj:241-254 instrument/unstrument parity) — unlike
    goose the gate defaults ON: the engine's checks are cheap Python
    predicates, not spec conformance walks."""

    def __init__(self, ledger: Ledger | str, queue: str = "default",
                 max_retries: int = DEFAULT_MAX_RETRIES, retry_queue: str | None = None,
                 instrument: bool = True):
        self.ledger = ledger if isinstance(ledger, Ledger) else Ledger(ledger)
        self.queue = queue
        self.max_retries = max_retries
        self.retry_queue = retry_queue
        self.instrument = instrument
        if instrument:
            # ::client-opts (specs.clj:171): defaults checked once here,
            # per-call overrides re-checked in _job_row
            _validate_queue(queue)
            specs.validate_retry_opts(max_retries, retry_queue, _validate_queue)

    # -- internals ----------------------------------------------------------

    def _job_row(self, execute_fn: str, args: tuple, queue: str | None, **over) -> dict:
        q = queue or self.queue
        _validate_queue(q)
        max_retries = over.pop("max_retries", self.max_retries)
        retry_queue = over.pop("retry_queue", self.retry_queue)
        if self.instrument:
            specs.validate_fn_name(execute_fn)
            args_json = specs.validate_args(args)
            specs.validate_retry_opts(max_retries, retry_queue, _validate_queue)
            unknown = set(over) - _OVERRIDABLE
            if unknown:
                raise specs.SpecError(
                    f"unknown job option(s) {sorted(unknown)}; "
                    f"allowed: {sorted(_OVERRIDABLE)}"
                )
        else:
            args_json = json.dumps(list(args))
        row = {
            "id": str(uuid.uuid4()),
            "queue": q,
            "execute_fn": execute_fn,
            "args": args_json,
            "status": STATUS_ENQUEUED,
            "priority": PRIORITY_BACK,
            "enqueued_at": _now(),
            "max_retries": max_retries,
            "retry_queue": retry_queue,
        }
        row.update(over)
        return row

    # -- S1: perform-async (src/goose/client.clj:60-80) ----------------------

    def perform_async(self, execute_fn: str, *args, queue: str | None = None, **over) -> dict:
        row = self._job_row(execute_fn, args, queue, **over)
        self.ledger.append_rows([row])
        return {"id": row["id"]}

    # -- S2: perform-at (src/goose/client.clj:82-105) -------------------------

    def perform_at(self, run_at: datetime, execute_fn: str, *args,
                   queue: str | None = None, **over) -> dict:
        if self.instrument:
            specs.validate_instant(run_at)  # ::instant, specs.clj:170
        if run_at <= _now():
            # past-due → straight to the front of the ready queue
            # (scheduler.clj:15-17 past-due? → enqueue-front)
            row = self._job_row(execute_fn, args, queue, priority=PRIORITY_FRONT, **over)
        else:
            row = self._job_row(execute_fn, args, queue, status=STATUS_SCHEDULED,
                                run_at=run_at, **over)
        self.ledger.append_rows([row])
        return {"id": row["id"]}

    # -- S3: perform-in-sec (src/goose/client.clj:107-129) --------------------

    def perform_in_sec(self, sec: float, execute_fn: str, *args,
                       queue: str | None = None, **over) -> dict:
        if self.instrument and (isinstance(sec, bool) or not isinstance(sec, (int, float))):
            raise specs.SpecError(f"sec must be a number, got {sec!r}")
        return self.perform_at(_now() + timedelta(seconds=sec), execute_fn, *args,
                               queue=queue, **over)

    # -- S4: perform-every — idempotent cron registration ----------------------
    # (src/goose/client.clj:131-167; registry txn src/goose/brokers/redis/cron.clj:38-50)

    def perform_every(self, cron_name: str, cron_schedule: str, execute_fn: str, *args,
                      queue: str | None = None, tz: str = "UTC") -> dict:
        if not cronlib.valid(cron_schedule):
            raise ValueError(f"invalid cron schedule {cron_schedule!r}")
        q = queue or self.queue
        _validate_queue(q)
        if self.instrument:
            # ::cron-opts (specs.clj:101-107) + fn/args gate
            if not isinstance(cron_name, str) or not cron_name:
                raise specs.SpecError(f"cron_name must be a non-empty string, got {cron_name!r}")
            specs.validate_timezone(tz)
            specs.validate_fn_name(execute_fn)
            specs.validate_args(args)
        now = _now()
        entry = {
            "cron_name": cron_name,
            "cron_schedule": cron_schedule,
            "timezone": tz,
            "execute_fn": execute_fn,
            "args": json.dumps(list(args)),
            "queue": q,
            "next_run_at": cronlib.next_run(cron_schedule, tz, now),
            "last_run_at": None,
        }
        self._upsert_cron(entry)
        return {"cron_name": cron_name}

    def _upsert_cron(self, entry: dict) -> None:
        """Same-name overwrite semantics (cron registration is an upsert,
        test/goose/brokers/redis/cron/registry_test.clj:20-40)."""
        entries = [
            e for e in self.ledger.read_cron().to_pylist()
            if e["cron_name"] != entry["cron_name"]
        ]
        self.ledger.write_cron(entries + [entry])

    # -- S5: perform-batch — atomic N jobs + tracked batch ---------------------
    # (src/goose/client.clj:169-208; atomic enqueue src/goose/brokers/redis/batch.clj:21-32)

    def perform_batch(self, execute_fn: str, args_coll: list[tuple],
                      callback_fn: str | None = None, linger_sec: int = 3600,
                      queue: str | None = None, **over) -> dict:
        # materialize FIRST: args_coll may be a generator — the spec
        # gate's any() scan must not consume it, and `if not` on a
        # generator is always falsy-safe only after materialization
        args_coll = list(args_coll)
        if not args_coll:
            raise ValueError("perform_batch requires at least one args tuple")
        if self.instrument:
            # ::batch-opts + ::batch-args (specs.clj:109-117,172)
            specs.validate_batch_opts(callback_fn, linger_sec)
            if any(isinstance(a, (str, bytes)) or not hasattr(a, "__iter__")
                   for a in args_coll):
                raise specs.SpecError(
                    "perform_batch args_coll must be a collection of arg "
                    "TUPLES (one per job), not bare values"
                )
        batch_id = str(uuid.uuid4())
        rows = [
            self._job_row(execute_fn, tuple(args), queue, batch_id=batch_id, **over)
            for args in args_coll
        ]
        # one parquet file == one atomic append (the MULTI txn analog)
        self.ledger.append_rows(rows)
        self.ledger.append_batch(
            {
                "id": batch_id,
                "callback_fn": callback_fn,
                "linger_sec": linger_sec,
                "queue": rows[0]["queue"],
                "total": len(rows),
                "status": "in-progress",
                "created_at": rows[0]["enqueued_at"],
                "seq": next_seq(),
            }
        )
        return {"id": batch_id, "total": len(rows), "job_ids": [r["id"] for r in rows]}
