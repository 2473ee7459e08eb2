"""Open-loop traffic generator: a separate, single-threaded process
that calls the public ``JobClient.perform_*`` once per scheduled event,
at the event's due time, whether or not the engine keeps up.

    python3 perfbench/generator.py SCHEDULE.json OUT.jsonl LEDGER_ROOT

Protocol: prints ``ready`` once imported, then reads the start time
(epoch ns) from stdin. Event ``t`` is seconds after that start. For
each event it records due, sent and done times (epoch ns), the job
ids it created and, as spans, the call's monotonic start and end.
Everything is written to OUT.jsonl when the schedule ends.
"""

from __future__ import annotations

import json
import os
import sys
import time

SPAN_NAMES = {"async": "client.perform_async", "flaky": "client.perform_async",
              "in_sec": "client.perform_in_sec", "batch": "client.perform_batch"}


def main() -> int:
    sched_path, out_path, ledger_root = sys.argv[1:4]
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from goose_spark.client import JobClient
    from perfbench.inputs import BATCH_SIZE, IN_SEC

    with open(sched_path) as fh:
        events = json.load(fh)
    client = JobClient(ledger_root)
    calls = {
        "async": lambda e: [client.perform_async("noop", e["key"], queue=e["queue"])["id"]],
        "in_sec": lambda e: [client.perform_in_sec(IN_SEC, "noop", e["key"],
                                                   queue=e["queue"])["id"]],
        "flaky": lambda e: [client.perform_async("flaky", e["key"], 1, queue=e["queue"],
                                                 max_retries=1)["id"]],
        "batch": lambda e: client.perform_batch(
            "noop", [(f"{e['key']}-{i}",) for i in range(BATCH_SIZE)],
            callback_fn="noop", queue=e["queue"]),
    }
    print("ready", flush=True)
    t0 = int(sys.stdin.readline())
    out = []
    for e in events:
        due = t0 + int(e["t"] * 1e9)
        wait = (due - time.time_ns()) / 1e9
        if wait > 0:
            time.sleep(wait)
        rec = {"key": e["key"], "kind": e["kind"], "step": e["step"], "due_ns": due}
        rec["sent_ns"] = time.time_ns()
        m0 = time.monotonic_ns()
        try:
            res = calls[e["kind"]](e)
        except Exception as exc:  # noqa: BLE001 — a failed call is data
            rec["error"] = f"{type(exc).__name__}: {exc}"
        else:
            if e["kind"] == "batch":
                rec["ids"], rec["batch_id"] = res["job_ids"], res["id"]
            else:
                rec["ids"] = res
        rec["done_ns"] = time.time_ns()
        rec["span"] = {"name": SPAN_NAMES[e["kind"]], "start": m0,
                       "end": time.monotonic_ns()}
        out.append(rec)
    with open(out_path, "w") as fh:
        for rec in out:
            fh.write(json.dumps(rec) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
