"""Seeded input generation. Every function here is pure: the same seed
gives the same inputs, and the engine sees only what these return.

Each generator draws from its own ``random.Random`` keyed by the seed
and a purpose tag, so changing one workload's shape never shifts
another's inputs.
"""

from __future__ import annotations

import random

QUEUES = 20
JOBS_PER_FILE = 1000  # bulk producer: one ledger file per 1000 jobs
FLAKY_EVERY = 100  # 1% of drain jobs fail once (goose parity load)

#: Open-loop traffic mixes for ``stream`` (shares of calls). ``async``
#: is one ``perform_async`` no-op; ``in_sec`` a ``perform_in_sec`` job due
#: IN_SEC seconds later; ``flaky`` fails once and is retried after the
#: worker's short retry delay; ``batch`` is one ``perform_batch`` call of
#: BATCH_SIZE no-ops with a callback. The rate steps are plain
#: ``perform_async`` traffic; the timer and batch calls come in a
#: separate step after them (DESIGN.md says why).
ASYNC_ONLY = (("async", 1.0),)
TIMER_MIX = (("async", 0.25), ("in_sec", 0.35), ("flaky", 0.35), ("batch", 0.05))
IN_SEC = 1.0
BATCH_SIZE = 3

#: Console operator round: each op once, in seeded order.
CONSOLE_READS = ("size", "list_queues", "find_by_id", "page", "peek_dead",
                 "dashboard_counts", "page_home", "page_enqueued", "page_dead")
CONSOLE_WRITES = ("perform_async", "prioritise_execution", "replay_dead",
                  "delete_jobs")

#: Ledger population that gives the console every job status.
STATUS_MIX = {"success": 2000, "dead": 300, "retrying": 200,
              "scheduled": 300, "enqueued": 2000}


def queue_name(i: int) -> str:
    return f"queue-{i:02d}"


def _rng(seed: int, tag: str) -> random.Random:
    return random.Random(f"{tag}:{seed}")


def drain_bursts(seed: int, bursts: int, jobs_per_burst: int) -> list[list[tuple]]:
    """Job specs ``(execute_fn, args, queue)`` per burst: no-ops plus
    exactly 1% ``flaky`` jobs (fail once, ``max_retries=1``) at seeded
    positions, spread over QUEUES queues."""
    rng = _rng(seed, "drain")
    out = []
    for b in range(bursts):
        flaky = set(rng.sample(range(jobs_per_burst), jobs_per_burst // FLAKY_EVERY))
        jobs = []
        for i in range(jobs_per_burst):
            q = queue_name(rng.randrange(QUEUES))
            key = f"d{b}-{i}-{rng.getrandbits(32):08x}"
            jobs.append(("flaky", (key, 1), q) if i in flaky else ("noop", (key,), q))
        out.append(jobs)
    return out


def status_mix(seed: int) -> dict[str, list[tuple]]:
    """Job specs per target status for the console's ledger."""
    rng = _rng(seed, "status-mix")
    return {
        status: [
            (queue_name(rng.randrange(QUEUES)), f"{status}-{i}-{rng.getrandbits(32):08x}")
            for i in range(n)
        ]
        for status, n in STATUS_MIX.items()
    }


def stream_schedule(seed: int, steps: list[tuple]) -> list[dict]:
    """Open-loop arrivals. ``steps``: (name, rate per s, duration s, mix),
    run back to back. Each step gets exactly round(rate * duration) calls,
    one per equal slot at a seeded point within the middle 80% of its
    slot, so every seed offers the same load with different timing. The
    mix's shares are exact counts; calls other than the first kind sit
    at evenly spaced slots from a seeded offset, in seeded order.

    Returns events sorted by due offset: ``{"t": seconds from start,
    "step", "kind", "queue", "key"}``."""
    rng = _rng(seed, "stream")
    events = []
    start = 0.0
    for name, rate, dur, mix in steps:
        n = round(rate * dur)
        special = [kind for kind, share in mix[1:] for _ in range(round(n * share))]
        rng.shuffle(special)
        kinds = [mix[0][0]] * n
        if special:
            gap = n / len(special)
            offset = rng.random() * gap
            for j, kind in enumerate(special):
                kinds[int(offset + j * gap)] = kind
        slot = dur / n
        for i, kind in enumerate(kinds):
            events.append({"t": start + (i + 0.1 + 0.8 * rng.random()) * slot, "step": name,
                           "kind": kind, "queue": queue_name(rng.randrange(QUEUES)),
                           "key": f"{name}-{i}-{rng.getrandbits(32):08x}"})
        start += dur
    return events


def console_round(seed: int) -> list[tuple[str, dict]]:
    """One operator round: every read and write once, in seeded order,
    with seeded arguments. ``pick`` indexes into job-id lists that exist
    only at run time (taken modulo their length)."""
    rng = _rng(seed, "console")
    ops = list(CONSOLE_READS + CONSOLE_WRITES)
    rng.shuffle(ops)
    return [(op, {"queue": queue_name(rng.randrange(QUEUES)), "page": rng.randint(1, 3),
                  "n": rng.randint(1, 5), "pick": rng.getrandbits(30)})
            for op in ops]


def query_order(seed: int, names: list[str]) -> list[str]:
    """The analytics queries in seeded order."""
    order = sorted(names)
    _rng(seed, "queries").shuffle(order)
    return order
