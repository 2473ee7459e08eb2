"""Streaming-core soak (round-9 directive #7; extended for round-11
directives #4/#5): sustained continuous-trigger run with steady offered
load and every stateful subsystem attached — cron tick, retries,
dead-lettering, batch callbacks, scheduler due-sweep, and (new) the
periodic generational log fold.

What "passes" means: after the warm-up samples, RSS / checkpoint-bytes /
per-trigger source-listing time are FLAT and the worker LAG (enqueued +
retrying backlog) is bounded at the offered rate. Round 10 ran 50
jobs/s and proved leak-freedom; round 11 runs 500–1000 jobs/s (the
measured steady-state capacity of the 0.25 s trigger, BASELINE.md
curve) and additionally measures backlog-recovery time after an induced
worker stall.

Usage:
  python3 tools/soak.py [duration_sec] [jobs_per_sec] [--out FILE]
                        [--stall-sec N] [--compact-every N]
Defaults: 1800 s, 50 jobs/s, no stall, fold every 60 s (0 disables).
The stall (when requested) stops the worker gracefully at the midpoint
for N seconds while the producer keeps enqueueing, then restarts it on
the same checkpoint and reports seconds until the backlog returns to
its pre-stall level. Run on an idle host (bench-isolation rule).
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SAMPLE_SEC = 60


def _descendants(pid: int) -> list[int]:
    """pid + all transitive children, via /proc (no psutil in here)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().split(")")[-1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def rss_mb() -> float:
    """RSS of this python process + the JVM (and any python workers)
    it spawned — the whole local-mode engine."""
    total = 0
    for p in _descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024.0


def du_mb(path: str) -> float:
    total = 0
    for dirpath, _dirnames, filenames in os.walk(path):
        for f in filenames:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total / 1e6


def _listing_ms(handle) -> float | None:
    """Per-trigger source cost from the streaming query's own progress:
    latestOffset duration is where the file source pays its directory
    listing (the metric round 10's soak saw growing with file count)."""
    try:
        p = handle.streaming_query.lastProgress
        if not p:
            return None
        d = p.get("durationMs", {})
        return float(d.get("latestOffset", 0)) + float(d.get("getBatch", 0))
    except Exception:  # noqa: BLE001 — metric only, never kill the soak
        return None


def main() -> None:
    # argparse declares every flag exactly once — a value-taking flag
    # can no longer silently leak its value into the positionals (the
    # bug class the old hand-rolled _FLAGS_WITH_VALUES set re-created
    # every time a new flag was added in one place but not the other)
    import argparse

    ap = argparse.ArgumentParser(description="ledger/worker soak harness")
    ap.add_argument("duration", nargs="?", type=int, default=1800,
                    help="soak wall-clock seconds")
    ap.add_argument("rate", nargs="?", type=int, default=50,
                    help="offered enqueue load, jobs/sec")
    ap.add_argument("--out", default=None, help="JSON results path")
    ap.add_argument("--stall-sec", type=int, default=0,
                    help="induce a worker stall of this length mid-soak")
    ap.add_argument("--compact-every", type=int, default=60,
                    help="live log-fold interval sec (0 disables)")
    ns = ap.parse_args()
    duration, rate = ns.duration, ns.rate
    out_path, stall_sec, compact_every = ns.out, ns.stall_sec, ns.compact_every

    from goose_spark.api import LedgerAPI
    from goose_spark.client import JobClient
    from goose_spark.session import get_spark
    from goose_spark.streaming.worker import Worker

    root = tempfile.mkdtemp(prefix="goose-soak-")
    spark = get_spark("gosling-soak", console_progress=False)
    spark.sparkContext.setLogLevel("ERROR")

    client = JobClient(root)
    # cron fires every minute for the whole soak
    client.perform_every("soak-cron", "* * * * *", "noop", 0)

    def start_worker():
        w = Worker(spark, root, retry_delay_fn=lambda n: 3)
        h = w.start(trigger_sec=0.25, compact_log_every_sec=compact_every or None)
        return w, h

    worker, handle = start_worker()
    log_dir = os.path.join(root, "log")

    print(f"# soak: {duration}s at {rate} jobs/s, stall={stall_sec}s, "
          f"fold-every={compact_every}s, ledger={root}")
    print("| t_min | rss_mb | ckpt_mb | log_mb | log_files "
          "| list_ms | lag | enq | done |")
    print("|---|---|---|---|---|---|---|---|---|", flush=True)

    samples = []
    start = time.time()
    enq = 0
    i = 0
    last_sample = start
    api = LedgerAPI(spark, root)
    stall_at = start + duration / 2 if stall_sec else None
    stall_info: dict = {}
    try:
        while time.time() - start < duration:
            sec_start = time.time()
            # steady offered load: mostly instant jobs, a slice of
            # retrying / dying / scheduled / batch work each second
            batch = []
            for _ in range(rate):
                i += 1
                if i % 20 == 0:  # retry path: fails once, succeeds on retry
                    batch.append(("flaky", (f"soak-{i}", 1)))
                elif i % 97 == 0:  # dead-letter path
                    batch.append(("always-fail", (i,)))
                else:
                    batch.append(("noop", (i,)))
            # one ledger append per second of offered load (a real
            # producer pipelines; per-job perform_async = one parquet
            # file per job, which floods the file source's metadata log
            # long before any engine limit)
            rows = [
                client._job_row(fn, args, None,
                                **({"max_retries": 1} if fn == "always-fail" else {}))
                for fn, args in batch
            ]
            client.ledger.append_rows(rows)
            enq += len(batch)
            if i % (rate * 30) < rate:  # every ~30 s: a tracked batch
                client.perform_batch("noop", [(j,) for j in range(20)],
                                     callback_fn="noop")
                enq += 20
            if i % (rate * 20) < rate:  # every ~20 s: scheduled work
                client.perform_in_sec(5, "noop", i)
                enq += 1

            now = time.time()

            # ---- induced stall: stop consuming, keep producing --------
            if stall_at and now >= stall_at:
                counts = api.dashboard_counts()
                pre_lag = counts.get("enqueued", 0) + counts.get("retrying", 0)
                print(f"# stall: stopping worker for {stall_sec}s "
                      f"(pre-stall lag {pre_lag})", flush=True)
                handle.stop()
                stall_start = time.time()
                while time.time() - stall_start < stall_sec:
                    loop_s = time.time()
                    rows = [client._job_row("noop", (i + k,), None)
                            for k in range(rate)]
                    i += rate
                    client.ledger.append_rows(rows)
                    enq += rate
                    sleep = 1.0 - (time.time() - loop_s)
                    if sleep > 0:
                        time.sleep(sleep)
                counts = api.dashboard_counts()
                stalled_lag = counts.get("enqueued", 0) + counts.get("retrying", 0)
                print(f"# stall over: backlog {stalled_lag}; restarting worker",
                      flush=True)
                worker, handle = start_worker()
                recover_start = time.time()
                recovery_sec = None
                while time.time() - recover_start < 600:
                    time.sleep(5)
                    counts = api.dashboard_counts()
                    lag = counts.get("enqueued", 0) + counts.get("retrying", 0)
                    if lag <= max(pre_lag, 2 * rate):
                        recovery_sec = round(time.time() - recover_start, 1)
                        break
                stall_info = {
                    "pre_stall_lag": pre_lag,
                    "stalled_lag": stalled_lag,
                    "recovery_sec": recovery_sec,
                }
                print(f"# recovered in {recovery_sec}s", flush=True)
                stall_at = None  # once
                continue

            # fail fast and loud if the streaming query died — a soak
            # that keeps producing against a dead consumer measures
            # nothing (and the exception would otherwise be lost)
            try:
                if not handle.streaming_query.isActive:
                    exc = handle.streaming_query.exception()
                    print(f"# STREAM DIED: {exc}", flush=True)
                    raise RuntimeError(f"worker stream died: {exc}")
            except RuntimeError:
                raise
            except Exception:  # noqa: BLE001 — introspection only
                pass

            if now - last_sample >= SAMPLE_SEC:
                last_sample = now
                counts = api.dashboard_counts()
                lag = counts.get("enqueued", 0) + counts.get("retrying", 0)
                n_files = len(glob.glob(os.path.join(log_dir, "*.parquet")))
                lm = _listing_ms(handle)
                s = {
                    "t_sec": round(now - start, 1),
                    "rss_mb": round(rss_mb(), 1),
                    "ckpt_mb": round(du_mb(worker.checkpoint_dir), 2),
                    "log_mb": round(du_mb(log_dir), 2),
                    "log_files": n_files,
                    "listing_ms": None if lm is None else round(lm, 1),
                    "lag": lag,
                    "enqueued": enq,
                    "success": counts.get("success", 0),
                    "dead": counts.get("dead", 0),
                    "retrying": counts.get("retrying", 0),
                }
                samples.append(s)
                print(f"| {s['t_sec']/60:.1f} | {s['rss_mb']} "
                      f"| {s['ckpt_mb']} | {s['log_mb']} "
                      f"| {s['log_files']} | {s['listing_ms']} | {s['lag']} "
                      f"| {s['enqueued']} | {s['success']} |", flush=True)
            sleep = 1.0 - (time.time() - sec_start)
            if sleep > 0:
                time.sleep(sleep)
    finally:
        handle.stop()

    # drain whatever is left, then final accounting
    for _ in range(3):
        worker.process_available()
        time.sleep(2)
    counts = api.dashboard_counts()
    summary = {
        "duration_sec": duration,
        "offered_rate": rate,
        "enqueued": enq,
        "final_counts": counts,
        "stall": stall_info or None,
        "samples": samples,
    }
    print(json.dumps({k: v for k, v in summary.items() if k != "samples"}))
    if out_path:
        with open(out_path, "w") as fh:
            for s in samples:
                fh.write(json.dumps(s) + "\n")
            fh.write(json.dumps(summary) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
