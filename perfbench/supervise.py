"""Run a benchmark process and leave nothing behind.

The measured process starts a Spark JVM, which starts Python workers,
and the stream workload starts a traffic generator. The JVM and its
workers exit on their own once the pipe from their parent closes, but
not at once, so a process that merely returns can leave them running.
``run_to_end`` runs the command in a session of its own, with this
process as the subreaper of everything it starts, and returns only when
every one of those processes has ended: first by itself, within a grace
period, then on SIGTERM, then on SIGKILL.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time

PR_SET_CHILD_SUBREAPER = 36
GRACE_S = 30.0  # time left to the JVM for its own orderly exit
TERM_S = 10.0  # time between SIGTERM and SIGKILL


def _become_subreaper() -> None:
    """Orphaned descendants are re-parented to this process instead of
    to init, so they stay in reach and it can reap them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # the session scan below still finds them


def procs() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, session id, state) of every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name is parenthesised and may hold spaces
        f = stat.rsplit(")", 1)[1].split()
        out[int(name)] = (int(f[1]), int(f[3]), f[0])
    return out


def children_map(table: dict | None = None) -> dict[int, list[int]]:
    """ppid -> pids of its children."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in (procs() if table is None else table).items():
        kids.setdefault(ppid, []).append(pid)
    return kids


def leftovers(sid: int) -> list[int]:
    """Processes descended from this one or in session ``sid`` that are
    alive or still to be reaped by this one."""
    me = os.getpid()
    table = procs()
    kids = children_map(table)
    found, todo = set(), list(kids.get(me, ()))
    while todo:
        pid = todo.pop()
        if pid not in found:
            found.add(pid)
            todo.extend(kids.get(pid, ()))
    found.update(pid for pid, (_, s, _) in table.items() if s == sid)
    found.discard(me)
    return sorted(p for p in found if table[p][2] != "Z" or table[p][0] == me)


def _reap() -> None:
    """Collect the exit status of every ended child of this process."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal(pids: list[int], sig: int) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def stop_all(sid: int) -> None:
    """Wait for every leftover to end; terminate, then kill, the ones
    that outlive the grace period. Returns when none is left."""
    sent = {}
    t0 = time.monotonic()
    while True:
        _reap()
        left = leftovers(sid)
        if not left:
            return
        waited = time.monotonic() - t0
        sig = (signal.SIGKILL if waited > GRACE_S + TERM_S
               else signal.SIGTERM if waited > GRACE_S else None)
        if sig is not None and sent.get(sig) != left:
            _signal(left, sig)
            sent[sig] = left
        time.sleep(0.05)


def run_to_end(cmd: list[str], env: dict) -> int:
    """Run ``cmd`` and stop everything it started; its exit code."""
    _become_subreaper()
    child = subprocess.Popen(cmd, env=env, start_new_session=True)

    def forward(signum, _frame):
        try:
            os.killpg(child.pid, signal.SIGTERM)
        except ProcessLookupError:
            pass

    before = {s: signal.signal(s, forward) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        rc = child.wait()
    finally:
        stop_all(child.pid)
        for s, handler in before.items():
            signal.signal(s, handler)
    return rc
