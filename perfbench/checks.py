"""Correctness checks computed independently of the engine: DuckDB over
the ledger's parquet files (latest ``seq`` per job id), or the
benchmark's own record of what it wrote. Each returns a list of
failure descriptions; an empty list means the check passed.
"""

from __future__ import annotations

import os

import duckdb

DEAD, ENQ = "dead", "enqueued"


class LedgerModel:
    """The ledger's log loaded into DuckDB once, queried as of any
    instant: rows with ``seq < as_of`` are the ones written before it
    (``seq`` is an epoch-ns stamp taken when a row is written)."""

    def __init__(self, ledger_root: str):
        log = os.path.join(ledger_root, "log")
        files = sorted(os.path.join(log, f) for f in os.listdir(log)
                       if f.endswith(".parquet") and not f.startswith((".", "_")))
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.execute(
            "CREATE TABLE log AS SELECT id, queue, execute_fn, status, priority,"
            " enqueued_at, run_at, died_at, seq FROM read_parquet(?)", [files])

    def _state(self, as_of: int | None) -> str:
        where = f"WHERE seq < {int(as_of)}" if as_of is not None else ""
        return (f"(SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY id"
                f" ORDER BY seq DESC) AS rn FROM log {where}) WHERE rn = 1)")

    def rows(self, sql: str, params=()) -> list[tuple]:
        return self.con.execute(sql, list(params)).fetchall()

    # -- expected answers of the read calls, as of an instant -----------

    def size(self, t, queue):
        return self.rows(f"SELECT count(*) FROM {self._state(t)} WHERE status = ? AND queue = ?",
                         [ENQ, queue])[0][0]

    def list_queues(self, t):
        return [r[0] for r in self.rows(
            f"SELECT DISTINCT queue FROM {self._state(t)} WHERE status = ? ORDER BY queue", [ENQ])]

    def status_of(self, t, job_id):
        r = self.rows(f"SELECT status FROM {self._state(t)} WHERE id = ?", [job_id])
        return r[0][0] if r else None

    def page_ids(self, t, queue, page, size=10):
        return [r[0] for r in self.rows(
            f"SELECT id FROM {self._state(t)} WHERE status = ? AND queue = ?"
            f" ORDER BY priority DESC, enqueued_at, id LIMIT {size} OFFSET {(page - 1) * size}",
            [ENQ, queue])]

    def dead_ids(self, t, n, newest_first=False, offset=0):
        order = "died_at DESC, id" if newest_first else "died_at, id"
        return [r[0] for r in self.rows(
            f"SELECT id FROM {self._state(t)} WHERE status = ? ORDER BY {order}"
            f" LIMIT {n} OFFSET {offset}", [DEAD])]

    def counts(self, t):
        return dict(self.rows(f"SELECT status, count(*) FROM {self._state(t)} GROUP BY status"))

    def rows_written(self, job_id, lo, hi):
        """(status, priority) of rows for ``job_id`` written in [lo, hi]."""
        return self.rows("SELECT status, priority FROM log WHERE id = ? AND seq BETWEEN ? AND ?",
                         [job_id, lo, hi])


def check_console_call(m: LedgerModel, op: str, args: dict, t0: int, t1: int, answer) -> list[str]:
    """Compare one console/API answer with the model. ``t0``/``t1``:
    epoch ns just before the call and just after it returned."""
    bad = []

    def expect(name, got, want):
        if got != want:
            bad.append(f"{op}: {name} = {got!r}, expected {want!r}")

    q, page = args.get("queue"), args.get("page", 1)
    if op == "size":
        expect("size", answer, m.size(t0, q))
    elif op == "list_queues":
        expect("queues", answer, m.list_queues(t0))
    elif op == "find_by_id":
        expect("status", answer and answer["status"], m.status_of(t0, args["id"]))
    elif op == "page":
        expect("ids", [j["id"] for j in answer], m.page_ids(t0, q, page))
    elif op == "peek_dead":
        expect("ids", [j["id"] for j in answer], m.dead_ids(t0, args["n"]))
    elif op == "dashboard_counts":
        expect("counts", answer, m.counts(t0))
    elif op == "page_home":
        c = m.counts(t0)
        expect("by_status", answer["by_status"], c)
        expect("enqueued", answer["enqueued"], c.get(ENQ, 0) + c.get("in_progress", 0))
        expect("dead", answer["dead"], c.get(DEAD, 0))
    elif op == "page_enqueued":
        expect("total", answer["total"], m.size(t0, q))
        expect("ids", [j["id"] for j in answer["jobs"]], m.page_ids(t0, q, page))
    elif op == "page_dead":
        expect("total", answer["total"], m.counts(t0).get(DEAD, 0))
        expect("ids", [j["id"] for j in answer["jobs"]],
               m.dead_ids(t0, 10, newest_first=True, offset=(page - 1) * 10))
    elif op == "perform_async":
        expect("rows", m.rows_written(answer["id"], t0, t1), [(ENQ, 0)])
    elif op == "prioritise_execution":
        live = m.status_of(t0, args["id"]) in (ENQ, "scheduled", "retrying")
        expect("count", answer, int(live))
        expect("rows", m.rows_written(args["id"], t0, t1), [(ENQ, 1)] if live else [])
    elif op == "replay_dead":
        victims = m.dead_ids(t0, 1)
        expect("count", answer, len(victims))
        for v in victims:
            expect("rows", m.rows_written(v, t0, t1), [(ENQ, 1)])
    elif op == "delete_jobs":
        live = m.status_of(t0, args["id"]) not in (None, "deleted")
        expect("count", answer, int(live))
        expect("rows", [r[0] for r in m.rows_written(args["id"], t0, t1)],
               ["deleted"] if live else [])
    else:
        bad.append(f"unknown op {op}")
    return bad


def check_jobs_once(m: LedgerModel, ids: list[str]) -> list[str]:
    """Every id ends in ``success`` with exactly one success row."""
    import pyarrow as pa

    m.con.register("want", pa.table({"id": pa.array(ids, pa.string())}))
    bad = m.rows(
        f"SELECT w.id, s.status, coalesce(n.k, 0) FROM want w"
        f" LEFT JOIN {m._state(None)} s USING (id)"
        f" LEFT JOIN (SELECT id, count(*) AS k FROM log WHERE status = 'success' GROUP BY id) n"
        f" USING (id) WHERE s.status IS DISTINCT FROM 'success' OR coalesce(n.k, 0) <> 1")
    m.con.unregister("want")
    return [f"job {i}: final status {s!r}, {k} success rows" for i, s, k in bad]


def success_seq(m: LedgerModel) -> dict[str, int]:
    """First success ``seq`` per job id."""
    return dict(m.rows("SELECT id, min(seq) FROM log WHERE status = 'success' GROUP BY id"))


def timer_lateness_s(m: LedgerModel) -> list[float]:
    """Success time minus the ``run_at`` the job last waited for, for
    every job that was scheduled or retried and then succeeded."""
    return [r[0] for r in m.rows(
        "SELECT (s.seq - epoch_us(w.run_at) * 1000) / 1e9 FROM"
        " (SELECT id, arg_max(run_at, seq) AS run_at FROM log"
        "   WHERE status IN ('scheduled', 'retrying') AND run_at IS NOT NULL GROUP BY id) w"
        " JOIN (SELECT id, min(seq) AS seq FROM log WHERE status = 'success' GROUP BY id) s"
        " USING (id)")]


def check_query(df, con, sql: str) -> list[str]:
    """Hash-compare a query result with its DuckDB oracle using the
    repository's oracle canonicalization (tests/oracle_utils.py)."""
    from tests.oracle_utils import compare

    return compare(df, con, sql)
