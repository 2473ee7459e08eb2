"""Round-over-round per-query bench regression gate.

The existing gates compare Spark to DuckDB and sf-to-sf, but nothing
compared a round's BENCH_FULL to the PREVIOUS round's — which is
exactly how r11 shipped a 13.4 s q29 in the round that claimed to fix
it (VERDICT r11, directive #3). This tool closes that hole:

  python3 tools/bench_regression.py snapshot r12
      Archive the current BENCH_FULL.json per-query map — together
      with each query's PLANS.md row (the plan fingerprint) and the
      bench sf — into bench_history/bench_full_r12.json (committed,
      unlike the gitignored BENCH_FULL.json).

  python3 tools/bench_regression.py check [--baseline PATH]
      Compare the current BENCH_FULL.json against the newest snapshot
      in bench_history/ (or --baseline). FAIL (exit 1) when any query
      grew >2x round-over-round AT CONSTANT PLAN (same PLANS.md row)
      with >0.75 s absolute growth (sub-second jitter on a warm JVM is
      real; a 0.1 -> 0.25 s move is noise, a 2 -> 5 s move is not).
      A flagged query whose plan row CHANGED is reported but not
      auto-failed — a deliberate rewrite moves the plan, and the
      rewrite's own wall-clock is judged by the DuckDB-ratio gates.

      The check ALSO diffs against the DRIVER's newest recorded
      BENCH_r<N>.json in the repo root (VERDICT r12 directive #2): the
      driver record is the official number but is captured on whatever
      host state the driver happens to have (r12: 229 s driver vs 114 s
      builder, same commit). The driver diff reports the whole-sweep
      ratio and the driver's recorded slowest queries, and emits a
      HOST-STATE note — never a failure — when the driver/builder
      whole-sweep ratio leaves the documented ±30 % band (BASELINE.md
      host-state drift). Driver-diff findings are informational.

Run it on an idle host (memory/bench-isolation rule): both sides of
the comparison must be warm, single-tenant numbers or the 2x trip wire
fires on host drift instead of regressions.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HISTORY_DIR = os.path.join(REPO, "bench_history")
BENCH_FULL = os.path.join(REPO, "BENCH_FULL.json")
PLANS_MD = os.path.join(REPO, "PLANS.md")

#: A query fails the gate only past BOTH bars: relative growth that a
#: plan-constant query cannot legitimately exhibit, and an absolute
#: floor that keeps centisecond jitter out of the flag list.
RATIO_CAP = 2.0
ABS_FLOOR_SEC = 0.75


def plan_rows(path: str = PLANS_MD) -> dict[str, str]:
    """PLANS.md table rows keyed by query name — the plan fingerprint.

    The row captures shuffle/broadcast/smj/single-partition counts,
    pushdown, and notable operators: any physical re-plan moves it.
    """
    rows: dict[str, str] = {}
    if not os.path.exists(path):
        return rows
    pat = re.compile(r"^\|\s*`([^`]+)`\s*\|(.+)\|\s*$")
    with open(path) as fh:
        for line in fh:
            m = pat.match(line.strip())
            if m:
                rows[m.group(1)] = m.group(2).strip()
    return rows


def snapshot(tag: str) -> str:
    with open(BENCH_FULL) as fh:
        full = json.load(fh)
    plans = plan_rows()
    out = {
        "tag": tag,
        "sf": full.get("sf"),
        "value": full.get("value"),
        "n_queries": full.get("n_queries"),
        "queries": full.get("queries", {}),
        "plans": {q: plans.get(q, "") for q in full.get("queries", {})},
    }
    os.makedirs(HISTORY_DIR, exist_ok=True)
    dest = os.path.join(HISTORY_DIR, f"bench_full_{tag}.json")
    with open(dest, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(f"snapshot: {dest} ({out['n_queries']} queries at {out['sf']})")
    return dest


def _round_num(path: str) -> int:
    """Numeric round of a tagged file name. Lexicographic sort misorders
    across digit widths (r9 > r12, r99 > r100 — r12 advice), so the tag
    number is the ONLY valid sort key; an unparseable tag is an error,
    not a silent skip."""
    m = re.search(r"r(\d+)", os.path.basename(path))
    if m is None:
        raise ValueError(f"unparseable round tag in {path!r} — expected r<N>")
    return int(m.group(1))


def newest_snapshot() -> str | None:
    """Highest round, then the last name in it (r15_final3 after
    r15_baseline); bench.py's outlier retries read the same file."""
    paths = glob.glob(os.path.join(HISTORY_DIR, "bench_full_*.json"))
    return max(paths, key=lambda p: (_round_num(p), os.path.basename(p))) if paths else None


def newest_driver_record() -> str | None:
    """The driver's newest BENCH_r<N>.json in the repo root."""
    paths = glob.glob(os.path.join(REPO, "BENCH_r*.json"))
    return max(paths, key=_round_num) if paths else None


def compare(
    current: dict,
    baseline: dict,
    cur_plans: dict[str, str] | None = None,
) -> tuple[list[dict], list[dict]]:
    """Return (failures, plan_changed_notes).

    ``current``/``baseline``: {"sf": ..., "queries": {name: sec},
    "plans": {name: row}} — baseline plans come from its snapshot,
    current plans from PLANS.md (or ``cur_plans``).
    """
    if cur_plans is None:
        cur_plans = current.get("plans") or plan_rows()
    base_q = baseline.get("queries", {})
    base_p = baseline.get("plans", {})
    fails, notes = [], []
    if current.get("sf") != baseline.get("sf"):
        # cross-sf ratios are meaningless; report, compare nothing
        notes.append({
            "query": "<sf-mismatch>",
            "note": f"current sf={current.get('sf')} vs baseline "
                    f"sf={baseline.get('sf')} — no comparison done",
        })
        return fails, notes
    for name, cur in sorted(current.get("queries", {}).items()):
        prev = base_q.get(name)
        if prev is None or prev <= 0 or cur <= 0:
            continue  # new query, or a failed run (caught elsewhere)
        if cur <= prev * RATIO_CAP or cur - prev <= ABS_FLOOR_SEC:
            continue
        entry = {
            "query": name,
            "prev_sec": prev,
            "cur_sec": cur,
            "ratio": round(cur / prev, 2),
        }
        if base_p.get(name) and cur_plans.get(name) and (
            base_p[name] != cur_plans[name]
        ):
            entry["note"] = "plan row changed — deliberate rewrite, not auto-failed"
            notes.append(entry)
        else:
            fails.append(entry)
    return fails, notes


#: Documented host-state drift band (BASELINE.md): whole-sweep ratios
#: inside ±30 % are host noise, not signal.
HOST_BAND = 1.30


def driver_diff(current: dict) -> list[str]:
    """Informational diff of the current BENCH_FULL against the DRIVER's
    newest recorded BENCH_r<N>.json (its compact line: total + slowest
    queries). Returns printable lines; never fails the gate — the
    driver record is host-conditional, which is exactly what this diff
    makes visible."""
    lines: list[str] = []
    rec_path = newest_driver_record()
    if rec_path is None:
        return [f"driver-diff: no BENCH_r*.json in {REPO} — skipped"]
    rec = json.load(open(rec_path))
    parsed = rec.get("parsed") or {}
    if not parsed:
        return [f"driver-diff: {os.path.basename(rec_path)} has no parsed line — skipped"]
    tag = os.path.basename(rec_path)
    if os.path.abspath(str(parsed.get("sf", ""))) != os.path.abspath(
        str(current.get("sf", ""))
    ):
        return [
            f"driver-diff vs {tag}: sf mismatch "
            f"({parsed.get('sf')} vs {current.get('sf')}) — skipped"
        ]
    drv_v, cur_v = parsed.get("value"), current.get("value")
    if drv_v and cur_v:
        ratio = drv_v / cur_v
        meth_d = parsed.get("timing", "single-shot (pre-r13)")
        meth_c = current.get("timing", "best-of-2")
        lines.append(
            f"driver-diff vs {tag}: sweep driver {drv_v} s "
            f"[{meth_d}] vs builder {cur_v} s [{meth_c}] — {ratio:.2f}x"
        )
        if ratio > HOST_BAND or ratio < 1 / HOST_BAND:
            lines.append(
                f"HOST-STATE driver/builder whole-sweep ratio {ratio:.2f}x "
                f"outside the documented ±30% band — the driver record "
                f"{tag} was likely captured on a contended host "
                f"(loadavg sentinel in its compact line, if present: "
                f"{parsed.get('loadavg_1m', 'n/a')})"
            )
    # per-query lines capped to the top-N by driver seconds (ADVICE
    # r13): pre-r13 driver records carry the FULL ~183-query map, and
    # printing every entry buried the HOST-STATE note this diff exists
    # to surface. The docstring's contract is "slowest queries" only.
    cur_q = current.get("queries", {})
    comparable = [
        (name, drv_sec, cur_q[name])
        for name, drv_sec in parsed.get("queries", {}).items()
        if cur_q.get(name) is not None and cur_q[name] > 0 and drv_sec > 0
    ]
    top_n = 10
    shown = sorted(comparable, key=lambda t: -t[1])[:top_n]
    for name, drv_sec, cur_sec in shown:
        lines.append(
            f"driver-diff {name}: driver {drv_sec} s vs builder "
            f"{cur_sec} s ({drv_sec / cur_sec:.2f}x)"
        )
    if len(comparable) > len(shown):
        lines.append(
            f"driver-diff: +{len(comparable) - len(shown)} more queries "
            f"compared (showing top {top_n} by driver seconds)"
        )
    return lines


def check(baseline_path: str | None) -> int:
    baseline_path = baseline_path or newest_snapshot()
    if baseline_path is None:
        print("check: no bench_history snapshot yet — nothing to compare")
        return 0
    with open(BENCH_FULL) as fh:
        current = json.load(fh)
    with open(baseline_path) as fh:
        baseline = json.load(fh)
    fails, notes = compare(current, baseline)
    for n in notes:
        print(f"NOTE {n.get('query')}: {n.get('note')} "
              f"({n.get('prev_sec', '—')} -> {n.get('cur_sec', '—')} s)")
    for f in fails:
        print(f"FAIL {f['query']}: {f['prev_sec']} -> {f['cur_sec']} s "
              f"({f['ratio']}x) at constant plan")
    for line in driver_diff(current):
        print(line)
    tot_c, tot_b = current.get("value"), baseline.get("value")
    print(
        f"checked {len(current.get('queries', {}))} queries vs "
        f"{os.path.basename(baseline_path)}: {len(fails)} regressions, "
        f"{len(notes)} notes; sweep {tot_b} -> {tot_c} s"
    )
    return 1 if fails else 0


def main() -> int:
    args = sys.argv[1:]
    if args and args[0] == "snapshot":
        if len(args) != 2:
            print("usage: bench_regression.py snapshot r<N>")
            return 2
        snapshot(args[1])
        return 0
    if args and args[0] == "check":
        baseline = None
        if "--baseline" in args:
            baseline = args[args.index("--baseline") + 1]
        return check(baseline)
    print(__doc__)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
