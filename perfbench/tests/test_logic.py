"""Tests of the benchmark's own logic (no Spark):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import contextlib
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import inputs, stats, supervise  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


@pytest.mark.parametrize("make", [
    lambda s: inputs.drain_bursts(s, 2, 500),
    lambda s: inputs.status_mix(s),
    lambda s: inputs.stream_schedule(s, [("lo", 25, 4.0, inputs.ASYNC_ONLY),
                                         ("mix", 25, 2.0, inputs.TIMER_MIX)]),
    lambda s: inputs.console_round(s),
    lambda s: inputs.query_order(s, [f"qj{i}" for i in range(15)]),
])
def test_same_seed_same_inputs_other_seed_other_inputs(make):
    assert make(7) == make(7)
    assert make(7) != make(8)


def test_drain_bursts_have_exactly_one_percent_flaky():
    for burst in inputs.drain_bursts(3, 3, 1000):
        assert sum(fn == "flaky" for fn, _, _ in burst) == 10
        assert all(args[1] == 1 for fn, args, _ in burst if fn == "flaky")
    keys = [args[0] for b in inputs.drain_bursts(3, 3, 1000) for _, args, _ in b]
    assert len(set(keys)) == len(keys)


def test_stream_schedule_counts_shares_and_windows():
    ev = inputs.stream_schedule(1, [("lo", 25, 8.0, inputs.ASYNC_ONLY),
                                    ("hi", 50, 10.0, inputs.TIMER_MIX)])
    lo = [e for e in ev if e["step"] == "lo"]
    hi = [e for e in ev if e["step"] == "hi"]
    assert (len(lo), len(hi)) == (200, 500)
    assert all(0 <= e["t"] < 8 for e in lo) and all(8 <= e["t"] < 18 for e in hi)
    assert [e["t"] for e in ev] == sorted(e["t"] for e in ev)
    assert {e["kind"] for e in lo} == {"async"}
    for kind, share in inputs.TIMER_MIX[1:]:
        assert sum(e["kind"] == kind for e in hi) == round(500 * share)
    # one call per equal slot: the load is the same for every seed
    slots = [int((e["t"] - 8) / 0.02) for e in hi]
    assert slots == list(range(500))


def test_console_round_issues_every_op_once():
    ops = [op for op, _ in inputs.console_round(2)]
    assert sorted(ops) == sorted(inputs.CONSOLE_READS + inputs.CONSOLE_WRITES)


def test_quantile_interpolates_like_quantile_cont():
    assert stats.quantile([1, 2, 3, 4], 0.5) == 2.5
    assert stats.quantile(range(101), 0.9) == pytest.approx(90.0)
    assert stats.quantile([5], 0.99) == 5


@pytest.mark.parametrize("n,wanted,q", [
    (1000, 0.99, 0.99), (900, 0.99, 0.9), (100, 0.99, 0.9), (91, 0.99, 0.75),
    (40, 0.99, 0.75), (31, 0.9, 0.5), (20, 0.99, 0.5), (19, 0.99, None), (5000, 0.9, 0.9),
])
def test_percentile_rule_needs_ten_samples_beyond(n, wanted, q):
    assert stats.supported_percentile(n, wanted) == q
    if q is not None:
        assert stats.samples_beyond(n, q) >= stats.MIN_BEYOND


def test_tail_reports_unsupported_sample():
    assert stats.tail([1.0] * 10, 0.99) == (None, None)
    assert stats.tail(list(range(100)), 0.99) == (0.9, pytest.approx(89.1))


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 1, "parent": None, "start": 0, "end": 100},
        {"id": 2, "parent": 1, "start": 10, "end": 30},
        {"id": 3, "parent": 1, "start": 20, "end": 50},  # overlaps 2: counted once
        {"id": 4, "parent": 1, "start": 90, "end": 120},  # runs past parent: clipped
        {"id": 5, "parent": 3, "start": 25, "end": 35},  # grandchild: only 3 loses it
    ]
    st = stats.self_times(spans)
    assert st[1] == 100 - 40 - 10
    assert st[3] == 30 - 10
    assert st[2] == 20 and st[4] == 30 and st[5] == 10


def test_tracer_nests_spans_and_summarises_layers():
    tr = Tracer("r", True)
    with tr.span("phase.console"):
        with tr.span("api.size"):
            pass
        with tr.span("client.perform_async"):
            pass
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["api.size"]["parent"] == by_name["phase.console"]["id"]
    assert by_name["phase.console"]["parent"] is None
    summ = tr.layer_summary()
    assert summ["api"]["calls"] == 1 and summ["client"]["calls"] == 1
    assert summ["worker"]["calls"] == 0
    assert Tracer("off", False).span("api.size").__enter__() is None


def test_due_time_latency_charges_generator_stall():
    # three requests due 10 ms apart; the generator stalls and sends all
    # of them at 500 ms; each completes 100 ms after it was sent
    due = [0, 10_000_000, 20_000_000]
    sent = [500_000_000] * 3
    done = [s + 100_000_000 for s in sent]
    assert stats.due_latencies(due, done) == pytest.approx([0.6, 0.59, 0.58])
    # measured from send time the stall would vanish
    assert stats.due_latencies(sent, done) == pytest.approx([0.1, 0.1, 0.1])


def test_run_to_end_waits_for_orphaned_grandchild():
    # the child exits at once and leaves a grandchild that ends 1 s later
    mark = "perfbench-orphan-test"
    t0 = time.monotonic()
    rc = supervise.run_to_end(["bash", "-c", f"exec -a {mark} sleep 1 & exit 3"], dict(os.environ))
    assert rc == 3
    assert time.monotonic() - t0 >= 0.9
    for name in os.listdir("/proc"):
        if name.isdigit():
            with contextlib.suppress(OSError), open(f"/proc/{name}/cmdline", "rb") as fh:
                assert fh.read().split(b"\0")[0] != mark.encode()
