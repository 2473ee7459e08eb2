"""Console data-layer pages: route-shaped assemblies, filter dispatch,
param validation — patterned on the reference console tests
(test/goose/brokers/redis/console/page_test.clj / data_test.clj)."""

from __future__ import annotations

import pytest

from goose_spark.api import LedgerAPI
from goose_spark.client import JobClient
from goose_spark.console import Console
from goose_spark.streaming.worker import Worker


@pytest.fixture()
def setup(spark, tmp_path):
    root = str(tmp_path / "ledger")
    client = JobClient(root)
    for i in range(25):
        client.perform_async("noop", i)
    client.perform_async("always-fail", max_retries=0)
    client.perform_in_sec(3600, "noop")
    client.perform_every("nightly", "30 2 * * *", "noop")
    b = client.perform_batch("noop", [(i,) for i in range(4)], queue="bq")
    console = Console(LedgerAPI(spark, root))
    return client, console, b, root


def test_home_dashboard(spark, setup):
    _, console, _, _ = setup
    home = console.page_home()
    assert home["enqueued"] == 30  # 25 + fail-job + 4 batch members
    assert home["scheduled"] == 1
    assert home["cron"] == 1


def test_enqueued_pagination_and_total(spark, setup):
    _, console, _, _ = setup
    p1 = console.page_enqueued("default", page=1)
    p2 = console.page_enqueued("default", page=2)
    assert p1["total"] == 26 and len(p1["jobs"]) == 10
    assert len(p2["jobs"]) == 10
    assert {j["id"] for j in p1["jobs"]}.isdisjoint({j["id"] for j in p2["jobs"]})


def test_filter_dispatch(spark, setup):
    client, console, _, _ = setup
    by_fn = console.page_enqueued("default", filter_type="execute-fn",
                                  filter_value="always-fail")
    assert by_fn["total"] == 1 and by_fn["jobs"][0]["execute_fn"] == "always-fail"
    # filtered results are bounded by limit (scan-seq + take parity)
    unex = console.page_enqueued("default", filter_type="type", filter_value="unexecuted")
    assert unex["total"] == 10
    unex_all = console.page_enqueued("default", filter_type="type",
                                     filter_value="unexecuted", limit=100)
    assert unex_all["total"] == 26
    with pytest.raises(ValueError):
        console.page_enqueued("default", filter_type="nope", filter_value="x")
    with pytest.raises(ValueError):
        console.page_enqueued("default", filter_type="type", filter_value="bogus")


def test_param_validation_defaults(spark, setup):
    _, console, _, _ = setup
    assert console.page_enqueued("default", page="garbage")["page"] == 1
    assert console.page_enqueued("default", page=-5)["page"] == 1


def test_dead_and_batch_pages(spark, setup):
    client, console, b, root = setup
    Worker(spark, root, retry_delay_fn=lambda n: 0).process_available()
    dead = console.page_dead()
    assert dead["total"] == 1 and dead["jobs"][0]["execute_fn"] == "always-fail"
    batch = console.page_batch(b["id"])
    assert batch["status"] == "success" and batch["counts"]["success"] == 4
    assert console.page_batch("nonexistent") is None
    assert console.page_scheduled()["total"] == 1


def test_console_reads_and_replay_dead(spark, tmp_path):
    """Every read surface the console uses (dashboard fan-out, queue
    listing/sizes, finds, pagination, dead top-k) answers from the
    ledger's state; ``replay_dead`` moves the oldest dead jobs to the
    front of their queue and the next read sees it."""
    from datetime import datetime, timezone

    from goose_spark.schema import PRIORITY_FRONT
    from goose_spark.streaming.ledger import Ledger

    now = datetime.now(timezone.utc).replace(tzinfo=None)

    def rows(ids, status, queue="default"):
        return [
            {"id": i, "queue": queue, "execute_fn": "noop", "args": "[]",
             "status": status, "priority": 0, "enqueued_at": now,
             "retry_count": 0, "max_retries": 27,
             "error": "boom" if status == "dead" else None}
            for i in ids
        ]

    ledger = Ledger(str(tmp_path / "ledger"))
    ledger.append_rows(rows([f"a{i:02d}" for i in range(25)], "enqueued"))
    ledger.append_rows(rows([f"d{i}" for i in range(6)], "dead"))
    ledger.append_rows(rows(["m1", "m2", "m3"], "enqueued", queue="mail"))
    ledger.append_rows(rows(["s1", "s2"], "scheduled"))
    api = LedgerAPI(spark, ledger)
    console = Console(api)

    assert api.dashboard_counts() == {"enqueued": 28, "dead": 6, "scheduled": 2}
    assert api.list_queues() == ["default", "mail"]
    assert api.size("default") == 25
    assert api.size(status="dead") == 6
    assert api.find_by_id("a07")["status"] == "enqueued"
    assert api.find_by_id("nope") is None
    page2 = api.page("default", page=2)
    assert [j["id"] for j in page2] == [f"a{i:02d}" for i in range(10, 20)]
    assert [j["id"] for j in api.peek_dead(3)] == ["d0", "d1", "d2"]

    home = console.page_home()
    assert home["enqueued"] == 28 and home["dead"] == 6
    assert home["scheduled"] == 2
    p1 = console.page_enqueued("default", page=1)
    assert p1["total"] == 25
    assert [j["id"] for j in p1["jobs"]] == [j["id"] for j in api.page("default", page=1)]
    dead = console.page_dead()
    assert dead["total"] == 6
    assert {j["id"] for j in dead["jobs"]} == {f"d{i}" for i in range(6)}

    # replay appends to the ledger; the very next read sees it
    assert api.replay_dead(2) == 2
    assert api.size(status="dead") == 4
    assert api.dashboard_counts() == {"enqueued": 30, "dead": 4, "scheduled": 2}
    for jid in ("d0", "d1"):
        job = api.find_by_id(jid)
        assert job["status"] == "enqueued" and job["priority"] == PRIORITY_FRONT
    assert [j["id"] for j in api.peek_dead(1)] == ["d2"]
