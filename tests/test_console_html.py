"""Console HTML layer: hiccup renderer, page views, route dispatch, and
an end-to-end http.server round-trip — the view-side twin of
tests/test_console.py (reference: page_test.clj renders each route and
asserts on the markup)."""

from __future__ import annotations

import pytest

from goose_spark.api import LedgerAPI
from goose_spark.client import JobClient
from goose_spark.console import Console
from goose_spark.console_html import ConsoleHtml, h, serve
from goose_spark.functions.backoff import default_retry_delay_sec
from goose_spark.streaming.worker import Worker


@pytest.fixture(scope="module")
def site(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ledger"))
    client = JobClient(root)
    for i in range(3):
        client.perform_async("noop", i)
    client.perform_async("always-fail", max_retries=0)
    client.perform_in_sec(3600, "noop")
    client.perform_every("nightly", "30 2 * * *", "noop")
    worker = Worker(spark, root, worker_id="html-worker", retry_delay_fn=lambda n: default_retry_delay_sec(n, lambda _: 0))
    worker.process_available()  # fail-job dies; noops succeed
    return ConsoleHtml(Console(LedgerAPI(spark, root)))


def test_hiccup_renderer_escapes_and_nests():
    out = h(["div.card#main", {"data-x": "1"}, ["span", "<b>&"], None, "tail"])
    assert out == '<div data-x="1" id="main" class="card"><span>&lt;b&gt;&amp;</span>tail</div>'


def test_home_stats_bar(site):
    html = site.home()
    assert "<!DOCTYPE html>" in html
    # stat tiles link to their pages (pages/home.clj:7-25 shape)
    for route in ("/enqueued", "/scheduled", "/cron", "/dead", "/workers"):
        assert f'href="{route}"' in html
    assert '<div id="workers" class="stat"><span class="number">1</span>' in html


def test_enqueued_queue_listing_and_table(site):
    idx = site.enqueued()
    assert 'href="/enqueued/queue/' not in idx or "queues" in idx  # index renders
    # the scheduled job is parked, successes are terminal → no enqueued rows left
    page = site.dead()
    assert "always-fail" in page and "jobs-table" in page


def test_job_drilldown_and_404(site):
    dead = site.console.api.peek_dead(1)[0]
    status, ctype, body = site.app_handler(f"/job/{dead['id']}")
    assert status == 200 and dead["id"] in body and "job-detail" in body
    status, _, _ = site.app_handler("/no/such/route")
    assert status == 404
    status, _, body = site.app_handler(f"/job/not-a-real-id")
    assert status == 200 and "No job" in body


def test_cron_and_workers_pages(site):
    cron = site.cron()
    assert "nightly" in cron and "30 2 * * *" in cron
    workers = site.workers()
    assert "html-worker" in workers and "True" in workers


def test_http_server_roundtrip(site):
    import threading
    import urllib.request

    srv = serve(site.console, port=0)  # ephemeral port
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/") as resp:
            assert resp.status == 200
            body = resp.read().decode()
            assert "goose-spark" in body and 'href="/dead"' in body
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/dead") as resp:
            assert "always-fail" in resp.read().decode()
    finally:
        srv.shutdown()
        t.join(5)


def test_post_actions_roundtrip(spark, tmp_path):
    """Console form actions (pages/enqueued.clj jobs-table form): delete
    via POST removes the job from the queue and it never executes; the
    dead-jobs replay action re-enqueues."""
    import threading
    import urllib.parse
    import urllib.request

    root = str(tmp_path / "ledger")
    client = JobClient(root)
    doomed = client.perform_async("noop", "x")
    client.perform_async("always-fail", max_retries=0)
    api = LedgerAPI(spark, root)
    srv = serve(Console(api), port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        def post(path, **form):
            data = urllib.parse.urlencode(form).encode()
            with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", data=data) as r:
                return r.status, r.read().decode()

        status, body = post("/enqueued/queue/default/jobs",
                            action="delete", ids=doomed["id"])
        assert status == 200 and body == "deleted 1"

        worker = Worker(spark, root, retry_delay_fn=lambda n: default_retry_delay_sec(n, lambda _: 0))
        worker.process_available()
        assert worker.executions == 1  # the fail job; deleted one skipped

        status, body = post("/dead/jobs", action="replay", n="1")
        assert status == 200 and body == "replayed 1"

        status, body = post("/scheduled/jobs", action="purge")
        assert status == 200 and body.startswith("purged")

        import urllib.error

        with pytest.raises(urllib.error.HTTPError) as exc:
            post("/cron/delete", name="not-a-cron")
        assert exc.value.code == 404

        with pytest.raises(urllib.error.HTTPError) as exc:
            post("/no/such", action="x")
        assert exc.value.code == 404
    finally:
        srv.shutdown()
        t.join(5)


def test_post_prioritise_purge_and_cron_delete(spark, tmp_path):
    """The remaining console action verbs, each asserted against the
    ledger (reference: pages/enqueued.clj:154-168 prioritise/purge
    buttons, pages/cron.clj delete): prioritise re-emits front-priority,
    queue purge tombstones the whole queue, dead purge empties the dead
    set, cron delete removes the registry entry."""
    import threading
    import urllib.parse
    import urllib.request

    root = str(tmp_path / "ledger")
    client = JobClient(root)
    slow = client.perform_async("noop", "first")
    vip = client.perform_async("noop", "second")
    for i in range(3):
        client.perform_async("noop", i, queue="purgeme")
    client.perform_async("always-fail", max_retries=0)
    client.perform_every("nightly", "30 2 * * *", "noop")
    api = LedgerAPI(spark, root)
    srv = serve(Console(api), port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        def post(path, **form):
            data = urllib.parse.urlencode(form).encode()
            with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", data=data) as r:
                return r.status, r.read().decode()

        # prioritise: the later job is re-emitted as a front-priority row
        status, body = post("/enqueued/queue/default/jobs",
                            action="prioritise", ids=vip["id"])
        assert status == 200 and body == "prioritised 1"
        state = {r["id"]: r.asDict() for r in api.state().collect()}
        assert state[vip["id"]]["priority"] == 1
        assert state[slow["id"]]["priority"] == 0

        # queue purge: every enqueued row in the queue is tombstoned
        status, body = post("/enqueued/queue/purgeme/purge")
        assert status == 200 and body == "purged 3"

        from goose_spark.streaming.worker import Worker

        worker = Worker(spark, root, retry_delay_fn=lambda n: default_retry_delay_sec(n, lambda _: 0))
        worker.process_available()
        # purged jobs never executed: 2 default noops + 1 fail
        assert worker.executions == 3
        counts = api.dashboard_counts()
        assert counts.get("deleted", 0) == 3 and counts["dead"] == 1

        # dead purge
        status, body = post("/dead/jobs", action="purge")
        assert status == 200 and body == "purged 1"
        assert api.peek_dead(5) == []

        # cron delete (success path)
        status, body = post("/cron/delete", name="nightly")
        assert status == 200 and body == "cron deleted: nightly"
        assert api.cron_entries() == []
    finally:
        srv.shutdown()
        t.join(5)
