"""Streaming window/watermark scenarios: drive the builders with a real
file-source stream (availableNow → memory sink) and check the tumbling
aggregation against its own batch twin on the same data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from goose_spark.queries.base import t
from goose_spark.streaming import events as ev
from tests.conftest import SF_SMOKE


def _run_stream(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")


@pytest.fixture(scope="module")
def event_stream(spark, tmp_path_factory):
    # re-materialize sf0.001 events as a µs-timestamp parquet dir so the
    # streaming file source can read it without the NANOS issue
    src = t(spark, SF_SMOKE, "events")
    path = str(tmp_path_factory.mktemp("events-stream"))
    src.write.mode("overwrite").parquet(path)
    return spark.readStream.schema(src.schema).parquet(path)


def test_tumbling_stream_matches_batch(spark, event_stream):
    out = _run_stream(spark, ev.tumbling_counts(event_stream), "tumbling")
    batch = ev.tumbling_counts(t(spark, SF_SMOKE, "events"))
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b and len(a) > 0


def test_sliding_windows_overlap(spark, event_stream):
    out = _run_stream(spark, ev.sliding_rates(event_stream), "sliding")
    rows = out.collect()
    assert len(rows) > 0
    # every event lands in width/slide = 2 overlapping windows → total
    # sliding count is 2× the event count
    n_events = t(spark, SF_SMOKE, "events").count()
    assert sum(r["n"] for r in rows) == 2 * n_events


def test_session_windows_close_on_gap(spark, event_stream):
    out = _run_stream(spark, ev.session_windows(event_stream), "sessions")
    rows = out.collect()
    assert len(rows) > 0
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["session_start"], r["session_end"]))
    # sessions of one user never overlap
    for sess in by_user.values():
        sess.sort()
        for (s1, e1), (s2, _) in zip(sess, sess[1:]):
            assert e1 <= s2


def test_watermark_drops_late_rows(spark, tmp_path):
    """Watermark semantics: with update-mode + watermark, a row arriving
    far behind the advanced watermark is dropped from the aggregation."""
    import pandas as pd

    path = str(tmp_path / "late-events")
    schema = "ts timestamp, event_type string, value double"
    base = pd.Timestamp("2026-01-01 12:00:00")
    df1 = spark.createDataFrame(
        pd.DataFrame({"ts": [base + pd.Timedelta(minutes=m) for m in (0, 5, 120)],
                      "event_type": ["a", "a", "a"], "value": [1.0, 1.0, 1.0]})
    )
    df1.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(df1.schema).parquet(path)
    agg = ev.tumbling_counts(stream, width="1 hour", delay="10 minutes")
    seen: list = []

    def collect_batch(batch_df, _epoch):
        seen.extend(batch_df.collect())

    def run_pass():
        q = (
            agg.writeStream.foreachBatch(collect_batch).outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    run_pass()
    assert any(r["event_type"] == "a" for r in seen)
    # second file: one event 2h older than the max seen (far past watermark)
    df2 = spark.createDataFrame(
        pd.DataFrame({"ts": [base], "event_type": ["late"], "value": [9.0]})
    )
    df2.write.mode("append").parquet(path)
    seen.clear()
    run_pass()
    assert [r for r in seen if r["event_type"] == "late"] == []  # dropped


def test_effect_once_drops_replayed_rows(spark, tmp_path):
    """A replayed (duplicate-key) row within the watermark horizon is
    delivered exactly once downstream."""
    import pandas as pd

    path = str(tmp_path / "dup-events")
    base = pd.Timestamp("2026-01-01 12:00:00")
    df1 = spark.createDataFrame(
        pd.DataFrame({"job_id": ["a", "b", "a"],  # 'a' duplicated in-batch
                      "ts": [base, base, base + pd.Timedelta(seconds=1)]})
    )
    df1.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(df1.schema).parquet(path)
    deduped = ev.effect_once(stream, ["job_id"], "ts", within="10 minutes")
    seen = []

    def collect(batch_df, _):
        seen.extend(batch_df.collect())

    def run():
        q = (
            deduped.writeStream.foreachBatch(collect).outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck-eo"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    run()
    assert sorted(r["job_id"] for r in seen) == ["a", "b"]
    # replay 'a' again in a second file — still suppressed
    spark.createDataFrame(
        pd.DataFrame({"job_id": ["a"], "ts": [base + pd.Timedelta(seconds=2)]})
    ).write.mode("append").parquet(path)
    seen.clear()
    run()
    assert seen == []


def test_worker_metrics_sink(spark, tmp_path):
    from goose_spark.client import JobClient
    from goose_spark.streaming.metrics import MetricsSink
    from goose_spark.streaming.worker import Worker

    root = str(tmp_path / "ledger")
    client = JobClient(root)
    for i in range(10):
        client.perform_async("noop", i)
    client.perform_async("always-fail", max_retries=0)
    sink = MetricsSink()
    Worker(spark, root, retry_delay_fn=lambda n: 0, metrics=sink).process_available()
    assert sink.counters[MetricsSink.JOBS_PROCESSED] == 11
    assert sink.counters[MetricsSink.JOBS_SUCCESS] == 10
    assert sink.counters[MetricsSink.JOBS_FAILURE] == 1
    assert len(sink.timings[MetricsSink.EXECUTION_TIME]) >= 1


def test_custom_metrics_backend_injection(spark, tmp_path):
    """The Metrics protocol (metrics.clj:35-42): a user-implemented
    backend receives goose's literal metric-key names from the worker
    feed — no subclassing of engine internals beyond the three emit
    methods."""
    from goose_spark.client import JobClient
    from goose_spark.streaming.metrics import Metrics
    from goose_spark.streaming.worker import Worker

    calls = []

    class MyBackend(Metrics):
        def increment(self, key, n=1, tags=None):
            calls.append(("increment", key, n))

        def timing(self, key, ms, tags=None):
            calls.append(("timing", key, ms))

        def gauge(self, key, value, tags=None):
            calls.append(("gauge", key, value))

    root = str(tmp_path / "ledger")
    client = JobClient(root)
    for i in range(5):
        client.perform_async("noop", i)
    client.perform_async("always-fail", max_retries=0)
    Worker(spark, root, retry_delay_fn=lambda n: 0, metrics=MyBackend()).process_available()
    counters = {k: n for op, k, n in calls if op == "increment"}
    # goose's literal metric names (src/goose/metrics.clj:10-19)
    assert counters["jobs.processed"] == 6
    assert counters["jobs.succeeded"] == 5
    assert counters["jobs.failed"] == 1
    assert any(op == "timing" and k == "job.execution_time" for op, k, _ in calls)


def test_disabled_metrics_backend_not_called(spark, tmp_path):
    from goose_spark.client import JobClient
    from goose_spark.streaming.metrics import Metrics
    from goose_spark.streaming.worker import Worker

    class Disabled(Metrics):
        def enabled(self):
            return False

        def increment(self, key, n=1, tags=None):  # pragma: no cover
            raise AssertionError("disabled backend must not be fed")

    root = str(tmp_path / "ledger")
    JobClient(root).perform_async("noop")
    Worker(spark, root, metrics=Disabled()).process_available()  # no raise


def test_statsd_backend_wire_format():
    """StatsD specimen backend (statsd.clj parity): correct line
    protocol over UDP, with prefix, type chars and merged tags."""
    import socket as s

    from goose_spark.streaming.metrics import StatsDMetrics

    srv = s.socket(s.AF_INET, s.SOCK_DGRAM)
    srv.bind(("127.0.0.1", 0))
    srv.settimeout(5)
    port = srv.getsockname()[1]
    m = StatsDMetrics(host="127.0.0.1", port=port, prefix="goose.",
                      tags={"env": "test"})
    m.increment("jobs.processed", 3)
    m.timing("job.execution_time", 12.5, tags={"queue": "default"})
    m.gauge("dead_jobs.count", 7)
    got = sorted(srv.recv(4096).decode() for _ in range(3))
    srv.close()
    assert got == [
        "goose.dead_jobs.count:7|g|#env:test",
        "goose.job.execution_time:12.5|ms|#env:test,queue:default",
        "goose.jobs.processed:3|c|#env:test",
    ]
    # disabled toggle: nothing sent, no socket errors
    off = StatsDMetrics(enabled_flag=False)
    off.increment("jobs.processed")


def test_latency_class_helper_pure():
    """latency_classes_ms: class derivation + basis instants + the
    goose (pos? latency) guard, on a hand-built frame."""
    import pandas as pd

    from goose_spark.streaming.metrics import latency_classes_ms

    now = pd.Timestamp("2026-01-01 00:00:10")
    t0 = pd.Timestamp("2026-01-01 00:00:00")
    pdf = pd.DataFrame(
        {
            "status": ["success"] * 4 + ["retrying"],
            "retry_count": [0, 0, 0, 2, 1],
            "cron_name": [None, "nightly", None, None, None],
            "run_at": [None, t0, t0, None, now + pd.Timedelta(seconds=60)],
            "enqueued_at": [t0] * 5,
            "last_retried_at": [None, None, None, t0, None],
        }
    )
    out = latency_classes_ms(pdf, now)
    assert out["execution"] == 10_000.0   # row 0: now - enqueued_at
    assert out["cron"] == 10_000.0        # row 1: now - run_at
    assert out["scheduled"] == 10_000.0   # row 2: now - run_at
    # retry class: row 3 (last_retried_at basis, +10s) and row 4
    # (future run_at, -60s) average; the pos-guard lives in
    # record_latency_classes, not here
    assert out["retry"] == (10_000.0 - 60_000.0) / 2

    from goose_spark.streaming.metrics import MetricsSink

    sink = MetricsSink()
    sink.record_latency_classes({"execution": 10.0, "retry": -5.0, "bogus": 3.0})
    assert sink.timings == {"execution.latency": [10.0]}  # guard + known keys


def test_worker_emits_latency_and_batch_metrics(spark, tmp_path, monkeypatch):
    """Full metric-surface parity (metrics.clj:15-25,59-86): execution
    latency timings plus the batch terminal counter and completion
    time, fed from a real worker pass."""
    from goose_spark.client import JobClient
    from goose_spark.streaming.metrics import MetricsSink
    from goose_spark.streaming.worker import Worker

    root = str(tmp_path / "ledger")
    client = JobClient(root)
    for i in range(5):
        client.perform_async("noop", i)
    res = client.perform_batch("flaky", [("mb1", 0), ("mb2", 99)],
                               callback_fn="noop", max_retries=0)
    sink = MetricsSink()
    # SMALL_BATCH_ROWS=0 forces the DISTRIBUTED commit path, whose
    # latency classes come from the bounded summary scan (the driver
    # path is covered by test_worker_metrics_sink + the pure helper)
    monkeypatch.setattr("goose_spark.streaming.worker.SMALL_BATCH_ROWS", 0)
    Worker(spark, root, retry_delay_fn=lambda n: 0, metrics=sink).process_available()
    assert sink.counters["jobs.processed"] == 7
    assert len(sink.timings["execution.latency"]) >= 1
    assert all(ms > 0 for ms in sink.timings["execution.latency"])
    assert sink.counters["batch.partial-success"] == 1
    assert res["id"]  # batch created
    [comp] = sink.timings["batch.completion_time"]
    assert comp > 0


def test_cron_api_queries(spark, tmp_path):
    from goose_spark.api import LedgerAPI
    from goose_spark.client import JobClient

    root = str(tmp_path / "ledger")
    client = JobClient(root)
    client.perform_every("a", "*/5 * * * *", "noop")
    client.perform_every("b", "0 9 * * 1-5", "noop", tz="US/Pacific")
    api = LedgerAPI(spark, root)
    assert api.cron_size() == 2
    assert api.cron_get("a")["cron_schedule"] == "*/5 * * * *"
    assert api.cron_delete("a") and api.cron_size() == 1
    assert api.cron_purge() and api.cron_size() == 0
