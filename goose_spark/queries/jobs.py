"""Job-domain observability queries Q-J1..Q-J8 (SURVEY.md §2.6).

These re-express goose's console/API "query engine" — lazy SCAN-cursor
walks with client-side predicates (``src/goose/brokers/redis/commands.clj:
24-47``) — as declarative SQL over the columnar job ledger. Each docstring
cites the console/API code whose semantics it mirrors. They run on the
deterministic fixture snapshot (FIXTURES.md §2.1), independent of sf_dir.

At 100 TB the ledger would be partitioned by (status, date(enqueued_at)):
every query below then prunes to a handful of partitions instead of
scanning the full history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goose_spark.queries.base import fixture, fixture_rel, register

_JOBS = fixture_rel("jobs")


@register(
    "qj1_dashboard_counts",
    f"""SELECT status, COUNT(*) AS n FROM {_JOBS} GROUP BY status ORDER BY status""",
    doc="Home-page dashboard fan-out counts — mirrors "
        "src/goose/brokers/redis/console/data.clj:18-28 (enqueued per queue "
        "+ scheduled + dead sizes) collapsed into one GROUP BY.",
)
def qj1(spark: SparkSession, sf: str) -> DataFrame:
    return (
        fixture(spark, "jobs").groupBy("status").agg(F.count("*").alias("n")).orderBy("status")
    )


@register(
    "qj2_failed_jobs_filter",
    f"""SELECT id FROM {_JOBS}
        WHERE queue = 'default' AND error IS NOT NULL ORDER BY id LIMIT 10""",
    doc="Console 'failed' filter-type — mirrors data.clj:39-47; retried? = "
        "error IS NOT NULL per src/goose/job.clj:18-19.",
)
def qj2(spark: SparkSession, sf: str) -> DataFrame:
    return (
        fixture(spark, "jobs")
        .filter((F.col("queue") == "default") & F.col("error").isNotNull())
        .select("id")
        .orderBy("id")
        .limit(10)
    )


@register(
    "qj3_find_by_fn",
    f"""SELECT id, queue FROM {_JOBS}
        WHERE execute_fn = 'app.jobs/send-email'
        ORDER BY enqueued_at, id LIMIT 10""",
    doc="find-by-pattern on execute-fn-sym with bounded result — mirrors "
        "data.clj:33-38 / commands.clj:205-210 (lazy scan + take limit).",
)
def qj3(spark: SparkSession, sf: str) -> DataFrame:
    return (
        fixture(spark, "jobs")
        .filter(F.col("execute_fn") == "app.jobs/send-email")
        .orderBy("enqueued_at", "id")
        .select("id", "queue")
        .limit(10)
    )


@register(
    "qj4_pagination_page2",
    f"""SELECT id FROM {_JOBS}
        WHERE status = 'enqueued' AND queue = 'default'
        ORDER BY priority DESC, enqueued_at, id LIMIT 10 OFFSET 10""",
    doc="Console pagination, page 2, page-size 10 (defaults.clj:82) — "
        "mirrors LRANGE windowing at commands.clj:198-203 / data.clj:66-72. "
        "Priority DESC first approximates front-of-queue semantics (SURVEY "
        "§7.4 delta P8).",
)
def qj4(spark: SparkSession, sf: str) -> DataFrame:
    ranked = (
        fixture(spark, "jobs")
        .filter((F.col("status") == "enqueued") & (F.col("queue") == "default"))
        .orderBy(F.col("priority").desc(), "enqueued_at", "id")
        .select("id")
        .limit(20)
    )
    # OFFSET via anti-slice: deterministic total order makes page 2 = rows
    # 11..20 of the limited head (Spark has .offset in 3.4+/4.x).
    return ranked.offset(10)


@register(
    "qj5_dead_retention",
    f"""SELECT COUNT(*) AS would_delete FROM {_JOBS}
        WHERE status = 'dead' AND died_at < TIMESTAMP '2026-04-01 00:00:00'""",
    doc="dead-jobs delete-older-than retention scan — mirrors ZREMRANGEBYSCORE "
        "at src/goose/brokers/redis/api/dead_jobs.clj:52-54.",
)
def qj5(spark: SparkSession, sf: str) -> DataFrame:
    return (
        fixture(spark, "jobs")
        .filter(
            (F.col("status") == "dead")
            & (F.col("died_at") < F.lit("2026-04-01 00:00:00").cast("timestamp"))
        )
        .agg(F.count("*").alias("would_delete"))
    )


@register(
    "qj6_batch_status",
    f"""SELECT batch_id,
               CAST(SUM(CASE WHEN status IN ('enqueued','in_progress','scheduled') THEN 1 ELSE 0 END) AS BIGINT) AS enq,
               CAST(SUM(CASE WHEN status = 'retrying' THEN 1 ELSE 0 END) AS BIGINT) AS retrying,
               CAST(SUM(CASE WHEN status = 'success' THEN 1 ELSE 0 END) AS BIGINT) AS success,
               CAST(SUM(CASE WHEN status = 'dead' THEN 1 ELSE 0 END) AS BIGINT) AS dead,
               CASE WHEN SUM(CASE WHEN status IN ('enqueued','in_progress','scheduled','retrying') THEN 1 ELSE 0 END) > 0 THEN 'in-progress'
                    WHEN SUM(CASE WHEN status = 'dead' THEN 1 ELSE 0 END) = 0 THEN 'success'
                    WHEN SUM(CASE WHEN status = 'success' THEN 1 ELSE 0 END) = 0 THEN 'dead'
                    ELSE 'partial-success' END AS batch_status
        FROM {_JOBS} WHERE batch_id IS NOT NULL
        GROUP BY batch_id ORDER BY batch_id""",
    doc="Batch status derivation over member cardinalities — the pure fn at "
        "src/goose/batch.clj:40-46 as a CASE over conditional counts "
        "(set-cardinality reads at src/goose/brokers/redis/batch.clj:45-60).",
)
def qj6(spark: SparkSession, sf: str) -> DataFrame:
    j = fixture(spark, "jobs").filter(F.col("batch_id").isNotNull())

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    enq = cnt(F.col("status").isin("enqueued", "in_progress", "scheduled")).alias("enq")
    retrying = cnt(F.col("status") == "retrying").alias("retrying")
    success = cnt(F.col("status") == "success").alias("success")
    dead = cnt(F.col("status") == "dead").alias("dead")
    agg = j.groupBy("batch_id").agg(enq, retrying, success, dead)
    return agg.select(
        "batch_id",
        "enq",
        "retrying",
        "success",
        "dead",
        F.when(F.col("enq") + F.col("retrying") > 0, "in-progress")
        .when(F.col("dead") == 0, "success")
        .when(F.col("success") == 0, "dead")
        .otherwise("partial-success")
        .alias("batch_status"),
    ).orderBy("batch_id")


@register(
    "qj7_scheduler_due_scan",
    f"""SELECT id FROM {_JOBS}
        WHERE status IN ('scheduled','retrying')
          AND run_at <= TIMESTAMP '2026-06-01 00:00:00'
        ORDER BY run_at, id LIMIT 50""",
    doc="Scheduler due-scan — ZRANGEBYSCORE -inf..now LIMIT 50 at "
        "src/goose/brokers/redis/commands.clj:219-228 (pop limit 50 per "
        "defaults.clj:49); run_at is the zset score.",
)
def qj7(spark: SparkSession, sf: str) -> DataFrame:
    return (
        fixture(spark, "jobs")
        .filter(
            F.col("status").isin("scheduled", "retrying")
            & (F.col("run_at") <= F.lit("2026-06-01 00:00:00").cast("timestamp"))
        )
        .orderBy("run_at", "id")
        .select("id")
        .limit(50)
    )


@register(
    "qj10_queue_depths",
    f"""SELECT queue, COUNT(*) AS depth,
               CAST(SUM(CASE WHEN priority = 1 THEN 1 ELSE 0 END) AS BIGINT) AS front_priority
        FROM {_JOBS} WHERE status = 'enqueued'
        GROUP BY queue ORDER BY queue""",
    doc="Queue-depth gauge sweep (batch form) — mirrors the LLEN-per-queue "
        "metrics loop at src/goose/brokers/redis/metrics.clj:14-44; the "
        "streaming twin is streaming.events.job_queue_depth_stream.",
)
def qj10(spark: SparkSession, sf: str) -> DataFrame:
    return (
        fixture(spark, "jobs")
        .filter(F.col("status") == "enqueued")
        .groupBy("queue")
        .agg(
            F.count("*").alias("depth"),
            F.sum(F.when(F.col("priority") == 1, 1).otherwise(0)).cast("long").alias("front_priority"),
        )
        .orderBy("queue")
    )


@register(
    "qj8_latency_classes",
    f"""SELECT CASE WHEN run_at IS NOT NULL AND error IS NOT NULL THEN 'retry'
                    WHEN run_at IS NOT NULL THEN 'schedule'
                    WHEN cron_name IS NOT NULL THEN 'cron'
                    ELSE 'execution' END AS latency_class,
               COUNT(*) AS n
        FROM {_JOBS} GROUP BY 1 ORDER BY latency_class""",
    doc="Latency classification — mirrors the latency-type dispatch at "
        "src/goose/job.clj:45-55 (retry-at > schedule-run-at > cron-run-at "
        "> enqueued-at precedence).",
)
def qj8(spark: SparkSession, sf: str) -> DataFrame:
    cls = (
        F.when(F.col("run_at").isNotNull() & F.col("error").isNotNull(), "retry")
        .when(F.col("run_at").isNotNull(), "schedule")
        .when(F.col("cron_name").isNotNull(), "cron")
        .otherwise("execution")
        .alias("latency_class")
    )
    return (
        fixture(spark, "jobs")
        .groupBy(cls)
        .agg(F.count("*").alias("n"))
        .orderBy("latency_class")
    )


_JOB_EVENTS = fixture_rel("job_events")


@register(
    "qj11_recovery_audit",
    f"""SELECT CAST(SUM(CASE WHEN fails > 0 AND completes > 0 THEN 1 ELSE 0 END) AS BIGINT) AS recovered,
               CAST(SUM(CASE WHEN fails > 0 AND completes = 0 THEN 1 ELSE 0 END) AS BIGINT) AS still_failed,
               CAST(SUM(CASE WHEN fails = 0 AND completes > 0 THEN 1 ELSE 0 END) AS BIGINT) AS clean,
               CAST(MAX(completes) AS BIGINT) AS max_executions
        FROM (SELECT job_id,
                     SUM(CASE WHEN kind = 'fail' THEN 1 ELSE 0 END) AS fails,
                     SUM(CASE WHEN kind = 'complete' THEN 1 ELSE 0 END) AS completes
              FROM {_JOB_EVENTS} GROUP BY job_id) t""",
    doc="At-least-once recovery audit over the event log — the batch "
        "twin of goose's jobs.recovered metric (orphan replay at "
        "src/goose/brokers/redis/orphan_checker.clj:9-40 and RMQ "
        "redelivery? at src/goose/brokers/rmq/consumer.clj:11-20): jobs "
        "that failed then completed vs failed-for-good vs clean.",
)
def qj11(spark: SparkSession, sf: str) -> DataFrame:
    ev = fixture(spark, "job_events")
    per_job = ev.groupBy("job_id").agg(
        F.sum((F.col("kind") == "fail").cast("int")).alias("fails"),
        F.sum((F.col("kind") == "complete").cast("int")).alias("completes"),
    )
    return per_job.agg(
        F.sum(((F.col("fails") > 0) & (F.col("completes") > 0)).cast("long")).alias("recovered"),
        F.sum(((F.col("fails") > 0) & (F.col("completes") == 0)).cast("long")).alias("still_failed"),
        F.sum(((F.col("fails") == 0) & (F.col("completes") > 0)).cast("long")).alias("clean"),
        F.max("completes").cast("long").alias("max_executions"),
    )


@register(
    "qj12_enqueue_complete_latency",
    f"""WITH e AS (SELECT job_id, queue, MIN(event_time) AS t_enq
                   FROM {_JOB_EVENTS} WHERE kind = 'enqueue' GROUP BY job_id, queue),
         c AS (SELECT job_id, MIN(event_time) AS t_done
               FROM {_JOB_EVENTS} WHERE kind = 'complete' GROUP BY job_id)
       SELECT e.queue, COUNT(*) AS n_done,
              ROUND(CAST(SUM(epoch_ms(c.t_done) - epoch_ms(e.t_enq)) AS DOUBLE)
                    / COUNT(*), 2) AS avg_ms,
              CAST(MAX(epoch_ms(c.t_done) - epoch_ms(e.t_enq)) AS BIGINT) AS max_ms
       FROM e JOIN c ON e.job_id = c.job_id
       GROUP BY e.queue ORDER BY e.queue""",
    doc="Enqueue→complete latency per queue from the event log — the "
        "batch analog of goose's 2 ms enqueue→execute latency figure "
        "(perf/README.md:21) and the latency middleware at "
        "src/goose/job.clj:45-61. Exact integer millisecond math on "
        "both engines.",
)
def qj12(spark: SparkSession, sf: str) -> DataFrame:
    ev = fixture(spark, "job_events")
    e = (
        ev.filter(F.col("kind") == "enqueue")
        .groupBy("job_id", "queue")
        .agg(F.min("event_time").alias("t_enq"))
    )
    c = (
        ev.filter(F.col("kind") == "complete")
        .groupBy("job_id")
        .agg(F.min("event_time").alias("t_done"))
    )
    # fixture timestamps surface as TIMESTAMP_NTZ; cast for unix_millis —
    # the subtraction cancels the session-tz interpretation
    ms = F.unix_millis(F.col("t_done").cast("timestamp")) - F.unix_millis(
        F.col("t_enq").cast("timestamp")
    )
    return (
        e.join(c, "job_id")
        .groupBy("queue")
        .agg(
            F.count("*").alias("n_done"),
            F.round(F.sum(ms).cast("double") / F.count("*"), 2).alias("avg_ms"),
            F.max(ms).cast("long").alias("max_ms"),
        )
        .orderBy("queue")
    )


@register(
    "qj13_queue_age_profile",
    f"""SELECT queue,
               COUNT(*) AS backlog,
               MIN(enqueued_at) AS oldest_enqueued_at,
               CAST(ROUND(epoch(TIMESTAMP '2026-06-01 00:00:00'
                                - MIN(enqueued_at)), 0) AS BIGINT)
                 AS oldest_age_sec,
               CAST(ROUND(epoch(TIMESTAMP '2026-06-01 00:00:00'
                                - MAX(enqueued_at)), 0) AS BIGINT)
                 AS newest_age_sec
        FROM {_JOBS} WHERE status = 'enqueued'
        GROUP BY queue ORDER BY queue""",
    doc="Queue backlog age profile — the 'how stale is the oldest "
        "waiting job' gauge an operator checks before scaling a fleet "
        "(complements qj10's depth with recency; the reference reads "
        "this off the head of each Redis list). Fixed reference instant "
        "so the oracle is deterministic; in production the instant is "
        "now(). One (queue) hash-agg over the enqueued partition.",
)
def qj13(spark: SparkSession, sf: str) -> DataFrame:
    ref = F.lit("2026-06-01 00:00:00").cast("timestamp")
    # fixture timestamps are NTZ; session tz is UTC so the cast chain
    # is value-identical to the oracle's epoch() subtraction
    age = lambda col: F.round(  # noqa: E731
        ref.cast("double") - col.cast("timestamp").cast("double"), 0
    ).cast("long")
    return (
        fixture(spark, "jobs")
        .filter(F.col("status") == "enqueued")
        .groupBy("queue")
        .agg(
            F.count("*").alias("backlog"),
            F.min("enqueued_at").alias("oldest_enqueued_at"),
            age(F.min("enqueued_at")).alias("oldest_age_sec"),
            age(F.max("enqueued_at")).alias("newest_age_sec"),
        )
        .orderBy("queue")
    )


@register(
    "qj14_scheduled_backlog_buckets",
    f"""SELECT strftime(run_at, '%Y%m%d%H') AS bucket,
               COUNT(*) AS parked,
               CAST(SUM(CASE WHEN run_at <= TIMESTAMP '2026-06-01 00:00:00'
                             THEN 1 ELSE 0 END) AS BIGINT) AS due
        FROM {_JOBS}
        WHERE status IN ('scheduled', 'retrying') AND run_at IS NOT NULL
        GROUP BY bucket ORDER BY bucket""",
    doc="Scheduled-store depth per run_at HOUR bucket with a due split — "
        "the operator gauge for the bounded due-sweep (the sweep pops "
        "whole hour-bucket files oldest-first under SCHEDULE_POP_LIMIT, "
        "so this histogram IS its work queue; goose reads the analog "
        "off ZCOUNT ranges). Fixed reference instant keeps the oracle "
        "deterministic. One map-side-combinable hash-agg; at 100 TB the "
        "bucket IS the partition key, so the scan prunes to parked "
        "partitions only.",
)
def qj14(spark: SparkSession, sf: str) -> DataFrame:
    due_ref = F.lit("2026-06-01 00:00:00").cast("timestamp")
    j = fixture(spark, "jobs")
    return (
        j.filter(
            F.col("status").isin("scheduled", "retrying")
            & F.col("run_at").isNotNull()
        )
        .groupBy(F.date_format("run_at", "yyyyMMddHH").alias("bucket"))
        .agg(
            F.count("*").alias("parked"),
            F.sum(F.when(F.col("run_at") <= due_ref, 1).otherwise(0))
            .cast("long").alias("due"),
        )
        .orderBy("bucket")
    )


@register(
    "qj15_throughput_timeline",
    f"""WITH m AS (
          SELECT date_trunc('minute', event_time) AS minute,
                 CAST(SUM(CASE WHEN kind = 'enqueue' THEN 1 ELSE 0 END) AS BIGINT) AS enq,
                 CAST(SUM(CASE WHEN kind = 'complete' THEN 1 ELSE 0 END) AS BIGINT) AS done,
                 CAST(SUM(CASE WHEN kind = 'fail' THEN 1 ELSE 0 END) AS BIGINT) AS failed
          FROM {_JOB_EVENTS} GROUP BY 1)
        SELECT minute, enq, done, failed,
               CAST(SUM(enq - done - failed) OVER (
                 ORDER BY minute
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS backlog
        FROM m ORDER BY minute""",
    doc="Per-minute throughput timeline + running backlog over the "
        "transition log — the ops dashboard chart behind goose's "
        "enqueued/processed counts (console data.clj fan-out, plotted "
        "over time): enqueues, completes, fails per minute, and the "
        "cumulative backlog (enq − done − fail prefix sum). The oracle "
        "states the naive global-window form; the Spark plan computes "
        "the SAME prefix sum two-pass (sp4's pattern): per-HOUR partials "
        "collected driver-side (O(hours) longs — the only driver "
        "traffic), running hour offsets broadcast back, and the "
        "within-hour cumulative on an hour-PARTITIONED window — zero "
        "Exchange SinglePartition, every hour ranks in parallel, which "
        "is the shape that survives a year-long log at 100 TB where the "
        "global-window form funnels every minute through one task.",
)
def qj15(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = fixture(spark, "job_events")
    m = (
        ev.groupBy(F.date_trunc("minute", "event_time").alias("minute"))
        .agg(
            F.sum(F.when(F.col("kind") == "enqueue", 1).otherwise(0))
            .cast("long").alias("enq"),
            F.sum(F.when(F.col("kind") == "complete", 1).otherwise(0))
            .cast("long").alias("done"),
            F.sum(F.when(F.col("kind") == "fail", 1).otherwise(0))
            .cast("long").alias("failed"),
        )
        .withColumn("net", F.col("enq") - F.col("done") - F.col("failed"))
        .withColumn("hour", F.date_trunc("hour", "minute"))
    )
    from goose_spark.plans.guards import persist_shared

    m = persist_shared(m)
    # pass 1: per-hour net subtotals -> driver -> running offsets
    # (exclusive prefix: the offset an hour's minutes start from)
    hours = sorted(
        (r["hour"], r["s"])
        for r in m.groupBy("hour").agg(F.sum("net").alias("s")).collect()
    )
    offsets, acc = [], 0
    for h, s in hours:
        offsets.append((h, acc))
        acc += s
    off = F.broadcast(
        spark.createDataFrame(offsets, schema="hour timestamp, offset long")
    )
    # pass 2: within-hour cumulative + the hour's offset
    w = (
        Window.partitionBy("hour")
        .orderBy("minute")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        m.join(off, "hour")
        .select(
            "minute", "enq", "done", "failed",
            (F.sum("net").over(w) + F.col("offset"))
            .cast("long").alias("backlog"),
        )
        .orderBy("minute")
    )
