"""Delta-backed job ledger — the SCALE.md storage promise behind a flag.

SCALE.md: at cluster scale "``log/`` becomes a Delta table — semantics
unchanged". This module is that backend: the LOG (the one multi-writer,
streamed, time-traveled store) moves to Delta; the side stores
(scheduled/batches/tombstones/cron) stay single-writer parquet files —
they are serialized through the worker lock already and gain nothing
from a transaction log.

The mapping, point by point (file ledger → Delta):

* staged parts + ``_commits/<seq>.json`` manifest roll-forward
  → ONE ``df.write.format("delta").mode("append")`` transaction (the
  manifest machinery in ``ledger.py`` deliberately mimics a Delta
  commit file; Delta makes it native).
* ``log()`` / ``log_stream()`` parquet-dir reads → Delta batch / stream
  reads. The file-source checkpoint semantics carry over: Delta's
  streaming source checkpoints by table version instead of file list.
* ``state_as_of(seq|ts)`` → ``versionAsOf`` / ``timestampAsOf`` reads
  (the engine's ns-epoch ``seq`` cursor converts to a timestamp).
* ``compact()`` → ``OPTIMIZE`` + ``VACUUM``; the compaction floor is
  Delta's vacuum horizon, and traveling past it raises in both
  backends.

``delta-spark`` is not installed in this environment (and cannot be),
so constructing a DeltaLedger raises ``NotImplementedError`` — the same
honest env-gate as the Kafka connector (``sources/io.py``). Everything
NOT environmental — the required session configs, the as-of cursor
mapping, the backend flag plumbing — is plain code, tested without
Delta.
"""

from __future__ import annotations

import importlib.util
import os

from goose_spark.streaming.ledger import Ledger

#: SparkSession configs a Delta-backed deployment must set
#: (delta.io quickstart; pure data so users/tests can assert them)
DELTA_SPARK_CONFIGS = {
    "spark.sql.extensions": "io.delta.sql.DeltaSparkSessionExtension",
    "spark.sql.catalog.spark_catalog": "org.apache.spark.sql.delta.catalog.DeltaCatalog",
}


def delta_available() -> bool:
    return importlib.util.find_spec("delta") is not None


def as_of_read_option(seq: int | None = None, ts=None) -> dict:
    """Map the engine's as-of cursor to the Delta reader option —
    ``state_as_of(seq=…)`` (ns-epoch) becomes ``timestampAsOf``; a raw
    Delta version travels via ``versionAsOf``. Pure, so the cursor
    contract is testable without delta-spark."""
    if (seq is None) == (ts is None):
        raise ValueError("pass exactly one of seq= or ts=")
    if seq is not None:
        import datetime as _dt

        instant = _dt.datetime.fromtimestamp(seq / 1e9, tz=_dt.timezone.utc)
        return {"timestampAsOf": instant.strftime("%Y-%m-%d %H:%M:%S.%f")}
    if isinstance(ts, int):
        return {"versionAsOf": str(ts)}
    return {"timestampAsOf": str(ts)}


class DeltaLedger(Ledger):
    """Ledger whose log store is a Delta table. Env-gated: raises
    NotImplementedError where delta-spark is absent (this container).

    Producer note: the file ledger's client is deliberately Spark-free
    (parquet appends == LPUSH). A Delta log needs a commit protocol, so
    producers route through ``append_df`` (one Delta txn per enqueue
    batch) with a SparkSession, or use delta-rs out-of-process; the
    Spark-free ``append_rows`` / ``append_table`` raise here rather
    than silently writing files Delta readers would not see."""

    def __init__(self, root: str):
        if not delta_available():
            raise NotImplementedError(
                "delta-spark not available in this environment; install "
                "delta-spark and create the session with DELTA_SPARK_CONFIGS "
                "(the file-backed Ledger is the supported backend here)"
            )
        super().__init__(root)  # pragma: no cover — needs delta-spark

    # ---- log store overrides (all pragma no cover: env-gated) -------------

    def append_table(self, table) -> None:  # pragma: no cover
        raise NotImplementedError(
            "Spark-free appends don't exist on the Delta backend; use "
            "append_df(spark.createDataFrame(rows)) — one Delta txn per call"
        )

    def append_df(self, df):  # pragma: no cover
        """One Delta txn. Returns (files added by THIS commit, rows) so
        the worker's post-commit bookkeeping (summary scan over the
        committed files → retry parking, batch callbacks, metrics) works
        unchanged on the Delta backend — an empty list here would
        silently no-op all of it. The add-actions come from the commit's
        own _delta_log entry (the public Delta protocol format), not a
        re-count of the input."""
        import glob as _glob
        import json as _json

        df.write.format("delta").mode("append").save(self.log_dir)
        log_glob = os.path.join(self.log_dir, "_delta_log", "*.json")
        latest = max(_glob.glob(log_glob))  # zero-padded version ordering
        moved, rows = [], 0
        with open(latest) as fh:
            for line in fh:
                action = _json.loads(line)
                add = action.get("add")
                if add is None:
                    continue
                moved.append(os.path.join(self.log_dir, add["path"]))
                stats = add.get("stats")
                if stats:
                    rows += int(_json.loads(stats).get("numRecords", 0))
        return moved, rows

    def log(self, spark):  # pragma: no cover
        return spark.read.format("delta").load(self.log_dir)

    def log_stream(self, spark):  # pragma: no cover
        return spark.readStream.format("delta").load(self.log_dir)

    def state_as_of(self, spark, seq=None, ts=None):  # pragma: no cover
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        reader = spark.read.format("delta")
        for k, v in as_of_read_option(seq=seq, ts=ts).items():
            reader = reader.option(k, v)
        w = Window.partitionBy("id").orderBy(F.col("seq").desc())
        return (
            reader.load(self.log_dir)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def compact(self, spark, **kwargs):  # pragma: no cover
        from delta.tables import DeltaTable

        dt = DeltaTable.forPath(spark, self.log_dir)
        dt.optimize().executeCompaction()
        dt.vacuum()


def open_ledger(root: str, backend: str = "files") -> Ledger:
    """The backend flag: ``files`` (default, this environment) or
    ``delta`` (cluster deployments with delta-spark installed)."""
    if backend == "files":
        return Ledger(root)
    if backend == "delta":
        return DeltaLedger(root)
    raise ValueError(f"unknown ledger backend {backend!r} (files|delta)")
