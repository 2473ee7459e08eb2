"""The job ledger — an append-only parquet event log.

Replaces goose's broker storage (Redis lists/zsets of nippy blobs,
``src/goose/brokers/redis/commands.clj``) with an event-sourced columnar
log: every state transition appends a full job row stamped with a
monotonic ``seq``; the *current* state of a job is its max-seq row.

Layout under a ledger root:

    log/        append-only job rows (JOB_SCHEMA + seq) — streaming source
    scheduled/  parked scheduled/retrying rows awaiting run_at (the
                engine's sorted-set analog; rewritten per due-sweep)
    batches/    batch entity rows (event-sourced like the log)
    cron/       registry.parquet — cron entries + next-run state
                (atomic file swap on update, mirrors the WATCH/MULTI
                registration txn at src/goose/brokers/redis/cron.clj:38-50)
    checkpoint/ Structured Streaming checkpoints (the in-progress /
                preservation-queue analog — replay after crash recovers
                exactly the unacked micro-batch, replacing goose's
                orphan checker, src/goose/brokers/redis/orphan_checker.clj)

Scale notes (100 TB): ``log/`` becomes a Delta table or Kafka topic
partitioned by ``date(enqueued_at)`` × ``queue`` — the append/stream
semantics here are identical. ``scheduled/`` is partitioned by
run_at-hour buckets so a due-sweep rewrites only the due bucket, never
the full set.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil
import time
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from goose_spark.schema import JOB_SCHEMA

_TS = pa.timestamp("us")
ARROW_JOB_FIELDS = [
    ("id", pa.string()),
    ("queue", pa.string()),
    ("execute_fn", pa.string()),
    ("args", pa.string()),
    ("status", pa.string()),
    ("priority", pa.int32()),
    ("enqueued_at", _TS),
    ("run_at", _TS),
    ("cron_name", pa.string()),
    ("batch_id", pa.string()),
    ("retry_count", pa.int32()),
    ("max_retries", pa.int32()),
    ("retry_queue", pa.string()),
    ("error", pa.string()),
    ("first_failed_at", _TS),
    ("last_retried_at", _TS),
    ("died_at", _TS),
    ("worker_id", pa.string()),
]
ARROW_LOG_SCHEMA = pa.schema(ARROW_JOB_FIELDS + [("seq", pa.int64())])
#: one row per batch transition in ``batches/`` (event-sourced: the
#: latest ``seq`` per id is the batch's state)
ARROW_BATCH_SCHEMA = pa.schema(
    [
        ("id", pa.string()),
        ("callback_fn", pa.string()),
        ("linger_sec", pa.int64()),
        ("queue", pa.string()),
        ("total", pa.int64()),
        ("status", pa.string()),
        ("created_at", _TS),
        ("seq", pa.int64()),
    ]
)
#: the cron registry, ``cron/registry.parquet``: one row per entry
ARROW_CRON_SCHEMA = pa.schema(
    [
        ("cron_name", pa.string()),
        ("cron_schedule", pa.string()),
        ("timezone", pa.string()),
        ("execute_fn", pa.string()),
        ("args", pa.string()),
        ("queue", pa.string()),
        ("next_run_at", _TS),
        ("last_run_at", _TS),
    ]
)

_seq_tiebreak = itertools.count()


def next_seq() -> int:
    """Monotonic log sequence (ns clock + in-process tiebreak)."""
    return time.time_ns() + next(_seq_tiebreak)


def _tmp_path(directory: str) -> str:
    """The one temp name every ledger file is staged under before its
    atomic rename. Dot-prefixed, so no directory reader (``_parquet_files``
    and Spark's file listing alike) sees a half-written or un-renamed
    file."""
    return os.path.join(directory, f".tmp-{uuid.uuid4().hex}.parquet")


def _write_atomic(table: pa.Table, dest: str, **kwargs) -> None:
    tmp = _tmp_path(os.path.dirname(dest))
    pq.write_table(table, tmp, **kwargs)
    os.replace(tmp, dest)


def _parquet_files(directory: str) -> list[str]:
    """Sorted names of the committed parquet files in ``directory``
    (staged temp files skipped)."""
    return sorted(
        f for f in os.listdir(directory)
        if f.endswith(".parquet") and not f.startswith(".")
    )


def _latest_per_id(log: DataFrame) -> DataFrame:
    """The one job-state rule: the max-seq row per id. The window
    partitions by id, so an id predicate on the result still reaches
    the scan."""
    w = Window.partitionBy("id").orderBy(F.col("seq").desc())
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _stream_committed_files(checkpoint: str) -> set[str] | None:
    """Basenames of every source file a streaming query has COMMITTED
    (its exactly-once horizon): union of the checkpoint's source
    file-log entries for batch ids ≤ the last id present in commits/.
    Returns None when the checkpoint has no committed batch yet.

    This reads Spark's streaming-checkpoint layout
    (``sources/0/<batchId>`` JSON-lines of {"path": ...},
    ``commits/<batchId>``) — the same metadata the source itself replays
    on restart, so a file listed here is durably part of a finished
    micro-batch and safe to fold out of the directory."""
    import json as _json
    from urllib.parse import unquote, urlparse

    commits = os.path.join(checkpoint, "commits")
    sources = os.path.join(checkpoint, "sources", "0")
    try:
        done = [int(f) for f in os.listdir(commits) if f.isdigit()]
    except OSError:
        return None
    if not done:
        return None
    last = max(done)
    out: set[str] = set()
    try:
        # Spark periodically folds its own source log into `<id>.compact`
        # files (fileSource.log.compactInterval) — read those too
        batch_files = [
            f for f in os.listdir(sources)
            if f.isdigit() or (f.endswith(".compact") and f.split(".")[0].isdigit())
        ]
    except OSError:
        return None
    for f in batch_files:
        if int(f.split(".")[0]) > last:
            continue
        try:
            with open(os.path.join(sources, f)) as fh:
                for line in fh:
                    line = line.strip()
                    if not line.startswith("{"):
                        continue  # the "v1" version header
                    p = _json.loads(line).get("path", "")
                    out.add(os.path.basename(unquote(urlparse(p).path)))
        except (OSError, ValueError):
            return None  # torn/unreadable source log — fold nothing
    return out


class Ledger:
    def __init__(self, root: str):
        self.root = root
        self.log_dir = os.path.join(root, "log")
        self.scheduled_dir = os.path.join(root, "scheduled")
        self.batches_dir = os.path.join(root, "batches")
        self.tombstones_dir = os.path.join(root, "tombstones")
        self.cron_path = os.path.join(root, "cron", "registry.parquet")
        self.checkpoint_dir = os.path.join(root, "checkpoint")
        self.commits_dir = os.path.join(root, "_commits")
        for d in (self.log_dir, self.scheduled_dir, self.batches_dir,
                  self.tombstones_dir, os.path.join(root, "cron"),
                  self.checkpoint_dir, self.commits_dir):
            os.makedirs(d, exist_ok=True)
        # roll torn commits forward BEFORE sweeping staging dirs: a
        # staging dir referenced by a manifest is a commit in flight,
        # not an orphan
        self._recover_torn_commits()
        self._sweep_stale_staging()
        self._prune_manifests()

    # ---- commit manifests (the transaction-log shape) ----------------------
    #
    # A distributed append publishes N staged parts with N renames — not
    # atomic by itself. The manifest (`_commits/<seq>.json`, written
    # atomically BEFORE the first rename) makes it transactional the way
    # a Delta commit file does: a crash mid-publish leaves either no
    # manifest (staging is garbage, swept by age) or a manifest whose
    # remaining renames any later Ledger open completes (roll-forward).
    # Readers keep listing log/ — the invariant is that parts appear
    # there only under a commit guaranteed to finish.

    def _write_manifest(self, seq: int, staging: str, entries: list[dict],
                        deletes: list[str] | None = None) -> str:
        import json as _json

        path = os.path.join(self.commits_dir, f"{seq}.json")
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            _json.dump(
                {
                    "seq": seq,
                    "staging": os.path.basename(staging),
                    "files": entries,
                    "deletes": [os.path.basename(d) for d in (deletes or [])],
                },
                fh,
            )
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
        self._manifest_writes = getattr(self, "_manifest_writes", 0) + 1
        if self._manifest_writes % 512 == 0:
            self._prune_manifests()
        return path

    def _prune_manifests(self, keep: int = 1024) -> None:
        """Drop the oldest COMMITTED manifests beyond ``keep`` (their
        staging dirs are gone, so they are pure audit) — the checkpoint-
        and-expire a Delta log applies to its commit files."""
        names = sorted(
            f for f in os.listdir(self.commits_dir) if f.endswith(".json")
        )
        for f in names[:-keep] if len(names) > keep else []:
            import json as _json

            path = os.path.join(self.commits_dir, f)
            try:
                with open(path) as fh:
                    staging = _json.load(fh).get("staging", "")
                if staging and not os.path.isdir(os.path.join(self.root, staging)):
                    os.remove(path)
            except (OSError, ValueError):
                continue

    def _apply_manifest(self, manifest: dict) -> list[str]:
        """Execute (or re-execute after a crash) a manifest's renames +
        deletes. Idempotent: a rename whose dst exists already happened;
        a delete whose target is gone already happened."""
        staging = os.path.join(self.root, manifest["staging"])
        moved = []
        for e in manifest["files"]:
            src = os.path.join(staging, e["src"])
            dst = os.path.join(self.log_dir, e["dst"])
            if os.path.exists(dst):
                moved.append(dst)
                continue
            if os.path.exists(src):
                os.replace(src, dst)
                moved.append(dst)
        for d in manifest.get("deletes", []):
            p = os.path.join(self.log_dir, d)
            if os.path.exists(p):
                os.remove(p)
        shutil.rmtree(staging, ignore_errors=True)
        return moved

    def _recover_torn_commits(self) -> None:
        import json as _json

        for f in sorted(os.listdir(self.commits_dir)):
            if not f.endswith(".json"):
                continue
            path = os.path.join(self.commits_dir, f)
            try:
                with open(path) as fh:
                    manifest = _json.load(fh)
            except (OSError, ValueError):
                continue
            staging = manifest.get("staging", "")
            if not (staging.startswith(".staging-") or staging.startswith(".compact-")):
                continue
            if os.path.isdir(os.path.join(self.root, staging)):
                self._apply_manifest(manifest)
                continue
            # staging gone but the manifest's deletes still pending: a
            # crash AFTER every rename landed but BEFORE the delete loop
            # finished (the _AtomicPublisher precedent — log file names
            # are uuid-unique, so "delete target still present" always
            # means pending work, never a re-created file). Finish the
            # deletes ONLY when every published dst is in place;
            # otherwise deleting the originals would turn a recoverable
            # torn commit into data loss.
            deletes = manifest.get("deletes", [])
            if deletes and any(
                os.path.exists(os.path.join(self.log_dir, d)) for d in deletes
            ) and all(
                os.path.exists(os.path.join(self.log_dir, e["dst"]))
                for e in manifest.get("files", [])
            ):
                self._apply_manifest(manifest)

    def _sweep_stale_staging(self, max_age_sec: int = 3600) -> None:
        """Remove orphaned `.staging-*` / `.compact-*` dirs left by a
        crash mid-publish (the un-renamed parts were never part of the
        log, so removal is safe — checkpoint replay re-creates the
        batch). Age-gated so a concurrently-publishing writer on a
        shared filesystem is never raced."""
        now = time.time()
        for f in os.listdir(self.root):
            if not (f.startswith(".staging-") or f.startswith(".compact-")):
                continue
            p = os.path.join(self.root, f)
            try:
                if os.path.isdir(p) and now - os.path.getmtime(p) > max_age_sec:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass

    # ---- producer-side append (Spark-free, like the goose client) -------

    def append_rows(self, rows: list[dict]) -> None:
        """Atomically append job rows as ONE parquet file — the analog of
        goose's single LPUSH / MULTI enqueue (one file == one txn for the
        file-source consumer)."""
        if not rows:
            return
        base_seq = next_seq()
        cols = {name: [] for name, _ in ARROW_JOB_FIELDS}
        seqs = []
        for i, r in enumerate(rows):
            for name, _ in ARROW_JOB_FIELDS:
                cols[name].append(r.get(name))
            seqs.append(r.get("seq", base_seq + i))
        arrays = [pa.array(cols[name], type=typ) for name, typ in ARROW_JOB_FIELDS]
        arrays.append(pa.array(seqs, type=pa.int64()))
        self.append_table(pa.Table.from_arrays(arrays, schema=ARROW_LOG_SCHEMA))

    def append_table(self, table: pa.Table) -> None:
        """Append log rows (each carrying its ``seq``) as ONE parquet
        file: a single rename publishes them, so a reader sees all of
        them or none."""
        if table.num_rows == 0:
            return
        _write_atomic(
            table.cast(ARROW_LOG_SCHEMA),
            os.path.join(self.log_dir, f"{next_seq()}-{uuid.uuid4().hex}.parquet"),
        )

    # ---- Spark-side distributed append ------------------------------------

    def append_df(self, df: DataFrame) -> tuple[list[str], int]:
        """Executor-side append: tasks write parquet parts to a staging
        dir; the driver publishes them into ``log/`` with O(#files)
        metadata renames (the Delta-commit shape — row data never
        funnels through the driver). Returns (published files, row count
        from parquet footers)."""
        moved, rows, _ = self._publish(
            df, ".staging-", lambda base, i: f"{base + i}-{uuid.uuid4().hex}.parquet"
        )
        return moved, rows

    def _publish(self, df: DataFrame, prefix: str, dst_name,
                 deletes=(), publish_lock=None) -> tuple[list[str], int, int]:
        """Write ``df`` executor-side into a ``<prefix>*`` staging dir,
        then publish its non-empty parts into ``log/`` and remove the
        ``deletes`` (log file names) as ONE manifest commit.
        ``dst_name(base, i)`` names the i-th published part. Only the
        publish (manifest write, renames, deletes) holds
        ``publish_lock``; the Spark write runs outside it. Returns
        (published paths, rows from parquet footers, commit seq)."""
        staging = os.path.join(self.root, f"{prefix}{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(staging)
        try:
            base = next_seq()
            entries: list[dict] = []
            for f in _parquet_files(staging):
                n = pq.ParquetFile(os.path.join(staging, f)).metadata.num_rows
                # empty parts (tasks that got no rows) must not reach
                # log/: the streaming source's listing + checkpoint
                # index grows per file, and a wide repartition emits
                # up to `width` empties per micro-batch
                if n:
                    entries.append({"src": f, "dst": dst_name(base, len(entries)), "rows": n})
            moved: list[str] = []
            if entries or deletes:
                manifest = {
                    "staging": os.path.basename(staging),
                    "files": entries,
                    "deletes": list(deletes),
                }
                lock = publish_lock if publish_lock is not None else contextlib.nullcontext()
                with lock:
                    # the manifest write is THE commit point: before it,
                    # the commit never happened; after it, any Ledger
                    # open finishes it
                    self._write_manifest(base, staging, entries, deletes)
                    moved = self._apply_manifest(manifest)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return moved, sum(e["rows"] for e in entries), base

    # ---- Spark-side reads -------------------------------------------------

    def log(self, spark: SparkSession) -> DataFrame:
        # batch readers see raw micro-batch files AND gen-* generations
        # (compact_log moves rows between the two; each row lives in
        # exactly one once the fold's deletes land)
        return spark.read.schema(self._spark_log_schema()).parquet(self.log_dir)

    def log_stream(self, spark: SparkSession) -> DataFrame:
        # pathGlobFilter excludes compact_log's gen-* generations: every
        # raw append is digit-leading ({seq}-{uuid}.parquet), so the
        # stream consumes exactly the files generations are folded FROM —
        # a fold is invisible to the source (the folded files were
        # already committed in its checkpoint; the generation never
        # matches the glob), which is what keeps the per-trigger listing
        # cost bounded instead of growing with ledger age.
        return (
            spark.readStream.schema(self._spark_log_schema())
            .option("maxFilesPerTrigger", 512)
            .option("pathGlobFilter", "[0-9]*.parquet")
            .parquet(self.log_dir)
        )

    def state(self, spark: SparkSession) -> DataFrame:
        """Current job state = max-seq row per id. At scale this is a
        materialized Delta MERGE target; here a window over the log."""
        return _latest_per_id(self.log(spark))

    def mark(self) -> int:
        """An as-of cursor for time travel: every row appended after this
        call carries a larger ``seq``. Issued through ``next_seq`` (ns
        epoch + in-process tiebreak) so the cursor also exceeds every
        seq THIS process has already handed out — a bare clock read
        could trail rows appended microseconds earlier."""
        return next_seq()

    def compaction_floor(self) -> int:
        """Oldest seq time travel can reach: 0 until the first
        compaction, then the compacting commit's seq."""
        try:
            with open(os.path.join(self.commits_dir, "COMPACTION")) as fh:
                return int(fh.read().strip() or 0)
        except OSError:
            return 0
        except ValueError as exc:
            raise ValueError(
                "corrupt COMPACTION marker in "
                f"{self.commits_dir}: {exc}; remove the file to reset "
                "the time-travel floor to 0 (all history readable)"
            ) from exc

    def state_as_of(self, spark: SparkSession, seq: int | None = None,
                    ts=None) -> DataFrame:
        """Job state as of a log sequence or wall-clock instant — the
        Delta ``VERSION AS OF`` / ``TIMESTAMP AS OF`` read over the
        seq-stamped log (seq is ns-epoch, so a datetime converts
        directly). The seq predicate reaches the parquet scan, so
        row-group min/max stats prune files newer than the cutoff.

        History travels back only to the last compaction: ``compact``
        collapses superseded rows the way VACUUM expires Delta versions,
        and like Delta, traveling past that horizon raises (silently
        returning wrong history would be worse than refusing)."""
        if (seq is None) == (ts is None):
            raise ValueError("pass exactly one of seq= or ts=")
        if ts is not None:
            import datetime as _dt

            if isinstance(ts, _dt.datetime):
                if ts.tzinfo is None:
                    # naive datetimes are UTC everywhere in this module
                    # (expired_batch_ids, compact(now=)); timestamp()
                    # would read them as LOCAL time
                    ts = ts.replace(tzinfo=_dt.timezone.utc)
                seq = int(ts.timestamp() * 1_000_000_000)
            else:
                seq = int(ts * 1_000_000_000)
        floor = self.compaction_floor()
        if seq < floor:
            raise ValueError(
                f"as-of cursor {seq} predates the last compaction "
                f"({floor}); that history is vacuumed"
            )
        return _latest_per_id(self.log(spark).filter(F.col("seq") <= F.lit(int(seq))))

    @staticmethod
    def _spark_log_schema():
        from pyspark.sql import types as T

        return T.StructType(JOB_SCHEMA.fields + [T.StructField("seq", T.LongType(), False)])

    # ---- batch entity reads ------------------------------------------------

    def batches_state(self) -> dict[str, dict]:
        """Latest event-sourced row per batch id. O(batches) driver-side
        pyarrow — the analog of goose's per-batch hash GETs."""
        rows: dict[str, dict] = {}
        for f in _parquet_files(self.batches_dir):
            for r in pq.read_table(os.path.join(self.batches_dir, f)).to_pylist():
                cur = rows.get(r["id"])
                if cur is None or r["seq"] > cur["seq"]:
                    rows[r["id"]] = r
        return rows

    def append_batch(self, row: dict) -> None:
        """Record one batch transition (creation or terminal status) as
        its own ``batches/<seq>.parquet`` file."""
        _write_atomic(
            pa.Table.from_pylist([row], schema=ARROW_BATCH_SCHEMA),
            os.path.join(self.batches_dir, f"{row['seq']}.parquet"),
        )

    def expired_batch_ids(self, now=None) -> list[str]:
        """Terminal batches past their OWN linger — parity with goose's
        per-batch EXPIRE (src/goose/brokers/redis/batch.clj:136-160: the
        batch hash + job sets get the batch's linger-sec after each
        terminal callback, not a global retention). The terminal row's
        ``seq`` is the ns-clock terminal timestamp."""
        import datetime as _dt

        now_ns = (
            time.time_ns()
            if now is None
            else int(now.replace(tzinfo=_dt.timezone.utc).timestamp() * 1e9)
        )
        out = []
        for bid, row in self.batches_state().items():
            if row["status"] == "in-progress":
                continue
            linger = row.get("linger_sec")
            if linger is None:
                continue
            if row["seq"] + int(linger) * 1_000_000_000 <= now_ns:
                out.append(bid)
        return sorted(out)

    # ---- cron registry -----------------------------------------------------

    def read_cron(self) -> pa.Table:
        """The cron registry (empty when nothing was ever registered)."""
        if not os.path.exists(self.cron_path):
            return ARROW_CRON_SCHEMA.empty_table()
        return pq.read_table(self.cron_path)

    def write_cron(self, entries: list[dict]) -> None:
        """Replace the registry with ``entries`` in one atomic swap — the
        WATCH/MULTI registration txn analog (cron.clj:38-50)."""
        _write_atomic(pa.Table.from_pylist(entries, schema=ARROW_CRON_SCHEMA), self.cron_path)

    # ---- compaction (retention / VACUUM analog) ----------------------------

    def compact(self, spark: SparkSession, drop_terminal_before=None,
                apply_batch_linger: bool = True, now=None) -> dict:
        """Rewrite the log to current-state rows only (one row per job),
        optionally dropping terminal rows (success/dead/deleted) older
        than ``drop_terminal_before`` — goose's key-expiry/retention
        (EXPIRE on batch keys, ZREMRANGEBYSCORE retention) as a
        compaction job. At 100 TB this is Delta OPTIMIZE + VACUUM per
        date partition; here: write-new-then-swap on the log directory.

        ``apply_batch_linger`` additionally drops every job row belonging
        to a terminal batch past that batch's OWN ``linger_sec`` (and the
        batch's entity rows) — the per-batch EXPIRE of
        src/goose/brokers/redis/batch.clj:136-160. A 0-linger batch
        vanishes at the first compaction after its callback; a long-linger
        batch in the same ledger survives.

        Safe to run only while no worker holds the ledger (single-writer
        rule — same constraint goose's purge APIs have).

        Executor-side rewrite: the state view is written distributed to a
        staging dir, then published with metadata-only renames (the
        OPTIMIZE-commit shape) — row data never funnels through the
        driver; ``rows_after`` comes from parquet footers."""
        old_files = _parquet_files(self.log_dir)
        state = self.state(spark)
        if drop_terminal_before is not None:
            keep = ~(
                F.col("status").isin("success", "dead", "deleted")
                & (F.coalesce(F.col("died_at"), F.col("enqueued_at")) < F.lit(drop_terminal_before))
            )
            state = state.filter(keep)
        expired = self.expired_batch_ids(now) if apply_batch_linger else []
        if expired:
            # anti-join, not isin(): the expired set is O(batches) and a
            # long-lived ledger can hold many — keep it off the plan's
            # literal list and let Spark pick the join strategy
            exp_df = spark.createDataFrame([(b,) for b in expired], "batch_id string")
            state = state.join(exp_df, "batch_id", "left_anti")
        # one manifest = the whole OPTIMIZE txn: publish the compacted
        # parts FIRST, drop the superseded files after (a crash between
        # the two shows duplicate history rows, which the max-seq state
        # view already collapses — never missing rows)
        _, rows_after, base = self._publish(
            state, ".compact-", lambda base, i: f"{base + i}-compacted.parquet",
            deletes=old_files,
        )
        # advance the time-travel horizon: versions before this commit
        # are vacuumed (state_as_of refuses older cursors)
        marker = os.path.join(self.commits_dir, "COMPACTION")
        tmp_m = marker + f".tmp-{uuid.uuid4().hex}"
        with open(tmp_m, "w") as fh:
            fh.write(str(base))
        os.replace(tmp_m, marker)
        if expired:
            # drop the expired batches' entity rows too (the EXPIRE hits
            # the batch hash itself in the reference)
            gone = set(expired)
            for f in _parquet_files(self.batches_dir):
                p = os.path.join(self.batches_dir, f)
                rows = pq.read_table(p).to_pylist()
                keep_rows = [r for r in rows if r["id"] not in gone]
                if len(keep_rows) == len(rows):
                    continue
                if keep_rows:
                    _write_atomic(pa.Table.from_pylist(keep_rows, schema=ARROW_BATCH_SCHEMA), p)
                else:
                    os.remove(p)
        return {
            "files_before": len(old_files),
            "rows_after": rows_after,
            "expired_batches": len(expired),
        }

    # ---- live log-file compaction (generational fold) ----------------------

    def compact_log(self, spark: SparkSession, checkpoints: list[str],
                    min_files: int = 64, keep_recent: int = 8,
                    target_files: int = 1, max_files: int = 1024,
                    publish_lock=None) -> dict:
        """Fold raw micro-batch log files into larger ``gen-*`` parquet
        generations WHILE consumers run — the OPTIMIZE the corpus store
        already has (``CorpusIngest.compact``), applied to the job
        ledger. Rationale (SCALE.md §soak): a file-source stream re-lists
        the log directory every trigger, so per-trigger cost grows with
        the ledger's lifetime file count; the fold keeps the directory at
        O(generations + recent files) forever.

        Transparent to every stream whose checkpoint is passed in
        ``checkpoints``: only files recorded as COMMITTED by ALL of them
        are folded (read from the checkpoint's source file-log up to its
        last committed batch), the generation file name (``gen-…``) never
        matches ``log_stream``'s ``[0-9]*.parquet`` glob, and rows keep
        their original seqs, so batch reads (`log`/`state`/`state_as_of`)
        and the time-travel floor are unchanged. A stream NOT listed here
        (or one restarted with a FRESH checkpoint) must bootstrap from
        the batch read — same contract as ``compaction_floor``.

        Crash-safe under the existing manifest protocol: generation
        publish + raw-file deletes are one commit; a crash in between
        leaves duplicate (id, seq) rows that the max-seq state view
        collapses and the next Ledger open's roll-forward removes.
        Always leaves the ``keep_recent`` newest raw files unfolded.
        Returns fold stats; a no-op (too few eligible files) reports
        ``folded: 0``.

        Latency shape: the fold is TWO phases. The BUILD (listing,
        eligibility, Spark read of the candidate files into a staged
        generation) touches only immutable committed raw files and
        runs without any lock; the PUBLISH (manifest write + renames +
        raw-file deletes — the only step a concurrent driver-side
        batch read can observe) runs under ``publish_lock`` when one
        is passed, and is file-metadata cheap. Callers that must
        serialize with a micro-batch (the worker ticker) pass their
        micro-batch lock as ``publish_lock`` instead of wrapping the
        whole call: the soak measured ~6.3 s trigger stalls when the
        full fold held the lock; the publish-only critical section is
        milliseconds and stays flat as the log grows. ``max_files``
        bounds one fold's build cost; an over-long backlog drains
        across successive ticks, oldest files first.
        """
        raw = sorted(
            f for f in os.listdir(self.log_dir)
            if f.endswith(".parquet") and not f.startswith("gen-")
            and not f.startswith(".")
        )
        eligible = set(raw[:-keep_recent] if keep_recent else raw)
        for ck in checkpoints:
            committed = _stream_committed_files(ck)
            if committed is None:  # stream has no commits yet — fold nothing
                return {"files": len(raw), "folded": 0, "generations": 0}
            eligible &= committed
        cand = sorted(eligible)[:max_files]
        if len(cand) < min_files:
            return {"files": len(raw), "folded": 0, "generations": 0}

        df = spark.read.schema(self._spark_log_schema()).parquet(
            *[os.path.join(self.log_dir, f) for f in cand]
        ).coalesce(target_files)
        moved, rows, _ = self._publish(
            df, ".compact-", lambda base, i: f"gen-{base}-{i}.parquet",
            deletes=cand, publish_lock=publish_lock,
        )
        return {
            "files": len(raw),
            "folded": len(cand),
            "generations": len(moved),
            "rows": rows,
        }

    # ---- deletion tombstone index -----------------------------------------
    #
    # Deleting an undelivered job (console delete / purge,
    # api/enqueued_jobs.clj:42-55) must also prevent its execution: the
    # reference removes the element from the Redis list; a log source
    # cannot un-append, so deletions are recorded in a side index the
    # worker anti-joins per micro-batch. The index is O(deletions) tiny
    # parquet files — never a log scan; compaction may clear entries whose
    # log rows were physically dropped.

    #: "suppress every row" sentinel for delete tombstones; supersession
    #: tombstones carry the superseded row's seq instead
    TOMB_ALL = 1 << 62

    def add_tombstones(self, job_ids: list[str], max_seq: int | None = None) -> None:
        """``max_seq=None`` → full delete (suppress the job entirely).
        An explicit max_seq records a SUPERSESSION: only rows with
        ``seq <= max_seq`` are suppressed — the re-emit analog of
        goose's atomic LREM+RPUSH (commands.clj:145-164), where the
        original list element vanishes the instant the front copy
        appears. Without it, prioritising a not-yet-consumed enqueued
        job would execute both the original and the re-emitted row."""
        if not job_ids:
            return
        self.add_supersessions(
            [(j, self.TOMB_ALL if max_seq is None else max_seq) for j in job_ids]
        )

    def add_supersessions(self, pairs: list[tuple[str, int]]) -> None:
        if not pairs:
            return
        table = pa.Table.from_pydict(
            {
                "id": pa.array([p[0] for p in pairs], type=pa.string()),
                "max_seq": pa.array([p[1] for p in pairs], type=pa.int64()),
            }
        )
        _write_atomic(table, os.path.join(self.tombstones_dir, f"{next_seq()}.parquet"))

    def add_tombstones_df(self, ids_df: DataFrame) -> int:
        """Distributed variant for unbounded deletions (purge): id rows
        are written executor-side then published into the index."""
        staging = os.path.join(self.root, f".staging-{uuid.uuid4().hex}")
        ids_df.select(
            "id", F.lit(self.TOMB_ALL).alias("max_seq")
        ).write.mode("overwrite").parquet(staging)
        rows = 0
        try:
            base = next_seq()
            i = 0
            for f in _parquet_files(staging):
                src = os.path.join(staging, f)
                n = pq.ParquetFile(src).metadata.num_rows
                if n == 0:
                    continue
                rows += n
                os.replace(src, os.path.join(self.tombstones_dir, f"{base + i}.parquet"))
                i += 1
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return rows

    def tombstoned_ids(self, spark: SparkSession) -> DataFrame | None:
        """(id, tomb_max_seq) — suppress a job's rows with seq <= the
        max recorded tombstone (a delete dominates any supersession)."""
        if not _parquet_files(self.tombstones_dir):
            return None
        return (
            spark.read.parquet(self.tombstones_dir)
            .groupBy("id")
            .agg(F.max("max_seq").alias("tomb_max_seq"))
        )

    # ---- scheduled store (sorted-set analog) ------------------------------

    def scheduled_files(self, due_before=None) -> list[str]:
        """Parked-store files, optionally pruned to run_at-hour buckets
        that can contain rows due before ``due_before`` (the sorted-set
        ZRANGEBYSCORE prune): a file named ``h<YYYYMMDDHH>-…`` holds only
        rows whose run_at falls in that hour, so buckets beyond the due
        horizon are skipped without being opened. Legacy un-bucketed
        names are always read."""
        out = []
        horizon = due_before.strftime("%Y%m%d%H") if due_before is not None else None
        for f in _parquet_files(self.scheduled_dir):
            if horizon is not None and f.startswith("h"):
                bucket = f[1:11]
                if bucket.isdigit() and bucket > horizon:
                    continue
            out.append(os.path.join(self.scheduled_dir, f))
        return out

    def park(self, table: pa.Table) -> None:
        """Park rows bucketed by run_at hour — one file per (batch,
        bucket). The due-sweep then reads only due buckets; at 100 TB
        this is the partition layout, not an optimization flag."""
        import pyarrow.compute as pc

        if table.num_rows == 0:
            return
        hours = pc.strftime(table["run_at"], format="%Y%m%d%H")
        # rows with no run_at (shouldn't happen for parked states) land in
        # an always-read legacy-named file
        keys = [h if h is not None else "" for h in hours.to_pylist()]
        for bucket in sorted(set(keys)):
            idx = [i for i, k in enumerate(keys) if k == bucket]
            sub = table.take(idx)
            name = (f"h{bucket}-" if bucket else "") + f"{next_seq()}.parquet"
            # bounded row groups keep every park file splittable by
            # pop_due's row-group fallback — a single monolithic row
            # group would force the whole file into driver memory
            _write_atomic(sub, os.path.join(self.scheduled_dir, name),
                          row_group_size=self.PARK_ROW_GROUP)

    # rows per row group in park files; pop_due can therefore split any
    # park file at ≤ this granularity when enforcing its pop limit
    PARK_ROW_GROUP = 50_000

    @staticmethod
    def _scheduled_sort_key(path: str) -> tuple[str, str]:
        """Oldest hour bucket first (due rows live in the oldest
        buckets), then file seq within a bucket. Legacy un-bucketed
        files sort first — they may hold arbitrarily old rows."""
        f = os.path.basename(path)
        if f.startswith("h") and f[1:11].isdigit():
            return (f[1:11], f)
        return ("", f)

    def pop_due(self, now, limit: int) -> tuple[pa.Table | None, list[str], bool]:
        """Bounded pop from the scheduled store — the engine's
        ``ZRANGEBYSCORE … LIMIT 0 <pop-limit>`` (reference:
        src/goose/brokers/redis/commands.clj:219-228, pop limit
        src/goose/defaults.clj:49). Returns ``(rows, consumed_files,
        more)``:

        * ``rows`` — ALL rows of the consumed files (due and not-yet-due
          alike; the caller splits and re-parks survivors), at most
          ~``limit`` plus one row-group of slack. Never the whole
          backlog: whole files are taken oldest-bucket-first until the
          row budget is met, and a file that would blow the budget on
          its own is split at row-group granularity — the head row
          groups are consumed, the tail is streamed row-group-by-
          row-group into a replacement file without ever being
          materialized as one table.
        * ``consumed_files`` — files the caller must remove via
          ``replace_scheduled`` after re-parking survivors.
        * ``more`` — unconsumed candidate files remain (the caller
          should pop again: goose re-polls immediately while due jobs
          are found, scheduler.clj:36-48).

        Parquet ``run_at`` min-stats prune files inside the current hour
        bucket whose earliest row is still in the future — they are
        skipped, not consumed, and do not set ``more``."""
        files = sorted(self.scheduled_files(due_before=now), key=self._scheduled_sort_key)
        chosen: list[pa.Table] = []
        consumed: list[str] = []
        total = 0
        more = False
        now_ts = pd.Timestamp(now) if not isinstance(now, pd.Timestamp) else now
        for path in files:
            try:
                pf = pq.ParquetFile(path)
            except (OSError, pa.ArrowInvalid):
                continue  # racing writer/compactor; next sweep sees it
            meta = pf.metadata
            if meta.num_rows == 0:
                consumed.append(path)  # zero-row husk: just drop it
                continue
            if total >= limit:
                more = True
                break
            # min(run_at) stats prune within the due hour bucket
            try:
                col = meta.schema.to_arrow_schema().get_field_index("run_at")
                mins = [
                    meta.row_group(g).column(col).statistics.min
                    for g in range(meta.num_row_groups)
                    if meta.row_group(g).column(col).statistics is not None
                ]
                if mins and min(m for m in mins if m is not None) > now_ts:
                    continue  # wholly future: skip unread, leave in place
            except Exception:  # noqa: BLE001 — stats are an optimization only
                pass
            if total + meta.num_rows <= limit or total == 0:
                if total == 0 and meta.num_rows > limit and meta.num_rows > self.PARK_ROW_GROUP:
                    # oversized head file: consume head row groups up to
                    # the limit, stream the tail into a replacement file
                    taken, g = [], 0
                    while g < meta.num_row_groups and sum(t.num_rows for t in taken) < limit:
                        taken.append(pf.read_row_group(g))
                        g += 1
                    if g < meta.num_row_groups:
                        base = os.path.basename(path)
                        prefix = base[:12] if base.startswith("h") and base[1:11].isdigit() else ""
                        tmp = _tmp_path(self.scheduled_dir)
                        writer = pq.ParquetWriter(tmp, pf.schema_arrow)
                        try:
                            for gg in range(g, meta.num_row_groups):
                                writer.write_table(pf.read_row_group(gg))
                        finally:
                            writer.close()
                        os.replace(
                            tmp,
                            os.path.join(self.scheduled_dir, f"{prefix}{next_seq()}.parquet"),
                        )
                        more = True
                    chosen.extend(taken)
                    total += sum(t.num_rows for t in taken)
                    consumed.append(path)
                else:
                    chosen.append(pf.read())
                    total += meta.num_rows
                    consumed.append(path)
            else:
                more = True
                break
        if not chosen:
            return None, consumed, False
        return pa.concat_tables(chosen, promote_options="default"), consumed, more

    def read_scheduled(self, files: list[str] | None = None) -> pa.Table | None:
        if files is None:
            files = self.scheduled_files()
        if not files:
            return None
        return pa.concat_tables([pq.read_table(f) for f in files], promote_options="default")

    def replace_scheduled(self, remaining: pa.Table | None, old_files: list[str]) -> None:
        """Swap the scheduled set: write survivors, drop consumed files.
        Single-writer (the worker's foreachBatch) — same serialization
        goose gets from its Redis txn (commands.clj:230-237)."""
        if remaining is not None and remaining.num_rows > 0:
            self.park(remaining)
        for f in old_files:
            os.remove(f)
