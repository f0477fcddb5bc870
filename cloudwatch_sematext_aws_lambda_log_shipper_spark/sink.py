"""Sinks (S16 + S17 landing): date-partitioned parquet log table, DLQ
path, and an Elasticsearch ``_bulk``-shaped NDJSON writer.

Reference: shipper.js:143-148 ships each parsed log via logsene-js into
an ES-compatible ``_bulk`` endpoint (sample.secrets.json:3), buffering
``LOGS_BULK_SIZE``=100 docs per POST with a ``LOG_INTERVAL``=2000 ms
flush (serverless.yml:34-37). The Spark-native equivalents:

- **log table**: parquet partitioned by ``log_date`` (derived from
  `@timestamp`). At 100 TB this is the layout that makes retention (C5)
  a partition drop and gives every downstream query date-partition
  pruning for free. Dotted reference column names are preserved.
- **DLQ**: corrupt rows (decode failures, Q4-class lines, null
  messages) land under ``dlq/`` with the raw payload for replay —
  the reference's own TODO (shipper.js:158) done right.
- **bulk NDJSON**: each output file holds at most ``bulk_size`` docs
  (``maxRecordsPerFile``) — one file == one ``_bulk`` POST body. The
  2000 ms flush interval maps to the streaming trigger
  (streaming/pipeline.py), not to this batch writer.

``LogSink.ship(concurrent=True)`` runs the three as concurrent Spark
jobs, the way logsene-js never blocks its handler on one delivery
before the next; the streaming shipper asks for it on small
micro-batches only.
"""

from __future__ import annotations

import os
import secrets
from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from .config import DEFAULT_CONFIG, EngineConfig

# Sentinel partition for rows whose @timestamp is missing/unparseable —
# keeps them queryable instead of failing the write.
UNDATED = "1970-01-01"


def with_log_date(df: DataFrame) -> DataFrame:
    """Derive the partition column from the reference's string timestamp.

    try_to_timestamp (not to_timestamp): a malformed user-supplied
    timestamp must not poison the batch (Q4 philosophy).
    """
    return df.withColumn(
        "log_date",
        F.coalesce(
            F.to_date(F.try_to_timestamp(F.col("`@timestamp`"))),
            F.to_date(F.lit(UNDATED)),
        ),
    )


def _write_partitioned(
    df: DataFrame, path: str, mode: str, batch_id: int | None
) -> None:
    """Shared writer. With ``batch_id`` the write is IDEMPOTENT: rows gain
    an ``ingest_batch=<id>`` partition and the write is a dynamic
    partition OVERWRITE, so a retried micro-batch (same batch id ⇒ same
    source offsets ⇒ same rows) replaces exactly its own partitions
    instead of appending duplicates. Without it, plain append (batch
    backfill semantics). One table must stick to one of the two layouts.

    ``log_date`` stays the TOP-LEVEL partition in both layouts
    (``log_date=D`` vs ``log_date=D/ingest_batch=N``): retention is a
    top-level directory drop either way, and compaction folds a date's
    per-batch dirs back into one file set (control.py) — idempotency is
    unaffected because dynamic overwrite keys on the LEAF (date, batch)
    partitions, whichever nesting order they have.

    Layout-compat guard: tables written by pre-r6 builds used the
    REVERSED ``ingest_batch=N/log_date=D`` nesting. Spark cannot read a
    table mixing the two directory depth orders, and expire_partitions
    would silently drop nothing on the old layout — so appending the
    new layout into an old-layout table is refused loudly instead of
    producing an unreadable mix. (One table, one layout; migrate by
    rewriting through compact_table.)
    """
    # Guard BOTH write paths: a batch-mode append (flat log_date=D
    # dirs) into a legacy table creates the same unreadable mixed-depth
    # layout a streaming write would. Only a full-table overwrite
    # (batch_id None + mode 'overwrite' — wipes the legacy dirs) is
    # exempt; a streaming dynamic overwrite replaces only its own
    # partitions, so it needs the guard whatever ``mode`` says.
    if os.path.isdir(path) and (batch_id is not None or mode != "overwrite"):
        old_layout = any(
            e.startswith("ingest_batch=") for e in os.listdir(path)
        )
        if old_layout:
            raise ValueError(
                f"{path}: existing table uses the legacy "
                "ingest_batch=N/log_date=D layout; writing the current "
                "log_date=D[/ingest_batch=N] layout into it would create "
                "an unreadable mixed-depth table. Rewrite the table (e.g. "
                "read + write_log_table to a fresh path) before appending."
            )
    if batch_id is None:
        df.write.mode(mode).partitionBy("log_date").parquet(path)
    else:
        (
            df.withColumn("ingest_batch", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("log_date", "ingest_batch")
            .parquet(path)
        )


def write_log_table(
    df: DataFrame, path: str, mode: str = "append", batch_id: int | None = None
) -> None:
    """Land clean log records in the date-partitioned parquet log table."""
    _write_partitioned(with_log_date(df), path, mode, batch_id)


def read_log_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_dlq(
    df: DataFrame, path: str, mode: str = "append", batch_id: int | None = None
) -> None:
    """Land DLQ rows (with _raw replay payload), partitioned by date too
    so replay jobs can target a window."""
    _write_partitioned(with_log_date(df), path, mode, batch_id)


def to_bulk_ndjson(df: DataFrame) -> DataFrame:
    """Parsed log records -> one string row per doc in ES ``_bulk`` wire
    shape: an action line and the JSON doc separated by a newline.

    Mirrors logger.log(severity, 'LogseneJS', log) (shipper.js:145):
    severity rides in the action metadata; the doc is the full record
    with dotted ES field names (attributes map inlined as a JSON object).
    """
    doc = F.to_json(F.struct(*[F.col(f"`{c}`") for c in df.columns]))
    action = F.concat(
        F.lit('{"index":{"_type":"'), F.col("severity"), F.lit('"}}')
    )
    return df.select(F.concat(action, F.lit("\n"), doc).alias("value"))


def write_bulk_ndjson(
    df: DataFrame, path: str, bulk_size: int = DEFAULT_CONFIG.bulk_size,
    mode: str = "append", batch_id: int | None = None,
) -> None:
    """Write ``_bulk`` payload files, at most ``bulk_size`` docs per file
    (LOGS_BULK_SIZE=100, serverless.yml:36) — one file per bulk POST.

    maxRecordsPerFile does the chunking JVM-side; no driver collect, no
    Python loop — scales to any partition count. With ``batch_id``, the
    same dynamic-partition-overwrite idempotence as the log table.
    """
    out = to_bulk_ndjson(df)
    if batch_id is None:
        out.write.mode(mode).option("maxRecordsPerFile", bulk_size).text(path)
    else:
        (
            out.withColumn("ingest_batch", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("maxRecordsPerFile", bulk_size)
            .partitionBy("ingest_batch")
            .text(path)
        )


def run_concurrently(spark: SparkSession, jobs: list) -> list:
    """Run each zero-argument job on its own driver thread; return their
    results in job order once ALL have finished, or re-raise the first
    failure (in job order) once all have finished.

    Each job is wrapped on its own: ``inheritable_thread_target`` clones
    the caller's local properties (job group, stream ids, scheduler
    pool) once per wrap, and the child installs that object by
    reference. Each write then sets its own ``spark.sql.execution.id``
    on it, so the threads must not share one clone."""
    with ThreadPoolExecutor(max_workers=len(jobs),
                            thread_name_prefix="logsink") as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(job))
                   for job in jobs]
    errors = [e for e in (f.exception() for f in futures) if e is not None]
    if errors:
        raise errors[0]
    return [f.result() for f in futures]


def batch_mode_key() -> int:
    """The bulk key's batch part for a ship without a ``batch_id``:
    fixed for the call, so task retries inside it resend the same keys;
    62 random bits, so two batch-mode ships (from any process) do not
    share keys and the second cannot overwrite the first; negative, so it
    never names a streaming batch (ids count up from 0)."""
    return -1 - secrets.randbits(62)


class LogSink:
    """Batch shipper: routes (clean, dlq) to the log table, the DLQ path,
    and optionally the bulk NDJSON staging dir — the Spark analog of
    shipLogs + clearLogBuffer (shipper.js:143-148)."""

    def __init__(self, base_dir: str, config: EngineConfig = DEFAULT_CONFIG,
                 bulk: bool = False, transport_factory=None):
        self.log_table = os.path.join(base_dir, "logs")
        self.dlq_path = os.path.join(base_dir, "dlq")
        self.bulk_path = os.path.join(base_dir, "bulk")
        self.config = config
        self.bulk = bulk
        # injectable delivery seam (transport.py): a zero-arg factory
        # built executor-side per partition. None keeps the plain
        # maxRecordsPerFile NDJSON write; a factory routes every bulk
        # through BulkTransport.send with retry/backoff + idempotency
        # keys — swap in an HTTP transport without touching the sink.
        self.transport_factory = transport_factory

    def ship(
        self, clean: DataFrame, dlq: DataFrame, mode: str = "append",
        batch_id: int | None = None, concurrent: bool = False,
    ) -> dict | None:
        """Route a batch to the sinks. Pass the foreachBatch ``batch_id``
        to make the ship idempotent under micro-batch retry (exactly-once
        to the tables); omit it for plain batch append.

        The sink jobs are the log-table write, the DLQ write and the bulk
        delivery, run in that order. With ``concurrent`` they run as
        concurrent Spark jobs instead, each on its own driver thread (see
        ``run_concurrently``). That pays when the jobs' cost is fixed per
        batch and mostly driver-side (planning, the commit protocol, the
        dynamic-overwrite rename, the HTTP round trips): the ship then
        takes about the longest job rather than the sum. The streaming
        shipper asks for it only on batches below FAN_OUT_MIN_BYTES of
        planned input (pipeline.is_large_batch). A large batch's jobs
        are bound by their tasks; on those ``scripts/stream_scale.py``
        at x100 ran slower with the overlap, and hung once (CHANGES.md).
        Each thread inherits the caller's Spark local properties, so a
        stream's sink jobs stay in its job group and ``query.stop()``
        cancels them. When ``clean`` and ``dlq`` come from one persisted
        frame, the concurrent readers of a cached partition wait on
        Spark's block lock, so the frame is still computed once.

        A concurrent ship returns or raises only after every job has
        finished: on a failure it waits for the sibling jobs, then
        re-raises the first failure in the order log table, DLQ, bulk. A
        foreachBatch retry under the same ``batch_id`` therefore never
        overlaps a write of the failed attempt.

        Ordering: in a concurrent ship the bulk does not wait for the
        table writes, so a table-write failure can follow a delivered
        bulk. The retry then re-sends the same (batch, partition, chunk)
        keys, which the transport's idempotency contract covers
        (transport.py).

        Returns the ``ship_bulks`` stats ({"n_bulks", "n_docs",
        "n_partitions", "attempts"}) when a transport ran, else None.
        """
        jobs = [
            partial(write_log_table, clean, self.log_table, mode=mode,
                    batch_id=batch_id),
            partial(write_dlq, dlq, self.dlq_path, mode=mode,
                    batch_id=batch_id),
        ]
        shipping = self.bulk and self.transport_factory is not None
        if shipping:
            from .transport import ship_bulks

            jobs.append(partial(
                ship_bulks, clean, self.transport_factory,
                bulk_size=self.config.bulk_size,
                batch_id=batch_mode_key() if batch_id is None else batch_id,
            ))
        elif self.bulk:
            jobs.append(partial(
                write_bulk_ndjson, clean, self.bulk_path,
                bulk_size=self.config.bulk_size, mode=mode, batch_id=batch_id,
            ))
        if concurrent:
            results = run_concurrently(clean.sparkSession, jobs)
        else:
            results = [job() for job in jobs]
        return results[2] if shipping else None

    def maintain(
        self,
        spark: SparkSession,
        retention_days: int,
        today=None,
        compact_before=None,
        target_files: int = 1,
        checkpoint_dir: str | None = None,
    ) -> dict:
        """Nightly maintenance over EVERY date-partitioned table this
        sink writes — the log table AND the DLQ. The reference's
        retention policy (LOG_GROUP_RETENTION_IN_DAYS=1,
        sample.secrets.json:6) applies to everything it ships; a DLQ
        that accumulates forever is the classic silent disk leak, and
        its many tiny corrupt-row files benefit from folding just as
        much as the log table's.

        Order matters: expire FIRST so compaction never rewrites a
        partition that is about to be dropped. ``checkpoint_dir`` (the
        live stream's checkpoint) makes compaction refuse in-flight
        dates (control.py compact_table guard). Returns
        {table: {"expired": [...], "compacted": {...}}}.
        """
        from .control import compact_table, expire_partitions

        out: dict = {}
        for name, path in (("logs", self.log_table), ("dlq", self.dlq_path)):
            expired = expire_partitions(path, retention_days, today=today)
            compacted = compact_table(
                spark, path, before=compact_before,
                target_files=target_files, checkpoint_dir=checkpoint_dir,
            )
            out[name] = {"expired": expired, "compacted": compacted}
        return out
