"""Streaming wrapper around the batch pipeline.

Reference parity:
- Kinesis micro-batch trigger (serverless.yml:24-32, batchSize 1000,
  LATEST) -> file-source micro-batches with ``maxFilesPerTrigger`` and a
  2-second processing-time trigger mirroring the reference's 2000 ms
  flush interval (serverless.yml:37). A real deployment swaps the file
  source for ``spark.readStream.format("kinesis")`` — every transform
  downstream is identical.
- per-invocation ship (shipper.js:150-153) -> ``foreachBatch`` running
  the SAME parse_kinesis_records -> split_dlq kernel as batch-mode
  ``run_batch`` (composed inline with a size-gated decode fan-out and
  one persist() of the parsed batch — physical moves only; see
  ``_ship_batch``), landing clean + DLQ (+ the ``_bulk`` delivery) via
  ``LogSink.ship``, whose sink jobs run concurrently over that one
  persisted parse when the batch is small.
- delivery: checkpointed file-source offsets + batch_id-keyed dynamic
  partition OVERWRITE (ingest_batch=<id>) => exactly-once to the log
  table across restarts AND mid-batch failures/retries — a retried
  micro-batch replaces its own partitions rather than appending twice
  (upgrade over the reference's at-most-once swallow, shipper.js:154-159).

Event-time semantics are NEW capability (the reference never reads
logEvent.timestamp, SURVEY.md §1.2): `@timestamp` is parsed with
try_to_timestamp and watermarked for windowed aggregation; late rows
beyond the watermark are dropped (documented choice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sink import LogSink
from ..sources.kinesis import stream_kinesis_event_files  # noqa: F401 (re-export)


class StreamingShipper:
    """Continuous shipper: file-source micro-batches through the
    run_batch kernel (parse -> split, persisted once per batch)
    into a LogSink, 2 s trigger, checkpointed."""

    def __init__(
        self,
        spark: SparkSession,
        input_path: str | None,
        output_dir: str,
        checkpoint_dir: str,
        trigger_seconds: float = 2.0,
        max_files_per_trigger: int | None = None,
        bulk: bool = False,
        source=None,
    ):
        """input_path: file-source stand-in (test/backfill transport).
        source: a sources.kinesis.SourceConfig — the production
        transport seam; when given it supplies the record stream
        (e.g. kind="kinesis" against a real connector or the registered
        stub) and input_path is ignored."""
        if input_path is None and source is None:
            raise ValueError("need input_path or source")
        self.spark = spark
        self.input_path = input_path
        self.source = source
        self.sink = LogSink(output_dir, bulk=bulk)
        self.checkpoint_dir = checkpoint_dir
        self.trigger_seconds = trigger_seconds
        self.max_files_per_trigger = max_files_per_trigger

    def _ship_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: a failed micro-batch is retried
        # with the SAME batch_id. Passing it through makes the ship a
        # dynamic partition overwrite of ingest_batch=<id>, so the retry
        # replaces its own output instead of duplicating it — this is
        # what upgrades the checkpointed stream to exactly-once.
        #
        # Same batch_kernel as run_batch — ONE composition, two
        # callers (r14 ADVICE: the inline recomposition here could
        # silently diverge from run_batch; test_streaming.py pins
        # streaming output == run_batch output on the same batch) —
        # with three streaming-only physical moves (profiled — none
        # changes a value, each cuts wall-clock):
        # 1. FAN OUT the decode (batch_kernel(fan_out=True)): a
        #    file/Kinesis micro-batch arrives in as few partitions as
        #    source files/shards, and the gunzip UDF is the pipeline's
        #    CPU; repartitioning the raw records (small: compressed
        #    payloads) spreads it across every core. The shuffle costs
        #    more than it saves on a small batch, so batch_kernel does it
        #    only from FAN_OUT_MIN_BYTES (1 MiB) of planned input up.
        #    The kernel's expressions are built once per process, so
        #    this call only analyses and runs them.
        # 2. MATERIALIZE the parsed batch once: clean and DLQ are two
        #    filter branches of one parse pipeline, and the bulk reads
        #    clean again — written naively, each sink job re-runs
        #    decode+parse end to end. persist() pins the parsed rows
        #    (bounded by the micro-batch size, which a real deployment
        #    caps at the source). ship returns only after its last sink
        #    job ends, so the explicit unpersist() never pulls blocks
        #    from under a running job, and it frees them the moment the
        #    ship lands — a 2 s-trigger stream must not leave per-batch
        #    blocks waiting on driver GC (localCheckpoint cleanup) to
        #    free executor storage.
        # 3. OVERLAP the sink jobs of a SMALL batch (below the same
        #    FAN_OUT_MIN_BYTES): its log-table, DLQ and bulk jobs cost
        #    mostly driver-side fixed time, so LogSink.ship runs them
        #    concurrently; their tasks reading the same cached partition
        #    wait on Spark's block write lock, so the first computes it
        #    and the others scan memory. A large batch's jobs are bound
        #    by their tasks and ship one after another (there the
        #    overlap ran slower and once hung).
        from ..operators.parse import split_dlq
        from ..pipeline import batch_kernel, is_large_batch

        small = not is_large_batch(batch_df)
        parsed = batch_kernel(batch_df, fan_out=True).persist()
        try:
            clean, dlq = split_dlq(parsed)
            self.sink.ship(clean, dlq, batch_id=batch_id, concurrent=small)
        finally:
            parsed.unpersist()

    def start(self, available_now: bool = False) -> StreamingQuery:
        if self.source is not None:
            records = self.source.stream(self.spark)
        else:
            records = stream_kinesis_event_files(
                self.spark, self.input_path, self.max_files_per_trigger
            )
        writer = (
            records.writeStream.foreachBatch(self._ship_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .queryName("log_shipper")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{self.trigger_seconds} seconds")
        return writer.start()


def dedup_stream(
    parsed: DataFrame,
    keys: list[str] | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Stateful streaming dedup: drop re-delivered log events (Kinesis is
    at-least-once) by request id + message within the watermark horizon.

    dropDuplicatesWithinWatermark bounds the dedup state store by event
    time — without the watermark the state grows forever; with it, state
    for keys older than the horizon is evicted. Works on batch frames
    too (plain dropDuplicates semantics there).
    """
    keys = keys or ["function.request.id", "message"]
    with_ts = parsed.withColumn(
        "event_time", F.try_to_timestamp(F.col("`@timestamp`"))
    )
    if not with_ts.isStreaming:
        return with_ts.dropDuplicates(keys)
    return with_ts.withWatermark(
        "event_time", watermark_delay
    ).dropDuplicatesWithinWatermark(keys)


def windowed_severity_counts(
    parsed: DataFrame,
    window_duration: str = "1 minute",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Event-time tumbling-window severity counts with a watermark —
    the downstream error-rate time series over the streaming output.

    Works on both streaming and batch frames (same plan); in streaming,
    rows later than the watermark are dropped.
    """
    with_ts = parsed.withColumn(
        "event_time", F.try_to_timestamp(F.col("`@timestamp`"))
    ).filter(F.col("event_time").isNotNull())
    return (
        with_ts.withWatermark("event_time", watermark_delay)
        .groupBy(F.window("event_time", window_duration), F.col("severity"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "severity",
            "n",
        )
    )


def sessionized_request_stats(
    parsed: DataFrame,
    gap: str = "5 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """STREAMING sessionization: per (function.name, request id),
    gap-based session_window aggregation with a watermark — the
    "how long did each invocation's log burst last, and how noisy was
    it" question, maintained incrementally as records arrive. The
    batch twin (`events_session_window`) is oracle-checked; this is
    the same native operator in update-capable streaming state.

    Scale: state is one open session per active key, closed and
    emitted once the watermark passes session end + gap; the shuffle
    keys on (name, request id), so a hot function spreads across its
    request ids.
    """
    with_ts = parsed.withColumn(
        "event_time", F.try_to_timestamp(F.col("`@timestamp`"))
    ).filter(
        F.col("event_time").isNotNull()
        & F.col("`function.request.id`").isNotNull()
    )
    return (
        with_ts.withWatermark("event_time", watermark_delay)
        .groupBy(
            F.session_window("event_time", gap),
            F.col("`function.name`").alias("function_name"),
            F.col("`function.request.id`").alias("request_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (F.col("severity") == "error").cast("long")
            ).alias("n_errors"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "function_name",
            "request_id",
            "n_events",
            "n_errors",
        )
    )


def correlate_error_context(
    parsed: DataFrame,
    max_skew: str = "5 minutes",
    watermark_delay: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: every error log paired with the
    same-request debug lines within +/- max_skew of event time — the
    "show me the context around this failure" query, continuously.

    Both sides carry a watermark and the join condition includes an
    event-time interval; together they BOUND the join state store (rows
    older than watermark + skew are evicted). An equi-only stream-stream
    join would grow state forever — that shape is rejected by design.

    ``how="left_outer"`` keeps errors that found NO context within the
    window — the ops-relevant inverse ("failures with nothing around
    them"). Outer rows (NULL context columns) are emitted only once the
    context-side watermark has passed error_time + skew, i.e. when the
    engine can PROVE no matching context can still arrive — so a
    micro-batch run emits them on a LATER trigger than the matches, and
    the last errors of a stopped stream emit on the next restart that
    advances the watermark (standard Structured Streaming outer-join
    semantics, exercised across a checkpoint restart in
    test_streaming.py).

    Operational gotcha (pinned in the test): both sides split from ONE
    source, and the GLOBAL watermark is the MIN over the two watermark
    nodes — each of which only sees its own filtered slice. A quiet
    period with context traffic but no new ERRORS leaves the
    error-side watermark (and so the outer-row horizon) frozen; outer
    rows flush only when both slices see later event time. The default
    multipleWatermarkPolicy=min is the correct (no-data-loss) choice —
    do not flip it to max to force eager flushes.

    Works identically on batch frames (plain interval self-join; outer
    rows appear immediately — no watermark to wait for).
    """
    base = parsed.withColumn(
        "event_time", F.try_to_timestamp(F.col("`@timestamp`"))
    ).filter(F.col("event_time").isNotNull() & F.col("`function.request.id`").isNotNull())

    errors = base.filter(F.col("severity") == "error").select(
        F.col("`function.request.id`").alias("request_id"),
        F.col("message").alias("error_message"),
        F.col("event_time").alias("error_time"),
    )
    context = base.filter(F.col("severity") != "error").select(
        F.col("`function.request.id`").alias("ctx_request_id"),
        F.col("message").alias("context_message"),
        F.col("event_time").alias("context_time"),
    )
    if parsed.isStreaming:
        errors = errors.withWatermark("error_time", watermark_delay)
        context = context.withWatermark("context_time", watermark_delay)
    return errors.join(
        context,
        (F.col("request_id") == F.col("ctx_request_id"))
        & (F.col("context_time") >= F.col("error_time") - F.expr(f"INTERVAL {max_skew}"))
        & (F.col("context_time") <= F.col("error_time") + F.expr(f"INTERVAL {max_skew}")),
        how,
    ).select(
        "request_id", "error_message", "error_time", "context_message", "context_time"
    )
