"""End-to-end batch pipeline: Kinesis-shaped events -> parsed log table.

The same pure transform chain backs batch backfill and Structured
Streaming (streaming/pipeline.py wraps it) — idiomatic Spark: one code
path, two execution modes.

Dataflow parity with shipper.js handler (EP1, SURVEY.md §3):
  read -> decode (S2-S4) -> CONTROL filter (S5) -> observe counters (S15)
       -> explode (S8) -> parse kernel (S6-S14)
       -> clean/DLQ split (S17) -> sinks (S16)

Each record is decoded once and stays in one row stream: a record that
fails to decode becomes one NULL-message row in the explode, and the
parse kernel tags it is_corrupt like any other corrupt row, so no
second branch or union is needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .functions import built_once
from .operators.decode import decode_records, explode_log_events
from .operators.parse import parse_log_events, split_dlq
from .sources.kinesis import read_kinesis_event_file  # noqa: F401 (re-export)


def parse_kinesis_records(
    records: DataFrame, observe: bool | Observation = True
) -> DataFrame:
    """Kinesis records (data, awsRegion) -> parsed log records (+ is_corrupt).

    `observe` attaches the reference's counters (S15, shipper.js:117-137 —
    dead code there, live metrics here): record_counter (successfully
    decoded, non-control records — decode failures excluded, matching
    recordCounter which only incremented after a successful parse) and
    log_event_counter. Pass a pyspark Observation to read the values back
    in batch mode, True for a named observation, False to skip.

    Decode-corrupt records (bad base64 / gzip / envelope JSON) do NOT
    vanish: they surface as is_corrupt=true rows with the original base64
    payload in _raw, so split_dlq routes them for replay (the silent-loss
    fix over the reference's batch-poisoning catch, shipper.js:154-159).
    """
    envelopes = decode_records(records)
    if observe is not False:
        obs = observe if isinstance(observe, Observation) else "shipper_metrics"
        envelopes = envelopes.observe(obs, *_observe_exprs())
    return parse_log_events(explode_log_events(envelopes))


@built_once
def _observe_exprs() -> list[Column]:
    ok = ~F.col("decode_error")
    return [
        F.count(F.when(ok, 1)).alias("record_counter"),
        F.sum(F.when(ok, F.size("logEvents"))).alias("log_event_counter"),
    ]


# Planned input size from which a batch is large (is_large_batch):
# batch_kernel(fan_out=True) repartitions it (see its docstring for the
# measurement) and the streaming shipper ships its sink jobs serially.
FAN_OUT_MIN_BYTES = 1 << 20


def _planned_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df``: the bytes of a file
    source's files; a source that cannot tell reports
    spark.sql.defaultSizeInBytes (Long.MaxValue)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def is_large_batch(records: DataFrame) -> bool:
    """Whether the batch's planned input reaches FAN_OUT_MIN_BYTES. A
    large batch's time goes to its tasks rather than to the driver's
    fixed cost per job: batch_kernel fans out its decode, and the
    streaming shipper runs its sink jobs one after another instead of
    overlapping them (streaming/pipeline._ship_batch)."""
    return _planned_bytes(records) >= FAN_OUT_MIN_BYTES


def batch_kernel(
    records: DataFrame,
    observe: bool | Observation = True,
    fan_out: bool = False,
) -> DataFrame:
    """The ONE decode+parse composition every entry point executes —
    batch backfill (run_batch) and the streaming shipper
    (streaming/pipeline._ship_batch) are both thin callers, so a stage
    added here reaches both hot paths (r14 ADVICE: the two paths had
    drifted into separate compositions).

    fan_out: repartition the RAW records (small: compressed payloads)
    to cluster parallelism before the gunzip UDF — gunzip is the
    pipeline's CPU, and a Kinesis/file micro-batch has only as many
    partitions as source shards/files. The shuffle is a fixed cost per
    batch, so it runs only when the batch's planned input size is at
    least FAN_OUT_MIN_BYTES (1 MiB) and the batch arrives in fewer
    partitions than cores. The size is checked first: it reads the
    optimizer's estimate, while the partition count compiles the plan.
    A source with no size estimate (Kinesis) reports Long.MaxValue and
    still fans out.

    Measured on single-file micro-batches of ~100-event JSON records,
    local[2] on a 4-core host, median per-batch p50 without / with
    fan-out over alternated pairs: 358 KB 1.72 / 1.61 s (6 pairs, within
    noise), 1.07 MB 2.54 / 2.08 s (4 pairs), 3.56 MB 4.58 / 2.97 s
    (2 pairs).
    """
    if fan_out and is_large_batch(records):
        par = records.sparkSession.sparkContext.defaultParallelism
        if records.rdd.getNumPartitions() < par:
            records = records.repartition(par)
    return parse_kinesis_records(records, observe=observe)


def run_batch(records: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Full hot path -> (clean log records, DLQ records)."""
    return split_dlq(batch_kernel(records))


def replay_dlq(
    dlq: DataFrame, materialize_parsed: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Re-run DECODE-class DLQ rows through the pipeline (S17 replay —
    the reference's TODO, shipper.js:158).

    Only decode-class rows (message NULL, _raw = original base64 data)
    are replayable: a transient corruption or a since-fixed decoder bug
    can recover them. Parse-class corrupt rows (Q4 space-separated
    lines) are deterministically malformed — reprocessing cannot change
    their outcome, so they pass through to the returned dlq unchanged.

    Returns (recovered_clean, still_dlq).

    ``materialize_parsed`` (opt r15, guide §5): a caller consuming BOTH
    branches in one action would otherwise decode+parse the replay
    slice twice (the gunzip Arrow UDF is the expensive step); the flag
    localCheckpoints the parsed frame so both branches read the same
    materialized blocks (lazy — the first action materializes; blocks
    are freed by the driver's ContextCleaner when the returned frames
    are dropped, the engine-wide _unit(materialize=True) lifecycle).
    Off by default: single-branch consumers (ship only the recovered
    rows) keep the streaming-friendly pure-lineage plan.
    """
    decode_class = F.col("message").isNull() & F.col("_raw").isNotNull() & F.col(
        "`function.name`"
    ).isNull()
    replayable = dlq.filter(decode_class).select(
        F.col("_raw").alias("data"), F.col("region").alias("awsRegion")
    )
    # observe=False: the replay plan may be composed with the original
    # batch plan, and two same-named observations in one tree is an
    # analysis error
    parsed = parse_kinesis_records(replayable, observe=False)
    if materialize_parsed:
        parsed = parsed.localCheckpoint(eager=False)
    clean, still = split_dlq(parsed)
    return clean, still.unionByName(dlq.filter(~decode_class))
