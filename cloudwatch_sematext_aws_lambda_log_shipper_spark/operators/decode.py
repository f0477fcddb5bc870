"""Decode chain: Kinesis record -> CloudWatch Logs payload rows.

Reference: shipper.js:121-130 —
    base64 decode   (S2, shipper.js:122)  -> F.try_to_binary (JVM builtin;
                                             bad base64 -> NULL, not a throw)
    gunzip          (S3, shipper.js:123)  -> the engine's ONLY Python UDF
                                             (Arrow-batched pandas_udf)
    JSON.parse      (S4, shipper.js:124)  -> F.from_json(ENVELOPE_SCHEMA)
    CONTROL_MESSAGE skip (S5, shipper.js:125) -> filter
    logEvents.forEach (S8, shipper.js:132) -> explode

Scale notes: the chain is narrow (no shuffle). Each record is decoded
once: the executed ``batch_kernel`` plan holds one ``ArrowEvalPython``
node (gunzip) and three ``from_json`` calls — the envelope here and the
parse kernel's two maps (pinned in tests/test_decode.py). The gunzip UDF
transfers the compressed bytes (smaller than the output) over Arrow in
vectorized batches. The chain's Column expressions are built once per
process (``built_once``); a micro-batch only applies them.
"""

from __future__ import annotations

import gzip
import zlib

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import built_once
from ..schemas import ENVELOPE_SCHEMA, LOG_EVENT_SCHEMA


@F.pandas_udf(T.BinaryType())
def gunzip(data: pd.Series) -> pd.Series:
    """Vectorized gunzip (S3). None/corrupt inputs -> None (routed to DLQ
    downstream instead of poisoning the batch — replaces the reference's
    handler-level catch-all, shipper.js:154-159)."""

    def _one(b):
        if b is None:
            return None
        try:
            # wbits=47 accepts both gzip and zlib streams, like Node Zlib
            return zlib.decompress(bytes(b), 47)
        except zlib.error:
            return None

    return data.map(_one)


def gzip_b64(payload: str) -> str:
    """Test helper: build a Kinesis-shaped data field (base64(gzip(json)))."""
    import base64

    return base64.b64encode(gzip.compress(payload.encode("utf-8"))).decode("ascii")


@F.pandas_udf(T.StringType())
def gzip_b64_udf(payload: pd.Series) -> pd.Series:
    """Vectorized envelope ENCODER — synthesis/test scaffolding only (the
    engine itself never gzips on the hot path). mtime=0 keeps the bytes
    deterministic across runs."""
    import base64

    return payload.map(
        lambda s: base64.b64encode(
            gzip.compress(s.encode("utf-8"), mtime=0)
        ).decode("ascii")
    )


def decode_payload(data_b64: Column) -> Column:
    """base64 -> gunzip -> parsed envelope struct column (S2-S4).

    try_to_binary (not unbase64) so malformed base64 yields NULL and a
    DLQ row instead of a JVM throw poisoning the batch (Q4-class fix).
    """
    return F.from_json(
        gunzip(F.try_to_binary(data_b64, F.lit("base64"))).cast("string"),
        ENVELOPE_SCHEMA,
    )


def decode_records(records: DataFrame) -> DataFrame:
    """Kinesis records (data, awsRegion) -> decoded envelope rows.

    Output columns: awsRegion, messageType, logGroup, logStream, logEvents,
    decode_error, _raw_data (original base64 string, kept for DLQ replay).
    CONTROL_MESSAGE records are dropped (S5, shipper.js:125). Records whose
    payload fails to decode/parse surface as decode_error=true for DLQ
    routing (engine improvement over reference crash, SURVEY.md Q4/S17).

    A payload that parses as valid JSON but has null/missing logEvents
    (e.g. ``{}``) is ALSO decode_error=true: in the reference,
    ``logEvents.forEach`` would throw (shipper.js:132) and the handler
    catch-all would drop the whole batch; here the envelope routes to the
    DLQ instead of silently vanishing in the downstream explode —
    preserving the conservation invariant (every input record reaches
    clean, DLQ, or an intentional CONTROL drop). An empty ``logEvents``
    array is NOT an error: it legitimately contains zero events.

    The decode runs inside a one-element Generate. Catalyst pushes a
    filter below a projection by inlining the projected expression, so a
    ``withColumn`` decode ran the gunzip UDF (and a pruned envelope
    ``from_json``) once for the CONTROL filter and again above it. A
    filter on a generator's output stays above the Generate, so each
    record is decoded once.
    """
    decode, keep, envelope = _decode_exprs()
    return records.select(*decode).filter(keep).select(*envelope)


@built_once
def _decode_exprs() -> tuple[list[Column], Column, list[Column]]:
    """decode_records' decode select, CONTROL filter and output select."""
    message_type = F.col("_payload.messageType")
    decode = [
        F.col("awsRegion"),
        F.col("data"),
        F.inline(F.array(F.struct(decode_payload(F.col("data")).alias("_payload")))),
    ]
    keep = message_type.isNull() | (message_type != F.lit("CONTROL_MESSAGE"))
    envelope = [
        F.col("awsRegion"),
        message_type.alias("messageType"),
        F.col("_payload.logGroup").alias("logGroup"),
        F.col("_payload.logStream").alias("logStream"),
        F.col("_payload.logEvents").alias("logEvents"),
        (
            F.col("_payload").isNull() | F.col("_payload.logEvents").isNull()
        ).alias("decode_error"),
        F.col("data").alias("_raw_data"),
    ]
    return decode, keep, envelope


def explode_log_events(envelopes: DataFrame) -> DataFrame:
    """One output row per log event, parent fields carried (S8,
    shipper.js:132-137). Narrow op — no shuffle.

    Output: awsRegion, logGroup, logStream, message, _raw. A
    decode_error envelope yields exactly one row with a NULL message,
    NULL logGroup/logStream and its base64 record as ``_raw``; the parse
    kernel turns that row into a decode-class DLQ row (every derived
    column NULL, so ``replay_dlq`` selects it). ``_raw`` is NULL on
    every other row.
    """
    explode, event = _explode_exprs()
    return envelopes.select(*explode).select(*event)


@built_once
def _explode_exprs() -> tuple[list[Column], list[Column]]:
    """explode_log_events' two selects."""
    err = F.col("decode_error")
    explode = [
        F.col("awsRegion"),
        F.when(~err, F.col("logGroup")).alias("logGroup"),
        F.when(~err, F.col("logStream")).alias("logStream"),
        F.when(err, F.col("_raw_data")).alias("_raw"),
        F.explode(
            F.when(err, F.array(F.lit(None).cast(LOG_EVENT_SCHEMA)))
            .otherwise(F.col("logEvents"))
        ).alias("logEvent"),
    ]
    event = [
        F.col("awsRegion"),
        F.col("logGroup"),
        F.col("logStream"),
        F.col("logEvent.message").alias("message"),
        F.col("_raw"),
    ]
    return explode, event
