"""BulkTransport seam: executor-side chunked delivery with retry/
backoff and idempotency keys — a transport that fails twice must still
result in every doc shipped exactly once (the logsene-js resend
contract, shipper.js:143-148)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from cloudwatch_sematext_aws_lambda_log_shipper_spark.transport import (
    FileBulkTransport,
    FlakyFileTransport,
    ship_bulks,
)


def _docs_df(spark, n=250):
    return (
        spark.range(n)
        .select(
            F.concat(F.lit("msg-"), F.col("id")).alias("message"),
            F.lit("info").alias("severity"),
            F.col("id").alias("seq"),
        )
        .repartition(3)
    )


def _shipped_docs(out_dir):
    docs = []
    for name in sorted(os.listdir(out_dir)):
        if not name.endswith(".ndjson"):
            continue
        lines = open(os.path.join(out_dir, name)).read().splitlines()
        # _bulk wire shape: action line + doc line per record
        assert len(lines) % 2 == 0
        for i in range(0, len(lines), 2):
            assert json.loads(lines[i])["index"]["_type"] == "info"
            docs.append(json.loads(lines[i + 1]))
    return docs


def test_clean_transport_ships_all_docs_in_bulk_chunks(spark, tmp_path):
    out = str(tmp_path / "bulk")
    df = _docs_df(spark, 250)
    stats = ship_bulks(
        df, lambda: FileBulkTransport(out), bulk_size=100, batch_id=7
    )
    docs = _shipped_docs(out)
    assert stats["n_docs"] == 250
    assert sorted(d["seq"] for d in docs) == list(range(250))
    # chunking: no file exceeds bulk_size docs; keys carry the batch id
    for name in os.listdir(out):
        if name.endswith(".ndjson"):
            assert name.startswith("bulk-000007-")
            n_lines = len(open(os.path.join(out, name)).read().splitlines())
            assert n_lines <= 200  # 100 docs * 2 lines
    assert stats["attempts"] == stats["n_bulks"]  # no retries needed


def test_transport_failures_retry_to_exactly_once(spark, tmp_path):
    """Every bulk's first two sends fail; retry/backoff must deliver
    all docs with no duplicates and no losses."""
    out = str(tmp_path / "bulk")
    df = _docs_df(spark, 120)
    stats = ship_bulks(
        df,
        lambda: FlakyFileTransport(out, fail_times=2),
        bulk_size=25,
        batch_id=3,
        max_retries=4,
        backoff_s=0.001,
    )
    docs = _shipped_docs(out)
    assert sorted(d["seq"] for d in docs) == list(range(120))
    assert stats["attempts"] == stats["n_bulks"] * 3  # 2 failures + 1 ok each


def test_transport_exhausted_retries_fail_loudly(spark, tmp_path):
    out = str(tmp_path / "bulk")
    df = _docs_df(spark, 10)
    with pytest.raises(Exception) as exc:
        ship_bulks(
            df,
            lambda: FlakyFileTransport(out, fail_times=10),
            bulk_size=5,
            batch_id=0,
            max_retries=2,
            backoff_s=0.001,
        )
    assert "injected failure" in str(exc.value)


def test_redelivery_overwrites_not_duplicates(spark, tmp_path):
    """The foreachBatch-retry story: shipping the SAME batch twice with
    the same batch_id produces the same file set — idempotency keys
    make redelivery a byte-identical overwrite."""
    out = str(tmp_path / "bulk")
    df = _docs_df(spark, 60)
    ship_bulks(df, lambda: FileBulkTransport(out), bulk_size=20, batch_id=1)
    first = sorted(os.listdir(out))
    ship_bulks(df, lambda: FileBulkTransport(out), bulk_size=20, batch_id=1)
    assert sorted(os.listdir(out)) == first
    assert sorted(d["seq"] for d in _shipped_docs(out)) == list(range(60))


def test_logsink_uses_injected_transport(spark, tmp_path):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.sink import LogSink

    out = str(tmp_path / "bulkdir")
    sink = LogSink(
        str(tmp_path / "sink"),
        bulk=True,
        transport_factory=lambda: FileBulkTransport(out),
    )
    df = _docs_df(spark, 30).withColumn(
        "@timestamp", F.lit("2026-01-05 10:00:00").cast("timestamp")
    )
    stats = sink.ship(df, df.limit(0), batch_id=5)
    assert sorted(d["seq"] for d in _shipped_docs(out)) == list(range(30))
    # the delivery stats come back instead of being discarded: 3
    # partitions of 10 docs, one bulk each, no retries
    assert stats == {"n_bulks": 3, "n_docs": 30, "n_partitions": 3,
                     "attempts": 3}
    # no transport, no delivery stats
    assert LogSink(str(tmp_path / "plain")).ship(df, df.limit(0)) is None


def test_batch_mode_ships_do_not_share_bulk_keys(spark, tmp_path):
    """A ship without a batch_id gets a bulk key of its own: two
    batch-mode ships (5 docs, then 3) through one transport leave all 8
    docs, and neither touches streaming batch 0's bulk files."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.sink import LogSink

    out = str(tmp_path / "bulkdir")

    def sink(name):
        # one table per layout (streaming vs batch), one bulk receiver
        return LogSink(
            str(tmp_path / name),
            bulk=True,
            transport_factory=lambda: FileBulkTransport(out),
        )

    df = _docs_df(spark, 8).coalesce(1).withColumn(
        "@timestamp", F.lit("2026-01-05 10:00:00").cast("timestamp")
    )
    stream_df = df.filter("seq < 2").withColumn("seq", F.col("seq") + 100)
    sink("stream").ship(stream_df, df.limit(0), batch_id=0)
    batch0 = {n: open(os.path.join(out, n), "rb").read()
              for n in os.listdir(out)}
    assert list(batch0) == ["bulk-000000-00000-00000.ndjson"]

    batch = sink("batch")
    batch.ship(df.filter("seq < 5"), df.limit(0))
    batch.ship(df.filter("seq >= 5"), df.limit(0))
    assert sorted(d["seq"] for d in _shipped_docs(out)) == [
        *range(8), 100, 101]
    assert {n: open(os.path.join(out, n), "rb").read()
            for n in batch0} == batch0
    assert len(os.listdir(out)) == 3
