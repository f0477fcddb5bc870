"""Streaming tests (SURVEY.md §5.3): micro-batch shipping via
foreachBatch, checkpoint-restart exactly-once to the log table,
event-time windowed aggregation with watermark."""

from __future__ import annotations

import json
import threading
import time

import pytest

from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.decode import gzip_b64
from cloudwatch_sematext_aws_lambda_log_shipper_spark.pipeline import (
    parse_kinesis_records,
    read_kinesis_event_file,
)
from cloudwatch_sematext_aws_lambda_log_shipper_spark.streaming import (
    StreamingShipper,
    stream_kinesis_event_files,
    windowed_severity_counts,
)

TS1 = "2024-01-01T10:00:30.000Z"
TS2 = "2024-01-01T10:01:30.000Z"


def payload(messages, message_type="DATA_MESSAGE"):
    return json.dumps(
        {
            "messageType": message_type,
            "logGroup": "/aws/lambda/fn-s",
            "logStream": "2024/01/01/[3]s",
            "logEvents": [
                {"id": str(i), "timestamp": 0, "message": m}
                for i, m in enumerate(messages)
            ],
        }
    )


def write_event_file(dirpath, name, payloads):
    event = {
        "Records": [
            {"kinesis": {"data": gzip_b64(p)}, "awsRegion": "us-east-1"}
            for p in payloads
        ]
    }
    (dirpath / name).write_text(json.dumps(event) + "\n")


def wait_done(query, timeout=120):
    query.awaitTermination(timeout)
    # availableNow queries terminate on their own
    for _ in range(timeout):
        if not query.isActive:
            return
        time.sleep(1)
    raise TimeoutError("stream did not finish")


def test_streaming_ship_and_checkpoint_restart(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    out = tmp_path / "out"
    ckpt = str(tmp_path / "ckpt")

    write_event_file(inp, "a.json", [payload([f'{{"message":"m{i}","timestamp":"{TS1}"}}' for i in range(3)])])
    shipper = StreamingShipper(spark, str(inp), str(out), ckpt)
    wait_done(shipper.start(available_now=True))
    logs1 = spark.read.parquet(str(out / "logs"))
    assert logs1.count() == 3

    # restart from the same checkpoint with one NEW file: only the new
    # records are processed (no reprocessing of a.json => exactly-once)
    write_event_file(inp, "b.json", [payload(["plain error line", "ok line"])])
    shipper2 = StreamingShipper(spark, str(inp), str(out), ckpt)
    wait_done(shipper2.start(available_now=True))
    logs2 = spark.read.parquet(str(out / "logs"))
    assert logs2.count() == 5  # 3 old + 2 new, no duplicates
    assert logs2.filter("severity = 'error'").count() == 1


def test_retried_micro_batch_does_not_duplicate(spark, tmp_path):
    """foreachBatch is at-least-once: a micro-batch that fails after (or
    during) its write is retried with the SAME batch_id. The ship must be
    idempotent — re-shipping batch 0 leaves the table unchanged, and a
    partial first attempt is fully replaced by the retry."""
    inp = tmp_path / "in"
    inp.mkdir()
    out = tmp_path / "out"
    write_event_file(inp, "a.json", [payload(["one", "two", "three error"])])
    shipper = StreamingShipper(spark, str(inp), str(out), str(tmp_path / "ck"))

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.pipeline import (
        read_kinesis_event_file as read_file,
    )

    records = read_file(spark, str(inp / "a.json"))
    # simulate a first attempt that crashed mid-write: only part of the
    # batch landed before the failure
    shipper._ship_batch(records.limit(1), batch_id=0)
    # the retry re-runs the FULL batch under the same id
    shipper._ship_batch(records, batch_id=0)
    logs = spark.read.parquet(str(out / "logs"))
    assert logs.count() == 3  # not 4 (partial) and not 6 (append dupe)
    # a second identical retry is also a no-op
    shipper._ship_batch(records, batch_id=0)
    assert spark.read.parquet(str(out / "logs")).count() == 3
    # a genuinely new batch still appends alongside
    shipper._ship_batch(records, batch_id=1)
    logs = spark.read.parquet(str(out / "logs"))
    assert logs.count() == 6
    assert logs.select("ingest_batch").distinct().count() == 2


def test_streaming_dlq_lands(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    out = tmp_path / "out"
    event = {
        "Records": [
            {"kinesis": {"data": gzip_b64(payload(["fine"]))}, "awsRegion": "r"},
            {"kinesis": {"data": "AAAA"}, "awsRegion": "r"},  # not gzip
        ]
    }
    (inp / "a.json").write_text(json.dumps(event) + "\n")
    shipper = StreamingShipper(spark, str(inp), str(out), str(tmp_path / "ck"))
    wait_done(shipper.start(available_now=True))
    assert spark.read.parquet(str(out / "logs")).count() == 1
    dlq = spark.read.parquet(str(out / "dlq"))
    [r] = dlq.collect()
    assert r["_raw"] == "AAAA"


def _bulk_docs(bulk_dir):
    """Docs of every published bulk file (action + doc line pairs)."""
    import os

    docs = []
    for name in sorted(os.listdir(bulk_dir)):
        if name.endswith(".ndjson"):
            lines = open(os.path.join(bulk_dir, name)).read().splitlines()
            docs += [json.loads(d) for d in lines[1::2]]
    return docs


def _write_clean_and_corrupt(inp):
    event = {
        "Records": [
            {"kinesis": {"data": gzip_b64(payload(["one", "two error"]))},
             "awsRegion": "r"},
            {"kinesis": {"data": "AAAA"}, "awsRegion": "r"},  # not gzip
        ]
    }
    (inp / "a.json").write_text(json.dumps(event) + "\n")


def test_failed_bulk_fails_the_batch_and_restart_ships_once(spark, tmp_path):
    """The sink jobs run concurrently, but a bulk whose retries run out
    still fails the micro-batch with the transport's error, only after
    the table writes ended (no sink thread outlives the ship). The
    restart re-runs the batch under the same id: log and DLQ rows land
    once, and every doc is delivered."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.transport import (
        FileBulkTransport,
        FlakyFileTransport,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    _write_clean_and_corrupt(inp)
    out, ckpt, bulk = tmp_path / "out", str(tmp_path / "ck"), str(tmp_path / "bulk")

    shipper = StreamingShipper(spark, str(inp), str(out), ckpt, bulk=True)
    shipper.sink.transport_factory = lambda: FlakyFileTransport(bulk, fail_times=10)
    query = shipper.start(available_now=True)
    with pytest.raises(Exception, match="injected failure"):
        query.awaitTermination(120)
    assert not query.isActive
    assert [t.name for t in threading.enumerate()
            if t.name.startswith("logsink")] == []
    assert _bulk_docs(bulk) == []

    shipper = StreamingShipper(spark, str(inp), str(out), ckpt, bulk=True)
    shipper.sink.transport_factory = lambda: FileBulkTransport(bulk)
    wait_done(shipper.start(available_now=True))
    logs = spark.read.parquet(str(out / "logs"))
    assert sorted(r.message for r in logs.collect()) == ["one", "two error"]
    assert [r["_raw"] for r in spark.read.parquet(str(out / "dlq")).collect()] == ["AAAA"]
    assert sorted(d["message"] for d in _bulk_docs(bulk)) == ["one", "two error"]


def test_stream_sink_jobs_carry_the_stream_job_group(spark, tmp_path):
    """Each sink job runs on its own driver thread; the thread inherits
    the stream's local properties, so the log, DLQ and bulk jobs stay in
    the query's job group (what query.stop() cancels) and no job of the
    micro-batch runs outside it."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.transport import (
        FileBulkTransport,
    )

    tracker = spark.sparkContext.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    inp = tmp_path / "in"
    inp.mkdir()
    _write_clean_and_corrupt(inp)
    bulk = str(tmp_path / "bulk")
    shipper = StreamingShipper(
        spark, str(inp), str(tmp_path / "out"), str(tmp_path / "ck"), bulk=True
    )
    shipper.sink.transport_factory = lambda: FileBulkTransport(bulk)
    query = shipper.start(available_now=True)
    wait_done(query)
    assert len(_bulk_docs(bulk)) == 2

    # the status store fills from the listener bus, asynchronously
    group = []
    for _ in range(100):
        group = tracker.getJobIdsForGroup(str(query.runId))
        if len(group) >= 3:
            break
        time.sleep(0.1)
    assert len(group) >= 3, group  # log table + DLQ + bulk, one batch
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped_before


def test_only_small_batches_overlap_their_sink_jobs(spark, tmp_path, monkeypatch):
    """A micro-batch below FAN_OUT_MIN_BYTES of planned input ships its
    sink jobs concurrently; a batch at or above it ships them one after
    another, because its jobs are bound by their tasks. Both land the
    same rows."""
    import cloudwatch_sematext_aws_lambda_log_shipper_spark.pipeline as kernel
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.sink import LogSink

    modes = []
    ship = LogSink.ship

    def recording_ship(self, *args, **kwargs):
        modes.append(kwargs.get("concurrent", False))
        return ship(self, *args, **kwargs)

    monkeypatch.setattr(LogSink, "ship", recording_ship)
    inp = tmp_path / "in"
    inp.mkdir()
    _write_clean_and_corrupt(inp)
    landed = []
    # the real gate first, then one that every batch reaches
    for name, min_bytes in (("small", kernel.FAN_OUT_MIN_BYTES), ("large", 0)):
        monkeypatch.setattr(kernel, "FAN_OUT_MIN_BYTES", min_bytes)
        out = tmp_path / name
        wait_done(StreamingShipper(spark, str(inp), str(out),
                                   str(tmp_path / f"ck_{name}"))
                  .start(available_now=True))
        logs = spark.read.parquet(str(out / "logs")).collect()
        landed.append(sorted(r.message for r in logs))
    assert modes == [True, False]
    assert landed == [["one", "two error"]] * 2


def test_windowed_severity_counts_streaming(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    write_event_file(
        inp,
        "a.json",
        [
            payload(
                [
                    f'{{"message":"ok","timestamp":"{TS1}"}}',
                    f'{{"message":"boom error","timestamp":"{TS1}"}}',
                    f'{{"message":"later ok","timestamp":"{TS2}"}}',
                ]
            )
        ],
    )
    records = stream_kinesis_event_files(spark, str(inp))
    windowed = windowed_severity_counts(parse_kinesis_records(records, observe=False))
    q = (
        windowed.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    wait_done(q)
    rows = {
        (r.window_start.isoformat(), r.severity): r.n
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert rows[("2024-01-01T10:00:00", "debug")] == 1
    assert rows[("2024-01-01T10:00:00", "error")] == 1
    assert rows[("2024-01-01T10:01:00", "debug")] == 1


def test_dedup_stream_drops_redelivered_events(spark, tmp_path):
    """At-least-once redelivery: the same logical event arriving twice
    (same requestId+message) survives only once downstream of the
    stateful dedup."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.streaming import dedup_stream

    inp = tmp_path / "in"
    inp.mkdir()
    dup = f'{{"message":"once","requestId":"r1","timestamp":"{TS1}"}}'
    write_event_file(inp, "a.json", [payload([dup, dup, f'{{"message":"other","requestId":"r2","timestamp":"{TS1}"}}'])])
    records = stream_kinesis_event_files(spark, str(inp))
    deduped = dedup_stream(parse_kinesis_records(records, observe=False))
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    wait_done(q)
    msgs = sorted(r.message for r in spark.sql("SELECT message FROM dedup_out").collect())
    assert msgs == ["once", "other"]


def test_stateful_running_totals_accumulate_across_batches(spark, tmp_path):
    """applyInPandasWithState: totals carry over micro-batches (state),
    and the per-key output reflects the running value, not the batch."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.streaming.stateful import (
        running_function_totals,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    write_event_file(inp, "a.json", [payload(["boom error", "fine"])])
    write_event_file(inp, "b.json", [payload(["all good here"])])
    records = stream_kinesis_event_files(spark, str(inp), max_files_per_trigger=1)
    totals = running_function_totals(parse_kinesis_records(records, observe=False))
    q = (
        totals.writeStream.format("memory")
        .queryName("fn_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    wait_done(q)
    rows = spark.sql(
        "SELECT * FROM fn_totals ORDER BY total_events"
    ).collect()
    # one update row per micro-batch for fn-s; the LAST reflects all 3 events
    assert rows[-1].function_name == "fn-s"
    assert rows[-1].total_events == 3
    assert rows[-1].total_errors == 1
    assert rows[-1].error_rate == pytest.approx(1 / 3)


def test_batch_and_stream_share_one_code_path(spark, tmp_path):
    """The same parse chain produces identical rows in batch and
    streaming execution over the same input file."""
    inp = tmp_path / "in"
    inp.mkdir()
    write_event_file(inp, "a.json", [payload(["alpha", "beta error", "gamma"])])
    out = tmp_path / "out"
    shipper = StreamingShipper(spark, str(inp), str(out), str(tmp_path / "ck"))
    wait_done(shipper.start(available_now=True))
    stream_rows = {
        (r["message"], r["severity"])
        for r in spark.read.parquet(str(out / "logs")).collect()
    }
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.pipeline import run_batch

    clean, _ = run_batch(read_kinesis_event_file(spark, str(inp / "a.json")))
    batch_rows = {(r["message"], r["severity"]) for r in clean.collect()}
    assert stream_rows == batch_rows


def test_stream_stream_interval_join(spark, tmp_path):
    """Errors pair with same-request context lines within the skew
    window; different-request and out-of-window lines don't."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.streaming import (
        correlate_error_context,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    msgs = [
        # request r1: one error + one debug 30s later -> 1 pair
        f'{{"message":"boom error","requestId":"r1","timestamp":"{TS1}"}}',
        f'{{"message":"ctx a","requestId":"r1","timestamp":"{TS2}"}}',
        # request r2: debug only -> no pair
        f'{{"message":"ctx b","requestId":"r2","timestamp":"{TS1}"}}',
        # request r1 but 2h later -> outside the 5-minute skew
        '{"message":"ctx late","requestId":"r1","timestamp":"2024-01-01T12:00:00.000Z"}',
    ]
    write_event_file(inp, "a.json", [payload(msgs)])

    stream = stream_kinesis_event_files(spark, str(inp))
    joined = correlate_error_context(parse_kinesis_records(stream, observe=False))
    q = (
        joined.writeStream.format("memory")
        .queryName("err_ctx")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    wait_done(q)
    rows = spark.sql("SELECT * FROM err_ctx").collect()
    assert [(r.request_id, r.error_message, r.context_message) for r in rows] == [
        ("r1", "boom error", "ctx a")
    ]

    # the same transform works on the batch frame (interval self-join)
    batch = parse_kinesis_records(
        read_kinesis_event_file(spark, str(inp / "a.json")), observe=False
    )
    brows = correlate_error_context(batch).collect()
    assert [(r.request_id, r.context_message) for r in brows] == [("r1", "ctx a")]


def test_streaming_neardup_guard_across_batches(spark, tmp_path):
    """StreamingNearDup: batch-2 docs near-duplicating batch-1 docs must
    alert against the PERSISTED signature store (not just within their
    own batch); intra-batch near-dups alert too; unrelated docs don't."""
    from pyspark.sql import Row

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.streaming import (
        StreamingNearDup,
    )

    guard = StreamingNearDup(str(tmp_path / "store"), threshold=0.8)

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    b1 = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text="completely different content about spark "
                               "structured streaming state stores and joins"),
        ]
    )
    a1 = guard.process_batch(b1, 0).collect()
    assert a1 == []  # nothing to match yet

    # batch 2: doc 10 near-dups doc 1 (one word changed); docs 11+12 are
    # intra-batch near-dups of each other; doc 13 is unrelated
    intra = "numbers one two three four five six seven eight nine ten eleven"
    b2 = spark.createDataFrame(
        [
            Row(doc_id=10, text=base.replace("today", "tonight")),
            Row(doc_id=11, text=intra),
            Row(doc_id=12, text=intra + " twelve"),
            Row(doc_id=13, text="unrelated corpus document mentioning "
                                "retention compaction and checkpoints"),
        ]
    )
    a2 = guard.process_batch(b2, 1)
    pairs = {(r.new_id, r.old_id) for r in a2.collect()}
    assert (10, 1) in pairs  # cross-batch hit via the store
    assert (11, 12) in pairs or (12, 11) in pairs  # intra-batch hit
    assert not any(13 in p or 2 in p for p in pairs)

    # retry idempotence: re-processing batch 1 (same batch_id) must not
    # duplicate its rows in the store — and doc 1 now exists in the
    # store, so its retry sees batch-2's doc 10 as a near-dup (ids
    # differ) but NOT itself (same id suppressed)
    a1r = guard.process_batch(b1, 0)
    pairs_r = {(r.new_id, r.old_id) for r in a1r.collect()}
    assert (1, 10) in pairs_r
    assert not any(n == o for n, o in pairs_r)
    bands = spark.read.parquet(guard.bands_path)
    assert (
        bands.filter("ingest_batch = 0").select("doc_id").distinct().count() == 2
    )


def test_streaming_neardup_retry_emits_one_row_per_pair(spark, tmp_path):
    """A retried batch sees its own docs in the store, so an intra pair
    could surface both as (a,b) and mirrored via the store as (b,a):
    the guard must emit exactly ONE row per unordered pair (an alert
    consumer must not double-fire on retry)."""
    from pyspark.sql import Row

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.streaming import (
        StreamingNearDup,
    )

    guard = StreamingNearDup(str(tmp_path / "store"), threshold=0.8)
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    batch = spark.createDataFrame(
        [
            Row(doc_id=1, text=text),
            Row(doc_id=2, text=text + " nu"),
        ]
    )
    first = guard.process_batch(batch, 0).collect()
    assert {(r.new_id, r.old_id) for r in first} == {(1, 2)}
    # retry: both docs are now ALSO in the store
    retry = guard.process_batch(batch, 0).collect()
    assert len(retry) == 1
    assert {frozenset((r.new_id, r.old_id)) for r in retry} == {frozenset((1, 2))}


def test_streaming_neardup_custom_banding(spark, tmp_path):
    """Non-default (num_bands, rows_per_band) must compute a matching
    signature width — the k=64 default only coincides with b*r for the
    default b=16, r=4."""
    from pyspark.sql import Row

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.streaming import (
        StreamingNearDup,
    )

    guard = StreamingNearDup(
        str(tmp_path / "store"), threshold=0.8, num_bands=8, rows_per_band=2
    )
    text = "one two three four five six seven eight nine ten eleven twelve"
    b1 = spark.createDataFrame([Row(doc_id=1, text=text)])
    b2 = spark.createDataFrame([Row(doc_id=2, text=text + " thirteen")])
    assert guard.process_batch(b1, 0).collect() == []
    pairs = {(r.new_id, r.old_id) for r in guard.process_batch(b2, 1).collect()}
    assert pairs == {(2, 1)}


def test_streaming_sessionization_gap_windows(spark, tmp_path):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.streaming import (
        sessionized_request_stats,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    t = "2024-01-01T10:{:02d}:{:02d}.000Z"
    write_event_file(
        inp,
        "a.json",
        [
            payload(
                [
                    # r1 burst: two events 2.5 min apart -> ONE session
                    f'{{"message":"a error","requestId":"r1","timestamp":"{t.format(0, 30)}"}}',
                    f'{{"message":"b","requestId":"r1","timestamp":"{t.format(3, 0)}"}}',
                    # r1 again far outside the 5-min gap -> SECOND session
                    f'{{"message":"c","requestId":"r1","timestamp":"{t.format(30, 0)}"}}',
                    # r2: its own session
                    f'{{"message":"d","requestId":"r2","timestamp":"{t.format(20, 0)}"}}',
                    # no request id -> excluded from sessionization
                    f'{{"message":"e","timestamp":"{t.format(0, 0)}"}}',
                ]
            )
        ],
    )
    records = stream_kinesis_event_files(spark, str(inp))
    sessions = sessionized_request_stats(
        parse_kinesis_records(records, observe=False), gap="5 minutes"
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("req_sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    wait_done(q)
    rows = {
        (r.request_id, r.session_start.isoformat()): r
        for r in spark.sql("SELECT * FROM req_sessions").collect()
    }
    assert set(rows) == {
        ("r1", "2024-01-01T10:00:30"),
        ("r1", "2024-01-01T10:30:00"),
        ("r2", "2024-01-01T10:20:00"),
    }
    burst = rows[("r1", "2024-01-01T10:00:30")]
    # session end extends gap past the LAST event in the session
    assert burst.session_end.isoformat() == "2024-01-01T10:08:00"
    assert (burst.n_events, burst.n_errors) == (2, 1)
    assert all(r.function_name == "fn-s" for r in rows.values())
    single = rows[("r2", "2024-01-01T10:20:00")]
    assert (single.n_events, single.n_errors) == (1, 0)


def test_streaming_path_equals_run_batch_on_same_records(spark, tmp_path):
    """r14 ADVICE: the streaming shipper and run_batch are two callers
    of ONE batch_kernel — pin value equality of the shipped output vs
    the batch hot path on the same records so the compositions cannot
    silently diverge."""
    from pyspark.sql import functions as F

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.pipeline import run_batch

    inp = tmp_path / "in"
    inp.mkdir()
    out = tmp_path / "out"
    write_event_file(
        inp,
        "a.json",
        [payload(["one", "plain error line", '{"message":"j","level":"warn"}'])],
    )
    shipper = StreamingShipper(spark, str(inp), str(out), str(tmp_path / "ck"))
    wait_done(shipper.start(available_now=True))
    # compare on the record payload: sink bookkeeping (partition
    # columns) and routing flags drop from BOTH sides
    bookkeeping = ["ingest_batch", "log_date", "is_corrupt", "_raw"]
    shipped = spark.read.parquet(str(out / "logs")).drop(*bookkeeping)

    records = read_kinesis_event_file(spark, str(inp / "a.json"))
    clean, _dlq = run_batch(records)
    want = clean.drop(*bookkeeping)

    cols = sorted(shipped.columns)
    assert cols == sorted(want.columns)
    sel = [F.col(f"`{c}`") for c in cols]  # dotted names need backticks
    got_rows = sorted(map(str, shipped.select(*sel).collect()))
    want_rows = sorted(map(str, want.select(*sel).collect()))
    assert got_rows == want_rows


def test_stream_stream_left_outer_join_emits_unmatched_after_watermark(
    spark, tmp_path
):
    """left_outer interval join: an error with NO same-request context
    must surface with NULL context columns — but only once the
    context-side watermark PROVES nothing can still arrive (standard
    outer-join semantics), which here takes a later file advancing
    event time, processed across a checkpoint restart."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.streaming import (
        correlate_error_context,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    ck = str(tmp_path / "ck")

    msgs_a = [
        # r1: error + context 60s later -> inner match
        f'{{"message":"boom error","requestId":"r1","timestamp":"{TS1}"}}',
        f'{{"message":"ctx a","requestId":"r1","timestamp":"{TS2}"}}',
        # r9: error with NO context -> must eventually emit NULL-context
        f'{{"message":"solo error","requestId":"r9","timestamp":"{TS1}"}}',
    ]
    write_event_file(inp, "a.json", [payload(msgs_a)])

    out = str(tmp_path / "out")

    def run_once() -> list[tuple]:
        stream = stream_kinesis_event_files(spark, str(inp))
        joined = correlate_error_context(
            parse_kinesis_records(stream, observe=False), how="left_outer"
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        wait_done(q)
        return [
            (r.request_id, r.error_message, r.context_message)
            for r in spark.read.parquet(out).collect()
        ]

    collected = run_once()
    # the unmatched error cannot have emitted yet: the watermark from
    # file A alone sits BEFORE error_time + skew
    assert ("r9", "solo error", None) not in collected

    # far-future traffic advances the watermark past r9's horizon.
    # BOTH watermark nodes must move (the global watermark is their
    # MIN — a context-only file would leave the error-side watermark,
    # and so the join horizon, stuck), so the later files carry an
    # error AND a context line. Restart from the checkpoint (state +
    # watermark recover) — give the engine up to two restarts for the
    # eviction batch.
    for i, ts in enumerate(
        ("2024-01-01T12:00:00.000Z", "2024-01-01T13:00:00.000Z")
    ):
        write_event_file(
            inp,
            f"later{i}.json",
            [payload([
                f'{{"message":"later error","requestId":"r2","timestamp":"{ts}"}}',
                f'{{"message":"ctx later","requestId":"r2","timestamp":"{ts}"}}',
            ])],
        )
        collected = run_once()
        if ("r9", "solo error", None) in collected:
            break

    assert ("r9", "solo error", None) in collected
    # the matched pair emitted exactly once across all runs/restarts
    assert collected.count(("r1", "boom error", "ctx a")) == 1
    # and no spurious outer row for the error that DID match
    assert ("r1", "boom error", None) not in collected
