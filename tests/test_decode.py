"""Envelope round-trip tests: base64(gzip(json)) decode chain (S2-S4),
CONTROL_MESSAGE skip (S5), explosion counts (S8), observe metrics (S15).
"""

from __future__ import annotations

import json

from pyspark.sql import Row

from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.decode import (
    decode_records,
    explode_log_events,
    gzip_b64,
)
from cloudwatch_sematext_aws_lambda_log_shipper_spark.pipeline import (
    parse_kinesis_records,
    run_batch,
)


def make_payload(messages, log_group="/aws/lambda/fn-a", log_stream="2019/03/08/[7]s1",
                 message_type="DATA_MESSAGE"):
    return json.dumps(
        {
            "messageType": message_type,
            "owner": "123",
            "logGroup": log_group,
            "logStream": log_stream,
            "subscriptionFilters": ["f"],
            "logEvents": [
                {"id": str(i), "timestamp": 1552060725736 + i, "message": m}
                for i, m in enumerate(messages)
            ],
        }
    )


def records_df(spark, payloads, region="eu-west-1"):
    return spark.createDataFrame(
        [Row(data=gzip_b64(p), awsRegion=region) for p in payloads]
    )


def test_roundtrip_basic(spark):
    df = records_df(spark, [make_payload(["hello", "world"])])
    envs = decode_records(df)
    [e] = envs.collect()
    assert e.logGroup == "/aws/lambda/fn-a"
    assert e.messageType == "DATA_MESSAGE"
    assert [ev.message for ev in e.logEvents] == ["hello", "world"]
    events = explode_log_events(envs)
    assert events.count() == 2


def test_control_message_skipped(spark):
    df = records_df(
        spark,
        [
            make_payload(["a"], message_type="CONTROL_MESSAGE"),
            make_payload(["b", "c"]),
        ],
    )
    envs = decode_records(df)
    assert envs.count() == 1  # fixture 18: control record skipped entirely


def test_full_pipeline_end_to_end(spark):
    df = records_df(
        spark,
        [
            make_payload(
                [
                    '{"message":"boot ok","requestId":"r1"}',
                    "START RequestId: r1 Version: 1",
                    "Task timed out after 3.00 seconds",
                ]
            ),
            make_payload(["plain line"], log_group="/aws/lambda/fn-b"),
        ],
    )
    clean, dlq = run_batch(df)
    rows = {(r["function.name"], r["message"]): r for r in clean.collect()}
    assert len(rows) == 3  # platform line dropped
    assert rows[("fn-a", "Task timed out after 3.00 seconds")]["error.type"] == "timeout"
    assert rows[("fn-b", "plain line")]["region"] == "eu-west-1"
    assert dlq.count() == 0


def test_observe_counters(spark):
    from pyspark.sql import Observation

    df = records_df(
        spark,
        [
            make_payload(["a", "b"]),
            make_payload(["c"], message_type="CONTROL_MESSAGE"),
            make_payload(["d"]),
        ],
    )
    obs = Observation("shipper_metrics")
    parsed = parse_kinesis_records(df, observe=obs)
    assert parsed.count() == 3
    # recordCounter excludes CONTROL and decode failures (shipper.js:125-126
    # only increments after a successful decode); logEventCounter counts all
    # events of surviving records (shipper.js:136).
    assert obs.get["record_counter"] == 2
    assert obs.get["log_event_counter"] == 3


def test_observe_excludes_decode_errors(spark):
    from pyspark.sql import Observation

    df = spark.createDataFrame(
        [Row(data=gzip_b64(make_payload(["a"])), awsRegion="r"),
         Row(data="AAAA", awsRegion="r")]
    )
    obs = Observation()
    parsed = parse_kinesis_records(df, observe=obs)
    assert parsed.count() == 2  # 1 clean + 1 decode-error DLQ row
    assert obs.get["record_counter"] == 1
    assert obs.get["log_event_counter"] == 1


def test_corrupt_gzip_does_not_poison_batch(spark):
    good = gzip_b64(make_payload(["ok"]))
    df = spark.createDataFrame(
        [
            Row(data=good, awsRegion="r"),
            Row(data="AAAA", awsRegion="r"),  # valid base64, not gzip
            Row(data="!!!not-base64!!!", awsRegion="r"),  # invalid base64
        ]
    )
    envs = decode_records(df)
    got = envs.collect()
    # corrupt records survive as decode_error rows; good record parses
    assert sum(1 for e in got if e.decode_error) == 2
    assert sum(1 for e in got if not e.decode_error) == 1


def test_corrupt_records_reach_dlq_end_to_end(spark):
    """The full pipeline must not lose decode-corrupt records (the round-1
    black hole: explode on a NULL logEvents array dropped them)."""
    good = gzip_b64(make_payload(["ok"]))
    df = spark.createDataFrame(
        [
            Row(data=good, awsRegion="r"),
            Row(data="AAAA", awsRegion="r"),
            Row(data="!!!not-base64!!!", awsRegion="r"),
        ]
    )
    clean, dlq = run_batch(df)
    assert clean.count() == 1
    dlq_rows = dlq.collect()
    assert len(dlq_rows) == 2
    # original base64 payload kept for replay
    assert {r["_raw"] for r in dlq_rows} == {"AAAA", "!!!not-base64!!!"}
    assert all(r["is_corrupt"] for r in dlq_rows)


def test_replay_dlq_recovers_decode_class_only(spark):
    """replay_dlq: decode-class rows re-enter the pipeline — recoverable
    when the payload decodes on retry (e.g. a since-fixed decoder bug,
    simulated by patching _raw to a now-valid payload); genuinely bad
    rows and parse-class (Q4) rows stay in the DLQ."""
    from pyspark.sql import functions as F

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.pipeline import replay_dlq

    q4 = "2019-03-08T15:58:45.736Z 53499d7f-60f1-476a-adc8-1e6c6125a67c spaced"
    _, dlq = run_batch(
        records_df(spark, [make_payload([q4])]).unionByName(
            spark.createDataFrame(
                [Row(data="!!!bad!!!", awsRegion="r"),
                 Row(data="????", awsRegion="r")]
            )
        )
    )
    assert dlq.count() == 3  # one Q4 parse row + two decode rows
    # simulate the decoder fix: one decode-class row's payload now decodes
    patched = dlq.withColumn(
        "_raw",
        F.when(
            F.col("_raw") == "!!!bad!!!",
            F.lit(gzip_b64(make_payload(["recovered fine"]))),
        ).otherwise(F.col("_raw")),
    )
    recovered, still = replay_dlq(patched)
    assert [r["message"] for r in recovered.collect()] == ["recovered fine"]
    # the unrecoverable decode row + the deterministic Q4 row remain
    still_rows = still.collect()
    assert len(still_rows) == 2
    assert {r["_raw"] for r in still_rows} == {"????", q4}


def test_null_message_routes_to_dlq(spark):
    """A logEvent with a null message is DLQ'd, not silently dropped (the
    reference crashed the batch; a silent drop would be a third behavior)."""
    payload = json.dumps(
        {
            "messageType": "DATA_MESSAGE",
            "logGroup": "/aws/lambda/fn-a",
            "logStream": "s",
            "logEvents": [
                {"id": "0", "timestamp": 1, "message": None},
                {"id": "1", "timestamp": 2, "message": "fine"},
            ],
        }
    )
    df = spark.createDataFrame([Row(data=gzip_b64(payload), awsRegion="r")])
    clean, dlq = run_batch(df)
    assert [r["message"] for r in clean.collect()] == ["fine"]
    assert dlq.count() == 1


def test_batch_kernel_decodes_each_record_once(spark):
    """Plan pin: the executed batch_kernel plan runs the gunzip UDF in ONE
    ArrowEvalPython node and holds at most three from_json calls (the
    envelope, and the parse kernel's string and variant attribute maps),
    over a batch that has every decode edge class: CONTROL, bad base64,
    valid base64 that is not gzip, ``{}``, and an envelope with a
    logGroup but no logEvents. A filter pushed under the decode, or a
    second branch over the decoded records, multiplies both counts."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.pipeline import batch_kernel

    df = spark.createDataFrame(
        [
            Row(data=gzip_b64(make_payload(['{"message":"m","k":1}', "plain"])),
                awsRegion="r"),
            Row(data=gzip_b64(make_payload(["c"], message_type="CONTROL_MESSAGE")),
                awsRegion="r"),
            Row(data="!!!not-base64!!!", awsRegion="r"),
            Row(data="AAAA", awsRegion="r"),
            Row(data=gzip_b64("{}"), awsRegion="r"),
            Row(data=gzip_b64(json.dumps({"logGroup": "/aws/lambda/f"})),
                awsRegion="r"),
        ]
    )
    parsed = batch_kernel(df, observe=False, fan_out=True)
    rows = parsed.collect()
    assert sorted(r["is_corrupt"] for r in rows) == [False, False] + [True] * 4
    plan = parsed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("from_json(") <= 3, plan


def _edge_batch(spark):
    """Records of every kernel class: JSON with a user override, plain,
    tab-structured, Q4, platform, null message, CONTROL, bad base64,
    valid base64 that is not gzip, and ``{}``."""
    q4 = "2019-03-08T15:58:45.736Z 53499d7f-60f1-476a-adc8-1e6c6125a67c spaced"
    tab = "2019-03-08T15:58:45.736Z\t53499d7f-60f1-476a-adc8-1e6c6125a67c\tINFO tab"
    events = json.dumps({
        "messageType": "DATA_MESSAGE", "logGroup": "/aws/lambda/fn-a",
        "logStream": "2019/03/08/[7]s1",
        "logEvents": [{"id": "n", "timestamp": 1, "message": None}],
    })
    return spark.createDataFrame(
        [
            Row(data=gzip_b64(make_payload([
                '{"message":"boot error","requestId":"r1","function.name":"o","k":[1]}',
                "plain", tab, q4, "START RequestId: r1 Version: 1",
            ])), awsRegion="r"),
            Row(data=gzip_b64(events), awsRegion="r"),
            Row(data=gzip_b64(make_payload(["c"], message_type="CONTROL_MESSAGE")),
                awsRegion="r"),
            Row(data="!!!not-base64!!!", awsRegion="r"),
            Row(data="AAAA", awsRegion="r"),
            Row(data=gzip_b64("{}"), awsRegion="r"),
        ]
    )


def test_kernel_rebuild_only_applies_prebuilt_expressions(monkeypatch, spark):
    """Build-cost pin: the kernel's Column expressions are built once per
    process, so building batch_kernel + split_dlq again over a batch only
    applies them (~100 Py4J commands). Rebuilding the expressions on
    every batch sent ~2,400. Py4J's object-release commands depend on
    Python's garbage collector and are not counted. Both builds must
    give the same rows."""
    from collections import Counter

    from pyspark.sql import functions as F

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.parse import split_dlq
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.pipeline import batch_kernel

    df = _edge_batch(spark)

    def build():
        return split_dlq(batch_kernel(df, fan_out=True))

    first = build()
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    second = build()
    monkeypatch.undo()
    assert len(sent) < 500, len(sent)

    def rows(frames):
        return [
            Counter(f.withColumn("attributes", F.to_json("attributes")).collect())
            for f in frames
        ]

    clean, dlq = rows(first)
    assert [clean, dlq] == rows(second)
    assert (clean.total(), dlq.total()) == (3, 5)


def test_fan_out_only_from_the_size_gate(spark, tmp_path):
    """batch_kernel(fan_out=True) repartitions the raw records only when
    the batch's planned input size reaches FAN_OUT_MIN_BYTES and it
    arrives in fewer partitions than cores; fan_out=False never does."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.pipeline import (
        FAN_OUT_MIN_BYTES,
        batch_kernel,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.sources.kinesis import (
        read_kinesis_event_file,
    )

    def plan(records, fan_out):
        parsed = batch_kernel(records, observe=False, fan_out=fan_out)
        return parsed._jdf.queryExecution().executedPlan().toString()

    def event_file(name, n_records):
        path = tmp_path / name
        path.write_text(json.dumps({"Records": [record] * n_records}) + "\n")
        return path

    record = {"kinesis": {"data": gzip_b64(make_payload(["x" * 200] * 5))},
              "awsRegion": "r"}
    tiny = read_kinesis_event_file(spark, str(event_file("tiny.jsonl", 1)))
    assert "RoundRobinPartitioning" not in plan(tiny, True)

    path = event_file("big.jsonl", FAN_OUT_MIN_BYTES // len(json.dumps(record)) + 10)
    assert FAN_OUT_MIN_BYTES < path.stat().st_size < 2 * FAN_OUT_MIN_BYTES
    big = read_kinesis_event_file(spark, str(path))
    assert big.rdd.getNumPartitions() == 1
    par = spark.sparkContext.defaultParallelism
    fanned = plan(big, True)
    if par > 1:
        assert f"RoundRobinPartitioning({par})" in fanned, fanned
    else:
        assert "RoundRobinPartitioning" not in fanned
    assert "RoundRobinPartitioning" not in plan(big, False)
