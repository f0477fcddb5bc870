"""Property-based tests (SURVEY.md §5.5): random log lines across the
three syntactic classes plus adversarial near-misses must never crash
the kernel, and every input row lands in exactly one of {clean, dlq}
(row-count conservation — the recordCounter/logEventCounter invariant).
"""

from __future__ import annotations

import string

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.parse import (
    parse_log_events,
    split_dlq,
)

TS = "2019-03-08T15:58:45.736Z"
UUID = "53499d7f-60f1-476a-adc8-1e6c6125a67c"

printable_text = st.text(
    alphabet=string.ascii_letters + string.digits + " .,:;!?-_/\\'\"{}[]",
    min_size=0,
    max_size=80,
)

json_logs = st.builds(
    lambda msg, rid: f'{{"message":{msg!r},"requestId":{rid!r}}}'.replace("'", '"'),
    st.text(alphabet=string.ascii_letters + string.digits + " ", max_size=40),
    st.text(alphabet=string.ascii_letters + string.digits, max_size=12),
)

structured_logs = st.builds(
    lambda sep, text: f"{TS}{sep}{UUID}{sep}{text}",
    st.sampled_from(["\t", " "]),  # space variant = Q4 corrupt class
    printable_text,
)

extra_tab_logs = st.builds(
    lambda a, b: f"{TS}\t{UUID}\t{a}\t{b}",  # Q2 truncation class
    printable_text,
    printable_text,
)

json_scalars = st.sampled_from(["123", '"str"', "null", "true", "[1,2]", "{}"])

platform_lines = st.builds(
    lambda p, rest: p + rest,
    st.sampled_from(["START RequestId", "END RequestId", "REPORT RequestId"]),
    printable_text,
)

messages = st.one_of(
    printable_text,
    json_logs,
    structured_logs,
    extra_tab_logs,
    json_scalars,
    platform_lines,
    st.none(),
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    payload_groups=st.lists(
        st.lists(messages, min_size=0, max_size=5), min_size=1, max_size=4
    ),
    corrupt=st.lists(st.sampled_from(["!!!", "AAAA", "", "====", "%%%"]), max_size=3),
    eventless=st.lists(st.sampled_from(["missing", "null", "empty_obj"]), max_size=3),
)
def test_full_pipeline_conservation(spark, payload_groups, corrupt, eventless):
    """End-to-end conservation: every Kinesis record's log events land in
    clean or DLQ; every corrupt record lands in the DLQ; valid-JSON
    envelopes with null/missing logEvents (the class the reference would
    crash on, shipper.js:132) land in the DLQ too; nothing is silently
    lost anywhere in decode -> explode -> parse -> split."""
    import json as _json

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.decode import (
        gzip_b64,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.pipeline import run_batch

    recs = []
    n_events = 0
    n_platform = 0
    for msgs in payload_groups:
        payload = _json.dumps(
            {
                "messageType": "DATA_MESSAGE",
                "logGroup": "/aws/lambda/f",
                "logStream": "[1]s",
                "logEvents": [
                    {"id": str(i), "timestamp": 0, "message": m}
                    for i, m in enumerate(msgs)
                ],
            }
        )
        recs.append(Row(data=gzip_b64(payload), awsRegion="r"))
        n_events += len(msgs)
        n_platform += sum(
            1
            for m in msgs
            if m is not None
            and any(
                m.startswith(p)
                for p in ("START RequestId", "END RequestId", "REPORT RequestId")
            )
        )
    for c in corrupt:
        recs.append(Row(data=c, awsRegion="r"))
    for kind in eventless:
        env = {"messageType": "DATA_MESSAGE", "logGroup": "/aws/lambda/f",
               "logStream": "[1]s"}
        if kind == "null":
            env["logEvents"] = None
        elif kind == "empty_obj":
            env = {}
        recs.append(Row(data=gzip_b64(_json.dumps(env)), awsRegion="r"))
    df = spark.createDataFrame(
        recs, schema="data string, awsRegion string"
    )
    clean, dlq = run_batch(df)
    # every eventless envelope must surface as exactly one DLQ row
    expected = n_events - n_platform + len(corrupt) + len(eventless)
    assert clean.count() + dlq.count() == expected
    assert dlq.count() >= len(corrupt) + len(eventless)
    # ... and that row is decode-class: every derived column NULL and the
    # input base64 kept as _raw, so replay_dlq's predicate selects it.
    # The eventless envelopes carry logGroup "/aws/lambda/f": a
    # function.name derived from it would make the row unreplayable.
    undecodable = sorted(r.data for r in recs[len(payload_groups):])
    decode_rows = dlq.filter(
        F.col("message").isNull()
        & F.col("_raw").isNotNull()
        & F.col("`function.name`").isNull()
    ).collect()
    assert sorted(r["_raw"] for r in decode_rows) == undecodable
    for r in decode_rows:
        assert r["function.version"] is None and r["@timestamp"] is None


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batch=st.lists(messages, min_size=1, max_size=25))
def test_rows_conserved_and_never_crash(spark, batch):
    df = spark.createDataFrame(
        [
            Row(awsRegion="r", logGroup="/aws/lambda/f", logStream="[1]s", message=m)
            for m in batch
        ],
        schema="awsRegion string, logGroup string, logStream string, message string",
    )
    parsed = parse_log_events(df)
    clean, dlq = split_dlq(parsed)
    n_platform = sum(
        1
        for m in batch
        if m is not None
        and (
            m.startswith("START RequestId")
            or m.startswith("END RequestId")
            or m.startswith("REPORT RequestId")
        )
    )
    n_clean, n_dlq = clean.count(), dlq.count()
    # conservation: every non-platform input lands in exactly one output
    assert n_clean + n_dlq == len(batch) - n_platform
    # every clean row is fully classified
    assert clean.filter("severity IS NULL OR type != 'lambda'").count() == 0


@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**12), min_size=1,
                 max_size=50, unique=True),
    salt=st.text(alphabet="abcdef01", max_size=6),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_split_bucket_is_engine_independent(spark, ids, salt):
    """The md5 bucket must be a pure function of (id, salt) that DuckDB
    reproduces exactly — the property the oracle-checked split rests on."""
    import duckdb

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.sampling import (
        split_bucket,
    )

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: r["b"]
        for r in df.select(
            "doc_id", split_bucket(F.col("doc_id"), salt).alias("b")
        ).collect()
    }
    con = duckdb.connect()
    digit = (
        "(CASE WHEN ascii(substr(h,{p},1)) >= 97 THEN ascii(substr(h,{p},1)) - 87 "
        "ELSE ascii(substr(h,{p},1)) - 48 END)"
    )
    bucket = " + ".join(f"{digit.format(p=p)} * {16 ** (4 - p)}" for p in range(1, 5))
    want = dict(
        con.execute(
            f"SELECT i, {bucket} FROM (SELECT i, md5(CAST(i AS VARCHAR) || ?) AS h "
            "FROM (SELECT unnest(?) AS i))",
            [salt, list(ids)],
        ).fetchall()
    )
    assert got == want
    assert all(0 <= b < 65536 for b in got.values())


# --- duplicated-span detection vs brute force ---------------------------

span_corpora = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d"]),  # tiny vocab forces collisions
        min_size=0,
        max_size=12,
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(corpus=span_corpora, n=st.integers(min_value=2, max_value=4))
def test_dup_span_stats_match_bruteforce(spark, corpus, n):
    """duplicated_ngram_stats == a direct Python recomputation for any
    corpus/n: position totals, corpus-wide multiplicity counting
    (within-doc repeats included), and the shorter-than-n edge."""
    from collections import Counter

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.dedup import (
        duplicated_ngram_stats,
    )

    docs = [(i, " ".join(ws)) for i, ws in enumerate(corpus)]
    df = spark.createDataFrame(
        [Row(doc_id=i, source="s", text=t) for i, t in docs]
    )
    got = {r.doc_id: r for r in duplicated_ngram_stats(df, n=n).collect()}

    # brute force: Counter over every gram position in the corpus.
    # NOTE words('') -> [''] (one empty token), mirroring F.split.
    def toks(t):
        return t.lower().strip().split() if t.strip() else [""]

    grams = {
        i: [tuple(ws[p:p + n]) for p in range(len(ws) - n + 1)]
        for i, ws in ((i, toks(t)) for i, t in docs)
    }
    counts = Counter(g for gs in grams.values() for g in gs)
    for i, _t in docs:
        expect_total = len(grams[i])
        expect_dup = sum(1 for g in grams[i] if counts[g] >= 2)
        assert got[i].n_grams == expect_total
        assert got[i].n_dup_grams == expect_dup
        if expect_total == 0:
            assert got[i].dup_ratio is None
        else:
            assert got[i].dup_ratio == round(expect_dup / expect_total, 6)
