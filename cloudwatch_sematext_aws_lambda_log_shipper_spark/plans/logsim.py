"""Deterministic log-line synthesis from the `events` table + oracle-checked
parse-kernel queries.

The driver's correctness gate runs DuckDB SQL over the same parquet, so
the parse kernel (S6-S14) is exercised end-to-end by synthesizing the
reference's three message classes (JSON / structured / plain, plus the
Q4 corrupt class) from `events` rows with pure SQL-expressible string
ops, running the REAL kernel in Spark, and replicating the verified
golden semantics (FIXTURES.md A3) in the oracle SQL.

Mapping (m = event_id % 5):
  m=0  props JSON without a `message` key  -> Q3 fall-through to plain
  m=1  JSON log with message + requestId   -> JSON branch
  m=2  tab-structured line                 -> structured branch
  m=3  space-separated structured line     -> Q4 corrupt -> DLQ (dropped)
  m=4  plain text (sometimes containing 'error')
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import artifact_root
from ..operators.decode import gzip_b64_udf
from ..operators.parse import parse_log_events, split_dlq
from ..pipeline import run_batch
from ..sink import read_log_table, write_log_table
from .registry import load, query
from .synthcache import materialize

TS_LIT = "2024-01-01T10:00:00.000Z"
UUID_PREFIX = "00000000-0000-4000-8000-"
LOG_GROUP = "/aws/lambda/evt-gen"
LOG_STREAM = "2024/01/01/[9]abc123"


def synth_log_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events rows -> (awsRegion, logGroup, logStream, message),
    materialized once per source corpus (see plans/synthcache.py).

    Real pipelines read STORED records; regenerating per query both
    mismeasures the parse kernel and makes Catalyst inline the
    synthesis CASE into every derived-column reference (122 copies in
    log_top_errors's pre-fix plan — past janino's 64 KB codegen limit,
    dropping the parse stage to interpreted mode). The stored corpus
    scans in ~defaultParallelism splits, so no repartition is needed.
    """
    return materialize(
        spark, sf_dir, "log_events", lambda: _synth_log_events_plan(spark, sf_dir)
    )


def _synth_log_events_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual synthesis plan (build side of the cache).

    The test events.parquet is one unsplittable row group; the explicit
    repartition spreads the (compute-heavy, codegen'd but per-row
    expensive) synthesis across all cores — and sets the stored
    corpus's file count, so the cached scan parallelizes too.
    """
    n = spark.sparkContext.defaultParallelism
    events = load(spark, sf_dir, "events").repartition(n, "event_id")
    uid = F.col("user_id").cast("string")
    uuid = F.concat(F.lit(UUID_PREFIX), F.lpad(uid, 12, "0"))
    m = F.col("event_id") % 5
    message = (
        F.when(m == 0, F.col("props"))
        .when(
            m == 1,
            F.concat(
                F.lit('{"message":"'),
                F.col("event_type"),
                F.lit(' happened","requestId":"u'),
                uid,
                # residual NESTED user attribute: lands TYPED in the
                # variant attributes map (log_attributes_variant reads
                # it back through the sink)
                F.lit('","ctx":{"v":'),
                uid,
                F.lit(',"tags":["t'),
                (F.col("user_id") % 4).cast("string"),
                F.lit('"]}}'),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit(TS_LIT + "\t"), uuid, F.lit("\t"), F.col("event_type"),
                F.lit(" processed"),
            ),
        )
        .when(
            m == 3,
            F.concat(
                F.lit(TS_LIT + " "), uuid, F.lit(" "), F.col("event_type"),
                F.lit(" spaced"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("plain text for "),
                F.col("event_type"),
                F.when(F.col("value") > 150, F.lit(" error detected")).otherwise(
                    F.lit("")
                ),
            )
        )
    )
    return events.select(
        F.lit("us-east-1").alias("awsRegion"),
        F.lit(LOG_GROUP).alias("logGroup"),
        F.lit(LOG_STREAM).alias("logStream"),
        message.alias("message"),
    )


# The oracle replicates the golden parse semantics in pure SQL: branch
# selection, message extraction, Q4 exclusion, and checkLogError
# precedence (Q1) — including the configuration/timeout buckets even
# though these messages can't hit them, for faithfulness.
_ORACLE = f"""
WITH msgs AS (
  SELECT event_id % 5 AS m, event_type, value, user_id, props FROM events
), parsed AS (
  SELECT
    CASE
      WHEN m = 0 THEN props
      WHEN m = 1 THEN event_type || ' happened'
      WHEN m = 2 THEN event_type || ' processed'
      ELSE 'plain text for ' || event_type ||
           (CASE WHEN value > 150 THEN ' error detected' ELSE '' END)
    END AS message,
    CASE
      WHEN m = 1 THEN 'u' || CAST(user_id AS VARCHAR)
      WHEN m = 2 THEN '{UUID_PREFIX}' || lpad(CAST(user_id AS VARCHAR), 12, '0')
    END AS request_id
  FROM msgs
  WHERE m <> 3  -- Q4 corrupt class routed to DLQ, absent from clean output
), classified AS (
  SELECT
    request_id,
    CASE
      WHEN lower(message) LIKE '%error%'
        OR lower(message) LIKE '%module initialization error%'
        OR lower(message) LIKE '%unable to import module%'
        OR lower(message) LIKE '%task timed out%'
        OR lower(message) LIKE '%process exited before completing%'
      THEN 'error' ELSE 'debug' END AS severity,
    CASE
      WHEN lower(message) LIKE '%error%' THEN 'runtime'
      WHEN lower(message) LIKE '%module initialization error%'
        OR lower(message) LIKE '%unable to import module%' THEN 'configuration'
      WHEN lower(message) LIKE '%task timed out%'
        OR lower(message) LIKE '%process exited before completing%' THEN 'timeout'
    END AS error_type
  FROM parsed
)
SELECT severity, error_type, count(*) AS n,
       count(DISTINCT request_id) AS n_request_ids
FROM classified
GROUP BY severity, error_type
"""


@query("log_parse_severity", _ORACLE)
def log_parse_severity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full parse kernel (S6-S14) + DLQ split (S17) + aggregate.

    Scale: parse is narrow; the single groupBy shuffles 4 tiny grouped
    rows per partition after map-side partial aggregation — at 100 TB
    this stays scan-bound.
    """
    parsed = parse_log_events(synth_log_events(spark, sf_dir))
    clean, _dlq = split_dlq(parsed)
    return clean.groupBy(
        F.col("severity"), F.col("`error.type`").alias("error_type")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.col("`function.request.id`")).alias("n_request_ids"),
    )


_DISPATCH_ORACLE = """
WITH msgs AS (
  SELECT event_id % 5 AS m FROM events
)
SELECT CASE WHEN m = 1 THEN 'json'
            WHEN m = 2 THEN 'structured'
            ELSE 'plain' END AS branch,
       count(*) AS n
FROM msgs WHERE m <> 3
GROUP BY branch
"""


def synth_kinesis_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Kinesis-shaped records (base64(gzip(JSON envelope))),
    materialized once per source corpus (see plans/synthcache.py) —
    the gzip-encode pandas UDF is synthesis cost, not pipeline cost,
    and a stored corpus is what Kinesis actually hands the shipper."""
    return materialize(
        spark,
        sf_dir,
        "kinesis_records",
        lambda: _synth_kinesis_records_plan(spark, sf_dir),
    )


def _synth_kinesis_records_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events rows -> REAL Kinesis-shaped records (base64(gzip(JSON
    envelope))), built distributed: 5 log events per envelope, every
    10th envelope a CONTROL_MESSAGE, platform lines and Q4 lines mixed
    in — so the e2e query exercises S2-S9 + S17 under the oracle.

    Message class by event_id % 6:
      0 JSON log | 1 tab-structured (extra 4th tab part on every 3rd
      user -> exercises Q2 truncation under the oracle) | 2 plain
      (maybe 'error') | 3 space-separated Q4 corrupt -> DLQ |
      4 platform START -> dropped | 5 plain note
    """
    events = load(spark, sf_dir, "events")
    uid = F.col("user_id").cast("string")
    uuid = F.concat(F.lit(UUID_PREFIX), F.lpad(uid, 12, "0"))
    m = F.col("event_id") % 6
    g = F.floor(F.col("event_id") / 5)
    message = (
        F.when(
            m == 0,
            F.concat(
                F.lit('{"message":"'), F.col("event_type"),
                F.lit(' ok","requestId":"r'), uid, F.lit('"}'),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit(TS_LIT + "\t"), uuid, F.lit("\t"),
                F.col("event_type"), F.lit(" processed"),
                # Q2 class: text past the 3rd tab part must be DISCARDED
                # by the kernel (JS split('\t', 3) truncation semantics)
                F.when(F.col("user_id") % 3 == 0, F.lit("\tdiscarded tail"))
                .otherwise(F.lit("")),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("plain text for "), F.col("event_type"),
                F.when(F.col("value") > 150, F.lit(" error detected"))
                .otherwise(F.lit("")),
            ),
        )
        .when(
            m == 3,
            F.concat(F.lit(TS_LIT + " "), uuid, F.lit(" "),
                     F.col("event_type"), F.lit(" spaced")),
        )
        .when(m == 4, F.lit("START RequestId: abc Version: $LATEST"))
        .otherwise(F.concat(F.lit("just a note about "), F.col("event_type")))
    )
    envelopes = (
        events.select(
            g.alias("g"),
            F.struct(
                F.col("event_id").cast("string").alias("id"),
                F.lit(0).cast("long").alias("timestamp"),
                message.alias("message"),
            ).alias("le"),
        )
        .groupBy("g")
        .agg(F.sort_array(F.collect_list("le")).alias("logEvents"))
        .withColumn(
            "payload",
            F.to_json(
                F.struct(
                    F.when(F.col("g") % 10 == 0, F.lit("CONTROL_MESSAGE"))
                    .otherwise(F.lit("DATA_MESSAGE"))
                    .alias("messageType"),
                    F.concat(F.lit("/aws/lambda/fn-"), (F.col("g") % 3).cast("string"))
                    .alias("logGroup"),
                    F.concat(F.lit("2024/01/01/["), (F.col("g") % 5).cast("string"),
                             F.lit("]h")).alias("logStream"),
                    F.col("logEvents"),
                )
            ),
        )
    )
    # Explicit partition count: AQE would coalesce the tiny groupBy
    # output to one partition, serializing the gzip encode AND the
    # downstream gunzip/parse chain onto a single core.
    return envelopes.repartition(
        spark.sparkContext.defaultParallelism, "g"
    ).select(
        gzip_b64_udf(F.col("payload")).alias("data"),
        F.lit("us-east-1").alias("awsRegion"),
    )


_E2E_ORACLE = """
WITH ev AS (
  SELECT event_id, event_id % 6 AS m, event_id // 5 AS g,
         event_type, value, user_id
  FROM events
), kept AS (
  -- CONTROL envelopes (S5), platform lines (S9), Q4 corrupt (S17/DLQ)
  SELECT * FROM ev WHERE g % 10 <> 0 AND m NOT IN (3, 4)
), msgs AS (
  SELECT 'fn-' || CAST(g % 3 AS VARCHAR) AS fname,
    CAST(g % 5 AS VARCHAR) AS fversion,
    CASE
      WHEN m = 0 THEN event_type || ' ok'
      WHEN m = 1 THEN event_type || ' processed'
      WHEN m = 2 THEN 'plain text for ' || event_type ||
           (CASE WHEN value > 150 THEN ' error detected' ELSE '' END)
      ELSE 'just a note about ' || event_type
    END AS message,
    CASE WHEN m = 0 THEN 'r' || CAST(user_id AS VARCHAR)
         WHEN m = 1 THEN '{UUID_PREFIX}' || lpad(CAST(user_id AS VARCHAR), 12, '0')
    END AS request_id
  FROM kept
)
SELECT fname AS "function.name",
       fversion AS "function.version",
       CASE WHEN lower(message) LIKE '%error%' THEN 'error' ELSE 'debug' END
         AS severity,
       count(*) AS n,
       count(DISTINCT request_id) AS n_request_ids
FROM msgs
GROUP BY 1, 2, 3
""".replace("{UUID_PREFIX}", UUID_PREFIX)


@query("log_pipeline_e2e", _E2E_ORACLE)
def log_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: the entire hot path under the oracle — synthesize real
    gzip+base64 Kinesis records, then decode (S2-S4) -> CONTROL filter
    (S5) -> explode (S8) -> platform filter (S9) -> parse kernel
    (S6-S14) -> DLQ split (S17) -> aggregate.

    This is also the bench headline: it measures the gunzip pandas-UDF
    decode cost (the real per-byte cost at 100 TB), not just the parse
    kernel.

    Grouping by function.version puts the S7 lambda_version derivation
    (bracket extraction from logStream, JS substring parity) under the
    oracle too — the synth varies the bracket value per envelope.
    """
    clean, _dlq = run_batch(synth_kinesis_records(spark, sf_dir))
    return clean.groupBy(
        F.col("`function.name`"), F.col("`function.version`"), F.col("severity")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.col("`function.request.id`")).alias("n_request_ids"),
    )


_OBSERVE_ORACLE = """
WITH ev AS (
  SELECT event_id // 5 AS g FROM events
), grp AS (
  SELECT g, count(*) AS n FROM ev GROUP BY g
)
SELECT CAST(count(*) AS BIGINT) AS record_counter,
       CAST(SUM(n) AS BIGINT) AS log_event_counter
FROM grp WHERE g % 10 <> 0
"""


@query("log_observe_counters", _OBSERVE_ORACLE)
def log_observe_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 under the oracle: the reference's recordCounter /
    logEventCounter (shipper.js:117-137 — dead code there, live metrics
    here) surfaced as a one-row frame. The Observation rides the REAL
    pipeline plan (no extra pass — metrics accumulate during the same
    action), then the observed values are checked against the oracle's
    independent count of non-CONTROL envelopes and their events.
    """
    from pyspark.sql import Observation, Row

    from ..pipeline import parse_kinesis_records
    from ..sources.kinesis import read_kinesis_event_file  # noqa: F401

    obs = Observation()
    parsed = parse_kinesis_records(
        synth_kinesis_records(spark, sf_dir), observe=obs
    )
    parsed.count()  # one action materializes the pipeline + the metrics
    got = obs.get
    return spark.createDataFrame(
        [
            Row(
                record_counter=int(got["record_counter"]),
                log_event_counter=int(got["log_event_counter"]),
            )
        ]
    )


_ROUNDTRIP_ORACLE = """
WITH msgs AS (
  SELECT event_id % 5 AS m, event_type, value, props FROM events
), parsed AS (
  SELECT
    CASE
      WHEN m = 0 THEN props
      WHEN m = 1 THEN event_type || ' happened'
      WHEN m = 2 THEN event_type || ' processed'
      ELSE 'plain text for ' || event_type ||
           (CASE WHEN value > 150 THEN ' error detected' ELSE '' END)
    END AS message,
    -- only the structured branch (m=2) carries a parseable timestamp;
    -- undated rows land in the 1970-01-01 sentinel partition
    CASE WHEN m = 2 THEN DATE '2024-01-01' ELSE DATE '1970-01-01' END AS log_date
  FROM msgs
  WHERE m <> 3
)
SELECT log_date,
       CASE WHEN lower(message) LIKE '%error%' THEN 'error' ELSE 'debug' END
         AS severity,
       count(*) AS n
FROM parsed
GROUP BY log_date, severity
"""


@query("log_table_roundtrip", _ROUNDTRIP_ORACLE)
def log_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink S16 end-to-end: parse -> write date-partitioned parquet log
    table -> read back -> aggregate per partition.

    Scale: the write is the canonical 100 TB layout (partitioned by
    log_date, zstd parquet); the read-back aggregation gets partition
    pruning + map-side partial aggregation for free.
    """
    clean, _dlq = split_dlq(parse_log_events(synth_log_events(spark, sf_dir)))
    base = os.path.join(
        artifact_root("sink"), os.path.basename(os.path.normpath(sf_dir))
    )
    table = os.path.join(base, "logs")
    write_log_table(clean, table, mode="overwrite")
    return (
        read_log_table(spark, table)
        .groupBy("log_date", "severity")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query("log_parse_dispatch", _DISPATCH_ORACLE)
def log_parse_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way dispatch counts (S10): which branch each message lands in,
    reconstructed from output columns (attributes map only on JSON rows,
    request id format distinguishes structured)."""
    parsed = parse_log_events(synth_log_events(spark, sf_dir))
    clean, _ = split_dlq(parsed)
    branch = (
        F.when(F.col("attributes").isNotNull(), F.lit("json"))
        .when(F.col("`@timestamp`").isNotNull(), F.lit("structured"))
        .otherwise(F.lit("plain"))
    )
    return clean.groupBy(branch.alias("branch")).agg(F.count(F.lit(1)).alias("n"))


# the nested ctx attribute exists only on the json class (m=1); the
# oracle recomputes the expected typed values straight from events
_ATTR_VARIANT_ORACLE = """
SELECT 't' || CAST(user_id % 4 AS VARCHAR) AS tag,
       count(*) AS n,
       CAST(sum(user_id) AS BIGINT) AS sum_v
FROM events
WHERE event_id % 5 = 1
GROUP BY 1
"""


@query("log_attributes_variant", _ATTR_VARIANT_ORACLE)
def log_attributes_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant attributes end-to-end (SURVEY.md §1.5 option c): the synth
    json class carries a NESTED user attribute ctx={"v":<int>,
    "tags":[<str>]}; parse keeps it typed in the MAP<STRING,VARIANT>
    attributes column, the partitioned parquet sink round-trips it, and
    the read-back extracts the nested int and array element with typed
    variant_get — no string re-parsing anywhere.

    Scale: same narrow kernel + partitioned write as the roundtrip
    query; the variant extraction is codegen'd JVM work."""
    clean, _dlq = split_dlq(parse_log_events(synth_log_events(spark, sf_dir)))
    base = os.path.join(
        artifact_root("sink_attrs"), os.path.basename(os.path.normpath(sf_dir))
    )
    table = os.path.join(base, "logs")
    write_log_table(clean, table, mode="overwrite")
    ctx = F.element_at(F.col("attributes"), "ctx")
    return (
        read_log_table(spark, table)
        .select(
            F.try_variant_get(ctx, "$.tags[0]", "string").alias("tag"),
            F.try_variant_get(ctx, "$.v", "long").alias("v"),
        )
        .filter(F.col("tag").isNotNull())
        .groupBy("tag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v"))
    )


# Replay conservation: recovered rows re-enter the clean path with full
# parse semantics (severity from message content); permanently-corrupt
# rows stay in the DLQ. The oracle recomputes both sides from events.
_DLQ_REPLAY_ORACLE = """
WITH ev AS (
  SELECT event_id, event_type, value FROM events
), msgs AS (
  SELECT 'replay ' || event_type || ' ok' ||
         (CASE WHEN value > 150 THEN ' error' ELSE '' END) AS message
  FROM ev WHERE event_id % 7 <> 0
)
SELECT 'recovered_' ||
       (CASE WHEN lower(message) LIKE '%error%' THEN 'error' ELSE 'debug' END)
         AS outcome,
       count(*) AS n
FROM msgs
GROUP BY 1
UNION ALL
SELECT 'still_dlq' AS outcome, count(*) AS n
FROM ev WHERE event_id % 7 = 0
"""


@query("log_dlq_replay", _DLQ_REPLAY_ORACLE)
def log_dlq_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17's second half under the oracle: DLQ REPLAY. Synthesizes a
    DLQ table of decode-class rows — most carrying a VALID payload in
    _raw (the since-fixed-decoder-outage scenario replay exists for),
    every 7th carrying permanently garbage base64 — then runs
    replay_dlq and checks CONSERVATION: recovered rows re-enter the
    clean path with full parse semantics (severity re-derived from the
    recovered message content), unrecoverable rows remain in the DLQ,
    and nothing vanishes (sum of emitted counts == |events|).

    Scale: replay is the same narrow decode->parse chain as ingest over
    only the DLQ slice; the groupBy shuffles a handful of grouped rows.
    """
    from ..pipeline import replay_dlq

    # The DLQ table is STORED state by definition (it's what the replay
    # job reads back); materialize the synthesized one like the others.
    dlq = materialize(
        spark, sf_dir, "replay_dlq", lambda: _synth_replay_dlq_plan(spark, sf_dir)
    )
    # both branches feed one action below -> share one decode pass
    # (opt r15; see replay_dlq's materialize_parsed)
    recovered, still = replay_dlq(dlq, materialize_parsed=True)
    rec = recovered.groupBy(
        F.concat(F.lit("recovered_"), F.col("severity")).alias("outcome")
    ).agg(F.count(F.lit(1)).alias("n"))
    st = still.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("still_dlq").alias("outcome"), F.col("n")
    )
    return rec.unionByName(st)


def _synth_replay_dlq_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = spark.sparkContext.defaultParallelism
    events = load(spark, sf_dir, "events").repartition(n, "event_id")
    uid = F.col("user_id").cast("string")
    message = F.concat(
        F.lit('{"message":"replay '),
        F.col("event_type"),
        F.lit(" ok"),
        F.when(F.col("value") > 150, F.lit(" error")).otherwise(F.lit("")),
        F.lit('","requestId":"x'),
        uid,
        F.lit('"}'),
    )
    payload = F.to_json(
        F.struct(
            F.lit("DATA_MESSAGE").alias("messageType"),
            F.lit(LOG_GROUP).alias("logGroup"),
            F.lit(LOG_STREAM).alias("logStream"),
            F.array(
                F.struct(
                    F.col("event_id").cast("string").alias("id"),
                    F.lit(0).cast("long").alias("timestamp"),
                    message.alias("message"),
                )
            ).alias("logEvents"),
        )
    )
    data = F.when(
        F.col("event_id") % 7 == 0, F.lit("!permanently-corrupt!")
    ).otherwise(gzip_b64_udf(payload))
    null_str = F.lit(None).cast("string")
    # decode-class DLQ rows, exactly the shape parse_kinesis_records
    # lands for decode failures (the parse kernel's output for the
    # NULL-message row explode_log_events emits per decode error)
    return events.select(
        null_str.alias("function.name"),
        null_str.alias("function.version"),
        null_str.alias("@timestamp"),
        null_str.alias("function.request.id"),
        null_str.alias("message"),
        F.lit(None).cast("map<string,variant>").alias("attributes"),
        F.lit("us-east-1").alias("region"),
        F.lit("lambda").alias("type"),
        F.lit("debug").alias("severity"),
        null_str.alias("error.type"),
        F.lit(True).alias("is_corrupt"),
        data.alias("_raw"),
    )


_TOP_ERRORS_ORACLE = """
WITH msgs AS (
  SELECT event_id % 5 AS m, event_type, value, props FROM events
), parsed AS (
  SELECT
    CASE
      WHEN m = 0 THEN props
      WHEN m = 1 THEN event_type || ' happened'
      WHEN m = 2 THEN event_type || ' processed'
      ELSE 'plain text for ' || event_type ||
           (CASE WHEN value > 150 THEN ' error detected' ELSE '' END)
    END AS message
  FROM msgs WHERE m <> 3
), err AS (
  SELECT message FROM parsed WHERE lower(message) LIKE '%error%'
), counts AS (
  SELECT message, count(*) AS n FROM err GROUP BY message
)
SELECT message, CAST(n AS BIGINT) AS n,
       row_number() OVER (ORDER BY n DESC, message) AS rnk
FROM counts
QUALIFY rnk <= 5
"""


@query("log_top_errors", _TOP_ERRORS_ORACLE)
def log_top_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's canonical downstream question — which error
    messages dominate? — answered over the REAL parse kernel's output:
    synthesize the corpus, run decode-free parse + classify, keep
    severity='error' rows, count per message, window-rank the top 5.

    Scale: the top-5 is taken FIRST with orderBy+limit — a distributed
    TakeOrderedAndProject (per-partition heaps, no global sort) — so
    the rank window only ever sees <= 5 rows. Ranking before limiting
    would instead sort EVERY distinct error message in one partition
    (WindowExec with no PARTITION BY), which breaks the day a deploy
    starts templating unique ids into error strings; the groupBy is
    map-side combined either way."""
    from pyspark.sql import Window

    clean, _dlq = split_dlq(parse_log_events(synth_log_events(spark, sf_dir)))
    counts = (
        clean.filter(F.col("severity") == "error")
        .groupBy("message")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), "message").limit(5)
    w = Window.orderBy(F.col("n").desc(), "message")
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .select("message", F.col("n").cast("long").alias("n"), "rnk")
    )


_ROLLUP_MV_ORACLE = """
WITH msgs AS (
  SELECT event_id % 5 AS m, event_type, value, props FROM events
), parsed AS (
  SELECT
    CASE
      WHEN m = 0 THEN props
      WHEN m = 1 THEN event_type || ' happened'
      WHEN m = 2 THEN event_type || ' processed'
      ELSE 'plain text for ' || event_type ||
           (CASE WHEN value > 150 THEN ' error detected' ELSE '' END)
    END AS message,
    CASE WHEN m = 2 THEN DATE '2024-01-01' ELSE DATE '1970-01-01' END AS log_date
  FROM msgs
  WHERE m <> 3
)
SELECT log_date,
       CASE WHEN lower(message) LIKE '%error%' THEN 'error' ELSE 'debug' END
         AS severity,
       count(*) AS n
FROM parsed
GROUP BY log_date, severity
"""


@query("log_rollup_incremental", _ROLLUP_MV_ORACLE)
def log_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance under the oracle: the clean parse
    output lands in the log table as TWO micro-batches with
    maintain_rollup run after each, and the final rollup — built
    purely incrementally, never from a full-table aggregate — must
    equal the oracle's one-shot aggregation over everything. Exercises
    fingerprint change detection, per-date dynamic partition
    overwrite, and manifest persistence end-to-end.

    Scale: each maintain pass scans only the dates the new batch
    touched (partition-pruned, map-side combined) and overwrites only
    those rollup slices — O(arrived data), not O(table)."""
    import shutil

    from ..control import maintain_rollup

    clean, _dlq = split_dlq(parse_log_events(synth_log_events(spark, sf_dir)))
    base = os.path.join(
        artifact_root("sink"), os.path.basename(os.path.normpath(sf_dir))
    )
    table = os.path.join(base, "rollup_src")
    rollup = os.path.join(base, "rollup_mv")
    for p in (table, rollup):
        shutil.rmtree(p, ignore_errors=True)
    halves = F.pmod(F.crc32(F.coalesce(F.col("message"), F.lit(""))), F.lit(2))
    # opt r15 (guide §5): the two half-batch writes each replayed the
    # full decode+parse chain (the gunzip Arrow UDF twice over the
    # corpus — the streaming shipper's r14 defect in batch form);
    # persist the parsed frame once, both writes filter cached blocks.
    clean = clean.persist()
    try:
        write_log_table(clean.filter(halves == 0), table, batch_id=0)
        maintain_rollup(spark, table, rollup)
        write_log_table(clean.filter(halves == 1), table, batch_id=1)
        maintain_rollup(spark, table, rollup)
    finally:
        clean.unpersist()
    return spark.read.parquet(rollup).select(
        "log_date", "severity", F.col("n").cast("long").alias("n")
    )


_TEMPLATES_ORACLE = r"""
WITH msgs AS (
  SELECT event_id % 5 AS m, event_type, value, props FROM events
), parsed AS (
  SELECT
    CASE
      WHEN m = 0 THEN props
      WHEN m = 1 THEN event_type || ' happened'
      WHEN m = 2 THEN event_type || ' processed'
      ELSE 'plain text for ' || event_type ||
           (CASE WHEN value > 150 THEN ' error detected' ELSE '' END)
    END AS message
  FROM msgs WHERE m <> 3
), templ AS (
  SELECT regexp_replace(
           regexp_replace(message,
             '[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}',
             '<uuid>', 'g'),
           '[0-9]+(\.[0-9]+)?', '<num>', 'g') AS template,
         message
  FROM parsed
)
SELECT template,
       count(*) AS n,
       count(DISTINCT message) AS n_variants,
       min(message) AS example
FROM templ
GROUP BY template
ORDER BY n DESC, template
LIMIT 10
"""


@query("log_templates", _TEMPLATES_ORACLE)
def log_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log template mining (the Drain-family problem, He et al. 2017,
    in its deterministic masking form): collapse variable fragments —
    UUIDs first, then numbers — into placeholders, so the million
    distinct raw lines fold into their handful of generating templates
    with per-template volume, variant cardinality, and an example.
    This is THE operation a log platform runs above the parse kernel:
    alert on template volume, not raw-string volume.

    Scale: masking is two codegen'd regexp_replace projections (narrow,
    no Python); the aggregate shuffles one row per (template, message)
    for the distinct count, bounded by variant cardinality, not event
    count; top-10 is TakeOrderedAndProject.
    """
    clean, _dlq = split_dlq(parse_log_events(synth_log_events(spark, sf_dir)))
    uuid_re = (
        "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
        "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"
    )
    template = F.regexp_replace(
        F.regexp_replace(F.col("message"), uuid_re, "<uuid>"),
        r"[0-9]+(\.[0-9]+)?",
        "<num>",
    ).alias("template")
    return (
        clean.select(template, "message")
        .groupBy("template")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col("message")).alias("n_variants"),
            F.min("message").alias("example"),
        )
        .orderBy(F.col("n").desc(), "template")
        .limit(10)
    )


# Multi-function structured corpus for the log-table z-order layout:
# every events row becomes one structured line whose timestamp is the
# row's real ts (ms precision — both engines ms-floor for membership
# parity) and whose logGroup varies per row, so the parsed table gets a
# genuinely clustered (`@timestamp`, `function.name`) key space.
_LOG_ZORDER_ORACLE = """
SELECT severity, count(*) AS n
FROM (
  SELECT CASE WHEN lower(event_type || ' processed') LIKE '%error%'
              THEN 'error' ELSE 'debug' END AS severity
  FROM events
  WHERE user_id % 8 = 3
    AND date_trunc('millisecond', ts)
        BETWEEN TIMESTAMP '2024-01-08 00:00:00'
            AND TIMESTAMP '2024-01-22 00:00:00'
)
GROUP BY severity
"""


@query("log_zorder_scan", _LOG_ZORDER_ORACLE)
def log_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ordered LOG table: cluster on (`@timestamp` numeric,
    `function.name` hash-encoded string) — the log table's natural keys
    — and run the canonical ops query "errors for function X in a time
    window". The string dim uses the xxhash64 cell encoding
    (operators/layout.py "hash" kind): the equality predicate pins that
    dim to ONE cell driver-side, intersects with the time range's cell
    span, and lands as a `z_bucket IN (...)` PartitionFilter before the
    residual (exact) predicates run.

    Scale: at 100 TB this reads ~|window|/|span| x 1/2^min(bits,log2 n_fns)
    of the table's files; a date-only layout reads every function's
    files in the window, ~8x more here. Write cost is the same single
    range shuffle as any clustered write.
    """
    import datetime as _dt

    from ..operators.layout import (
        read_zorder_meta,
        write_zordered,
        zorder_box_filter,
    )
    from .synthcache import materialize_dir

    def _builder() -> DataFrame:
        n = spark.sparkContext.defaultParallelism
        events = load(spark, sf_dir, "events").repartition(n, "event_id")
        uid = F.col("user_id").cast("string")
        uuid = F.concat(F.lit(UUID_PREFIX), F.lpad(uid, 12, "0"))
        msg = F.concat(
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"),
            F.lit("\t"), uuid, F.lit("\t"),
            F.col("event_type"), F.lit(" processed"),
        )
        raw = events.select(
            F.lit("us-east-1").alias("awsRegion"),
            F.concat(
                F.lit("/aws/lambda/fn-"),
                (F.col("user_id") % 8).cast("string"),
            ).alias("logGroup"),
            F.lit(LOG_STREAM).alias("logStream"),
            msg.alias("message"),
        )
        clean, _dlq = split_dlq(parse_log_events(raw))
        return clean.select(
            F.col("`@timestamp`").cast("timestamp").alias("@timestamp"),
            F.col("`function.name`").alias("function.name"),
            "severity",
        )

    path = materialize_dir(
        spark,
        sf_dir,
        "log_zorder",
        builder=_builder,
        writer=lambda df, p: write_zordered(
            df, p, ["@timestamp", "function.name"],
            bits_per_dim=8, n_buckets=64,
        ),
    )
    meta = read_zorder_meta(path)
    t = spark.read.parquet(path)
    # Timezone-aware: naive .timestamp() interprets the wall time in the
    # HOST zone, while the write-side cell math is UTC-epoch (session tz
    # pinned UTC) — on a non-UTC host the box would shift by the offset
    # and could break the bucket superset guarantee.
    utc = _dt.timezone.utc
    lo = _dt.datetime(2024, 1, 8, tzinfo=utc)
    hi = _dt.datetime(2024, 1, 22, tzinfo=utc)
    pred = zorder_box_filter(
        meta,
        box={"@timestamp": (lo.timestamp(), hi.timestamp())},
        eq={"function.name": "fn-3"},
        spark=spark,
        residual_box={"@timestamp": (lo, hi)},
    )
    return t.filter(pred).groupBy("severity").agg(
        F.count(F.lit(1)).alias("n")
    )


_MULTILINE_ORACLE = """
WITH lines AS (
  SELECT 'stream-' || CAST(user_id % 4 AS VARCHAR) AS stream,
         event_id * 4 + i AS line_no,
         CASE WHEN i = 0
              THEN event_type || ' failed for user ' || CAST(user_id AS VARCHAR)
              ELSE '  at frame_' || CAST(i AS VARCHAR) END AS line,
         i = 0 AS is_start
  FROM (SELECT event_id, user_id, event_type,
               unnest(generate_series(0, event_id % 3)) AS i
        FROM events)
  WHERE NOT (i = 0 AND event_id < 4)
), isl AS (
  SELECT stream, line_no, line, is_start,
         SUM(CASE WHEN is_start THEN 1 ELSE 0 END)
           OVER (PARTITION BY stream ORDER BY line_no) AS evt
  FROM lines
)
SELECT stream, CAST(evt AS BIGINT) AS event_no,
       max(CASE WHEN is_start THEN line END) AS head,
       string_agg(line, chr(10) ORDER BY line_no) AS block,
       count(*) AS n_lines,
       evt = 0 AS orphan
FROM isl GROUP BY stream, evt
"""


@query("log_multiline_reassembly", _MULTILINE_ORACLE)
def log_multiline_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-line event reassembly (operators/multiline.py): stack-
    trace-shaped corpora (a head line + 0-2 indented continuation
    frames per event, streams cut mid-trace to exercise the orphan
    path) stitched back into logical events by the per-stream
    lag-islands window. The oracle rebuilds every block byte-for-byte
    — head selection, ordered newline join, orphan flagging.

    Scale: windows partition by log stream (CloudWatch's ordering
    unit); no global sort; the reassembly groupBy shuffles on
    (stream, island).
    """
    from ..operators.multiline import reassemble_lines

    ev = load(spark, sf_dir, "events")
    lines = (
        ev.select(
            F.concat(F.lit("stream-"), (F.col("user_id") % 4).cast("string"))
            .alias("logStream"),
            "event_id",
            "user_id",
            "event_type",
            F.explode(
                F.sequence(F.lit(0), (F.col("event_id") % 3).cast("int"))
            ).alias("i"),
        )
        .filter(~((F.col("i") == 0) & (F.col("event_id") < 4)))
        .select(
            "logStream",
            (F.col("event_id") * 4 + F.col("i")).alias("line_no"),
            F.when(
                F.col("i") == 0,
                F.concat(
                    F.col("event_type"),
                    F.lit(" failed for user "),
                    F.col("user_id").cast("string"),
                ),
            )
            .otherwise(
                F.concat(F.lit("  at frame_"), F.col("i").cast("string"))
            )
            .alias("line"),
        )
    )
    out = reassemble_lines(
        lines, is_start=~F.col("line").startswith("  ")
    )
    return out.select(
        F.col("logStream").alias("stream"),
        "event_no",
        "head",
        "block",
        "n_lines",
        "orphan",
    )


_TEMPLATE_DRIFT_ORACLE = r"""
WITH msgs AS (
  SELECT event_id, event_id % 5 AS m, event_type, value, props FROM events
), parsed AS (
  SELECT event_id % 2 = 0 AS in_a,
    CASE
      WHEN m = 0 THEN props
      WHEN m = 1 THEN event_type || ' happened'
      WHEN m = 2 THEN event_type || ' processed'
      ELSE 'plain text for ' || event_type ||
           (CASE WHEN value > 150 THEN ' error detected' ELSE '' END)
    END AS message
  FROM msgs WHERE m <> 3
), templ AS (
  SELECT in_a,
         regexp_replace(
           regexp_replace(message,
             '[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}',
             '<uuid>', 'g'),
           '[0-9]+(\.[0-9]+)?', '<num>', 'g') AS template
  FROM parsed
), c AS (
  SELECT template,
         SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS n_b
  FROM templ GROUP BY template
), tot AS (
  SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb,
         count(*) AS k
  FROM c
)
SELECT template, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(round(
         ((n_a + 1.0) / (ta + k) - (n_b + 1.0) / (tb + k))
         * ln(((n_a + 1.0) * (tb + k)) / ((n_b + 1.0) * (ta + k))),
       6) AS DOUBLE) AS psi_term
FROM c, tot
"""


@query("log_template_drift", _TEMPLATE_DRIFT_ORACLE)
def log_template_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-distribution drift between two log windows (population
    stability index, the standard drift score): per template, PSI term
    (p_a - p_b) * ln(p_a / p_b) with Laplace +1 smoothing — a template
    whose share collapses or explodes between windows dominates the
    score, which is how an ops platform catches "the app started
    logging something new" before any threshold alert fires. Windows
    here are the deterministic event-parity split; production swaps in
    time ranges.

    Determinism: counts and totals are integers; each PSI term is ONE
    fixed-order float expression over them (the ln sees a ratio of
    exact integer products), rounded to 6 — identical in any IEEE
    engine, no cross-term summation anywhere.

    Scale: template masking is two codegen'd regexp_replace
    projections; the aggregate is bounded by template cardinality; the
    totals broadcast as a one-row scalar.
    """
    ev = load(spark, sf_dir, "events")
    m = F.col("event_id") % 5
    message = (
        F.when(m == 0, F.col("props"))
        .when(m == 1, F.concat(F.col("event_type"), F.lit(" happened")))
        .when(m == 2, F.concat(F.col("event_type"), F.lit(" processed")))
        .otherwise(
            F.concat(
                F.lit("plain text for "),
                F.col("event_type"),
                F.when(F.col("value") > 150, F.lit(" error detected"))
                .otherwise(F.lit("")),
            )
        )
    )
    uuid_re = (
        "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
        "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"
    )
    template = F.regexp_replace(
        F.regexp_replace(message, uuid_re, "<uuid>"),
        r"[0-9]+(\.[0-9]+)?",
        "<num>",
    )
    templ = ev.filter(m != 3).select(
        (F.col("event_id") % 2 == 0).alias("in_a"), template.alias("template")
    )
    c = templ.groupBy("template").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1)).alias("n_b"),
    )
    tot = c.agg(
        F.sum("n_a").cast("long").alias("_ta"),
        F.sum("n_b").cast("long").alias("_tb"),
        F.count(F.lit(1)).alias("_k"),
    )
    j = c.crossJoin(F.broadcast(tot))
    pa = (F.col("n_a") + F.lit(1.0)) / (F.col("_ta") + F.col("_k"))
    pb = (F.col("n_b") + F.lit(1.0)) / (F.col("_tb") + F.col("_k"))
    lr = F.log(
        ((F.col("n_a") + F.lit(1.0)) * (F.col("_tb") + F.col("_k")))
        / ((F.col("n_b") + F.lit(1.0)) * (F.col("_ta") + F.col("_k")))
    )
    return j.select(
        "template",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round((pa - pb) * lr, 6).alias("psi_term"),
    )
