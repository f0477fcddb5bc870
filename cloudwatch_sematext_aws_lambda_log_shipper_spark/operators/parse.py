"""The parse kernel: raw log message -> typed log record (S6-S14).

Re-expresses parseLog/splitStructuredLog/checkLogError
(shipper.js:50-112, :31-49) as a single pure DataFrame transform shared
by batch and streaming. The three-way dispatch (JSON / structured /
plain) is one ``when`` chain over a once-computed Variant column — no
Python in the hot path, fully WholeStageCodegen. Each message is
JSON-parsed once (``try_parse_json``); JSON-branch rows are parsed twice
more, into the string map the override columns read and the variant
map behind ``attributes``. The kernel's Column expressions are built
once per process (``built_once``); each call only applies them.

Verified bug-compatibility decisions (SURVEY.md §1.4):
  Q1 replicated — severity precedence: generic 'error' wins, so
     'module initialization error' -> error.type='runtime'.
  Q2 replicated — tab truncation: text after the 3rd tab-part discarded
     (JS split('\\t', 3) semantics).
  Q3 replicated — valid JSON without a *string* `message` falls through
     to the structured/plain branches (JS TypeError-in-try behavior);
     the raw JSON text ships as `message`.
  Q4 fixed      — structured-regex match with <3 tab parts crashed the
     whole batch in the reference (shipper.js:91 throw ->
     handler catch); here such rows get is_corrupt=true and route to
     the DLQ sink instead (the reference's own TODO, shipper.js:158).

JSON-branch condition parity: JS enters the JSON branch iff JSON.parse
succeeds AND the resulting value has a string `message` (otherwise
`log.message.match` throws inside the try and falls through). Spark:
``try_parse_json(msg) IS NOT NULL AND
schema_of_variant(try_variant_get(v,'$.message')) == 'STRING'``.
try_parse_json, like JS JSON.parse, rejects single-quoted JSON that
from_json's lenient parser would accept — dispatch parity verified in
tests.

Dynamic user-JSON keys (the spread at shipper.js:80): typed core columns
+ residual ``attributes MAP<STRING,VARIANT>`` (SURVEY.md §1.5 option c:
Spark 4 variant values preserve nested user-JSON types — objects,
arrays, numbers — end-to-end through the parquet sink, instead of
stringifying them). The JS spread lets user keys named
'function.name'/'function.version'/'@timestamp'/'function.request.id'
override the derived values (spread comes after them in the object
literal) while region/type/severity literals win over the spread — both
replicated; overrides land in STRING core columns, so they read from
the stringified map (same JS coercion as the reference's template
strings). Deviation: a user key 'error' lands in ``attributes`` instead
of an untyped 'error' column (our schema types error.type).

Scale: the kernel is narrow (zero shuffles); at 100 TB it is
embarrassingly parallel and bounded by scan + codegen throughput.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import (
    STRUCTURED_LOG_PATTERN,
    built_once,
    is_platform_message,
    lambda_name,
    lambda_version,
    severity_columns,
)

# Keys consumed by the reference (destructured or overwritten by literals
# after the spread) — everything else is a residual user attribute.
_RESERVED_JSON_KEYS = [
    "requestId",      # destructured, shipper.js:74
    "timestamp",      # destructured, shipper.js:74
    "message",        # promoted to the message column
    "region",         # literal wins, shipper.js:81
    "type",           # literal wins, shipper.js:82
    "severity",       # literal wins, shipper.js:83
    # spread-overrides of earlier literal keys (replicated via coalesce):
    "function.name",
    "function.version",
    "@timestamp",
    "function.request.id",
]


def _variant_str(v: Column, path: str) -> Column:
    return F.try_variant_get(v, path, "string")


def parse_log_events(events: DataFrame) -> DataFrame:
    """(awsRegion, logGroup, logStream, message) -> log records.

    Output: LOG_SCHEMA columns plus the input message as _raw for DLQ
    context. Platform messages (S9) are dropped; Q4-class rows are kept
    with is_corrupt=true (route with :func:`split_dlq`).

    An optional ``_raw`` input column (``explode_log_events`` emits it)
    is the ``_raw`` of a NULL-message row: a decode-error record carries
    its base64 payload there.
    """
    k = _parse_exprs()
    raw = k["raw_or_message"] if "_raw" in events.columns else k["message_raw"]
    return (
        events.filter(k["keep"])
        # Each dispatch input is its own projected column, computed once
        # per row and read by the columns above it.
        .select(k["star"], *k["inputs"])
        .select(k["star"], k["json_ok"])
        .select(k["star"], *k["dispatch"])
        .select(*k["out"], raw)
    )


@built_once
def _parse_exprs() -> dict:
    """parse_log_events' filter, dispatch columns and output projection,
    and split_dlq's predicates."""
    msg = F.col("message")

    # Null messages are routed to the DLQ (is_corrupt=true) rather than
    # silently dropped — consistent with the engine's fix-Q4-via-DLQ
    # stance (the reference crashed the batch on a null message).
    keep = msg.isNull() | ~is_platform_message(msg)

    vcol = F.col("_v")
    p = F.col("_parts")
    json_ok = vcol.isNotNull() & (
        F.expr("schema_of_variant(try_variant_get(_v, '$.message'))") == "STRING"
    )
    structured = msg.rlike(STRUCTURED_LOG_PATTERN)
    branch_col = (
        F.when(msg.isNull(), F.lit("corrupt"))
        .when(F.col("_json_ok"), F.lit("json"))
        .when(structured & (F.size(p) >= 3), F.lit("structured"))
        .when(structured, F.lit("corrupt"))  # Q4 class
        .otherwise(F.lit("plain"))
    )
    # String map of the user JSON, read only by the JSON branch's override
    # columns, so only JSON-branch rows parse it.
    user_map_col = F.when(F.col("_json_ok"), F.from_json(msg, "map<string,string>"))

    user_map = F.col("_user_map")
    # Residual attribute map for the JSON branch: variant values keep
    # nested objects/arrays/numbers TYPED all the way to the sink (the
    # string _user_map above exists only for the override columns, which
    # are strings anyway).
    attr_map = F.map_filter(
        F.from_json(msg, "map<string,variant>"),
        lambda k, _: ~k.isin(_RESERVED_JSON_KEYS),
    )

    def user_override(key: str, derived: Column) -> Column:
        """JS spread semantics: a user key PRESENT in the JSON overrides the
        derived value even when its value is null ({"function.name":null}
        ships name=null). map_contains_key gate, not coalesce."""
        return F.when(
            F.map_contains_key(user_map, F.lit(key)),
            F.element_at(user_map, key),
        ).otherwise(derived)

    branch = F.col("_branch")
    message_out = (
        F.when(branch == "json", _variant_str(vcol, "$.message"))
        .when(branch == "structured", F.element_at(p, 3))
        .when(branch == "plain", msg)
        .otherwise(F.lit(None).cast("string"))  # corrupt: JS value was undefined
    )
    timestamp_out = F.when(
        branch == "json",
        user_override("@timestamp", _variant_str(vcol, "$.timestamp")),
    ).when(branch.isin("structured", "corrupt"), F.element_at(p, 1))
    request_id_out = F.when(
        branch == "json",
        user_override("function.request.id", _variant_str(vcol, "$.requestId")),
    ).when(
        branch.isin("structured", "corrupt"),
        F.when(F.size(p) >= 2, F.element_at(p, 2)),
    )

    name_derived = lambda_name(F.col("logGroup"))
    version_derived = lambda_version(F.col("logStream"))
    severity, error_type = severity_columns(message_out)

    corrupt = F.col("is_corrupt")
    return {
        "keep": keep,
        "star": F.col("*"),
        "inputs": [F.try_parse_json(msg).alias("_v"), F.split(msg, "\t").alias("_parts")],
        "json_ok": json_ok.alias("_json_ok"),
        "dispatch": [user_map_col.alias("_user_map"), branch_col.alias("_branch")],
        "out": [
            F.when(branch == "json", user_override("function.name", name_derived))
            .otherwise(name_derived)
            .alias("function.name"),
            F.when(branch == "json", user_override("function.version", version_derived))
            .otherwise(version_derived)
            .alias("function.version"),
            timestamp_out.alias("@timestamp"),
            request_id_out.alias("function.request.id"),
            message_out.alias("message"),
            F.when(branch == "json", attr_map).alias("attributes"),
            F.col("awsRegion").alias("region"),
            F.lit("lambda").alias("type"),
            F.when(branch == "corrupt", F.lit("debug")).otherwise(severity).alias("severity"),
            F.when(branch == "corrupt", F.lit(None).cast("string"))
            .otherwise(error_type)
            .alias("error.type"),
            (branch == "corrupt").alias("is_corrupt"),
        ],
        "raw_or_message": F.coalesce(msg, F.col("_raw")).alias("_raw"),
        "message_raw": msg.alias("_raw"),
        "corrupt": corrupt,
        "clean": ~corrupt,
    }


def split_dlq(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Route corrupt rows to a dead-letter frame (S17 done right).

    Returns (clean, dlq). clean drops the engine-internal _raw column;
    dlq keeps it for replay.
    """
    k = _parse_exprs()
    clean = parsed.filter(k["clean"]).drop("_raw")
    dlq = parsed.filter(k["corrupt"])
    return clean, dlq
