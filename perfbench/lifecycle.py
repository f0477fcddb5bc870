"""The benchmark's drive of the engine: ship, query, maintain, check.

Everything here calls the engine through its public modules
(``streaming.pipeline``, ``sink``, ``transport``, ``control``,
``catalog``, ``pipeline``) and checks what comes out against the
generator's truth (``truth.json``) or against a Python replay of the
query over the rows the table holds at that moment.
"""

from __future__ import annotations

import base64
import json
import os
import re
import shutil
import statistics
import time
import traceback
import zlib
from collections import Counter, defaultdict
from datetime import datetime, timedelta

from gen import LAST_DAY, TOKEN_RE, UNDATED

# A nightly maintenance the day after the corpus, keeping three days.
TODAY = LAST_DAY + timedelta(days=1)
RETENTION_DAYS = 3
CUTOFF = (TODAY - timedelta(days=RETENTION_DAYS)).isoformat()

# Micro-batch size: one generated file (maxFilesPerTrigger stands in for
# the reference's BATCH_SIZE).
MAX_FILES_PER_TRIGGER = 1

QUERIES = (
    "severity_by_function",
    "top_errors",
    "windowed_severity_counts",
    "sessionized_request_stats",
    "correlate_error_context",
    "replay_dlq",
)

# Repetitions inside one lifecycle, against host noise: passes of the
# query set per phase, and tables maintained (the shipped one + copies):
# the first MAINTAIN_WARM on copies, untimed, while the JVM still compiles
# the maintenance path, then MAINTAIN_TIMED timed.
QUERY_PASSES = 3
MAINTAIN_WARM = 2
MAINTAIN_TIMED = 5
MAINTAIN_COPIES = MAINTAIN_WARM + MAINTAIN_TIMED

_TOKEN = re.compile(TOKEN_RE)


def get_session(extra_conf: dict | None = None, master: str | None = None):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.config import EngineConfig
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.session import get_spark

    conf = {"spark.sql.streaming.numRecentProgressUpdates": "10000"}
    conf.update(extra_conf or {})
    return get_spark("perfbench", config=EngineConfig(extra_spark_conf=conf),
                     master=master)


# --------------------------------------------------------------- ship


def drain(spark, input_dir: str, out_dir: str, bulk_url: str | None = None) -> dict:
    """One ``availableNow`` drain of the backlog into a fresh table.
    Returns the wall time and the per-micro-batch progress."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.streaming.pipeline import (
        StreamingShipper,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.transport import (
        HttpBulkTransport,
    )

    shipper = StreamingShipper(
        spark, input_dir, os.path.join(out_dir, "table"),
        os.path.join(out_dir, "ckpt"),
        max_files_per_trigger=MAX_FILES_PER_TRIGGER, bulk=bulk_url is not None,
    )
    if bulk_url is not None:
        shipper.sink.transport_factory = lambda: HttpBulkTransport(bulk_url)
    t0 = time.perf_counter()
    q = shipper.start(available_now=True)
    q.awaitTermination()
    wall = time.perf_counter() - t0
    failed = q.exception() is not None
    batches = [p for p in q.recentProgress if "addBatch" in (p.durationMs or {})]
    return {
        "wall_s": wall,
        "failed": failed,
        "batch_s": [p.durationMs["triggerExecution"] / 1000 for p in batches],
        "durations": [dict(p.durationMs) for p in batches],
        "observed": sum(1 for p in batches if p.observedMetrics),
        "table": os.path.join(out_dir, "table"),
    }


# --------------------------------------------------------------- tables


class Table:
    """The shipped log table + DLQ under one sink directory. Schemas are
    pinned at the first read so a table that maintenance emptied still
    reads (as zero rows)."""

    def __init__(self, spark, base: str):
        self.spark = spark
        self.base = base
        self.logs_path = os.path.join(base, "logs")
        self.dlq_path = os.path.join(base, "dlq")
        self.rollup_path = os.path.join(base, "rollup")
        self._schemas = {}

    def _read(self, path: str):
        schema = self._schemas.get(path)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(path)
        self._schemas.setdefault(path, df.schema)
        return df

    def logs(self):
        return self._read(self.logs_path)

    def dlq(self):
        return self._read(self.dlq_path)


# --------------------------------------------------------------- queries


def run_queries(table: Table) -> tuple[dict, dict, list]:
    """The fixed query set over the table as it stands. Returns
    ({name: seconds}, {name: result}, [failed query names]); a query that
    raises is counted as failed and its result is None."""
    from pyspark.sql import functions as F

    from cloudwatch_sematext_aws_lambda_log_shipper_spark import catalog
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.pipeline import replay_dlq
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.streaming.pipeline import (
        correlate_error_context,
        sessionized_request_stats,
        windowed_severity_counts,
    )

    spark = table.spark

    def severity_by_function():
        table.logs().createOrReplaceTempView("logs")
        return [tuple(r) for r in catalog.sql(
            spark,
            "SELECT `function.name`, severity, `error.type`, count(*) "
            "FROM logs GROUP BY 1, 2, 3",
        ).collect()]

    def top_errors():
        table.logs().createOrReplaceTempView("logs")
        return [tuple(r) for r in catalog.sql(
            spark,
            f"SELECT regexp_replace(message, '{TOKEN_RE}', '') AS m, "
            "count(*) AS n FROM logs WHERE severity = 'error' "
            "GROUP BY 1 ORDER BY n DESC, m LIMIT 10",
        ).collect()]

    def windowed():
        return [tuple(r) for r in windowed_severity_counts(table.logs()).select(
            F.unix_micros("window_start"), "severity", "n").collect()]

    def sessionized():
        return [tuple(r) for r in sessionized_request_stats(table.logs()).select(
            "function_name", "request_id", F.unix_micros("session_start"),
            F.unix_micros("session_end"), "n_events", "n_errors").collect()]

    def correlate():
        r = correlate_error_context(table.logs()).agg(
            F.count(F.lit(1)), F.countDistinct("request_id"),
            F.sum(F.length("context_message")),
        ).collect()[0]
        return (r[0], r[1], r[2] or 0)

    def replay():
        shipped = table.dlq().drop("log_date", "ingest_batch")
        recovered, still = replay_dlq(shipped)
        return (recovered.count(), still.count())

    fns = dict(zip(QUERIES, (severity_by_function, top_errors, windowed,
                             sessionized, correlate, replay)))
    times, results, failed = {}, {}, []
    for name, fn in fns.items():
        t0 = time.perf_counter()
        try:
            results[name] = fn()
        except Exception:  # reported as a failed operation, not a crash
            traceback.print_exc()
            results[name] = None
            failed.append(name)
        times[name] = time.perf_counter() - t0
    return times, results, failed


# --------------------------------------------------------------- maintain


def maintain(table: Table) -> tuple[float, dict]:
    """The nightly run: ``LogSink.maintain`` (retention, then compaction,
    on the log table and the DLQ), then ``control.maintain_rollup``.
    Returns its wall time and ``LogSink.maintain``'s report."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.control import maintain_rollup
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.sink import LogSink

    t0 = time.perf_counter()
    report = LogSink(table.base).maintain(
        table.spark, retention_days=RETENTION_DAYS, today=TODAY)
    maintain_rollup(table.spark, table.logs_path, table.rollup_path)
    return time.perf_counter() - t0, report


# --------------------------------------------------------------- report


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value); the maximum when there are ten or fewer."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1]
    k = n - 11  # index with exactly ten samples above it
    return 100.0 * (k + 1) / n, xs[k]


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM, found through the public ProcessHandle."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def result(correct: bool, ops, values: dict, units: dict) -> dict:
    """The result line; refuses a metric set that differs from the
    declared one."""
    if set(values) != set(units):
        raise RuntimeError(
            f"metrics {sorted(set(values) ^ set(units))} differ from BENCHMARK.json")
    return {
        "correct": bool(correct),
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


# --------------------------------------------------------------- runner


class Ops:
    """Attempted and failed operations: micro-batches, queries, bulks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def add(self, attempted: int, failed: int = 0) -> None:
        self.attempted += attempted
        self.failed += failed


def warm_input(corpus: str, work: str) -> str:
    """The first corpus file alone: the warm-up drain's backlog."""
    src = os.path.join(corpus, "input")
    dst = os.path.join(work, "warm_input")
    os.makedirs(dst, exist_ok=True)
    first = sorted(os.listdir(src))[0]
    shutil.copy(os.path.join(src, first), os.path.join(dst, first))
    return dst


class Runner:
    """One workload's drains and lifecycles, with their checks."""

    def __init__(self, spark, work: str, corpus: str, truth: dict, receiver=None):
        """``receiver``: ship every drain's clean rows through
        ``HttpBulkTransport`` to it, and check what it received."""
        self.spark = spark
        self.work = work
        self.corpus = corpus
        self.input = os.path.join(corpus, "input")
        self.truth = truth
        self.receiver = receiver
        self.ops = Ops()
        self.wrong: list = []  # detail of the outputs that differed
        self.n_wrong = 0  # wrong_results: outputs that differed
        self.unaccounted_ship = 0  # after each drain, before maintenance
        self.unaccounted_retained = None  # after the nightly maintenance
        self.cons_detail: dict = {}

    def drain(self, name: str, input_dir: str | None = None, check: bool = True) -> dict:
        url = self.receiver.url if self.receiver is not None else None
        d = drain(self.spark, input_dir or self.input,
                  os.path.join(self.work, name), url)
        self.ops.add(len(d["batch_s"]) or 1, int(d["failed"]))
        if self.receiver is not None:
            c = self.receiver.counts()
            got = self.receiver.tokens()
            self.receiver.reset()
            self.ops.add(c["bulks"])
            d["receiver"] = c
            if check:
                clean = {t for t, e in self.truth["tokens"].items() if e[0] == "clean"}
                if c["docs"] != len(clean) or got != clean:
                    self.n_wrong += 1
                    self.wrong.append({"drain": name, "receiver": c})
        if check:
            snap = snapshot(Table(self.spark, d["table"]))
            cons = conservation(self.truth, snap, everything)
            if cons["unaccounted"]:
                self.cons_detail["ship"] = {"drain": name, **cons}
            self.unaccounted_ship = max(self.unaccounted_ship, cons["unaccounted"])
        return d

    def check_queries(self, results: dict, snap: dict, phase: str,
                      honest_retention: bool = False) -> None:
        """Each query against its replay over ``snap``; on the shipped
        table also against the truth; after maintenance, conservation
        through retention when ``honest_retention``."""
        wrong = wrong_queries(results, snap)
        if phase == "fragmented":
            wrong += ["truth:severity_by_function"] * truth_mismatch(
                self.truth, results)
            wrong += ["truth:replay_dlq"] * dlq_mismatch(self.truth, results)
        elif honest_retention:
            cons = conservation(self.truth, snap, inside_retention)
            self.unaccounted_retained = cons["unaccounted"]
            self.cons_detail["after_maintenance"] = cons
        if wrong:
            self.n_wrong += len(wrong)
            self.wrong.append({"phase": phase, "wrong": wrong})

    def lifecycle(self, table_path: str, honest_retention: bool = False) -> dict:
        """Queries over the table as shipped, the nightly maintenance,
        then the same queries over the maintained table.

        Each phase runs the query set ``QUERY_PASSES`` times; a query's
        time is its fastest pass and its first pass is checked. The
        maintenance runs on the table and on ``MAINTAIN_COPIES - 1``
        copies of it: ``MAINTAIN_WARM`` copies untimed first, then the
        table and the other copies; its time is the median of those.
        ``control`` counts the table's files, the partitions and the rows
        the maintenance expired."""
        copies = [f"{table_path}.copy{i}" for i in range(1, MAINTAIN_COPIES)]
        for c in copies:
            shutil.copytree(table_path, c)
        table = Table(self.spark, table_path)
        parts = (table.logs_path, table.dlq_path)
        out = {"query_s": {}, "maintain_s": None, "control": {}}
        control = out["control"]
        for phase in ("fragmented", "compacted"):
            if phase == "compacted":
                control["files_before"] = sum(dir_stats(p)["files"] for p in parts)
                for p in copies[:MAINTAIN_WARM]:
                    maintain(Table(self.spark, p))
                runs = [maintain(Table(self.spark, p))
                        for p in (table_path, *copies[MAINTAIN_WARM:])]
                out["maintain_runs_s"] = [wall for wall, _ in runs]
                out["maintain_s"] = statistics.median(out["maintain_runs_s"])
                control["partitions_expired"] = sum(
                    len(r["expired"]) for r in runs[0][1].values())
                control["files_after"] = sum(dir_stats(p)["files"] for p in parts)
            best: dict = {}
            for i in range(QUERY_PASSES):
                times, results, failed = run_queries(table)
                self.ops.add(len(times), len(failed))
                best = {q: min(t, best.get(q, t)) for q, t in times.items()}
                if i == 0:
                    snap = snapshot(table)
                    self.check_queries(results, snap, phase, honest_retention)
                    if phase == "fragmented":
                        control["rows_expired"] = sum(
                            1 for r in snap["logs"] if str(r[6]) < CUTOFF) + sum(
                            1 for r in snap["dlq"] if str(r[3]) < CUTOFF)
            out["query_s"][phase] = best
        out["query_total_s"] = sum(
            sum(t.values()) for t in out["query_s"].values())
        return out

    def setup(self) -> None:
        """The untimed warm pass: a one-micro-batch drain, so the JVM has
        compiled the ship path and started its Python workers before
        timing. The query set and the maintenance are measured on their
        first run, as a nightly job in a fresh process pays them."""
        self.drain("warm", warm_input(self.corpus, self.work), check=False)


# --------------------------------------------------------------- checks


def _ts_micros(s: str | None) -> int | None:
    if not s:
        return None
    try:
        dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError:
        return None
    return int(dt.timestamp()) * 1_000_000 + dt.microsecond


def _decode_token(raw: str | None) -> str | None:
    """Find the generator token in a DLQ payload: as is, after base64,
    or after base64 + gunzip."""
    if raw is None:
        return None
    m = _TOKEN.search(raw)
    if m:
        return m.group(0)
    try:
        blob = base64.b64decode(raw, validate=False)
    except ValueError:
        return None
    try:
        blob = zlib.decompress(blob, 47)
    except zlib.error:
        pass
    m = _TOKEN.search(blob.decode("utf-8", "replace"))
    return m.group(0) if m else None


def snapshot(table: Table) -> dict:
    """The rows the table holds now, collected for checking."""
    logs = table.logs().select(
        "`function.name`", "severity", "`error.type`", "`@timestamp`",
        "`function.request.id`", "message", "log_date",
    ).collect()
    dlq = table.dlq().select("message", "_raw", "`function.name`",
                             "log_date").collect()
    return {"logs": [tuple(r) for r in logs], "dlq": [tuple(r) for r in dlq]}


def replay_queries(snap: dict) -> dict:
    """Python replay of every query in :data:`QUERIES` over ``snap``."""
    logs = snap["logs"]
    sev_fn = Counter((r[0], r[1], r[2]) for r in logs)
    errs = Counter(_TOKEN.sub("", r[5]) for r in logs if r[1] == "error")
    top = sorted(errs.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    win = Counter()
    timed = []
    for r in logs:
        t = _ts_micros(r[3])
        if t is None:
            continue
        win[(t - t % 60_000_000, r[1])] += 1
        if r[4] is not None:
            timed.append((r[0], r[4], t, r[1], r[5]))
    sessions = []
    by_key = defaultdict(list)
    for fn, rid, t, sev, _msg in timed:
        by_key[(fn, rid)].append((t, sev))
    gap = 5 * 60 * 1_000_000
    for (fn, rid), evs in by_key.items():
        evs.sort()
        start, end, n, nerr = None, None, 0, 0
        for t, sev in evs:
            if start is not None and t >= end:
                sessions.append((fn, rid, start, end, n, nerr))
                start = None
            if start is None:
                start, end, n, nerr = t, t + gap, 0, 0
            end = max(end, t + gap)
            n += 1
            nerr += sev == "error"
        sessions.append((fn, rid, start, end, n, nerr))
    by_rid = defaultdict(lambda: ([], []))
    for _fn, rid, t, sev, msg in timed:
        by_rid[rid][0 if sev == "error" else 1].append((t, msg))
    pairs, rids, ctx_len = 0, set(), 0
    for rid, (errors, ctx) in by_rid.items():
        for te, _m in errors:
            for tc, mc in ctx:
                if abs(tc - te) <= gap:
                    pairs += 1
                    rids.add(rid)
                    ctx_len += len(mc) if mc is not None else 0
    return {
        "severity_by_function": sorted(
            (k[0], k[1], k[2], n) for k, n in sev_fn.items()),
        "top_errors": top,
        "windowed_severity_counts": sorted((k[0], k[1], n) for k, n in win.items()),
        "sessionized_request_stats": sorted(sessions),
        "correlate_error_context": (pairs, len(rids), ctx_len),
        "replay_dlq": (0, len(snap["dlq"])),
    }


def _norm(name: str, result):
    if result is None:
        return None
    if isinstance(result, list) and name != "top_errors":
        return sorted(tuple(x) for x in result)
    if isinstance(result, list):
        return [tuple(x) for x in result]
    return tuple(result)


def wrong_queries(results: dict, snap: dict) -> list[str]:
    """Queries whose result differs from the replay over ``snap``."""
    expect = replay_queries(snap)
    return [n for n in QUERIES
            if _norm(n, results[n]) != _norm(n, expect[n])]


def conservation(truth: dict, snap: dict, required) -> dict:
    """Token-level accounting of the table against the truth.

    ``required(entry)`` says whether a truth entry ``[dest, part_date,
    arrival]`` must still be in the table. Returns the number of units
    not accounted for (required but missing, duplicated, in the wrong
    place, or unknown) and a breakdown.
    """
    seen = Counter()
    where = {}
    misdated = 0
    for r in snap["logs"]:
        m = _TOKEN.search(r[5] or "")
        tok = m.group(0) if m else None
        seen[tok] += 1
        where[tok] = "clean"
        entry = truth["tokens"].get(tok)
        day = r[6].isoformat() if hasattr(r[6], "isoformat") else str(r[6])
        if entry and entry[1] != UNDATED and entry[1] != day:
            misdated += 1
    null_rows = Counter()
    for msg, raw, fn, _day in snap["dlq"]:
        if raw is None and msg is None and fn is not None:
            null_rows["null"] += 1
            continue
        tok = _decode_token(raw)
        seen[tok] += 1
        where[tok] = "dlq"
    missing = dup = wrong_place = 0
    for tok, entry in truth["tokens"].items():
        n = seen.pop(tok, 0)
        if entry[0] == "drop":
            wrong_place += n
            continue
        if n == 0:
            missing += required(entry)
            continue
        dup += n - 1
        if where[tok] != entry[0]:
            wrong_place += 1
    unknown = sum(seen.values())
    need_null = sum(n for day, n in truth["null_by_arrival"].items()
                    if required(["dlq", UNDATED, day]))
    null_gap = max(need_null - null_rows["null"], 0)
    extra_null = max(null_rows["null"] - sum(truth["null_by_arrival"].values()), 0)
    total = missing + dup + wrong_place + unknown + null_gap + extra_null + misdated
    return {"unaccounted": total, "missing": missing + null_gap,
            "duplicated": dup + extra_null, "wrong_place": wrong_place,
            "unknown": unknown, "misdated": misdated}


def everything(_entry) -> bool:
    return True


def inside_retention(entry) -> bool:
    """What a nightly run must keep: everything that arrived inside the
    retention window."""
    return entry[2] >= CUTOFF


def truth_mismatch(truth: dict, results: dict) -> int:
    """Clean rows per (function, severity, error.type) against the
    generator's tally; the number of groups that differ (1 if the query
    failed)."""
    if results["severity_by_function"] is None:
        return 1
    expect = Counter()
    for key, n in truth["clean"].items():
        fn, sev, et, _day = key.split("|")
        expect[(fn, sev, et or None)] += n
    got = Counter({(r[0], r[1], r[2]): r[3] for r in results["severity_by_function"]})
    keys = set(expect) | set(got)
    return sum(1 for k in keys if expect[k] != got[k])


def dlq_mismatch(truth: dict, results: dict) -> int:
    """Rows ``replay_dlq`` recovered (none should be) and rows still in
    the DLQ against the truth; 1 if the query failed."""
    if results["replay_dlq"] is None:
        return 1
    recovered, still = results["replay_dlq"]
    return int(recovered != 0) + int(still != truth["dlq_rows"])


def load_truth(corpus_dir: str) -> dict:
    with open(os.path.join(corpus_dir, "truth.json")) as fh:
        return json.load(fh)


def dir_stats(path: str) -> dict:
    files = size = 0
    parts = set()
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
                rel = os.path.relpath(root, path)
                parts.add(rel.split(os.sep)[0])
    return {"files": files, "bytes": size, "partitions": len(parts)}
