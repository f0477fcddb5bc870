"""The traced run (``--trace 1``): per-layer metrics.

Spans (name, start, end, parent) are kept in memory and written to
``.perfbench_work/logs/<workload>-<seed>.spans.json`` at the end. The run:

1. sets up like the untraced run, with the Spark event log switched on
   through ``EngineConfig(extra_spark_conf=...)``;
2. times cumulative prefixes of the batch pipeline over the corpus,
   scan -> base64 -> gunzip -> envelope -> explode -> parse -> wiring ->
   sink, each ending in a ``noop`` write (the sink prefix writes the real
   tables), then ``transport.ship_bulks`` to the loopback receiver. A
   layer's time is its prefix's wall time minus the previous prefix's;
3. counts the rows at each layer boundary;
4. drains the corpus as a stream (the ``streaming.*`` breakdown) and runs
   the untraced run's query -> maintenance -> query lifecycle, with the
   engine's ``control`` steps wrapped in spans to split the maintenance
   into expire, compact and rollup;
5. starts a Spark session with the event log switched off, warms it and
   drains again: the tracing overhead is the traced drain's wall time
   minus this one's;
6. does the same in a ``local[1]`` session: the single-thread baseline;
7. reads the event log of step 1-4 for job, stage, task, shuffle, spill,
   GC and driver-only time.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import time

import lifecycle as lc


class Spans:
    """Spans in start order; ``parent`` is the index of the enclosing
    span. A name may recur: ``wall`` and ``self_time`` sum over every
    span of that name."""

    def __init__(self):
        self.items: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        item = {"name": name, "start": time.perf_counter(), "end": None,
                "parent": self._stack[-1] if self._stack else None}
        self.items.append(item)
        self._stack.append(len(self.items) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            item["end"] = time.perf_counter()

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.items if s["name"] == name)

    def self_time(self, name: str) -> float:
        own = {i for i, s in enumerate(self.items) if s["name"] == name}
        kids = sum(s["end"] - s["start"] for s in self.items if s["parent"] in own)
        return self.wall(name) - kids

    def write(self, path: str) -> None:
        t0 = min((s["start"] for s in self.items), default=0.0)
        out = [{"id": i, **s, "start": s["start"] - t0, "end": s["end"] - t0}
               for i, s in enumerate(self.items)]
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)


PREFIXES = ("scan", "base64", "gunzip", "envelope", "explode", "parse",
            "wiring")
LAYER_OF_PREFIX = {
    "scan": "sources.scan_s",
    "base64": "decode.base64_s",
    "gunzip": "decode.gunzip_s",
    "envelope": "decode.envelope_s",
    "explode": "decode.explode_s",
    "parse": "parse.kernel_s",
    "wiring": "pipeline.wiring_s",
    "sink": "sink.ship_s",
}


def _frames(spark, input_dir: str) -> dict:
    """The pipeline cut at each layer boundary, built from the engine's
    public decode/parse/pipeline functions."""
    from pyspark.sql import functions as F

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.decode import (
        decode_payload,
        decode_records,
        explode_log_events,
        gunzip,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.parse import (
        parse_log_events,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.pipeline import batch_kernel
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.sources.kinesis import (
        read_kinesis_event_file,
    )

    records = read_kinesis_event_file(spark, input_dir)
    raw = F.try_to_binary(F.col("data"), F.lit("base64"))
    events = explode_log_events(decode_records(records).filter(~F.col("decode_error")))
    return {
        "records": records,
        "scan": records,
        "base64": records.select(raw.alias("b")),
        "gunzip": records.select(gunzip(raw).alias("b")),
        "envelope": records.select(decode_payload(F.col("data")).alias("p")),
        "explode": events,
        "parse": parse_log_events(events),
        "wiring": batch_kernel(records, fan_out=True),
        "kernel": lambda: batch_kernel(records, fan_out=True),
        "gunzip_len": records.select(
            F.sum(F.length(gunzip(raw))).alias("n")),
        "envelopes": decode_records(records),
    }


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def layer_prefixes(spark, spans: Spans, input_dir: str, out_dir: str,
                   receiver, metrics: dict) -> dict:
    """Times the cumulative prefixes, the sink and the transport; returns
    the frames for :func:`layer_counts`."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.parse import split_dlq
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.sink import LogSink
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.transport import (
        HttpBulkTransport,
        ship_bulks,
    )

    fr = _frames(spark, input_dir)
    walls = {}
    with spans.span("layers"):
        for name in PREFIXES:
            with spans.span(f"prefix.{name}"):
                fr[name].write.format("noop").mode("overwrite").save()
            walls[name] = spans.wall(f"prefix.{name}")
        url = receiver.url
        with spans.span("prefix.sink"):
            parsed = fr["kernel"]().persist()
            clean, dlq = split_dlq(parsed)
            LogSink(out_dir).ship(clean, dlq)
        walls["sink"] = spans.wall("prefix.sink")
        receiver.reset()
        with spans.span("transport.ship_bulks"):
            bulk = ship_bulks(clean, lambda: HttpBulkTransport(url))
        parsed.unpersist()
    prev = 0.0
    for name in (*PREFIXES, "sink"):
        metrics[LAYER_OF_PREFIX[name]] = walls[name] - prev
        prev = walls[name]
    got = receiver.counts()
    metrics["transport.ship_bulks_s"] = spans.wall("transport.ship_bulks")
    metrics["transport.bulks"] = bulk["n_bulks"]
    metrics["transport.docs"] = got["docs"]
    metrics["transport.attempts"] = bulk["attempts"]
    metrics["transport.useful_ratio"] = bulk["n_bulks"] / max(bulk["attempts"], 1)
    receiver.reset()
    sink_stats = [lc.dir_stats(os.path.join(out_dir, t)) for t in ("logs", "dlq")]
    metrics["sink.files"] = sum(s["files"] for s in sink_stats)
    metrics["sink.bytes"] = sum(s["bytes"] for s in sink_stats)
    metrics["sink.partitions"] = sum(s["partitions"] for s in sink_stats)
    return fr


def layer_counts(fr: dict, input_dir: str, metrics: dict, spans: Spans) -> None:
    from pyspark.sql import functions as F

    with spans.span("counts"):
        n_records = fr["records"].count()
        env = fr["envelopes"].agg(
            F.count(F.lit(1)), F.sum(F.col("decode_error").cast("long"))).first()
        n_events = fr["explode"].count()
        parsed = fr["parse"].agg(
            F.count(F.lit(1)), F.sum(F.col("is_corrupt").cast("long"))).first()
        kernel = fr["kernel"]().agg(
            F.count(F.lit(1)), F.sum(F.col("is_corrupt").cast("long"))).first()
        inflated = fr["gunzip_len"].first()[0]
        plan = _plan(fr["kernel"]())
    metrics["sources.records"] = n_records
    metrics["sources.bytes"] = sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(input_dir, "*")))
    metrics["decode.control_drops"] = n_records - env[0]
    metrics["decode.errors"] = env[1] or 0
    metrics["decode.inflated_bytes"] = inflated or 0
    metrics["decode.gunzip_plan_nodes"] = plan.count("ArrowEvalPython")
    metrics["decode.from_json_plan_nodes"] = plan.count("from_json(")
    metrics["parse.events_in"] = n_events
    metrics["parse.platform_drops"] = n_events - parsed[0]
    metrics["parse.corrupt"] = parsed[1] or 0
    # JSON parses of the log message: try_parse_json runs as parseJson,
    # the two from_json map parses keep their name.
    metrics["parse.json_parse_plan_nodes"] = len(re.findall(
        r"VariantExpressionEvalUtils\.parseJson\(|from_json\(MapType\(", plan))
    metrics["pipeline.clean_rows"] = kernel[0] - (kernel[1] or 0)
    metrics["pipeline.dlq_rows"] = kernel[1] or 0


STREAMING_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
                    "latestOffset", "getBatch")


def streaming_metrics(d: dict, metrics: dict) -> None:
    metrics["streaming.batches"] = len(d["durations"])
    metrics["batch_tail_s"] = lc.tail(d["batch_s"])[1]
    for phase in STREAMING_PHASES:
        metrics[f"streaming.{phase}_s"] = sum(
            x.get(phase, 0) for x in d["durations"]) / 1000
    metrics["pipeline.observed_batches"] = d["observed"]


CONTROL_STEPS = (("expire", "expire_partitions"), ("compact", "compact_table"),
                 ("rollup", "maintain_rollup"))


@contextlib.contextmanager
def traced_control(spans: Spans):
    """Wrap the engine's control-plane steps in ``control.<step>`` spans.
    ``LogSink.maintain`` and the lifecycle's ``maintain`` import them from
    the ``control`` module at call time, so the wrappers are what they
    run."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark import control

    def wrap(step, fn):
        def traced(*args, **kwargs):
            with spans.span(f"control.{step}"):
                return fn(*args, **kwargs)
        return traced

    saved = {attr: getattr(control, attr) for _, attr in CONTROL_STEPS}
    for step, attr in CONTROL_STEPS:
        setattr(control, attr, wrap(step, saved[attr]))
    try:
        yield
    finally:
        for attr, fn in saved.items():
            setattr(control, attr, fn)


def lifecycle_metrics(runner, table_path: str, spans: Spans, metrics: dict,
                      honest_retention: bool) -> None:
    """``Runner.lifecycle``, as the untraced run calls it, with the
    control-plane steps in spans. A step's time is per maintenance run
    (the lifecycle maintains the table and its copies)."""
    with spans.span("lifecycle"), traced_control(spans):
        cycle = runner.lifecycle(table_path, honest_retention=honest_retention)
    for phase, times in cycle["query_s"].items():
        for q, t in times.items():
            metrics[f"query.{q}.{phase}_s"] = t
    for step, _ in CONTROL_STEPS:
        metrics[f"control.{step}_s"] = spans.wall(f"control.{step}") / lc.MAINTAIN_COPIES
    for k, v in cycle["control"].items():
        metrics[f"control.{k}"] = v


def event_log_metrics(log_dir: str, metrics: dict) -> None:
    """Counters from the Spark event log of the traced session."""
    jobs = stages = tasks = 0
    shuffle_read = shuffle_write = spill = 0
    gc_ms = run_ms = cpu_ns = 0
    intervals = []
    t_first = t_last = None
    paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerApplicationStart":
                    t_first = ev["Timestamp"]
                elif kind == "SparkListenerApplicationEnd":
                    t_last = ev["Timestamp"]
                elif kind == "SparkListenerJobStart":
                    jobs += 1
                elif kind == "SparkListenerStageCompleted":
                    stages += 1
                elif kind == "SparkListenerTaskEnd":
                    tasks += 1
                    info = ev.get("Task Info", {})
                    intervals.append((info.get("Launch Time", 0),
                                      info.get("Finish Time", 0)))
                    tm = ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics", {})
                    shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0)
                    shuffle_write += tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    spill += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
                    gc_ms += tm.get("JVM GC Time", 0)
                    run_ms += tm.get("Executor Run Time", 0)
                    cpu_ns += tm.get("Executor CPU Time", 0)
    busy = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    span_ms = (t_last - t_first) if t_first and t_last else 0
    metrics.update({
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": tasks,
        "spark.shuffle_read_bytes": shuffle_read,
        "spark.shuffle_write_bytes": shuffle_write,
        "spark.spill_bytes": spill,
        "spark.gc_s": gc_ms / 1000,
        "spark.task_run_s": run_ms / 1000,
        "spark.task_cpu_s": cpu_ns / 1e9,
        "spark.driver_s": (span_ms - busy) / 1000,
    })


def event_log_state(spark) -> str:
    return spark.sparkContext.getConf().get("spark.eventLog.enabled", "false")


def run(args, work: str, corpus: str, truth: dict, receiver, ctx: dict,
        units: dict) -> dict:
    spans = Spans()
    metrics: dict = {}
    event_dir = os.path.join(work, "eventlog")
    os.makedirs(event_dir, exist_ok=True)
    input_dir = os.path.join(corpus, "input")
    traced_conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + event_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    with spans.span("setup"):
        spark = lc.get_session(traced_conf)
        # only ship_bulk_json's drains ship through the transport; the
        # layer prefixes end in it on every workload
        runner = lc.Runner(spark, work, corpus, truth,
                           receiver if args.workload == "ship_bulk_json" else None)
        runner.setup()
    fr = layer_prefixes(spark, spans, input_dir, os.path.join(work, "prefix_sink"),
                        receiver, metrics)
    layer_counts(fr, input_dir, metrics, spans)
    with spans.span("streaming.drain"):
        d = runner.drain("traced")
    streaming_metrics(d, metrics)
    lifecycle_metrics(runner, d["table"], spans, metrics,
                      honest_retention=args.workload == "logs_query")
    metrics["peak_rss_mb"] = lc.peak_rss_mb(spark)
    event_log = {"traced": event_log_state(spark)}
    spark.stop()
    event_log_metrics(event_dir, metrics)

    # The JVM keeps the traced session's settings as defaults for the
    # next session, so the event log is switched off explicitly. Each
    # baseline session gets the same one-file warm drain as set-up.
    untraced_conf = {"spark.eventLog.enabled": "false"}
    walls = {}
    for name, master in (("untraced", None), ("single_thread", "local[1]")):
        with spans.span(name):
            spark = lc.get_session(untraced_conf, master=master)
            event_log[name] = event_log_state(spark)
            runner.spark = spark
            runner.drain(f"{name}_warm", lc.warm_input(corpus, work), check=False)
            with spans.span(f"{name}.drain"):
                walls[name] = runner.drain(name)["wall_s"]
            spark.stop()
    ctx["event_log_enabled"] = event_log
    metrics["trace.overhead_s"] = d["wall_s"] - walls["untraced"]
    metrics["trace.single_thread_records_per_s"] = (
        truth["records"]["total"] / walls["single_thread"])

    ops = runner.ops
    metrics["wrong_results"] = runner.n_wrong
    metrics["records_unaccounted"] = (
        runner.unaccounted_ship if args.workload == "ship_bulk_json"
        else runner.unaccounted_retained)
    metrics["ops_failed_frac"] = ops.failed / max(ops.attempted, 1)
    spans.write(os.path.join(os.path.dirname(work), "logs",
                             f"{args.workload}-{args.seed}.spans.json"))
    ctx["layer_self_s"] = {
        s["name"]: spans.self_time(s["name"]) for s in spans.items}
    ctx["check_detail"] = {"wrong": runner.wrong[:5],
                           "conservation": runner.cons_detail}
    return lc.result(runner.n_wrong == 0 and runner.unaccounted_ship == 0, ops,
                  metrics, units)
