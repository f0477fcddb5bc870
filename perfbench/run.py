#!/usr/bin/env python3
"""Shipper benchmark: one workload, one run.

    python3 perfbench/run.py --workload logs_query --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The seeded generator (``gen.py``) writes
the workload's corpus and truth in its own process; the engine then
receives only the generated files. With ``--trace 0`` the run measures
the end-to-end metrics (see BENCHMARK.json); with ``--trace 1`` it runs
the traced variant (``trace_run.py``) and reports the per-layer metrics.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The line before it is a
JSON object of context: host, batch counts, the stated tail percentile,
and the correctness counters behind ``correct``. Spark and JVM output
goes to ``.perfbench_work/logs/``. Every file the run writes stays under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cloudwatch_sematext_aws_lambda_log_shipper_spark"
WORKLOADS = ("ship_bulk_json", "logs_query")


def declared_metrics() -> dict:
    """{"end_to_end": {name: unit}, "per_layer": {name: unit}} as
    BENCHMARK.json at the checkout root declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {kind: {m["name"]: m["unit"] for m in spec[kind]}
            for kind in ("end_to_end", "per_layer")}


def host_canary_s(n: int = 1_000_000) -> float:
    """Spark-free single-core md5 chain: host speed beside the timings."""
    t0 = time.perf_counter()
    h = b"x"
    for _ in range(n):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def spark_cpus(nproc: int) -> int:
    """Spark's task slots: half the cores. The JVM's compiler and GC
    threads, the Python workers and this driver need the rest; with
    ``local[nproc]`` the timings measured the host's scheduler."""
    return max(1, nproc // 2)


def prepare_env(work: str, cpus: str) -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout, and
    run Spark as ``local[cpus]``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM's perf-data file goes to /tmp whatever
    # java.io.tmpdir says.
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["NO_PROXY"] = os.environ["no_proxy"] = "127.0.0.1,localhost"


def redirect_output(log_path: str):
    """Point fds 1 and 2 (inherited by the JVM and Python workers) at a
    log file; return a writer on the original stdout for the result."""
    sys.stdout.flush()
    sys.stderr.flush()
    out_fd, err_fd = os.dup(1), os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    sys.stderr = os.fdopen(err_fd, "w", buffering=1)
    return os.fdopen(out_fd, "w", buffering=1)


def shutdown_engine() -> None:
    """Stop the Spark context, then the JVM, and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def generate(workload: str, seed: int, out_dir: str) -> dict:
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
         "--seed", str(seed), "--out", out_dir],
        check=True, timeout=120,
    )
    import lifecycle

    return lifecycle.load_truth(out_dir)


def run_e2e(args, work: str, corpus: str, truth: dict, receiver, ctx: dict,
            units: dict) -> dict:
    import lifecycle as lc

    t0 = time.perf_counter()
    spark = lc.get_session()
    runner = lc.Runner(spark, work, corpus, truth, receiver)
    runner.setup()
    setup_s = time.perf_counter() - t0

    # Drain the backlog (each time into a fresh table) until --seconds
    # have passed, then run the lifecycle once over the last table.
    drains = []
    t_end = time.perf_counter() + args.seconds
    while not drains or time.perf_counter() < t_end:
        if drains:
            shutil.rmtree(os.path.join(work, f"drain{len(drains) - 1}"))
        drains.append(runner.drain(f"drain{len(drains)}"))
    honest = args.workload == "logs_query"
    cycle = runner.lifecycle(drains[-1]["table"], honest_retention=honest)

    batch_s = [b for d in drains for b in d["batch_s"]]
    pct, tail_s = lc.tail(batch_s)
    n_records = truth["records"]["total"]
    metrics = {
        "setup_s": setup_s,
        "ship_records_per_s": statistics.median(n_records / d["wall_s"] for d in drains),
        "batch_p50_s": statistics.median(batch_s),
        "query_total_s": cycle["query_total_s"],
        "maintain_s": cycle["maintain_s"],
    }
    ctx["peak_rss_mb"] = lc.peak_rss_mb(spark)
    spark.stop()
    ops = runner.ops
    ctx.update({
        "drains": len(drains),
        "records_per_drain": n_records,
        "batches": len(batch_s),
        "batch_s": batch_s,
        "batch_tail_s": tail_s,
        "batch_tail_percentile": pct,
        "query_s": cycle["query_s"],
        "maintain_runs_s": cycle["maintain_runs_s"],
        "receiver": drains[-1].get("receiver"),
        "ops_failed_frac": ops.failed / max(ops.attempted, 1),
        "wrong_results": runner.n_wrong,
        "records_unaccounted": (runner.unaccounted_retained if honest
                                else runner.unaccounted_ship),
        "records_unaccounted_at_ship": runner.unaccounted_ship,
        "check_detail": {"wrong": runner.wrong[:5], "conservation": runner.cons_detail},
    })
    # Conservation at the ship boundary is part of correctness. On
    # logs_query, records lost to the nightly maintenance (the undated
    # 1970-01-01 sentinel partition expires on the first sweep) are
    # reported as measured and do not fail the run.
    correct = runner.n_wrong == 0 and runner.unaccounted_ship == 0
    return lc.result(correct, ops, metrics, units)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Shipper benchmark, one run.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    declared = declared_metrics()

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    logs = os.path.join(base, "logs")
    os.makedirs(work, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    cpus = str(spark_cpus(nproc))
    ctx = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": nproc,
        "spark_graft_cpus": cpus,
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY", "24g (session default)"),
        "load_1m_start": os.getloadavg()[0],
        "host_canary_s_start": host_canary_s(),
    }
    receiver = None
    out = None
    try:
        corpus = os.path.join(work, "corpus")
        truth = generate(args.workload, args.seed, corpus)
        prepare_env(work, cpus)
        sys.path[:0] = [ROOT]
        out = redirect_output(os.path.join(logs, f"{args.workload}-{args.seed}.log"))
        if args.trace or args.workload == "ship_bulk_json":
            from receiver import BulkReceiver

            receiver = BulkReceiver(args.seed).start()
        if args.trace:
            import trace_run

            res = trace_run.run(args, work, corpus, truth, receiver, ctx,
                                declared["per_layer"])
        else:
            res = run_e2e(args, work, corpus, truth, receiver, ctx,
                          declared["end_to_end"])
    finally:
        if "pyspark" in sys.modules:
            shutdown_engine()
        if receiver is not None:
            receiver.stop()
        shutil.rmtree(work, ignore_errors=True)
    ctx["load_1m_end"] = os.getloadavg()[0]
    ctx["host_canary_s_end"] = host_canary_s()
    out.write(json.dumps({"context": ctx}) + "\n")
    out.write(json.dumps(res) + "\n")
    out.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
