"""BENCHMARK.json against the benchmark's code, and the pure-Python
checks the runs rely on."""

from __future__ import annotations

import json
import os
import re

import pytest

import gen
import lifecycle as lc
import run
import trace_run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

END_TO_END = ("setup_s", "ship_records_per_s", "batch_p50_s", "query_total_s",
              "maintain_s")
# Zero on a correct run (the first three), too unsteady between identical
# runs to hold a bound (peak_rss_mb), or with no percentile that has ten
# micro-batches beyond it at a run's size (batch_tail_s): reported per
# layer and in every run's context line rather than as bounded metrics.
COUNTERS = ("wrong_results", "records_unaccounted", "ops_failed_frac", "peak_rss_mb",
            "batch_tail_s")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_shape(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert spec["command"][:2] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
             for m in spec[k]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_workloads_match_code(spec):
    names = tuple(w["name"] for w in spec["workloads"])
    assert names == run.WORKLOADS
    assert set(names) == set(gen.SHAPES)


def test_metric_names_match_code(spec):
    assert tuple(m["name"] for m in spec["end_to_end"]) == END_TO_END
    per_layer = {m["name"] for m in spec["per_layer"]}
    expected = set(COUNTERS) | set(trace_run.LAYER_OF_PREFIX.values())
    expected |= {f"streaming.{p}_s" for p in trace_run.STREAMING_PHASES}
    expected |= {f"query.{q}.{phase}_s" for q in lc.QUERIES
                 for phase in ("fragmented", "compacted")}
    assert expected <= per_layer
    assert all(n.split(".")[0] in {
        "sources", "decode", "parse", "pipeline", "streaming", "sink",
        "transport", "control", "query", "spark", "trace"} | set(COUNTERS)
        for n in per_layer)


def test_result_refuses_undeclared_metrics():
    ops = lc.Ops()
    ops.add(3)
    units = {"a_s": "s", "b": "count"}
    out = lc.result(True, ops, {"a_s": 1.5, "b": 2}, units)
    assert out == {"correct": True, "attempted": 3, "failed": 0, "metrics": {
        "a_s": {"value": 1.5, "unit": "s"}, "b": {"value": 2, "unit": "count"}}}
    with pytest.raises(RuntimeError):
        lc.result(True, ops, {"a_s": 1.5}, units)


@pytest.mark.parametrize("n,pct,idx", [(5, 100.0, 4), (10, 100.0, 9),
                                       (11, 100 / 11, 0), (40, 75.0, 29)])
def test_tail_keeps_ten_samples_beyond(n, pct, idx):
    got_pct, value = lc.tail([float(i) for i in range(n)])
    assert got_pct == pytest.approx(pct) and value == idx


def _truth():
    return {
        "tokens": {"tk1z01": ["clean", "2026-10-13", "2026-10-13"],
                   "tk1z02": ["clean", gen.UNDATED, "2026-10-14"],
                   "tk1z03": ["dlq", gen.UNDATED, "2026-10-09"],
                   "tk1z04": ["drop", None, "2026-10-13"]},
        "null_by_arrival": {"2026-10-14": 1},
    }


def _snap(logs_tokens, dlq_raws, nulls=1):
    import datetime

    day = datetime.date(2026, 10, 13)
    logs = [("fn", "debug", None, None, None, f"ok {t}", day) for t in logs_tokens]
    dlq = [(None, raw, None, day) for raw in dlq_raws]
    dlq += [(None, None, "fn", day)] * nulls
    return {"logs": logs, "dlq": dlq}


def test_conservation_counts_missing_duplicated_and_unknown():
    truth = _truth()
    whole = _snap(["tk1z01", "tk1z02"], ["!!!tk1z03!!!"])
    assert lc.conservation(truth, whole, lc.everything)["unaccounted"] == 0
    broken = _snap(["tk1z01", "tk1z01", "tk1z04", "tk9z99"], [], nulls=0)
    cons = lc.conservation(truth, broken, lc.everything)
    # tk1z02, tk1z03 and the null event missing; tk1z01 twice; a dropped
    # token shipped; an unknown token
    assert (cons["missing"], cons["duplicated"], cons["wrong_place"],
            cons["unknown"]) == (3, 1, 1, 1)
    # through retention only what arrived inside the window is required
    # (tk1z03 arrived before the cutoff)
    kept = _snap(["tk1z01", "tk1z02"], [])
    assert lc.conservation(truth, kept, lc.inside_retention)["unaccounted"] == 0


def test_replay_sessionizes_and_correlates():
    t = "2026-10-13T10:00:0{}.000Z"
    rows = [("fn", "error", "runtime", t.format(0), "r1", "DB Error tk1z1", None),
            ("fn", "debug", None, t.format(1), "r1", "ok tk1z2", None),
            ("fn", "debug", None, None, None, "plain tk1z3", None)]
    got = lc.replay_queries({"logs": rows, "dlq": []})
    assert got["correlate_error_context"] == (1, 1, len("ok tk1z2"))
    (session,) = got["sessionized_request_stats"]
    assert session[4:] == (2, 1)
    assert got["top_errors"] == [("DB Error ", 1)]


def test_failed_query_is_a_wrong_result():
    truth = {**_truth(), "clean": {"fn|debug||2026-10-13": 1}, "dlq_rows": 1}
    runner = lc.Runner(None, "", "", truth)
    failed = dict.fromkeys(lc.QUERIES)
    runner.check_queries(failed, _snap(["tk1z01"], []), "fragmented")
    # every query against its replay, plus the two truth checks
    assert runner.n_wrong == len(lc.QUERIES) + 2
