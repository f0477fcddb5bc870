"""The traced run's spans and its wrapping of the engine's control steps
(no Spark session needed)."""

from __future__ import annotations

import datetime

import pytest

import trace_run


def test_spans_sum_a_recurring_name_and_subtract_children():
    spans = trace_run.Spans()
    for _ in range(2):
        with spans.span("outer"):
            with spans.span("inner"):
                pass
    assert [s["parent"] for s in spans.items] == [None, 0, None, 2]
    outer = sum(s["end"] - s["start"] for s in spans.items if s["name"] == "outer")
    assert spans.wall("outer") == pytest.approx(outer)
    assert spans.self_time("outer") == pytest.approx(
        outer - spans.wall("inner"))


def test_traced_control_spans_the_engines_own_steps(tmp_path):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark import control

    original = control.expire_partitions
    (tmp_path / "log_date=1970-01-01").mkdir()
    (tmp_path / "log_date=2026-10-14").mkdir()
    spans = trace_run.Spans()
    with trace_run.traced_control(spans):
        dropped = control.expire_partitions(
            str(tmp_path), 3, today=datetime.date(2026, 10, 15))
    assert dropped == ["log_date=1970-01-01"]
    assert [s["name"] for s in spans.items] == ["control.expire"]
    assert control.expire_partitions is original
