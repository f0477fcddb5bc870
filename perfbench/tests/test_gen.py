"""The generator's corpus agrees with the truth it writes."""

from __future__ import annotations

import base64
import binascii
import filecmp
import gzip
import json
import os
import re
import subprocess
import sys
from collections import Counter

import pytest

import gen

GEN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "gen.py")


def _generate(tmp_path, workload: str, seed: int):
    out = tmp_path / f"{workload}-{seed}"
    subprocess.run([sys.executable, GEN, "--workload", workload, "--seed", str(seed),
                    "--out", str(out)], check=True)
    with open(out / "truth.json") as fh:
        return out, json.load(fh)


def _decode(data: str):
    """stdlib replay of base64 -> gunzip -> envelope JSON; None where a
    step fails."""
    try:
        raw = base64.b64decode(data, validate=True)
    except (binascii.Error, ValueError):
        return "bad_base64"
    try:
        raw = gzip.decompress(raw)
    except (OSError, EOFError):
        return "non_gzip"
    return json.loads(raw)


@pytest.mark.parametrize("workload", sorted(gen.SHAPES))
def test_truth_tallies_match_the_written_records(tmp_path, workload):
    out, truth = _generate(tmp_path, workload, 11)
    records = Counter()
    events = Counter()
    seen_tokens = Counter()
    for name in sorted(os.listdir(out / "input")):
        with open(out / "input" / name) as fh:
            for line in fh:
                doc = json.loads(line)
                assert set(doc) == {"Records"}  # one Lambda event per line
                for rec in doc["Records"]:
                    records["total"] += 1
                    env = _decode(rec["kinesis"]["data"])
                    if isinstance(env, str):
                        records[env] += 1
                        continue
                    if "logEvents" not in env:
                        records["no_events"] += 1
                        seen_tokens.update(re.findall(gen.TOKEN_RE, json.dumps(env)))
                        continue
                    kind = "control" if env["messageType"] == "CONTROL_MESSAGE" else "data"
                    records[kind] += 1
                    for ev in env["logEvents"]:
                        if kind == "data":
                            events["total"] += 1
                        if "message" not in ev:
                            events["null"] += 1
                            continue
                        seen_tokens.update(re.findall(gen.TOKEN_RE, ev["message"]))
    assert dict(records) == {k: v for k, v in truth["records"].items() if v}
    assert events["total"] == truth["events"]["total"]
    assert events["null"] == sum(truth["null_by_arrival"].values())
    # undecodable records carry their token in the raw data field
    decode_dlq = [t for t, e in truth["tokens"].items()
                  if e[0] == "dlq" and e[1] == gen.UNDATED and t not in seen_tokens]
    assert len(decode_dlq) == truth["records"].get("bad_base64", 0) + truth[
        "records"].get("non_gzip", 0)
    assert all(n == 1 for n in seen_tokens.values())  # every token is unique
    dest = Counter(e[0] for e in truth["tokens"].values())
    assert dest["clean"] == truth["clean_rows"] == sum(truth["clean"].values())
    assert dest["dlq"] + events["null"] == truth["dlq_rows"]
    assert sum(truth["by_severity"].values()) == truth["clean_rows"]
    assert sum(truth["by_function"].values()) == truth["clean_rows"]
    assert sum(truth["by_date"].values()) == truth["clean_rows"]


def test_same_seed_same_corpus_other_seed_other_corpus(tmp_path):
    a, _ = _generate(tmp_path / "a", "logs_query", 5)
    b, _ = _generate(tmp_path / "b", "logs_query", 5)
    c, _ = _generate(tmp_path / "c", "logs_query", 6)
    names = sorted(os.listdir(a / "input"))
    _match, mismatch, errors = filecmp.cmpfiles(a / "input", b / "input", names,
                                                shallow=False)
    assert not mismatch and not errors
    assert filecmp.cmp(a / "truth.json", b / "truth.json", shallow=False)
    assert not filecmp.cmp(a / "truth.json", c / "truth.json", shallow=False)


def test_every_edge_class_is_in_logs_query(tmp_path):
    _out, truth = _generate(tmp_path, "logs_query", 3)
    for kind in ("control", "bad_base64", "non_gzip", "no_events"):
        assert truth["records"][kind] > 0, kind
    for cls in ("plain", "tab", "json", "q2", "q3", "q4", "null", "platform"):
        assert truth["events"][cls] > 0, cls
    assert truth["by_date"][gen.UNDATED] > 0
    assert len([d for d in truth["by_date"] if d != gen.UNDATED]) == 6


@pytest.mark.parametrize("text,expected", [
    ("module initialization error: boom", ("error", "runtime")),
    ("Unable to import module 'handler'", ("error", "configuration")),
    ("Task timed out after 3.00 seconds", ("error", "timeout")),
    ("RequestId: r1 Process exited before completing request", ("error", "timeout")),
    ("DB Error: connection reset", ("error", "runtime")),
    ("request handled", ("debug", None)),
])
def test_classify_follows_check_log_error_precedence(text, expected):
    assert gen.classify(text) == expected
