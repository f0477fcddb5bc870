"""Seeded load generator for the shipper benchmark (stdlib only).

Runs as its own process before the engine starts:

    python3 perfbench/gen.py --workload logs_query --seed 7 --out DIR

and writes

- ``DIR/input/f-NNNNN.jsonl``: Lambda-event JSONL, one ``{"Records": [...]}``
  per line (a records-per-line file would read as all-null rows), each
  record ``base64(gzip(CloudWatch envelope JSON))`` the way Kinesis hands
  it to the shipper;
- ``DIR/truth.json``: the ground truth the benchmark checks the engine
  against: tallies per class, severity, function and date, and the
  expected fate of every unique message token.

Every token-bearing input unit (log event, or undecodable record) carries a
unique token ``tk<seed>z<n>``, so a receiver or a table scan can tell a
missing row from a duplicated one. The only units without a token are log
events with no ``message`` field at all; they are tallied by count.

The severity and date rules below restate the reference parser's
(``shipper.js`` checkLogError / parseLog, see FIXTURES.md A3) so the truth
is independent of the engine under test.
"""

from __future__ import annotations

import argparse
import base64
import gzip
import json
import os
import random
from collections import Counter
from datetime import date, datetime, timedelta, timezone

UNDATED = "1970-01-01"
TOKEN_RE = r"tk[0-9a-f]+z[0-9a-f]+"

FUNCTIONS = ["fn-orders", "fn-users", "fn-billing", "fn-search"]
REGIONS = ["us-east-1", "eu-west-1"]

# Message texts covering every checkLogError bucket, including the Q1
# precedence case ("module initialization error" is runtime).
TEXTS = [
    "request handled",
    "cache warm",
    "user lookup ok",
    "payment accepted",
    "DB Error: connection reset",
    "Task timed out after 3.00 seconds",
    "Unable to import module 'handler'",
    "module initialization error: boom",
    "RequestId: r1 Process exited before completing request",
]


def classify(text: str) -> tuple[str, str | None]:
    """(severity, error.type) by checkLogError's case-insensitive
    substring rules, generic "error" first."""
    low = text.lower()
    if "error" in low:
        return "error", "runtime"
    if "module initialization error" in low or "unable to import module" in low:
        return "error", "configuration"
    if "task timed out" in low or "process exited before completing" in low:
        return "error", "timeout"
    return "debug", None


# Workload shapes. Each file holds one Lambda event of records_per_file
# records plus the edge records, and is one micro-batch (maxFilesPerTrigger
# stands in for BATCH_SIZE).
# ``mix`` weights the event classes; ``edges`` gives per-file counts of
# the record-level edge classes.
SHAPES = {
    # ~100 events per record, mostly JSON with nested attributes and
    # user-key overrides: parse kernel, explode, sink and transport work.
    "ship_bulk_json": dict(
        files=4, records_per_file=6, events=(95, 105), days=2,
        mix={"plain": 2, "tab": 4, "json": 88, "q3": 2, "q4": 1, "null": 1,
             "platform": 2},
        edges={"control": 0, "bad_base64": 0, "non_gzip": 0, "no_events": 0},
        nested=True,
    ),
    # 1-3 events per record, mostly text lines, every edge class, six
    # days shipped one file per micro-batch: per-record decode and
    # per-batch fixed costs, then a fragmented table to query and
    # maintain.
    "logs_query": dict(
        files=6, records_per_file=80, events=(1, 3), days=6,
        mix={"plain": 25, "tab": 30, "json": 15, "q2": 5, "q3": 5, "q4": 5,
             "null": 3, "platform": 12},
        edges={"control": 2, "bad_base64": 2, "non_gzip": 2, "no_events": 2},
        nested=False,
    ),
}

# The corpus's last day; a nightly maintenance runs the day after it.
LAST_DAY = date(2026, 10, 14)


def _iso(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z"


def _uuid(rng: random.Random) -> str:
    h = "%032x" % rng.getrandbits(128)
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _b64gz(obj) -> str:
    raw = json.dumps(obj, separators=(",", ":")).encode("utf-8")
    return base64.b64encode(gzip.compress(raw, mtime=0)).decode("ascii")


class Corpus:
    """Builds one workload's records and its truth, deterministically
    from ``seed``."""

    def __init__(self, workload: str, seed: int):
        self.workload = workload
        self.seed = seed
        self.shape = SHAPES[workload]
        self.rng = random.Random(f"{workload}:{seed}")
        self.n_tok = 0
        self.tokens: dict[str, list] = {}  # token -> [dest, part_date, arrival]
        self.records = Counter()
        self.events = Counter()
        self.clean = Counter()  # "fn|severity|error_type|part_date" -> n
        self.dlq = Counter()  # "decode"/"parse" -> n
        self.null_by_arrival = Counter()  # arrival date -> null-message events
        self.bytes_in = 0

    def token(self) -> str:
        self.n_tok += 1
        return f"tk{self.seed:x}z{self.n_tok:06x}"

    def _event(self, fn: str, rid: str, ts: datetime) -> dict:
        """One log event; records its expected fate. Returns the
        CloudWatch logEvent dict."""
        rng = self.rng
        mix = self.shape["mix"]
        cls = rng.choices(list(mix), weights=list(mix.values()))[0]
        arrival = ts.date().isoformat()
        ev = {"id": str(rng.getrandbits(60)), "timestamp": int(ts.timestamp() * 1000)}
        self.events["total"] += 1
        self.events[cls] += 1
        if cls == "null":
            self.dlq["parse"] += 1
            self.null_by_arrival[arrival] += 1
            return ev
        tok = self.token()
        text = rng.choice(TEXTS)
        body = f"{text} {tok}"
        name, part = fn, arrival
        dest = "clean"
        if cls == "platform":
            kind = rng.choice(["START", "END", "REPORT"])
            msg = f"{kind} RequestId: {_uuid(rng)} Version: $LATEST {tok}"
            dest, part = "drop", None
        elif cls == "plain":
            msg, part = body, UNDATED
            sev_text = body
        elif cls == "tab":
            msg = f"{_iso(ts)}\t{rid}\t{body}"
            sev_text = body
        elif cls == "q2":
            # text after the third tab part is discarded (split('\t', 3))
            tail = rng.choice(["trailing error detail", "tail"])
            msg = f"{_iso(ts)}\t{rid}\t{body}\t{tail}"
            sev_text = body
        elif cls == "q3":
            # valid JSON without a string "message": ships as plain text
            msg = json.dumps({"event": body, "requestId": "r" + tok[-4:]},
                             separators=(",", ":"))
            sev_text, part = msg, UNDATED
        elif cls == "q4":
            msg = f"{_iso(ts)} {rid} {body}"
            dest, part = "dlq", UNDATED
            self.dlq["parse"] += 1
        else:  # json
            doc = {"message": body, "requestId": rid, "timestamp": _iso(ts)}
            if self.shape["nested"]:
                doc["level"] = rng.choice(["info", "warn", "debug"])
                doc["latency_ms"] = round(rng.uniform(0.5, 900.0), 3)
                doc["ctx"] = {"user": {"id": rng.randrange(10**6),
                                       "tags": rng.sample(["a", "b", "c", "d"], 2)},
                              "retry": rng.random() < 0.2}
                roll = rng.random()
                if roll < 0.10:
                    # user key overrides the derived function name
                    name = fn + "-custom"
                    doc["function.name"] = name
                elif roll < 0.20:
                    # user @timestamp overrides the event's own timestamp
                    over = ts - timedelta(days=1)
                    doc["@timestamp"] = _iso(over)
                    part = over.date().isoformat()
                elif roll < 0.25:
                    doc["severity"] = "critical"  # literal wins over spread
            msg = json.dumps(doc, separators=(",", ":"))
            sev_text = body
        ev["message"] = msg
        self.tokens[tok] = [dest, part, arrival]
        if dest == "clean":
            sev, etype = classify(sev_text)
            self.clean[f"{name}|{sev}|{etype or ''}|{part}"] += 1
        elif dest == "drop":
            self.events["dropped"] += 1
        return ev

    def _record(self, ts: datetime) -> dict:
        rng = self.rng
        fn = rng.choice(FUNCTIONS)
        region = rng.choice(REGIONS)
        lo, hi = self.shape["events"]
        rid = _uuid(rng)  # one invocation's lines share its request id
        envelope = {
            "messageType": "DATA_MESSAGE",
            "owner": "123456789012",
            "logGroup": f"/aws/lambda/{fn}",
            "logStream": f"{ts:%Y/%m/%d}/[{rng.choice(['$LATEST', '7', '12'])}]"
                         f"{rng.getrandbits(64):016x}",
            "subscriptionFilters": ["shipper"],
            "logEvents": [
                self._event(fn, rid, ts + timedelta(milliseconds=37 * i))
                for i in range(rng.randint(lo, hi))
            ],
        }
        self.records["data"] += 1
        return {"kinesis": {"data": _b64gz(envelope)}, "awsRegion": region}

    def _edge_record(self, kind: str, ts: datetime) -> dict:
        tok = self.token()
        arrival = ts.date().isoformat()
        region = self.rng.choice(REGIONS)
        if kind == "control":
            data = _b64gz({
                "messageType": "CONTROL_MESSAGE", "owner": "CloudwatchLogs",
                "logGroup": "", "logStream": "", "subscriptionFilters": [],
                "logEvents": [{"id": "", "timestamp": int(ts.timestamp() * 1000),
                               "message": "CWL CONTROL MESSAGE: Checking health "
                                          f"of destination Kinesis stream. {tok}"}],
            })
            self.tokens[tok] = ["drop", None, arrival]
        else:
            if kind == "bad_base64":
                data = f"!!!{tok}!!!"
            elif kind == "non_gzip":
                data = base64.b64encode(f"not gzip {tok}".encode()).decode()
            else:  # no_events: envelope JSON without logEvents
                data = _b64gz({"owner": tok})
            self.tokens[tok] = ["dlq", UNDATED, arrival]
            self.dlq["decode"] += 1
        self.records[kind] += 1
        return {"kinesis": {"data": data}, "awsRegion": region}

    def write(self, out_dir: str) -> None:
        shape = self.shape
        in_dir = os.path.join(out_dir, "input")
        os.makedirs(in_dir, exist_ok=True)
        first_day = LAST_DAY - timedelta(days=shape["days"] - 1)
        start = datetime(first_day.year, first_day.month, first_day.day,
                         tzinfo=timezone.utc)
        span = timedelta(days=shape["days"])
        n_files = shape["files"]
        for f in range(n_files):
            # files advance through the days in order, as a backlog would
            base = start + span * f / n_files
            step = span / n_files / shape["records_per_file"]
            recs = []
            for r in range(shape["records_per_file"]):
                recs.append(self._record(base + step * r))
            for kind, n in shape["edges"].items():
                for _ in range(n):
                    recs.insert(self.rng.randrange(len(recs) + 1),
                                self._edge_record(kind, base))
            line = json.dumps({"Records": recs}, separators=(",", ":")) + "\n"
            path = os.path.join(in_dir, f"f-{f:05d}.jsonl")
            with open(path, "w") as fh:
                fh.write(line)
            self.bytes_in += len(line)
        self.records["total"] = sum(
            v for k, v in self.records.items() if k != "total")
        with open(os.path.join(out_dir, "truth.json"), "w") as fh:
            json.dump(self.truth(first_day), fh, separators=(",", ":"))

    def truth(self, first_day: date) -> dict:
        by = {"severity": Counter(), "function": Counter(), "date": Counter()}
        for key, n in self.clean.items():
            fn, sev, _et, day = key.split("|")
            by["severity"][sev] += n
            by["function"][fn] += n
            by["date"][day] += n
        return {
            "workload": self.workload,
            "seed": self.seed,
            "files": self.shape["files"],
            "bytes": self.bytes_in,
            "first_day": first_day.isoformat(),
            "last_day": LAST_DAY.isoformat(),
            "records": dict(self.records),
            "events": dict(self.events),
            "clean_rows": sum(self.clean.values()),
            "dlq_rows": sum(self.dlq.values()),
            "dlq": dict(self.dlq),
            "clean": dict(self.clean),
            "by_severity": dict(by["severity"]),
            "by_function": dict(by["function"]),
            "by_date": dict(by["date"]),
            "null_by_arrival": dict(self.null_by_arrival),
            "tokens": self.tokens,
        }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    Corpus(args.workload, args.seed).write(args.out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
