#!/usr/bin/env python3
"""Parent-vs-change pair runs of the shipper benchmark, with the verdict.

    python scripts/perf_pairs.py --rev HEAD --seeds 3-12 \\
        --workloads ship_bulk_json logs_query [--seconds 5] [--trace 0] \\
        [--claim ship_bulk_json:batch_p50_s] [--json pairs.json]

``--rev`` is exported with ``git archive`` into a fresh directory under
``--parent-dir`` (default: ``$TMPDIR``), which is removed afterwards; the
change side is the working tree this script sits in. For each seed and
workload it runs ``perfbench/run.py`` once from each side, alternating
which side runs first, so host drift falls on both evenly. The metrics
and their better direction come from the change side's BENCHMARK.json
(``end_to_end``, or ``per_layer`` with ``--trace 1``).

Per workload and metric it prints each side's median and quartiles, the
change's wins per pair (ties count for neither side) and a verdict:

- ``gain``: at least ten pairs ran, the change wins at least nine tenths
  of them and the medians differ by more than the parent's interquartile
  range;
- ``worse>bound``: the change's median is worse than the parent's by more
  than the metric's BENCHMARK.json bound (end-to-end metrics only);
- ``unresolved``: not a gain and the parent's IQR is wider than the
  bound, unless every change run beats every parent run;
- ``no gain``: everything else.

``--claim workload:metric`` marks the claimed pairs in the output and sets
the exit status (0 only if every claim reads ``gain``). Each run's
``correct`` flag, failed-operation share and md5 canary (start/end) are
printed beside it. The script only runs ``perfbench/run.py`` and reads
its last two stdout lines; it imports nothing from ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    """'3-12' or '3,5,7' -> a list of seeds."""
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def export_rev(rev: str, parent_dir: str | None) -> str:
    """The committed files of ``rev`` in a fresh directory (no .git, so
    nothing is registered in this repository)."""
    dest = tempfile.mkdtemp(prefix="perf_pairs-", dir=parent_dir)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def run_once(root: str, workload: str, seed: int, seconds: int,
             trace: int) -> dict:
    """One benchmark run from checkout ``root``: its context and result."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=root, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{root}: {workload} seed {seed} exited "
                           f"{proc.returncode}: {proc.stderr[-2000:]}")
    return {**json.loads(lines[-2]), **json.loads(lines[-1])}


def value(run: dict, name: str) -> float | None:
    """A metric of one run (run.py reports {"value", "unit"})."""
    m = run["metrics"].get(name)
    v = m.get("value") if isinstance(m, dict) else m
    return v if isinstance(v, (int, float)) else None


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], better: str,
            bound: float | None) -> dict:
    """Wins per pair, medians, quartiles and the verdict for one metric
    (the rule in the module docstring)."""
    sign = -1.0 if better == "lower" else 1.0
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    pq, cq = quartiles(parent), quartiles(change)
    iqr = pq[2] - pq[0]
    gap = sign * (cq[1] - pq[1])  # > 0: the change is better
    rel = -gap / abs(pq[1]) if pq[1] else 0.0  # > 0: relative loss
    if len(parent) >= 10 and wins >= 0.9 * len(parent) and gap > iqr:
        word = "gain"
    elif bound is not None and rel > bound:
        word = "worse>bound"
    elif bound is not None and iqr > bound * abs(pq[1]) and not (
            max(change) < min(parent) if better == "lower"
            else min(change) > max(parent)):
        word = "unresolved"
    else:
        word = "no gain"
    return {"n": len(parent), "wins": wins, "parent_q": pq, "change_q": cq,
            "parent_iqr": iqr, "verdict": word}


def summarize(runs: list[dict], workloads: list[str], metrics: dict,
              claims: set) -> tuple[dict, bool]:
    """Print and return the per-workload, per-metric verdicts; ``ok`` is
    False if a claimed (workload, metric) is not a gain."""
    report: dict = {}
    ok = True
    for workload in workloads:
        print(f"\n== {workload}")
        for name, m in metrics.items():
            by_seed = {side: {r["seed"]: value(r, name) for r in runs
                              if r["side"] == side and r["workload"] == workload}
                       for side in ("parent", "change")}
            seeds = [s for s, v in by_seed["parent"].items()
                     if v is not None and by_seed["change"].get(s) is not None]
            if not seeds:
                continue
            v = verdict([by_seed["parent"][s] for s in seeds],
                        [by_seed["change"][s] for s in seeds],
                        m["better"], m.get("bound"))
            report.setdefault(workload, {})[name] = v
            claimed = (workload, name) in claims
            ok &= v["verdict"] == "gain" or not claimed
            pq, cq = v["parent_q"], v["change_q"]
            print(f"{'*' if claimed else ' '} {name:42s} parent "
                  f"{pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]  change "
                  f"{cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  wins "
                  f"{v['wins']}/{v['n']}  {v['verdict']}")
    return report, ok


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev", required=True, help="parent revision")
    ap.add_argument("--seeds", required=True, help="'3-12' or '3,5,7'")
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--claim", action="append", default=[],
                    help="workload:metric expected to read 'gain'")
    ap.add_argument("--parent-dir", default=None,
                    help="where to export --rev (default $TMPDIR)")
    ap.add_argument("--json", default=None, help="write every run here")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {m["name"]: m for m in spec[kind]}

    parent_root = export_rev(args.rev, args.parent_dir)
    runs: list[dict] = []
    try:
        for i, seed in enumerate(parse_seeds(args.seeds)):
            for workload in args.workloads:
                sides = [("parent", parent_root), ("change", ROOT)]
                if i % 2:
                    sides.reverse()
                for side, root in sides:
                    r = run_once(root, workload, seed, args.seconds, args.trace)
                    ctx = r["context"]
                    runs.append({"side": side, "workload": workload,
                                 "seed": seed, **r})
                    if args.json:  # keep what ran if a later run fails
                        with open(args.json, "w") as fh:
                            json.dump({"rev": args.rev, "runs": runs}, fh)
                    shown = metrics if kind == "end_to_end" else ()
                    print(f"{workload} seed {seed} {side}: "
                          f"correct={r['correct']} "
                          f"failed={r['failed']}/{r['attempted']} canary="
                          f"{ctx['host_canary_s_start']:.2f}/"
                          f"{ctx['host_canary_s_end']:.2f} "
                          + " ".join(f"{k}={value(r, k):.4g}"
                                     for k in shown if value(r, k) is not None),
                          flush=True)
    finally:
        shutil.rmtree(parent_root, ignore_errors=True)

    claims = {tuple(c.split(":", 1)) for c in args.claim}
    report, ok = summarize(runs, args.workloads, metrics, claims)
    if args.json:
        with open(args.json, "w") as fh:
            json.dump({"rev": args.rev, "runs": runs, "report": report}, fh,
                      indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
