"""Static reachability scan: which engine functions and classes do only
the tests reach?

Walks the AST of every module in the package and builds a NAME-based
reference graph between top-level functions and classes (a class counts
as one unit, its methods' references included). Reachability starts
from the roots the running system has:

- the registered queries (functions decorated ``@query(...)``);
- the streaming shipper (``streaming/pipeline.StreamingShipper``);
- ``control.setup`` and every ``control.maintain*``;
- module-level statements of package modules (they run on import);
- everything in ``__spark_entry__.py``, ``bench.py``, ``scripts/`` and
  ``perfbench/`` (its own tests excluded).

Any use of a name counts as a use of every definition with that name,
so the "test-only" total is a LOWER bound. A definition that is not
reachable from the roots is listed as ``test-only`` when ``tests/``
reaches it and as ``unreferenced`` otherwise.

Usage: python scripts/test_only_scan.py [REPO_ROOT]
(REPO_ROOT defaults to the checkout holding this script; pass another
checkout to compare two trees.)
"""

from __future__ import annotations

import ast
import os
import sys

PKG = "cloudwatch_sematext_aws_lambda_log_shipper_spark"


def _py_files(root: str, sub: str, skip: tuple[str, ...] = ()) -> list[str]:
    base = os.path.join(root, sub)
    if os.path.isfile(base):
        return [base]
    out = []
    for d, dirs, files in os.walk(base):
        dirs[:] = sorted(
            x for x in dirs
            if x != "__pycache__" and os.path.join(d, x) not in skip
        )
        out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    return out


def _names(node: ast.AST) -> set[str]:
    """Every identifier a subtree mentions: bare names, attribute names
    and imported names."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _is_query(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", None) == "query" or getattr(f, "attr", None) == "query":
            return True
    return False


def scan(root: str) -> dict:
    defs: dict[tuple[str, str], dict] = {}
    by_name: dict[str, list[tuple[str, str]]] = {}
    roots: set[str] = set()
    n_queries = 0
    pkg_lines = 0
    for path in _py_files(root, PKG):
        rel = os.path.relpath(path, root)
        src = open(path, encoding="utf-8").read()
        pkg_lines += src.count("\n")
        tree = ast.parse(src)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                first = min(
                    [node.lineno]
                    + [d.lineno for d in node.decorator_list]
                )
                key = (rel, node.name)
                defs[key] = {
                    "lines": node.end_lineno - first + 1,
                    "refs": _names(node) - {node.name},
                }
                by_name.setdefault(node.name, []).append(key)
                if _is_query(node):
                    n_queries += 1
                    roots.add(node.name)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                roots |= _names(node)
    roots |= {"StreamingShipper", "setup"}
    roots |= {
        name for (rel, name) in defs
        if rel.endswith("control.py") and name.startswith("maintain")
    }
    perf_tests = os.path.join(root, "perfbench", "tests")
    for sub, skip in (
        ("__spark_entry__.py", ()),
        ("bench.py", ()),
        ("scripts", ()),
        ("perfbench", (perf_tests,)),
    ):
        for path in _py_files(root, sub, skip):
            roots |= _names(ast.parse(open(path, encoding="utf-8").read()))
    test_names: set[str] = set()
    for path in _py_files(root, "tests"):
        test_names |= _names(ast.parse(open(path, encoding="utf-8").read()))

    def closure(seed: set[str]) -> set[tuple[str, str]]:
        seen: set[tuple[str, str]] = set()
        todo = [k for name in seed for k in by_name.get(name, [])]
        while todo:
            key = todo.pop()
            if key in seen:
                continue
            seen.add(key)
            for name in defs[key]["refs"]:
                todo += by_name.get(name, [])
        return seen

    live = closure(roots)
    from_tests = closure(test_names) - live
    unreferenced = set(defs) - live - from_tests
    return {
        "queries": n_queries,
        "pkg_lines": pkg_lines,
        "defs": defs,
        "test_only": sorted(from_tests),
        "unreferenced": sorted(unreferenced),
    }


def main(argv: list[str]) -> int:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = argv[1] if len(argv) > 1 else here
    r = scan(root)
    defs = r["defs"]
    for label in ("test_only", "unreferenced"):
        keys = r[label]
        for rel, name in keys:
            print(f"{label}\t{defs[(rel, name)]['lines']}\t{rel}:{name}")
    t_lines = sum(defs[k]["lines"] for k in r["test_only"])
    u_lines = sum(defs[k]["lines"] for k in r["unreferenced"])
    print(
        f"# registered queries: {r['queries']}; package lines: "
        f"{r['pkg_lines']}; top-level defs: {len(defs)}"
    )
    print(f"# test-only: {len(r['test_only'])} defs, {t_lines} lines")
    print(f"# unreferenced: {len(r['unreferenced'])} defs, {u_lines} lines")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
