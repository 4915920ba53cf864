"""The queries' ``staging=`` declarations must match reality, both ways.

Every prewarm set (bench.py, the tools, perfbench) is derived from the
declarations (registry.staging_consumers).  A consumer missing from a
declaration makes the prewarm skip the build, landing the full staging
build inside that query's first timed rep — the cost-attribution smear
the gating exists to prevent (it happened once in r15: q_ann_mrr was
missing from ann_eval_tables' set).  A declared consumer that never
reads the artifact builds it for nothing.  This test derives the true
consumer sets from the query modules' CALL GRAPH (ast, with transitive
closure through private helpers and through other artifacts' builds)
and asserts they equal the declared ones.
"""

from __future__ import annotations

import ast
from pathlib import Path

from level2_to_cassandra_spark.registry import all_queries, staging_consumers

REPO = Path(__file__).resolve().parent.parent
QUERY_PKG = REPO / "level2_to_cassandra_spark" / "queries"


def _call_names(node: ast.AST) -> set[str]:
    """All function names called anywhere under ``node`` — plain
    ``f(...)`` and attribute ``mod.f(...)`` forms both key by the
    bare function name (helper names are unique across the package)."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Call):
            f = n.func
            if isinstance(f, ast.Name):
                out.add(f.id)
            elif isinstance(f, ast.Attribute):
                out.add(f.attr)
    return out


def test_staging_declarations_match_call_graph():
    # caller -> callees over every top-level function in the package
    calls: dict[str, set[str]] = {}
    for mod in sorted(QUERY_PKG.glob("*.py")):
        tree = ast.parse(mod.read_text())
        for node in tree.body:
            if isinstance(node, ast.FunctionDef):
                calls.setdefault(node.name, set()).update(_call_names(node))

    def reaches(fn: str, target: str, seen: frozenset = frozenset()) -> bool:
        if fn in seen or fn not in calls:
            return False
        direct = calls[fn]
        if target in direct:
            return True
        return any(
            reaches(h, target, seen | {fn})
            for h in direct
            if h in calls and h != fn
        )

    fn_names = {name: q.fn.__name__ for name, q in all_queries().items()}
    mismatched = {}
    for label, (build, declared) in staging_consumers().items():
        derived = {n for n, f in fn_names.items()
                   if reaches(f, build.__name__)}
        if derived != declared:
            mismatched[label] = {"undeclared": sorted(derived - declared),
                                 "never read": sorted(declared - derived)}
    assert not mismatched, (
        "staging= declarations disagree with the call graph: "
        f"{mismatched}")
