"""Corpus-wide audit for unpartitioned (empty-OVER) window operators.

Spark compiles ``fn() OVER (ORDER BY ...)`` — no PARTITION BY — to a
WindowExec that moves EVERY input row to a single partition ("No
Partition Defined for Window operation" at runtime): correct, and fatal
once the window input scales with the corpus (VERDICT r6).  This audit
walks every corpus query's OPTIMIZED logical plan and reports each
Window node whose partitionSpec is empty, plus whether a Limit node
bounds its input subtree (a global window over an already-top-k'd pool
is fine at any scale).  No query RESULT is collected, but BUILDING a
plan is not free for every query: the distributed_* helper queries run
their range-shuffle checkpoint and per-partition count/total jobs at
construction time, so point the audit at a small sf_dir.

Usage: python tools/window_audit.py [sf_dir] [name ...]

tests/test_plans.py pins the result: every unpartitioned window in the
corpus must sit over a Limit-bounded or aggregate-bounded input, with
the bounded-by-construction names kept in an explicit allowlist.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _walk(node, visit):
    visit(node)
    children = node.children()
    for i in range(children.length()):
        _walk(children.apply(i), visit)
    # subquery plans (scalar subqueries / IN predicates) ride expressions
    subs = node.subqueries()
    for i in range(subs.length()):
        _walk(subs.apply(i), visit)


def unpartitioned_windows(df) -> list[dict]:
    """[{node, bounded}] for every Window with an empty partitionSpec in
    ``df``'s optimized plan.  ``bounded`` is True when a Limit sits
    anywhere in the window's input subtree (the pool the window sorts is
    already fixed-size)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    found = []

    def visit(node):
        if node.nodeName() != "Window":
            return
        if not node.partitionSpec().isEmpty():
            return
        has_limit = []

        def look(n):
            if "Limit" in n.nodeName():
                has_limit.append(n.nodeName())

        child = node.children().apply(0)
        _walk(child, look)
        found.append(
            {
                "node": node.simpleString(120),
                "bounded": bool(has_limit),
            }
        )

    _walk(plan, visit)
    return found


def audit(sf_dir: str, names: list[str] | None = None) -> dict[str, list[dict]]:
    from steampipe_sqlite_spark.plans.registry import collect
    from steampipe_sqlite_spark.session import get_spark

    spark = get_spark("window-audit")
    queries, _ = collect()
    out: dict[str, list[dict]] = {}
    for name, fn in queries.items():
        if names and name not in names:
            continue
        try:
            hits = unpartitioned_windows(fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — report, keep scanning
            out[name] = [{"node": f"ERROR: {exc}", "bounded": False}]
            continue
        if hits:
            out[name] = hits
    return out


if __name__ == "__main__":
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    result = audit(sf_dir, args[1:] or None)
    for name, hits in sorted(result.items()):
        for h in hits:
            tag = "bounded" if h["bounded"] else "UNBOUNDED"
            print(f"{tag:9s}  {name}: {h['node'][:140]}")
    unbounded = {n for n, hs in result.items() if any(not h["bounded"] for h in hs)}
    print(f"\n{len(result)} queries with global windows; "
          f"{len(unbounded)} with no Limit bound: {sorted(unbounded)}")
