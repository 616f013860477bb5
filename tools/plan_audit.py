"""The plan auditor: one walk over the query corpus that builds each plan
once and keeps only its texts and window hits, never the DataFrame.

Per query it reports:
- plan facts: join strategies, exchange count, codegen spans, pushed
  filters, scan widths, Python stages;
- unpartitioned (empty-OVER) windows.  Spark compiles
  ``fn() OVER (ORDER BY ...)`` to a WindowExec that moves EVERY input row
  to one partition: correct, and fatal once the window input scales with
  the corpus (VERDICT r6).  A window over a Limit-bounded subtree is fine
  at any scale;
- duplicated expressions: each distinct ``regexp_replace(...)`` or
  ``split(...)`` text, and each Python-stage node keyed by the UDF it
  evaluates, that occurs ``DUP_THRESHOLD`` or more times in one plan.  A
  subtree or expression referenced several times is recomputed on every
  reference (VERDICT r15 #8); a persisted subtree is computed once, so
  it counts once however many cache scans print it.

No query result is collected, but building a plan is not free for every
query: the distributed_* helpers run their range-shuffle checkpoint and
count jobs at construction time, so point the audit at a small sf_dir.

Usage: python tools/plan_audit.py [--sf DIR] [--out DIR] [QUERY...]
  --sf   defaults to $SPARK_GRAFT_SF_DIR, as in bench.py
  --out  writes ``explain("formatted")`` per query to DIR/<query>.txt,
         masked by ``mask_for_diff``, so ``diff -r`` of two dumps, taken
         in two checkouts, is a before/after plan check

tests/test_plans.py runs the same walk and pins its results.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from collections import Counter
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DUP_THRESHOLD = 3
PYTHON_STAGES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
_DUP_CALL = re.compile(r"\b(?:regexp_replace|split)\(")
_PY_NODE = re.compile(r"\b(" + "|".join(PYTHON_STAGES) + r")\b")
# "<node> ... <udf>(<args>)#<exprId>": the first call after the node name
_PY_UDF = re.compile(_PY_NODE.pattern + r"[^(]*?(\w+)\(.*?\)(#\d+)")
# Counters that differ between two builds of one plan: expression ids,
# Exchange plan ids, checkpointed RDD ids, and the seed Spark draws for an
# unseeded rand() (a literal seed prints the same way, so it is masked too)
_COUNTERS = (
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
    (re.compile(r"\brand\(-?\d+\)"), "rand(_)"),
)
# scan nodes print the predicates pushed into them; the Filter above them
# evaluates those, so their text is not counted as another evaluation
_SCAN_NODE = re.compile(r"\b(?:InMemoryTableScan|FileScan|BatchScan)\b")


class PlanAudit(NamedTuple):
    windows: "list[dict]"
    plan: str
    formatted: "str | None"


def plan_text(df, mode: str = "simple") -> str:
    """What ``df.explain(mode)`` prints."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def mask_for_diff(plan: str) -> str:
    """``plan`` with every per-build counter replaced by ``_`` and the
    checkout's derived-copy root (``derived.ROOT``, printed in the
    Location of every scan of a compacted or indexed copy) by ``<cache>``.
    Only for the dumps: duplicated() keys Python-stage nodes on their raw
    exprIds."""
    from steampipe_sqlite_spark.derived import ROOT

    plan = plan.replace(ROOT, "<cache>")
    for pattern, repl in _COUNTERS:
        plan = pattern.sub(repl, plan)
    return plan


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


def single_partition_windows(plan: str) -> bool:
    """True when the physical ``plan`` text has a Window operator fed by an
    Exchange SinglePartition: every row sorted in one task (Spark's "No
    Partition Defined" warning), fatal at 100 TB.  A WindowGroupLimit
    between the two is Spark's rank<=k prune, whose single partition gets
    at most k rows per input partition: bounded, not flagged (ADVICE r12,
    code-review r13)."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        # the operator name after the tree-drawing prefix; WindowGroupLimit
        # itself is the prune, not the window
        op = line.lstrip(" :+-*()0123456789")
        if op.startswith("Window") and not op.startswith("WindowGroupLimit"):
            # the child subtree prints directly below the window
            for nxt in lines[i + 1 : i + 4]:
                if "WindowGroupLimit" in nxt:
                    break
                if "Exchange SinglePartition" in nxt:
                    return True
    return False


def facts(plan: str) -> list[str]:
    out = []
    joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)", plan)
    if joins:
        out.append("joins: " + ", ".join(joins))
    out.append(f"exchanges: {plan.count('Exchange')}")
    cg = sorted(set(re.findall(r"\*\((\d+)\)", plan)), key=int)
    out.append(f"codegen spans: {len(cg)}")
    pushed = re.findall(r"PushedFilters: \[([^\]\n]*)", plan)  # toString may truncate the line
    nonempty = [p for p in pushed if p.strip()]
    if nonempty:
        out.append(f"pushed filters: {nonempty[0][:120]}")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    if schemas:
        widths = [len(s.split(",")) for s in schemas]
        out.append(f"scan widths (cols): {widths}")
    stages = sorted(set(_PY_NODE.findall(plan)))
    if stages:
        out.append("python stages: " + ", ".join(stages))
    return out


def _call(line: str, start: int) -> str:
    """The call starting at ``start``, up to its balanced closing paren
    (or the end of the line: literals print unquoted and may hold parens)."""
    depth = 0
    for i in range(line.index("(", start), len(line)):
        if line[i] == "(":
            depth += 1
        elif line[i] == ")":
            depth -= 1
            if depth == 0:
                return line[start : i + 1]
    return line[start:]


def _depth(line: str) -> int:
    """Column where the operator name starts, after the tree drawing."""
    return len(line) - len(line.lstrip(" :+-"))


def duplicated(plan: str) -> "dict[str, int]":
    """Items occurring DUP_THRESHOLD or more times in one plan, outside
    scan nodes: each distinct regexp_replace/split expression text, and
    each Python-stage node as "<node> <udf>#<exprId>" (one UDF application
    evaluated by several nodes keeps its exprId).

    A persisted relation's subtree prints under every InMemoryTableScan
    that reads it, but Spark computes it once, so each distinct cached
    subtree is counted once."""
    seen: Counter = Counter()
    cached: set = set()
    lines = plan.splitlines()
    i = 0
    while i < len(lines):
        line = lines[i]
        i += 1
        if "InMemoryRelation" in line:
            depth = _depth(line)
            end = i
            while end < len(lines) and _depth(lines[end]) > depth:
                end += 1
            subtree = tuple(ln[depth:] for ln in lines[i:end])
            if subtree in cached:
                i = end
                continue
            cached.add(subtree)
        if _SCAN_NODE.search(line):
            continue
        for m in _DUP_CALL.finditer(line):
            seen[_call(line, m.start())] += 1
        if py := _PY_UDF.search(line):
            seen[f"{py.group(1)} {py.group(2)}{py.group(3)}"] += 1
    return {k: n for k, n in seen.items() if n >= DUP_THRESHOLD}


def audit(spark, sf_dir: str, queries: dict, formatted: bool = False):
    """Build each query's plan once.  Returns ({name: PlanAudit} for the
    queries that built, {name: error} for those that raised)."""
    built: dict[str, PlanAudit] = {}
    errors: dict[str, str] = {}
    for name, fn in queries.items():
        try:
            df = fn(spark, sf_dir)
            built[name] = PlanAudit(
                unpartitioned_windows(df),
                plan_text(df),
                plan_text(df, "formatted") if formatted else None,
            )
        except Exception as exc:  # noqa: BLE001 — record, keep auditing
            errors[name] = f"{type(exc).__name__}: {str(exc)[:200]}"
    return built, errors


def main(argv: "list[str] | None" = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    p.add_argument("--out", metavar="DIR")
    p.add_argument("queries", nargs="*", metavar="QUERY")
    args = p.parse_args(argv)
    if not args.sf:
        p.error("--sf DIR (or $SPARK_GRAFT_SF_DIR) is required")

    from steampipe_sqlite_spark.plans.registry import collect
    from steampipe_sqlite_spark.session import get_spark

    queries, _ = collect()
    unknown = [q for q in args.queries if q not in queries]
    if unknown:
        p.error(f"not registered: {unknown}")
    if args.queries:
        queries = {q: queries[q] for q in args.queries}
    built, errors = audit(get_spark("plan-audit"), args.sf, queries, bool(args.out))

    unbounded, dups = [], {}
    for name, a in built.items():
        print(f"{name}: " + "; ".join(facts(a.plan)))
        for w in a.windows:
            print(f"  {'bounded' if w['bounded'] else 'UNBOUNDED'} window: {w['node'][:140]}")
            if not w["bounded"]:
                unbounded.append(name)
        if d := duplicated(a.plan):
            dups[name] = d
            for item, n in sorted(d.items(), key=lambda kv: -kv[1]):
                print(f"  {n}x {item[:140]}")
        if args.out:
            os.makedirs(args.out, exist_ok=True)
            with open(os.path.join(args.out, f"{name}.txt"), "w") as fh:
                fh.write(mask_for_diff(a.formatted))
    for name, err in errors.items():
        print(f"{name}: BUILD ERROR {err}")
    print(
        f"{len(queries)} queries: {len(built)} built, {len(errors)} build errors "
        f"{sorted(errors)}; unbounded global windows in "
        f"{sorted(set(unbounded))}; duplicated expressions (>={DUP_THRESHOLD}x) in "
        f"{len(dups)} plans: "
        + (", ".join(f"{n} {sorted(d.values(), reverse=True)}" for n, d in sorted(dups.items())) or "none")
    )


if __name__ == "__main__":
    main()
