"""Layout advisor: recommend the optimize_layout axis per table from a
workload's physical plans.

:func:`tables.optimize_layout` (round 11) gives the engine three layout
axes — bucketed, hive-partitioned, sorted/Z-ordered — but makes the caller
pick.  The decision rule lives in its docstring table; this module
AUTOMATES it: given a workload (query name -> plan builder), it reads each
query's physical plan, attributes shuffle keys and pushed filters to the
base tables they touch, classifies each table's dominant access pattern,
and emits ranked, evidence-carrying recommendations whose
``suggested_call`` is a ready-to-run optimize_layout invocation.

This is plan ANALYSIS only: no query is executed, no data moves.  Two
bounded data-touching steps remain, BOTH disabled by
``estimate_ndv=False`` (the zero-data-touch mode): an
approx_count_distinct per equality-filtered candidate column (the
low/high cardinality fork in the decision rule) and one metadata row
count per candidate table (prices the informational ``est_ingest_s``
field — parquet counts come from footers, not scans; the payback RANK
itself is row-independent and never needs it).

The analysis reads the same physical-plan facts the plan-proof tests pin
(tests/test_plans.py, tools/plan_audit.py): ``Exchange
hashpartitioning(...)`` nodes are where joins/aggregations shuffle — a
bucketed layout on that key removes them (measured q3 1.46x / q18 1.65x at
100x, tools/bucketed_layout_probe.py); ``PushedFilters`` on a scan are
what partition pruning (1.89x at 100M) or footer-stats skipping (2.4-3.8x
at 100M) would accelerate.  At 100 TB this is exactly the evidence a
lakehouse OPTIMIZE advisor uses: recommend ingest-time clustering only
where the workload's repeated plan shapes prove it pays.
"""

from __future__ import annotations

import os
import re
from collections import defaultdict
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# recommend partition_by only up to this many distinct values — beyond it
# the directory count explodes and footer-stats sorting wins (the same
# ~10^3 bound as optimize_layout's decision table)
_PARTITION_NDV_MAX = 1_000

# Estimated ingest cost per MILLION rows, by axis — derived from the
# committed probe readings (BASELINE.md), so the benefit/cost rank prices
# the premium the decision table previously carried only in prose
# (VERDICT r12 #4):
#   partition_by: 9.3 s / 100M events (partition_prune_probe)  ~0.1 s/M
#   order_by, single column: 18.1 s / 100M (zorder_skip_probe) ~0.18 s/M
#   order_by, Z-order mix:   215 s / 100M (zorder_skip_probe)  ~2.15 s/M
#   bucket_by: 15.3-38.4 s / 60M lineitem + 6.3-16.3 s / 15M orders
#              (bucketed_layout_probe)                         ~0.45 s/M
# Coarse per-row linearizations of one box's readings — good enough to
# rank (the Z-order premium is a ~10x factor, not a 10% one), not to
# predict wall-clock on other hardware.
_INGEST_S_PER_MROW = {
    "bucket_by": 0.45,
    "partition_by": 0.10,
    "order_by": 0.18,
    "order_by_zorder": 2.15,
}

# Per-query benefit weight per axis: the measured quiet-window speedup
# minus 1 (the fraction of a query's wall the layout saves), from the
# same probes — bucket 1.47-2.04x quiet (4.5-8.7x loaded; the quiet
# midpoint is used, conservatively), partition 1.35-1.89x, sorted
# 2.4x on a selective 1-col range filter, Z-order 3.8x on the 2-col
# mix.  Benefit = count x weight; payback = benefit / est_ingest_s.
_BENEFIT_WEIGHT = {
    "bucket_by": 1.0,
    "partition_by": 0.6,
    "order_by": 1.4,
    "order_by_zorder": 2.8,
}

_COLREF_RE = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)#\d+")
_SCAN_TABLE_RE = re.compile(r"[/\[](?:[0-9a-f]{8,}-)?([A-Za-z_][A-Za-z0-9_]*)\.parquet")
_READSCHEMA_RE = re.compile(r"ReadSchema: struct<([^>\n]*)(>?)")
# elision INSIDE the Location bracket (no closing ] before the "..."):
# distinguishes a clipped path from "..." produced by filter-list
# truncation elsewhere on the same scan line
_LOC_ELIDED_RE = re.compile(r"Location: [^\[\n]*\[[^\]\n]*\.\.\.")
_PUSHED_RE = re.compile(r"PushedFilters: \[([^\]\n]*)")
_DATAFILTERS_RE = re.compile(r"DataFilters: \[([^\]\n]*)")
_PRED_RE = re.compile(
    r"(EqualTo|EqualNullSafe|In|GreaterThanOrEqual|GreaterThan|"
    r"LessThanOrEqual|LessThan|StringStartsWith)\(([A-Za-z_][A-Za-z0-9_]*)"
)
_EQ_PREDS = {"EqualTo", "EqualNullSafe", "In"}
_RANGE_PREDS = {"GreaterThan", "GreaterThanOrEqual", "LessThan", "LessThanOrEqual"}
# DataFilters spell predicates as lowercase expressions over col#id refs —
# "(l_shipdate#10 >= 1994-01-01)", "(l_orderkey#0L = 5)", "l_x#1 IN (…)".
# The column ref precedes the operator, so these survive the toString
# field truncation that clips PushedFilters entries mid-name.
_DF_RANGE_RE = re.compile(r"\(([A-Za-z_][A-Za-z0-9_]*)#\d+L? (?:>=|<=|>|<) ")
_DF_EQ_RE = re.compile(r"\(([A-Za-z_][A-Za-z0-9_]*)#\d+L? = ")
_DF_IN_RE = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)#\d+L? IN ")


def _plan_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _scan_facts(plan: str, known_cols: dict[str, set[str]]) -> dict[str, dict]:
    """Per-table filter facts from the plan's parquet scans.

    Reads BOTH PushedFilters (typed predicate names) and DataFilters
    (expression spelling) per scan line: toString truncates long filter
    lists, and the two fields truncate at different points, so the union
    recovers what either alone would drop.  Every extracted name is
    validated against the table's actual columns — a name clipped
    mid-token ("l_shipda") must not become evidence.

    Attribution is two-step: the "<table>.parquet" path segment when the
    plan shows it, else the scan's ReadSchema column set matched to a
    UNIQUE owner among the known tables.  The fallback exists because
    plan toString ELIDES long location paths (".../deep/dir/ev...") —
    without it, a deep sf_dir silently dropped every scan fact and the
    advisor emitted nothing (found via pytest's tmp_path in r13).
    Ambiguous column sets are skipped, never guessed."""
    facts: dict[str, dict] = {}
    for line in plan.splitlines():
        if "Scan parquet" not in line and "FileScan parquet" not in line:
            continue
        m = _SCAN_TABLE_RE.search(line)
        if m and m.group(1) in known_cols:
            table = m.group(1)
        elif _LOC_ELIDED_RE.search(line):
            # the fallback applies ONLY to ELIDED locations (an unclosed
            # "..." inside the Location bracket): a complete path naming
            # an unknown table is a FOREIGN scan, and attributing it by
            # column subset would fabricate layout evidence for a table
            # the filters were never applied to (code-review r13; the
            # Location-bracket match also keeps "..." from a truncated
            # FILTER LIST on a foreign scan from re-opening the hole)
            rs = _READSCHEMA_RE.search(line)
            if not rs:
                continue
            parts = [p for p in rs.group(1).split(",") if ":" in p]
            if not rs.group(2) and parts:
                parts = parts[:-1]  # struct clipped mid-entry: drop it
            scan_cols = {p.split(":", 1)[0].strip() for p in parts}
            owners = [
                t for t, cs in known_cols.items()
                if scan_cols and scan_cols <= cs
            ]
            if len(owners) != 1:
                continue
            table = owners[0]
        else:
            continue
        cols = known_cols[table]
        entry = facts.setdefault(table, {"eq": set(), "range": set()})
        pf = _PUSHED_RE.search(line)
        if pf:
            for kind, col in _PRED_RE.findall(pf.group(1)):
                if col not in cols:
                    continue
                if kind in _EQ_PREDS:
                    entry["eq"].add(col)
                elif kind in _RANGE_PREDS:
                    entry["range"].add(col)
                # IsNotNull / StringStartsWith carry no layout signal
        dfil = _DATAFILTERS_RE.search(line)
        if dfil:
            body = dfil.group(1)
            entry["range"].update(c for c in _DF_RANGE_RE.findall(body) if c in cols)
            entry["eq"].update(c for c in _DF_EQ_RE.findall(body) if c in cols)
            entry["eq"].update(c for c in _DF_IN_RE.findall(body) if c in cols)
    return facts


def _shuffle_keys(plan: str) -> list[tuple[str, ...]]:
    """Column-name tuples of every hash-partitioned exchange in the plan.

    The argument list is extracted with a balanced-paren walk, not a
    ``[^)]*`` regex: a nested expression key like
    ``hashpartitioning(coalesce(a#1, b#2), c#3, 200)`` closes its inner
    paren before the list ends, and a regex stopping at the first ``)``
    would silently drop every column after it."""
    keys = []
    start = 0
    token = "hashpartitioning("
    while True:
        i = plan.find(token, start)
        if i < 0:
            break
        j = i + len(token)
        depth = 1
        while j < len(plan) and depth:
            if plan[j] == "(":
                depth += 1
            elif plan[j] == ")":
                depth -= 1
            j += 1
        if depth:
            # clipped plan string (maxPlanStringLength): the list never
            # closes, and a body spanning subsequent plan nodes would
            # FABRICATE shuffle-key columns from their col refs — skip
            # the truncated occurrence instead (under-counting is safe,
            # inventing evidence is not)
            break
        body = plan[i + len(token) : j - 1]
        cols = tuple(cm.group(1) for cm in _COLREF_RE.finditer(body))
        if cols:
            keys.append(cols)
        start = j
    return keys


_BHJ_RE = re.compile(r"BroadcastHashJoin \[([^\]]*)\], \[([^\]]*)\]")


def _plan_scale_hazards(plan: str) -> set[str]:
    """Plan-level scale killers, independent of any layout axis:

    - ``single_partition_window``: a Window operator fed by an Exchange
      SinglePartition — the empty-OVER global window that moves EVERY row
      to one task (Spark's own "No Partition Defined" warning).  Works at
      sample scale, fatal at 100 TB; operators/scale.distributed_row_number
      / distributed_running_sum are the engine's replacements.
    - ``cartesian_product``: an unconditioned SHUFFLED join — quadratic
      row count.  (The engine's own 290-query corpus is pinned to zero of
      these by tests/test_plans.py; user workloads get the same check
      here.)  A broadcast cross join (BroadcastNestedLoopJoin) is
      deliberately NOT flagged: it is bounded by the broadcast threshold
      by construction, and the scalar 1-row crossJoin is a legitimate
      pattern this engine itself uses.
    """
    hazards = set()
    if "CartesianProduct" in plan:
        hazards.add("cartesian_product")
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        # operator name match, not substring-of-anything: 'Window ' /
        # 'WindowExec' head after tree-drawing prefix
        stripped = line.lstrip(" :+-*()0123456789")
        # Match only the actual Window operator, not WindowGroupLimit —
        # the group-limit prune (rank<=k pushdown) is not the
        # all-rows-to-one-task shape even when an Exchange
        # SinglePartition sits below it (ADVICE r12).
        if stripped.startswith("Window") and not stripped.startswith(
            "WindowGroupLimit"
        ):
            # the child subtree prints directly below; a global window's
            # immediate input is the all-to-one exchange.  A
            # WindowGroupLimit BETWEEN the window and the exchange means
            # Spark planned the rank<=k prune (partial below the
            # exchange, final above): the single partition receives at
            # most k rows per input partition, not the whole dataset —
            # bounded, not the hazard (code-review r13: the real plan is
            # Window / WindowGroupLimit / Sort / Exchange, so excluding
            # only the WindowGroupLimit line itself wasn't enough).
            for nxt in lines[i + 1 : i + 4]:
                if "WindowGroupLimit" in nxt:
                    break  # group-limit-pruned input: bounded
                if "Exchange SinglePartition" in nxt:
                    hazards.add("single_partition_window")
                    break
    return hazards


def _broadcast_join_keys(plan: str) -> list[tuple[str, ...]]:
    """Column-name tuples of every broadcast-hash-join key pair."""
    out = []
    for m in _BHJ_RE.finditer(plan):
        cols = tuple(
            cm.group(1)
            for side in m.groups()
            for cm in _COLREF_RE.finditer(side)
        )
        if cols:
            out.append(cols)
    return out


def advise_layout(
    spark: SparkSession,
    sf_dir: str,
    workload: dict[str, "Callable[[SparkSession, str], DataFrame] | DataFrame"],
    estimate_ndv: bool = True,
    with_notes: bool = False,
    observed_s: "dict[str, float] | None" = None,
) -> "list[dict] | tuple[list[dict], list[dict]]":
    """Rank layout recommendations for ``sf_dir``'s tables under
    ``workload`` (query name -> builder fn or already-built DataFrame).

    Returns a list of dicts, highest-evidence first::

        {"table": ..., "axis": "bucket_by"|"partition_by"|"order_by",
         "columns": [...], "evidence": {"queries": [...], "count": N, ...},
         "suggested_call": "optimize_layout(spark, sf_dir, ...)"}

    Rules (the optimize_layout docstring table, mechanized):

    - a column that is BOTH a repeated shuffle key and a table's column
      -> ``bucket_by`` (removes the exchange on every such query);
    - repeated equality/IN pushed filters on a low-cardinality column
      (approx NDV <= 1000) -> ``partition_by``;
    - range filters on one high-cardinality column -> ``order_by=[col]``;
    - a MIX of filtered columns (>= 2 across the workload) with at least
      one range or high-cardinality equality -> ``order_by`` Z-order over
      the mix (capped at 3 columns — Morton bits dilute beyond that).

    One recommendation per table (the single strongest axis — deploys are
    one-axis-per-call by design); tables with no repeated signal are
    omitted.  Evidence counts QUERIES, not plan nodes: ten exchanges in
    one query still argue less than one exchange in ten queries.

    ``with_notes=True`` additionally returns SCALE NOTES: broadcast-join
    keys seen in the workload's plans.  Recommendations are derived from
    the plans at THIS sf_dir, and a join that broadcasts at sample scale
    becomes a hash-exchange sort-merge join when the build side outgrows
    the broadcast threshold at production scale — those keys are
    tomorrow's bucket candidates even though today's plans show no
    exchange on them.  Notes are informational (per-key tables/queries),
    never auto-deployed: whether the build side grows is a fact about
    the data's future, not the plan.
    """
    from steampipe_sqlite_spark.tables import ALL_TABLES, load_table

    known = {
        t for t in ALL_TABLES
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))
    }
    known_cols = {t: set(load_table(spark, sf_dir, t).columns) for t in known}
    col_owner: dict[str, set[str]] = defaultdict(set)
    for t, cols in known_cols.items():
        for c in cols:
            col_owner[c].add(t)

    # per (table, column) query-sets per signal kind
    shuffle_q: dict[tuple[str, str], set[str]] = defaultdict(set)
    eq_q: dict[tuple[str, str], set[str]] = defaultdict(set)
    range_q: dict[tuple[str, str], set[str]] = defaultdict(set)
    bhj_q: dict[tuple[str, str], set[str]] = defaultdict(set)
    hazard_q: dict[str, set[str]] = defaultdict(set)

    for qname, q in workload.items():
        df = q if isinstance(q, DataFrame) else q(spark, sf_dir)
        plan = _plan_string(df)
        scans = _scan_facts(plan, known_cols)
        for table, entry in scans.items():
            for col in entry["eq"]:
                eq_q[(table, col)].add(qname)
            for col in entry["range"]:
                range_q[(table, col)].add(qname)
        scanned = set(scans)
        try:
            # path-elision fallback for shuffle/broadcast attribution:
            # inputFiles() returns FULL paths even when the plan string
            # elides them (same r13 deep-sf_dir failure as _scan_facts)
            scanned |= {
                t
                for f in df.inputFiles()
                for t in known
                if f"/{t}.parquet" in f or f.endswith(f"/{t}.parquet")
            }
        except Exception:  # noqa: BLE001 — non-file relations have no files
            pass
        for cols in _shuffle_keys(plan):
            for col in cols:
                # attribute the shuffle key to scanned tables owning the
                # column — renamed/derived keys don't resolve, correctly
                for table in col_owner.get(col, set()) & scanned:
                    shuffle_q[(table, col)].add(qname)
        if with_notes:
            for cols in _broadcast_join_keys(plan):
                for col in cols:
                    for table in col_owner.get(col, set()) & scanned:
                        bhj_q[(table, col)].add(qname)
            for hazard in _plan_scale_hazards(plan):
                hazard_q[hazard].add(qname)

    ndv_cache: dict[tuple[str, str], int] = {}

    def _ndv(table: str, col: str) -> int:
        key = (table, col)
        if key not in ndv_cache:
            if not estimate_ndv:
                ndv_cache[key] = _PARTITION_NDV_MAX + 1  # assume high
            else:
                from pyspark.sql import functions as F

                ndv_cache[key] = load_table(spark, sf_dir, table).agg(
                    F.approx_count_distinct(col)
                ).first()[0]
        return ndv_cache[key]

    rows_cache: dict[str, int] = {}

    def _rows(table: str) -> int:
        # parquet metadata count — one cheap job per candidate table
        if table not in rows_cache:
            rows_cache[table] = load_table(spark, sf_dir, table).count()
        return rows_cache[table]

    def _cost_benefit(
        table: str, axis: str, columns: list, count: int, queries=None
    ):
        """(est_ingest_s, payback) for a candidate — so a Z-order whose
        2.15 s/M ingest premium is ~5x a bucket's 0.45 s/M can no longer
        outrank it on bare evidence count (VERDICT r12 #4).

        est_ingest_s (informational, surfaced on the rec) is rows x the
        probe-derived per-row axis factor; with ``estimate_ndv=False``
        (the documented zero-data-touch mode) the row count is skipped
        and est_ingest_s is None — the payback rank needs no rows
        (code-review r13).  The default payback RANK is
        count x benefit_weight / ingest_factor — row-INDEPENDENT, because
        both sides of the ratio scale linearly with the table: the
        seconds a layout saves grow with the rows the queries scan
        (speedup is multiplicative on scan-dominated wall), and the
        ingest cost grows with the rows written, so rows cancel.  A
        rank that divided by absolute ingest seconds would let a big
        table's cheap-axis rec lose to a tiny table's expensive-axis rec
        even when the big table's measured saved-s-per-ingest-s is
        higher — the opposite of measured payback.

        With ``observed_s`` (query name -> measured wall seconds — a DBA
        has these for their own workload), the benefit side is priced in
        MEASURED seconds instead of bare query count:
        payback = weight x sum(evidence walls) / est_ingest_s.  Count
        weighting treats a floor-bound 0.15 s trio as three full units
        and a multi-second pair as two — the r14 payback-probe inversion
        (orders partition ranked over the lineitem bucket that measured
        1.7x its payback); seconds weighting ranks by the time the
        layout can actually return.  Needs rows (estimate_ndv=True) for
        the ingest denominator; otherwise falls back to the count rank."""
        kind = (
            "order_by_zorder"
            if axis == "order_by" and len(columns) > 1
            else axis
        )
        est = (
            max(round(_rows(table) / 1e6 * _INGEST_S_PER_MROW[kind], 2), 0.01)
            if estimate_ndv
            else None
        )
        if observed_s is not None and est is not None and queries:
            walls = [observed_s[q] for q in queries if q in observed_s]
            if walls:
                return est, sum(walls) * _BENEFIT_WEIGHT[kind] / est
        return est, count * _BENEFIT_WEIGHT[kind] / _INGEST_S_PER_MROW[kind]

    recs = []
    for table in sorted(known):
        candidates = []
        # bucket: strongest shuffle-key column
        t_shuffle = {c: qs for (t, c), qs in shuffle_q.items() if t == table}
        if t_shuffle:
            col, qs = max(t_shuffle.items(), key=lambda kv: (len(kv[1]), kv[0]))
            if len(qs) >= 2:  # repeated — one-shot shuffles don't pay ingest
                est, payback = _cost_benefit(table, "bucket_by", [col], len(qs), qs)
                candidates.append(
                    {
                        "axis": "bucket_by",
                        "columns": [col],
                        "score": len(qs),
                        "est_ingest_s": est,
                        "_payback": payback,
                        "evidence": {
                            "signal": "exchange hashpartitioning",
                            "queries": sorted(qs),
                            "count": len(qs),
                        },
                        "suggested_call": (
                            f"optimize_layout(spark, {sf_dir!r}, {table!r}, "
                            f"bucket_by={col!r}, buckets=64)"
                        ),
                    }
                )
        t_eq = {c: qs for (t, c), qs in eq_q.items() if t == table}
        t_range = {c: qs for (t, c), qs in range_q.items() if t == table}
        filter_cols = {
            c: (t_eq.get(c, set()) | t_range.get(c, set()))
            for c in set(t_eq) | set(t_range)
        }
        repeated = {c: qs for c, qs in filter_cols.items() if len(qs) >= 2}
        if repeated:
            mix = sorted(repeated, key=lambda c: (-len(repeated[c]), c))
            top = mix[0]
            qs = repeated[top]
            if top in t_eq and top not in t_range and _ndv(table, top) <= _PARTITION_NDV_MAX:
                est, payback = _cost_benefit(table, "partition_by", [top], len(qs), qs)
                candidates.append(
                    {
                        "axis": "partition_by",
                        "columns": [top],
                        "score": len(qs),
                        "est_ingest_s": est,
                        "_payback": payback,
                        "evidence": {
                            "signal": "pushed equality/IN filters, "
                            f"ndv<={_PARTITION_NDV_MAX}",
                            "queries": sorted(qs),
                            "count": len(qs),
                        },
                        "suggested_call": (
                            f"optimize_layout(spark, {sf_dir!r}, {table!r}, "
                            f"partition_by={top!r})"
                        ),
                    }
                )
            else:
                cols = mix[:3] if len(mix) >= 2 else [top]
                label = "Z-order filter mix" if len(cols) > 1 else "range filters"
                covered = set().union(*(repeated[c] for c in cols))
                est, payback = _cost_benefit(table, "order_by", cols, len(covered), covered)
                candidates.append(
                    {
                        "axis": "order_by",
                        "columns": cols,
                        "score": len(covered),
                        "est_ingest_s": est,
                        "_payback": payback,
                        "evidence": {
                            "signal": label,
                            "queries": sorted(covered),
                            "count": len(covered),
                        },
                        "suggested_call": (
                            f"optimize_layout(spark, {sf_dir!r}, {table!r}, "
                            f"order_by={cols!r})"
                        ),
                    }
                )
        if candidates:
            # primary rank: estimated PAYBACK (benefit/ingest-cost, both
            # priced from the committed probe readings — VERDICT r12 #4);
            # evidence count then axis preference break ties (bucket_by
            # preferred: exchange elimination measured the largest
            # loaded-window payoff, q3/q18 4.5-8.7x)
            pref = {"bucket_by": 2, "partition_by": 1, "order_by": 0}
            candidates.sort(
                key=lambda c: (c["_payback"], c["score"], pref[c["axis"]]),
                reverse=True,
            )
            best, rest = candidates[0], candidates[1:]
            # deploys are one-axis-per-call, but the runner-up axis is
            # still real evidence (e.g. a table both joined-on and
            # range-filtered) — surface it rather than silently dropping
            for c in rest:
                c.pop("score")
                c.pop("_payback")
            recs.append({"table": table, **best, "alternatives": rest})
    recs.sort(key=lambda r: (-r["_payback"], r["table"]))
    for r in recs:
        r.pop("score")
        r.pop("_payback")
    if not with_notes:
        return recs
    # suppress a note ONLY when the key carries an EMITTED bucket
    # recommendation (top slot or alternative) — not on mere shuffle
    # evidence: a key below the >=2 threshold, or one that lost the
    # per-table slot, has no rec, and hiding its note too would make
    # real join-key evidence completely invisible
    recommended = set()
    for r in recs:
        for cand in (r, *r.get("alternatives", [])):
            if cand["axis"] == "bucket_by":
                recommended.update((r["table"], c) for c in cand["columns"])
    notes = [
        {
            "table": table,
            "column": col,
            "kind": "broadcast_join_key",
            "queries": sorted(qs),
            "note": (
                "broadcast-join key at this scale; becomes a hash exchange "
                "when the build side outgrows the broadcast threshold — "
                f"bucket_by {col!r} candidate at production scale"
            ),
        }
        for (table, col), qs in sorted(bhj_q.items())
        if (table, col) not in recommended
    ]
    _HAZARD_NOTES = {
        "single_partition_window": (
            "global (empty-OVER) window: Exchange SinglePartition moves "
            "every row to one task — fatal at scale; rewrite with "
            "operators.scale.distributed_row_number / "
            "distributed_running_sum"
        ),
        "cartesian_product": (
            "unconditioned join plans a CartesianProduct — quadratic rows; "
            "add an equi/range condition or a blocking key"
        ),
    }
    notes += [
        {
            "table": None,
            "column": None,
            "kind": hazard,
            "queries": sorted(qs),
            "note": _HAZARD_NOTES[hazard],
        }
        for hazard, qs in sorted(hazard_q.items())
    ]
    return recs, notes
