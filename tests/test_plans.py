"""Physical-plan shape assertions — the properties that keep these queries
scalable (pushdown, pruning, broadcast, partial agg, codegen, shuffle-free
map stages) must not regress."""

import re

import pytest

from steampipe_sqlite_spark.plans.registry import collect
from steampipe_sqlite_spark.tables import load_table
from tools.plan_audit import audit, duplicated, mask_for_diff, plan_text, single_partition_windows

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries():
    q, _ = collect()
    return q


@pytest.fixture(scope="module")
def corpus_plans(spark, queries):
    """{name: PlanAudit(windows, plan)} for every corpus query that builds,
    each plan built once for all corpus-wide tests below.  Build errors are
    other tests' job, so a query that raises is simply absent.  Earlier test
    modules leave cached DataFrames in the shared session (a cached
    documents scan, for one), and an InMemoryRelation changes the plans
    built over it, so the walk starts from an empty cache."""
    spark.catalog.clearCache()
    built, _ = audit(spark, SF_DIR, queries)
    return built


def test_q6_filters_reach_the_parquet_scan(spark, queries):
    p = plan_text(queries["tpch_q6"](spark, SF_DIR), "formatted")
    assert "GreaterThanOrEqual(l_shipdate" in p, "shipdate range not pushed"
    assert "LessThan(l_quantity,24.0)" in p, "quantity filter not pushed"
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert sorted(cols) == ["l_discount", "l_extendedprice", "l_quantity", "l_shipdate"], (
        f"scan reads {cols}, not just the 4 needed columns"
    )


def test_q5_small_dims_broadcast(spark, queries):
    p = plan_text(queries["tpch_q5"](spark, SF_DIR))
    joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", p)
    assert joins, "no joins in plan?"
    assert all(j == "BroadcastHashJoin" for j in joins), (
        f"dims should all broadcast at this scale: {joins}"
    )


def test_no_tpch_query_broadcasts_lineitem(spark, queries):
    """Join-order convention (plans/tpch.py header): the fact table must
    STREAM — a BroadcastExchange whose subtree scans lineitem.parquet is
    the broadcast-the-fact-table plan that dies at 100×.  Raw-lineitem
    broadcasts are banned; aggregated subtrees (HashAggregate between the
    broadcast and the scan, e.g. q17's per-part threshold, q18's big
    orders, q20's semi-join set) reduce to key cardinality first and are
    allowed."""
    offenders = {}
    for name in [n for n in queries if n.startswith("tpch_q")]:
        plan = queries[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "BroadcastExchange" not in ln:
                continue
            depth = len(ln) - len(ln.lstrip())
            aggregated = False
            for l2 in lines[i + 1 :]:
                d2 = len(l2) - len(l2.lstrip())
                if l2.strip() and d2 <= depth:
                    break
                if "HashAggregate" in l2:
                    aggregated = True
                if "lineitem.parquet" in l2 and not aggregated:
                    offenders[name] = ln.strip()[:60]
                    break
    assert not offenders, f"raw lineitem broadcast by: {offenders}"


def test_q1_aggregates_partially_mapside_in_codegen(spark, queries):
    df = queries["tpch_q1"](spark, SF_DIR)
    p = plan_text(df)
    assert "partial_sum" in p, "no map-side partial aggregation"
    # AQE finalizes the plan only at execution; the executed plan carries
    # the *(n) whole-stage-codegen markers
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"\*\(\d+\)", executed), "no whole-stage codegen spans"


def test_knn_bruteforce_broadcasts_the_query_side(spark, queries):
    p = plan_text(queries["knn_cosine_bruteforce"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p, "corpus×queries must not shuffle-cross"
    # the BUILD side must be the query subset (vec_id < 10), never the
    # corpus: a corpus broadcast OOMs every executor at scale.  In the
    # tree string the broadcast subtree follows the BroadcastExchange
    # node; the streamed corpus scan precedes it.
    after_bx = p.split("BroadcastExchange", 1)[1]
    assert "< 10" in after_bx, "broadcast side is not the query subset:\n" + p[:2000]


def test_multimodal_decode_is_shuffle_free(spark):
    from steampipe_sqlite_spark.operators.multimodal import (
        decode_image_meta,
        synthesize_media,
    )

    docs = load_table(spark, SF_DIR, "documents")
    # the operator itself (no orderBy) must be a pure map pipeline
    p = plan_text(decode_image_meta(synthesize_media(docs)))
    assert "MapInPandas" in p
    assert "Exchange" not in p, "decode path should not shuffle"


def test_oph_signatures_one_exchange_no_object_agg(spark):
    """Optimization r14: the OPH bucket pivot runs as 64 conditional mins
    inside ONE codegen'd hash aggregate — one id exchange (plus the tiny
    doc-spread repartition), and no ObjectHashAggregate (the r13
    collect_list/map shape defeated codegen and paid a second exchange:
    1.17 s -> 0.77 s at sf0.1)."""
    from steampipe_sqlite_spark.operators.dedup import minhash_signatures_oph

    docs = load_table(spark, SF_DIR, "documents")
    p = plan_text(minhash_signatures_oph(docs, "text", "doc_id", 64, 5, "md5"))
    assert "ObjectHashAggregate" not in p, p[:1500]
    assert p.count("Exchange") <= 2, p[:1500]  # spread + id agg, no more
    assert "partial_min" in p, "bucket mins must fold map-side"


def test_ppjoin_tokenizes_the_corpus_once(spark, queries):
    """Optimization r14: the per-doc shingle array is persisted once and
    feeds the prefix ranking, both candidate-join sides, and the verify
    arrays — the corpus parquet is scanned ONCE (the r13 plan recomputed
    the normalize+split+shingle pipeline four times: 1.65 s -> 1.20 s at
    sf0.1)."""
    plan = (
        queries["dedup_ppjoin_exact"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("InMemoryTableScan") >= 3, plan.count("InMemoryTableScan")
    # one scan feeding the cached shingle frame; no other documents read
    # (the InMemoryRelation's stored build plan prints that one FileScan
    # inside the first InMemoryTableScan node, hence <= 2 occurrences of
    # the string vs the r13 plan's 3 independent corpus scans)
    assert plan.count("FileScan parquet") <= 2, plan.count("FileScan parquet")


def test_exact_substrings_caches_norms_and_avoids_count_distinct(spark, queries):
    """Optimization r15: duplicated_span_stats persists the normalized
    corpus once (three plan references used to re-run the regex chain:
    both gram pipelines + the lengths join; 4.6 s -> 2.0 s noop at
    sf0.1), and the >=2-distinct-docs test is min(id) != max(id) — one
    map-side-partial hash aggregate where count(DISTINCT id) planned an
    extra (h, id) dedup aggregate and its exchange."""
    plan = (
        queries["dedup_exact_substrings"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("InMemoryTableScan") >= 3, plan.count("InMemoryTableScan")
    assert "count(distinct" not in plan.lower(), "dup-hash filter regressed to countDistinct"
    assert "partial_min" in plan and "partial_max" in plan, (
        "dup-hash min/max must aggregate map-side"
    )


def test_asof_join_has_no_join_node(spark, queries):
    """The as-of form must plan as ONE keyed shuffle + sort — no join
    operator, certainly no nested loop.  Since r8 the same-source fast
    path also means ONE scan: no Union node and a single parquet read
    (the purchase and click sides are CASE-tagged from one events pass)."""
    p = plan_text(queries["join_asof_events"](spark, SF_DIR))
    assert "Join" not in p, p[:1500]
    assert p.count("Exchange hashpartitioning") == 1
    assert "Union" not in p, "same-source as-of must not union two scans"
    assert p.count("Scan parquet") == 1, "same-source as-of must scan once"


def test_range_join_is_hash_not_nested_loop(spark, queries):
    p = plan_text(queries["join_range_binned"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, (
        "range join degenerated to a nested loop"
    )
    assert "Join" in p  # an actual equi-join on the bins


def test_aqe_parity_on_representative_queries(spark, queries):
    """At cluster data volumes AQE is always on (session.py gates it off
    only below 1 GiB input) — prove the adaptive path returns the same
    rows as the static path for a join-heavy, a window, and a
    dedup-pipeline query.  adaptive.enabled is runtime-settable, so this
    exercises real AQE re-planning in the same session."""
    names = ["tpch_q5", "win_running_sum", "dedup_exact"]
    baseline = {}
    for n in names:
        fn = queries[n]
        baseline[n] = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        for n in names:
            fn = queries[n]
            got = sorted(map(tuple, fn(spark, SF_DIR).collect()))
            assert got == baseline[n], f"AQE changed {n}'s result"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "false")


# Bounded final results only (aggregates / top-k): presentation_sort's
# coalesce(1) is safe ONLY above a shuffle whose output no longer scales
# with the input.
PRESENT_SORT_QUERIES = [
    "tpch_q1", "tpch_q5", "tpch_q9", "window_tumbling_1h",
    "knn_cosine_bruteforce", "knn_cosine_blas", "knn_cosine_ivf",
    "curation_pipeline",
]

# Unbounded (per-row / per-pair / per-component) outputs: the parallel
# range sort IS the scale path — presentation_sort here would single-task
# both the sort and, because coalesce(1) narrows the whole post-shuffle
# stage, the keyed window/join computation itself (ADVICE r4, medium).
UNBOUNDED_SORT_QUERIES = [
    "win_running_sum", "win_first_nth_value", "join_asof_events",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_exact_substrings",
    "curation_keep_list", "graph_pagerank", "pack_context_windows",
    "search_inverted_index",
]


def test_unbounded_results_keep_the_parallel_range_sort(spark, queries):
    """Queries whose result cardinality scales with the input must sort
    via a range exchange (parallel), never coalesce(1): a coalesced plan
    would run the upstream window/join computation in ONE task."""
    for name in UNBOUNDED_SORT_QUERIES:
        p = plan_text(queries[name](spark, SF_DIR))
        assert "Coalesce 1" not in p, (
            f"{name}: unbounded result funneled through coalesce(1) — "
            "the keyed computation above the shuffle runs single-task"
        )
        # a global Sort (usually via a range exchange; pack_context_windows
        # is already single-partition from its global running-sum window)
        assert "rangepartitioning" in p or "Sort [" in p, (
            f"{name}: no global sort"
        )


def test_presentation_sort_sits_above_a_shuffle(spark, queries):
    """presentation_sort (coalesce(1) + in-partition sort) replaced the
    final orderBy on these queries to kill the range-partitioner's
    sampling job.  Two properties must hold: no range exchange remains,
    and a real shuffle boundary sits below the coalesce — otherwise
    coalesce(1) would serialize the scan itself onto one task."""
    for name in PRESENT_SORT_QUERIES:
        p = plan_text(queries[name](spark, SF_DIR))
        assert "rangepartitioning" not in p, f"{name}: range sort still present"
        assert "Coalesce 1" in p, f"{name}: coalesced presentation sort missing"
        assert (
            "Exchange hashpartitioning" in p or "Exchange SinglePartition" in p
        ), f"{name}: no shuffle below the coalesce — scan would serialize"


def test_filtered_ann_broadcasts_queries_not_corpus(spark, queries):
    """knn_cosine_filtered must broadcast the bounded QUERY side; a
    BroadcastExchange whose subtree scans embeddings.parquet WITHOUT the
    vec_id<10 query filter is the broadcast-the-corpus plan that OOMs at
    scale (same rule as semantic_dedup's rep-restriction)."""
    plan = (
        queries["knn_cosine_filtered"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        depth = len(ln) - len(ln.lstrip())
        sub = []
        for l2 in lines[i + 1 :]:
            d2 = len(l2) - len(l2.lstrip())
            if l2.strip() and d2 <= depth:
                break
            sub.append(l2)
        subtree = "\n".join(sub)
        if "embeddings.parquet" in subtree:
            assert "vec_id" in subtree and "10" in subtree, (
                "broadcast subtree scans the whole corpus:\n" + subtree[:400]
            )


def test_ppjoin_scan_filter_stays_cheap(spark, queries):
    """Regression guard for the InferFiltersFromGenerate trap (round 6):
    explode() over a NAMED array column lets Spark push a `size(arr) > 0`
    filter into the scan with the whole regex+split+shingle pipeline
    inlined INSIDE the transform lambda — re-evaluated per element,
    measured 26 s instead of 0.5 s.  The windowed ppjoin plan explodes
    the EXPRESSION directly, so no scan DataFilter may contain a
    transform lambda."""
    plan = (
        queries["dedup_ppjoin_exact"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for ln in plan.splitlines():
        if "DataFilters" in ln:
            assert "transform(" not in ln and "lambdafunction" not in ln, (
                "shingle pipeline leaked into a scan filter:\n" + ln[:300]
            )
    # and the prefix-ranking side reads the corpus exactly twice overall:
    # once for the token stream, twice for the two verify array sides
    assert plan.count("FileScan parquet") <= 3, plan.count("FileScan parquet")


# Queries whose optimized plan carries an unpartitioned (empty-OVER)
# window over input that does NOT scale with the corpus — each with the
# reason the single-partition WindowExec is safe there.  Everything else
# must either partition its windows, route global order statistics
# through operators/scale.distributed_row_number / distributed_running_sum
# (VERDICT r6 #3), or sit above a Limit (detected automatically).
GLOBAL_WINDOW_BOUNDED_OK = {
    # window input is a per-DAY aggregate: one row per day (36.5k rows
    # per century) regardless of corpus size
    "events_growth_daily",
    # window input is the fixed-size quantile-histogram bucket list
    "sketch_quantile_hist",
    # window input is per-LENGTH compacted counts: support bounded by the
    # value domain (max doc length), not the corpus (see query comment)
    "stats_ks_lengths",
    # round-12 rewrite: the rank family now windows over the <=5-row
    # o_orderpriority count table and broadcast-joins back — the residual
    # tiny window still trips the detectors, bounded by the value domain.
    # (win_agg_over_unbounded / win_ntile / win_range_frame were rewritten
    # the same round to plans with NO global window at all — broadcast
    # scalar, distributed_row_number + closed NTILE formula, binned range
    # join — and left this list; the window-form semantics stay pinned by
    # their unchanged oracles.)
    "win_rank_family",
    # window input is the per-nation customer aggregate: ≤25 rows at any
    # corpus size (r8 percent_rank/cume_dist surface witness)
    "win_percent_rank_cume_dist",
}


def test_no_unbounded_global_windows_in_corpus(corpus_plans):
    """Corpus-wide: any Window node with an empty partitionSpec must sit
    over a Limit-bounded subtree or be on the justified allowlist above.
    Catches the 100 TB single-reducer anti-pattern at plan-build time
    (the five VERDICT-r6 offenders are now routed through the
    distributed_* helpers and must stay that way)."""
    offenders = {}
    justified_hits = set()
    built_ok = set(corpus_plans)
    for name, a in corpus_plans.items():
        unbounded = [h for h in a.windows if not h["bounded"]]
        if unbounded:
            if name in GLOBAL_WINDOW_BOUNDED_OK:
                justified_hits.add(name)
            else:
                offenders[name] = [h["node"][:120] for h in unbounded]
    assert not offenders, f"unbounded global windows: {offenders}"
    # anti-rot: every allowlisted name must still HAVE a global window —
    # a stale entry is a free pass waiting for a regression to use it.
    # Only names that BUILT are judged: a build failure must surface as a
    # build failure elsewhere, not as a misleading "stale allowlist" here.
    stale = (GLOBAL_WINDOW_BOUNDED_OK & built_ok) - justified_hits
    assert not stale, f"allowlist entries with no global window left: {stale}"


def test_curation_pipeline_evaluates_scoring_chain_once(spark, queries):
    """Round-9 fix pin: the curation scoring chain (2-regex normalizer)
    must appear exactly ONCE in the physical plan.  Regressions to guard:
    (a) a quality Filter below the scoring projection — Catalyst
    substitutes the alias definition and re-evaluates the chain in the
    Filter operator; (b) losing the WindowGroupLimit rewrite (the
    conditional-SUM rank form did), which pre-prunes each map partition
    to one row per fingerprint before the exchange."""
    p = plan_text(queries["curation_pipeline"](spark, SF_DIR))
    # one evaluation = the one 2-regex chain = 2 textual occurrences
    assert p.count("regexp_replace") == 2, (
        f"scoring chain evaluated {p.count('regexp_replace') // 2}×"
    )
    assert "WindowGroupLimit" in p, "fp dedup lost the group-limit prune"


# Row-at-a-time Python UDTFs witnessing SQLite's table-valued-function
# surface — bounded by construction (region: 5 rows; the JSON trees they
# walk are per-row documents).  Scalar row-at-a-time BatchEvalPython has
# NO allowlist: the corpus must stay Arrow-batched (ArrowEvalPython /
# MapInPandas / FlatMapGroupsInPandas) wherever Python is unavoidable.
ROW_UDTF_WITNESS_OK = {"tvf_generate_series"}


def test_corpus_global_windows_are_allowlisted(corpus_plans):
    """PHYSICAL-plan twin of test_no_unbounded_global_windows_in_corpus,
    sharing GLOBAL_WINDOW_BOUNDED_OK: single_partition_windows flags any
    Exchange SinglePartition feeding a Window — the one-task-sorts-the-
    world shape at 100 TB — so the logical audit (unpartitioned_windows,
    bounded-subtree aware) and the physical detector must agree on the
    same justified set; anti-rot on entries whose plans stopped
    tripping."""
    tripped = set()
    built_ok = set(corpus_plans)
    for name, a in corpus_plans.items():
        if single_partition_windows(a.plan):
            tripped.add(name)
    unjustified = tripped - GLOBAL_WINDOW_BOUNDED_OK
    assert not unjustified, (
        f"unallowlisted single-partition windows in: {sorted(unjustified)} — "
        "justify in GLOBAL_WINDOW_BOUNDED_OK or rewrite via distributed_row_number"
    )
    stale = (GLOBAL_WINDOW_BOUNDED_OK & built_ok) - tripped
    assert not stale, f"allowlist entries no longer tripping the detector: {stale}"


def test_window_group_limit_is_not_a_global_window_hazard():
    """single_partition_windows must fire on the actual Window operator
    only: a WindowGroupLimit (the rank<=k prune Spark inserts ABOVE the
    window) sitting within 3 lines of an Exchange SinglePartition is
    not the all-rows-to-one-task shape and must not be flagged
    (ADVICE r12)."""
    prune_only = (
        "+- WindowGroupLimit [rank#9], 10\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=3]\n"
        "      +- Sort [k#1 ASC NULLS FIRST], false, 0\n"
    )
    assert not single_partition_windows(prune_only)

    # the REALISTIC full group-limit plan Spark emits for rank()<=k over
    # an empty partition: Window / WindowGroupLimit Final / Sort /
    # Exchange SinglePartition / WindowGroupLimit Partial — the exchange
    # input is pruned to k rows per partition by the partial, so the
    # Window-above must not be flagged either (code-review r13)
    full_prune = (
        "+- Window [rank(v#2) windowspecdefinition(v#2 ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) "
        "AS rnk#7], [v#2 ASC NULLS FIRST]\n"
        "   +- WindowGroupLimit [v#2 ASC NULLS FIRST], rank(v#2), 10, Final\n"
        "      +- Sort [v#2 ASC NULLS FIRST], false, 0\n"
        "         +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=5]\n"
        "            +- WindowGroupLimit [v#2 ASC NULLS FIRST], rank(v#2), 10, Partial\n"
    )
    assert not single_partition_windows(full_prune)

    real_global = (
        "+- Window [row_number() windowspecdefinition(k#1 ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) "
        "AS rn#7], [k#1 ASC NULLS FIRST]\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=3]\n"
    )
    assert single_partition_windows(real_global)


def test_plan_dumps_of_two_builds_diff_equal(monkeypatch):
    """Two builds of one plan, in two checkouts, print different exprIds,
    Exchange plan ids, checkpointed RDD ids, unseeded rand() seeds and
    derived-copy roots; the --out dump masks all five, and nothing else."""
    from steampipe_sqlite_spark import derived

    def build(i):
        return (
            f"+- Project [k#{i}L, rand({-i * 7919}) AS r#{i + 1}]\n"
            f"   +- Exchange hashpartitioning(k#{i}L, 4), ENSURE_REQUIREMENTS, [plan_id={i}]\n"
            f"      +- Scan ExistingRDD[k#{i}L] RDD[{i + 2}]\n"
            f"Location: InMemoryFileIndex [file:{derived.ROOT}/compact/t-k4]\n"
        )

    here = mask_for_diff(build(12))
    assert "k#_L" in here and "file:<cache>/compact/t-k4" in here
    assert here != mask_for_diff(build(12).replace("4), ", "8), "))
    monkeypatch.setattr(derived, "ROOT", "/elsewhere/.cache")
    assert mask_for_diff(build(345)) == here


def test_corpus_has_no_cartesian_or_row_python_stages(corpus_plans):
    """Corpus-wide anti-pattern gate (one plan build per query, sf0.001):
    no CartesianProduct anywhere — a shuffle-cross is never the right
    shape at 100 TB — and no row-at-a-time scalar Python stage
    (BatchEvalPython without the UDTF suffix); Python must enter plans
    only as Arrow-batched stages."""
    cartesian, row_python = {}, {}
    udtf_hits = set()
    built_ok = set(corpus_plans)
    for name, a in corpus_plans.items():
        p = a.plan
        if "CartesianProduct" in p:
            cartesian[name] = True
        # match the scalar node, not BatchEvalPythonUDTF
        for m in re.finditer(r"BatchEvalPython(UDTF)?", p):
            if m.group(1):
                udtf_hits.add(name)
            else:
                row_python[name] = True
    assert not cartesian, f"CartesianProduct in: {sorted(cartesian)}"
    assert not row_python, f"row-at-a-time Python UDF stages in: {sorted(row_python)}"
    unexpected_udtf = udtf_hits - ROW_UDTF_WITNESS_OK
    assert not unexpected_udtf, f"unallowlisted row UDTFs: {sorted(unexpected_udtf)}"
    # anti-rot: the allowlisted witness must still be a UDTF plan
    stale = (ROW_UDTF_WITNESS_OK & built_ok) - udtf_hits
    assert not stale, f"UDTF allowlist entries with no UDTF node left: {stale}"


# Plans that evaluate one expensive expression 3 or more times (VERDICT
# r15 #8: a subtree referenced several times is recomputed per reference).
# These are the offenders found when the audit was introduced, NOT
# justified shapes: each is a fix waiting to be made, and leaves this list
# when its plan stops duplicating (the anti-rot check below).
DUPLICATED_EXPR_OK = {
    # one Python UDF application evaluated by several plan nodes
    "mm_video_neardup_shingles",  # MapInPandas parse
}


def test_duplicated_counts_a_cached_subtree_once(spark):
    """A persisted frame read 3x prints its subtree under every
    InMemoryTableScan but is computed once: not flagged.  The same frame
    unpersisted is recomputed by every read, and exploding its named
    token column runs the chain 3x per read (the generator rule at
    functions/text.posexplode_sized): flagged."""
    from pyspark.sql import functions as F

    from steampipe_sqlite_spark.functions.text import tokens

    docs = load_table(spark, SF_DIR, "documents")
    toks = docs.select(tokens(F.col("text")).alias("toks"))

    def read_3x():
        t = toks.select(F.explode("toks").alias("t"))
        return plan_text(t.union(t).union(t))

    assert duplicated(read_3x())
    toks.persist()
    try:
        assert not duplicated(read_3x())
    finally:
        toks.unpersist()


def test_corpus_duplicated_expressions_are_allowlisted(corpus_plans):
    """Corpus-wide: no plan may evaluate the same regexp_replace/split
    expression, or the same Python UDF application, 3 or more times unless
    it is on the offender list above; anti-rot on entries that no longer
    duplicate."""
    dups = {
        name: d for name, a in corpus_plans.items() if (d := duplicated(a.plan))
    }
    new = {n: sorted(d.values(), reverse=True) for n, d in dups.items()
           if n not in DUPLICATED_EXPR_OK}
    assert not new, f"expressions evaluated 3+ times in one plan: {new}"
    stale = (DUPLICATED_EXPR_OK & set(corpus_plans)) - set(dups)
    assert not stale, f"allowlist entries with no duplicated expression left: {stale}"


def test_emb_neardup_pair_join_is_parallel(spark, queries):
    """Optimization r14: the un-blocked O(n²) cosine pair join is a
    BroadcastNestedLoopJoin whose parallelism equals the STREAMED side's
    partitions — a single-file parquet input serialized all pair folds
    onto one task (51.8 s at sf0.1).  The streamed side must be spread
    (round-robin repartition) and the vectors pre-cast per ROW, not per
    pair (51.8 s -> 3.35 s)."""
    p = plan_text(queries["emb_neardup_cosine"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p, p[:1500]
    assert "RoundRobinPartitioning" in p, "streamed side not spread"


def test_win_range_frame_candidate_join_not_coalesced(spark, queries):
    """Optimization r14: the binned-range-join's candidate exchange has a
    few MB of input but ~density(width) rows of OUTPUT per value — AQE's
    input-sized coalescing collapsed the whole expansion onto one task
    (10.4 s at sf0.1).  The user REPARTITION(cb) hint is AQE-exempt and
    must stay in the plan (10.4 s -> 2.28 s)."""
    p = plan_text(queries["win_range_frame"](spark, SF_DIR))
    assert "REPARTITION_BY_COL" in p, p[:2000]
