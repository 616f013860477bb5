"""Registry wiring query implementations to their DuckDB oracles.

The driver contract (__spark_entry__.py) wants two dicts:
  queries() -> {name: fn(spark, sf_dir) -> DataFrame}
  oracle_sql() -> {name: ANSI SQL for DuckDB over the same tables}

The registry keeps no per-session state: ``queries()`` hands out the plan
functions themselves, and every call builds a fresh DataFrame.

Column names must match exactly between the two (the driver sorts columns by
name before value-hashing), so every computed column is aliased identically
on both sides.  Aggregates over double columns are rounded (or cast to
decimal) identically on both sides so JVM/DuckDB summation-order ULP noise
cannot flip the hash.

Cross-engine numeric rules (each learned from a real red):
  - DuckDB SUM(int) is HUGEINT -> float64 in pandas: CAST oracle sums to
    BIGINT (round 3).
  - Terminating decimals land on .5 ROUND boundaries where the engines'
    ROUND rules differ: emit integer scaled units, never round(x, n), for
    dyadic-weighted values (round 4, ts_ewma_smooth).
  - Bare decimal literals (0.5) are DECIMAL in Spark SQL but effectively
    double in DuckDB: write float literals with an exponent (0.5e0, 1e6)
    in any SQL text shared across engines (round 4, search_bm25_topk).
  - A SUM(double)'s fold order varies with partitioning: round addends to
    integer units BEFORE summing when the result is hash-compared
    (round 4, dataset_temperature_weights).
  - ln()/pow() may differ 1 ulp JVM-vs-libm: prefer algebraic forms made
    of +,-,*,/,sqrt (all correctly-rounded IEEE -> bit-identical), e.g.
    rational Robertson idf, alpha=0.5 temperature via sqrt.
  - CAST(double AS BIGINT) ROUNDS in DuckDB but TRUNCATES in Spark: for
    integer binning always write CAST(FLOOR(x) AS BIGINT) (round 5,
    dataset_drift_tvd: 399/200 binned to 2 vs 1).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[["SparkSession", str], "DataFrame"]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle=None`` marks a non-SQL-expressible op
    (driver falls back to a rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def presentation_sort(df: "DataFrame", cols: list) -> "DataFrame":
    """Single-partition, globally-ordered presentation of a BOUNDED final
    result.

    A top-level ``orderBy`` compiles to a range exchange whose partitioner
    runs a separate row-sampling JOB before the main one — measured here as
    +1 job plus a re-execution of the post-shuffle tail stage, ~0.1–0.2 s
    per query at ANY data scale — pure overhead once the result is already
    reduced to aggregate/top-k size.  ``coalesce(1)`` collapses only the
    tail stage (callers must sit above a shuffle boundary so the coalesce
    cannot serialize the scan — pinned by
    test_plans.test_presentation_sort_sits_above_a_shuffle), and one
    in-partition sort then yields the same total order with zero extra
    jobs.  NOT for unbounded results: there the parallel range sort IS the
    scale path — keep ``orderBy``.

    ``cols``: Column objects, column names, or ``"name DESC"`` strings.
    """
    from pyspark.sql import functions as F

    parsed = []
    for c in cols:
        if isinstance(c, str):
            parsed.append(
                F.col(c[:-5].strip()).desc()
                if c.upper().endswith(" DESC")
                else F.col(c)
            )
        else:
            parsed.append(c)
    return df.coalesce(1).sortWithinPartitions(*parsed)


def sql_query(
    name: str,
    spark_sql: str,
    oracle: str | None = None,
    present_sort: list | None = None,
) -> None:
    """Register a pure-SQL query: Spark runs ``spark_sql`` against the
    registered temp views; DuckDB runs ``oracle`` (defaults to the same
    string — most of the corpus is dialect-shared ANSI SQL).

    ``present_sort``: when given, the trailing top-level ORDER BY of
    ``spark_sql`` is stripped on the SPARK side and replaced with
    :func:`presentation_sort` over these columns (the oracle keeps the
    ORDER BY; the correctness hash is row-order-insensitive on both
    sides, so only the plan shape changes)."""
    from steampipe_sqlite_spark.tables import referenced_tables, register_views

    tables = referenced_tables(spark_sql)
    run_sql = spark_sql
    if present_sort is not None:
        idx = run_sql.upper().rindex("ORDER BY")
        tail = run_sql[idx:]
        # top-level ORDER BY only: a subquery's would carry parens/FROM.
        # ValueError, not assert: the guard must survive python -O, and a
        # trailing LIMIT/OFFSET must not be silently dropped with the sort
        # (that would change the result set vs the oracle) — ADVICE r4.
        tu = tail.upper()
        if "(" in tail or ")" in tail or "FROM" in tu:
            raise ValueError(f"{name}: present_sort found a non-top-level ORDER BY")
        if "LIMIT" in tu or "OFFSET" in tu:
            raise ValueError(
                f"{name}: present_sort would strip a trailing LIMIT/OFFSET — "
                "keep the ORDER BY or restructure the query"
            )
        run_sql = run_sql[:idx]

    def fn(spark: "SparkSession", sf_dir: str) -> "DataFrame":
        register_views(spark, sf_dir, tables)
        df = spark.sql(run_sql)
        if present_sort is not None:
            df = presentation_sort(df, present_sort)
        return df

    fn.__name__ = f"q_{name}"
    fn.__doc__ = spark_sql
    query(name, oracle if oracle is not None else spark_sql)(fn)


def collect() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Import every corpus module (side-effect: registration) and return
    the combined (queries, oracles).

    The returned dict is re-ordered by ``_WINDOW_PRIORITY``: the external
    driver verifies the first 50 entries per round, so the window is
    rotated round-to-round (see the priority list's comment) to
    accumulate verification across the whole corpus (187 queries as of round 4).
    """
    from steampipe_sqlite_spark.plans import (  # noqa: F401
        tpch,
        relational,
        temporal,
        llm,
        multimodal,
        streaming_batch,
        compat,
        functions_corpus,
        bridge,
    )

    # Duplicate-semantics witnesses register at the very back of the order.
    if "tpch_q1_dataframe" not in QUERIES:
        query("tpch_q1_dataframe", oracle=tpch.Q1_SQL)(tpch.tpch_q1_dataframe)

    ordered_q = {n: QUERIES[n] for n in _window_order(QUERIES)}
    return ordered_q, ORACLES


# The external driver verifies the FIRST 50 registered queries per round
# (VERDICT r1); the window is rotated each round to accumulate verification
# across the whole corpus.  Cumulative driver-green after r3: 105 names
# (r1: 22, r2: 36, r3: 48 — see CORRECTNESS_r0{1,2,3}.json).
# ROUND-4 WINDOW (VERDICT r3 #3): the 53 never-driver-green names minus
# three that are pytest-double-covered and deferred to round 5
# (tpch_q1_dataframe — same plan as driver-green tpch_q1; distinct_pairs
# and compat_scalar_misc — covered by unit tests).  Includes the two r3
# reds (tpch_q12, mm_media_inventory — values matched, oracle HUGEINT
# dtype artifact, now CAST AS BIGINT) and the newest query
# (dataset_shuffle_shards, committed after the r3 window was frozen).
# ROUND-5 WINDOW (VERDICT r4 #4): the 3 r4 reds (now fixed — sliding
# windows' oracles cast to naive TIMESTAMP; json_build_and_length's keys
# array CSV-joined) + the 32 never-driver-verified names (3 deferred
# pytest-double-covered + the 29 round-4 additions), then 15 backfill
# slots re-verifying the OLDEST driver-green names (r1-window queries
# never re-verified since) so green status stays fresh across fixture
# changes.  Queries added in round 5 register behind the window and roll
# into the round-6 rotation.
# ROUND-7 ROTATION [EXECUTED — CORRECTNESS_r06 landed 50/50 green; the
# list below is now live in _WINDOW_PRIORITY] (plan was: do after
# CORRECTNESS_r06 lands — rotating earlier
# would evict the round-5 names the r6 window exists to certify): put
# the 23 round-6 additions first (stats_equidepth_bins,
# rfm_segmentation, join_asof_tolerance, ts_interval_union,
# user_activity_streaks, funnel_latency_stats, attribution_last_touch,
# bpe_merge_step, vocab_growth_curve, text_novelty_ordered,
# emb_matryoshka_fidelity, sample_systematic_weighted,
# agg_weighted_median, key_skew_profile, shard_by_bytes,
# graph_triangle_count, impute_by_group_median,
# streaming_stream_stream_left, str_edit_distance, win_exclude_ties,
# winsorized_length_stats, dataset_split_temporal, market_basket_pairs
# — all selfcheck-green at sf0.01 AND
# sf0.1 in round 6), then the 34 continuation-session additions
# (eval_auc_mann_whitney, stats_gini_spend, stats_benford_first_digit,
# stats_pareto_topdecile, agg_mode_per_group, ts_seasonal_naive_mae,
# token_pair_lift, graph_two_hop_reach, dataset_kfold_stratified,
# stats_chi2_lang_source, text_hapax_ratio, emb_label_centroid_geometry,
# eval_ndcg_at10, events_transition_matrix, events_interarrival_hist,
# events_growth_daily, ts_threshold_crossings,
# join_fuzzy_blocked_prefix, compat_printf_integer,
# join_scd2_point_in_time, agg_bitwise, agg_width_bucket_hist,
# win_running_distinct, stats_join_size_profile,
# mm_video_neardup_shingles, stats_ks_lengths, events_user_hhi,
# ts_autocorr_lag1, text_vocab_jaccard_langs, privacy_k_anonymity,
# group_cube_grouping_flags, agg_any_value_functional,
# ts_cusum_changepoint, stats_benford_deviation —
# selfcheck-green at sf0.01 (268/268 full sweep post review-fixes) AND
# the FULL corpus green at sf0.1 in a VANILLA-config session — the
# driver's environment at 10x the gate scale) plus any r6 reds —
# 57 never-driver-checked names total, so the r7 window (50 slots) is
# OVER-FULL: the 7 lowest-risk names (the pure-SQL shared-text ones:
# agg_bitwise, agg_mode_per_group, compat_printf_integer,
# stats_benford_first_digit, stats_benford_deviation,
# group_cube_grouping_flags, agg_any_value_functional) defer to r8;
# overflow and backfill take
# the next-oldest driver-green names: the 19 r2 leftovers
# (knn_cosine_lsh, curation_pipeline, tpch_q1/q3/q5/q6/q9/q18,
# join_left/full/semi/anti, win_range_frame, setop_except, cte_multi,
# group_rollup, subq_not_in, agg_filter_clause, pivot_status_by_flag),
# then the r3 window (tpch_q2/q4/q7/q8/q10/q11/q13..q22,
# join_right_outer, ...) in last-verified order.
#
# ROUND-6 WINDOW (VERDICT r5 #1/#4/#6): the 26 round-5 additions — the
# only corpus names with no driver row ever (all selfcheck-green at
# sf0.01 AND sf0.1, rounds 5 and 6) — then mm_image_phash_neardup, whose
# rows-only r5 row is upgraded this round to a full value oracle (the
# DCT now runs in Q13 fixed-point integer arithmetic, replayed in
# DuckDB from the same 64 constants — VERDICT r5 #4), then 23 backfill
# slots re-verifying the next-oldest driver-green names (the 6 r1
# leftovers + 17 r2-window names untouched since round 2 — the engine
# load path changed twice since; VERDICT r5 #6).  Queries added in
# round 6 register behind the window and roll into the round-7 rotation.
# ROUND-8 ROTATION PLAN: the window should take the 7 round-8 deferrals
# listed in the tail below plus the 5 round-7 additions
# (dedup_soft_weights, bitext_margin_pairs, dedup_keep_best,
# eval_calibration_bins, mining_hard_negatives — all selfcheck-green at
# sf0.01 AND sf0.1 when added), leaving 38 slots for backfilling the oldest driver-green names (the
# backfill list below is the start; continue with the r3 greens).
# ROUND-12 ROTATION [EXECUTED — CORRECTNESS_r11 landed 50/50 green with
# zero reds, so the pre-staged plan applies verbatim; re-verified at
# execution time by recomputing per-name last-green rounds from the
# committed CORRECTNESS_r01..r11 artifacts: the 50 least-recently-checked
# names are exactly the 38 remaining r6-window names followed by the 12
# oldest r7-window names, in artifact order within each round, matching
# the list below name-for-name.  WINDOW_ROUND bumped to 12 in
# tests/test_bench_contract.py, which now recomputes the same order from
# the artifacts and pins window == first 50 of it.]
# Previous windows' composition lives in git history (r11 window:
# text_nfc_dedup/dedup_url_canonical/compat_time_modifiers lead + 35 r5
# names + 12 oldest r6 names — all green in CORRECTNESS_r11.json).
# ROUND-13 ROTATION [EXECUTED — CORRECTNESS_r12 landed 50/50 green with
# zero reds, so the pre-staged plan applies verbatim; re-verified at
# execution time by recomputing per-name last-green rounds from the
# committed CORRECTNESS_r01..r12 artifacts: the 50 least-recently-checked
# names are exactly the 2 r12-displaced backfill names
# (emb_matryoshka_fidelity, sample_systematic_weighted) followed by the
# 38 remaining r7-window names and the 10 oldest r8-window names, in
# artifact order within each round, matching the list below
# name-for-name.  No never-driver-checked names exist this round (every
# registered corpus name has a green driver row), so the window is pure
# least-recently-checked continuation.  WINDOW_ROUND bumped to 13 in
# tests/test_bench_contract.py, which recomputes the same order from the
# artifacts and pins window == first 50 of it.]
# Previous windows' composition lives in git history (r12 window: the 2
# persisted-index witnesses lead + 38 r6 names + 10 oldest r7 names —
# all green in CORRECTNESS_r12.json).
# ROUND-15 ROTATION PLAN (execute after CORRECTNESS_r14 lands green):
# continue strict least-recently-checked over artifacts r1..r14 (no
# never-driver-checked names expected unless round 14 adds corpus
# queries — any additions LEAD per the r11/r12/r14 precedent).
# Candidate continuation — names ranked 51-100 in the r1..r13 order
# (the tail of the r8 window, then the r9 window), artifact order
# within each round: join_cross, join_theta_range, then the r9-era
# names (orderby_limit_offset, orderby_nulls_last, setop_union_all,
# setop_intersect, tvf_json_each, json_group_array/object era, ...).
# Recompute from the actual artifacts before executing (any r14 red
# re-leads), then bump WINDOW_ROUND to 15 in
# tests/test_bench_contract.py (the test recomputes the same order, so
# the bump + list swap is the whole change).
_WINDOW_PRIORITY = [
    # ---- ROUND-15 WINDOW (50 slots; VERDICT r14 #4) — executed after
    # CORRECTNESS_r14 landed 50/50 green with zero reds (committed at
    # 473a44b); re-verified at execution time by recomputing per-name
    # last-green rounds from the committed CORRECTNESS_r01..r14
    # artifacts (r14 IS included: it is committed at HEAD; only the
    # current round's mid-round artifact is excluded, per the r9
    # time-bomb lesson).  LEADS with round 14's single corpus addition
    # `bridge_paged_scan_bulk` (never had a driver row; selfcheck-green
    # on creation; r11/r12/r14 never-checked-lead precedent), then the
    # 49 least-recently-checked names: the 2 remaining r8-era names
    # (join_cross, join_theta_range), then the r9-era block, artifact
    # order within each round — matching the pre-staged r15 candidate
    # list.  (r14 window composition lives in git history: bridge pair
    # lead + 10 r8-era names + the r8 TPC-H/join/window backfill block
    # — all green in CORRECTNESS_r14.json.) ----
    "bridge_paged_scan_bulk",
    # the 2 remaining names whose last driver row is the r8 window:
    "join_cross",
    "join_theta_range",
    # ...then the r9-era names (artifact order):
    "join_using_natural",
    "join_broadcast_hint",
    "join_nullsafe_eq",
    "orderby_limit_offset",
    "orderby_nulls_last",
    "setop_union_all",
    "setop_union_distinct",
    "setop_intersect",
    "group_cube",
    "group_grouping_sets",
    "win_row_number_topk",
    "win_rank_family",
    "win_ntile",
    "win_lag_lead",
    "win_first_last_nth",
    "win_sliding_rows",
    "win_agg_over_unbounded",
    "subq_scalar_uncorrelated",
    "subq_scalar_correlated",
    "subq_in",
    "subq_derived_table",
    "values_inline",
    "unpivot_stack",
    "sessionize_events",
    "dedup_components",
    "knn_cosine_int8",
    "text_decontaminate",
    "text_gopher_flags",
    "sample_balanced_per_group",
    "streaming_tumbling_1h",
    "date_extract_parts",
    "date_trunc_buckets",
    "date_format_epoch",
    "json_extract_scalar",
    "json_group_array",
    "tvf_json_each",
    "json_variant_extract",
    "agg_array_ops",
    "sketch_hll_users",
    "join_asof_events",
    "mm_media_inventory",
    "win_global_rownum_scale",
    "win_running_sum",
    "win_groups_frame",
    "win_exclude_current_row",
    "win_exclude_group",
    "cte_recursive",
]


def _window_order(queries: dict[str, QueryFn]) -> list[str]:
    head = [n for n in _WINDOW_PRIORITY if n in queries]
    tail = [n for n in queries if n not in set(head)]
    return head + tail
