"""Relational-surface corpus: joins, set ops, windows, subqueries, grouping.

Covers SURVEY.md §2.3 rows Joins / Set ops / Window functions / Subqueries /
Grouping sets / Distinct / Sort-limit — the SQL surface SQLite core provides
the reference (delegated at /root/reference/module.go:32), expressed on
Catalyst.  Shared ANSI text runs on both Spark and DuckDB unless a dialect
split is noted.

Determinism rules (driver hash-compare):
- Window ROWS frames and row_number/ntile always ORDER BY a unique key
  (tie order is engine-dependent otherwise).
- Double sums (in windows and aggregates) go through integer hundredths —
  CAST(ROUND(x*100) AS BIGINT) — since segment-tree vs sequential double
  accumulation would ULP-diverge; integers are also ~2x faster than
  DECIMAL in Spark's hash aggregate.
- LIMIT queries carry a total-order ORDER BY.
"""

from __future__ import annotations

from steampipe_sqlite_spark.plans.registry import query, sql_query
from steampipe_sqlite_spark.tables import load_table


# --- Joins ----------------------------------------------------------------

sql_query(
    "join_left_outer",
    """
SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
       CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)), 0) AS DOUBLE) / 100.0 AS total_spent
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus = 'F'
GROUP BY c_custkey, c_name
ORDER BY total_spent DESC, c_custkey
LIMIT 50
""",
)

sql_query(
    "join_right_outer",
    """
SELECT n_name, COUNT(c_custkey) AS n_customers
FROM customer
RIGHT JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
""",
)

sql_query(
    "join_full_outer",
    """
SELECT COALESCE(c.nk, s.nk) AS nationkey,
       COALESCE(c.n_cust, 0) AS n_cust,
       COALESCE(s.n_supp, 0) AS n_supp
FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey) c
FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey) s
  ON c.nk = s.nk
ORDER BY nationkey
""",
)

sql_query(
    "join_semi",
    """
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 100000)
ORDER BY c_custkey
""",
)

sql_query(
    "join_anti",
    """
SELECT c_custkey, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
""",
)

sql_query(
    "join_cross",
    """
SELECT r_name, seg.c_mktsegment
FROM region
CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer) seg
ORDER BY r_name, c_mktsegment
""",
)

sql_query(
    "join_theta_range",
    """
SELECT n_nationkey, COUNT(*) AS n_pairs
FROM supplier
JOIN customer ON s_nationkey = c_nationkey AND c_acctbal < s_acctbal
JOIN nation ON n_nationkey = s_nationkey
GROUP BY n_nationkey
ORDER BY n_nationkey
""",
)

sql_query(
    "join_using_natural",
    """
SELECT n_name, r_name
FROM (SELECT n_name, n_regionkey AS r_regionkey FROM nation) n
JOIN region USING (r_regionkey)
ORDER BY n_name
""",
)


@query(
    "join_broadcast_hint",
    oracle="""
SELECT r_name, COUNT(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
""",
)
def join_broadcast_hint(spark, sf_dir):
    """Explicit broadcast join — the scale path for dimension joins
    (SURVEY §4.2: avoid shuffling the fact side for a 5-row dim)."""
    from pyspark.sql import functions as F

    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
        .orderBy("r_name")
    )


# --- Set operations -------------------------------------------------------

sql_query(
    "setop_union_all",
    """
SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer
UNION ALL
SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier
ORDER BY nationkey, side
""",
)

sql_query(
    "setop_union_distinct",
    """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
ORDER BY nationkey
""",
)

sql_query(
    "setop_intersect",
    """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
ORDER BY nationkey
""",
)

sql_query(
    "setop_except",
    """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier
ORDER BY nationkey
""",
)

# --- Distinct / sort / limit / offset ------------------------------------

sql_query(
    "distinct_pairs",
    """
SELECT DISTINCT l_returnflag, l_linestatus
FROM lineitem
ORDER BY l_returnflag, l_linestatus
""",
)

sql_query(
    "orderby_limit_offset",
    """
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20 OFFSET 40
""",
)

sql_query(
    "orderby_nulls_last",
    """
SELECT o_orderkey,
       NULLIF(o_orderstatus, 'O') AS status_or_null
FROM orders
ORDER BY status_or_null ASC NULLS LAST, o_orderkey
LIMIT 30
""",
)

# --- Window functions -----------------------------------------------------

sql_query(
    "win_row_number_topk",
    """
SELECT * FROM (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
  FROM events
) t
WHERE rn <= 3
ORDER BY user_id, rn
""",
)

# rank/dense_rank/percent_rank/cume_dist over a LOW-CARDINALITY key
# (o_orderpriority: 5 values): all four are pure functions of the
# per-value counts, so the Spark side computes them on the ≤5-row
# aggregate and broadcast-joins back — the DATA-SIZED single-partition
# window the naive form plans (every order row to one task) is gone; the
# residual window runs over the bounded distinct-value table (round 12;
# allowlisted bounded in test_plans.GLOBAL_WINDOW_BOUNDED_OK).  The oracle keeps
# the naive window text — the rewrite must reproduce it bit-for-bit
# (RANK = 1 + rows strictly before the peer group; PERCENT_RANK =
# (rank-1)/(n-1); CUME_DIST = peers-through/n — single correctly-rounded
# IEEE divisions of exact integers on both sides).
sql_query(
    "win_rank_family",
    """
WITH pr AS (
  SELECT o_orderpriority AS p, CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY o_orderpriority),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM pr),
r AS (
  SELECT p,
         CAST(COALESCE(SUM(c) OVER (ORDER BY p
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
           AS INT) AS rnk,
         CAST(ROW_NUMBER() OVER (ORDER BY p) AS INT) AS drnk,
         CAST(SUM(c) OVER (ORDER BY p
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_le
  FROM pr)
SELECT o.o_orderkey, o.o_orderpriority,
       r.rnk AS rnk, r.drnk AS drnk,
       CASE WHEN t.n = 1 THEN 0.0e0
            ELSE CAST(r.rnk - 1 AS DOUBLE) / CAST(t.n - 1 AS DOUBLE)
       END AS prnk,
       CAST(r.cum_le AS DOUBLE) / CAST(t.n AS DOUBLE) AS cdist
FROM orders o JOIN r ON o.o_orderpriority = r.p CROSS JOIN tot t
ORDER BY o_orderkey
""",
    oracle="""
SELECT o_orderkey, o_orderpriority,
       RANK() OVER (ORDER BY o_orderpriority) AS rnk,
       DENSE_RANK() OVER (ORDER BY o_orderpriority) AS drnk,
       CAST(PERCENT_RANK() OVER (ORDER BY o_orderpriority) AS DOUBLE) AS prnk,
       CAST(CUME_DIST() OVER (ORDER BY o_orderpriority) AS DOUBLE) AS cdist
FROM orders
ORDER BY o_orderkey
""",
    present_sort=["o_orderkey"],
)

@query(
    "win_ntile",
    oracle="""
SELECT c_custkey, NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
FROM customer
ORDER BY c_custkey
""",
)
def win_ntile_q(spark, sf_dir):
    """NTILE over a near-unique global order — the naive form is a
    data-sized single-partition window.  NTILE is a pure function of
    (row_number, total): with n rows and k tiles, q = n div k, r = n mod
    k, the first r tiles carry q+1 rows — so the scale path is
    operators/scale.distributed_row_number (range shuffle + local rank +
    offsets; total rows come free from the offset pass) plus the closed
    formula (round 12).  The window-form oracle proves exact parity;
    (c_acctbal, c_custkey) is a total order ⇒ deterministic."""
    from pyspark.sql import functions as F

    from steampipe_sqlite_spark.operators.scale import distributed_row_number
    from steampipe_sqlite_spark.plans.registry import presentation_sort
    from steampipe_sqlite_spark.tables import load_table

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked = distributed_row_number(
        cust,
        order_cols=[F.col("c_acctbal"), F.col("c_custkey")],
        name="_rn",
    )
    n, k = ranked._sgs_total_rows, 4
    q, r = divmod(n, k)
    if q == 0:
        tile = "CAST(_rn AS INT)"  # fewer rows than tiles: one row per tile
    else:
        boundary = r * (q + 1)
        tile = (
            f"CAST(CASE WHEN _rn <= {boundary} THEN (_rn - 1) DIV {q + 1} + 1 "
            f"ELSE {r} + (_rn - 1 - {boundary}) DIV {q} + 1 END AS INT)"
        )
    out = ranked.selectExpr("c_custkey", f"{tile} AS quartile")
    return presentation_sort(out, ["c_custkey"])


# Distributed global ROW_NUMBER — same semantics as the empty-OVER window
# (the oracle), but computed via range-repartition + local rank + offset
# add (operators/scale.distributed_row_number), so no single-partition
# WindowExec: the scale path for global sequence numbers.
@query(
    "win_global_rownum_scale",
    oracle="""
SELECT o_orderkey, o_totalprice,
       ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
FROM orders
ORDER BY rn
""",
)
def win_global_rownum_scale(spark, sf_dir):
    """Global sequence number over orders by (o_totalprice DESC,
    o_orderkey) through the two-phase composition; the window-form oracle
    proves exact parity.  Total order ⇒ deterministic."""
    from pyspark.sql import functions as F

    from steampipe_sqlite_spark.operators.scale import distributed_row_number
    from steampipe_sqlite_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = distributed_row_number(
        orders,
        order_cols=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        name="rn",
    )
    return ranked.orderBy("rn")

sql_query(
    "win_lag_lead",
    """
SELECT event_id, user_id,
       LAG(value) OVER w AS prev_value,
       LEAD(value) OVER w AS next_value,
       LAG(value, 2, -1.0) OVER w AS prev2_or_default
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
ORDER BY event_id
""",
)

sql_query(
    "win_first_last_nth",
    """
SELECT event_id, user_id,
       FIRST_VALUE(value) OVER w AS first_v,
       LAST_VALUE(value) OVER w AS last_v,
       NTH_VALUE(value, 2) OVER w AS second_v
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY event_id
""",
)

sql_query(
    "win_running_sum",
    f"""
SELECT event_id, user_id,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER
            (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS running_total,
       COUNT(*) OVER (PARTITION BY user_id ORDER BY event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
FROM events
ORDER BY event_id
""",
    # no present_sort: one output row per event — unbounded, so the parallel
    # range sort IS the scale path (presentation_sort's own contract; a
    # coalesce(1) here would single-task the window computation too).
)

sql_query(
    "win_sliding_rows",
    """
SELECT event_id, user_id,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER
            (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS sum3,
       MIN(value) OVER (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS min3
FROM events
ORDER BY event_id
""",
)

# A RANGE frame over a data-sized order is the hardest global-window
# shape: the frame bound is a VALUE offset, so no partitioning preserves
# it.  But COUNT(*) over [v-1000, v] is a BINNED RANGE JOIN (the
# join_range_binned construction): bucket the distinct values by the
# frame width, and every frame's contributors live in exactly 2 buckets
# (v-1000 >= (floor(v/1000)-1)*1000), so a 2-candidate equi-join +
# residual BETWEEN + sum-of-counts reproduces the frame with linear,
# bounded-fanout work (round 12) — no window node.  Bounds use the same
# v - 1000.0e0 double arithmetic the engines' frame evaluators use, so
# edge equality matches bit-for-bit.
sql_query(
    "win_range_frame",
    """
WITH d AS (
  SELECT o_totalprice AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY o_totalprice),
db AS (SELECT v, c, CAST(FLOOR(v / 1000.0e0) AS BIGINT) AS b FROM d),
cand AS (
  SELECT t.v AS tv, t.b - o.k AS cb
  FROM db t CROSS JOIN (SELECT 0 AS k UNION ALL SELECT 1) o),
counts AS (
  -- REPARTITION(cb) holds the candidate join's parallelism (opt r14):
  -- its INPUT is a few MB of (value, bucket) ints, so AQE coalesces the
  -- exchange to one partition, but its OUTPUT fans out ~density(1000)
  -- rows per value (~80M rows at sf0.1) — the whole expansion ran as a
  -- single task (10.4 s).  A user repartition on the join key is exempt
  -- from AQE coalescing and is scale-neutral (no partition-count
  -- constant; the key is the bucket id both sides already join on).
  -- 10.4 s -> 0.66 s at sf0.1, identical rows.
  SELECT cand.tv, CAST(SUM(db.c) AS BIGINT) AS n_within
  FROM (SELECT /*+ REPARTITION(cb) */ tv, cb FROM cand) cand
  JOIN db ON db.b = cand.cb
  WHERE db.v >= cand.tv - 1000.0e0 AND db.v <= cand.tv
  GROUP BY cand.tv)
SELECT o.o_orderkey, o.o_totalprice, counts.n_within AS n_within_1000
FROM orders o JOIN counts ON counts.tv = o.o_totalprice
ORDER BY o_orderkey
""",
    oracle="""
SELECT o_orderkey, o_totalprice,
       COUNT(*) OVER (ORDER BY o_totalprice
                      RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS n_within_1000
FROM orders
ORDER BY o_orderkey
""",
    present_sort=["o_orderkey"],
)

# SUM(...) OVER () is a GLOBAL SCALAR wearing a window costume: the naive
# form moves every row to one task to compute a single number.  The Spark
# side computes the total as a regular (distributed, partial+final)
# aggregate and broadcast-cross-joins the 1-row result back — no window
# node at all (round 12); same integer-cents total, same single IEEE
# division, so the hash matches the oracle's window form exactly.
sql_query(
    "win_agg_over_unbounded",
    """
WITH tot AS (
  SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS t
  FROM orders)
SELECT o_orderkey,
       CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS DOUBLE) * 100 /
            CAST(t AS DOUBLE) AS pct_of_total
FROM orders CROSS JOIN tot
ORDER BY o_orderkey
LIMIT 100
""",
    oracle="""
SELECT o_orderkey,
       CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS DOUBLE) * 100 /
            CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER () AS DOUBLE) AS pct_of_total
FROM orders
ORDER BY o_orderkey
LIMIT 100
""",
)

# SQLite supports GROUPS frames and EXCLUDE clauses (3.28+); Spark has
# neither.  The three queries below are the documented-gap CLOSURES
# (SURVEY §7.5.3): exact rewrites in Spark-runnable SQL.
#   GROUPS BETWEEN n PRECEDING AND CURRENT ROW
#     ≡ dense_rank the peer groups, then RANGE BETWEEN n PRECEDING AND
#       CURRENT ROW over that rank (peers share a rank, so every row gets
#       its whole peer group — the GROUPS contract).  Ground truth: parity
#       test vs stdlib sqlite3's native GROUPS in test_sqlite_compat.py.
#   ... EXCLUDE CURRENT ROW  ≡ frame_sum - current  (NULL when the frame
#       held only the current row); oracle uses DuckDB's NATIVE EXCLUDE.
#   ... EXCLUDE GROUP  ≡ frame_sum - peer_group_sum (NULL when the frame
#       was exactly the peer group); DuckDB-native oracle likewise.

sql_query(
    "win_groups_frame",
    """
WITH g AS (
  SELECT o_orderkey, o_orderpriority, o_orderdate,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate) AS grp
  FROM orders WHERE o_orderkey <= 2000
)
SELECT o_orderkey,
       CAST(SUM(cents) OVER (PARTITION BY o_orderpriority ORDER BY grp
            RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS grp_cents
FROM g
ORDER BY o_orderkey
""",
)

sql_query(
    "win_exclude_current_row",
    """
SELECT o_orderkey,
       CASE WHEN COUNT(*) OVER w = 1 THEN NULL
            ELSE CAST((SUM(cents) OVER w) - cents AS BIGINT) END AS sum_excl
FROM (SELECT o_orderkey, o_custkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey <= 2000) t
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
ORDER BY o_orderkey
""",
    oracle="""
SELECT o_orderkey,
       CAST(SUM(cents) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW)
            AS BIGINT) AS sum_excl
FROM (SELECT o_orderkey, o_custkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey <= 2000) t
ORDER BY o_orderkey
""",
)

sql_query(
    "win_exclude_group",
    """
SELECT o_orderkey,
       CASE WHEN COUNT(*) OVER run = COUNT(*) OVER peers THEN NULL
            ELSE CAST(SUM(cents) OVER run - SUM(cents) OVER peers AS BIGINT) END
         AS sum_before_peers
FROM (SELECT o_orderkey, o_orderpriority, o_orderdate,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey <= 2000) t
WINDOW run AS (PARTITION BY o_orderpriority ORDER BY o_orderdate
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       peers AS (PARTITION BY o_orderpriority, o_orderdate)
ORDER BY o_orderkey
""",
    oracle="""
SELECT o_orderkey,
       CAST(SUM(cents) OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP)
            AS BIGINT) AS sum_before_peers
FROM (SELECT o_orderkey, o_orderpriority, o_orderdate,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey <= 2000) t
ORDER BY o_orderkey
""",
)

sql_query(
    "win_exclude_ties",
    """
SELECT o_orderkey,
       CAST(SUM(cents) OVER run - SUM(cents) OVER peers + cents AS BIGINT)
         AS sum_excl_ties
FROM (SELECT o_orderkey, o_orderpriority, o_orderdate,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey <= 2000) t
WINDOW run AS (PARTITION BY o_orderpriority ORDER BY o_orderdate
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       peers AS (PARTITION BY o_orderpriority, o_orderdate)
ORDER BY o_orderkey
""",
    oracle="""
SELECT o_orderkey,
       CAST(SUM(cents) OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES)
            AS BIGINT) AS sum_excl_ties
FROM (SELECT o_orderkey, o_orderpriority, o_orderdate,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey <= 2000) t
ORDER BY o_orderkey
""",
)
# ^ EXCLUDE TIES completes the frame-exclusion family (CURRENT ROW /
# GROUP / TIES): keep the current row, drop its OTHER peers ≡
# frame_sum − peer_group_sum + current — never NULL, because the
# current row always survives its own exclusion.  DuckDB-native
# EXCLUDE TIES oracle, same pattern as the two rewrites above.


# --- Subqueries -----------------------------------------------------------

sql_query(
    "subq_scalar_uncorrelated",
    """
SELECT c_custkey, c_acctbal
FROM customer
WHERE c_acctbal > (SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / COUNT(*) / 100.0
                   FROM customer) * 1.5
ORDER BY c_custkey
""",
)

sql_query(
    "subq_scalar_correlated",
    """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o
WHERE o_totalprice > 2 * (SELECT CAST(SUM(CAST(ROUND(o2.o_totalprice * 100) AS BIGINT)) AS DOUBLE) / COUNT(*) / 100.0
                          FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
ORDER BY o_orderkey
""",
)

sql_query(
    "subq_in",
    """
SELECT o_orderkey, o_custkey
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
  AND o_orderstatus = 'O'
ORDER BY o_orderkey
""",
)

sql_query(
    "subq_not_in",
    """
SELECT c_custkey
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
ORDER BY c_custkey
""",
)

sql_query(
    "subq_derived_table",
    """
SELECT seg, n_cust, CAST(total_bal AS DOUBLE) / 100.0 AS total_bal
FROM (
  SELECT c_mktsegment AS seg, COUNT(*) AS n_cust,
         SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS total_bal
  FROM customer GROUP BY c_mktsegment
) t
WHERE n_cust > 1
ORDER BY seg
""",
)

# --- CTEs -----------------------------------------------------------------

sql_query(
    "cte_multi",
    """
WITH big_orders AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 150000
),
cust_big AS (
  SELECT o_custkey, COUNT(*) AS n_big FROM big_orders GROUP BY o_custkey
)
SELECT c_mktsegment, COUNT(*) AS n_customers,
       CAST(SUM(n_big) AS BIGINT) AS total_big_orders
FROM customer JOIN cust_big ON c_custkey = o_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)

sql_query(
    "cte_recursive",
    """
WITH RECURSIVE seq(n) AS (
  SELECT 1
  UNION ALL
  SELECT n + 1 FROM seq WHERE n < 15
)
SELECT n, n * n AS n_squared FROM seq ORDER BY n
""",
)

# --- Grouping sets / rollup / cube / conditional agg ---------------------

sql_query(
    "group_rollup",
    """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY g_flag, g_status, l_returnflag, l_linestatus
""",
)

sql_query(
    "group_cube",
    """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
)

sql_query(
    "group_grouping_sets",
    """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)

sql_query(
    "agg_filter_clause",
    """
SELECT o_orderstatus,
       COUNT(*) AS n_all,
       COUNT(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
       COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)

sql_query(
    "agg_count_distinct",
    """
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)

sql_query(
    "agg_minmax_stats",
    """
SELECT l_linestatus,
       MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
       MIN(l_shipdate) AS first_ship, MAX(l_shipdate) AS last_ship
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)

# string_agg / listagg: dialect split (Spark: listagg ... WITHIN GROUP,
# DuckDB: string_agg(expr, sep ORDER BY ...)).
sql_query(
    "agg_string_concat",
    """
SELECT n_regionkey,
       listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
""",
    oracle="""
SELECT n_regionkey,
       string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
""",
)

sql_query(
    "having_clause",
    """
SELECT l_suppkey, COUNT(*) AS n_lines
FROM lineitem
GROUP BY l_suppkey
HAVING COUNT(*) > 50
ORDER BY n_lines DESC, l_suppkey
""",
)

# --- VALUES inline table --------------------------------------------------

sql_query(
    "values_inline",
    """
SELECT v.code, v.descr, COUNT(o_orderkey) AS n
FROM (VALUES ('F', 'finished'), ('O', 'open'), ('P', 'pending')) AS v(code, descr)
LEFT JOIN orders ON o_orderstatus = v.code
GROUP BY v.code, v.descr
ORDER BY v.code
""",
)


# --- Pivot (DataFrame API; oracle via conditional aggregation) -----------
@query(
    "pivot_status_by_flag",
    oracle="""
SELECT l_returnflag,
       COUNT(*) FILTER (WHERE l_linestatus = 'F') AS F,
       COUNT(*) FILTER (WHERE l_linestatus = 'O') AS O
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def pivot_status_by_flag(spark, sf_dir):
    """df.groupBy().pivot() — Catalyst rewrites to conditional aggregates
    (one shuffle), matching the oracle's FILTER form."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.count(F.lit(1)))
        .orderBy("l_returnflag")
    )


# --- UNPIVOT (wide → long; Spark stack() === DuckDB UNPIVOT) --------------
sql_query(
    "unpivot_stack",
    """
SELECT p_partkey, metric, val
FROM (
  SELECT p_partkey,
         stack(2, 'size_d', CAST(p_size AS DOUBLE),
                  'p_retailprice', p_retailprice) AS (metric, val)
  FROM part
  WHERE p_partkey < 200
) t
ORDER BY p_partkey, metric
""",
    oracle="""
SELECT p_partkey, metric, val FROM (
  SELECT p_partkey, CAST(p_size AS DOUBLE) AS size_d, p_retailprice
  FROM part WHERE p_partkey < 200
) UNPIVOT (val FOR metric IN (size_d, p_retailprice))
ORDER BY p_partkey, metric
""",
)


# --- null-safe equality (<=> / IS NOT DISTINCT FROM) ----------------------
sql_query(
    "join_nullsafe_eq",
    """
SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b
FROM (SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS st FROM orders WHERE o_orderkey < 50) a
JOIN (SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS st FROM orders WHERE o_orderkey < 50) b
  ON a.st IS NOT DISTINCT FROM b.st AND a.o_orderkey < b.o_orderkey
ORDER BY key_a, key_b
""",
)


# --- schema evolution (unionByName over drifted snapshots) ----------------
@query(
    "schema_evolution_union",
    oracle="""
SELECT doc_id, text, lang, source, n_chars FROM (
  SELECT doc_id, text, lang, NULL AS source, NULL AS n_chars
  FROM documents WHERE doc_id % 2 = 1
  UNION ALL BY NAME
  SELECT doc_id, text, source, n_chars FROM documents WHERE doc_id % 2 = 0
)
ORDER BY doc_id
""",
)
def schema_evolution_union(spark, sf_dir):
    """Schema-drift union: an old snapshot (doc_id, text, lang) and a new
    snapshot that dropped `lang` and added `source`/`n_chars`, combined
    with unionByName(allowMissingColumns=True) — absent columns null-fill
    per branch.  The ingestion-pipeline answer to parquet schema evolution
    (same resolution rule as spark.read.option("mergeSchema")); plan-wise
    it's a plain union of two pruned scans, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.where("doc_id % 2 = 1").select("doc_id", "text", "lang")
    new = docs.where("doc_id % 2 = 0").select("doc_id", "text", "source", "n_chars")
    return (
        old.unionByName(new, allowMissingColumns=True)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


# Navigation-function completion: first_value / nth_value (the rank and
# offset families are covered by win_rank_family / win_lag_lead).
sql_query(
    "win_first_nth_value",
    """
SELECT o_custkey, o_orderkey,
       FIRST_VALUE(o_orderkey) OVER w AS first_key,
       NTH_VALUE(o_orderkey, 2) OVER w AS second_key,
       LAST_VALUE(o_orderkey) OVER w AS latest_key
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY o_custkey, o_orderkey
""",
    # no present_sort: one row per order — unbounded output, keep the
    # parallel range sort (see win_running_sum).
)


# LATERAL correlated subquery join (top-N-per-key shape) — the SQL surface
# twin of win_row_number_topk: the per-customer LIMIT runs inside the
# lateral subquery.  Dialect split on the join spelling only: Spark wants
# bare JOIN LATERAL, DuckDB wants CROSS JOIN LATERAL.
sql_query(
    "join_lateral_topn",
    """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c
JOIN LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) o
ORDER BY c_custkey, o_totalprice DESC, o_orderkey
""",
    oracle="""
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c
CROSS JOIN LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) o
ORDER BY c_custkey, o_totalprice DESC, o_orderkey
""",
)


# Time-interval RANGE frame (the rolling-window-by-TIME spelling; the
# numeric-range frame is win_range_frame).  Peer-inclusive semantics make
# ties on ts deterministic without an id tie-break.  Identical text both
# engines.
sql_query(
    "win_range_interval",
    """
SELECT event_id, event_type,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER
            (PARTITION BY event_type ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_cents,
       CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_n
FROM events
ORDER BY event_id
""",
)

# GROUP BY ALL / ORDER BY ALL (the modern dialect sugar both engines
# support: every non-aggregate select item becomes a grouping key).
sql_query(
    "group_by_all",
    """
SELECT event_type, DATE_TRUNC('DAY', ts) AS day, CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY ALL
ORDER BY ALL
""",
    oracle="""
SELECT event_type, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day, CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY ALL
ORDER BY ALL
""",
)


@query(
    "stats_equidepth_bins",
    oracle="""
WITH ranked AS (
  SELECT o_totalprice,
         ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER () AS n
  FROM orders),
binned AS (
  SELECT CAST(((rn - 1) * 10) // n AS BIGINT) AS bin, o_totalprice
  FROM ranked)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi
FROM binned
GROUP BY bin
ORDER BY bin
""",
)
def stats_equidepth_bins(spark, sf_dir):
    """Equi-depth histogram boundaries: 10 equal-population bins over
    order totals (bin of row rn = (rn−1)·10 div N — the same remainder
    distribution on both engines, unlike NTILE whose remainder placement
    is engine-defined lore), emitting per-bin population and [lo, hi]
    bounds — the optimizer/monitoring statistic equi-WIDTH histograms
    (sketch_quantile_hist) cannot give on skewed value distributions.

    Scale shape: the global rank runs through
    operators/scale.distributed_row_number (range shuffle + local rank +
    driver-prefix-summed offsets — no single-partition window); N comes
    from the same per-partition counts, here a 1-row broadcast; the
    bin rollup is an ordinary hash aggregate."""
    from pyspark.sql import functions as F

    from steampipe_sqlite_spark.operators.scale import distributed_row_number
    from steampipe_sqlite_spark.plans.registry import presentation_sort

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    ranked = distributed_row_number(
        orders, [F.col("o_totalprice"), F.col("o_orderkey")], name="rn"
    )
    n = orders.agg(F.count(F.lit(1)).alias("n"))
    binned = ranked.crossJoin(F.broadcast(n)).selectExpr(
        "CAST(((rn - 1) * 10) div n AS BIGINT) AS bin", "o_totalprice"
    )
    out = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )
    return presentation_sort(out, ["bin"])


@query(
    "rfm_segmentation",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(MAX(CAST(o_orderdate AS DATE)) AS DATE) AS last_order,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY o_custkey),
anchored AS (
  SELECT o_custkey,
         (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders) - last_order
           AS recency_days,
         freq, monetary_cents
  FROM per_cust),
scored AS (
  SELECT o_custkey, recency_days, freq, monetary_cents,
         ((ROW_NUMBER() OVER (ORDER BY recency_days, o_custkey) - 1) * 5)
           // (COUNT(*) OVER ()) + 1 AS r_score,
         ((ROW_NUMBER() OVER (ORDER BY freq, o_custkey) - 1) * 5)
           // (COUNT(*) OVER ()) + 1 AS f_score,
         ((ROW_NUMBER() OVER (ORDER BY monetary_cents, o_custkey) - 1) * 5)
           // (COUNT(*) OVER ()) + 1 AS m_score
  FROM anchored)
SELECT CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
FROM scored
GROUP BY 1
ORDER BY rfm
""",
)
def rfm_segmentation(spark, sf_dir):
    """RFM customer segmentation: per-customer recency (days from the
    corpus max order date), frequency, monetary (integer cents), each
    quintiled with the explicit (rn−1)·5 div n formula ((o_custkey
    tie-break ⇒ total order; NTILE's remainder placement is
    engine-defined, the same reason stats_equidepth_bins avoids it),
    rolled up to segment code → customer count + segment revenue.

    Scale shape: each of the three global ranks runs through
    operators/scale.distributed_row_number over the per-customer
    AGGREGATE (map-side-partial groupBy over orders first) — the earlier
    three empty-OVER ROW_NUMBER windows each single-partitioned the
    customer set (VERDICT r6); n for the quintile formula is the
    rank helper's own partition-count total (no COUNT(*) OVER ()).
    The 1-row max-date anchor broadcasts."""
    from pyspark.sql import functions as F

    from steampipe_sqlite_spark.operators.scale import distributed_row_number
    from steampipe_sqlite_spark.plans.registry import presentation_sort

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.expr("MAX(CAST(o_orderdate AS DATE))").alias("last_order"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.expr("CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)").alias(
            "monetary_cents"
        ),
    )
    anchor = orders.agg(F.expr("MAX(CAST(o_orderdate AS DATE))").alias("max_d"))
    anchored = per_cust.crossJoin(F.broadcast(anchor)).selectExpr(
        "o_custkey", "datediff(max_d, last_order) AS recency_days",
        "freq", "monetary_cents",
    )
    # persist the customer-sized aggregate once (optimization r14): the
    # first rank pass's repartitionByRange SAMPLES its child and then
    # materializes it, so an unpersisted `anchored` ran the orders
    # scan+groupBy (and the broadcast anchor's second orders scan) twice
    # before any ranking happened.  Customer-grain state, same size class
    # as the ranked partitions the helper itself checkpoints.  Measured
    # 2.59 s -> 1.95 s warm at sf0.1, identical output.
    anchored = anchored.persist()
    d1 = distributed_row_number(
        anchored, [F.col("recency_days"), F.col("o_custkey")], name="_rn_r"
    )
    n = d1._sgs_total_rows
    d2 = distributed_row_number(
        d1, [F.col("freq"), F.col("o_custkey")], name="_rn_f"
    )
    d3 = distributed_row_number(
        d2, [F.col("monetary_cents"), F.col("o_custkey")], name="_rn_m"
    )
    scored = d3.selectExpr(
        "o_custkey", "recency_days", "freq", "monetary_cents",
        f"((_rn_r - 1) * 5) div {max(n, 1)} + 1 AS r_score",
        f"((_rn_f - 1) * 5) div {max(n, 1)} + 1 AS f_score",
        f"((_rn_m - 1) * 5) div {max(n, 1)} + 1 AS m_score",
    )
    out = (
        scored.groupBy(
            F.expr("CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT)").alias("rfm")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("monetary_cents").cast("long").alias("segment_cents"),
        )
    )
    return presentation_sort(out, ["rfm"])


@query(
    "market_basket_pairs",
    oracle="""
WITH lines AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pair AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM lines a JOIN lines b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey),
deg AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n FROM lines GROUP BY l_partkey)
SELECT part_a, part_b, n_ab, da.n AS n_a, db.n AS n_b, CAST(rnk AS INT) AS rnk
FROM (
  SELECT part_a, part_b, n_ab,
         ROW_NUMBER() OVER (ORDER BY n_ab DESC, part_a, part_b) AS rnk
  FROM pair) p
JOIN deg da ON da.l_partkey = p.part_a
JOIN deg db ON db.l_partkey = p.part_b
WHERE rnk <= 20
ORDER BY rnk
""",
)
def market_basket_pairs(spark, sf_dir):
    """Market-basket pair mining: the 20 most co-ordered part pairs with
    their joint and marginal basket counts (integer support counts —
    callers derive lift/confidence; emitting the ratio would hit the
    float-division rules).  The pair-level core of frequent-itemset
    mining.

    Scale shape: the pair space explodes WITHIN an order key only
    (baskets are small — C(lines_per_order, 2), not corpus²); the join
    is a self equi-join on l_orderkey with map-side distinct first;
    marginals broadcast back onto the 20-row top list."""
    from pyspark.sql import functions as F

    from steampipe_sqlite_spark.plans.registry import presentation_sort

    li = load_table(spark, sf_dir, "lineitem")
    # persist the distinct basket lines ONCE (optimization r15): the
    # relation is referenced three times (both self-join faces + the
    # marginal-degree aggregate), and unpersisted each reference re-ran
    # the lineitem scan AND the distinct's exchange+aggregate — the
    # executed plan carried 3 scans / 3 distinct aggregates
    # (plans/r15/market_basket_pairs_{before,after}.txt).  Two longs per
    # distinct (order, part) row — bounded within-query state, dropped by
    # clearCache between bench runs.
    lines = li.select("l_orderkey", "l_partkey").distinct().persist()
    a, b = lines.alias("a"), lines.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    top = pair.selectExpr(
        "part_a", "part_b", "n_ab",
        "CAST(ROW_NUMBER() OVER (ORDER BY n_ab DESC, part_a, part_b) AS INT) AS rnk",
    ).where("rnk <= 20")
    deg = lines.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("n"))
    out = (
        top.join(deg.selectExpr("l_partkey AS part_a", "n AS n_a"), "part_a")
        .join(deg.selectExpr("l_partkey AS part_b", "n AS n_b"), "part_b")
        .select("part_a", "part_b", "n_ab", "n_a", "n_b", "rnk")
    )
    return presentation_sort(out, ["rnk"])


# --- Evaluation / distribution statistics ----------------------------------
# (round 6 continuation: rank-based metrics with exact integer emission —
# every ratio goes through explicit long division so the hash compare never
# meets a float.)


def _ppm_div(num: str, den: str, op: str) -> str:
    """Exact floor((num/den)*1e6) in three BIGINT-safe steps.

    A single ``num*1000000 {op} den`` overflows BIGINT once num exceeds
    ~9.2e12; splitting 1e6 into 1e3·1e3 keeps every intermediate below
    ``den*1000``, so the expression is exact while den < 9.2e15 (covers
    sf1000 on the monetary corpus in integer dollars).  ``op`` is the
    dialect's integer-division spelling ('div' Spark, '//' DuckDB); both
    floor for the non-negative operands used here.
    """
    r1 = f"(({num}) % ({den}))"
    r2 = f"(({r1} * 1000) % ({den}))"
    return (
        f"CAST((({num}) {op} ({den})) * 1000000"
        f" + (({r1} * 1000) {op} ({den})) * 1000"
        f" + (({r2} * 1000) {op} ({den})) AS BIGINT)"
    )


_AUC_U2 = "ranksum2 - npos * (npos + 1)"
_AUC_DEN = "(2 * npos * (n - npos))"


@query(
    "eval_auc_mann_whitney",
    oracle=f"""
WITH lab AS (
  SELECT value AS s,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events),
by_s AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(y) AS BIGINT) AS cpos
  FROM lab GROUP BY s),
cum AS (
  SELECT cnt, cpos,
         CAST(SUM(cnt) OVER (ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt
              AS BIGINT) AS c_before
  FROM by_s),
tot AS (
  SELECT CAST(SUM(cpos * (2 * c_before + cnt + 1)) AS BIGINT) AS ranksum2,
         CAST(SUM(cpos) AS BIGINT) AS npos,
         CAST(SUM(cnt) AS BIGINT) AS n
  FROM cum)
SELECT {_AUC_U2} AS u2,
       npos, n - npos AS nneg,
       CASE WHEN npos = 0 OR npos = n THEN CAST(NULL AS BIGINT)
            ELSE {_ppm_div(_AUC_U2, _AUC_DEN, "//")} END AS auc_ppm
FROM tot
""",
)
def eval_auc_mann_whitney(spark, sf_dir):
    """Binary-classifier AUC as the Mann-Whitney rank statistic: treating
    `value` as the score and `event_type='purchase'` as the positive
    label, AUC = U / (npos*nneg) with the tie-corrected U from average
    ranks (Mann & Whitney 1947; the AUC equivalence is Hanley & McNeil
    1982 — public constructions).  Emitted exactly: u2 = 2U is an integer even with ties (the
    0.5 tie credit doubles away), auc_ppm via the 3-step BIGINT-safe
    long division (_ppm_div: exact while 2*npos*nneg < 9.2e15 — ~1e8
    balanced events; the naive u2*500000 form would wrap 1000x earlier).

    Scale shape: the rank prefix runs over the DISTINCT-score aggregate
    via operators/scale.distributed_running_sum (range shuffle + local
    cumsum + driver-prefix-summed offsets) — no single-partition window
    over raw events; the final fold is a 1-row aggregate."""
    from pyspark.sql import functions as F

    from steampipe_sqlite_spark.operators.scale import distributed_running_sum

    events = load_table(spark, sf_dir, "events")
    lab = events.selectExpr(
        "value AS s",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y",
    )
    by_s = lab.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("cpos"),
    )
    cum = distributed_running_sum(by_s, "cnt", [F.col("s")], name="csum")
    tot = cum.selectExpr(
        "cpos", "cnt", "csum - cnt AS c_before"
    ).agg(
        F.expr("CAST(SUM(cpos * (2 * c_before + cnt + 1)) AS BIGINT)").alias(
            "ranksum2"
        ),
        F.expr("CAST(SUM(cpos) AS BIGINT)").alias("npos"),
        F.expr("CAST(SUM(cnt) AS BIGINT)").alias("n"),
    )
    return tot.selectExpr(
        f"{_AUC_U2} AS u2",
        "npos",
        "n - npos AS nneg",
        "CASE WHEN npos = 0 OR npos = n THEN CAST(NULL AS BIGINT) ELSE "
        + _ppm_div(_AUC_U2, _AUC_DEN, "div")
        + " END AS auc_ppm",
    )


@query(
    "stats_gini_spend",
    oracle=f"""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS dollars
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT dollars,
         ROW_NUMBER() OVER (ORDER BY dollars, o_custkey) AS rn
  FROM per_cust),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dollars) AS BIGINT) AS sumx,
         CAST(SUM(rn * dollars) AS BIGINT) AS sumix
  FROM ranked)
SELECT 2 * sumix - (n + 1) * sumx AS gini_num,
       n * sumx AS gini_den,
       {_ppm_div('2 * sumix - (n + 1) * sumx', 'n * sumx', '//')} AS gini_ppm
FROM tot
""",
)
def stats_gini_spend(spark, sf_dir):
    """Gini concentration of customer spend (integer dollars): the exact
    rank (Sen 1973) formula G = (2*Σ i·x_i − (n+1)·Σx) / (n·Σx) over ascending
    spend, custkey tie-break.  Emits the exact integer numerator /
    denominator plus gini_ppm via 3-step BIGINT-safe long division
    (see _ppm_div — den < 9.2e15 envelope).

    Scale shape: the global rank is operators/scale.distributed_row_number
    over the per-customer AGGREGATE (map-side-partial groupBy first);
    the closing fold is a 1-row aggregate."""
    from pyspark.sql import functions as F

    from steampipe_sqlite_spark.operators.scale import distributed_row_number

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.expr("CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT)").alias(
            "dollars"
        )
    )
    ranked = distributed_row_number(
        per_cust, [F.col("dollars"), F.col("o_custkey")], name="rn"
    )
    tot = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dollars").cast("long").alias("sumx"),
        F.expr("CAST(SUM(rn * dollars) AS BIGINT)").alias("sumix"),
    )
    return tot.selectExpr(
        "2 * sumix - (n + 1) * sumx AS gini_num",
        "n * sumx AS gini_den",
        _ppm_div("2 * sumix - (n + 1) * sumx", "n * sumx", "div") + " AS gini_ppm",
    )


_BENFORD_BODY_T = """
WITH cents AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c FROM orders
  WHERE o_totalprice > 0),
digits AS (
  SELECT CAST(substring(CAST(c AS {vtype}), 1, 1) AS BIGINT) AS digit
  FROM cents),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM digits)
SELECT digit,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) * 10000 {op} (SELECT n FROM tot) AS BIGINT) AS share_bp
FROM digits
GROUP BY digit
ORDER BY digit
"""
# First-significant-digit (Benford) profile of order totals — the
# data-quality / fraud screen.  The digit comes from the INTEGER cents'
# decimal rendering (int->string is identical across engines; a double's
# rendering is not), share in exact basis points.  Pure two-level hash
# aggregate: map-side partial on <=9 digit groups, 1-row total broadcast.
sql_query(
    "stats_benford_first_digit",
    _BENFORD_BODY_T.format(vtype="STRING", op="div"),
    oracle=_BENFORD_BODY_T.format(vtype="VARCHAR", op="//"),
    present_sort=["digit"],
)


@query(
    "stats_pareto_topdecile",
    oracle=f"""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS dollars
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT dollars,
         ROW_NUMBER() OVER (ORDER BY dollars DESC, o_custkey) AS rn
  FROM per_cust),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dollars) AS BIGINT) AS total
  FROM ranked),
top AS (
  SELECT CAST(SUM(dollars) AS BIGINT) AS top_dollars,
         CAST(COUNT(*) AS BIGINT) AS n_top
  FROM ranked WHERE rn <= (SELECT (n + 9) // 10 FROM tot))
SELECT n_top, (SELECT n FROM tot) AS n_customers,
       top_dollars, (SELECT total FROM tot) AS total_dollars,
       {_ppm_div('top_dollars', '(SELECT total FROM tot)', '//')} AS share_ppm
FROM top
""",
)
def stats_pareto_topdecile(spark, sf_dir):
    """Pareto concentration: revenue share of the top-decile customers
    (ceil(n/10) by spend, custkey tie-break) in exact ppm — the 80/20
    check every curation dashboard wants.

    Scale shape: distributed_row_number ranks the per-customer aggregate;
    the n / total anchors are 1-row aggregates broadcast into the
    filter; no raw-order row crosses the rank shuffle."""
    from pyspark.sql import functions as F

    from steampipe_sqlite_spark.operators.scale import distributed_row_number

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.expr("CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT)").alias(
            "dollars"
        )
    )
    ranked = distributed_row_number(
        per_cust, [F.col("dollars").desc(), F.col("o_custkey")], name="rn"
    )
    tot = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dollars").cast("long").alias("total"),
    )
    top = (
        ranked.crossJoin(F.broadcast(tot))
        .where("rn <= (n + 9) div 10")
        .agg(
            F.sum("dollars").cast("long").alias("top_dollars"),
            F.count(F.lit(1)).cast("long").alias("n_top"),
            F.first("n").cast("long").alias("n_customers"),
            F.first("total").cast("long").alias("total_dollars"),
        )
    )
    return top.selectExpr(
        "n_top", "n_customers", "top_dollars", "total_dollars",
        _ppm_div("top_dollars", "total_dollars", "div") + " AS share_ppm",
    )


_MODE_BODY = """
WITH cnts AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY user_id, event_type),
ranked AS (
  SELECT user_id, event_type, c,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY c DESC, event_type) AS rnk
  FROM cnts)
SELECT user_id, event_type AS mode_event, c AS mode_count
FROM ranked WHERE rnk = 1
ORDER BY user_id
"""
# Statistical MODE per group with a deterministic lexicographic tie-break
# (engines disagree on mode() tie choice, so the corpus spells the argmax
# out).  The rank window runs over the (user, type) AGGREGATE — bounded
# fan-in per user — never over raw events.
sql_query("agg_mode_per_group", _MODE_BODY, present_sort=["user_id"])


_RUNNING_DISTINCT_BODY = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM events)
SELECT user_id, event_id,
       CAST(SUM(first_seen) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_distinct_types
FROM flagged
ORDER BY user_id, event_id
"""
# Running COUNT(DISTINCT) over an ordered stream — not directly expressible
# as a window aggregate in any engine — via the first-occurrence-flag
# decomposition: a distinct count's running value is the running SUM of
# "is this the first time the key appears".  Both windows are PARTITIONED
# (by (user, type) then by user) — bounded per-key state, no global
# funnel; the unbounded output keeps the parallel range sort.
sql_query("win_running_distinct", _RUNNING_DISTINCT_BODY)


@query(
    "stats_join_size_profile",
    oracle="""
WITH ca AS (SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
            FROM orders GROUP BY o_orderkey),
cb AS (SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
       FROM lineitem GROUP BY l_orderkey),
prod AS (
  SELECT ca.k, ca.c * cb.c AS rows_for_key
  FROM ca JOIN cb ON ca.k = cb.k)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ca) AS n_keys_left,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cb) AS n_keys_right,
       CAST(COUNT(*) AS BIGINT) AS n_common_keys,
       CAST(SUM(rows_for_key) AS BIGINT) AS join_rows,
       CAST(MAX(rows_for_key) AS BIGINT) AS max_key_rows
FROM prod
""",
)
def stats_join_size_profile(spark, sf_dir):
    """Exact join-cardinality profile for orders x lineitem on orderkey:
    |A join B| = sum over common keys of cA(k)*cB(k), plus the max
    single-key contribution — the statistic a cost-based planner (and a
    skew-mitigation decision) needs BEFORE running the join, computed
    from per-key count aggregates that are orders of magnitude smaller
    than the join output itself.

    Scale shape: two map-side-partial count aggregates, one equi-join of
    the (key, count) frames, one 1-row fold.  The raw join never runs."""
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ca = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("c_a")
    )
    cb = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("c_b")
    )
    na = ca.agg(F.count(F.lit(1)).cast("long").alias("n_keys_left"))
    nb = cb.agg(F.count(F.lit(1)).cast("long").alias("n_keys_right"))
    prod = ca.join(cb, "k").selectExpr("c_a * c_b AS rows_for_key")
    out = (
        prod.agg(
            F.count(F.lit(1)).cast("long").alias("n_common_keys"),
            F.sum("rows_for_key").cast("long").alias("join_rows"),
            F.max("rows_for_key").cast("long").alias("max_key_rows"),
        )
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            "n_keys_left", "n_keys_right", "n_common_keys",
            "join_rows", "max_key_rows",
        )
    )
    return out


_KS_BODY = """
WITH s1 AS (SELECT n_chars AS v FROM documents WHERE lang = 'en'),
s2 AS (SELECT n_chars AS v FROM documents WHERE lang = 'de'),
n1t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1 FROM s1),
n2t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n2 FROM s2),
c1 AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM s1 GROUP BY v),
c2 AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM s2 GROUP BY v),
sup AS (SELECT v FROM c1 UNION SELECT v FROM c2),
merged AS (
  SELECT sup.v, COALESCE(c1.c, 0) AS a, COALESCE(c2.c, 0) AS b
  FROM sup LEFT JOIN c1 ON c1.v = sup.v LEFT JOIN c2 ON c2.v = sup.v),
cum AS (
  SELECT v,
         CAST(SUM(a) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum1,
         CAST(SUM(b) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum2
  FROM merged)
SELECT (SELECT n1 FROM n1t) AS n1, (SELECT n2 FROM n2t) AS n2,
       CAST(MAX(ABS(cum1 * (SELECT n2 FROM n2t)
                    - cum2 * (SELECT n1 FROM n1t))) AS BIGINT) AS d_num,
       CASE WHEN (SELECT n1 FROM n1t) = 0 OR (SELECT n2 FROM n2t) = 0
            THEN CAST(NULL AS BIGINT) ELSE
       CAST(((MAX(ABS(cum1 * (SELECT n2 FROM n2t) - cum2 * (SELECT n1 FROM n1t)))) {op} (((SELECT n1 FROM n1t) * (SELECT n2 FROM n2t)))) * 1000000 + ((((MAX(ABS(cum1 * (SELECT n2 FROM n2t) - cum2 * (SELECT n1 FROM n1t)))) % (((SELECT n1 FROM n1t) * (SELECT n2 FROM n2t)))) * 1000) {op} (((SELECT n1 FROM n1t) * (SELECT n2 FROM n2t)))) * 1000 + ((((((MAX(ABS(cum1 * (SELECT n2 FROM n2t) - cum2 * (SELECT n1 FROM n1t)))) % (((SELECT n1 FROM n1t) * (SELECT n2 FROM n2t)))) * 1000) % (((SELECT n1 FROM n1t) * (SELECT n2 FROM n2t)))) * 1000) {op} (((SELECT n1 FROM n1t) * (SELECT n2 FROM n2t)))) AS BIGINT)
         END AS d_ppm
FROM cum
"""
# Two-sample Kolmogorov-Smirnov statistic (en vs de document lengths):
# D = max |F1 - F2| over the merged support, emitted as the exact
# integer numerator max|cum1*n2 - cum2*n1| plus floor-ppm via the
# 3-step BIGINT-safe division (exact while n1*n2 < 9.2e15) — the
# continuous-distribution drift test TVD binning can't give.  The cumsum
# window runs over the COMPACTED per-length counts (support is bounded
# by the value domain, not the corpus — the documented bounded-aggregate
# exception; an unbounded-domain column would swap to
# distributed_running_sum like eval_auc_mann_whitney).
sql_query(
    "stats_ks_lengths",
    _KS_BODY.format(op="div"),
    oracle=_KS_BODY.format(op="//"),
)


_HHI_BODY = """
WITH per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY user_id),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(c) AS BIGINT) AS n_events,
         CAST(SUM(c * c) AS BIGINT) AS sum_sq
  FROM per_user)
SELECT n_users, n_events, sum_sq,
       CAST(((sum_sq) {op} ((n_events * n_events))) * 1000000 + ((((sum_sq) % ((n_events * n_events))) * 1000) {op} ((n_events * n_events))) * 1000 + ((((((sum_sq) % ((n_events * n_events))) * 1000) % ((n_events * n_events))) * 1000) {op} ((n_events * n_events))) AS BIGINT) AS hhi_ppm
FROM tot
"""
# Herfindahl-Hirschman concentration of event volume across users:
# HHI = sum of squared shares = sum(c^2)/n^2, exact floor-ppm (1e6/n_users
# ppm = perfectly even; 1e6 = single-user monopoly) — the "is one tenant
# eating the pipeline" screen.  One partial-count aggregate + a 1-row
# fold.  sum_sq wraps BIGINT only past ~3e9 events on a single user; the
# ppm goes through the 3-step BIGINT-safe division (exact while
# n_events^2 < 9.2e15 — beyond that, emit components and divide outside).
sql_query(
    "events_user_hhi",
    _HHI_BODY.format(op="div"),
    oracle=_HHI_BODY.format(op="//"),
)


_GROUPING_FLAGS_BODY = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY g_flag, g_status, l_returnflag, l_linestatus
"""
# GROUPING() flag parity over CUBE: the per-column 0/1 indicator that
# disambiguates a "grouped NULL" from a data NULL (the SQL-standard way;
# GROUPING_ID's BIT ORDER is engine-lore, so the corpus emits the
# per-column flags instead).  Same text both engines.
sql_query(
    "group_cube_grouping_flags",
    _GROUPING_FLAGS_BODY,
    present_sort=["g_flag", "g_status", "l_returnflag", "l_linestatus"],
)

_ANY_VALUE_BODY = """
SELECT o_custkey,
       ANY_VALUE(c_name) AS cust_name,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders JOIN customer ON c_custkey = o_custkey
GROUP BY o_custkey
ORDER BY o_custkey
"""
# ANY_VALUE in its one DETERMINISTIC use: carrying a functionally-
# dependent attribute (custkey -> name is 1:1) through a GROUP BY
# without paying a MAX comparator or widening the grouping key — the
# standard idiom for "group by key, keep the label".  Deterministic
# precisely because each group holds a single distinct value; the corpus
# would never hash-compare ANY_VALUE over a multi-valued column.
sql_query(
    "agg_any_value_functional",
    _ANY_VALUE_BODY,
    present_sort=["o_custkey"],
)


# Benford expected first-digit shares log10(1 + 1/d), pre-rounded to ppm
# literals shared by both engines — same no-runtime-logarithm rule as the
# nDCG discounts.
_BENFORD_EXP = "(VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910)," \
    " (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757))"

_BENFORD_DEV_BODY = """
WITH cents AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c FROM orders
  WHERE o_totalprice > 0),
digits AS (
  SELECT CAST(substring(CAST(c AS {vtype}), 1, 1) AS BIGINT) AS digit
  FROM cents),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM digits),
obs AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) * 1000000 {op} (SELECT n FROM tot) AS BIGINT)
           AS obs_ppm
  FROM digits GROUP BY digit),
exp_t AS (SELECT * FROM {exp_values} AS t(digit, exp_ppm))
SELECT e.digit, COALESCE(o.n_rows, 0) AS n_rows,
       COALESCE(o.obs_ppm, 0) AS obs_ppm,
       CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
       ABS(COALESCE(o.obs_ppm, 0) - e.exp_ppm) AS abs_dev_ppm
FROM exp_t e LEFT JOIN obs o ON o.digit = e.digit
ORDER BY e.digit
"""
# Benford CONFORMANCE screen: observed vs expected first-digit shares
# with the per-digit absolute deviation — the number a fraud/synthetic-
# data review actually reads (stats_benford_first_digit gives the raw
# profile; this scores it).  Expected shares are literals, absent digits
# materialize as 0-observation rows via the 9-row expectation spine.
sql_query(
    "stats_benford_deviation",
    _BENFORD_DEV_BODY.format(vtype="STRING", op="div", exp_values=_BENFORD_EXP),
    oracle=_BENFORD_DEV_BODY.format(vtype="VARCHAR", op="//", exp_values=_BENFORD_EXP),
    present_sort=["digit"],
)


# percent_rank / cume_dist surface witnesses (SURVEY §2.3 window family —
# neither was previously exercised by name).  The window input is the
# per-nation customer AGGREGATE (≤25 rows at any corpus size), so the
# unpartitioned window is bounded-by-construction — allowlisted in
# test_plans.GLOBAL_WINDOW_BOUNDED_OK with this justification.  Both
# fractions are a single correctly-rounded IEEE division of small
# integers, bit-identical across engines.
sql_query(
    "win_percent_rank_cume_dist",
    """
WITH per_nation AS (
  SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust
  FROM customer GROUP BY c_nationkey)
SELECT c_nationkey, n_cust,
       percent_rank() OVER (ORDER BY n_cust, c_nationkey) AS pr,
       cume_dist() OVER (ORDER BY n_cust, c_nationkey) AS cd
FROM per_nation
ORDER BY c_nationkey
""",
    present_sort=["c_nationkey"],
)
