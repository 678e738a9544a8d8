"""SQL-surface coverage queries (SURVEY.md §2.B).

The reference delegates its whole query surface to DataFusion SQL
(/root/reference/lib/src/context/session.rs:658-673); parity here means
Spark SQL answers the same query categories. Each entry below covers one
§2.B category; most share identical SQL text with the DuckDB oracle.

Determinism rules (so the order-insensitive value hash matches):
- every aggregate over DOUBLE is exact and order-independent: either a
  DECIMAL sum or the split scaled-long sum (``_ss`` below) — identical
  across engines either way;
- every output column is explicitly cast/aliased to a common type and a
  final projection never emits DECIMAL (the comparator canonicalizes
  DOUBLE);
- LIMIT queries carry a total ORDER BY (unique-key tie-break);
- float-valued math outputs are rounded to 6 decimals.
"""

from __future__ import annotations

from datafusion_server_spark.queries import sql_query

D = "DECIMAL(38,6)"
D18 = "DECIMAL(18,6)"  # element-level cast: long-backed decimal, ~35% faster aggregation

# Split scaled-long sum: v = ROUND(x*1e6) AS BIGINT per row, summed as
# two longs (quotient/remainder by 1e6) and recombined in DOUBLE.
# - exact + order-independent (integer sums), so partition-layout- and
#   engine-independent: Spark's `DIV`/`%` and DuckDB's `//`/`%` both
#   truncate toward zero, and ROUND on doubles agrees between engines;
# - ~2.3x faster than the DECIMAL(18,6) sum (plain long adds inside
#   whole-stage codegen vs Int128 accumulation), measured on q1 at sf0.1
#   with bit-identical output;
# - overflow-safe far past 100 TB: with 6-decimal scaling of ~1e5-magnitude
#   measures, the remainder sum overflows at ~9e12 rows per group and the
#   quotient sum at ~8e13 (TPC-H sf100k); DECIMAL remains the fallback for
#   wider domains.
# The two engines' SQL differs ONLY in the integer-division token, so
# every converted query is registered as template(DIV) / template(//).


def _ss(expr: str, alias: str, div: str, flt: str = "") -> str:
    v = f"CAST(ROUND(({expr}) * 1000000) AS BIGINT)"
    return (
        f"ROUND((CAST(SUM({v} {div} 1000000){flt} AS DOUBLE) * 1000000 + "
        f"CAST(SUM({v} % 1000000){flt} AS DOUBLE)) / 1000000, 6) AS {alias}"
    )

# --- Aggregation ----------------------------------------------------------

def _q1(div: str) -> str:
    return f"""
    SELECT l_returnflag, l_linestatus,
           {_ss("l_quantity", "sum_qty", div)},
           {_ss("l_extendedprice", "sum_base_price", div)},
           {_ss("l_extendedprice * (1 - l_discount)", "sum_disc_price", div)},
           {_ss("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge", div)},
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    """


# Spark side: FUSED split-sum. Each measure's scaled-BIGINT conversion
# v = CAST(ROUND(expr*1e6) AS BIGINT) is projected ONCE in an inner
# SELECT and the two split sums consume the projected column — the
# inline `_ss` form evaluates the ROUND/CAST chain twice per measure
# (Catalyst does not CSE across aggregate argument expressions). The
# per-row conversion, not the extra DIV/% sum, is the exactness cost
# (A/B in PLANS.md, "Verdict task 4 — q1/q6 exactness constant").
# Values bit-identical to the split form (same exact integers); the
# oracle keeps the inline single-phase form — agreement proves the
# fusion.
def _q1_fused_spark() -> str:
    measures = [
        ("l_quantity", "sum_qty"),
        ("l_extendedprice", "sum_base_price"),
        ("l_extendedprice * (1 - l_discount)", "sum_disc_price"),
        ("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge"),
    ]
    proj = ", ".join(
        f"CAST(ROUND(({expr}) * 1000000) AS BIGINT) AS v{i}"
        for i, (expr, _) in enumerate(measures)
    )
    cols = ", ".join(
        f"ROUND((CAST(SUM(v{i} DIV 1000000) AS DOUBLE) * 1000000 + "
        f"CAST(SUM(v{i} % 1000000) AS DOUBLE)) / 1000000, 6) AS {alias}"
        for i, (_, alias) in enumerate(measures)
    )
    return f"""
    SELECT l_returnflag, l_linestatus, {cols},
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM (
      SELECT l_returnflag, l_linestatus, {proj}
      FROM lineitem WHERE l_shipdate <= DATE '2001-09-01'
    ) t
    GROUP BY l_returnflag, l_linestatus
    """


sql_query("q1_pricing_summary", _q1_fused_spark(), oracle=_q1("//"))


def _fused_v(expr: str, i: int = 0) -> str:
    """Inner-projection leg of the fused split-sum: the scaled-BIGINT
    conversion, projected once per measure (see _q1_fused_spark)."""
    return f"CAST(ROUND(({expr}) * 1000000) AS BIGINT) AS v{i}"


def _fused_sum(alias: str, i: int = 0) -> str:
    """Outer-aggregation leg of the fused split-sum."""
    return (
        f"ROUND((CAST(SUM(v{i} DIV 1000000) AS DOUBLE) * 1000000 + "
        f"CAST(SUM(v{i} % 1000000) AS DOUBLE)) / 1000000, 6) AS {alias}"
    )

def _agg_grouping_sets(div: str) -> str:
    return f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           {_ss("o_totalprice", "total", div)},
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """


def _agg_cube(div: str) -> str:
    return f"""
    SELECT o_orderstatus, o_orderpriority,
           {_ss("o_totalprice", "total", div)},
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """


# Spark side: TWO-PHASE multi-grouping (r11 sf1 diagnosis, extended to
# ROLLUP/GROUPING SETS in r12 per the verdict). Spark plans CUBE/ROLLUP/
# GROUPING SETS as an Expand that multiplies the INPUT once per grouping
# set BEFORE the partial aggregate — measured 0.674 s vs 0.246 s for the
# plain (a,b) group-by at sf1 (cube; rollup/sets pay the same 3x). SUM/
# COUNT are algebraic, so the multi-grouping over the pre-aggregated
# (a,b) table is value-identical (BIGINT partial sums are associative;
# the final hi*1e6+lo recombination sees the same exact integers) while
# the Expand touches ~25 rows instead of 1.5M. GROUPING(col) also
# survives the decomposition: the outer query's grouping sets are the
# original ones, so its GROUPING flags are computed on the same sets.
# At 100 TB this is the only sane plan shape; DuckDB reaches the same
# effect internally via hierarchical grouping-set computation. The
# oracles keep the direct single-phase form — agreement proves the
# decomposition.
def _two_phase_multi_group(group_clause: str, grouping_cols: str = "") -> str:
    return f"""
    SELECT o_orderstatus, o_orderpriority,{grouping_cols}
           ROUND((CAST(SUM(s_hi) AS DOUBLE) * 1000000 +
                  CAST(SUM(s_lo) AS DOUBLE)) / 1000000, 6) AS total,
           CAST(SUM(n) AS BIGINT) AS n
    FROM (
      SELECT o_orderstatus, o_orderpriority,
             SUM(CAST(ROUND((o_totalprice) * 1000000) AS BIGINT) DIV 1000000)
               AS s_hi,
             SUM(CAST(ROUND((o_totalprice) * 1000000) AS BIGINT) % 1000000)
               AS s_lo,
             COUNT(*) AS n
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ) base
    GROUP BY {group_clause}
    """


sql_query(
    "agg_grouping_sets",
    _two_phase_multi_group(
        "GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())",
        """
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,""",
    ),
    oracle=_agg_grouping_sets("//"),
)

sql_query(
    "agg_cube",
    _two_phase_multi_group("CUBE (o_orderstatus, o_orderpriority)"),
    oracle=_agg_cube("//"),
)


def _agg_rollup(div: str) -> str:
    return f"""
    SELECT o_orderstatus, o_orderpriority,
           {_ss("o_totalprice", "total", div)},
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """


sql_query(
    "agg_rollup",
    _two_phase_multi_group("ROLLUP (o_orderstatus, o_orderpriority)"),
    oracle=_agg_rollup("//"),
)


def _agg_filter_clause(div: str) -> str:
    flt = " FILTER (WHERE l_discount > 0.05)"
    return f"""
    SELECT l_returnflag,
           {_ss("l_quantity", "qty_high_disc", div, flt)},
           CAST(COUNT(*) FILTER (WHERE l_tax = 0) AS BIGINT) AS n_no_tax,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """


sql_query("agg_filter_clause", _agg_filter_clause("DIV"), oracle=_agg_filter_clause("//"))

sql_query(
    "agg_distinct",
    f"""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
           ROUND(CAST(SUM(DISTINCT CAST(l_quantity AS {D})) AS DOUBLE), 6) AS sum_distinct_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)

sql_query(
    "agg_minmax_firstlast",
    """
    SELECT o_orderstatus,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
           MIN(o_orderdate) AS first_date,
           MAX(o_orderdate) AS last_date,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM orders GROUP BY o_orderstatus
    """,
)

# stddev/var/corr via exact decimal sums -> closed-form in doubles,
# rounded to tame last-ulp libm differences between engines.
sql_query(
    "agg_stats_closed_form",
    f"""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(l_quantity AS {D18})) AS {D}) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(l_quantity * l_quantity AS {D18})) AS {D}) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(l_extendedprice AS {D18})) AS {D}) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS syy,
             CAST(CAST(SUM(CAST(l_quantity * l_extendedprice AS {D18})) AS {D}) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           ROUND(SQRT((n * sxx - sx * sx) / (n * (n - 1))), 4) AS stddev_qty,
           ROUND((n * sxy - sx * sy) / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6) AS corr_qty_price
    FROM s
    """,
)

sql_query(
    "agg_string_agg",
    """
    SELECT n_regionkey AS region_key,
           ARRAY_JOIN(ARRAY_SORT(COLLECT_LIST(n_name)), ',') AS nations
    FROM nation GROUP BY n_regionkey
    """,
    oracle="""
    SELECT n_regionkey AS region_key,
           STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
)

sql_query(
    "agg_bool",
    """
    SELECT c_mktsegment,
           BOOL_AND(c_acctbal > 0) AS all_positive,
           BOOL_OR(c_acctbal > 9000) AS any_rich
    FROM customer GROUP BY c_mktsegment
    """,
)

sql_query(
    "agg_median_percentile",
    """
    SELECT l_returnflag,
           CAST(MEDIAN(l_quantity) AS DOUBLE) AS median_qty,
           CAST(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS DOUBLE) AS p25_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    oracle="""
    SELECT l_returnflag,
           CAST(MEDIAN(l_quantity) AS DOUBLE) AS median_qty,
           CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE) AS p25_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)

# --- Joins (all eight types + theta) --------------------------------------

sql_query(
    "join_inner_3way",
    f"""
    SELECT c.c_mktsegment, n.n_name,
           ROUND(CAST(SUM(CAST(o.o_totalprice AS {D18})) AS DOUBLE), 6) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY c.c_mktsegment, n.n_name
    """,
)

sql_query(
    "join_left_outer",
    """
    SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)

sql_query(
    "join_right_outer",
    """
    SELECT s.s_suppkey, CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_items
    FROM lineitem l RIGHT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_suppkey
    """,
)

sql_query(
    "join_full_outer",
    """
    SELECT COALESCE(a.k, b.k) AS k, a.n_a, b.n_b
    FROM (SELECT c_nationkey AS k, CAST(COUNT(*) AS BIGINT) AS n_a FROM customer GROUP BY c_nationkey) a
    FULL OUTER JOIN
         (SELECT s_nationkey AS k, CAST(COUNT(*) AS BIGINT) AS n_b FROM supplier GROUP BY s_nationkey) b
    ON a.k = b.k
    """,
)

sql_query(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    """,
)

sql_query(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)

sql_query(
    "join_cross",
    """
    SELECT r.r_name, t.o_orderstatus, t.n
    FROM region r CROSS JOIN
         (SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY o_orderstatus) t
    """,
)

sql_query(
    "join_theta",
    """
    SELECT n1.n_name AS nation_a, n2.n_name AS nation_b
    FROM nation n1 JOIN nation n2
      ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
    """,
)

sql_query(
    "join_in_subquery",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      AND o_totalprice > 150000
    """,
)

# --- TPC-H-style multi-join analytics -------------------------------------

def _q3(div: str) -> str:
    return f"""
    SELECT l.l_orderkey,
           {_ss("l.l_extendedprice * (1 - l.l_discount)", "revenue", div)},
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1998-03-15'
      AND l.l_shipdate > DATE '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """


# Spark sides of q3/q5/q6/q10: fused split-sum (r12 — same rationale
# and A/B evidence as _q1_fused_spark; single measure, so the fusion
# halves the per-row ROUND/CAST). Oracles keep the inline form.
_Q3_FUSED = f"""
    SELECT l_orderkey, {_fused_sum("revenue")}, o_orderdate
    FROM (
      SELECT l.l_orderkey, o.o_orderdate,
             {_fused_v("l.l_extendedprice * (1 - l.l_discount)")}
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < DATE '1998-03-15'
        AND l.l_shipdate > DATE '1998-03-15'
    ) t
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """

sql_query("q3_shipping_priority", _Q3_FUSED, oracle=_q3("//"))


def _q5(div: str) -> str:
    return f"""
    SELECT n.n_name,
           {_ss("l.l_extendedprice * (1 - l.l_discount)", "revenue", div)}
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1998-01-01'
    GROUP BY n.n_name
    """


_Q5_FUSED = f"""
    SELECT n_name, {_fused_sum("revenue")}
    FROM (
      SELECT n.n_name,
             {_fused_v("l.l_extendedprice * (1 - l.l_discount)")}
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1998-01-01'
    ) t
    GROUP BY n_name
    """

sql_query("q5_local_supplier_volume", _Q5_FUSED, oracle=_q5("//"))


def _q6(div: str) -> str:
    return f"""
    SELECT {_ss("l_extendedprice * l_discount", "revenue", div)}
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
    """


_Q6_FUSED = f"""
    SELECT {_fused_sum("revenue")}
    FROM (
      SELECT {_fused_v("l_extendedprice * l_discount")}
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
    ) t
    """

sql_query("q6_forecast_revenue", _Q6_FUSED, oracle=_q6("//"))


def _q10(div: str) -> str:
    return f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {_ss("l.l_extendedprice * (1 - l.l_discount)", "revenue", div)}
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """


_Q10_FUSED = f"""
    SELECT c_custkey, c_name, n_name, {_fused_sum("revenue")}
    FROM (
      SELECT c.c_custkey, c.c_name, n.n_name,
             {_fused_v("l.l_extendedprice * (1 - l.l_discount)")}
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE l.l_returnflag = 'R'
    ) t
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """

sql_query("q10_returned_items", _Q10_FUSED, oracle=_q10("//"))

# --- Window functions ------------------------------------------------------

sql_query(
    "window_ranking",
    """
    SELECT c_custkey, c_mktsegment,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)

sql_query(
    "window_lag_lead",
    """
    SELECT o_custkey, o_orderkey,
           CAST(LAG(o_orderkey) OVER w AS BIGINT) AS prev_order,
           CAST(LEAD(o_orderkey) OVER w AS BIGINT) AS next_order,
           CAST(FIRST_VALUE(o_orderkey) OVER w AS BIGINT) AS first_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)

sql_query(
    "window_running_sum",
    f"""
    SELECT o_custkey, o_orderkey,
           ROUND(CAST(SUM(CAST(o_totalprice AS {D18}))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS running_total,
           ROUND(CAST(SUM(CAST(o_totalprice AS {D18}))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS moving_3
    FROM orders
    """,
)

sql_query(
    "window_range_frame",
    f"""
    SELECT o_orderkey, o_totalprice,
           CAST(COUNT(*) OVER (ORDER BY o_totalprice
                 RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_within_1k
    FROM orders WHERE o_orderkey < 400
    """,
)

sql_query(
    "window_distribution",
    """
    SELECT c_custkey,
           CAST(NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile,
           PERCENT_RANK() OVER (ORDER BY c_acctbal, c_custkey) AS pct_rank,
           CUME_DIST() OVER (ORDER BY c_acctbal, c_custkey) AS cume
    FROM customer
    """,
)

# --- Sort / limit / set ops -------------------------------------------------

sql_query(
    "sort_limit_offset",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 10
    """,
)

sql_query(
    "set_union_all",
    """
    SELECT c_nationkey AS k FROM customer
    UNION ALL
    SELECT s_nationkey AS k FROM supplier
    """,
)

sql_query(
    "set_union_distinct",
    """
    SELECT c_nationkey AS k FROM customer
    UNION
    SELECT s_nationkey AS k FROM supplier
    """,
)

sql_query(
    "set_intersect",
    """
    SELECT c_nationkey AS k FROM customer
    INTERSECT
    SELECT s_nationkey AS k FROM supplier
    """,
)

sql_query(
    "set_except",
    """
    SELECT c_nationkey AS k FROM customer
    EXCEPT
    SELECT s_nationkey AS k FROM supplier
    """,
)

# --- Subqueries / CTE -------------------------------------------------------

sql_query(
    "subquery_scalar_pred",
    f"""
    SELECT c_custkey, c_name FROM customer
    WHERE CAST(c_acctbal AS {D}) >
          (SELECT CAST(SUM(CAST(c_acctbal AS {D18})) AS {D}) / COUNT(*) FROM customer)
    """,
)

sql_query(
    "subquery_correlated_select",
    """
    SELECT c_custkey,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
            WHERE o.o_custkey = c.c_custkey) AS n_orders
    FROM customer c
    """,
)

sql_query(
    "cte_top_nations",
    f"""
    WITH nation_rev AS (
      SELECT c.c_nationkey, ROUND(CAST(SUM(CAST(o.o_totalprice AS {D18})) AS DOUBLE), 6) AS revenue
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey
    )
    SELECT n.n_name, nr.revenue
    FROM nation_rev nr JOIN nation n ON n.n_nationkey = nr.c_nationkey
    ORDER BY nr.revenue DESC, n.n_name
    LIMIT 5
    """,
)

# --- Scalar function families ----------------------------------------------

sql_query(
    "string_functions",
    """
    SELECT p_partkey,
           UPPER(p_brand) AS up, LOWER(p_type) AS lo,
           SUBSTR(p_name, 1, 8) AS pre,
           CAST(LENGTH(p_name) AS BIGINT) AS name_len,
           REPLACE(p_brand, '#', '-') AS repl,
           LPAD(CAST(p_size AS STRING), 4, '0') AS padded,
           SPLIT_PART(p_type, ' ', 1) AS first_word,
           TRANSLATE(p_brand, '#', '_') AS trans,
           CAST(LEVENSHTEIN(p_brand, 'Brand#11') AS BIGINT) AS lev,
           CAST(POSITION('0' IN p_brand) AS BIGINT) AS pos0,
           p_brand || ':' || p_type AS joined,
           REVERSE(p_brand) AS rev,
           REPEAT('ab', 3) AS rep,
           TRIM('  x  ') AS trimmed,
           p_name LIKE 'a%' AS starts_a
    FROM part
    """,
)

sql_query(
    "math_functions",
    """
    SELECT p_partkey,
           ABS(p_retailprice - 1000) AS abs_diff,
           CAST(CEIL(p_retailprice) AS BIGINT) AS ceiled,
           CAST(FLOOR(p_retailprice) AS BIGINT) AS floored,
           ROUND(SQRT(p_retailprice), 6) AS sq,
           ROUND(LN(p_retailprice), 6) AS logn,
           ROUND(EXP(p_size * 0.1), 6) AS ex,
           p_retailprice * p_retailprice AS squared,
           CAST(SIGN(p_retailprice - 1000) AS DOUBLE) AS sgn,
           CAST(p_size % 5 AS INT) AS m5,
           GREATEST(p_size, 25) AS g, LEAST(p_size, 25) AS l
    FROM part
    """,
)

sql_query(
    "conditional_functions",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 200000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END AS bucket,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open,
           IF(o_orderpriority = '1-URGENT', 1, 0) AS urgent
    FROM orders
    """,
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 200000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END AS bucket,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS urgent
    FROM orders
    """,
)

sql_query(
    "date_functions",
    """
    SELECT o_orderkey,
           CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS order_month,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mo,
           CAST(EXTRACT(DAY FROM o_orderdate) AS BIGINT) AS dom,
           CAST(o_orderdate + INTERVAL '30' DAY AS TIMESTAMP) AS plus30,
           CAST(UNIX_TIMESTAMP(o_orderdate) AS BIGINT) AS epoch_s,
           DATE_FORMAT(o_orderdate, 'yyyy-MM') AS ym
    FROM orders WHERE o_orderkey < 500
    """,
    oracle="""
    SELECT o_orderkey,
           CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS order_month,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mo,
           CAST(EXTRACT(DAY FROM o_orderdate) AS BIGINT) AS dom,
           CAST(o_orderdate + INTERVAL '30' DAY AS TIMESTAMP) AS plus30,
           CAST(EPOCH(o_orderdate) AS BIGINT) AS epoch_s,
           STRFTIME(o_orderdate, '%Y-%m') AS ym
    FROM orders WHERE o_orderkey < 500
    """,
)

# date_bin shim (DataFusion `date_bin` -> epoch-floor arithmetic; SURVEY §2.B
# date/time row): tumbling 5-minute buckets over the events table.
def _date_bin_tumbling(div: str, epoch: str) -> str:
    return f"""
    SELECT CAST({epoch} AS TIMESTAMP) AS bucket,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {_ss("value", "total_value", div)}
    FROM events GROUP BY 1, 2
    """


sql_query(
    "date_bin_tumbling",
    _date_bin_tumbling("DIV", "TIMESTAMP_SECONDS(FLOOR(UNIX_TIMESTAMP(ts) / 300) * 300)"),
    oracle=_date_bin_tumbling("//", "TO_TIMESTAMP(FLOOR(EPOCH(ts) / 300) * 300)"),
)

sql_query(
    "array_functions",
    """
    SELECT p_partkey,
           SIZE(SPLIT(p_type, ' ')) AS n_words,
           ARRAY_CONTAINS(SPLIT(p_type, ' '), 'brushed') AS has_brushed,
           ARRAY_JOIN(ARRAY_SORT(SPLIT(p_type, ' ')), '|') AS sorted_words,
           ELEMENT_AT(SPLIT(p_type, ' '), 1) AS w1,
           ARRAY_JOIN(ARRAY_DISTINCT(SPLIT(p_type, ' ')), '|') AS distinct_words,
           ARRAY_JOIN(SLICE(SPLIT(p_type, ' '), 1, 2), '|') AS first2
    FROM part
    """,
    oracle="""
    SELECT p_partkey,
           CAST(LEN(STRING_SPLIT(p_type, ' ')) AS INT) AS n_words,
           ARRAY_CONTAINS(STRING_SPLIT(p_type, ' '), 'brushed') AS has_brushed,
           ARRAY_TO_STRING(LIST_SORT(STRING_SPLIT(p_type, ' ')), '|') AS sorted_words,
           STRING_SPLIT(p_type, ' ')[1] AS w1,
           ARRAY_TO_STRING(LIST_DISTINCT(STRING_SPLIT(p_type, ' ')), '|') AS distinct_words,
           ARRAY_TO_STRING(STRING_SPLIT(p_type, ' ')[1:2], '|') AS first2
    FROM part
    """,
)

sql_query(
    "unnest_explode",
    """
    SELECT p_partkey, word
    FROM part LATERAL VIEW EXPLODE(SPLIT(p_type, ' ')) t AS word
    """,
    oracle="""
    SELECT p_partkey, UNNEST(STRING_SPLIT(p_type, ' ')) AS word
    FROM part
    """,
)

# Spark side: VARIANT JSONPath extraction (Spark 4's binary-JSON path).
# r11 sf1 A/Bs: a cold-ish pass showed 0.442 vs GET_JSON_OBJECT's 0.682
# at 1M rows, but the properly interleaved warmed A/B is much closer
# (0.384 vs 0.404 min-of-6) — the win is real but small on a
# single-key payload; it grows with repeated extraction from the same
# payload (parse once vs re-parse per path). Value-parity verified
# row-for-row; TRY_PARSE_JSON nulls malformed payloads exactly like
# GET_JSON_OBJECT, and a missing key is NULL on both paths.
# TRY_VARIANT_GET (r12, ADVICE): the plain VARIANT_GET errors when the
# extracted value exists but won't cast ('$.k' holding "abc"), whereas
# the old CAST(GET_JSON_OBJECT(...) AS BIGINT) — and the DuckDB oracle —
# null the row; TRY_ preserves null-on-malformed end to end.
sql_query(
    "json_extraction",
    """
    SELECT event_id,
           CAST(TRY_VARIANT_GET(TRY_PARSE_JSON(props), '$.k', 'bigint')
                AS BIGINT) AS k_value
    FROM events
    """,
    oracle="""
    SELECT event_id,
           CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS k_value
    FROM events
    """,
)

def _pivot_conditional_agg(div: str) -> str:
    def branch(t: str, alias: str) -> str:
        return _ss(f"CASE WHEN event_type = '{t}' THEN value ELSE 0 END", alias, div)

    return f"""
    SELECT user_id,
           {branch("click", "click_value")},
           {branch("view", "view_value")},
           {branch("purchase", "purchase_value")},
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """


sql_query("pivot_conditional_agg", _pivot_conditional_agg("DIV"), oracle=_pivot_conditional_agg("//"))

sql_query(
    "distinct_rows",
    "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)

sql_query(
    "casting_try_cast",
    """
    SELECT o_orderkey,
           ROUND(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE), 2) AS price_dec,
           CAST(o_orderkey AS STRING) AS key_str,
           TRY_CAST(o_orderstatus AS INT) AS bad_int,
           CAST(o_orderdate AS DATE) AS od
    FROM orders WHERE o_orderkey < 300
    """,
)

# Sessionization over the events stream table: gap > 30 min starts a new
# session (expressible in both dialects; windows + cumulative sum).
sql_query(
    "events_sessionize",
    """
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN UNIX_TIMESTAMP(ts) - UNIX_TIMESTAMP(
                    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events)
    SELECT user_id, event_id,
           CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
    FROM flagged
    """,
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN EPOCH(ts) - EPOCH(
                    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events)
    SELECT user_id, event_id,
           CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
    FROM flagged
    """,
)
