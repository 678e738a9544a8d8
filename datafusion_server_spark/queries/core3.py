"""SQL-surface coverage, batch 3: LATERAL joins, inline VALUES tables,
null-safe equality, bitwise ops, collected-array aggregation,
percentile_disc, posexplode with ordinality."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_server_spark import tables
from datafusion_server_spark.queries import df_query, rrepr, sql_query
from datafusion_server_spark.queries.core import _ss

D = "DECIMAL(38,6)"
D18 = "DECIMAL(18,6)"

sql_query(
    "lateral_join_topn",
    f"""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t
    WHERE c.c_custkey <= 30
    """,
)

sql_query(
    "values_inline_table",
    """
    SELECT v.code, v.label, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n
    FROM (VALUES ('O', 'open'), ('F', 'finished'), ('P', 'pending')) v(code, label)
    LEFT JOIN orders o ON o.o_orderstatus = v.code
    GROUP BY v.code, v.label
    """,
)

sql_query(
    "null_safe_equality",
    """
    SELECT a.o_orderkey
    FROM (SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS s FROM orders WHERE o_orderkey < 500) a
    JOIN (SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS s FROM orders WHERE o_orderkey < 500) b
      ON a.s IS NOT DISTINCT FROM b.s AND a.o_orderkey = b.o_orderkey
    """,
)

sql_query(
    "bitwise_ops",
    """
    SELECT p_partkey,
           CAST(p_size & 12 AS BIGINT) AS b_and,
           CAST(p_size | 3 AS BIGINT) AS b_or,
           CAST(SHIFTLEFT(p_size, 2) AS BIGINT) AS b_shl,
           CAST(SHIFTRIGHT(p_size, 1) AS BIGINT) AS b_shr
    FROM part
    """,
    oracle="""
    SELECT p_partkey,
           CAST(p_size & 12 AS BIGINT) AS b_and,
           CAST(p_size | 3 AS BIGINT) AS b_or,
           CAST(p_size << 2 AS BIGINT) AS b_shl,
           CAST(p_size >> 1 AS BIGINT) AS b_shr
    FROM part
    """,
)

sql_query(
    "array_agg_distinct_sorted",
    """
    SELECT n_regionkey AS region_key,
           ARRAY_JOIN(ARRAY_SORT(COLLECT_SET(SUBSTR(n_name, 1, 1))), '') AS initials
    FROM nation GROUP BY n_regionkey
    """,
    oracle="""
    SELECT n_regionkey AS region_key,
           ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(ARRAY_AGG(SUBSTR(n_name, 1, 1)))), '') AS initials
    FROM nation GROUP BY n_regionkey
    """,
)

sql_query(
    "percentile_disc_groups",
    """
    SELECT l_returnflag,
           CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY l_quantity) AS DOUBLE) AS med_disc,
           CAST(PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY l_quantity) AS DOUBLE) AS p90_disc
    FROM lineitem GROUP BY l_returnflag
    """,
    oracle="""
    SELECT l_returnflag,
           CAST(QUANTILE_DISC(l_quantity, 0.5) AS DOUBLE) AS med_disc,
           CAST(QUANTILE_DISC(l_quantity, 0.9) AS DOUBLE) AS p90_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)

sql_query(
    "posexplode_with_position",
    """
    SELECT p_partkey, pos, word
    FROM part LATERAL VIEW POSEXPLODE(SPLIT(p_type, ' ')) t AS pos, word
    """,
    oracle="""
    SELECT p_partkey,
           UNNEST(GENERATE_SERIES(0, LEN(STRING_SPLIT(p_type, ' ')) - 1)) AS pos,
           UNNEST(STRING_SPLIT(p_type, ' ')) AS word
    FROM part
    """,
)

sql_query(
    "array_lambda_functions",
    """
    SELECT p_partkey,
           ARRAY_JOIN(TRANSFORM(SPLIT(p_type, ' '), w -> UPPER(w)), '|') AS upper_words,
           ARRAY_JOIN(FILTER(SPLIT(p_type, ' '), w -> LENGTH(w) > 5), '|') AS long_words,
           CAST(AGGREGATE(TRANSFORM(SPLIT(p_type, ' '), w -> LENGTH(w)),
                          0, (acc, v) -> acc + v) AS BIGINT) AS total_chars
    FROM part
    """,
    oracle="""
    SELECT p_partkey,
           ARRAY_TO_STRING(LIST_TRANSFORM(STRING_SPLIT(p_type, ' '), w -> UPPER(w)), '|') AS upper_words,
           COALESCE(ARRAY_TO_STRING(LIST_FILTER(STRING_SPLIT(p_type, ' '), w -> LENGTH(w) > 5), '|'), '') AS long_words,
           CAST(LIST_SUM(LIST_TRANSFORM(STRING_SPLIT(p_type, ' '), w -> LENGTH(w))) AS BIGINT) AS total_chars
    FROM part
    """,
)

sql_query(
    "date_construction_parsing",
    """
    SELECT o_orderkey,
           MAKE_DATE(CAST(EXTRACT(YEAR FROM o_orderdate) AS INT),
                     CAST(EXTRACT(MONTH FROM o_orderdate) AS INT), 1) AS month_start,
           TO_DATE(DATE_FORMAT(o_orderdate, 'yyyy-MM-dd')) AS roundtrip_date,
           CAST(LAST_DAY(o_orderdate) AS DATE) AS month_end,
           CAST(DATEDIFF(DATE '2000-01-01', o_orderdate) AS BIGINT) AS days_to_y2k
    FROM orders WHERE o_orderkey < 400
    """,
    oracle="""
    SELECT o_orderkey,
           MAKE_DATE(CAST(EXTRACT(YEAR FROM o_orderdate) AS INT),
                     CAST(EXTRACT(MONTH FROM o_orderdate) AS INT), 1) AS month_start,
           CAST(STRPTIME(STRFTIME(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d') AS DATE) AS roundtrip_date,
           CAST(LAST_DAY(o_orderdate) AS DATE) AS month_end,
           CAST(DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS BIGINT) AS days_to_y2k
    FROM orders WHERE o_orderkey < 400
    """,
)

sql_query(
    "agg_max_by_min_by",
    """
    SELECT o_orderstatus,
           CAST(MAX_BY(o_orderkey, o_totalprice + o_orderkey * 1e-9) AS BIGINT) AS biggest_order,
           CAST(MIN_BY(o_orderkey, o_totalprice + o_orderkey * 1e-9) AS BIGINT) AS smallest_order
    FROM orders GROUP BY o_orderstatus
    """,
)

def _histogram_floor_buckets(div: str) -> str:
    return f"""
    SELECT CAST(FLOOR(o_totalprice / 50000) * 50000 AS BIGINT) AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n,
           {_ss("o_totalprice", "total", div)}
    FROM orders GROUP BY 1
    """


sql_query("histogram_floor_buckets", _histogram_floor_buckets("DIV"), oracle=_histogram_floor_buckets("//"))


def _group_by_all(div: str) -> str:
    return f"""
    SELECT o_orderstatus, o_orderpriority,
           {_ss("o_totalprice", "total", div)}
    FROM orders GROUP BY ALL
    """


sql_query("group_by_all", _group_by_all("DIV"), oracle=_group_by_all("//"))

# GROUPS window frame: Spark lacks GROUPS, but the unbounded/current-row
# endpoints are value-identical to RANGE (current-row peers included in
# both), so the dialect pass rewrites them. The Spark side executes the
# GROUPS text through the transpile pass; the oracle uses the equivalent
# RANGE frame directly (DuckDB 1.0 has no GROUPS mode either) — identical
# results prove the rewrite's semantics.
_GROUPS_FRAME_SQL = f"""
    SELECT o_orderkey,
           ROUND(CAST(SUM(CAST(o_totalprice AS {D18})) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderdate
             GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
             AS running_by_date
    FROM orders WHERE o_orderkey < 2000
"""


@df_query(
    "window_groups_frame",
    _GROUPS_FRAME_SQL.replace("GROUPS BETWEEN", "RANGE BETWEEN"),
)
def window_groups_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_server_spark import tables
    from datafusion_server_spark.functions.dialect import transpile

    tables.register_views(spark, sf_dir)
    return spark.sql(transpile(_GROUPS_FRAME_SQL))


# Offset GROUPS frame (GROUPS n PRECEDING): DataFusion executes natively;
# Spark gets the dense-rank-keyed RANGE rewrite from the dialect pass
# (functions/dialect.py rewrite_offset_groups — reference SURVEY §2.B
# window-frame surface). DuckDB 1.0 has no GROUPS mode either, so the
# oracle derives the same semantics INDEPENDENTLY: per-peer-group sums
# joined over a rank-offset window — a genuinely different evaluation
# strategy, so agreement proves the rewrite, not just determinism.
_GROUPS_OFFSET_SQL = f"""
    SELECT o_orderkey,
           ROUND(CAST(SUM(CAST(o_totalprice AS {D18})) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderdate
             GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
             AS rolling_by_date
    FROM orders WHERE o_orderkey < 2000
"""

_GROUPS_OFFSET_ORACLE = f"""
    WITH g AS (
      SELECT o_orderstatus, o_orderdate,
             SUM(CAST(o_totalprice AS {D18})) AS grp_sum,
             DENSE_RANK() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_orderdate) AS rk
      FROM orders WHERE o_orderkey < 2000
      GROUP BY o_orderstatus, o_orderdate
    ), w AS (
      SELECT a.o_orderstatus, a.o_orderdate, SUM(b.grp_sum) AS frame_sum
      FROM g a JOIN g b
        ON b.o_orderstatus = a.o_orderstatus AND b.rk BETWEEN a.rk - 1 AND a.rk
      GROUP BY a.o_orderstatus, a.o_orderdate
    )
    SELECT o.o_orderkey, ROUND(CAST(w.frame_sum AS DOUBLE), 6) AS rolling_by_date
    FROM orders o JOIN w ON w.o_orderstatus = o.o_orderstatus
                        AND w.o_orderdate = o.o_orderdate
    WHERE o.o_orderkey < 2000
"""


@df_query("window_groups_offset", _GROUPS_OFFSET_ORACLE)
def window_groups_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_server_spark import tables
    from datafusion_server_spark.functions.dialect import transpile

    tables.register_views(spark, sf_dir)
    return spark.sql(transpile(_GROUPS_OFFSET_SQL))


sql_query(
    "window_sum_over_groups",
    f"""
    SELECT o_orderstatus, order_month,
           ROUND(CAST(monthly AS DOUBLE), 6) AS monthly,
           ROUND(CAST(SUM(monthly) OVER (PARTITION BY o_orderstatus ORDER BY order_month
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS cumulative
    FROM (
      SELECT o_orderstatus, CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS order_month,
             CAST(SUM(CAST(o_totalprice AS {D18})) AS {D}) AS monthly
      FROM orders GROUP BY 1, 2) t
    """,
)


# --- native DataFrame pivot / unpivot API surface (the relational
# reshape pair; the SQL conditional-agg pivot lives in core.py).

_PIVOT_TYPES = ("click", "view", "purchase", "error")

_PIVOT_NATIVE_ORACLE = f"""
SELECT user_id,
       {", ".join(
           f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}"
           for t in _PIVOT_TYPES)}
FROM events GROUP BY user_id
"""


@df_query("pivot_native_api", _PIVOT_NATIVE_ORACLE)
def pivot_native_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native groupBy().pivot() with pinned pivot values (no
    extra distinct-values job — the form that scales: an unpinned pivot
    first runs a distinct scan to discover columns)."""
    ev = tables.load(spark, sf_dir, "events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", list(_PIVOT_TYPES))
        .count()
    )
    return wide.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
            for t in _PIVOT_TYPES
        ],
    )


_UNPIVOT_ORACLE = """
SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
       ROUND(CAST(l_quantity AS DOUBLE), 6) AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'extendedprice',
       ROUND(CAST(l_extendedprice AS DOUBLE), 6) FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount',
       ROUND(CAST(l_discount AS DOUBLE), 6) FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'tax',
       ROUND(CAST(l_tax AS DOUBLE), 6) FROM lineitem
"""


@df_query("unpivot_melt", _UNPIVOT_ORACLE)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.unpivot (melt): wide metric columns to long
    (id, metric, value) rows — a narrow per-row expansion, no shuffle."""
    li = tables.load(spark, sf_dir, "lineitem")
    melted = li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_quantity").cast("double"), 6).alias("quantity"),
        F.round(F.col("l_extendedprice").cast("double"), 6).alias("extendedprice"),
        F.round(F.col("l_discount").cast("double"), 6).alias("discount"),
        F.round(F.col("l_tax").cast("double"), 6).alias("tax"),
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["quantity", "extendedprice", "discount", "tax"],
        "metric",
        "value",
    )
    return melted


# r6: the previously-rejected offset-GROUPS shapes — bare SELECT *
# (helper ranks excluded via star-EXCEPT) — now rewrite; the oracle
# derives GROUPS semantics independently (DuckDB has no GROUPS mode),
# same strategy as window_groups_offset.
_GROUPS_STAR_SQL = f"""
    SELECT *, ROUND(CAST(SUM(CAST(o_totalprice AS {D18})) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderdate
             GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
             AS rolling_by_date
    FROM orders WHERE o_orderkey < 2000
"""

_GROUPS_STAR_ORACLE = f"""
    WITH g AS (
      SELECT o_orderstatus, o_orderdate,
             SUM(CAST(o_totalprice AS {D18})) AS grp_sum,
             DENSE_RANK() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_orderdate) AS rk
      FROM orders WHERE o_orderkey < 2000
      GROUP BY o_orderstatus, o_orderdate
    ), w AS (
      SELECT a.o_orderstatus, a.o_orderdate, SUM(b.grp_sum) AS frame_sum
      FROM g a JOIN g b
        ON b.o_orderstatus = a.o_orderstatus AND b.rk BETWEEN a.rk - 1 AND a.rk
      GROUP BY a.o_orderstatus, a.o_orderdate
    )
    SELECT o.*, ROUND(CAST(w.frame_sum AS DOUBLE), 6) AS rolling_by_date
    FROM orders o JOIN w ON w.o_orderstatus = o.o_orderstatus
                        AND w.o_orderdate = o.o_orderdate
    WHERE o.o_orderkey < 2000
"""


@df_query("window_groups_offset_star", _GROUPS_STAR_ORACLE)
def window_groups_offset_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_server_spark import tables
    from datafusion_server_spark.functions.dialect import transpile

    tables.register_views(spark, sf_dir)
    return spark.sql(transpile(_GROUPS_STAR_SQL))


# r7: the remaining offset-GROUPS shapes — qualified t.* over a sole
# relation, and frame EXCLUDE clauses on subtractable aggregates
# (rewritten to frame-minus-excluded arithmetic). Oracles derive GROUPS
# + EXCLUDE semantics independently from per-peer-group sums/counts
# (DuckDB has no GROUPS mode), so agreement proves the rewrite.
_GROUPS_QSTAR_SQL = f"""
    SELECT o.*, ROUND(CAST(SUM(CAST(o_totalprice AS {D18})) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderdate
             GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
             AS rolling_by_date
    FROM orders o WHERE o_orderkey < 2000
"""


@df_query("window_groups_offset_qualified_star", _GROUPS_STAR_ORACLE)
def window_groups_offset_qualified_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qualified star over the sole FROM relation: ``o.*`` expands
    exactly like ``*`` (star-EXCEPT the helper rank), so the oracle is
    the same independent per-peer-group derivation as the bare-star
    row."""
    from datafusion_server_spark import tables
    from datafusion_server_spark.functions.dialect import transpile

    tables.register_views(spark, sf_dir)
    return spark.sql(transpile(_GROUPS_QSTAR_SQL))


# r11 (verdict task 4): qualified t.* over a MULTI-relation base join.
# The dialect expands o.* from the registered-view schemas (columns_of
# resolver) — valid because orders/customer column names are globally
# unique — then the ordinary dense-rank rewrite applies. The join is
# N:1 (each order has exactly one customer), so the GROUPS window over
# the joined relation equals the orders-only window; the oracle derives
# it independently per peer group and joins customer back for the
# projected customer column (DuckDB has no GROUPS mode).
_GROUPS_MULTI_STAR_SQL = f"""
    SELECT o.*, c.c_mktsegment, ROUND(CAST(SUM(CAST(o.o_totalprice AS {D18}))
             OVER (PARTITION BY o.o_orderstatus ORDER BY o.o_orderdate
             GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
             AS rolling_by_date
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE o.o_orderkey < 2000
"""

_GROUPS_MULTI_STAR_ORACLE = f"""
    WITH g AS (
      SELECT o_orderstatus, o_orderdate,
             SUM(CAST(o_totalprice AS {D18})) AS grp_sum,
             DENSE_RANK() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_orderdate) AS rk
      FROM orders WHERE o_orderkey < 2000
      GROUP BY o_orderstatus, o_orderdate
    ), w AS (
      SELECT a.o_orderstatus, a.o_orderdate, SUM(b.grp_sum) AS frame_sum
      FROM g a JOIN g b
        ON b.o_orderstatus = a.o_orderstatus AND b.rk BETWEEN a.rk - 1 AND a.rk
      GROUP BY a.o_orderstatus, a.o_orderdate
    )
    SELECT o.*, c.c_mktsegment,
           ROUND(CAST(w.frame_sum AS DOUBLE), 6) AS rolling_by_date
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN w ON w.o_orderstatus = o.o_orderstatus
          AND w.o_orderdate = o.o_orderdate
    WHERE o.o_orderkey < 2000
"""


@df_query("window_groups_offset_multi_star", _GROUPS_MULTI_STAR_ORACLE)
def window_groups_offset_multi_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-relation qualified star: ``o.*`` + a joined customer
    column under an offset-GROUPS frame — the r11 schema-resolver
    expansion (``functions/dialect.py`` ``_join_colmap``), exercised
    exactly as the serving path does (``session.py columns_of``)."""
    from datafusion_server_spark import tables
    from datafusion_server_spark.functions.dialect import transpile

    tables.register_views(spark, sf_dir)
    return spark.sql(
        transpile(_GROUPS_MULTI_STAR_SQL, lambda t: spark.table(t).columns)
    )


# r12 (verdict task 5): qualified t.* over a base join whose column
# names COLLIDE across relations (nation self-join: every column name
# appears on both sides). The dialect now projects each colliding
# (qualifier, column) under a per-relation wrap alias (__qc_q_i) and
# rebinds outer qualified refs to it instead of rejecting; only bare *
# over colliding schemas, intra-relation duplicates, derived tables and
# USING/NATURAL keep the reject. Window: PARTITION BY the a-side
# region, ORDER BY the a-side nation key — the rewrite's dense-rank
# shuffles by region (plan-audit clean, no SinglePartition funnel); a
# peer group is one a-nation's 4 same-region peers and the frame adds
# the region's previous nation. The oracle derives the frame sum
# independently per peer group (the same derivation style as the
# other GROUPS rows — stronger than restating GROUPS in DuckDB).
_GROUPS_COLLIDE_SQL = """
    SELECT a.*, b.n_name AS peer_name,
           CAST(SUM(b.n_regionkey * b.n_nationkey) OVER (
             PARTITION BY a.n_regionkey ORDER BY a.n_nationkey
             GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS rolling_peer_load
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey <> b.n_nationkey
"""

_GROUPS_COLLIDE_ORACLE = """
    WITH j AS (
      SELECT a.n_nationkey AS a_key, a.n_name AS a_name,
             a.n_regionkey AS a_region,
             b.n_name AS peer_name,
             b.n_regionkey * b.n_nationkey AS peer_load
      FROM nation a JOIN nation b
        ON a.n_regionkey = b.n_regionkey
       AND a.n_nationkey <> b.n_nationkey
    ), g AS (
      SELECT a_region, a_key, SUM(peer_load) AS grp_sum,
             DENSE_RANK() OVER (PARTITION BY a_region ORDER BY a_key) AS rk
      FROM j GROUP BY a_region, a_key
    ), w AS (
      SELECT x.a_key, SUM(y.grp_sum) AS frame_sum
      FROM g x JOIN g y
        ON y.a_region = x.a_region AND y.rk BETWEEN x.rk - 1 AND x.rk
      GROUP BY x.a_key
    )
    SELECT j.a_key AS n_nationkey, j.a_name AS n_name,
           j.a_region AS n_regionkey,
           j.peer_name, CAST(w.frame_sum AS BIGINT) AS rolling_peer_load
    FROM j JOIN w ON w.a_key = j.a_key
"""


@df_query("window_groups_multi_star_collide", _GROUPS_COLLIDE_ORACLE)
def window_groups_multi_star_collide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Colliding-schema multi-relation ``a.*`` under an offset-GROUPS
    frame (r12 dialect extension — per-relation wrap aliases)."""
    from datafusion_server_spark import tables
    from datafusion_server_spark.functions.dialect import transpile

    tables.register_views(spark, sf_dir)
    return spark.sql(
        transpile(_GROUPS_COLLIDE_SQL, lambda t: spark.table(t).columns)
    )


# r12: INNER JOIN USING under an offset-GROUPS frame. The USING key is
# MERGED by the join (SELECT * exposes it once), so the dialect keeps
# bare references to it un-aliased while the remaining colliding
# columns of the self-join route through the per-relation wrap aliases
# — both r12 mechanisms in one statement. The window partitions by the
# merged key (no single-partition funnel); the oracle restates the
# USING join as an explicit equality join and derives the frame sum per
# peer group.
_GROUPS_USING_SQL = """
    SELECT a.n_nationkey, a.n_name, n_regionkey, b.n_name AS peer_name,
           CAST(SUM(b.n_nationkey) OVER (
             PARTITION BY n_regionkey ORDER BY a.n_nationkey
             GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS rolling
    FROM nation a JOIN nation b USING (n_regionkey)
    WHERE a.n_nationkey <> b.n_nationkey
"""

_GROUPS_USING_ORACLE = """
    WITH j AS (
      SELECT a.n_nationkey AS a_key, a.n_name AS a_name,
             a.n_regionkey AS region,
             b.n_name AS peer_name, b.n_nationkey AS b_key
      FROM nation a JOIN nation b ON b.n_regionkey = a.n_regionkey
      WHERE a.n_nationkey <> b.n_nationkey
    ), g AS (
      SELECT region, a_key, SUM(b_key) AS grp_sum,
             DENSE_RANK() OVER (PARTITION BY region ORDER BY a_key) AS rk
      FROM j GROUP BY region, a_key
    ), w AS (
      SELECT x.region, x.a_key, SUM(y.grp_sum) AS frame_sum
      FROM g x JOIN g y
        ON y.region = x.region AND y.rk BETWEEN x.rk - 1 AND x.rk
      GROUP BY x.region, x.a_key
    )
    SELECT j.a_key AS n_nationkey, j.a_name AS n_name,
           j.region AS n_regionkey, j.peer_name,
           CAST(w.frame_sum AS BIGINT) AS rolling
    FROM j JOIN w ON w.region = j.region AND w.a_key = j.a_key
"""


@df_query("window_groups_using_join", _GROUPS_USING_ORACLE)
def window_groups_using_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INNER JOIN USING + colliding columns under an offset-GROUPS
    frame (r12 dialect extension — merged-key handling)."""
    from datafusion_server_spark import tables
    from datafusion_server_spark.functions.dialect import transpile

    tables.register_views(spark, sf_dir)
    return spark.sql(
        transpile(_GROUPS_USING_SQL, lambda t: spark.table(t).columns)
    )


# r13 (verdict task 6): OUTER JOIN USING under an offset-GROUPS frame.
# The dialect now accepts LEFT/RIGHT/FULL USING: bare refs to the key
# bind to the standard's MERGED (coalesced) column — which Spark's
# SELECT-*-wrap models natively — while per-side qualified refs
# (``o.custkey`` / ``c.custkey``, NULL on that side's unmatched rows)
# rebind to per-relation wrap aliases. Sides are filtered DISJOINTLY
# (orders o_orderkey%4=0; customers custkey%3<>0) so the FULL join has
# real unmatched rows on both sides, and the aggregate arg (order
# cents) is NULL on customer-only rows — exercising null-skipping
# through the frame arithmetic. Window partitions by custkey%8 (no
# single-partition funnel); the oracle restates the merged key with an
# explicit COALESCE join and derives the GROUPS frames per peer group
# (rank self-join — DuckDB's parser rejects GROUPS mode).
_GROUPS_OUTER_USING_SQL = """
    SELECT custkey, o_orderkey,
           window_outer_ord.custkey AS o_ck,
           window_outer_cust.custkey AS c_ck, acct,
           CAST(SUM(cents) OVER (PARTITION BY custkey % 8 ORDER BY custkey
             GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE TIES)
             AS BIGINT) AS roll_excl_ties,
           CAST(COUNT(cents) OVER (PARTITION BY custkey % 8 ORDER BY custkey
             GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cnt_frame
    FROM window_outer_ord FULL JOIN window_outer_cust USING (custkey)
"""

_GROUPS_OUTER_USING_ORACLE = """
    WITH o AS (
      SELECT o_custkey AS custkey, o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 4 = 0
    ), c AS (
      SELECT c_custkey AS custkey,
             CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 100 AS BIGINT) AS acct
      FROM customer WHERE c_custkey % 3 <> 0
    ), j AS (
      SELECT COALESCE(o.custkey, c.custkey) AS custkey,
             o.custkey AS o_ck, c.custkey AS c_ck,
             o.o_orderkey, o.cents, c.acct
      FROM o FULL JOIN c ON c.custkey = o.custkey
    ), g AS (
      SELECT custkey % 8 AS p, custkey,
             SUM(cents) AS sv, COUNT(cents) AS cnt,
             DENSE_RANK() OVER (PARTITION BY custkey % 8
                                ORDER BY custkey) AS rk
      FROM j GROUP BY custkey
    ), w AS (
      SELECT x.p, x.custkey, CAST(SUM(y.cnt) AS BIGINT) AS f_cnt
      FROM g x JOIN g y ON y.p = x.p AND y.rk BETWEEN x.rk - 1 AND x.rk
      GROUP BY x.p, x.custkey
    ), pg AS (
      SELECT x.custkey, y.sv AS prev_sv, y.cnt AS prev_cnt
      FROM g x LEFT JOIN g y ON y.p = x.p AND y.rk = x.rk - 1
    )
    SELECT j.custkey, j.o_orderkey, j.o_ck, j.c_ck, j.acct,
           CAST(CASE WHEN COALESCE(pg.prev_cnt, 0)
                          + (CASE WHEN j.cents IS NOT NULL
                                  THEN 1 ELSE 0 END) = 0
                     THEN NULL
                     ELSE COALESCE(pg.prev_sv, 0) + COALESCE(j.cents, 0)
                END AS BIGINT) AS roll_excl_ties,
           w.f_cnt AS cnt_frame
    FROM j
    JOIN w ON w.custkey = j.custkey
    JOIN pg ON pg.custkey = j.custkey
"""


@df_query("window_groups_outer_using", _GROUPS_OUTER_USING_ORACLE)
def window_groups_outer_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL JOIN USING + per-side key refs under offset-GROUPS frames
    with EXCLUDE TIES (r13 dialect extension — coalesced-key OUTER
    USING expansion)."""
    from datafusion_server_spark import tables
    from datafusion_server_spark.functions.dialect import transpile

    tables.register_views(spark, sf_dir)
    spark.sql(
        "SELECT o_custkey AS custkey, o_orderkey, "
        "CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS cents "
        "FROM orders WHERE o_orderkey % 4 = 0"
    ).createOrReplaceTempView("window_outer_ord")
    spark.sql(
        "SELECT c_custkey AS custkey, "
        "CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 100 AS BIGINT) AS acct "
        "FROM customer WHERE c_custkey % 3 <> 0"
    ).createOrReplaceTempView("window_outer_cust")
    return spark.sql(
        transpile(_GROUPS_OUTER_USING_SQL, lambda t: spark.table(t).columns)
    )


_GROUPS_EXCLUDE_SQL = f"""
    SELECT o_orderkey,
           ROUND(CAST(SUM(CAST(o_totalprice AS {D18})) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderdate
             GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE GROUP)
             AS DOUBLE), 6) AS excl_group,
           ROUND(CAST(SUM(CAST(o_totalprice AS {D18})) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderdate
             GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE TIES)
             AS DOUBLE), 6) AS excl_ties,
           COUNT(*) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderdate
             GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW)
             AS cnt_excl_current
    FROM orders WHERE o_orderkey < 2000
"""

_GROUPS_EXCLUDE_ORACLE = f"""
    WITH g AS (
      SELECT o_orderstatus, o_orderdate,
             SUM(CAST(o_totalprice AS {D18})) AS grp_sum,
             CAST(COUNT(*) AS BIGINT) AS grp_cnt,
             DENSE_RANK() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_orderdate) AS rk
      FROM orders WHERE o_orderkey < 2000
      GROUP BY o_orderstatus, o_orderdate
    ), w AS (
      SELECT a.o_orderstatus, a.o_orderdate,
             SUM(b.grp_sum) AS frame_sum, SUM(b.grp_cnt) AS frame_cnt
      FROM g a JOIN g b
        ON b.o_orderstatus = a.o_orderstatus AND b.rk BETWEEN a.rk - 1 AND a.rk
      GROUP BY a.o_orderstatus, a.o_orderdate
    )
    SELECT o.o_orderkey,
           CASE WHEN w.frame_cnt - g2.grp_cnt = 0 THEN NULL
                ELSE ROUND(CAST(w.frame_sum - g2.grp_sum AS DOUBLE), 6)
           END AS excl_group,
           ROUND(CAST(w.frame_sum - g2.grp_sum
                      + CAST(o.o_totalprice AS {D18}) AS DOUBLE), 6) AS excl_ties,
           CAST(w.frame_cnt - 1 AS BIGINT) AS cnt_excl_current
    FROM orders o
    JOIN w ON w.o_orderstatus = o.o_orderstatus
          AND w.o_orderdate = o.o_orderdate
    JOIN g g2 ON g2.o_orderstatus = o.o_orderstatus
             AND g2.o_orderdate = o.o_orderdate
    WHERE o.o_orderkey < 2000
"""


@df_query("window_groups_exclude", _GROUPS_EXCLUDE_ORACLE)
def window_groups_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame EXCLUDE over offset GROUPS: EXCLUDE GROUP / TIES /
    CURRENT ROW on SUM/COUNT rewrite to frame-minus-excluded
    arithmetic (dialect r7); the emptied-frame SUM yields NULL (first
    peer group under EXCLUDE GROUP). Exact DECIMAL sums, so the
    subtraction is order-free on both engines."""
    from datafusion_server_spark import tables
    from datafusion_server_spark.functions.dialect import transpile

    tables.register_views(spark, sf_dir)
    return spark.sql(transpile(_GROUPS_EXCLUDE_SQL))


# r9: frame EXCLUDE over MIN/MAX — not subtractable, so the dialect
# DECOMPOSES instead: kept rows = before-group sub-frame U after-group
# sub-frame (U self for TIES, U peers-minus-self ROWS pair for CURRENT
# ROW), combined with LEAST/GREATEST (NULL-skipping). The oracle
# re-derives the semantics independently via rank- and row-level
# self-joins with explicit NULL-skipping CASEs (DuckDB's GROUPS parser
# gap again), so agreement proves the decomposition end to end.
_GROUPS_EXCLUDE_MINMAX_SQL = f"""
    SELECT o_orderkey,
           ROUND(CAST(MIN(CAST(o_totalprice AS {D18})) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderdate
             GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP)
             AS DOUBLE), 6) AS min_excl_group,
           ROUND(CAST(MAX(CAST(o_totalprice AS {D18})) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderdate
             GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE TIES)
             AS DOUBLE), 6) AS max_excl_ties,
           ROUND(CAST(MIN(CAST(o_totalprice AS {D18})) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderdate
             GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW)
             AS DOUBLE), 6) AS min_excl_current
    FROM orders WHERE o_orderkey < 2000
"""

_GROUPS_EXCLUDE_MINMAX_ORACLE = f"""
    WITH v AS MATERIALIZED (
      SELECT o_orderkey, o_orderstatus, o_orderdate,
             CAST(o_totalprice AS {D18}) AS val
      FROM orders WHERE o_orderkey < 2000
    ), g AS MATERIALIZED (
      SELECT o_orderstatus, o_orderdate, MIN(val) AS gmin, MAX(val) AS gmax,
             DENSE_RANK() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_orderdate) AS rk
      FROM v GROUP BY o_orderstatus, o_orderdate
    ), nb AS (
      SELECT a.o_orderstatus, a.o_orderdate,
             MIN(b.gmin) AS nmin_full,
             MAX(CASE WHEN b.rk = a.rk - 1 THEN b.gmax END) AS nmax_before
      FROM g a LEFT JOIN g b
        ON b.o_orderstatus = a.o_orderstatus
       AND b.rk BETWEEN a.rk - 1 AND a.rk + 1 AND b.rk <> a.rk
      GROUP BY a.o_orderstatus, a.o_orderdate
    ), ps AS (
      SELECT a.o_orderkey, MIN(b.val) AS pmin
      FROM v a LEFT JOIN v b
        ON b.o_orderstatus = a.o_orderstatus
       AND b.o_orderdate = a.o_orderdate AND b.o_orderkey <> a.o_orderkey
      GROUP BY a.o_orderkey
    )
    SELECT a.o_orderkey,
           ROUND(CAST(nb.nmin_full AS DOUBLE), 6) AS min_excl_group,
           ROUND(CAST(CASE WHEN nb.nmax_before IS NULL
                                OR a.val > nb.nmax_before THEN a.val
                           ELSE nb.nmax_before END AS DOUBLE), 6)
             AS max_excl_ties,
           ROUND(CAST(CASE WHEN nb.nmin_full IS NULL THEN ps.pmin
                           WHEN ps.pmin IS NULL THEN nb.nmin_full
                           WHEN ps.pmin < nb.nmin_full THEN ps.pmin
                           ELSE nb.nmin_full END AS DOUBLE), 6)
             AS min_excl_current
    FROM v a
    JOIN nb ON nb.o_orderstatus = a.o_orderstatus
           AND nb.o_orderdate = a.o_orderdate
    LEFT JOIN ps ON ps.o_orderkey = a.o_orderkey
"""


@df_query("window_groups_exclude_minmax", _GROUPS_EXCLUDE_MINMAX_ORACLE)
def window_groups_exclude_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame EXCLUDE over MIN/MAX GROUPS windows: the r9 LEAST/GREATEST
    sub-frame decomposition (EXCLUDE GROUP / TIES / CURRENT ROW), with
    the peers-minus-self ROWS pair for the CURRENT ROW case."""
    from datafusion_server_spark import tables
    from datafusion_server_spark.functions.dialect import transpile

    tables.register_views(spark, sf_dir)
    return spark.sql(transpile(_GROUPS_EXCLUDE_MINMAX_SQL))


# r12: ARRAY_AGG/COLLECT_LIST under frame EXCLUDE — order-decomposable
# into an order-preserving CONCAT of the before-/after-group sub-frames
# (EXCLUDE GROUP/TIES; CURRENT ROW stays rejected — intra-peer order is
# unspecified). Column 1 orders by the UNIQUE o_orderkey, so peer
# groups are singletons and EXCLUDE GROUP == [lag2, lag1, lead1] —
# this pins ELEMENT ORDER, which the oracle derives via LAG/LEAD.
# Column 2 orders by o_orderdate (real ties): previous peer group's
# keys + the current row's own key under EXCLUDE TIES, emitted SORTED
# (intra-peer order is engine-arbitrary by spec). Outputs are joined
# strings, never ARRAY columns (harness: Arrow list child names differ
# between engines).
_GROUPS_EXCLUDE_ARRAYAGG_SQL = """
    SELECT o_orderkey,
           ARRAY_JOIN(ARRAY_AGG(CAST(o_orderkey AS STRING)) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey
             GROUPS BETWEEN 2 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP),
             ',') AS excl_group_neighbors,
           ARRAY_JOIN(ARRAY_SORT(COLLECT_LIST(CAST(o_orderkey AS STRING))
             OVER (PARTITION BY o_orderstatus ORDER BY o_orderdate
             GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE TIES)),
             ',') AS excl_ties_sorted,
           ARRAY_JOIN(ARRAY_AGG(CAST(o_orderkey AS STRING)) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey
             GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE GROUP),
             ',') AS excl_prev_row
    FROM orders WHERE o_orderkey < 2000
"""

_GROUPS_EXCLUDE_ARRAYAGG_ORACLE = """
    WITH f AS (
      SELECT o_orderkey, o_orderstatus, o_orderdate
      FROM orders WHERE o_orderkey < 2000
    ), base AS (
      SELECT o_orderkey, o_orderstatus, o_orderdate,
             LAG(CAST(o_orderkey AS VARCHAR), 2) OVER w AS l2,
             LAG(CAST(o_orderkey AS VARCHAR), 1) OVER w AS l1,
             LEAD(CAST(o_orderkey AS VARCHAR), 1) OVER w AS f1
      FROM f
      WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
    ), g AS (
      SELECT o_orderstatus, o_orderdate,
             LIST(CAST(o_orderkey AS VARCHAR)) AS ks,
             DENSE_RANK() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_orderdate) AS rk
      FROM f GROUP BY o_orderstatus, o_orderdate
    )
    SELECT b.o_orderkey,
           CASE WHEN b.l2 IS NULL AND b.l1 IS NULL AND b.f1 IS NULL
                THEN NULL
                ELSE CONCAT_WS(',', b.l2, b.l1, b.f1) END
             AS excl_group_neighbors,
           ARRAY_TO_STRING(
             LIST_SORT(LIST_APPEND(COALESCE(p.ks, []),
                                   CAST(b.o_orderkey AS VARCHAR))),
             ',') AS excl_ties_sorted,
           b.l1 AS excl_prev_row
    FROM base b
    JOIN g cur ON cur.o_orderstatus = b.o_orderstatus
              AND cur.o_orderdate = b.o_orderdate
    LEFT JOIN g p ON p.o_orderstatus = b.o_orderstatus
                 AND p.rk = cur.rk - 1
"""


@df_query("window_groups_exclude_array_agg", _GROUPS_EXCLUDE_ARRAYAGG_ORACLE)
def window_groups_exclude_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame EXCLUDE over ARRAY_AGG/COLLECT_LIST GROUPS windows: the
    r12 order-preserving CONCAT sub-frame decomposition."""
    from datafusion_server_spark import tables
    from datafusion_server_spark.functions.dialect import transpile

    tables.register_views(spark, sf_dir)
    return spark.sql(transpile(_GROUPS_EXCLUDE_ARRAYAGG_SQL))


# r10 (verdict task 7): STDDEV/VAR under frame EXCLUDE — not
# order-decomposable, but their RAW MOMENTS are: n, Σd, Σd² each rewrite
# frame-minus-excluded exactly like COUNT/SUM, then
# var = (Σd² - Σd·Σd/n)/(n or n-1) and stddev = sqrt, where (r11 ADVICE)
# d = x - MIN(x) OVER (partition) — variance is shift-invariant and the
# shifted moments are bounded by the partition RANGE, so the moment
# subtraction no longer cancels catastrophically at large magnitudes.
# The value column is an exact BIGINT (cents mod 1e5), so every shifted
# moment is integer-exact in both engines and the only float ops are
# the final CAST/(·)/GREATEST/SQRT chain, which the oracle replicates
# op-for-op on the SAME integers (IEEE-deterministic => bit-identical
# doubles); rrepr handles the final Spark-style ROUND. The oracle
# re-derives the EXCLUDE-d GROUPS frames via rank self-joins (DuckDB's
# GROUPS parser gap again).
_SDVAL = "(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) % 100000)"

_GROUPS_EXCLUDE_STDDEV_SQL = f"""
    SELECT o_orderkey,
           ROUND(STDDEV_SAMP({_SDVAL}) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderdate
             GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP), 6)
             AS sd_excl_group,
           ROUND(VAR_POP({_SDVAL}) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderdate
             GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE TIES), 6)
             AS var_excl_ties,
           ROUND(STDDEV_POP({_SDVAL}) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderdate
             GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW), 6)
             AS sd_excl_current
    FROM orders WHERE o_orderkey < 2000
"""

# shared moment->value formula text (the rewrite's exact op order):
# base = CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n
def _mom(n: str, s1: str, s2: str, *, pop: bool, sqrt: bool) -> str:
    base = (
        f"(CAST({s2} AS DOUBLE) - CAST({s1} AS DOUBLE)"
        f" * CAST({s1} AS DOUBLE) / {n})"
    )
    var = f"GREATEST(CAST(0 AS DOUBLE), {base} / {n if pop else f'({n} - 1)'})"
    val = f"SQRT({var})" if sqrt else var
    guard = f"{n} = 0" if pop else f"{n} < 2"
    return f"(CASE WHEN {guard} THEN NULL ELSE {val} END)"


_GROUPS_EXCLUDE_STDDEV_ORACLE = f"""
    WITH v0 AS MATERIALIZED (
      SELECT o_orderkey, o_orderstatus, o_orderdate,
             {_SDVAL} AS raw
      FROM orders WHERE o_orderkey < 2000
    ), v AS MATERIALIZED (
      SELECT o_orderkey, o_orderstatus, o_orderdate,
             raw - MIN(raw) OVER (PARTITION BY o_orderstatus) AS val
      FROM v0
    ), g AS MATERIALIZED (
      SELECT o_orderstatus, o_orderdate,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(val) AS BIGINT) AS s1,
             CAST(SUM(val * val) AS BIGINT) AS s2,
             DENSE_RANK() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_orderdate) AS rk
      FROM v GROUP BY o_orderstatus, o_orderdate
    ), nb AS MATERIALIZED (
      SELECT a.o_orderstatus, a.o_orderdate,
             CAST(COALESCE(SUM(CASE WHEN b.rk <> a.rk THEN b.cnt END), 0)
                  AS BIGINT) AS n_nb,
             CAST(COALESCE(SUM(CASE WHEN b.rk <> a.rk THEN b.s1 END), 0)
                  AS BIGINT) AS s1_nb,
             CAST(COALESCE(SUM(CASE WHEN b.rk <> a.rk THEN b.s2 END), 0)
                  AS BIGINT) AS s2_nb,
             CAST(COALESCE(SUM(CASE WHEN b.rk = a.rk - 1 THEN b.cnt END), 0)
                  AS BIGINT) AS n_p,
             CAST(COALESCE(SUM(CASE WHEN b.rk = a.rk - 1 THEN b.s1 END), 0)
                  AS BIGINT) AS s1_p,
             CAST(COALESCE(SUM(CASE WHEN b.rk = a.rk - 1 THEN b.s2 END), 0)
                  AS BIGINT) AS s2_p,
             CAST(SUM(b.cnt) AS BIGINT) AS n_tri,
             CAST(SUM(b.s1) AS BIGINT) AS s1_tri,
             CAST(SUM(b.s2) AS BIGINT) AS s2_tri
      FROM g a JOIN g b
        ON b.o_orderstatus = a.o_orderstatus
       AND b.rk BETWEEN a.rk - 1 AND a.rk + 1
      GROUP BY a.o_orderstatus, a.o_orderdate
    )
    SELECT a.o_orderkey,
           {rrepr(_mom("nb.n_nb", "nb.s1_nb", "nb.s2_nb", pop=False, sqrt=True), 6)}
             AS sd_excl_group,
           {rrepr(_mom("(nb.n_p + 1)", "(nb.s1_p + a.val)",
                       "(nb.s2_p + a.val * a.val)", pop=True, sqrt=False), 6)}
             AS var_excl_ties,
           {rrepr(_mom("(nb.n_tri - 1)", "(nb.s1_tri - a.val)",
                       "(nb.s2_tri - a.val * a.val)", pop=True, sqrt=True), 6)}
             AS sd_excl_current
    FROM v a
    JOIN nb ON nb.o_orderstatus = a.o_orderstatus
           AND nb.o_orderdate = a.o_orderdate
"""


@df_query("window_groups_exclude_stddev", _GROUPS_EXCLUDE_STDDEV_ORACLE)
def window_groups_exclude_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STDDEV/VAR GROUPS windows under frame EXCLUDE, rewritten to
    frame-minus-excluded raw moments (r10 dialect extension)."""
    from datafusion_server_spark import tables
    from datafusion_server_spark.functions.dialect import transpile

    tables.register_views(spark, sf_dir)
    return spark.sql(transpile(_GROUPS_EXCLUDE_STDDEV_SQL))


# r8: the last cheap offset-GROUPS residual — a GROUPS frame in a query
# with a TOP-LEVEL GROUP BY / HAVING. The dialect pre-pass
# (dialect._groups_over_groupby) moves the aggregation into a derived
# table (group keys + window-consumed aggregates projected under bound
# aliases), after which the ordinary dense-rank rewrite applies. The
# oracle derives the GROUPS-over-aggregate semantics independently via
# a rank self-join over the aggregated table (DuckDB has no GROUPS
# mode), so agreement proves the two-stage rewrite end to end.
_GROUPS_GROUPBY_SQL = f"""
    SELECT o_orderstatus, o_orderdate,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(SUM(CAST(o_totalprice AS {D18}))) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderdate
             GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
             AS rolling
    FROM orders WHERE o_orderkey < 2000
    GROUP BY o_orderstatus, o_orderdate
    HAVING COUNT(*) >= 1
"""

_GROUPS_GROUPBY_ORACLE = f"""
    WITH g AS (
      SELECT o_orderstatus, o_orderdate,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(CAST(o_totalprice AS {D18})) AS grp_sum,
             DENSE_RANK() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_orderdate) AS rk
      FROM orders WHERE o_orderkey < 2000
      GROUP BY o_orderstatus, o_orderdate
      HAVING COUNT(*) >= 1
    )
    SELECT a.o_orderstatus, a.o_orderdate, a.n_orders,
           ROUND(CAST(SUM(b.grp_sum) AS DOUBLE), 6) AS rolling
    FROM g a JOIN g b
      ON b.o_orderstatus = a.o_orderstatus AND b.rk BETWEEN a.rk - 1 AND a.rk
    GROUP BY a.o_orderstatus, a.o_orderdate, a.n_orders
"""


@df_query("window_groups_offset_groupby", _GROUPS_GROUPBY_ORACLE)
def window_groups_offset_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset GROUPS frame over a top-level GROUP BY: the r8 dialect
    pre-pass hoists the aggregation into a derived table, then the
    dense-rank GROUPS rewrite runs on the unaggregated outer query."""
    from datafusion_server_spark import tables
    from datafusion_server_spark.functions.dialect import transpile

    tables.register_views(spark, sf_dir)
    return spark.sql(transpile(_GROUPS_GROUPBY_SQL))


# r9 (verdict task 4): the GROUP BY ORDINAL residual of the same
# pre-pass — ordinals resolve to the 1-based select-list EXPRESSION
# before the hoist (the inner derived table reorders items, so a
# positional key must become the expression it names). The key here is
# deliberately an EXPRESSION (not a bare column) so the resolution
# path, not mere alias lookup, is what's proven.
_GROUPS_GROUPBY_ORDINAL_SQL = f"""
    SELECT CAST(o_orderkey % 7 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(SUM(CAST(o_totalprice AS {D18}))) OVER (
             ORDER BY CAST(o_orderkey % 7 AS BIGINT)
             GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
             AS rolling
    FROM orders WHERE o_orderkey < 2000
    GROUP BY 1
"""

_GROUPS_GROUPBY_ORDINAL_ORACLE = f"""
    WITH g AS (
      SELECT CAST(o_orderkey % 7 AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(CAST(o_totalprice AS {D18})) AS grp_sum,
             DENSE_RANK() OVER (ORDER BY CAST(o_orderkey % 7 AS BIGINT)) AS rk
      FROM orders WHERE o_orderkey < 2000
      GROUP BY 1
    )
    SELECT a.bucket, a.n_orders,
           ROUND(CAST(SUM(b.grp_sum) AS DOUBLE), 6) AS rolling
    FROM g a JOIN g b ON b.rk BETWEEN a.rk - 1 AND a.rk
    GROUP BY a.bucket, a.n_orders
"""


@df_query("window_groups_offset_groupby_ordinal", _GROUPS_GROUPBY_ORDINAL_ORACLE)
def window_groups_offset_groupby_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset GROUPS frame over a top-level GROUP BY ORDINAL: the r9
    dialect resolution rewrites ``GROUP BY 1`` to the select-list
    expression, then the r8 aggregation hoist + dense-rank GROUPS
    rewrite run as usual."""
    from datafusion_server_spark import tables
    from datafusion_server_spark.functions.dialect import transpile

    tables.register_views(spark, sf_dir)
    return spark.sql(transpile(_GROUPS_GROUPBY_ORDINAL_SQL))
