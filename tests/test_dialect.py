from __future__ import annotations

import re

import pytest

from datafusion_server_spark.functions.dialect import (
    find_table_at_namespace,
    quote_table_at_namespace,
    rewrite_date_bin,
    rewrite_function_aliases,
    transpile,
)


def test_find_table_at_namespace():
    sql = "SELECT * FROM users@pg u JOIN orders@pg o ON u.id=o.uid WHERE note <> 'x@y'"
    assert find_table_at_namespace(sql) == [("users", "pg"), ("orders", "pg")]


def test_quote_table_at_namespace():
    out = quote_table_at_namespace("SELECT * FROM users@pg WHERE email='a@b.c'")
    assert "`users@pg`" in out
    assert "'a@b.c'" in out  # literal untouched


def test_date_bin_rewrite():
    out = rewrite_date_bin("SELECT date_bin(INTERVAL '5 minutes', ts) FROM t")
    assert "floor(unix_timestamp(ts) / 300) * 300" in out
    out2 = rewrite_date_bin("SELECT DATE_BIN(INTERVAL '1 hour', col_a) x FROM t")
    assert "3600" in out2


def test_function_aliases():
    out = rewrite_function_aliases("SELECT approx_distinct(x), strpos(a, b) FROM t")
    assert "approx_count_distinct(x)" in out
    assert "instr(a, b)" in out


def test_alias_not_inside_literal():
    out = rewrite_function_aliases("SELECT 'random(' FROM t")
    assert "'random('" in out


def test_transpile_combined():
    sql = "SELECT date_bin(INTERVAL '10 minutes', ts), approx_distinct(u) FROM ev@mydb"
    out = transpile(sql)
    assert "`ev@mydb`" in out and "600" in out and "approx_count_distinct" in out


def test_offset_groups_frame_rewritten():
    """Offset GROUPS frames become dense-rank-keyed RANGE frames in a
    derived subquery (functions/dialect.py rewrite_offset_groups)."""
    out = transpile(
        "SELECT k, SUM(x) OVER (PARTITION BY p ORDER BY y "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM t"
    )
    assert "GROUPS" not in out
    assert "DENSE_RANK() OVER (PARTITION BY p ORDER BY y) AS __grp_rank_1" in out
    assert "ORDER BY __grp_rank_1 RANGE BETWEEN 1 PRECEDING AND CURRENT ROW" in out
    assert "__groups_rewrite" in out
    # bare `GROUPS n PRECEDING` normalizes to BETWEEN ... AND CURRENT ROW
    out2 = transpile("SELECT k, AVG(x) OVER (ORDER BY y GROUPS 2 PRECEDING) AS a FROM t")
    assert "RANGE BETWEEN 2 PRECEDING AND CURRENT ROW" in out2
    # WHERE moves inside the derived subquery (windows evaluate post-WHERE);
    # trailing ORDER BY / LIMIT stay outside
    out3 = transpile(
        "SELECT k, SUM(x) OVER (ORDER BY y GROUPS 1 PRECEDING) AS s "
        "FROM t WHERE k < 10 ORDER BY k LIMIT 5"
    )
    assert "WHERE k < 10)" in out3.replace("  ", " ")
    assert out3.rstrip().endswith("LIMIT 5")
    # two windows with the same spec share one rank column
    out4 = transpile(
        "SELECT SUM(x) OVER (ORDER BY y GROUPS 1 PRECEDING) AS a, "
        "AVG(x) OVER (ORDER BY y GROUPS 2 PRECEDING) AS b FROM t"
    )
    assert out4.count("DENSE_RANK()") == 1


def test_exotic_groups_frames_rejected():
    import pytest

    from datafusion_server_spark.functions.dialect import (
        UnsupportedDialectFeature,
        transpile,
    )

    for bad in (
        # post-aggregation windows: the rank cannot move into a
        # pre-aggregation derived table
        "SELECT g, SUM(v) OVER (ORDER BY g GROUPS 2 PRECEDING) FROM u GROUP BY g",
        # multi-relation qualified star: the derived alias hides which
        # relation t.* refers to (sole-relation t.* rewrites since r7)
        "SELECT t.*, SUM(v) OVER (ORDER BY o GROUPS 1 PRECEDING) "
        "FROM t JOIN u ON t.k = u.k",
    ):
        with pytest.raises(UnsupportedDialectFeature) as err:
            transpile(bad)
        # the client sees a plain statement, not the rewrite's history tags
        assert not re.search(r"\br\d+\b", str(err.value))
    # r6: DISTINCT bodies and GROUPS frames inside subqueries now
    # rewrite instead of rejecting
    assert "__groups_rewrite" in transpile(
        "SELECT DISTINCT SUM(v) OVER (ORDER BY t GROUPS 2 PRECEDING) FROM u"
    )
    assert "__groups_rewrite" in transpile(
        "SELECT * FROM (SELECT 1) t WHERE x IN "
        "(SELECT SUM(v) OVER (ORDER BY t GROUPS 2 PRECEDING) FROM u)"
    )
    # literal containing the keyword is fine
    assert transpile("SELECT 'GROUPS BETWEEN a and b' FROM t")


def test_groups_frame_rewritten_to_range():
    out = transpile(
        "SELECT SUM(x) OVER (ORDER BY y "
        "GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) FROM t"
    )
    assert "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW" in out
    assert "GROUPS" not in out
    out2 = transpile("SELECT SUM(x) OVER (ORDER BY y GROUPS UNBOUNDED PRECEDING) FROM t")
    assert "RANGE UNBOUNDED PRECEDING" in out2
    out3 = transpile(
        "SELECT SUM(x) OVER (ORDER BY y "
        "GROUPS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) FROM t"
    )
    assert "RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING" in out3


def test_date_bin_origin_argument():
    out = rewrite_date_bin(
        "SELECT date_bin(INTERVAL '5 minutes', ts, TIMESTAMP '2020-01-01 00:02:30') FROM t"
    )
    assert "unix_timestamp(TIMESTAMP '2020-01-01 00:02:30')" in out
    assert "- unix_timestamp(TIMESTAMP" in out and "+ unix_timestamp(TIMESTAMP" in out
    # two-arg form unchanged (epoch origin)
    out2 = rewrite_date_bin("SELECT date_bin(INTERVAL '5 minutes', ts) FROM t")
    assert "floor(unix_timestamp(ts) / 300) * 300" in out2


def test_regexp_match_first_match_semantics(spark):
    from datafusion_server_spark.functions.dialect import register_session_functions

    register_session_functions(spark)
    row = spark.sql(
        "SELECT regexp_match('a1b2c3', '([0-9])') AS m, "
        "regexp_match('abc', '([0-9])') AS none_m"
    ).collect()[0]
    assert row.m == ["1"]  # FIRST match only (not ['1','2','3'])
    assert row.none_m is None  # no match -> NULL, not ['']


def test_offset_groups_bare_star_excludes_helper_rank():
    from datafusion_server_spark.functions.dialect import rewrite_offset_groups

    out = rewrite_offset_groups(
        "SELECT *, SUM(v) OVER (PARTITION BY p ORDER BY o "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM t"
    )
    assert "* EXCEPT (__grp_rank_1)" in out
    assert "RANGE BETWEEN 1 PRECEDING AND CURRENT ROW" in out
    assert "DENSE_RANK() OVER (PARTITION BY p ORDER BY o)" in out


def test_offset_groups_distinct_rewrites():
    from datafusion_server_spark.functions.dialect import rewrite_offset_groups

    out = rewrite_offset_groups(
        "SELECT DISTINCT p, SUM(v) OVER (ORDER BY o GROUPS 2 PRECEDING) AS s FROM t"
    )
    assert out.startswith("SELECT DISTINCT")
    assert "RANGE BETWEEN 2 PRECEDING AND CURRENT ROW" in out


def test_offset_groups_union_branches_rewrite_independently():
    from datafusion_server_spark.functions.dialect import rewrite_offset_groups

    out = rewrite_offset_groups(
        "SELECT k, SUM(v) OVER (ORDER BY o GROUPS 1 PRECEDING) AS s FROM a "
        "UNION ALL SELECT k, v FROM b ORDER BY k LIMIT 5"
    )
    assert "UNION ALL SELECT k, v FROM b" in out
    assert out.rstrip().endswith("ORDER BY k LIMIT 5")
    assert "__groups_rewrite" in out
    # a star-EXCEPT projection is NOT a set operator
    out2 = rewrite_offset_groups(
        "SELECT * EXCEPT (x), SUM(v) OVER (ORDER BY o GROUPS 1 PRECEDING) FROM t"
    )
    assert "UNION" not in out2


def test_offset_groups_qualified_star_sole_relation_rewrites():
    """r7: t.* over a SINGLE unjoined relation expands exactly like *
    (star-EXCEPT the helper ranks); multi-relation or mismatched
    qualifiers still reject (the derived-table alias hides the name)."""
    import pytest

    from datafusion_server_spark.functions.dialect import (
        UnsupportedDialectFeature,
        rewrite_offset_groups,
        transpile,
    )

    out = rewrite_offset_groups(
        "SELECT t.*, SUM(v) OVER (ORDER BY o GROUPS 1 PRECEDING) AS s FROM t"
    )
    assert "* EXCEPT (__grp_rank_1)" in out
    assert "t.*" not in out
    # aliased relation: the alias is the valid qualifier
    out2 = rewrite_offset_groups(
        "SELECT o.*, SUM(v) OVER (ORDER BY d GROUPS 1 PRECEDING) AS s "
        "FROM orders o WHERE v > 0"
    )
    assert "* EXCEPT (__grp_rank_1)" in out2
    with pytest.raises(UnsupportedDialectFeature):
        transpile(
            "SELECT a.*, SUM(v) OVER (ORDER BY o GROUPS 1 PRECEDING) AS s "
            "FROM a JOIN b ON a.k = b.k"
        )
    with pytest.raises(UnsupportedDialectFeature):
        transpile(
            "SELECT z.*, SUM(v) OVER (ORDER BY o GROUPS 1 PRECEDING) AS s "
            "FROM orders o"
        )


def test_offset_groups_outer_qualified_refs(spark):
    """r8 (ADVICE): accepting a sole-relation qualifier must not leave
    OTHER qualified references (select items, window specs, ORDER BY
    tail) pointing at the alias the derived table hides — those strip
    to bare column names (q.col == col for the sole relation); a
    multi-relation qualified column reference rejects instead of
    emitting unresolvable SQL."""
    import pytest

    from datafusion_server_spark.functions.dialect import (
        UnsupportedDialectFeature,
        rewrite_offset_groups,
        transpile,
    )

    out = rewrite_offset_groups(
        "SELECT o.*, o.v AS vv, SUM(o.v) OVER (PARTITION BY o.g ORDER BY o.d "
        "GROUPS 1 PRECEDING) AS s FROM orders o ORDER BY o.d, o.v"
    )
    assert "__groups_rewrite" in out
    # every outer region is qualifier-free; the inner body keeps `o`
    head, _, rest = out.partition("FROM (")
    inner, _, tail = rest.partition(") __groups_rewrite")
    assert "o." not in head and "o." not in tail
    # the emitted SQL must actually analyze + execute on Spark
    spark.range(4).selectExpr(
        "id AS v", "id % 2 AS g", "id AS d"
    ).createOrReplaceTempView("orders")
    rows = spark.sql(out).collect()
    assert len(rows) == 4 and {r["vv"] for r in rows} == {0, 1, 2, 3}
    # multi-relation qualified COLUMN ref (no star): clear reject, not
    # broken SQL
    with pytest.raises(UnsupportedDialectFeature):
        transpile(
            "SELECT a.v, SUM(v) OVER (ORDER BY d GROUPS 1 PRECEDING) AS s "
            "FROM a JOIN b ON a.k = b.k"
        )


def test_offset_groups_exclude_rewrites_and_rejections():
    """r7: EXCLUDE CURRENT ROW/GROUP/TIES on SUM/COUNT/AVG rewrites to
    frame-minus-excluded arithmetic; EXCLUDE over a frame that never
    contains the current group is a no-op (dropped); EXCLUDE NO OTHERS
    is the default (dropped); non-subtractable aggregates reject."""
    import pytest

    from datafusion_server_spark.functions.dialect import (
        UnsupportedDialectFeature,
        rewrite_groups_frames,
        rewrite_offset_groups,
        transpile,
    )

    out = rewrite_offset_groups(
        "SELECT SUM(x) OVER (PARTITION BY p ORDER BY o "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE TIES) AS s FROM t"
    )
    assert "COUNT((x)) OVER (PARTITION BY p, o)" in out  # peer-group window
    assert "CASE WHEN" in out and "GROUPS" not in out
    # disjoint frame: EXCLUDE removes nothing, plain rewrite
    out2 = rewrite_offset_groups(
        "SELECT SUM(x) OVER (ORDER BY o "
        "GROUPS BETWEEN 3 PRECEDING AND 1 PRECEDING EXCLUDE GROUP) AS s FROM t"
    )
    assert "CASE WHEN" not in out2 and "EXCLUDE" not in out2
    # EXCLUDE NO OTHERS strips before the unbounded GROUPS->RANGE rewrite
    out3 = rewrite_groups_frames(
        "SELECT SUM(x) OVER (ORDER BY o GROUPS BETWEEN UNBOUNDED PRECEDING "
        "AND CURRENT ROW EXCLUDE NO OTHERS) AS s FROM t"
    )
    assert "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW" in out3
    assert "EXCLUDE" not in out3
    # a REAL exclude on the unbounded frame routes to the offset path
    out4 = rewrite_offset_groups(
        rewrite_groups_frames(
            "SELECT SUM(x) OVER (ORDER BY o GROUPS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS s FROM t"
        )
    )
    assert "CASE WHEN" in out4 and "GROUPS" not in out4
    # r9: MIN/MAX EXCLUDE now DECOMPOSES (LEAST/GREATEST over the
    # before/after sub-frames + the TIES self-term) instead of rejecting
    out5 = transpile(
        "SELECT MIN(x) OVER (ORDER BY o GROUPS 1 PRECEDING "
        "EXCLUDE TIES) AS s FROM t"
    )
    assert "LEAST(" in out5 and "GROUPS" not in out5
    out6 = transpile(
        "SELECT MAX(x) OVER (ORDER BY o GROUPS BETWEEN 2 PRECEDING AND "
        "1 FOLLOWING EXCLUDE CURRENT ROW) AS s FROM t"
    )
    # peers-minus-self = ROWS before-self U after-self over the peer group
    assert "GREATEST(" in out6 and out6.count("ROWS BETWEEN") == 2
    # r10: STDDEV/VAR under EXCLUDE now rewrite via raw-moment
    # subtraction (n, Σx, Σx² each frame-minus-excluded) instead of
    # rejecting; value-exactness is covered by the extended fuzzer grid
    # and the window_groups_exclude_stddev oracle row
    out7 = transpile(
        "SELECT STDDEV(x) OVER (ORDER BY o GROUPS 1 PRECEDING "
        "EXCLUDE TIES) AS s FROM t"
    )
    assert "SQRT(" in out7 and "GREATEST(" in out7 and "GROUPS" not in out7
    out8 = transpile(
        "SELECT VAR_POP(x) OVER (ORDER BY o GROUPS 1 PRECEDING "
        "EXCLUDE GROUP) AS s FROM t"
    )
    assert "SQRT(" not in out8 and "GREATEST(" in out8 and "GROUPS" not in out8
    # a genuinely non-decomposable aggregate under EXCLUDE still
    # rejects (r12 moved ARRAY_AGG GROUP/TIES to the supported set;
    # percentile-family and ARRAY_AGG's CURRENT ROW case keep it)
    with pytest.raises(UnsupportedDialectFeature):
        transpile(
            "SELECT MEDIAN(x) OVER (ORDER BY o GROUPS 1 PRECEDING "
            "EXCLUDE TIES) AS s FROM t"
        )
    with pytest.raises(UnsupportedDialectFeature):
        transpile(
            "SELECT ARRAY_AGG(x) OVER (ORDER BY o GROUPS 1 PRECEDING "
            "EXCLUDE CURRENT ROW) AS s FROM t"
        )


def test_offset_groups_deep_whitespace_subselect_not_corrupted():
    """A subquery whose '(' is followed by a long whitespace run (pretty
    printed 'IN (\\n      SELECT ...') is still a subselect: the outer
    rewrite must NOT splice its helper rank into the subquery's OVER
    (the r6 _inside_subselect match was truncated to 11 chars and
    mis-classified exactly this shape, emitting corrupted SQL)."""
    from datafusion_server_spark.functions.dialect import rewrite_offset_groups

    sql = (
        "SELECT a FROM t WHERE a IN (\n          "
        "SELECT k FROM (SELECT k, SUM(v) AS sv FROM u GROUP BY k) z "
        "WHERE sv IN (SELECT SUM(w) OVER (ORDER BY q GROUPS 1 PRECEDING) "
        "FROM g GROUP BY q))"
    )
    out = rewrite_offset_groups(sql)
    assert out == sql  # unchanged -> rejected downstream, never corrupted
    assert "__grp_rank" not in out


def test_offset_groups_over_groupby_rewrites(spark):
    """r8: offset GROUPS + top-level GROUP BY/HAVING — the aggregation
    hoists into a derived table, then the dense-rank rewrite applies;
    out-of-scope shapes keep the clear reject."""
    import pytest

    from datafusion_server_spark.functions.dialect import (
        UnsupportedDialectFeature,
        transpile,
    )

    out = transpile(
        "SELECT g, CAST(COUNT(*) AS BIGINT) AS n, "
        "ROUND(CAST(SUM(SUM(v)) OVER (ORDER BY g "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS s "
        "FROM t GROUP BY g HAVING COUNT(*) >= 1 ORDER BY g"
    )
    assert "GROUPS" not in out
    assert "__agg_groups" in out and "__groups_rewrite" in out
    spark.range(6).selectExpr("id % 3 AS g", "id AS v").createOrReplaceTempView("t")
    rows = {r["g"]: (r["n"], r["s"]) for r in spark.sql(out).collect()}
    # per-group sums: g0=3, g1=5, g2=7; rolling pairs: 3, 8, 12
    assert rows == {0: (2, 3.0), 1: (2, 8.0), 2: (2, 12.0)}
    # window arg neither a group key nor an aggregate call: reject
    with pytest.raises(UnsupportedDialectFeature):
        transpile(
            "SELECT g, SUM(v) OVER (ORDER BY g GROUPS 2 PRECEDING) "
            "FROM u GROUP BY g"
        )
    # r9 (ADVICE): COMPOUND window arg — leads with an aggregate call
    # but carries a trailing raw-column term. The greedy `.*)$` match
    # accepted it and emitted inner SQL that failed Spark analysis;
    # the paren-balance check must keep the clear reject instead.
    with pytest.raises(UnsupportedDialectFeature):
        transpile(
            "SELECT g, SUM(SUM(v) + (x)) OVER (ORDER BY g GROUPS 1 PRECEDING) "
            "AS s FROM u GROUP BY g"
        )
    # non-wrapper residual around the window (dangling aggregate): reject
    with pytest.raises(UnsupportedDialectFeature):
        transpile(
            "SELECT g, SUM(SUM(v)) OVER (ORDER BY g GROUPS 1 PRECEDING) + MAX(x) "
            "FROM u GROUP BY g"
        )
    # r9: GROUP BY ordinal resolves to the select-list EXPRESSION
    # before the hoist (here an expression key, so the resolution path
    # — not a mere alias lookup — is exercised), then rewrites as usual
    out2 = transpile(
        "SELECT v % 2 AS parity, "
        "SUM(SUM(v)) OVER (ORDER BY v % 2 GROUPS 1 PRECEDING) AS s "
        "FROM t GROUP BY 1"
    )
    assert "GROUPS" not in out2 and "__agg_groups" in out2
    rows2 = {r["parity"]: r["s"] for r in spark.sql(out2).collect()}
    # v in 0..5: parity 0 sums 0+2+4=6, parity 1 sums 1+3+5=9; rolling 6, 15
    assert rows2 == {0: 6, 1: 15}
    # out-of-range ordinal: reject
    with pytest.raises(UnsupportedDialectFeature):
        transpile(
            "SELECT g, SUM(SUM(v)) OVER (ORDER BY g GROUPS 1 PRECEDING) "
            "FROM u GROUP BY 9"
        )
    # r9 self-review: ordinal resolving to an integer LITERAL must
    # reject, not recurse on identical text forever (was RecursionError)
    with pytest.raises(UnsupportedDialectFeature):
        transpile(
            "SELECT 1 AS one, SUM(SUM(v)) OVER (ORDER BY g GROUPS 1 PRECEDING) "
            "AS s FROM t GROUP BY 1"
        )
    # r9 self-review: COMPOUND aggregate-level window args (every leaf a
    # group key / aggregate call / literal) must still REWRITE — the
    # paren-balance fix briefly over-rejected these
    out3 = transpile(
        "SELECT g, SUM(2 * SUM(v) - COUNT(x)) OVER "
        "(ORDER BY g GROUPS 1 PRECEDING) AS s FROM t GROUP BY g"
    )
    assert "GROUPS" not in out3 and "__agg_groups" in out3
    spark.range(6).selectExpr(
        "id % 3 AS g", "id AS v", "id AS x"
    ).createOrReplaceTempView("t")
    rows3 = {r["g"]: r["s"] for r in spark.sql(out3).collect()}
    # per-group: 2*sum(v) - count = g0: 6-2=4, g1: 10-2=8, g2: 14-2=12
    # rolling pairs over g: 4, 12, 20
    assert rows3 == {0: 4, 1: 12, 2: 20}
    # ordinal naming the WINDOW item itself: invalid input, reject
    with pytest.raises(UnsupportedDialectFeature):
        transpile(
            "SELECT g, SUM(SUM(v)) OVER (ORDER BY g GROUPS 1 PRECEDING) AS s "
            "FROM u GROUP BY 2"
        )


def test_exclude_stddev_large_magnitude_anchor_shift(spark):
    """r11 (ADVICE medium): the STDDEV/VAR EXCLUDE moment rewrite must
    stay accurate when mean² ≫ variance. Values near 1e9 with unit
    spacing: the UN-shifted raw moments (Σx² ~ 1e19) are far beyond
    2^53, so the old formula returned catastrophically wrong variances;
    the anchor-shifted moments (d = x - min_partition(x) ∈ [0, 11]) are
    exact, so the result matches the true peer-group variance to full
    precision."""
    import math

    from datafusion_server_spark.functions.dialect import transpile

    base = 1_000_000_000
    spark.createDataFrame(
        [(i, base + i) for i in range(12)], "k bigint, v bigint"
    ).createOrReplaceTempView("bigmag")
    out = transpile(
        "SELECT k, VAR_POP(v) OVER (ORDER BY k "
        "GROUPS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW)"
        " AS vp FROM bigmag"
    )
    assert "GROUPS" not in out.split("__groups_rewrite")[0].split("FROM")[0]
    assert "__grp_anchor_1" in out
    got = {r["k"]: r["vp"] for r in spark.sql(out).collect()}
    # independent truth: frame = ks within +/-2, minus self (all peers
    # are singletons on a unique order key)
    for k in range(12):
        frame = [base + j for j in range(max(0, k - 2), min(11, k + 2) + 1)
                 if j != k]
        mean = sum(frame) / len(frame)
        true_vp = sum((x - mean) ** 2 for x in frame) / len(frame)
        assert math.isclose(got[k], true_vp, rel_tol=1e-12), (
            k, got[k], true_vp
        )


def test_offset_groups_colliding_multi_star_aliases(spark):
    """r12 (verdict task 5): a base join whose column names collide
    across relations no longer rejects — colliding (qualifier, column)
    refs rebind to per-relation wrap aliases (__qc_q_i) and ``q.*``
    expands with AS-backed names. Deterministic spot: nation self-join,
    value-checked against an independently derived frame sum."""
    from datafusion_server_spark.functions.dialect import transpile

    spark.createDataFrame(
        [(i, f"n{i}", i % 2) for i in range(6)],
        "n_nationkey bigint, n_name string, n_regionkey bigint",
    ).createOrReplaceTempView("mini_nation")
    sql = (
        "SELECT a.*, b.n_name AS peer_name, "
        "CAST(SUM(b.n_nationkey) OVER (ORDER BY a.n_nationkey "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s "
        "FROM mini_nation a JOIN mini_nation b "
        "ON a.n_regionkey = b.n_regionkey AND a.n_nationkey <> b.n_nationkey"
    )
    out = transpile(sql, lambda t: spark.table(t).columns)
    assert "__qc_a_0" in out and "GROUPS" not in out
    rows = spark.sql(out).collect()
    # peers of key k: same parity, excluding self -> {k-4, k-2, k+2, k+4} & [0,6)
    def peers(k):
        return [j for j in range(6) if j % 2 == k % 2 and j != k]

    keys = sorted({r["n_nationkey"] for r in rows})
    for r in rows:
        k = r["n_nationkey"]
        prev = [x for x in keys if x < k][-1:]  # 1 PRECEDING peer group
        expect = sum(peers(k)) + sum(sum(peers(p)) for p in prev)
        assert r["s"] == expect, (k, r["s"], expect)
        assert r["n_name"] == f"n{k}"  # a-side columns survived the rebind


def test_offset_groups_colliding_bare_star_rejects():
    """Bare * over colliding schemas would propagate duplicate output
    names through the wrap — stays a clean reject (unchanged SQL)."""
    from datafusion_server_spark.functions.dialect import rewrite_offset_groups

    cols = {"t": ["k", "v"], "s": ["k", "w"]}
    sql = (
        "SELECT *, SUM(t.v) OVER (ORDER BY t.k "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS r "
        "FROM t JOIN s ON t.k = s.k"
    )
    assert rewrite_offset_groups(sql, lambda t: cols[t]) == sql


def test_offset_groups_case_insensitive_qualifiers():
    """r12 (ADVICE): Spark resolves aliases case-insensitively, so
    ``FROM t a JOIN t A`` IS a duplicate qualifier (reject), and an
    outer ref whose case differs from its alias still strips/rebinds."""
    from datafusion_server_spark.functions.dialect import rewrite_offset_groups

    cols = {"t": ["k", "v"], "s": ["k2", "w"]}
    dup = (
        "SELECT a.v, SUM(A.v) OVER (ORDER BY a.k "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS r "
        "FROM t a JOIN t A ON a.k = A.k"
    )
    assert rewrite_offset_groups(dup, lambda t: cols[t]) == dup
    # case-differing outer qualifier over unique-name join: strips fine
    ok = (
        "SELECT T.v, SUM(S.w) OVER (ORDER BY t.k "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS r "
        "FROM t JOIN s ON t.k = s.k2"
    )
    out = rewrite_offset_groups(ok, lambda t: cols[t])
    assert out != ok and "T." not in out and "S." not in out


def test_offset_groups_expansion_quotes_resolver_columns():
    """r12 (ADVICE medium): resolver-returned column names needing
    quoting (reserved word, space) splice backtick-quoted instead of
    yielding unparseable SQL."""
    from datafusion_server_spark.functions.dialect import rewrite_offset_groups

    cols = {"t": ["k", "order", "col name"], "s": ["k2", "w"]}
    sql = (
        "SELECT t.*, SUM(s.w) OVER (ORDER BY t.k "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS r "
        "FROM t JOIN s ON t.k = s.k2"
    )
    out = rewrite_offset_groups(sql, lambda t: cols[t])
    assert out != sql and "`order`" in out and "`col name`" in out


def test_offset_groups_exclude_array_agg(spark):
    """r12: ARRAY_AGG/COLLECT_LIST under EXCLUDE GROUP/TIES decompose
    to an order-preserving CONCAT of the before-/after-group sub-frames.
    Unique order keys prove ELEMENT ORDER (not just content): frame
    2 PRECEDING..1 FOLLOWING EXCLUDE GROUP == [lag2, lag1, lead1]."""
    from datafusion_server_spark.functions.dialect import (
        UnsupportedDialectFeature,
        transpile,
    )

    spark.createDataFrame(
        [(i, i * 10) for i in range(8)], "k bigint, v bigint"
    ).createOrReplaceTempView("uq")
    out = transpile(
        "SELECT k, ARRAY_JOIN(ARRAY_AGG(v) OVER (ORDER BY k "
        "GROUPS BETWEEN 2 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP), ',')"
        " AS w FROM uq"
    )
    assert "GROUPS" not in out and "CONCAT" in out
    got = {r["k"]: r["w"] for r in spark.sql(out).collect()}
    for k in range(8):
        want = [j * 10 for j in (k - 2, k - 1, k + 1) if 0 <= j <= 7]
        assert got[k] == ",".join(map(str, want)), (k, got[k], want)

    # TIES with real ties: self kept, peers dropped — content check on
    # sorted elements (intra-peer order is engine-arbitrary by spec)
    spark.createDataFrame(
        [(i, i // 2, i * 100) for i in range(8)],
        "rid bigint, k bigint, v bigint",
    ).createOrReplaceTempView("tied")
    out2 = transpile(
        "SELECT rid, ARRAY_JOIN(ARRAY_SORT(COLLECT_LIST(v) OVER ("
        "ORDER BY k GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW "
        "EXCLUDE TIES)), ',') AS w FROM tied"
    )
    assert "GROUPS" not in out2
    got2 = {r["rid"]: r["w"] for r in spark.sql(out2).collect()}
    for rid in range(8):
        k = rid // 2
        keep = [j * 100 for j in range(8)
                if j // 2 == k - 1 or j == rid]  # prev peer group + self
        assert got2[rid] == ",".join(map(str, sorted(keep))), (
            rid, got2[rid], keep
        )

    # fully-emptied frame -> NULL (standard), not []
    out3 = transpile(
        "SELECT k, ARRAY_AGG(v) OVER (ORDER BY k "
        "GROUPS BETWEEN CURRENT ROW AND CURRENT ROW EXCLUDE GROUP)"
        " AS w FROM uq"
    )
    assert all(r["w"] is None for r in spark.sql(out3).collect())

    # EXCLUDE CURRENT ROW keeps the clear reject (peers-minus-self
    # element order is unspecified)
    with pytest.raises(UnsupportedDialectFeature):
        transpile(
            "SELECT k, ARRAY_AGG(v) OVER (ORDER BY k "
            "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW "
            "EXCLUDE CURRENT ROW) AS w FROM uq"
        )


def test_offset_groups_exclude_array_agg_runtime_empty(spark):
    """r13 (ADVICE): a frame that empties only AT RUNTIME (partition's
    first row under 1 PRECEDING..CURRENT ROW EXCLUDE GROUP; single-row
    partition under 2 PRECEDING..1 FOLLOWING EXCLUDE GROUP) must yield
    NULL, not [] — Spark's window COLLECT_LIST returns [] over an empty
    sub-frame, so the rewrite guards on SIZE()=0, not IS NULL."""
    from datafusion_server_spark.functions.dialect import transpile

    spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("a", 3, 30), ("b", 9, 90)],
        "p string, k int, v int",
    ).createOrReplaceTempView("rtpart")
    # first row of each partition: only leg (1 PRECEDING..1 PRECEDING)
    # is runtime-empty -> NULL
    out = transpile(
        "SELECT p, k, ARRAY_AGG(v) OVER (PARTITION BY p ORDER BY k "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE GROUP)"
        " AS w FROM rtpart"
    )
    got = {(r["p"], r["k"]): r["w"] for r in spark.sql(out).collect()}
    assert got[("a", 1)] is None and got[("b", 9)] is None
    assert got[("a", 2)] == [10] and got[("a", 3)] == [20]
    # single-row partition under a two-leg CONCAT frame -> NULL
    out2 = transpile(
        "SELECT p, k, ARRAY_AGG(v) OVER (PARTITION BY p ORDER BY k "
        "GROUPS BETWEEN 2 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP)"
        " AS w FROM rtpart"
    )
    got2 = {(r["p"], r["k"]): r["w"] for r in spark.sql(out2).collect()}
    assert got2[("b", 9)] is None
    assert got2[("a", 1)] == [20] and got2[("a", 2)] == [10, 30]
    # TIES keeps the self row, so the frame never runtime-empties for
    # non-null args — but a NULL self value under an otherwise-empty
    # frame must still collapse to NULL (null-skipping ARRAY_AGG)
    spark.createDataFrame(
        [("c", 1, None)], "p string, k int, v int"
    ).createOrReplaceTempView("rtnull")
    out3 = transpile(
        "SELECT p, ARRAY_AGG(v) OVER (PARTITION BY p ORDER BY k "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE TIES)"
        " AS w FROM rtnull"
    )
    assert spark.sql(out3).collect()[0]["w"] is None


def test_offset_groups_using_join_expansion(spark):
    """r12: INNER JOIN USING participates in the multi-relation GROUPS
    expansion — the USING key is merged (SELECT * exposes it once, bare
    name unambiguous); non-key collisions still alias through the wrap.
    NATURAL OUTER and partially-merged keys keep the reject (OUTER
    USING itself is accepted since r13 — see the dedicated test)."""
    from datafusion_server_spark.functions.dialect import rewrite_offset_groups

    spark.createDataFrame(
        [(i, i * 10, i % 3) for i in range(9)], "k bigint, v bigint, g bigint"
    ).createOrReplaceTempView("ut")
    spark.createDataFrame(
        [(i, i * 7) for i in range(9)], "k bigint, w bigint"
    ).createOrReplaceTempView("us")
    cols = {"ut": ["k", "v", "g"], "us": ["k", "w"]}
    sql = (
        "SELECT ut.*, us.w, "
        "CAST(SUM(us.w) OVER (PARTITION BY ut.g ORDER BY ut.k "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s "
        "FROM ut JOIN us USING (k)"
    )
    out = rewrite_offset_groups(sql, lambda t: cols[t])
    assert out != sql and "GROUPS" not in out
    rows = {r["k"]: r for r in spark.sql(out).collect()}
    for k in range(9):
        # peers within g-partition ordered by k: previous same-g k is k-3
        prev = k - 3 if k - 3 >= 0 else None
        want = k * 7 + (prev * 7 if prev is not None else 0)
        assert rows[k]["s"] == want and rows[k]["v"] == k * 10, (k, rows[k])

    # three-way chain fully merged on k: accepted
    spark.createDataFrame(
        [(i, i + 100) for i in range(9)], "k bigint, z bigint"
    ).createOrReplaceTempView("uu")
    cols3 = {**cols, "uu": ["k", "z"]}
    sql3 = (
        "SELECT ut.k, uu.z, CAST(SUM(us.w) OVER (ORDER BY ut.k "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s "
        "FROM ut JOIN us USING (k) JOIN uu USING (k)"
    )
    out3 = rewrite_offset_groups(sql3, lambda t: cols3[t])
    assert out3 != sql3 and "GROUPS" not in out3
    assert spark.sql(out3).count() == 9

    # reject: USING key absent from one side (unmerged)
    bad = (
        "SELECT ut.v, SUM(us.w) OVER (ORDER BY ut.k "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s "
        "FROM ut JOIN us USING (g)"  # us has no g
    )
    assert rewrite_offset_groups(bad, lambda t: cols[t]) == bad


def test_offset_groups_outer_using_join_expansion(spark):
    """r13 (verdict task 6): LEFT/RIGHT/FULL JOIN USING participates in
    the GROUPS expansion. Bare key refs bind to the standard's merged
    (coalesced) column — Spark's wrap-* models it natively — while
    per-side qualified refs ``q.k`` (NULL on q's unmatched rows) rebind
    to explicit wrap aliases, and ``q.*`` keeps the SIDE's key value."""
    from datafusion_server_spark.functions.dialect import rewrite_offset_groups

    spark.createDataFrame(
        [(1, 10), (2, 20), (4, 40)], "k bigint, av bigint"
    ).createOrReplaceTempView("oa")
    spark.createDataFrame(
        [(2, 7), (3, 8), (4, 9)], "k bigint, bv bigint"
    ).createOrReplaceTempView("ob")
    cols = {"oa": ["k", "av"], "ob": ["k", "bv"]}
    res = lambda t: cols[t]  # noqa: E731

    # FULL USING + bare star: merged k = COALESCE(oa.k, ob.k) feeds the
    # GROUPS order; k values 1,2,3,4 each a singleton peer group
    out = rewrite_offset_groups(
        "SELECT *, CAST(SUM(k) OVER (ORDER BY k "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s "
        "FROM oa FULL JOIN ob USING (k)",
        res,
    )
    assert "GROUPS" not in out
    got = {r["k"]: (r["av"], r["bv"], r["s"]) for r in spark.sql(out).collect()}
    assert got == {
        1: (10, None, 1), 2: (20, 7, 3), 3: (None, 8, 5), 4: (40, 9, 7)
    }
    assert "__qc" not in str(spark.sql(out).columns), "wrap aliases leaked"

    # per-side qualified key refs under LEFT USING
    out2 = rewrite_offset_groups(
        "SELECT oa.k AS ak, ob.k AS bk, CAST(COUNT(*) OVER (ORDER BY k "
        "GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS c "
        "FROM oa LEFT JOIN ob USING (k)",
        res,
    )
    assert "GROUPS" not in out2
    got2 = {r["ak"]: (r["bk"], r["c"]) for r in spark.sql(out2).collect()}
    assert got2 == {1: (None, 2), 2: (2, 3), 4: (4, 2)}

    # q.* under RIGHT USING keeps the SIDE's key (NULL on unmatched)
    out3 = rewrite_offset_groups(
        "SELECT oa.*, CAST(SUM(k) OVER (ORDER BY k "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s "
        "FROM oa RIGHT JOIN ob USING (k)",
        res,
    )
    assert "GROUPS" not in out3
    got3 = sorted(
        ((r["k"], r["av"], r["s"]) for r in spark.sql(out3).collect()),
        key=lambda t: (t[0] is None, t[0] or 0),
    )
    assert got3 == [(2, 20, 2), (4, 40, 7), (None, None, 5)]

    # NATURAL OUTER still rejects
    bad = (
        "SELECT oa.av, SUM(k) OVER (ORDER BY k "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s "
        "FROM oa NATURAL LEFT JOIN ob"
    )
    assert rewrite_offset_groups(bad, res) == bad


def test_offset_groups_natural_join_expansion(spark):
    """r12: two-relation NATURAL INNER JOIN == USING(schema
    intersection), resolved from columns_of — merged keys stay bare,
    non-common collisions alias through the wrap. NATURAL OUTER and
    NATURAL chains keep the reject."""
    from datafusion_server_spark.functions.dialect import rewrite_offset_groups

    spark.createDataFrame(
        [(i, i * 10, i % 3) for i in range(9)], "k bigint, v bigint, g bigint"
    ).createOrReplaceTempView("nt")
    spark.createDataFrame(
        [(i, i * 7) for i in range(9)], "k bigint, w bigint"
    ).createOrReplaceTempView("ns")
    cols = {"nt": ["k", "v", "g"], "ns": ["k", "w"]}
    sql = (
        "SELECT nt.v, ns.w, CAST(SUM(ns.w) OVER (PARTITION BY nt.g "
        "ORDER BY nt.k GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) "
        "AS BIGINT) AS s FROM nt NATURAL JOIN ns"
    )
    out = rewrite_offset_groups(sql, lambda t: cols[t])
    assert out != sql and "GROUPS" not in out
    rows = {r["v"]: r for r in spark.sql(out).collect()}
    for k in range(9):
        prev = k - 3 if k - 3 >= 0 else None
        want = k * 7 + (prev * 7 if prev is not None else 0)
        assert rows[k * 10]["s"] == want, (k, rows[k * 10])

    # rejects: NATURAL LEFT; three-relation NATURAL chain
    cols3 = {**cols, "nu": ["k", "z"]}
    for bad, res in [
        (sql.replace("NATURAL JOIN", "NATURAL LEFT JOIN"), lambda t: cols[t]),
        (
            sql.replace("FROM nt NATURAL JOIN ns",
                        "FROM nt NATURAL JOIN ns NATURAL JOIN nu"),
            lambda t: cols3[t],
        ),
    ]:
        assert rewrite_offset_groups(bad, res) == bad


def test_offset_groups_backtick_qualified_sole_relation(spark):
    """A backtick-quoted column behind the sole relation's qualifier
    keeps its quotes while the qualifier is stripped in the outer query."""
    sess = spark.newSession()
    sess.createDataFrame(
        [(1, 1), (1, 2), (2, 3), (3, 4), (3, 5), (3, 6)], "x bigint, v bigint"
    ).createOrReplaceTempView("t")
    sql = "SELECT t.`x`, SUM(v) OVER (ORDER BY t.`x` GROUPS 1 PRECEDING) AS w FROM t"
    out = transpile(sql)
    assert out.startswith("SELECT `x`, ")
    got = sorted(tuple(r) for r in sess.sql(out).collect())
    assert got == [(1, 3), (1, 3), (2, 6), (3, 18), (3, 18), (3, 18)]


def test_offset_groups_backtick_qualified_join(spark):
    """The same over a two-relation join resolved through ``columns_of``."""
    sess = spark.newSession()
    sess.createDataFrame([(1, 0), (2, 0), (3, 0)], "k bigint, v bigint").createOrReplaceTempView("a")
    sess.createDataFrame(
        [(1, 10), (1, 20), (2, 30), (3, 40)], "k2 bigint, w bigint"
    ).createOrReplaceTempView("b")
    cols = {"a": ["k", "v"], "b": ["k2", "w"]}
    sql = (
        "SELECT a.`k`, SUM(b.w) OVER (ORDER BY a.`k` GROUPS 1 PRECEDING) AS r "
        "FROM a JOIN b ON a.`k` = b.k2"
    )
    out = transpile(sql, lambda t: cols[t])
    assert "GROUPS" not in out
    got = sorted(tuple(r) for r in sess.sql(out).collect())
    assert got == [(1, 30), (1, 30), (2, 60), (3, 70)]


@pytest.mark.parametrize(
    "frame",
    [
        "GROUPS /* c */ 1 PRECEDING",
        "GROUPS -- c\n 1 PRECEDING",
        "GROUPS /* c */ BETWEEN 1 PRECEDING AND /* d */ CURRENT ROW",
    ],
)
def test_offset_groups_frame_split_by_a_comment(frame):
    """A comment between a GROUPS frame's words separates them as
    whitespace does: the frame is rewritten, not passed to Spark."""
    out = transpile(f"SELECT SUM(v) OVER (ORDER BY x {frame}) AS w FROM t")
    assert "GROUPS" not in out
    assert "ORDER BY __grp_rank_1 RANGE BETWEEN 1 PRECEDING AND CURRENT ROW" in out


def test_unbounded_groups_frame_split_by_a_comment():
    out = transpile("SELECT SUM(v) OVER (ORDER BY x GROUPS /* a */ UNBOUNDED /* b */ PRECEDING) AS w FROM t")
    assert "GROUPS" not in out
    assert "RANGE UNBOUNDED /* b */ PRECEDING" in out
