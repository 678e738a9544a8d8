"""Static pushdown extraction for the wire-protocol fallbacks
(reference table_provider.rs:93-124 splices projection/filter/limit into
remote SQL; these are the pure-function contracts of the Spark port).

Pure Python — no SparkSession needed.
"""

from __future__ import annotations

from datafusion_server_spark.sources.jdbc import (
    Pushdown,
    build_remote_sql,
    extract_pushdown,
    refine_pushdown,
)

COLS = ["id", "name", "age", "score"]


def test_simple_select_pushes_everything():
    pd = extract_pushdown(
        "SELECT name, age FROM people@pg WHERE age > 30 LIMIT 5", "people", "pg"
    )
    r = refine_pushdown(pd, COLS)
    assert r.columns == ("name", "age")
    assert r.where == "age > 30"
    assert r.limit == 5
    assert (
        build_remote_sql("people", r, quote='"')
        == 'SELECT "name", "age" FROM "people" WHERE age > 30 LIMIT 5'
    )


def test_star_means_no_projection():
    pd = extract_pushdown("SELECT * FROM people@pg", "people", "pg")
    assert pd.columns is None
    assert build_remote_sql("people", refine_pushdown(pd, COLS), quote="`") == (
        "SELECT * FROM `people`"
    )


def test_count_star_is_full_fetch():
    pd = extract_pushdown("SELECT COUNT(*) AS n FROM people@pg", "people", "pg")
    assert refine_pushdown(pd, COLS).is_noop()


def test_alias_qualified_filter_is_rewritten():
    pd = extract_pushdown(
        "SELECT p.name FROM people@pg p WHERE p.age BETWEEN 1 AND 9 AND p.name LIKE 'a%'",
        "people",
        "pg",
    )
    r = refine_pushdown(pd, COLS)
    assert r.columns == ("name", "age")
    assert r.where == "age BETWEEN 1 AND 9 AND name LIKE 'a%'"


def test_function_call_in_where_is_not_pushed():
    pd = extract_pushdown(
        "SELECT name FROM people@pg WHERE upper(name) = 'A'", "people", "pg"
    )
    assert pd.where is None
    assert refine_pushdown(pd, COLS).columns == ("name",)


def test_subquery_disables_filter_but_keeps_projection():
    pd = extract_pushdown(
        "SELECT name FROM people@pg WHERE id IN (SELECT id FROM x)", "people", "pg"
    )
    assert pd.where is None and pd.limit is None
    assert refine_pushdown(pd, COLS).columns == ("id", "name")


def test_join_disables_filter_but_keeps_projection():
    pd = extract_pushdown(
        "SELECT a.name, b.x FROM people@pg a JOIN other b ON a.id = b.id "
        "WHERE a.age > 1",
        "people",
        "pg",
    )
    assert pd.where is None
    assert refine_pushdown(pd, COLS).columns == ("id", "name", "age")


def test_limit_not_pushed_past_reordering_clauses():
    for sql in (
        "SELECT name FROM people@pg ORDER BY name LIMIT 3",
        "SELECT name, sum(age) AS s FROM people@pg GROUP BY name LIMIT 3",
        "SELECT DISTINCT name FROM people@pg LIMIT 3",
    ):
        assert extract_pushdown(sql, "people", "pg").limit is None


def test_limit_dropped_when_filter_cannot_push():
    # remote LIMIT before an unapplied WHERE would return the wrong n rows
    pd = extract_pushdown(
        "SELECT name FROM people@pg WHERE upper(name) = 'A' LIMIT 2", "people", "pg"
    )
    assert pd.limit is None
    # ...and refine drops it too when IT kills the filter
    pd2 = Pushdown(columns=("name",), where="ghost_col > 1", limit=2)
    r2 = refine_pushdown(pd2, COLS)
    assert r2.where is None and r2.limit is None


def test_select_alias_in_where_is_not_pushed():
    # DuckDB-style alias reference: 'label' is not a remote column
    pd = Pushdown(columns=("name", "label"), where="label = 3", limit=None)
    r = refine_pushdown(pd, COLS)
    assert r.where is None
    assert r.columns == ("name",)


def test_mysql_string_predicates_are_dropped():
    pd = Pushdown(columns=("name",), where="name != 'Alice'", limit=None)
    assert refine_pushdown(pd, COLS, allow_string_predicates=False).where is None
    # numeric predicates survive the same flag
    pd2 = Pushdown(columns=("age",), where="age > -5", limit=None)
    assert refine_pushdown(pd2, COLS, allow_string_predicates=False).where == "age > -5"


def test_keyword_soup_predicates_rejected_by_schema_check():
    # IS DISTINCT FROM parses as safe tokens but 'distinct'/'from' are not
    # remote columns -> refine kills it (MySQL has no such syntax)
    pd = Pushdown(columns=None, where="x IS DISTINCT FROM 3", limit=None)
    assert refine_pushdown(pd, ["x"]).where is None


def test_quoted_identifiers_disable_projection():
    pd = extract_pushdown(
        'SELECT "my col" FROM people@pg', "people", "pg"
    )
    assert pd.columns is None


def test_projection_candidates_are_superset_safe():
    # relation alias that collides with nothing just drops out; one that
    # IS a column name over-fetches one column, never breaks
    pd = extract_pushdown(
        "SELECT age FROM people@pg age WHERE age.age > 1", "people", "pg"
    )
    r = refine_pushdown(pd, COLS)
    assert "age" in (r.columns or ())


def test_scalar_aggregate_blocks_limit_pushdown():
    """SELECT count(*) ... LIMIT 1: pushing the LIMIT would make the
    remote return ONE row and Spark would re-count over it — a silently
    wrong aggregate. Any non-keyword function call blocks the limit."""
    pd = extract_pushdown("SELECT count(*) FROM people@pg LIMIT 1", "people", "pg")
    assert pd.limit is None
    for fn in ("sum(age)", "avg(age)", "min(age)", "max(age)", "string_agg(name, ',')"):
        pd = extract_pushdown(
            f"SELECT {fn} FROM people@pg LIMIT 1", "people", "pg"
        )
        assert pd.limit is None, fn
    # scalar-call select lists also degrade (conservative, documented)
    pd = extract_pushdown("SELECT upper(name) FROM people@pg LIMIT 3", "people", "pg")
    assert pd.limit is None
    # plain projections keep the limit; keyword constructs (IN-lists,
    # CAST) are not mistaken for aggregate calls
    pd = extract_pushdown(
        "SELECT name FROM people@pg WHERE age IN (1, 2) LIMIT 3", "people", "pg"
    )
    assert pd.limit == 3


def test_keyword_named_remote_column_is_refetched():
    """A remote column named like a SQL keyword (date/first/row) never
    makes the candidate list; refine_pushdown must re-add it from the
    statement words or the registered view breaks the re-applied query."""
    pd = extract_pushdown("SELECT date, x FROM t@pg", "t", "pg")
    assert "date" not in (pd.columns or ())
    r = refine_pushdown(pd, ["date", "x", "y"])
    assert r.columns == ("date", "x")
    # keyword words NOT in the remote schema stay out
    r2 = refine_pushdown(pd, ["x", "y"])
    assert r2.columns == ("x",)


def test_sqlite_numeric_predicate_on_text_column_not_pushed(spark, tmp_path):
    """sqlite orders by type class (TEXT > any number): `v < 10` is
    false remotely for TEXT '5' while Spark casts and keeps the row —
    predicates over non-numeric-affinity columns must not be pushed."""
    import sqlite3

    from datafusion_server_spark.sources.jdbc import (
        DatabaseNamespace,
        _read_sqlite,
    )

    db = tmp_path / "aff.db"
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE t (id INTEGER, v TEXT)")
        conn.executemany(
            "INSERT INTO t VALUES (?, ?)", [(1, "5"), (2, "50"), (3, "500")]
        )
    ns = DatabaseNamespace(name="aff", url=str(db), kind="sqlite")
    pd = Pushdown(columns=("id", "v"), where="v < 10", limit=None)
    out = _read_sqlite(spark, ns, "t", pd)
    # all three rows come back; Spark re-applies the predicate itself
    assert out.count() == 3
    # numeric-affinity predicates still push (and stay correct)
    pd2 = Pushdown(columns=("id", "v"), where="id < 3", limit=2)
    out2 = _read_sqlite(spark, ns, "t", pd2)
    assert sorted(r["id"] for r in out2.collect()) == [1, 2]


def test_keyword_named_aggregates_block_limit_pushdown():
    """FIRST(x) / LAST(x) / ANY(x) are SQL keywords AND aggregates in
    some dialects: the r6 guard exempted the whole keyword set from the
    call blocker, so LIMIT pushed under them — the exact wrong-count
    class the guard exists to prevent. Only provably-non-aggregate
    keyword constructs (IN-lists, CAST) may keep the limit."""
    for fn in ("first(age)", "last(age)", "any(age)", "some(age)"):
        pd = extract_pushdown(
            f"SELECT {fn} FROM people@pg LIMIT 1", "people", "pg"
        )
        assert pd.limit is None, fn


def test_comments_read_as_whitespace():
    """A comment anywhere in the statement stops no clause: the filter and
    the limit still push, and no comment reaches the remote SQL."""
    for sql in (
        "SELECT a FROM t@pg WHERE x = 1 LIMIT 2 -- last",
        "SELECT a FROM t@pg WHERE x = 1 /* c */ LIMIT 2",
        "SELECT a FROM t@pg /* c */ WHERE x = 1 LIMIT /* c */ 2",
    ):
        pd = extract_pushdown(sql, "t", "pg")
        assert (pd.where, pd.limit) == ("x = 1", 2), sql
