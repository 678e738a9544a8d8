"""Comments and quoted names in the dialect pre-pass.

``transpile`` masks literals, quoted names and comments once
(``dialect.SqlMask``) before any rewrite, so text inside them is never
read as SQL, and restores them once at the end.
"""

from __future__ import annotations

import pytest

from datafusion_server_spark.functions.dialect import (
    SqlMask,
    find_table_at_namespace,
    transpile,
)


@pytest.fixture
def tv(spark):
    """A session with the 6-row view t(v, x, s)."""
    sess = spark.newSession()
    sess.createDataFrame(
        [(1, 1, "a"), (2, 1, "b"), (3, 2, "c"), (4, 3, "d"), (5, 3, "e"), (6, 3, "f")],
        "v bigint, x bigint, s string",
    ).createOrReplaceTempView("t")
    return sess


def _rows(sess, sql):
    return sorted(tuple(r) for r in sess.sql(transpile(sql)).collect())


def test_trailing_line_comment_after_groups_rewrite(tv):
    """The rewrite wraps the statement in a derived table; the restored
    comment ends in its newline, so the wrap's close is not commented out."""
    sql = "SELECT SUM(v) OVER (ORDER BY x GROUPS 1 PRECEDING) AS w FROM t"
    assert _rows(tv, sql + " -- note") == _rows(tv, sql)
    assert "-- note\n" in transpile(sql + " -- note")


def test_comments_inside_a_groups_window_spec(tv):
    sql = (
        "SELECT x, SUM(v) OVER (\n  ORDER BY x -- peers tie on x\n"
        "  GROUPS 1 PRECEDING /* one group back */) AS w FROM t"
    )
    assert _rows(tv, sql) == [(1, 3), (1, 3), (2, 6), (3, 18), (3, 18), (3, 18)]


def test_apostrophe_in_comment_opens_no_literal(tv):
    sql = "SELECT v -- don't\n, to_hex(v) AS h FROM t WHERE s <> 'z'"
    assert _rows(tv, sql) == [(v, format(v, "X")) for v in range(1, 7)]


def test_groups_words_in_comment_are_not_a_frame(tv):
    sql = "SELECT v AS x -- GROUPS 1 PRECEDING\nFROM t"
    assert transpile(sql) == sql
    assert _rows(tv, sql) == [(v,) for v in range(1, 7)]


@pytest.mark.parametrize(
    "sql",
    ["SELECT `groups 1 preceding` FROM t", "SELECT `to_hex(`(x) FROM t"],
)
def test_quoted_names_pass_through(sql):
    assert transpile(sql) == sql


def test_hint_survives_verbatim(tv):
    hint = "/*+ BROADCAST(t) */"
    plain = f"SELECT {hint} v, to_hex(v) AS h FROM t"
    assert transpile(plain) == f"SELECT {hint} v, hex(v) AS h FROM t"
    groups = f"SELECT {hint} SUM(v) OVER (ORDER BY x GROUPS 1 PRECEDING) AS w FROM t"
    assert hint in transpile(groups)
    assert _rows(tv, groups) == _rows(tv, groups.replace(hint + " ", ""))


def test_block_comment_with_parens_and_quotes(tv):
    sql = (
        "SELECT x, SUM(v) /* it's (x */ OVER (ORDER BY x GROUPS 1 PRECEDING) "
        "AS w FROM t"
    )
    assert _rows(tv, sql) == [(1, 3), (1, 3), (2, 6), (3, 18), (3, 18), (3, 18)]


def test_raw_literal_ends_at_its_first_quote(tv):
    """``r'C:\\'`` is a whole literal in Spark: its backslash escapes
    nothing, so the call after it is still rewritten."""
    sql = r"SELECT r'C:\' AS p, to_hex(v) AS h FROM t WHERE s <> 'z'"
    assert transpile(sql) == r"SELECT r'C:\' AS p, hex(v) AS h FROM t WHERE s <> 'z'"
    assert _rows(tv, sql) == [("C:\\", format(v, "X")) for v in range(1, 7)]


def test_bracketed_comments_nest(tv):
    sql = "SELECT /* a /* b */ don't */ v, to_hex(v) AS h FROM t WHERE s <> 'z'"
    assert transpile(sql) == sql.replace("to_hex", "hex")
    assert _rows(tv, sql) == [(v, format(v, "X")) for v in range(1, 7)]


def test_backslash_newline_continues_a_line_comment(tv):
    sql = "SELECT v -- see \\\n, to_hex(v) AS h\nFROM t"
    assert transpile(sql) == sql
    assert _rows(tv, sql) == [(v,) for v in range(1, 7)]


def test_table_at_namespace_in_comment_is_not_a_relation():
    assert find_table_at_namespace("SELECT 1 -- FROM orders@pg") == []
    assert find_table_at_namespace("SELECT 1 /* orders@pg */ FROM t@pg") == [("t", "pg")]


def test_mask_round_trip():
    sql = "SELECT 'a''b', \"c\"\"d\", `e``f` /* g */ FROM t -- h\nWHERE 1 = 1"
    mask = SqlMask(sql)
    assert not set("'\"`-/") & set(mask.text)
    assert mask.restore(mask.text) == sql
    # a line comment at the end of a splice comes back with its newline
    assert mask.restore(mask.text.replace("\nWHERE 1 = 1", ") x")).endswith("-- h\n) x")
    # a backslash escapes a quote, as in Spark's lexer
    assert SqlMask(r"SELECT 'it\'s (' AS a").text == "SELECT \x000\x00 AS a"
    # caller text shaped like a placeholder stays caller text
    assert transpile("SELECT \x000\x00, 'x' FROM t") == "SELECT \x000\x00, 'x' FROM t"
