"""External-database sources (reference A11/A12).

The reference implements a custom DataFusion TableProvider that pushes
projection/filter/limit into remote Postgres/MySQL SQL
(lib/src/data_source/database/table_provider.rs:46-170). Spark's JDBC
source already performs the same pushdowns natively, so this module is
thin: namespace config -> JDBC URL/properties, and the
``table@namespace`` SQL pre-pass of table_register.rs:19-75 (see
functions.dialect.quote_table_at_namespace).

Two namespace kinds:

- ``jdbc`` (postgres/mysql/...): Spark's distributed JDBC reader when
  the URL's driver is on the classpath (looked up once per process,
  ``registry.has_connector``), else the native wire client for
  postgres and mysql URLs;
- ``sqlite``: a REAL external database served by the stdlib ``sqlite3``
  module — the full table@namespace flow (namespace config, SQL
  pre-pass, query execution) runs live with no jar. Rows
  transfer through Arrow on the driver, the standard shape for
  smallish dimension/lookup tables living in an operational DB; big
  fact tables belong on the JDBC path with partitioned reads.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

_NAMESPACES: dict[str, "DatabaseNamespace"] = {}


@dataclass(frozen=True)
class DatabaseNamespace:
    """One configured external database (reference settings: namespaces)."""

    name: str
    url: str  # jdbc:postgresql://... / jdbc:mysql://... / sqlite file path
    user: str | None = None
    password: str | None = None
    max_connections: int = 10  # reference database_manager.rs default
    fetch_size: int = 1000  # reference table_provider.rs:44 BATCH_SIZE
    kind: str = "jdbc"  # "jdbc" | "sqlite"

    def properties(self) -> dict[str, str]:
        props = {"fetchsize": str(self.fetch_size)}
        if self.user:
            props["user"] = self.user
        if self.password:
            props["password"] = self.password
        return props


def configure_namespace(ns: DatabaseNamespace) -> None:
    _NAMESPACES[ns.name] = ns


def read_table(spark: SparkSession, ds) -> DataFrame:
    """Read ``table@namespace`` (or options.table/options.namespace)."""
    m = re.fullmatch(r"(?P<table>[\w.]+)@(?P<ns>[\w]+)", ds.location or ds.name)
    if not m:
        raise ValueError(f"database source needs 'table@namespace', got {ds.location!r}")
    return read_jdbc(spark, m.group("table"), m.group("ns"))


_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_.]*")


# --- remote pushdown (reference table_provider.rs:93-124) -----------------
#
# The reference TableProvider splices the scan's projection, filters, and
# limit into the remote SQL so Postgres/MySQL never ships unneeded data.
# Spark's jar-backed JDBC reader does that natively; the no-jar wire
# fallbacks below get the same treatment: a conservative static extractor
# reads the user's statement and, when it can PROVE the splice is safe,
# the remote query becomes SELECT <cols> FROM t [WHERE ...] [LIMIT n]
# instead of SELECT *. Spark re-applies every clause on the returned rows,
# so under-pushing is always correct; the extractor only ever narrows.


@dataclass(frozen=True)
class Pushdown:
    """Projection/filter/limit to splice into the remote scan SQL."""

    columns: tuple[str, ...] | None = None  # None = all columns
    where: str | None = None  # pre-validated conjunctive predicate text
    limit: int | None = None
    # every identifier word in the (string-protected) statement, lowered —
    # lets refine_pushdown re-add a remote column whose name collides with
    # a SQL keyword (the candidate scan skips keywords; without this, a
    # remote column literally named "date"/"first"/"row" would silently
    # drop from the projection and break the re-applied query upstream).
    referenced_words: frozenset[str] | None = None

    def is_noop(self) -> bool:
        return self.columns is None and self.where is None and self.limit is None


def build_remote_sql(table: str, pushdown: Pushdown | None, *, quote: str) -> str:
    """Render the remote scan statement. ``quote`` is the identifier quote
    character of the remote dialect ('"' for postgres, '`' for mysql)."""
    qualified = ".".join(f"{quote}{part}{quote}" for part in table.split("."))
    pd = pushdown or Pushdown()
    cols = (
        ", ".join(f"{quote}{c}{quote}" for c in pd.columns)
        if pd.columns
        else "*"
    )
    sql = f"SELECT {cols} FROM {qualified}"
    if pd.where:
        sql += f" WHERE {pd.where}"
    if pd.limit is not None:
        sql += f" LIMIT {int(pd.limit)}"
    return sql


_SQL_KEYWORDS = frozenset(
    """select from where group by having order limit offset as distinct all
    and or not in is null true false between like ilike escape case when
    then else end join inner left right full outer cross on using union
    intersect except exists any some cast asc desc nulls first last with
    recursive over partition rows range unbounded preceding following
    current row filter values interval date timestamp time""".split()
)

# keyword constructs followed by '(' that can NEVER be an aggregate call
# in any dialect — the only exemptions from the limit-pushdown call
# blocker (FIRST/LAST/ANY/SOME are keywords AND aggregates in some
# dialects, so the full keyword set must not be exempted).
_NON_AGGREGATE_CALLS = frozenset(
    {"in", "not", "and", "or", "cast", "between", "is", "when", "then", "else"}
)

_CLAUSE_STOP_RE = re.compile(
    r"\b(GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|OFFSET|UNION|INTERSECT|EXCEPT|WINDOW)\b",
    re.I,
)

# tokens allowed inside a pushable WHERE: bare/alias-qualified identifiers,
# numeric literals, protected-string placeholders, comparison operators,
# boolean connectives, parens, commas (IN lists).
_SAFE_WHERE_TOKEN_RE = re.compile(
    r"\s*(?:"
    r"\x00\d+\x00"  # protected string literal
    r"|-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"  # number (unary minus ok)
    r"|[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?"  # identifier (optionally aliased)
    r"|<=|>=|<>|!=|=|<|>"
    r"|\(|\)|,"
    r")\s*"
)

_SAFE_WHERE_WORDS = frozenset(
    "and or not in is null true false between like".split()
)


# A literal means the same to Spark and to the remote engine only when it
# is a plain '...' with no backslash: Spark reads ``\'`` as an escaped
# quote, Postgres and SQLite as a backslash that closes the literal, so
# the remote engine would see different SQL (a second statement, a
# comment eating the rest). Prefixed literals (``r'..'``, ``X'..'``) differ
# across dialects too.
_PLAIN_LITERAL = re.compile(r"'(?:[^'\\]|'')*'")


def _literals_are_plain(clause: str, mask) -> bool:
    """True iff every literal placeholder in the masked ``clause`` stands
    for a plain literal that no remote dialect lexes differently."""
    return all(
        not prefix and _PLAIN_LITERAL.fullmatch(mask.lexemes[int(i)])
        for prefix, i in re.findall(r"(\w?)\x00(\d+)\x00", clause)
    )


def _where_is_pushable(clause: str) -> bool:
    """True iff the (string-protected) WHERE text is built only from plain
    column references, literals, comparison operators, and AND/OR/NOT/IN/
    BETWEEN/LIKE/IS NULL — no function calls, subqueries, casts, or
    arithmetic, so it evaluates identically on the remote engine."""
    pos = 0
    while pos < len(clause):
        m = _SAFE_WHERE_TOKEN_RE.match(clause, pos)
        if not m or m.end() == pos:
            return False
        tok = m.group(0).strip()
        # bare words must be a known-safe keyword or a column name; a word
        # directly followed by '(' is a function call — reject.
        if re.fullmatch(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?", tok):
            nxt = clause[m.end() : m.end() + 1]
            if nxt == "(" and tok.lower() not in ("in",):
                return False
        pos = m.end()
    return True


def extract_pushdown(sql: str, table: str, namespace: str) -> Pushdown:
    """Best-effort static pushdown extraction for one ``table@namespace``
    relation in a statement. Splices are emitted only when provably safe:

    - projection: the statement has no ``*`` and every identifier it
      references (minus keywords, function names, and AS-aliases) is
      treated as a needed remote column;
    - filter: the statement is a single SELECT whose sole relation is this
      table, and the WHERE text passes the safe-expression check above;
    - limit: additionally no GROUP BY / ORDER BY / HAVING / DISTINCT /
      OVER / aggregation can reorder or recount rows, and any WHERE was
      fully pushed.

    Under-pushing is always correct — Spark re-applies the original
    statement against the registered view — so every uncertain case simply
    degrades to fetching more than strictly needed, never to a wrong
    result.
    """
    from datafusion_server_spark.functions.dialect import SqlMask

    mask = SqlMask(sql)
    protected = mask.code()
    rel = re.escape(f"{table}@{namespace}")

    single_select = len(re.findall(r"\bSELECT\b", protected, re.I)) == 1
    sole_relation = len(re.findall(rel, protected)) == 1

    # locate FROM <rel> [AS alias] once; both projection and filter use it
    m_from = re.search(
        rf"\bFROM\s+{rel}(?P<aliaspart>\s+(?:AS\s+)?(?P<alias>[A-Za-z_]\w*))?",
        protected,
        re.I,
    )
    alias = None
    from_end = m_from.end() if m_from else -1
    if m_from:
        alias = m_from.group("alias")
        if alias and alias.lower() in _SQL_KEYWORDS:
            alias = None
            from_end = m_from.end() - len(m_from.group("aliaspart"))

    # -- projection -------------------------------------------------------
    # Candidate column names: every bare identifier that is not a keyword,
    # a function call, or part of the relation token. The set is a
    # SUPERSET of the truly referenced columns (select-list aliases and the
    # relation alias stay in); the wire readers intersect it against the
    # remote schema (refine_pushdown), so a stray word only ever
    # over-fetches one column — never breaks the query. Quoted identifiers
    # (backtick / double quote, masked as \x01n\x01) disable projection
    # pushdown outright: we can't tokenize them reliably across dialects.
    columns: tuple[str, ...] | None = None
    if "*" not in protected and "\x01" not in protected:
        candidates: list[str] = []
        for m in re.finditer(r"\b([A-Za-z_]\w*)\b(\s*\()?", protected):
            word, call = m.group(1), m.group(2)
            if call or word.lower() in _SQL_KEYWORDS:
                continue
            after = protected[m.end(1) : m.end(1) + 1]
            before = protected[max(0, m.start(1) - 1)] if m.start(1) else ""
            if after in ("@", ".") or before in ("@", "\x00"):
                # relation-name parts and t.-qualifier tokens; a trailing
                # `.col` token (before == '.') is the column itself — keep.
                continue
            if word not in candidates:
                candidates.append(word)
        if candidates:
            columns = tuple(candidates)

    # -- filter -----------------------------------------------------------
    where: str | None = None
    if single_select and sole_relation and m_from:
        tail = protected[from_end:]
        nxt = tail.lstrip()[:1]
        joined = bool(re.match(r"\s*(,|JOIN|INNER|LEFT|RIGHT|FULL|CROSS|NATURAL)\b", tail, re.I))
        if not joined and nxt != ",":
            m_where = re.search(r"\bWHERE\b(?P<clause>.*)", tail, re.I | re.S)
            if m_where:
                clause = m_where.group("clause")
                stop = _CLAUSE_STOP_RE.search(clause)
                if stop:
                    clause = clause[: stop.start()]
                clause = clause.strip().rstrip(";").strip()
                if (
                    clause
                    and _where_is_pushable(clause)
                    and _literals_are_plain(clause, mask)
                ):
                    if alias:
                        clause = re.sub(
                            rf"\b{re.escape(alias)}\.", "", clause
                        )
                    where = mask.restore(clause)

    # -- limit ------------------------------------------------------------
    limit: int | None = None
    if single_select and sole_relation and m_from:
        has_where = re.search(r"\bWHERE\b", protected, re.I)
        reorders = re.search(
            r"\b(GROUP\s+BY|ORDER\s+BY|HAVING|DISTINCT|OVER|OFFSET)\b", protected, re.I
        )
        # a scalar aggregate with no GROUP BY recounts rows: pushing
        # LIMIT 1 under SELECT count(*) would count ONE remote row. Any
        # identifier followed by '(' blocks limit pushdown UNLESS it is
        # one of the few keyword constructs that can never name an
        # aggregate in any dialect (IN-lists, CAST). Exempting ALL of
        # _SQL_KEYWORDS re-opened the wrong-count class for dialects
        # with keyword-NAMED aggregates (FIRST(x), LAST(x), ANY(x)) —
        # under-pushing is always correct, so everything else blocks.
        calls = any(
            m.group(1).lower() not in _NON_AGGREGATE_CALLS
            for m in re.finditer(r"\b([A-Za-z_]\w*)\s*\(", protected)
        )
        m_limit = re.search(r"\bLIMIT\s+(\d+)\s*;?\s*$", protected, re.I)
        if m_limit and not reorders and not calls and (
            where is not None or not has_where
        ):
            limit = int(m_limit.group(1))

    words = frozenset(
        m.group(1).lower() for m in re.finditer(r"\b([A-Za-z_]\w*)\b", protected)
    )
    return Pushdown(
        columns=columns, where=where, limit=limit, referenced_words=words
    )


def _where_columns(where: str) -> set[str]:
    """The lowercased column names a pushed WHERE clause references."""
    from datafusion_server_spark.functions.dialect import SqlMask

    return {
        m.group(1).lower()
        for m in re.finditer(r"\b([A-Za-z_]\w*)\b", SqlMask(where).text)
    } - _SAFE_WHERE_WORDS


def refine_pushdown(
    pd: Pushdown | None,
    remote_columns: list[str],
    *,
    allow_string_predicates: bool = True,
) -> Pushdown:
    """Reconcile a statically-extracted pushdown against the REAL remote
    schema (from a ``LIMIT 0`` probe):

    - projection becomes the candidate-set ∩ remote-columns, in remote
      order (a candidate that was really a select-list alias just drops
      out; a remote column the statement never names is not fetched);
    - the filter survives only if every identifier it references is a
      remote column (otherwise it referenced a computed alias — unknowable
      remotely);
    - the limit survives only if the filter survived or there was none
      (a remote LIMIT before an unapplied WHERE would return the wrong n);
    - ``allow_string_predicates=False`` (MySQL) drops filters containing
      string literals: case-insensitive collations make ``!=``/``NOT
      LIKE`` on strings match FEWER rows remotely than Spark would — the
      one pushdown direction that loses rows. Numeric predicates are
      collation-free and always safe.
    """
    pd = pd or Pushdown()
    lower = {c.lower(): c for c in remote_columns}
    columns: tuple[str, ...] | None = None
    if pd.columns is not None:
        wanted = {c.lower() for c in pd.columns}
        # a remote column named like a SQL keyword (date/first/row/...)
        # never makes the candidate list — re-add it whenever the word
        # appears anywhere in the statement, else the registered view
        # would lack a referenced column and the re-applied query breaks
        # (over-fetching one column is the documented safe direction).
        if pd.referenced_words is not None:
            wanted |= {
                w
                for w in pd.referenced_words
                if w in _SQL_KEYWORDS and w in lower
            }
        hit = tuple(c for c in remote_columns if c.lower() in wanted)
        if hit and len(hit) < len(remote_columns):
            columns = hit
    where = pd.where
    if where is not None:
        if not allow_string_predicates and "'" in where:
            where = None
        elif not _where_columns(where) <= set(lower):
            where = None
    limit = pd.limit
    if limit is not None and pd.where is not None and where is None:
        limit = None
    return Pushdown(columns=columns, where=where, limit=limit)


def _sqlite_spark_type(decl: str) -> str:
    decl = (decl or "").upper()
    if "INT" in decl:
        return "bigint"
    if decl in ("REAL", "FLOAT", "DOUBLE") or "REAL" in decl or "FLOA" in decl or "DOUB" in decl:
        return "double"
    if "BLOB" in decl:
        return "binary"
    return "string"


def _read_sqlite(
    spark: SparkSession,
    ns: DatabaseNamespace,
    table: str,
    pushdown: "Pushdown | None" = None,
) -> DataFrame:
    """stdlib-sqlite table read with an EXPLICIT schema from the declared
    column affinities — type inference from values would crash on
    all-NULL columns. One connection, always closed ('with' on a sqlite3
    connection only manages the transaction, not the handle). Projection/
    filter/limit splice into the remote statement like the wire paths."""
    import contextlib
    import sqlite3

    if not _IDENT_RE.fullmatch(table):
        raise ValueError(f"invalid table identifier: {table!r}")
    with contextlib.closing(sqlite3.connect(ns.url)) as conn:
        decls = [
            (r[1], (r[2] or ""))
            for r in conn.execute(f'PRAGMA table_info("{table}")')
        ]
        if not decls:
            raise ValueError(f"no such sqlite table: {table!r} in {ns.url}")
        # sqlite LIKE is ASCII-case-insensitive — same lost-rows hazard as
        # MySQL collations for negated string predicates; don't push them.
        pd = refine_pushdown(
            pushdown, [c for c, _ in decls], allow_string_predicates=False
        )
        # sqlite orders by TYPE CLASS before value (any TEXT > any
        # number), so a numeric predicate over a TEXT-affinity column is
        # false remotely for a value like '5' while Spark casts the
        # string and keeps the row. Only push predicates whose columns
        # all have INTEGER/REAL affinity per the PRAGMA decls; a dropped
        # WHERE takes the limit with it (remote LIMIT before an
        # unapplied WHERE returns the wrong n).
        if pd.where is not None:
            numeric = {
                c.lower()
                for c, t in decls
                if _sqlite_spark_type(t) in ("bigint", "double")
            }
            if not _where_columns(pd.where) <= numeric:
                pd = Pushdown(columns=pd.columns, where=None, limit=None)
        if pd.columns:
            decls = [(c, t) for c, t in decls if c in set(pd.columns)]
        rows = [tuple(r) for r in conn.execute(build_remote_sql(table, pd, quote='"'))]
    ddl = ", ".join(f"{c} {_sqlite_spark_type(t)}" for c, t in decls)
    return spark.createDataFrame(rows, schema=ddl)


_PG_URL_RE = re.compile(
    r"jdbc:postgresql://(?P<host>[^:/]+)(?::(?P<port>\d+))?/(?P<db>[^?/]*)"
)
_MYSQL_URL_RE = re.compile(
    r"jdbc:mysql://(?P<host>[^:/]+)(?::(?P<port>\d+))?/(?P<db>[^?/]*)"
)


def _read_mysql_wire(
    spark: SparkSession,
    ns: DatabaseNamespace,
    table: str,
    pushdown: "Pushdown | None" = None,
) -> DataFrame:
    """Native-protocol mysql read (sources/mysqlwire.py) — A11's second
    reference target, same no-jar fallback contract as _read_pg_wire.
    Pushdown mirrors the reference TableProvider splice
    (table_provider.rs:93-124): a LIMIT 0 probe resolves the remote
    schema, then projection/filter/limit are spliced into the fetch.
    String predicates are NOT pushed to MySQL (case-insensitive
    collations could drop rows Spark would keep — see refine_pushdown)."""
    from datafusion_server_spark.sources import mysqlwire

    m = _MYSQL_URL_RE.fullmatch(ns.url)
    if not m:
        raise ValueError(f"cannot parse mysql URL {ns.url!r}")
    if not _IDENT_RE.fullmatch(table):
        raise ValueError(f"invalid table identifier: {table!r}")
    conn = mysqlwire.connect(
        host=m.group("host"),
        port=int(m.group("port") or 3306),
        user=ns.user or "root",
        database=m.group("db") or "",
        password=ns.password,
    )
    try:
        probe_cols, _ = conn.query(build_remote_sql(table, Pushdown(limit=0), quote="`"))
        pd = refine_pushdown(
            pushdown, [c[0] for c in probe_cols], allow_string_predicates=False
        )
        cols, rows = conn.query(build_remote_sql(table, pd, quote="`"))
    finally:
        conn.close()
    if not cols:
        raise ValueError(f"query against {table!r} returned no columns")
    ddl = ", ".join(
        f"{name} {mysqlwire.spark_type_for_column(tc, fl)}" for name, tc, fl in cols
    )
    return spark.createDataFrame(rows, schema=ddl)


def _read_pg_wire(
    spark: SparkSession,
    ns: DatabaseNamespace,
    table: str,
    pushdown: "Pushdown | None" = None,
) -> DataFrame:
    """Native-protocol postgres read (sources/pgwire.py) — the same
    transport the reference uses (rust postgres crate,
    table_provider.rs:46-170), here as the no-jar fallback. Eager
    driver-side transfer like the sqlite namespace; the jar-backed JDBC
    path remains the distributed/partitioned option. Pushdown mirrors the
    reference TableProvider splice (table_provider.rs:93-124): a LIMIT 0
    probe resolves the remote schema, then projection/filter/limit are
    spliced into the fetch so only needed data crosses the wire."""
    from datafusion_server_spark.sources import pgwire

    m = _PG_URL_RE.fullmatch(ns.url)
    if not m:
        raise ValueError(f"cannot parse postgres URL {ns.url!r}")
    if not _IDENT_RE.fullmatch(table):
        raise ValueError(f"invalid table identifier: {table!r}")
    conn = pgwire.connect(
        host=m.group("host"),
        port=int(m.group("port") or 5432),
        user=ns.user or "postgres",
        database=m.group("db") or (ns.user or "postgres"),
        password=ns.password,
    )
    try:
        probe_cols, _ = conn.simple_query(
            build_remote_sql(table, Pushdown(limit=0), quote='"')
        )
        pd = refine_pushdown(pushdown, [c[0] for c in probe_cols])
        cols, rows = conn.simple_query(build_remote_sql(table, pd, quote='"'))
    finally:
        conn.close()
    if not cols:
        raise ValueError(f"query against {table!r} returned no row description")
    ddl = ", ".join(
        f"{name} {pgwire.spark_type_for_oid(oid)}" for name, oid in cols
    )
    return spark.createDataFrame(rows, schema=ddl)


def read_jdbc(
    spark: SparkSession,
    table: str,
    namespace: str,
    pushdown: "Pushdown | None" = None,
) -> DataFrame:
    ns = _NAMESPACES.get(namespace)
    if ns is None:
        raise ValueError(f"unknown database namespace: {namespace!r}")
    if ns.kind == "sqlite":
        return _read_sqlite(spark, ns, table, pushdown)
    wire_fallbacks = {"jdbc:postgresql:": _read_pg_wire, "jdbc:mysql:": _read_mysql_wire}
    fallback = next(
        (fn for prefix, fn in wire_fallbacks.items() if ns.url.startswith(prefix)),
        None,
    )
    from datafusion_server_spark.sources.registry import has_connector

    # Spark's distributed JDBC reader when the driver is on the classpath
    # (native pushdown, partitioned reads — `pushdown` is ignored there on
    # purpose); else the native wire-protocol client, so a configured
    # postgres/mysql namespace still executes.
    if ns.kind == "jdbc" and fallback is not None and not has_connector(spark, ns.url):
        return fallback(spark, ns, table, pushdown)
    return spark.read.jdbc(ns.url, table, properties=ns.properties())


def register_tables_from_sql(spark: SparkSession, sql: str) -> list[str]:
    """The reference's pre-execution pass (table_register.rs:19-75): find
    ``table@namespace`` relations in the SQL, register each as a JDBC temp
    view under its literal (backtick-quoted) name. Returns registered names."""
    from datafusion_server_spark.functions.dialect import find_table_at_namespace

    registered = []
    for table, namespace in find_table_at_namespace(sql):
        name = f"{table}@{namespace}"
        df = read_jdbc(spark, table, namespace, extract_pushdown(sql, table, namespace))
        # '@' needs the quoted identifier form — the bare name fails
        # Spark's view-name validation (the transpiler quotes the same
        # way on the query side, quote_table_at_namespace)
        df.createOrReplaceTempView(f"`{name}`")
        registered.append(name)
    return registered
