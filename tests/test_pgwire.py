"""Native postgres wire-protocol client (A11 primary target, no-jar
fallback): verified against an in-process server that speaks the REAL
v3 protocol framing (length-prefixed messages, md5/cleartext auth
exchange, RowDescription/DataRow encoding) — so the client is tested at
the byte level, not against a mock of itself. The moment a live
postgres + jar exist, tests/test_jar_gated.py drives the same namespace
against the real thing.
"""

from __future__ import annotations

import hashlib
import socket
import socketserver
import struct
import threading

import pytest

from datafusion_server_spark.sources import jdbc, pgwire

USER, PASSWORD, DB = "svc", "sekret", "testdb"
SALT = b"\x01\x02\x03\x04"

# (name, oid, [row values in pg text format or None])
PEOPLE = [
    ("id", 20, ["1", "2"]),
    ("name", 25, ["alice", None]),
    ("score", 701, ["9.5", "7.25"]),
    ("active", 16, ["t", "f"]),
    ("born", 1082, ["1990-01-02", None]),
    ("blob", 17, ["\\x00ff10", None]),
    ("ratio", 1700, ["0.625", "1.5"]),
    ("ts", 1114, ["2024-01-02 03:04:05.5", None]),
]


def _msg(mtype: bytes, payload: bytes) -> bytes:
    return mtype + struct.pack(">I", len(payload) + 4) + payload


def _serve_cols(sql: str) -> list[tuple[str, int, list]]:
    """The column subset a (possibly pushdown-spliced) SELECT names —
    lets the fake server prove projection pushdown actually narrows the
    bytes on the wire, not just the SQL text."""
    import re as _re

    m = _re.match(r"SELECT\s+(.+?)\s+FROM\b", sql, _re.I | _re.S)
    sel = m.group(1) if m else "*"
    if "*" in sel:
        return PEOPLE
    wanted = _re.findall(r'"(\w+)"', sel) or _re.findall(r"\b(\w+)\b", sel)
    by_name = {name: (name, oid, vals) for name, oid, vals in PEOPLE}
    return [by_name[w] for w in wanted if w in by_name]


def _serve_limit(sql: str) -> int:
    import re as _re

    m = _re.search(r"\bLIMIT\s+(\d+)\s*$", sql, _re.I)
    return int(m.group(1)) if m else 2


def _row_description(cols=None) -> bytes:
    cols = PEOPLE if cols is None else cols
    body = struct.pack(">H", len(cols))
    for name, oid, _ in cols:
        body += name.encode() + b"\x00"
        body += struct.pack(">IHIhih", 0, 0, oid, -1, -1, 0)
    return _msg(b"T", body)


def _data_rows(cols=None, limit: int = 2) -> bytes:
    cols = PEOPLE if cols is None else cols
    out = b""
    for i in range(min(2, limit)):
        body = struct.pack(">H", len(cols))
        for _, _, vals in cols:
            v = vals[i]
            if v is None:
                body += struct.pack(">i", -1)
            else:
                raw = v.encode()
                body += struct.pack(">i", len(raw)) + raw
        out += _msg(b"D", body)
    return out


def _error(message: str) -> bytes:
    body = b"S" + b"ERROR\x00" + b"M" + message.encode() + b"\x00" + b"\x00"
    return _msg(b"E", body)


class _Handler(socketserver.BaseRequestHandler):
    def setup(self) -> None:
        self._buf = b""

    def _recv_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self.request.recv(65536)
            if not chunk:
                raise ConnectionError("client gone")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _read_untyped(self) -> bytes:
        (length,) = struct.unpack(">I", self._recv_exact(4))
        return self._recv_exact(length - 4)

    def _read_typed(self) -> tuple[bytes, bytes]:
        mtype = self._recv_exact(1)
        (length,) = struct.unpack(">I", self._recv_exact(4))
        return mtype, self._recv_exact(length - 4)

    def handle(self) -> None:
        try:
            body = self._read_untyped()
            (proto,) = struct.unpack_from(">I", body, 0)
            if proto == 80877103:  # SSLRequest -> refuse, expect retry
                self.request.sendall(b"N")
                body = self._read_untyped()
                (proto,) = struct.unpack_from(">I", body, 0)
            assert proto == pgwire.PROTOCOL_V3
            params = dict(
                zip(*(iter(body[4:].split(b"\x00")[:-2]),) * 2)
            )
            mode = self.server.auth_mode  # type: ignore[attr-defined]
            if mode == "md5":
                self.request.sendall(_msg(b"R", struct.pack(">I", 5) + SALT))
                _, pw_body = self._read_typed()
                inner = hashlib.md5(PASSWORD.encode() + USER.encode()).hexdigest()
                want = "md5" + hashlib.md5(inner.encode() + SALT).hexdigest()
                if pw_body.rstrip(b"\x00").decode() != want:
                    self.request.sendall(_error("password authentication failed"))
                    return
            elif mode == "cleartext":
                self.request.sendall(_msg(b"R", struct.pack(">I", 3)))
                _, pw_body = self._read_typed()
                if pw_body.rstrip(b"\x00").decode() != PASSWORD:
                    self.request.sendall(_error("password authentication failed"))
                    return
            elif mode == "scram":
                self.request.sendall(
                    _msg(b"R", struct.pack(">I", 10) + b"SCRAM-SHA-256\x00\x00")
                )
                return
            self.request.sendall(_msg(b"R", struct.pack(">I", 0)))  # Ok
            self.request.sendall(_msg(b"S", b"server_version\x0016.1\x00"))
            self.request.sendall(_msg(b"K", struct.pack(">II", 7, 42)))
            self.request.sendall(_msg(b"Z", b"I"))
            while True:
                mtype, body = self._read_typed()
                if mtype == b"X":
                    return
                if mtype != b"Q":
                    continue
                sql = body.rstrip(b"\x00").decode()
                self.server.received_sql.append(sql)  # type: ignore[attr-defined]
                if "people" in sql:
                    cols = _serve_cols(sql)
                    n = _serve_limit(sql)
                    self.request.sendall(
                        _row_description(cols)
                        + _data_rows(cols, n)
                        + _msg(b"C", f"SELECT {min(2, n)}\x00".encode())
                        + _msg(b"Z", b"I")
                    )
                else:
                    self.request.sendall(
                        _error(f'relation "{sql}" does not exist') + _msg(b"Z", b"I")
                    )
        except (ConnectionError, OSError):
            pass


@pytest.fixture()
def pg_server():
    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), _Handler)
    srv.auth_mode = "md5"  # type: ignore[attr-defined]
    srv.received_sql = []  # type: ignore[attr-defined]
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    yield srv
    srv.shutdown()
    srv.server_close()


def _connect(srv):
    return pgwire.connect(
        "127.0.0.1", srv.server_address[1], USER, DB, password=PASSWORD
    )


def test_md5_auth_and_typed_rows(pg_server):
    conn = _connect(pg_server)
    try:
        cols, rows = conn.simple_query("SELECT * FROM people")
    finally:
        conn.close()
    assert [c[0] for c in cols] == [n for n, _, _ in PEOPLE]
    import datetime

    assert rows[0] == (
        1, "alice", 9.5, True, datetime.date(1990, 1, 2), b"\x00\xff\x10",
        0.625, datetime.datetime(2024, 1, 2, 3, 4, 5, 500000),
    )
    assert rows[1][1] is None and rows[1][3] is False and rows[1][5] is None


def test_cleartext_auth(pg_server):
    pg_server.auth_mode = "cleartext"
    conn = _connect(pg_server)
    try:
        _, rows = conn.simple_query("SELECT * FROM people")
    finally:
        conn.close()
    assert len(rows) == 2


def test_scram_clear_error(pg_server):
    pg_server.auth_mode = "scram"
    with pytest.raises(pgwire.PgWireError, match="SCRAM"):
        _connect(pg_server)


def test_server_error_surfaces(pg_server):
    conn = _connect(pg_server)
    try:
        with pytest.raises(pgwire.PgWireError, match="does not exist"):
            conn.simple_query("SELECT * FROM nope")
        # the connection survives the error (ReadyForQuery drained)
        _, rows = conn.simple_query("SELECT * FROM people")
        assert len(rows) == 2
    finally:
        conn.close()


def test_namespace_fallback_e2e(spark, pg_server):
    """A configured postgres namespace executes END TO END without the
    JDBC jar: no postgres driver is on the classpath, so the native
    wire client reads, and the resulting DataFrame carries proper
    Spark types (reference table flow, table_provider.rs)."""
    port = pg_server.server_address[1]
    ns = jdbc.DatabaseNamespace(
        name="pgwire_ns",
        url=f"jdbc:postgresql://127.0.0.1:{port}/{DB}",
        user=USER,
        password=PASSWORD,
    )
    jdbc.configure_namespace(ns)
    df = jdbc.read_jdbc(spark, "people", "pgwire_ns")
    dtypes = dict(df.dtypes)
    assert dtypes["id"] == "bigint" and dtypes["score"] == "double"
    assert dtypes["active"] == "boolean" and dtypes["born"] == "date"
    assert dtypes["blob"] == "binary" and dtypes["ratio"] == "double"
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["name"] == "alice" and rows[2]["name"] is None
    assert rows[1]["blob"] == b"\x00\xff\x10"
    # and through the SQL pre-pass (table@namespace, raw dialect form)
    from datafusion_server_spark.functions.dialect import quote_table_at_namespace

    raw_sql = "SELECT COUNT(*) AS n FROM people@pgwire_ns"
    registered = jdbc.register_tables_from_sql(spark, raw_sql)
    assert registered == ["people@pgwire_ns"]
    assert spark.sql(quote_table_at_namespace(raw_sql)).collect()[0]["n"] == 2


def test_query_makes_no_failed_jdbc_read(spark, pg_server, connector_reads):
    """Without a postgres JDBC driver a ``table@ns`` query goes straight to
    the wire client: no ``spark.read.jdbc`` is tried and failed first."""
    from datafusion_server_spark.functions.dialect import quote_table_at_namespace

    jdbc.configure_namespace(
        jdbc.DatabaseNamespace(
            name="pgquery_ns",
            url=f"jdbc:postgresql://127.0.0.1:{pg_server.server_address[1]}/{DB}",
            user=USER,
            password=PASSWORD,
        )
    )
    sql = "SELECT id, name FROM people@pgquery_ns ORDER BY id"
    assert jdbc.register_tables_from_sql(spark, sql) == ["people@pgquery_ns"]
    rows = spark.sql(quote_table_at_namespace(sql)).collect()
    assert connector_reads == []
    assert [(r["id"], r["name"]) for r in rows] == [(1, "alice"), (2, None)]


def test_pushdown_splices_remote_sql(spark, pg_server):
    """The wire fallback pushes projection/filter/limit into the remote
    statement (reference table_provider.rs:93-124): byte-level assert on
    the SQL the server actually received, plus the narrowed DataFrame."""
    port = pg_server.server_address[1]
    jdbc.configure_namespace(
        jdbc.DatabaseNamespace(
            name="pgpush_ns",
            url=f"jdbc:postgresql://127.0.0.1:{port}/{DB}",
            user=USER,
            password=PASSWORD,
        )
    )
    sql = "SELECT name, score FROM people@pgpush_ns WHERE score > 8.0 LIMIT 1"
    pg_server.received_sql.clear()
    registered = jdbc.register_tables_from_sql(spark, sql)
    assert registered == ["people@pgpush_ns"]
    fetches = [s for s in pg_server.received_sql if "LIMIT 0" not in s]
    assert len(fetches) == 1
    fetch = fetches[0]
    assert '"name"' in fetch and '"score"' in fetch and '"id"' not in fetch
    assert "WHERE score > 8.0" in fetch and fetch.rstrip().endswith("LIMIT 1")
    # the registered view carries ONLY the projected columns
    view = spark.table("`people@pgpush_ns`")
    assert view.columns == ["name", "score"]
    from datafusion_server_spark.functions.dialect import quote_table_at_namespace

    rows = spark.sql(quote_table_at_namespace(sql)).collect()
    assert [tuple(r) for r in rows] == [("alice", 9.5)]


def test_pushdown_unsafe_predicates_degrade_to_full_fetch(spark, pg_server):
    """Function calls / subqueries in WHERE must NOT be spliced — the
    fallback degrades to projection-only, and Spark re-applies the
    original predicate for the correct result."""
    port = pg_server.server_address[1]
    jdbc.configure_namespace(
        jdbc.DatabaseNamespace(
            name="pgpush2_ns",
            url=f"jdbc:postgresql://127.0.0.1:{port}/{DB}",
            user=USER,
            password=PASSWORD,
        )
    )
    sql = "SELECT name FROM people@pgpush2_ns WHERE upper(name) = 'ALICE'"
    pg_server.received_sql.clear()
    jdbc.register_tables_from_sql(spark, sql)
    fetches = [s for s in pg_server.received_sql if "LIMIT 0" not in s]
    assert len(fetches) == 1 and "WHERE" not in fetches[0]
    assert '"name"' in fetches[0]
    from datafusion_server_spark.functions.dialect import quote_table_at_namespace

    rows = spark.sql(quote_table_at_namespace(sql)).collect()
    assert [r["name"] for r in rows] == ["alice"]


def test_pushdown_keeps_backslash_literals_local(spark, pg_server):
    """Spark reads ``\\'`` inside a literal as an escaped quote; Postgres
    reads a backslash that ends the literal. A WHERE holding one is never
    spliced into the remote statement, where the rest of the literal
    would run as SQL."""
    jdbc.configure_namespace(
        jdbc.DatabaseNamespace(
            name="pgdrop_ns",
            url=f"jdbc:postgresql://127.0.0.1:{pg_server.server_address[1]}/{DB}",
            user=USER,
            password=PASSWORD,
        )
    )
    sql = r"SELECT name FROM people@pgdrop_ns WHERE name = 'x\'; DROP TABLE people; --'"
    pg_server.received_sql.clear()
    assert jdbc.register_tables_from_sql(spark, sql) == ["people@pgdrop_ns"]
    assert pg_server.received_sql
    assert not any("DROP" in s or "WHERE" in s for s in pg_server.received_sql)
    from datafusion_server_spark.functions.dialect import quote_table_at_namespace

    assert spark.sql(quote_table_at_namespace(sql)).collect() == []
