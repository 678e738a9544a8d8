"""Native MySQL wire-protocol client (A11 second target): byte-level
verification against an in-process server speaking the real
client/server protocol framing (3-byte LE length + sequence id,
handshake v10, mysql_native_password scramble verification, COM_QUERY
text resultsets) — the mirror of tests/test_pgwire.py.
"""

from __future__ import annotations

import datetime
import hashlib
import socketserver
import struct
import threading

import pytest

from datafusion_server_spark.sources import jdbc, mysqlwire

USER, PASSWORD, DB = "svc", "sekret", "appdb"
NONCE = bytes(range(1, 21))  # 20-byte scramble

# (name, type_code, flags, [row values as wire text / None])
PEOPLE = [
    ("id", 0x08, 0, ["1", "2"]),  # LONGLONG
    ("name", 0xFD, 0, ["alice", None]),  # VAR_STRING text
    ("score", 0x05, 0, ["9.5", "7.25"]),  # DOUBLE
    ("born", 0x0A, 0, ["1990-01-02", None]),  # DATE
    ("ts", 0x0C, 0, ["2024-01-02 03:04:05.5", None]),  # DATETIME
    ("ratio", 0xF6, 0, ["0.625", "1.5"]),  # NEWDECIMAL
    ("blob", 0xFC, mysqlwire.BINARY_FLAG, [b"\x00\xff\x10", None]),  # BLOB
]


def _lenenc(data: bytes) -> bytes:
    assert len(data) < 0xFB
    return bytes([len(data)]) + data


def _serve_cols(sql: str) -> list:
    """Column subset a pushdown-spliced SELECT names (backtick-quoted),
    so projection pushdown is proven at the wire level."""
    import re as _re

    m = _re.match(r"SELECT\s+(.+?)\s+FROM\b", sql, _re.I | _re.S)
    sel = m.group(1) if m else "*"
    if "*" in sel:
        return PEOPLE
    wanted = _re.findall(r"`(\w+)`", sel) or _re.findall(r"\b(\w+)\b", sel)
    by_name = {p[0]: p for p in PEOPLE}
    return [by_name[w] for w in wanted if w in by_name]


def _serve_limit(sql: str) -> int:
    import re as _re

    m = _re.search(r"\bLIMIT\s+(\d+)\s*$", sql, _re.I)
    return int(m.group(1)) if m else 2


def _column_def(name: str, type_code: int, flags: int) -> bytes:
    body = b""
    for s in (b"def", DB.encode(), b"people", b"people", name.encode(), name.encode()):
        body += _lenenc(s)
    body += b"\x0c" + struct.pack("<HIBHB", 0x21, 255, type_code, flags, 0) + b"\x00\x00"
    return body


class _Handler(socketserver.BaseRequestHandler):
    def setup(self) -> None:
        self._buf = b""
        self._seq = 0

    def _recv_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self.request.recv(65536)
            if not chunk:
                raise ConnectionError
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _read_packet(self) -> bytes:
        head = self._recv_exact(4)
        length = int.from_bytes(head[:3], "little")
        self._seq = (head[3] + 1) & 0xFF
        return self._recv_exact(length)

    def _send(self, payload: bytes) -> None:
        self.request.sendall(
            len(payload).to_bytes(3, "little") + bytes([self._seq]) + payload
        )
        self._seq = (self._seq + 1) & 0xFF

    def _err(self, code: int, msg: str) -> bytes:
        return b"\xff" + code.to_bytes(2, "little") + b"#HY000" + msg.encode()

    def handle(self) -> None:
        try:
            # handshake v10: 8-byte auth data part 1 + 13-byte part 2
            hs = bytes([10]) + b"8.0.fake\x00" + struct.pack("<I", 7)
            hs += NONCE[:8] + b"\x00"
            caps = mysqlwire._CAPS
            hs += struct.pack("<H", caps & 0xFFFF) + bytes([0x21])
            hs += struct.pack("<H", 2) + struct.pack("<H", (caps >> 16) & 0xFFFF)
            hs += bytes([21]) + b"\x00" * 10
            hs += NONCE[8:] + b"\x00"
            hs += b"mysql_native_password\x00"
            self._seq = 0
            self._send(hs)
            resp = self._read_packet()
            # parse username + auth response from HandshakeResponse41
            pos = 4 + 4 + 1 + 23
            end = resp.index(b"\x00", pos)
            user = resp[pos:end].decode()
            pos = end + 1
            alen = resp[pos]
            auth = resp[pos + 1 : pos + 1 + alen]
            want = mysqlwire._native_password_scramble(PASSWORD, NONCE)
            if self.server.auth_mode == "switch":  # type: ignore[attr-defined]
                self._send(b"\xfe" + b"mysql_native_password\x00" + NONCE + b"\x00")
                auth = self._read_packet()
            if user != USER or bytes(auth) != want:
                self._send(self._err(1045, f"Access denied for user '{user}'"))
                return
            self._send(b"\x00\x00\x00\x02\x00\x00\x00")  # OK
            while True:
                self._seq = 0
                pkt = self._read_packet()
                if pkt[:1] == b"\x01":  # COM_QUIT
                    return
                if pkt[:1] != b"\x03":
                    continue
                self._seq = 1
                sql = pkt[1:].decode()
                self.server.received_sql.append(sql)  # type: ignore[attr-defined]
                if "people" not in sql:
                    self._send(self._err(1146, f"Table '{sql}' doesn't exist"))
                    continue
                cols = _serve_cols(sql)
                nrows = _serve_limit(sql)
                self._send(bytes([len(cols)]))  # column count
                for name, tc, fl, _ in cols:
                    self._send(_column_def(name, tc, fl))
                self._send(b"\xfe\x00\x00\x02\x00")  # EOF
                for i in range(min(2, nrows)):
                    row = b""
                    for _, _, _, vals in cols:
                        v = vals[i]
                        if v is None:
                            row += b"\xfb"
                        else:
                            raw = v if isinstance(v, bytes) else v.encode()
                            row += _lenenc(raw)
                    self._send(row)
                self._send(b"\xfe\x00\x00\x02\x00")  # EOF
        except (ConnectionError, OSError):
            pass


@pytest.fixture()
def my_server():
    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), _Handler)
    srv.auth_mode = "direct"  # type: ignore[attr-defined]
    srv.received_sql = []  # type: ignore[attr-defined]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield srv
    srv.shutdown()
    srv.server_close()


def _connect(srv):
    return mysqlwire.connect(
        "127.0.0.1", srv.server_address[1], USER, DB, password=PASSWORD
    )


def test_native_password_and_typed_rows(my_server):
    conn = _connect(my_server)
    try:
        cols, rows = conn.query("SELECT * FROM people")
    finally:
        conn.close()
    assert [c[0] for c in cols] == [p[0] for p in PEOPLE]
    assert rows[0] == (
        1, "alice", 9.5, datetime.date(1990, 1, 2),
        datetime.datetime(2024, 1, 2, 3, 4, 5, 500000), 0.625, b"\x00\xff\x10",
    )
    assert rows[1][1] is None and rows[1][6] is None


def test_auth_switch_replay(my_server):
    my_server.auth_mode = "switch"
    conn = _connect(my_server)
    try:
        _, rows = conn.query("SELECT * FROM people")
    finally:
        conn.close()
    assert len(rows) == 2


def test_wrong_password_clear_error(my_server):
    with pytest.raises(mysqlwire.MySqlWireError, match="Access denied"):
        mysqlwire.connect(
            "127.0.0.1", my_server.server_address[1], USER, DB, password="nope"
        )


def test_scramble_matches_reference_algorithm():
    """SHA1(pw) XOR SHA1(nonce + SHA1(SHA1(pw))) — spelled out
    independently of the implementation."""
    pw, nonce = "abc", bytes(20)
    h1 = hashlib.sha1(b"abc").digest()
    want = bytes(
        a ^ b
        for a, b in zip(h1, hashlib.sha1(nonce + hashlib.sha1(h1).digest()).digest())
    )
    assert mysqlwire._native_password_scramble(pw, nonce) == want


def test_namespace_fallback_e2e(spark, my_server):
    """A configured mysql namespace executes end-to-end without the JDBC
    jar via the native wire client, with proper Spark types."""
    port = my_server.server_address[1]
    ns = jdbc.DatabaseNamespace(
        name="mywire_ns",
        url=f"jdbc:mysql://127.0.0.1:{port}/{DB}",
        user=USER,
        password=PASSWORD,
    )
    jdbc.configure_namespace(ns)
    df = jdbc.read_jdbc(spark, "people", "mywire_ns")
    dtypes = dict(df.dtypes)
    assert dtypes["id"] == "bigint" and dtypes["score"] == "double"
    assert dtypes["born"] == "date" and dtypes["blob"] == "binary"
    assert dtypes["ratio"] == "double" and dtypes["ts"] == "timestamp"
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["name"] == "alice" and rows[2]["name"] is None
    assert rows[1]["blob"] == b"\x00\xff\x10"


def test_query_makes_no_failed_jdbc_read(spark, my_server, connector_reads):
    """Without a mysql JDBC driver a ``table@ns`` query goes straight to
    the wire client: no ``spark.read.jdbc`` is tried and failed first."""
    from datafusion_server_spark.functions.dialect import quote_table_at_namespace

    jdbc.configure_namespace(
        jdbc.DatabaseNamespace(
            name="myquery_ns",
            url=f"jdbc:mysql://127.0.0.1:{my_server.server_address[1]}/{DB}",
            user=USER,
            password=PASSWORD,
        )
    )
    sql = "SELECT id, name FROM people@myquery_ns ORDER BY id"
    assert jdbc.register_tables_from_sql(spark, sql) == ["people@myquery_ns"]
    rows = spark.sql(quote_table_at_namespace(sql)).collect()
    assert connector_reads == []
    assert [(r["id"], r["name"]) for r in rows] == [(1, "alice"), (2, None)]


def test_pushdown_splices_numeric_predicates_only(spark, my_server):
    """MySQL pushdown: projection + numeric filter + limit are spliced
    into the remote SQL, but STRING predicates are not (case-insensitive
    collations could drop rows Spark would keep) — byte-level assert on
    the received statements."""
    port = my_server.server_address[1]
    jdbc.configure_namespace(
        jdbc.DatabaseNamespace(
            name="mypush_ns",
            url=f"jdbc:mysql://127.0.0.1:{port}/{DB}",
            user=USER,
            password=PASSWORD,
        )
    )
    sql = "SELECT name, score FROM people@mypush_ns WHERE score > 8.0 LIMIT 1"
    my_server.received_sql.clear()
    jdbc.register_tables_from_sql(spark, sql)
    fetches = [s for s in my_server.received_sql if "LIMIT 0" not in s]
    assert len(fetches) == 1
    fetch = fetches[0]
    assert "`name`" in fetch and "`score`" in fetch and "`id`" not in fetch
    assert "WHERE score > 8.0" in fetch and fetch.rstrip().endswith("LIMIT 1")
    from datafusion_server_spark.functions.dialect import quote_table_at_namespace

    rows = spark.sql(quote_table_at_namespace(sql)).collect()
    assert [tuple(r) for r in rows] == [("alice", 9.5)]

    # string predicate: NOT pushed (and the dependent LIMIT drops with it)
    sql2 = "SELECT name FROM people@mypush_ns WHERE name LIKE 'a%' LIMIT 1"
    my_server.received_sql.clear()
    jdbc.register_tables_from_sql(spark, sql2)
    fetches = [s for s in my_server.received_sql if "LIMIT 0" not in s]
    assert len(fetches) == 1
    assert "WHERE" not in fetches[0] and "LIMIT" not in fetches[0]
    rows = spark.sql(quote_table_at_namespace(sql2)).collect()
    assert [r["name"] for r in rows] == ["alice"]
