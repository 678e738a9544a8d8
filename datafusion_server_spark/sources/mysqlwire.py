"""Pure-Python MySQL client/server-protocol client — the no-jar
fallback for A11's second target.

The reference's external-database provider also targets MySQL natively
(lib/src/data_source/database/table_provider.rs, mysql dtype mapping
dtype_mysql.rs). Like ``pgwire.py`` this implements just enough of the
public protocol (dev.mysql.com "Client/Server Protocol") for live reads
when Spark's JDBC path has no driver jar:

- framing: 3-byte little-endian payload length + 1-byte sequence id;
- handshake v10 -> HandshakeResponse41 (CLIENT_PROTOCOL_41 |
  CLIENT_SECURE_CONNECTION | CLIENT_PLUGIN_AUTH | CLIENT_CONNECT_WITH_DB),
  ``mysql_native_password`` scramble (SHA1(pw) XOR SHA1(nonce +
  SHA1(SHA1(pw)))) + AuthSwitchRequest replay; caching_sha2 and TLS-only
  servers fail with a clear message naming the fix;
- COM_QUERY text resultset: lenenc-prefixed column definitions,
  text-format rows (0xFB = NULL), EOF-terminated (CLIENT_DEPRECATE_EOF
  deliberately not negotiated);
- type mapping by column-definition type code + BINARY flag to Python /
  Spark values (ints, float/double, decimal->float, date, datetime,
  blobs vs text).

Driver-side transfer, same contract and caveats as the sqlite/pgwire
namespaces: dimension-table shape; the jar path stays the
distributed/partitioned option.
"""

from __future__ import annotations

import datetime
import hashlib
import socket
import struct

CLIENT_CONNECT_WITH_DB = 0x00000008
CLIENT_PROTOCOL_41 = 0x00000200
CLIENT_SECURE_CONNECTION = 0x00008000
CLIENT_PLUGIN_AUTH = 0x00080000

_CAPS = (
    CLIENT_CONNECT_WITH_DB
    | CLIENT_PROTOCOL_41
    | CLIENT_SECURE_CONNECTION
    | CLIENT_PLUGIN_AUTH
)

BINARY_FLAG = 0x0080


class MySqlWireError(RuntimeError):
    pass


def _native_password_scramble(password: str, nonce: bytes) -> bytes:
    if not password:
        return b""
    h1 = hashlib.sha1(password.encode()).digest()
    h2 = hashlib.sha1(h1).digest()
    h3 = hashlib.sha1(nonce + h2).digest()
    return bytes(a ^ b for a, b in zip(h1, h3))


def _lenenc_int(buf: bytes, pos: int) -> tuple[int, int]:
    first = buf[pos]
    if first < 0xFB:
        return first, pos + 1
    if first == 0xFC:
        return int.from_bytes(buf[pos + 1 : pos + 3], "little"), pos + 3
    if first == 0xFD:
        return int.from_bytes(buf[pos + 1 : pos + 4], "little"), pos + 4
    if first == 0xFE:
        return int.from_bytes(buf[pos + 1 : pos + 9], "little"), pos + 9
    raise MySqlWireError(f"unexpected lenenc prefix 0x{first:02x}")


def _lenenc_bytes(buf: bytes, pos: int) -> tuple[bytes | None, int]:
    if buf[pos] == 0xFB:  # NULL in text resultset rows
        return None, pos + 1
    n, pos = _lenenc_int(buf, pos)
    return buf[pos : pos + n], pos + n


# column-definition type codes -> (python decoder, spark type)
def _my_date(v: str) -> datetime.date:
    return datetime.date.fromisoformat(v)


def _my_datetime(v: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(v.replace(" ", "T"))


_TYPES: dict[int, tuple] = {
    0x01: (int, "smallint"),  # TINY
    0x02: (int, "smallint"),  # SHORT
    0x03: (int, "int"),  # LONG
    0x08: (int, "bigint"),  # LONGLONG
    0x09: (int, "int"),  # INT24
    0x0D: (int, "int"),  # YEAR
    0x04: (float, "float"),  # FLOAT
    0x05: (float, "double"),  # DOUBLE
    0x00: (float, "double"),  # DECIMAL
    0xF6: (float, "double"),  # NEWDECIMAL
    0x0A: (_my_date, "date"),  # DATE
    0x0C: (_my_datetime, "timestamp"),  # DATETIME
    0x07: (_my_datetime, "timestamp"),  # TIMESTAMP
    0x10: (lambda v: v, "binary"),  # BIT (raw)
}
_BLOB_CODES = {0xF9, 0xFA, 0xFB, 0xFC}


def spark_type_for_column(type_code: int, flags: int) -> str:
    if type_code in _TYPES:
        return _TYPES[type_code][1]
    if type_code in _BLOB_CODES:
        return "binary" if flags & BINARY_FLAG else "string"
    return "string"


def _decode_value(raw: bytes | None, type_code: int, flags: int):
    if raw is None:
        return None
    if type_code in _TYPES:
        return _TYPES[type_code][0](raw.decode() if type_code != 0x10 else raw)
    if type_code in _BLOB_CODES and flags & BINARY_FLAG:
        return bytes(raw)
    return raw.decode()


class MySqlConnection:
    def __init__(self, sock: socket.socket):
        self._sock = sock
        self._buf = b""
        self._seq = 0

    def _recv_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise MySqlWireError("server closed connection")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _read_packet(self) -> bytes:
        head = self._recv_exact(4)
        length = int.from_bytes(head[:3], "little")
        self._seq = (head[3] + 1) & 0xFF
        return self._recv_exact(length)

    def _send_packet(self, payload: bytes) -> None:
        self._sock.sendall(
            len(payload).to_bytes(3, "little") + bytes([self._seq]) + payload
        )
        self._seq = (self._seq + 1) & 0xFF

    # -- handshake --------------------------------------------------------

    def _handshake(self, user: str, password: str, database: str) -> None:
        pkt = self._read_packet()
        if pkt[0] == 0xFF:
            raise MySqlWireError(_err_text(pkt))
        if pkt[0] != 10:
            raise MySqlWireError(f"unsupported handshake version {pkt[0]}")
        pos = 1
        end = pkt.index(b"\x00", pos)
        pos = end + 1  # server version
        pos += 4  # thread id
        nonce = pkt[pos : pos + 8]
        pos += 8 + 1  # auth-data-1 + filler
        pos += 2 + 1 + 2 + 2  # caps-low, charset, status, caps-high
        auth_len = pkt[pos]
        pos += 1 + 10  # auth data len + reserved
        more = max(13, auth_len - 8)
        nonce += pkt[pos : pos + more].rstrip(b"\x00")
        pos += more
        plugin = "mysql_native_password"
        if pos < len(pkt):
            plugin = pkt[pos:].split(b"\x00")[0].decode() or plugin
        if plugin not in ("mysql_native_password", ""):
            raise MySqlWireError(
                f"auth plugin {plugin!r} is not implemented in the pure-"
                "Python client; install the mysql JDBC jar or create the "
                "user WITH mysql_native_password"
            )
        scramble = _native_password_scramble(password, nonce[:20])
        resp = struct.pack("<IIB", _CAPS, 1 << 24, 0x21) + b"\x00" * 23
        resp += user.encode() + b"\x00"
        resp += bytes([len(scramble)]) + scramble
        resp += database.encode() + b"\x00"
        resp += b"mysql_native_password\x00"
        self._send_packet(resp)
        pkt = self._read_packet()
        if pkt[0] == 0xFE:  # AuthSwitchRequest -> replay for named plugin
            plugin = pkt[1:].split(b"\x00")[0].decode()
            if plugin != "mysql_native_password":
                raise MySqlWireError(
                    f"auth switch to {plugin!r} unsupported; see above"
                )
            new_nonce = pkt[1:].split(b"\x00", 1)[1].rstrip(b"\x00")
            self._send_packet(_native_password_scramble(password, new_nonce[:20]))
            pkt = self._read_packet()
        if pkt[0] == 0xFF:
            raise MySqlWireError(_err_text(pkt))
        if pkt[0] != 0x00:
            raise MySqlWireError(f"unexpected auth reply 0x{pkt[0]:02x}")

    # -- query ------------------------------------------------------------

    def query(self, sql: str) -> tuple[list[tuple[str, int, int]], list[tuple]]:
        """COM_QUERY text protocol; returns (columns [(name, type_code,
        flags)], decoded rows)."""
        self._seq = 0
        self._send_packet(b"\x03" + sql.encode())
        pkt = self._read_packet()
        if pkt[0] == 0xFF:
            raise MySqlWireError(_err_text(pkt))
        if pkt[0] == 0x00:  # OK (no resultset — DDL/DML)
            return [], []
        ncols, _ = _lenenc_int(pkt, 0)
        columns: list[tuple[str, int, int]] = []
        for _ in range(ncols):
            cd = self._read_packet()
            pos = 0
            vals = []
            for _ in range(6):  # catalog schema table org_table name org_name
                v, pos = _lenenc_bytes(cd, pos)
                vals.append(v)
            pos += 1  # fixed-length fields marker (0x0c)
            # charset(2) col_length(4) type(1) flags(2) decimals(1) fill(2)
            type_code = cd[pos + 6]
            (flags,) = struct.unpack_from("<H", cd, pos + 7)
            columns.append(((vals[4] or b"?").decode(), type_code, flags))
        pkt = self._read_packet()
        if pkt[0] != 0xFE:  # EOF after column definitions
            raise MySqlWireError("expected EOF after column definitions")
        rows: list[tuple] = []
        while True:
            pkt = self._read_packet()
            if pkt[0] == 0xFE and len(pkt) < 9:  # EOF — resultset done
                return columns, rows
            if pkt[0] == 0xFF:
                raise MySqlWireError(_err_text(pkt))
            pos = 0
            row = []
            for _, type_code, flags in columns:
                raw, pos = _lenenc_bytes(pkt, pos)
                row.append(_decode_value(raw, type_code, flags))
            rows.append(tuple(row))

    def close(self) -> None:
        try:
            self._seq = 0
            self._send_packet(b"\x01")  # COM_QUIT
        except OSError:
            pass
        self._sock.close()


def _err_text(pkt: bytes) -> str:
    code = int.from_bytes(pkt[1:3], "little")
    msg = pkt[3:]
    if msg[:1] == b"#":  # SQL-state marker
        msg = msg[6:]
    return f"mysql error {code}: {msg.decode(errors='replace')}"


def connect(
    host: str,
    port: int,
    user: str,
    database: str,
    password: str | None = None,
    timeout: float = 10.0,
) -> MySqlConnection:
    sock = socket.create_connection((host, port), timeout=timeout)
    conn = MySqlConnection(sock)
    try:
        conn._handshake(user, password or "", database)
    except BaseException:
        sock.close()  # no fd leak on handshake failure
        raise
    return conn
