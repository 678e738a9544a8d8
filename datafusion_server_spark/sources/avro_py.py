"""Pure-stdlib Avro Object Container File (OCF) decode — the no-jar
fallback for A8 (reference reads Avro via DataFusion's reader,
lib/src/data_source/object_store/reader.rs:114-134).

The primary path remains ``spark.read.format("avro")`` (distributed,
pushdown-capable) whenever the spark-avro jar is on the classpath; this
module exists so Avro ingestion still works — and is testable — in
environments without the jar (this container has neither spark-avro nor
fastavro/avro-python). Implemented straight from the public Avro 1.11
spec (container file + binary encoding sections):

- OCF: magic ``Obj\\x01`` → file metadata map (``avro.schema``,
  ``avro.codec``) → 16-byte sync marker → blocks of
  ``(count, byte-size, data, sync)``;
- binary encoding: zigzag-varint int/long, little-endian IEEE
  float/double, length-prefixed bytes/string, records in field order,
  arrays/maps as blocked sequences, unions as branch-index + value,
  enums as index, fixed as raw bytes;
- codecs: ``null``, ``deflate`` (stdlib zlib, raw stream), and
  ``snappy`` — raw-format snappy decode implemented from the public
  format description (varint preamble + literal/copy tags), with the
  Avro-spec 4-byte big-endian CRC32-of-uncompressed check.

Decode is driver-side by design: it feeds the same eager in-memory
registration path the reference uses for ingested sources. At data
scale, install the jar and the lazy distributed path takes over.

A symmetric minimal encoder (``write_ocf``) exists so tests can build
real .avro fixtures without any third-party library.
"""

from __future__ import annotations

import io
import json
import struct
import zlib
from typing import Any, BinaryIO

MAGIC = b"Obj\x01"


# -- binary primitive decode -------------------------------------------------


def _read_long(buf: BinaryIO) -> int:
    """Zigzag varint (spec: binary encoding / int and long)."""
    shift = 0
    accum = 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated varint")
        byte = b[0]
        accum |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (accum >> 1) ^ -(accum & 1)


def _read_bytes(buf: BinaryIO) -> bytes:
    n = _read_long(buf)
    data = buf.read(n)
    if len(data) != n:
        raise EOFError("truncated bytes")
    return data


def _decode(schema: Any, buf: BinaryIO, named: dict[str, Any]) -> Any:
    """Decode one datum of ``schema`` from ``buf``."""
    if isinstance(schema, str):
        if schema in named:
            return _decode(named[schema], buf, named)
        t = schema
        if t == "null":
            return None
        if t == "boolean":
            return buf.read(1) == b"\x01"
        if t in ("int", "long"):
            return _read_long(buf)
        if t == "float":
            return struct.unpack("<f", buf.read(4))[0]
        if t == "double":
            return struct.unpack("<d", buf.read(8))[0]
        if t == "bytes":
            return _read_bytes(buf)
        if t == "string":
            return _read_bytes(buf).decode("utf-8")
        raise ValueError(f"unknown avro type: {t!r}")
    if isinstance(schema, list):  # union: branch index then value
        idx = _read_long(buf)
        return _decode(schema[idx], buf, named)
    t = schema["type"]
    if t == "record":
        named[schema["name"]] = schema
        return {f["name"]: _decode(f["type"], buf, named) for f in schema["fields"]}
    if t == "enum":
        named[schema["name"]] = schema
        return schema["symbols"][_read_long(buf)]
    if t == "fixed":
        named[schema["name"]] = schema
        return buf.read(schema["size"])
    if t == "array":
        out = []
        while True:
            n = _read_long(buf)
            if n == 0:
                break
            if n < 0:  # negative count ⇒ byte-size follows (skippable form)
                _read_long(buf)
                n = -n
            out.extend(_decode(schema["items"], buf, named) for _ in range(n))
        return out
    if t == "map":
        out = {}
        while True:
            n = _read_long(buf)
            if n == 0:
                break
            if n < 0:
                _read_long(buf)
                n = -n
            for _ in range(n):
                key = _read_bytes(buf).decode("utf-8")
                out[key] = _decode(schema["values"], buf, named)
        return out
    # logical types and other wrapped primitives decode as their base type
    return _decode(t, buf, named)


# -- snappy block format (pure stdlib) ---------------------------------------
#
# The raw (non-framed) snappy format Avro's "snappy" codec uses, from the
# public format description (github.com/google/snappy format_description.txt):
# a plain varint preamble with the uncompressed length, then a tag stream of
# literals and back-references. Avro appends a 4-byte BIG-ENDIAN CRC32 of the
# UNCOMPRESSED data to each block (Avro spec, "snappy" codec).


def _snappy_decompress(data: bytes) -> bytes:
    """Decompress raw-format snappy (stdlib only)."""
    # preamble: uncompressed length, plain (non-zigzag) LE base-128 varint
    pos = 0
    length = 0
    shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("snappy: truncated length varint")
        byte = data[pos]
        pos += 1
        length |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    out = bytearray()
    n = len(data)
    while pos < n:
        tag = data[pos]
        pos += 1
        kind = tag & 3
        if kind == 0:  # literal
            ln = tag >> 2
            if ln >= 60:  # 60..63 ⇒ that many extra LE length bytes
                extra = ln - 59
                ln = int.from_bytes(data[pos : pos + extra], "little")
                pos += extra
            ln += 1
            out += data[pos : pos + ln]
            pos += ln
        else:  # copy: 1/2/4-byte offset forms
            if kind == 1:
                ln = ((tag >> 2) & 0x7) + 4
                offset = ((tag >> 5) << 8) | data[pos]
                pos += 1
            elif kind == 2:
                ln = (tag >> 2) + 1
                offset = int.from_bytes(data[pos : pos + 2], "little")
                pos += 2
            else:
                ln = (tag >> 2) + 1
                offset = int.from_bytes(data[pos : pos + 4], "little")
                pos += 4
            if offset == 0 or offset > len(out):
                raise ValueError("snappy: invalid copy offset")
            start = len(out) - offset
            # copies may overlap their own output (offset < ln ⇒ repeat)
            for i in range(ln):
                out.append(out[start + i])
    if len(out) != length:
        raise ValueError(
            f"snappy: declared length {length} != decoded {len(out)}"
        )
    return bytes(out)


def _snappy_compress(data: bytes) -> bytes:
    """Minimal VALID snappy encoder: one literal covering the whole block
    (the format permits it; no back-references emitted). Real decoders —
    including ``_snappy_decompress`` — accept it; used for fixtures."""
    out = io.BytesIO()
    length = len(data)
    while True:  # plain varint preamble
        b = length & 0x7F
        length >>= 7
        out.write(bytes([b | 0x80]) if length else bytes([b]))
        if not length:
            break
    if not data:  # empty input: preamble only, no literal tag
        return out.getvalue()
    ln = len(data) - 1
    if ln < 60:
        out.write(bytes([ln << 2]))
    else:
        extra = (ln.bit_length() + 7) // 8
        out.write(bytes([(59 + extra) << 2]))
        out.write(ln.to_bytes(extra, "little"))
    out.write(data)
    return out.getvalue()


# -- container file ----------------------------------------------------------


def read_ocf(data: bytes) -> tuple[dict, list[Any]]:
    """Decode a whole OCF byte string -> (schema, records)."""
    buf = io.BytesIO(data)
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta_schema = {"type": "map", "values": "bytes"}
    meta = _decode(meta_schema, buf, {})
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate", "snappy"):
        raise ValueError(
            f"avro codec {codec!r} needs a third-party library; install "
            "spark-avro (jar) or re-encode with codec null/deflate/snappy"
        )
    sync = buf.read(16)
    records: list[Any] = []
    named: dict[str, Any] = {}
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, io.SEEK_CUR)
        count = _read_long(buf)
        block = _read_bytes_exact(buf, _read_long(buf))
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec == "snappy":
            # snappy data + 4-byte BE CRC32 of the UNCOMPRESSED bytes
            crc = int.from_bytes(block[-4:], "big")
            block = _snappy_decompress(block[:-4])
            if zlib.crc32(block) & 0xFFFFFFFF != crc:
                raise ValueError("avro snappy block CRC mismatch")
        bbuf = io.BytesIO(block)
        records.extend(_decode(schema, bbuf, named) for _ in range(count))
        if buf.read(16) != sync:
            raise ValueError("avro block sync marker mismatch")
    return schema, records


def _read_bytes_exact(buf: BinaryIO, n: int) -> bytes:
    data = buf.read(n)
    if len(data) != n:
        raise EOFError("truncated block")
    return data


# -- minimal encoder (test fixtures; symmetric subset) ------------------------


def _write_long(out: io.BytesIO, v: int) -> None:
    v = (v << 1) ^ (v >> 63)
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            break


def _union_branch_matches(branch: Any, value: Any, named: dict[str, Any]) -> bool:
    """Does ``value``'s Python type encode under ``branch``?"""
    if branch == "null":
        return value is None
    if value is None:
        return False
    if isinstance(branch, str):
        if branch in named:  # named-type reference (record/enum/fixed)
            return _union_branch_matches(named[branch], value, named)
        if branch == "boolean":
            return isinstance(value, bool)
        if branch in ("int", "long"):
            return isinstance(value, int) and not isinstance(value, bool)
        if branch in ("float", "double"):
            return isinstance(value, float)
        if branch == "string":
            return isinstance(value, str)
        if branch == "bytes":
            return isinstance(value, (bytes, bytearray))
        return False
    t = branch.get("type")
    if t in ("record", "map"):
        return isinstance(value, dict)
    if t == "array":
        return isinstance(value, list)
    if t == "enum":
        return isinstance(value, str)
    if t == "fixed":
        return isinstance(value, (bytes, bytearray))
    return _union_branch_matches(t, value, named)  # wrapped primitive / logical


def _encode(
    schema: Any, value: Any, out: io.BytesIO, named: dict[str, Any] | None = None
) -> None:
    named = named if named is not None else {}
    if isinstance(schema, str):
        if schema in named:  # named-type reference
            _encode(named[schema], value, out, named)
            return
        t = schema
        if t == "null":
            return
        if t == "boolean":
            out.write(b"\x01" if value else b"\x00")
        elif t in ("int", "long"):
            _write_long(out, int(value))
        elif t == "float":
            out.write(struct.pack("<f", value))
        elif t == "double":
            out.write(struct.pack("<d", value))
        elif t in ("bytes", "string"):
            raw = value.encode("utf-8") if isinstance(value, str) else value
            _write_long(out, len(raw))
            out.write(raw)
        else:
            raise ValueError(f"encoder does not support type {t!r}")
        return
    if isinstance(schema, list):  # union: pick the branch matching the
        # value's PYTHON TYPE (not merely null vs non-null — a
        # ["null","string","long"] union must route a long to "long")
        for idx, branch in enumerate(schema):
            if _union_branch_matches(branch, value, named):
                _write_long(out, idx)
                _encode(branch, value, out, named)
                return
        # second pass: Avro-spec numeric promotion (int -> float/double)
        if isinstance(value, int) and not isinstance(value, bool):
            for idx, branch in enumerate(schema):
                if branch in ("float", "double"):
                    _write_long(out, idx)
                    _encode(branch, float(value), out, named)
                    return
        raise ValueError(
            f"no union branch in {schema!r} matches value of type "
            f"{type(value).__name__}"
        )
    t = schema["type"]
    if t in ("record", "enum", "fixed") and schema.get("name"):
        named[schema["name"]] = schema  # register for later references
    if t == "record":
        for f in schema["fields"]:
            _encode(f["type"], value[f["name"]], out, named)
    elif t == "array":
        if value:
            _write_long(out, len(value))
            for item in value:
                _encode(schema["items"], item, out, named)
        _write_long(out, 0)
    elif t == "map":
        if value:
            _write_long(out, len(value))
            for k, v in value.items():
                _encode("string", k, out, named)
                _encode(schema["values"], v, out, named)
        _write_long(out, 0)
    elif t == "enum":
        _write_long(out, schema["symbols"].index(value))
    elif t == "fixed":
        if len(value) != schema["size"]:
            raise ValueError("fixed value length mismatch")
        out.write(value)
    else:
        _encode(t, value, out, named)


def write_ocf(schema: dict, records: list[Any], codec: str = "null") -> bytes:
    """Encode records into an OCF byte string (test-fixture helper)."""
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": codec.encode(),
    }
    _write_long(out, len(meta))
    for k, v in meta.items():
        _encode("string", k, out)
        _encode("bytes", v, out)
    _write_long(out, 0)
    sync = b"\x00\x01\x02\x03\x04\x05\x06\x07\x08\x09\x0a\x0b\x0c\x0d\x0e\x0f"
    out.write(sync)
    body = io.BytesIO()
    named: dict[str, Any] = {}
    for rec in records:
        _encode(schema, rec, body, named)
    block = body.getvalue()
    if codec == "deflate":
        co = zlib.compressobj(wbits=-15)
        block = co.compress(block) + co.flush()
    elif codec == "snappy":
        crc = (zlib.crc32(block) & 0xFFFFFFFF).to_bytes(4, "big")
        block = _snappy_compress(block) + crc
    elif codec != "null":
        raise ValueError(f"unsupported codec {codec!r}")
    _write_long(out, len(records))
    _write_long(out, len(block))
    out.write(block)
    out.write(sync)
    return out.getvalue()


# -- Spark bridge ------------------------------------------------------------

_AVRO_SPARK_TYPES = {
    "null": "string",
    "boolean": "boolean",
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "bytes": "binary",
    "string": "string",
}


def _spark_type(schema: Any) -> str:
    if isinstance(schema, str):
        return _AVRO_SPARK_TYPES.get(schema, "string")
    if isinstance(schema, list):  # nullable union -> the non-null branch
        branches = [b for b in schema if b != "null"]
        return _spark_type(branches[0]) if len(branches) == 1 else "string"
    t = schema["type"]
    if t == "array":
        return f"array<{_spark_type(schema['items'])}>"
    if t == "map":
        return f"map<string,{_spark_type(schema['values'])}>"
    if t == "record":
        fields = ", ".join(
            f"{f['name']}: {_spark_type(f['type'])}" for f in schema["fields"]
        )
        return f"struct<{fields}>"
    if t == "enum":
        return "string"
    if t == "fixed":
        return "binary"
    return _spark_type(t)


def read_avro(spark, path: str):
    """The Avro file at ``path`` -> DataFrame via the pure-Python decoder.
    Schema maps from the embedded Avro schema (record of fields ->
    columns)."""
    with open(path, "rb") as fh:
        schema, records = read_ocf(fh.read())
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        raise ValueError("top-level avro schema must be a record")
    ddl = ", ".join(f"{f['name']} {_spark_type(f['type'])}" for f in schema["fields"])
    rows = [tuple(r[f["name"]] for f in schema["fields"]) for r in records]
    return spark.createDataFrame(rows, schema=ddl)
