from __future__ import annotations

import json

import pyarrow as pa
import pytest

from datafusion_server_spark.session import ServerSession
from datafusion_server_spark.sources import plugins, readers
from datafusion_server_spark.sources.readers import ReadOptions
from datafusion_server_spark.sources.registry import DataSource, register

CSV = b"id,name,score\n1,alice,9.5\n2,bob,7.25\n3,carol,8.0\n"
JSON_ARRAY = json.dumps(
    [{"id": 1, "tags": ["a", "b"], "meta": {"k": 1}}, {"id": 2, "tags": [], "meta": {"k": 2}}]
).encode()
NDJSON = b'{"id": 1, "v": "x"}\n{"id": 2, "v": "y"}\n'


def test_read_csv_infer(spark):
    df = readers.read_csv(spark, readers.stage_bytes(CSV, ".csv"), ReadOptions())
    rows = {r["name"]: r for r in (row.asDict() for row in df.collect())}
    assert rows["alice"]["id"] == 1
    assert rows["bob"]["score"] == 7.25


def test_read_csv_explicit_schema(spark):
    opts = ReadOptions(
        schema_json={
            "fields": [
                {"name": "id", "dataType": "Int64"},
                {"name": "name", "dataType": "String"},
                {"name": "score", "dataType": "Float64"},
            ]
        }
    )
    df = readers.read_csv(spark, readers.stage_bytes(CSV, ".csv"), opts)
    assert dict(df.dtypes) == {"id": "bigint", "name": "string", "score": "double"}


def test_read_csv_delimiter_no_header(spark):
    opts = ReadOptions(has_header=False, delimiter=";")
    df = readers.read_csv(spark, readers.stage_bytes(b"1;x\n2;y\n", ".csv"), opts)
    assert df.count() == 2


def test_read_json_array_nested(spark):
    df = readers.read_json_array(spark, readers.stage_bytes(JSON_ARRAY, ".json"), ReadOptions())
    assert df.count() == 2
    row = df.orderBy("id").collect()[0]
    assert row["tags"] == ["a", "b"]
    assert row["meta"]["k"] == 1


def test_read_json_with_jsonpath(spark):
    doc = json.dumps({"data": {"items": [{"a": 1}, {"a": 2}, {"a": 3}]}}).encode()
    path = readers.stage_bytes(doc, ".json")
    df = readers.read_json_array(spark, path, ReadOptions(json_path="$.data.items[*]"))
    assert sorted(r["a"] for r in df.collect()) == [1, 2, 3]


def test_read_ndjson(spark):
    df = readers.read_ndjson(spark, readers.stage_bytes(NDJSON, ".ndjson"), ReadOptions())
    assert df.count() == 2


def test_registry_csv_roundtrip(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_bytes(CSV)
    ds = DataSource.from_json({"format": "csv", "name": "reg_csv_t", "location": str(p)})
    register(ServerSession("reg", spark), ds)
    assert spark.sql("SELECT COUNT(*) AS n FROM reg_csv_t").collect()[0]["n"] == 3


def test_registry_unsupported():
    with pytest.raises(Exception):
        DataSource.from_json({"format": "", "name": "x"})


def test_connector_plugin(spark):
    def fake_connector(fmt, authority, path, schema, **kwargs):
        assert kwargs.get("system_version")
        return pa.RecordBatch.from_pydict({"x": [1, 2, 3], "who": [authority] * 3})

    plugins.register_connector("fake", fake_connector)
    try:
        ds = DataSource.from_json(
            {"format": "json", "name": "plugged", "location": "fake://hostish/p"}
        )
        register(ServerSession("reg", spark), ds)
        rows = spark.sql("SELECT * FROM plugged ORDER BY x").collect()
        assert [r["x"] for r in rows] == [1, 2, 3]
        assert rows[0]["who"] == "hostish"
    finally:
        plugins.unregister_connector("fake")


def test_writers_json_array_file(spark, tmp_path):
    from datafusion_server_spark.sources.writers import save_json_array_file

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    out = tmp_path / "out.json"
    save_json_array_file(df, str(out))
    data = json.loads(out.read_text())
    assert sorted(data, key=lambda r: r["id"]) == [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]
    with pytest.raises(FileExistsError):
        save_json_array_file(df, str(out))


def test_writers_object_store(spark, tmp_path):
    from datafusion_server_spark.sources.writers import write_object_store

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    out = str(tmp_path / "csvdir")
    write_object_store(df, out, "csv", delimiter="|")
    back = spark.read.option("header", "true").option("sep", "|").csv(out)
    assert back.count() == 2


def test_avro_gated_clear_error(spark, tmp_path):
    """No spark-avro jar AND no local file: the registry must surface a
    clear DataSourceError, not a raw classpath stack trace."""
    from datafusion_server_spark.sources.registry import DataSource, DataSourceError, load_data_source

    ds = DataSource.from_json({"format": "avro", "name": "av", "location": str(tmp_path / "x.avro")})
    with pytest.raises(DataSourceError, match="avro reader unavailable"):
        load_data_source(spark, ds)


AVRO_SCHEMA = {
    "type": "record",
    "name": "Person",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "score", "type": "double"},
        {"name": "nick", "type": ["null", "string"]},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "int"}},
    ],
}
AVRO_RECORDS = [
    {"id": 1, "name": "alice", "score": 9.5, "nick": "al", "tags": ["x", "y"], "attrs": {"a": 1}},
    {"id": 2, "name": "bob", "score": 7.25, "nick": None, "tags": [], "attrs": {}},
    {"id": 3, "name": "carol", "score": 8.0, "nick": "cc", "tags": ["z"], "attrs": {"b": 2, "c": 3}},
]


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy"])
def test_avro_ocf_roundtrip(codec):
    """Pure-stdlib OCF encode/decode round-trip (A8 fallback), all three
    supported codecs (snappy: raw-format decode + BE CRC32 check)."""
    from datafusion_server_spark.sources import avro_py

    data = avro_py.write_ocf(AVRO_SCHEMA, AVRO_RECORDS, codec=codec)
    schema, records = avro_py.read_ocf(data)
    assert schema["name"] == "Person"
    assert records == AVRO_RECORDS


def test_snappy_raw_format_with_copies():
    """_snappy_decompress handles the full tag surface — literals plus
    1/2-byte-offset copies including overlapping (run-length) copies —
    not just the literal-only output of our own compressor."""
    from datafusion_server_spark.sources.avro_py import _snappy_decompress

    # "abcd" + copy(offset=4, len=4) -> "abcdabcd"
    data = bytes([8]) + bytes([3 << 2]) + b"abcd" + bytes([0b000_001, 4])
    assert _snappy_decompress(data) == b"abcdabcd"
    # overlapping copy: "ab" + copy(offset=2, len=6) -> "abababab"
    data = bytes([8]) + bytes([1 << 2]) + b"ab" + bytes([(2 << 2) | 1, 2])
    assert _snappy_decompress(data) == b"abababab"
    # 2-byte-offset copy form (tag&3==2)
    data = bytes([8]) + bytes([3 << 2]) + b"wxyz" + bytes([(3 << 2) | 2, 4, 0])
    assert _snappy_decompress(data) == b"wxyzwxyz"
    # declared-length mismatch must raise
    with pytest.raises(ValueError, match="declared length"):
        _snappy_decompress(bytes([9]) + bytes([3 << 2]) + b"abcd")


def test_avro_snappy_crc_mismatch_rejected():
    from datafusion_server_spark.sources import avro_py

    data = bytearray(avro_py.write_ocf(AVRO_SCHEMA, AVRO_RECORDS, codec="snappy"))
    # corrupt the CRC: flip a bit in the 4 bytes before the trailing sync
    data[-17] ^= 0x01
    with pytest.raises(ValueError, match="CRC"):
        avro_py.read_ocf(bytes(data))


def test_avro_union_multibranch_type_routing():
    """write_ocf routes union values by PYTHON TYPE: a long and a string
    in a ["null","string","long"] union each hit the right branch."""
    from datafusion_server_spark.sources import avro_py

    schema = {
        "type": "record",
        "name": "U",
        "fields": [{"name": "v", "type": ["null", "string", "long"]}],
    }
    records = [{"v": None}, {"v": "txt"}, {"v": 42}]
    _, decoded = avro_py.read_ocf(avro_py.write_ocf(schema, records))
    assert decoded == records
    with pytest.raises(ValueError, match="no union branch"):
        avro_py.write_ocf(schema, [{"v": 1.5}])


def test_avro_union_numeric_promotion_and_named_refs():
    """Two union shapes strict type-routing must still handle: a Python
    int under a ["null","double"] union (Avro-spec numeric promotion)
    and a NAMED-TYPE REFERENCE branch (["null","Sig"]) resolving through
    the encoder's named registry."""
    from datafusion_server_spark.sources import avro_py

    schema = {
        "type": "record",
        "name": "P",
        "fields": [
            {"name": "x", "type": ["null", "double"]},
            {"name": "sig", "type": {"type": "fixed", "name": "Sig", "size": 2}},
            {"name": "sig2", "type": ["null", "Sig"]},  # named reference
        ],
    }
    records = [
        {"x": 7, "sig": b"ab", "sig2": b"cd"},  # int -> double branch
        {"x": None, "sig": b"ef", "sig2": None},
    ]
    _, decoded = avro_py.read_ocf(avro_py.write_ocf(schema, records))
    assert decoded[0]["x"] == 7.0 and decoded[0]["sig2"] == b"cd"
    assert decoded[1]["x"] is None and decoded[1]["sig2"] is None


def test_avro_registry_fallback_e2e(spark, tmp_path):
    """A real .avro file ingests through the registry without the
    spark-avro jar: the pure-Python fallback decodes and registers
    eagerly with the schema mapped from the embedded Avro schema."""
    from datafusion_server_spark.sources import avro_py
    from datafusion_server_spark.sources.registry import DataSource, load_data_source

    p = tmp_path / "people.avro"
    p.write_bytes(avro_py.write_ocf(AVRO_SCHEMA, AVRO_RECORDS, codec="deflate"))
    ds = DataSource.from_json({"format": "avro", "name": "people_avro", "location": str(p)})
    df, eager = load_data_source(spark, ds)
    assert eager is True
    assert dict(df.dtypes)["id"] == "bigint"
    assert dict(df.dtypes)["tags"] == "array<string>"
    assert dict(df.dtypes)["attrs"] == "map<string,int>"
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["name"] == "alice" and rows[1]["nick"] == "al"
    assert rows[2]["nick"] is None and rows[2]["tags"] == []
    assert rows[3]["attrs"] == {"b": 2, "c": 3}


def test_local_avro_makes_no_failed_connector_read(spark, tmp_path, connector_reads):
    """Without spark-avro a local avro file goes straight to the Python
    decoder: no spark-avro read is tried and failed first."""
    from datafusion_server_spark.sources import avro_py
    from datafusion_server_spark.sources.registry import DataSource, load_data_source

    p = tmp_path / "people.avro"
    p.write_bytes(avro_py.write_ocf(AVRO_SCHEMA, AVRO_RECORDS))
    df, eager = load_data_source(spark, DataSource.from_json(
        {"format": "avro", "name": "people_avro", "location": str(p)}))
    assert connector_reads == []
    assert eager is True
    assert sorted((r["id"], r["name"], r["nick"]) for r in df.collect()) == [
        (1, "alice", "al"), (2, "bob", None), (3, "carol", "cc"),
    ]


def _record_lookups(monkeypatch) -> list[str]:
    """A fresh connector cache that lists each connector looked up."""
    from datafusion_server_spark.sources import registry

    lookups: list[str] = []

    class Recording(dict):
        def __setitem__(self, key, value):
            lookups.append(key)
            super().__setitem__(key, value)

    monkeypatch.setattr(registry, "connectors", Recording())
    return lookups


def test_connector_lookup_once_and_not_for_builtin_formats(spark, tmp_path, monkeypatch):
    """A local csv, ndjson, parquet or orc source looks up no connector;
    avro looks spark-avro up once however often it registers."""
    from datafusion_server_spark.sources import avro_py, registry

    lookups = _record_lookups(monkeypatch)
    src = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    for fmt, writer in (("csv", "csv"), ("ndjson", "json"), ("parquet", "parquet"), ("orc", "orc")):
        path = str(tmp_path / fmt)
        src.write.option("header", "true").format(writer).save(path)
        df, _ = registry.load_data_source(spark, DataSource.from_json(
            {"format": fmt, "name": f"t_{fmt}", "location": path}))
        assert sorted(tuple(r) for r in df.select("id", "v").collect()) == [(1, "a"), (2, "b")]
    assert lookups == []
    p = tmp_path / "people.avro"
    p.write_bytes(avro_py.write_ocf(AVRO_SCHEMA, AVRO_RECORDS))
    for _ in range(2):
        registry.load_data_source(spark, DataSource.from_json(
            {"format": "avro", "name": "people_avro", "location": str(p)}))
    assert lookups == ["avro"]


def test_concurrent_lookups_ask_once(spark, monkeypatch):
    import sys
    import threading

    from datafusion_server_spark.sources import registry

    lookups = _record_lookups(monkeypatch)
    threads = [threading.Thread(target=registry.has_connector, args=(spark, "avro"))
               for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert lookups == ["avro"]


def test_present_connector_error_reaches_caller(spark, tmp_path, monkeypatch):
    """A connector the lookup found is read with no fallback behind it:
    its own error reaches the caller. The lookup is cached per process,
    so the test replaces the cache to fake spark-avro's presence."""
    from datafusion_server_spark.sources import avro_py, registry
    from datafusion_server_spark.sources.registry import DataSourceError, load_data_source

    monkeypatch.setattr(registry, "connectors", {"avro": True})
    p = tmp_path / "people.avro"
    p.write_bytes(avro_py.write_ocf(AVRO_SCHEMA, AVRO_RECORDS))
    with pytest.raises(Exception, match="avro") as err:
        load_data_source(spark, DataSource.from_json(
            {"format": "avro", "name": "people_avro", "location": str(p)}))
    assert not isinstance(err.value, DataSourceError)


def test_avro_unsupported_codec_clear_error():
    from datafusion_server_spark.sources import avro_py

    data = avro_py.write_ocf(AVRO_SCHEMA, AVRO_RECORDS)
    # forge the codec meta value — the LAST b"null" (the schema JSON's
    # union branch contains the first ones)
    idx = data.rfind(b"null")
    data = data[:idx] + b"sppy" + data[idx + 4 :]
    with pytest.raises(ValueError, match="codec"):
        avro_py.read_ocf(data)


def test_avro_nested_enum_fixed_roundtrip():
    """OCF decode handles the full named-type surface: nested records,
    enums (symbol index), fixed (raw bytes), and multi-branch unions."""
    from datafusion_server_spark.sources import avro_py

    schema = {
        "type": "record",
        "name": "Evt",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "kind", "type": {"type": "enum", "name": "Kind", "symbols": ["A", "B", "C"]}},
            {"name": "sig", "type": {"type": "fixed", "name": "Sig", "size": 4}},
            {
                "name": "loc",
                "type": {
                    "type": "record",
                    "name": "Loc",
                    "fields": [
                        {"name": "lat", "type": "double"},
                        {"name": "lon", "type": "double"},
                    ],
                },
            },
            {"name": "note", "type": ["null", "string"]},
        ],
    }
    records = [
        {"id": 1, "kind": "B", "sig": b"\x01\x02\x03\x04", "loc": {"lat": 1.5, "lon": -2.25}, "note": "x"},
        {"id": 2, "kind": "C", "sig": b"\xff\x00\xff\x00", "loc": {"lat": 0.0, "lon": 9.75}, "note": None},
    ]
    data = avro_py.write_ocf(schema, records, codec="deflate")
    got_schema, got = avro_py.read_ocf(data)
    assert got == records
    assert got_schema["fields"][1]["type"]["symbols"] == ["A", "B", "C"]


def test_avro_named_type_reference_reuse():
    """A named type defined once and referenced by name decodes on the
    second use (the `named` registry path)."""
    from datafusion_server_spark.sources import avro_py

    schema = {
        "type": "record",
        "name": "Pair",
        "fields": [
            {
                "name": "a",
                "type": {
                    "type": "record",
                    "name": "Pt",
                    "fields": [{"name": "v", "type": "int"}],
                },
            },
            {"name": "b", "type": "Pt"},  # reference by name
        ],
    }
    records = [{"a": {"v": 1}, "b": {"v": 2}}, {"a": {"v": 3}, "b": {"v": 4}}]
    # the minimal encoder doesn't resolve named refs, so hand-encode:
    # Pt is just one zigzag int; Pair = two of them back-to-back
    import io

    body = io.BytesIO()
    for rec in records:
        for part in ("a", "b"):
            avro_py._write_long(body, rec[part]["v"])
    import json as _json

    out = io.BytesIO()
    out.write(avro_py.MAGIC)
    meta = {"avro.schema": _json.dumps(schema).encode(), "avro.codec": b"null"}
    avro_py._write_long(out, len(meta))
    for k, v in meta.items():
        avro_py._encode("string", k, out)
        avro_py._encode("bytes", v, out)
    avro_py._write_long(out, 0)
    sync = bytes(range(16))
    out.write(sync)
    block = body.getvalue()
    avro_py._write_long(out, len(records))
    avro_py._write_long(out, len(block))
    out.write(block)
    out.write(sync)
    _, got = avro_py.read_ocf(out.getvalue())
    assert got == records


def test_read_orc_roundtrip(spark, tmp_path):
    """ORC scan (beyond-reference format): write->read roundtrip with
    pushdown-friendly native reader."""
    from datafusion_server_spark.sources.readers import ReadOptions, read_orc

    src = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5)], "id long, s string, v double"
    )
    path = str(tmp_path / "t.orc")
    src.write.mode("overwrite").orc(path)
    back = read_orc(spark, path, ReadOptions())
    assert sorted(back.collect()) == sorted(src.collect())
    plan = back.filter("id = 2").select("s")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "ORC" in plan or "orc" in plan


@pytest.fixture
def http_dir(tmp_path):
    """(directory, base URL) of a localhost HTTP server over a new directory."""
    import functools
    import http.server
    import threading

    root = tmp_path / "served"
    root.mkdir()

    class Quiet(http.server.SimpleHTTPRequestHandler):
        def log_message(self, *args):
            pass

    srv = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), functools.partial(Quiet, directory=str(root)))
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield root, f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()
    srv.server_close()


def _parquet_bytes() -> bytes:
    import io

    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(pa.table({"id": [1, 2, 3], "name": ["alice", "bob", None]}), buf)
    return buf.getvalue()


def _avro_bytes() -> bytes:
    from datafusion_server_spark.sources import avro_py

    return avro_py.write_ocf(AVRO_SCHEMA, AVRO_RECORDS)


HTTP_CASES = {  # case -> (format, file name, body, options)
    "csv": ("csv", "t.csv", lambda: CSV, {}),
    "json": ("json", "t.json", lambda: JSON_ARRAY, {}),
    "json_path": ("json", "doc.json",
                  lambda: json.dumps({"data": {"items": [{"a": 1}, {"a": 2}]}}).encode(),
                  {"jsonPath": "$.data.items[*]"}),
    "ndjson": ("ndjson", "t.ndjson", lambda: NDJSON, {}),
    "parquet": ("parquet", "t.parquet", _parquet_bytes, {}),
    "avro": ("avro", "t.avro", _avro_bytes, {}),
}


@pytest.mark.parametrize("case", sorted(HTTP_CASES))
def test_http_source_reads_like_the_local_file(spark, http_dir, case):
    """Every format served over http(s) registers eagerly, with the rows
    and schema of the same file read locally."""
    from datafusion_server_spark.sources.registry import load_data_source

    root, base = http_dir
    fmt, name, body, options = HTTP_CASES[case]
    (root / name).write_bytes(body())
    local, _ = load_data_source(spark, DataSource.from_json(
        {"format": fmt, "name": "local", "location": str(root / name), "options": options}))
    remote, eager = load_data_source(spark, DataSource.from_json(
        {"format": fmt, "name": "remote", "location": f"{base}/{name}", "options": options}))
    assert eager is True
    assert remote.schema == local.schema
    assert sorted(remote.collect(), key=repr) == sorted(local.collect(), key=repr)
    assert remote.count() > 0


@pytest.mark.parametrize(
    "fmt,hidden",
    [("csv", ".h.csv"), ("parquet", "_p.parquet"), ("ndjson", ".n.ndjson"),
     ("orc", "_o.orc"), ("json", ".d.json")],
)
def test_hidden_file_name_registers(spark, tmp_path, fmt, hidden):
    """Spark's file index skips a file named ``_*`` or ``.*`` even when
    the path names it; such a file reads the same rows as a copy of it
    under a visible name."""
    import pyarrow.orc as po
    import pyarrow.parquet as pq

    from datafusion_server_spark.sources import registry

    table = pa.table({"id": [1, 2, 3], "v": ["a", "b", "c"]})
    writers = {
        "csv": lambda p: p.write_text("id,v\n1,a\n2,b\n3,c\n"),
        "parquet": lambda p: pq.write_table(table, p),
        "ndjson": lambda p: p.write_text("".join(json.dumps(r) + "\n" for r in table.to_pylist())),
        "orc": lambda p: po.write_table(table, str(p)),
        "json": lambda p: p.write_text(json.dumps(table.to_pylist())),
    }
    rows = {}
    for name in (hidden, "visible" + hidden[2:]):
        writers[fmt](tmp_path / name)
        df, _ = registry.load_data_source(spark, DataSource.from_json(
            {"format": fmt, "name": f"t_{fmt}", "location": str(tmp_path / name)}))
        rows[name] = sorted(tuple(r) for r in df.select("id", "v").collect())
    assert rows[hidden] == rows["visible" + hidden[2:]] == [(1, "a"), (2, "b"), (3, "c")]
