"""Pure-Python Delta Lake read fallback (A9): transaction-log replay,
time travel, partition reattachment, checkpoint handling, registry
ingestion — against hand-assembled tables that follow the public Delta
PROTOCOL.md layout (which is also how delta writers lay them out)."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_server_spark.sources import delta_py
from datafusion_server_spark.sources.delta_py import DeltaProtocolError


def _commit(log_dir, version: int, actions: list[dict]) -> None:
    path = os.path.join(log_dir, f"{version:020d}.json")
    with open(path, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def _data_file(table_dir, name: str, ids: list[int]) -> str:
    pq.write_table(
        pa.table({"id": pa.array(ids, pa.int64()), "v": [f"v{i}" for i in ids]}),
        os.path.join(table_dir, name),
    )
    return name


def _make_table(tmp_path, partitioned: bool = False) -> str:
    tdir = str(tmp_path / "dtable")
    log = os.path.join(tdir, "_delta_log")
    os.makedirs(log)
    meta = {
        "id": "test-table",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                    {"name": "v", "type": "string", "nullable": True, "metadata": {}},
                ],
            }
        ),
        "partitionColumns": ["lang"] if partitioned else [],
        "configuration": {},
    }
    f1 = _data_file(tdir, "part-0000.parquet", [1, 2])
    f2 = _data_file(tdir, "part-0001.parquet", [3, 4])
    pv = {"partitionValues": {"lang": "en"}} if partitioned else {"partitionValues": {}}
    _commit(
        log,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": meta},
            {"add": {"path": f1, "size": 1, "dataChange": True, **pv}},
            {"add": {"path": f2, "size": 1, "dataChange": True, **pv}},
        ],
    )
    f3 = _data_file(tdir, "part-0002.parquet", [5])
    pv3 = {"partitionValues": {"lang": "fr"}} if partitioned else {"partitionValues": {}}
    _commit(
        log,
        1,
        [
            {"remove": {"path": f1, "dataChange": True}},
            {"add": {"path": f3, "size": 1, "dataChange": True, **pv3}},
        ],
    )
    return tdir


def test_snapshot_replay_and_time_travel(spark, tmp_path):
    tdir = _make_table(tmp_path)
    latest = delta_py.read_delta(spark, tdir)
    assert sorted(r["id"] for r in latest.collect()) == [3, 4, 5]
    v0 = delta_py.read_delta(spark, tdir, version=0)
    assert sorted(r["id"] for r in v0.collect()) == [1, 2, 3, 4]
    with pytest.raises(DeltaProtocolError, match="does not exist"):
        delta_py.read_delta(spark, tdir, version=7)


def test_partition_columns_reattached(spark, tmp_path):
    tdir = _make_table(tmp_path, partitioned=True)
    df = delta_py.read_delta(spark, tdir)
    rows = {r["id"]: r["lang"] for r in df.collect()}
    assert rows == {3: "en", 4: "en", 5: "fr"}


def test_checkpoint_replay(spark, tmp_path):
    """A checkpoint parquet replaces the JSON commits before it: replay
    must start at the checkpoint and apply only later commits."""
    tdir = _make_table(tmp_path)
    log = os.path.join(tdir, "_delta_log")
    snap = delta_py.read_snapshot(tdir)  # state at v1
    # parquet can't write EMPTY structs — real checkpoints store these
    # as maps; dropping them loses nothing the reader needs
    meta = {k: v for k, v in snap.metadata.items() if v != {} and k != "format"}
    rows = [
        {"protocol": snap.protocol, "metaData": None, "add": None, "remove": None},
        {"protocol": None, "metaData": meta, "add": None, "remove": None},
        *(
            {
                "protocol": None,
                "metaData": None,
                "add": {k: v for k, v in add.items() if v != {}},
                "remove": None,
            }
            for add in snap.files.values()
        ),
    ]
    pq.write_table(
        pa.Table.from_pylist(rows), os.path.join(log, f"{1:020d}.checkpoint.parquet")
    )
    for v in (0, 1):  # delete the pre-checkpoint JSON commits entirely
        os.remove(os.path.join(log, f"{v:020d}.json"))
    f4 = _data_file(tdir, "part-0003.parquet", [9])
    _commit(log, 2, [{"add": {"path": f4, "size": 1, "dataChange": True, "partitionValues": {}}}])
    df = delta_py.read_delta(spark, tdir)
    assert sorted(r["id"] for r in df.collect()) == [3, 4, 5, 9]


def test_registry_delta_fallback_with_version(spark, tmp_path):
    from datafusion_server_spark.sources.registry import DataSource, load_data_source

    tdir = _make_table(tmp_path)
    ds = DataSource.from_json(
        {"format": "delta", "name": "dt", "location": tdir, "options": {"version": 0}}
    )
    df, eager = load_data_source(spark, ds)
    assert eager is False  # stays a lazy distributed parquet scan
    assert sorted(r["id"] for r in df.collect()) == [1, 2, 3, 4]


def test_registry_delta_makes_no_failed_connector_read(spark, tmp_path, connector_reads):
    """Without delta-spark the registry replays the log directly: no
    delta-spark read is tried and failed first."""
    from datafusion_server_spark.sources.registry import DataSource, load_data_source

    ds = DataSource.from_json({"format": "delta", "name": "dt", "location": _make_table(tmp_path)})
    df, eager = load_data_source(spark, ds)
    assert connector_reads == []
    assert eager is False
    assert sorted((r["id"], r["v"]) for r in df.collect()) == [(3, "v3"), (4, "v4"), (5, "v5")]


def test_commit_gap_refused(spark, tmp_path):
    """A retention-cleaned commit with no covering checkpoint must error,
    not silently return a snapshot missing its actions."""
    tdir = _make_table(tmp_path)
    os.remove(os.path.join(tdir, "_delta_log", f"{0:020d}.json"))
    with pytest.raises(DeltaProtocolError, match="missing from _delta_log"):
        delta_py.read_snapshot(tdir)


def test_multipart_checkpoint_parts_recognized(spark, tmp_path):
    """Multi-part checkpoint files ({v}.checkpoint.{i}.{n}.parquet) are
    recognized and all parts replay."""
    tdir = _make_table(tmp_path)
    log = os.path.join(tdir, "_delta_log")
    snap = delta_py.read_snapshot(tdir)
    meta = {k: v for k, v in snap.metadata.items() if v != {} and k != "format"}
    adds = [
        {"protocol": None, "metaData": None, "add": {k: v for k, v in a.items() if v != {}}, "remove": None}
        for a in snap.files.values()
    ]
    head = [
        {"protocol": snap.protocol, "metaData": None, "add": None, "remove": None},
        {"protocol": None, "metaData": meta, "add": None, "remove": None},
    ]
    # split the checkpoint rows across two parts
    pq.write_table(
        pa.Table.from_pylist(head + adds[:1]),
        os.path.join(log, f"{1:020d}.checkpoint.{1:010d}.{2:010d}.parquet"),
    )
    pq.write_table(
        pa.Table.from_pylist(head[:1] + adds[1:]),
        os.path.join(log, f"{1:020d}.checkpoint.{2:010d}.{2:010d}.parquet"),
    )
    for v in (0, 1):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    df = delta_py.read_delta(spark, tdir)
    assert sorted(r["id"] for r in df.collect()) == [3, 4, 5]


def test_multipart_checkpoint_missing_part_refused(spark, tmp_path):
    """A multi-part checkpoint declaring N parts with fewer present must
    refuse (missing parts silently drop add actions) — same stance as
    commit gaps."""
    tdir = _make_table(tmp_path)
    log = os.path.join(tdir, "_delta_log")
    snap = delta_py.read_snapshot(tdir)
    meta = {k: v for k, v in snap.metadata.items() if v != {} and k != "format"}
    rows = [
        {"protocol": snap.protocol, "metaData": None, "add": None, "remove": None},
        {"protocol": None, "metaData": meta, "add": None, "remove": None},
    ]
    # only part 1 of a DECLARED 2-part checkpoint
    pq.write_table(
        pa.Table.from_pylist(rows),
        os.path.join(log, f"{1:020d}.checkpoint.{1:010d}.{2:010d}.parquet"),
    )
    for v in (0, 1):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    with pytest.raises(DeltaProtocolError, match="declares 2 parts"):
        delta_py.read_snapshot(tdir)


def test_reader_feature_gates(spark, tmp_path):
    tdir = str(tmp_path / "gated")
    log = os.path.join(tdir, "_delta_log")
    os.makedirs(log)
    # v3 with an unimplemented reader feature refuses; v4 refuses outright
    _commit(
        log,
        0,
        [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                       "readerFeatures": ["v2Checkpoint"]}}],
    )
    with pytest.raises(DeltaProtocolError, match="v2Checkpoint"):
        delta_py.read_snapshot(tdir)
    tdir4 = str(tmp_path / "gated4")
    log4 = os.path.join(tdir4, "_delta_log")
    os.makedirs(log4)
    _commit(log4, 0, [{"protocol": {"minReaderVersion": 4, "minWriterVersion": 7}}])
    with pytest.raises(DeltaProtocolError, match="minReaderVersion"):
        delta_py.read_snapshot(tdir4)
    with pytest.raises(DeltaProtocolError, match="_delta_log"):
        delta_py.read_snapshot(str(tmp_path / "not_a_table"))


def test_z85_roundtrip():
    import uuid

    u = uuid.UUID("12345678-1234-5678-1234-567812345678")
    enc = delta_py.z85_encode(u.bytes)
    assert len(enc) == 20
    assert delta_py.z85_decode(enc) == u.bytes
    with pytest.raises(delta_py.DeltaProtocolError, match="multiple of 5"):
        delta_py.z85_decode("abc")


def test_roaring_bitmap_array_roundtrip():
    """Encoder/decoder round-trip across 16-bit container boundaries and
    the 32-bit bitmap split (row indexes > 2^32)."""
    idx = [0, 1, 5, 65535, 65536, 70000, (1 << 32) + 3, (1 << 32) + 65540]
    data = delta_py.encode_roaring_bitmap_array(idx)
    assert delta_py.decode_roaring_bitmap_array(data) == set(idx)


def test_roaring_run_and_bitmap_containers():
    """The decoder handles the run-container cookie and bitmap containers
    (shapes real writers emit that our array-only encoder does not)."""
    import struct

    # one 32-bit bitmap with a RUN container: cookie 12347, 1 container,
    # run flag set, key=0 card=(10..20 => 11), runs=[(10,10)]
    bm = struct.pack("<I", delta_py._SERIAL_COOKIE_RUN | (0 << 16))
    bm += bytes([0b1])  # run flag for container 0
    bm += struct.pack("<HH", 0, 10)  # key, cardinality-1
    bm += struct.pack("<H", 1)  # number of runs
    bm += struct.pack("<HH", 10, 10)  # start=10, length=10 -> 10..20
    data = struct.pack("<iq", delta_py._ROARING_ARRAY_MAGIC, 1) + bm
    assert delta_py.decode_roaring_bitmap_array(data) == set(range(10, 21))

    # bitmap container: cardinality 5000 (> 4096) -> 8 KiB bitset
    vals = set(range(0, 10000, 2))
    words = [0] * 1024
    for v in vals:
        words[v // 64] |= 1 << (v % 64)
    bm = struct.pack("<II", delta_py._SERIAL_COOKIE_NO_RUN, 1)
    bm += struct.pack("<HH", 0, len(vals) - 1)
    bm += struct.pack("<I", 16)  # offset header (start of container data)
    bm += b"".join(struct.pack("<Q", w) for w in words)
    data = struct.pack("<iq", delta_py._ROARING_ARRAY_MAGIC, 1) + bm
    assert delta_py.decode_roaring_bitmap_array(data) == vals


def _write_dv_file(table_dir: str, indexes: list[int]) -> dict:
    """Write an on-disk DV per PROTOCOL.md and return its descriptor."""
    import struct
    import uuid
    import zlib

    bitmap = delta_py.encode_roaring_bitmap_array(indexes)
    uid = uuid.uuid4()
    blob = (
        b"\x01"
        + struct.pack(">I", len(bitmap))
        + bitmap
        + struct.pack(">I", zlib.crc32(bitmap) & 0xFFFFFFFF)
    )
    with open(os.path.join(table_dir, f"deletion_vector_{uid}.bin"), "wb") as fh:
        fh.write(blob)
    return {
        "storageType": "u",
        "pathOrInlineDv": delta_py.z85_encode(uid.bytes),
        "offset": 1,
        "sizeInBytes": len(bitmap),
        "cardinality": len(indexes),
    }


def test_deletion_vectors_applied(spark, tmp_path):
    """A DV table reads with deleted rows masked (reference behavior,
    deltalake.rs:87-91) — on-disk 'u' descriptors AND inline 'i' ones —
    and versionAsOf before the delete still sees all rows."""
    tdir = str(tmp_path / "dvtable")
    log = os.path.join(tdir, "_delta_log")
    os.makedirs(log)
    meta = {
        "id": "dv-table",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                    {"name": "v", "type": "string", "nullable": True, "metadata": {}},
                ],
            }
        ),
        "partitionColumns": [],
        "configuration": {},
    }
    f1 = _data_file(tdir, "part-0000.parquet", [1, 2, 3, 4, 5])
    f2 = _data_file(tdir, "part-0001.parquet", [6, 7, 8])
    _commit(
        log,
        0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"]}},
            {"metaData": meta},
            {"add": {"path": f1, "size": 1, "dataChange": True, "partitionValues": {}}},
            {"add": {"path": f2, "size": 1, "dataChange": True, "partitionValues": {}}},
        ],
    )
    # v1: delete rows at positions 1 and 3 of f1 (ids 2 and 4) via an
    # on-disk DV, re-adding the file with the descriptor (how DELETE
    # commits look under DV writers)
    dv = _write_dv_file(tdir, [1, 3])
    _commit(
        log,
        1,
        [{"add": {"path": f1, "size": 1, "dataChange": True,
                  "partitionValues": {}, "deletionVector": dv}}],
    )
    got = sorted(r["id"] for r in delta_py.read_delta(spark, tdir).collect())
    assert got == [1, 3, 5, 6, 7, 8]
    # time travel to v0: nothing deleted yet
    got0 = sorted(r["id"] for r in delta_py.read_delta(spark, tdir, version=0).collect())
    assert got0 == [1, 2, 3, 4, 5, 6, 7, 8]
    # v2: inline DV on f2 deleting position 0 (id 6)
    bitmap = delta_py.encode_roaring_bitmap_array([0])
    pad = (-len(bitmap)) % 4
    inline = delta_py.z85_encode(bitmap + b"\x00" * pad)
    _commit(
        log,
        2,
        [{"add": {"path": f2, "size": 1, "dataChange": True, "partitionValues": {},
                  "deletionVector": {"storageType": "i", "pathOrInlineDv": inline,
                                     "sizeInBytes": len(bitmap),
                                     "cardinality": 1}}}],
    )
    got2 = sorted(r["id"] for r in delta_py.read_delta(spark, tdir).collect())
    assert got2 == [1, 3, 5, 7, 8]


def test_deletion_vector_crc_and_cardinality_checks(spark, tmp_path):
    tdir = str(tmp_path / "dvbad")
    os.makedirs(tdir)
    dv = _write_dv_file(tdir, [0, 2])
    # cardinality mismatch refuses
    bad = dict(dv, cardinality=5)
    with pytest.raises(DeltaProtocolError, match="cardinality"):
        delta_py.dv_row_indexes(tdir, bad)
    # corrupt the stored bitmap -> CRC mismatch
    import glob

    path = glob.glob(os.path.join(tdir, "deletion_vector_*.bin"))[0]
    blob = bytearray(open(path, "rb").read())
    blob[7] ^= 0xFF
    open(path, "wb").write(bytes(blob))
    with pytest.raises(DeltaProtocolError, match="CRC"):
        delta_py.dv_row_indexes(tdir, dv)
