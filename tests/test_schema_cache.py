"""The process-wide schema cache in ``sources.readers``: a hit reads the
same schema and rows as inference, starts no Spark job, and misses on any
change to the files, the reader options or the session's SQL conf. In a
one-partition session a hit reads the file's shared one-partition
materialization, which is bounded in file bytes and outlives the session
that built it."""

from __future__ import annotations

import itertools
import os
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_server_spark.session import (
    SMALL_INPUT_BYTES,
    SMALL_PLAN_CONF,
    ServerSession,
    SessionManager,
)
from datafusion_server_spark.sources import readers, writers
from datafusion_server_spark.sources.readers import ReadOptions
from datafusion_server_spark.sources.registry import DataSource, register

_groups = itertools.count()


@pytest.fixture
def no_racy_window(monkeypatch):
    """Cache files written a moment ago instead of sleeping out the window."""
    monkeypatch.setattr(readers, "RACY_WINDOW_NS", 0)


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn started)``."""
    sc = spark.sparkContext
    group = f"schema-cache-{next(_groups)}"
    marker = group + "-marker"
    sc.setJobGroup(group, "schema cache probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # The status store is fed in order from one listener queue: once a
    # later job shows up there, every job ``fn`` started has too.
    sc.setJobGroup(marker, "schema cache probe marker")
    try:
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker) and time.monotonic() < deadline:
        time.sleep(0.01)
    return out, len(tracker.getJobIdsForGroup(group))


def _cached_paths() -> set[str]:
    return {e[0] for key in readers._schemas for e in key[3]}


def _facts(n: int = 5) -> pa.Table:
    return pa.table({"id": pa.array(range(n), pa.int64()),
                     "name": [f"n{i}" for i in range(n)],
                     "score": [i * 0.5 for i in range(n)]})


def _write_parquet(spark, path):
    pq.write_table(_facts(), path)
    return "parquet", {}


def _write_csv_header(spark, path):
    with open(path, "w") as f:
        f.write("id,name,score\n1,a,0.5\n2,b,1.5\n3,c,2.25\n")
    return "csv", {"hasHeader": True}


def _write_csv_no_header(spark, path):
    with open(path, "w") as f:
        f.write("1,a,0.5\n2,b,1.5\n3,c,2.25\n")
    return "csv", {"hasHeader": False}


def _write_csv_pipe(spark, path):
    with open(path, "w") as f:
        f.write("id|name|score\n1|a|0.5\n2|b|1.5\n")
    return "csv", {"delimiter": "|"}


def _write_ndjson(spark, path):
    with open(path, "w") as f:
        f.write('{"id": 1, "v": "x", "m": {"k": 1.5}}\n{"id": 2, "v": "y", "m": {"k": 2}}\n')
    return "ndjson", {}


def _write_spark_parquet_dir(spark, path):
    spark.range(7).selectExpr("id", "CAST(id AS STRING) AS s", "id * 1.5 AS d") \
        .coalesce(2).write.parquet(path)
    return "parquet", {}


def _write_orc(spark, path):
    spark.range(4).selectExpr("id", "CAST(id AS STRING) AS s").write.orc(path)
    return "orc", {}


WRITERS = {
    "parquet": _write_parquet,
    "csv_header": _write_csv_header,
    "csv_no_header": _write_csv_no_header,
    "csv_pipe": _write_csv_pipe,
    "ndjson": _write_ndjson,
    "spark_parquet_dir": _write_spark_parquet_dir,
    "orc_dir": _write_orc,
}


@pytest.mark.parametrize("case", sorted(WRITERS))
def test_hit_reads_like_inference_and_starts_no_job(spark, tmp_path, no_racy_window, case):
    path = str(tmp_path / f"src_{case}")
    fmt, options = WRITERS[case](spark, path)
    sess = ServerSession(f"cache-{case}", spark)
    ds = DataSource.from_json({"format": fmt, "name": f"cache_{case}", "location": path,
                               "options": options})
    cold, cold_jobs = _jobs(spark, lambda: register(sess, ds))
    assert path in _cached_paths()
    hit, hit_jobs = _jobs(spark, lambda: register(sess, ds))
    assert cold_jobs >= (0 if fmt == "orc" else 1)  # ORC reads its footer without a job
    assert hit_jobs == 0
    assert hit.schema == cold.schema
    assert sorted(hit.collect()) == sorted(cold.collect())
    sess.close()


def test_json_array_hit_matches_inference(spark, no_racy_window):
    doc = b'[{"id": 1, "tags": ["a"], "meta": {"k": 1}}, {"id": 2, "tags": [], "meta": {"k": 2}}]'
    path = readers.stage_bytes(doc, ".json")
    cold, cold_jobs = _jobs(spark, lambda: readers.read_json_array(spark, path, ReadOptions()))
    hit, hit_jobs = _jobs(spark, lambda: readers.read_json_array(spark, path, ReadOptions()))
    assert cold_jobs >= 1
    assert hit_jobs == 0
    assert hit.schema == cold.schema
    assert sorted(hit.collect()) == sorted(cold.collect())


def test_reader_options_are_part_of_the_key(spark, tmp_path, no_racy_window):
    """The same bytes read with and without a header give two schemas."""
    path = str(tmp_path / "t.csv")
    _write_csv_header(spark, path)
    with_header = readers.read_csv(spark, path, ReadOptions(has_header=True))
    without = readers.read_csv(spark, path, ReadOptions(has_header=False))
    assert with_header.columns == ["id", "name", "score"]
    assert without.columns == ["_c0", "_c1", "_c2"]
    assert readers.read_csv(spark, path, ReadOptions(has_header=True)).schema == with_header.schema
    assert readers.read_csv(spark, path, ReadOptions(has_header=False)).schema == without.schema


def test_save_directory_alternating_schemas(spark, tmp_path, no_racy_window):
    """Two tables of different schemas saved in turn over one directory
    (a session that saves ``customer`` and ``recent`` to one snapshot):
    each new registration reads the schema on disk, with no refresh."""
    snap = str(tmp_path / "snap")
    tables = {
        "customer": spark.createDataFrame([(1, "c1"), (2, "c2")], "c_custkey long, c_name string"),
        "recent": spark.createDataFrame([(7, 1.5, "x")], "o_orderkey long, o_total double, o_p string"),
    }
    sess = ServerSession("cache-snap", spark)
    for i in range(6):
        name = ("customer", "recent")[i % 2]
        writers.write_object_store(tables[name], snap, "parquet")
        df = register(sess, DataSource.from_json({"format": "parquet", "name": "snap",
                                                  "location": snap}))
        assert df.columns == tables[name].columns, f"write {i}"
        assert sorted(df.collect()) == sorted(tables[name].collect())
        hit = register(sess, DataSource.from_json({"format": "parquet", "name": "snap",
                                                   "location": snap}))
        assert hit.columns == tables[name].columns
    sess.close()


@pytest.mark.parametrize("first", ["plain", "binary_as_string"])
def test_sql_conf_is_part_of_the_key(spark, tmp_path, no_racy_window, first):
    """A tenant's ``SET spark.sql.parquet.binaryAsString=true`` changes what
    inference gives; the other tenant must keep ``binary``."""
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab", b"cd"], pa.binary())}), path)
    tenants = {"plain": spark.newSession(), "binary_as_string": spark.newSession()}
    tenants["binary_as_string"].sql("SET spark.sql.parquet.binaryAsString=true")
    want = {"plain": "binary", "binary_as_string": "string"}
    order = [first] + [t for t in tenants if t != first]
    for tenant in order + order:
        df = readers.read_parquet(tenants[tenant], path, ReadOptions())
        assert dict(df.dtypes)["b"] == want[tenant], tenant


def test_plan_conf_is_not_part_of_the_key(spark, tmp_path, no_racy_window, monkeypatch):
    """A small-plan one-shot and a named session read a file under two
    plans (``SMALL_PLAN_CONF``, ``SERVING_CONF``) but infer the same
    schema: the named session's registration hits the one-shot's entry."""
    from datafusion_server_spark.server.api import Engine

    monkeypatch.setattr(readers, "_schemas", type(readers._schemas)())
    path = str(tmp_path / "shared.parquet")
    pq.write_table(_facts(100), path)
    engine = Engine(spark, start_reaper=False)
    source = {"format": "parquet", "name": "shared", "location": path}
    with engine._oneshot({"dataSources": [source], "query": "SELECT * FROM shared"}) as df:
        assert df.sparkSession.conf.get("spark.sql.adaptive.enabled") == "false"
    assert len(readers._schemas) == 1
    engine.session_create("cache-plan-named", 600)
    try:
        _, jobs = _jobs(spark, lambda: engine.session_add_datasource("cache-plan-named", source))
        assert engine.sessions.get("cache-plan-named").spark.conf.get(
            "spark.sql.adaptive.enabled") == "true"
    finally:
        engine.sessions.delete("cache-plan-named")
    assert jobs == 0
    assert len(readers._schemas) == 1


def test_file_inside_racy_window_is_not_stored(spark, tmp_path):
    path = str(tmp_path / "young.parquet")
    pq.write_table(_facts(), path)
    assert readers._file_identity(path) is None
    _, jobs = _jobs(spark, lambda: readers.read_parquet(spark, path, ReadOptions()))
    assert jobs >= 1
    assert path not in _cached_paths()


def test_rewrite_misses(spark, tmp_path, no_racy_window):
    """A file rewritten in place with another schema misses: its ctime and
    size are part of the key."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(_facts(), path)
    assert readers.read_parquet(spark, path, ReadOptions()).columns == ["id", "name", "score"]
    time.sleep(0.05)  # past the filesystem's timestamp tick
    pq.write_table(pa.table({"other": [1, 2]}), path)
    assert readers.read_parquet(spark, path, ReadOptions()).columns == ["other"]


def test_uncacheable_locations(tmp_path):
    """Globs, remote schemes, file URIs with a host, relative and missing
    paths keep the uncached read."""
    here = str(tmp_path / "f.csv")
    for location in (str(tmp_path / "*.csv"), "s3a://bucket/f.csv", "http://host/f.csv",
                     "file://host" + here, "f.csv", here):
        assert readers._file_identity(location) is None, location


def test_cache_is_bounded(spark, tmp_path, no_racy_window, monkeypatch):
    monkeypatch.setattr(readers, "SCHEMA_CACHE_ENTRIES", 2)
    monkeypatch.setattr(readers, "_schemas", type(readers._schemas)())
    paths = [str(tmp_path / f"t{i}.parquet") for i in range(3)]
    for p in paths:
        pq.write_table(_facts(), p)
        readers.read_parquet(spark, p, ReadOptions())
    assert _cached_paths() == set(paths[1:])


def test_cache_bound_holds_under_concurrent_reads(spark, tmp_path, no_racy_window, monkeypatch):
    """More reader threads than cores over more files than the bound: every
    read gets its own file's schema and the cache never outgrows its bound."""
    monkeypatch.setattr(readers, "SCHEMA_CACHE_ENTRIES", 2)
    monkeypatch.setattr(readers, "_schemas", type(readers._schemas)())
    paths = []
    for i in range(4):
        paths.append(str(tmp_path / f"t{i}.parquet"))
        pq.write_table(pa.table({f"c{i}": [i]}), paths[-1])

    def read(i: int) -> list[str]:
        return readers.read_parquet(spark, paths[i % 4], ReadOptions()).columns

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(read, range(32), timeout=300))
    finally:
        sys.setswitchinterval(switch)
    assert got == [[f"c{i % 4}"] for i in range(32)]
    assert len(readers._schemas) <= 2


def test_stage_bytes_concurrent_same_bytes(monkeypatch):
    """Threads staging the same bytes at once get one stage directory and
    one complete file, and none of them fails."""
    threads, trials = 8, 50
    monkeypatch.setattr(readers, "_STAGE_DIR", None)
    barrier = threading.Barrier(threads, timeout=30)
    dirs: set[str] = set()

    def stage(data: bytes) -> str:
        barrier.wait()
        return readers.stage_bytes(data, ".bin")

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(threads) as pool:
            for trial in range(trials):
                readers._STAGE_DIR = None
                data = os.urandom(256 * 1024) + bytes([trial % 256])
                paths = list(pool.map(stage, [data] * threads, timeout=60))
                dirs.update(os.path.dirname(p) for p in paths)
                assert len(set(paths)) == 1, paths
                with open(paths[0], "rb") as f:
                    assert f.read() == data
    finally:
        sys.setswitchinterval(switch)
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
    assert len(dirs) == trials


# -- shared one-partition reads --------------------------------------------------


@pytest.fixture
def small_sessions(spark):
    """One-partition sessions (``SMALL_PLAN_CONF``), closed after the test."""
    manager = SessionManager(spark)
    yield lambda: manager.create(conf=SMALL_PLAN_CONF)
    manager.close_all()


def _stored_rdds(spark) -> set[int]:
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _until(predicate, timeout: float = 30) -> bool:
    deadline = time.monotonic() + timeout
    while not predicate() and time.monotonic() < deadline:
        time.sleep(0.02)
    return predicate()


@pytest.mark.parametrize("case", ["parquet", "csv_header", "ndjson"])
def test_shared_read_starts_no_job(spark, tmp_path, shared_cache, small_sessions, case):
    """The second sighting materializes lazily and the third serves the
    materialization: neither registration starts a job, and each reads
    the rows inference read."""
    path = str(tmp_path / f"src_{case}")
    fmt, options = WRITERS[case](spark, path)
    ds = DataSource.from_json({"format": fmt, "name": "src", "location": path, "options": options})
    cold = register(small_sessions(), ds)
    for sighting in (2, 3):
        sess = small_sessions()
        hit, jobs = _jobs(spark, lambda: register(sess, ds))
        assert jobs == 0, sighting
        assert len(sess.releases) == 1
        assert hit.schema == cold.schema
        assert sorted(hit.collect()) == sorted(cold.collect())
    assert [e.plan is not None for e in shared_cache.values()] == [True]


def test_rewrite_in_place_misses_the_materialization(spark, tmp_path, shared_cache, small_sessions):
    """Same size, same mtime, new bytes: the ctime changed, so the key did."""
    path = tmp_path / "t.csv"
    path.write_text("a\n1\n")
    ds = DataSource.from_json({"format": "csv", "name": "t", "location": str(path)})
    for _ in range(3):
        assert register(small_sessions(), ds).collect()[0].a == 1
    st = os.stat(path)
    time.sleep(0.05)  # past the filesystem's timestamp tick
    path.write_text("a\n2\n")
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(path).st_size == st.st_size
    for _ in range(3):
        assert register(small_sessions(), ds).collect()[0].a == 2


def test_materialization_outlives_its_session(spark, tmp_path, shared_cache, small_sessions):
    """The materialization is built in the reader session, so deleting the
    session whose registration built it keeps the entry and its blocks."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(_facts(50), path)
    ds = DataSource.from_json({"format": "parquet", "name": "t", "location": path})
    want = sorted(register(small_sessions(), ds).collect())
    manager = SessionManager(spark)
    builder = manager.create(conf=SMALL_PLAN_CONF)
    assert sorted(register(builder, ds).collect()) == want
    (entry,) = shared_cache.values()
    rdd = entry.plan.rdd().id()
    assert entry.users == 1 and rdd in _stored_rdds(spark)
    manager.delete(builder.session_id)
    assert entry.plan is not None and entry.users == 0
    assert rdd in _stored_rdds(spark)
    hit, jobs = _jobs(spark, lambda: register(small_sessions(), ds))
    assert jobs == 0
    assert sorted(hit.collect()) == want


def test_tenant_set_does_not_reach_the_shared_read(spark, tmp_path, shared_cache, small_sessions):
    """A tenant that ``SET``s a read conf keys its own entry, which is never
    materialized (its conf is not the reader session's); the other
    tenant's shared read keeps ``binary``."""
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab", b"cd"], pa.binary())}), path)
    ds = DataSource.from_json({"format": "parquet", "name": "bin", "location": path})
    for sighting in range(3):
        for binary_as_string, want in ((True, "string"), (False, "binary")):
            sess = small_sessions()
            if binary_as_string:
                sess.spark.sql("SET spark.sql.parquet.binaryAsString=true")
            assert dict(register(sess, ds).dtypes)["b"] == want
            assert bool(sess.releases) == (not binary_as_string and sighting > 0)
    assert sorted(e.plan is not None for e in shared_cache.values()) == [False, True]


def test_eviction_frees_blocks(spark, tmp_path, shared_cache, small_sessions, monkeypatch):
    """Materialized entries hold at most ``SHARED_READ_BYTES`` of files:
    evicting the least recent idle one frees its blocks; an entry a live
    session reads stays until that session closes."""
    assert readers.SHARED_READ_BYTES == 8 * SMALL_INPUT_BYTES
    paths = [str(tmp_path / f"t{i}.parquet") for i in range(2)]
    for p in paths:
        pq.write_table(_facts(50), p)
    monkeypatch.setattr(readers, "SHARED_READ_BYTES", max(os.path.getsize(p) for p in paths))
    sources = [DataSource.from_json({"format": "parquet", "name": "t", "location": p}) for p in paths]

    def shared() -> dict[str, int]:
        out = {e[0]: entry.plan.rdd().id() for key, entry in shared_cache.items()
               if entry.plan is not None for e in key[3]}
        assert sum(os.path.getsize(p) for p in out) <= readers.SHARED_READ_BYTES or any(
            entry.users for entry in shared_cache.values())
        return out

    register(small_sessions(), sources[0])
    holder = small_sessions()
    register(holder, sources[0]).collect()  # materialize and fill the blocks
    rdd0 = shared()[paths[0]]
    assert rdd0 in _stored_rdds(spark)
    register(small_sessions(), sources[1])
    register(small_sessions(), sources[1]).collect()
    assert set(shared()) == set(paths)  # over the bound: t0 is in use
    holder.close()
    assert set(shared()) == {paths[1]}
    assert _until(lambda: rdd0 not in _stored_rdds(spark))
    assert shared()[paths[1]] in _stored_rdds(spark)
