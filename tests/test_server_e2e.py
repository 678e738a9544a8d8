"""End-to-end REST + Flight tests replaying the reference's documented
curl flows (SURVEY §5.2): stateless query, session lifecycle, merge
processors, upload, save, Flight do_put/do_get."""

from __future__ import annotations

import io
import json

import pyarrow as pa
import pytest
import requests

from datafusion_server_spark.server.api import Engine
from datafusion_server_spark.server.http import serve

CSV = b"id,name,score\n1,alice,9.5\n2,bob,7.25\n3,carol,8.0\n"


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark, start_reaper=False)


@pytest.fixture(scope="module")
def base_url(engine):
    httpd = serve(engine, "127.0.0.1", 0)
    host, port = httpd.server_address[:2]
    yield f"http://{host}:{port}"
    httpd.shutdown()


def test_healthz(base_url):
    r = requests.get(f"{base_url}/healthz")
    assert r.status_code == 200 and r.text == "OK"


def test_sysinfo_metrics(base_url):
    assert "spark" in requests.get(f"{base_url}/sysinfo").json()
    assert "http_requests_total" in requests.get(f"{base_url}/metrics").text


def test_metrics_histogram_parity(base_url, tmp_path, engine):
    """Reference-parity telemetry (metrics.rs:43-48,70-147): latency
    histograms with the reference's exact bucket boundaries and names,
    matched-path labels, and session-duration observations on close."""
    p = tmp_path / "m.csv"
    p.write_bytes(CSV)
    payload = {
        "dataSources": [{"format": "csv", "name": "mpeople", "location": str(p)}],
        "query": "SELECT COUNT(*) AS n FROM mpeople",
    }
    assert requests.post(f"{base_url}/dataframe/query", json=payload).status_code == 200
    # named session lifecycle -> session_context_duration_seconds on close
    requests.get(f"{base_url}/session/create", params={"id": "metrics-sess"})
    requests.delete(f"{base_url}/session/metrics-sess")
    text = requests.get(f"{base_url}/metrics").text
    # http histogram with the reference API buckets (5ms..10s) + labels
    assert '# TYPE http_requests_duration_seconds histogram' in text
    assert 'http_requests_duration_seconds_bucket{method="POST",path="/dataframe/query",status="200",le="0.005"}' in text
    assert 'le="10.0"' in text and 'le="+Inf"' in text
    assert 'http_requests_duration_seconds_count{method="POST",path="/dataframe/query",status="200"}' in text
    # matched-path template, not the raw id-bearing path
    assert 'path="/session/:session_id"' in text
    # session-context metrics with the reference session buckets
    assert "session_contexts_total" in text
    assert 'session_context_duration_seconds_bucket{le="0.1"}' in text
    assert 'session_context_duration_seconds_bucket{le="3600.0"}' in text
    # data-source registrations labeled by scheme+format
    assert 'data_source_registrations_total{format="csv",scheme="file"}' in text
    # unrouted paths collapse to ONE sentinel label — a scanner must not
    # be able to allocate unbounded per-URL metric series
    requests.get(f"{base_url}/totally/bogus/deadbeef-1234")
    requests.get(f"{base_url}/another\"quoted")
    text = requests.get(f"{base_url}/metrics").text
    assert 'path="/unmatched"' in text
    assert "deadbeef" not in text and "another" not in text


def test_stateless_dataframe_query(base_url, tmp_path):
    p = tmp_path / "s.csv"
    p.write_bytes(CSV)
    payload = {
        "dataSources": [{"format": "csv", "name": "people", "location": str(p)}],
        "query": "SELECT name, score FROM people WHERE score > 7.5 ORDER BY score DESC",
    }
    r = requests.post(f"{base_url}/dataframe/query", json=payload)
    assert r.status_code == 200, r.text
    rows = r.json()
    assert [row["name"] for row in rows] == ["alice", "carol"]


def test_stateless_query_csv_response(base_url, tmp_path):
    p = tmp_path / "s2.csv"
    p.write_bytes(CSV)
    payload = {
        "dataSources": [{"format": "csv", "name": "people2", "location": str(p)}],
        "query": "SELECT name FROM people2 ORDER BY name",
        "response": {"format": "csv", "options": {"delimiter": ";"}},
    }
    r = requests.post(f"{base_url}/dataframe/query", json=payload)
    assert r.headers["Content-Type"].startswith("text/csv")
    assert r.text.splitlines() == ["name", "alice", "bob", "carol"]


def test_stateless_query_arrow_response(base_url, tmp_path):
    p = tmp_path / "s3.csv"
    p.write_bytes(CSV)
    payload = {
        "dataSources": [{"format": "csv", "name": "people3", "location": str(p)}],
        "query": "SELECT id, name FROM people3",
        "response": {"format": "arrow"},
    }
    r = requests.post(f"{base_url}/dataframe/query", json=payload)
    table = pa.ipc.open_stream(io.BytesIO(r.content)).read_all()
    assert table.num_rows == 3
    assert table.column_names == ["id", "name"]


def test_session_lifecycle(base_url, tmp_path):
    # create
    r = requests.get(f"{base_url}/session/create", params={"id": "e2e", "keepAlive": 600})
    assert r.json()["id"] == "e2e"
    # add data source
    p = tmp_path / "le.csv"
    p.write_bytes(CSV)
    r = requests.post(
        f"{base_url}/session/e2e/datasource",
        json=[{"format": "csv", "name": "people", "location": str(p)}],
    )
    assert "people" in r.json()["dataSources"]
    # list + detail
    assert any(s["id"] == "e2e" for s in requests.get(f"{base_url}/session").json())
    detail = requests.get(f"{base_url}/session/e2e").json()
    assert "people" in detail["dataSources"]
    assert detail["dataSources"]["people"]["schema"]["fields"][0]["name"] == "id"
    # query (JSON body)
    r = requests.post(
        f"{base_url}/session/e2e/query",
        json={"sql": "SELECT COUNT(*) AS n FROM people"},
    )
    assert r.json() == [{"n": 3}]
    # query (raw SQL body)
    r = requests.post(
        f"{base_url}/session/e2e/query",
        data="SELECT MAX(score) AS m FROM people",
        headers={"Content-Type": "application/sql"},
    )
    assert r.json() == [{"m": 9.5}]
    # remove data source, then 404 on it
    assert requests.delete(f"{base_url}/session/e2e/datasource/people").json()["removed"]
    r = requests.get(f"{base_url}/session/e2e/datasource/people")
    assert r.status_code == 404
    # delete session
    assert requests.delete(f"{base_url}/session/e2e").json()["deleted"] == "e2e"
    assert requests.get(f"{base_url}/session/e2e").status_code == 404


def test_oneshot_installs_dialect_function_only_when_named(engine, tmp_path):
    """The ``regexp_match`` DDL costs more than the rest of a session's
    create, so a one-shot pays it only when its SQL names the function."""
    p = tmp_path / "fn.csv"
    p.write_bytes(CSV)
    source = [{"format": "csv", "name": "fnpeople", "location": str(p)}]
    with engine._oneshot({"dataSources": source, "query": "SELECT name FROM fnpeople"}) as df:
        assert df.toArrow().num_rows == 3
        assert not df.sparkSession.catalog.functionExists("regexp_match")
    query = "SELECT regexp_match(name, '(r+)') AS m FROM fnpeople ORDER BY id"
    with engine._oneshot({"dataSources": source, "query": query}) as df:
        assert df.toArrow().column("m").to_pylist() == [None, None, ["r"]]
        assert df.sparkSession.catalog.functionExists("regexp_match")


def test_regexp_match_on_fresh_named_session(base_url):
    requests.get(f"{base_url}/session/create", params={"id": "fresh-regexp"})
    try:
        r = requests.post(f"{base_url}/session/fresh-regexp/query",
                          json={"sql": "SELECT regexp_match('a1b2', '([0-9])') AS m"})
        assert r.status_code == 200, r.text
        assert r.json() == [{"m": ["1"]}]
    finally:
        requests.delete(f"{base_url}/session/fresh-regexp")


def test_session_upload_and_save(base_url, tmp_path):
    requests.get(f"{base_url}/session/create", params={"id": "up"})
    r = requests.post(
        f"{base_url}/session/up/datasource/upload",
        files={"u1": ("u1.csv", CSV, "text/csv")},
    )
    assert r.json() == {"uploaded": [{"name": "u1", "format": "csv"}]}
    r = requests.post(
        f"{base_url}/session/up/query", json={"sql": "SELECT COUNT(*) AS n FROM u1"}
    )
    assert r.json() == [{"n": 3}]
    out = tmp_path / "saved.json"
    r = requests.post(
        f"{base_url}/session/up/datasource/save",
        json={"dataSources": [{"name": "u1", "location": str(out), "format": "json"}]},
    )
    assert r.status_code == 200, r.text
    assert len(json.loads(out.read_text())) == 3
    # the reference routes are the only ones: no bare save/upload aliases
    for action in ("save", "upload"):
        assert requests.post(f"{base_url}/session/up/{action}", data=b"").status_code == 404
    requests.delete(f"{base_url}/session/up")


def test_incremental_stream_first_chunk_before_slow_partition(spark):
    """A21 semantics (record_batch_stream.rs:42-73): chunks go out as
    execution produces them. With a 3 s sleep in the LAST partition, the
    first chunk must arrive long before the stream drains — i.e. no
    full-result driver materialization before the first byte."""
    import time

    from pyspark.sql import functions as F

    from datafusion_server_spark.server import encoders

    @F.udf("long")
    def slow(v):
        if v == 1:
            time.sleep(3)
        return v

    # spark.range(0, 2, 1, 2): two fixed partitions, no shuffle/AQE merge
    df = spark.range(0, 2, 1, 2).select(slow("id").alias("id"))
    t0 = time.time()
    gen = encoders.arrow_ipc_chunks(df)
    first_chunk = next(gen)
    t_first = time.time() - t0
    rest = b"".join(gen)
    t_total = time.time() - t0
    assert t_total >= 2.5, "sleep partition should dominate total time"
    assert t_first < t_total - 2.0, (
        f"first chunk at {t_first:.2f}s should not wait for the slow "
        f"partition (total {t_total:.2f}s)"
    )
    table = pa.ipc.open_stream(io.BytesIO(first_chunk + rest)).read_all()
    assert sorted(table.column("id").to_pylist()) == [0, 1]


def test_incremental_stream_empty_result(spark):
    from datafusion_server_spark.server import encoders

    df = spark.range(5).filter("id < 0")
    data = b"".join(encoders.arrow_ipc_chunks(df))
    table = pa.ipc.open_stream(io.BytesIO(data)).read_all()
    assert table.num_rows == 0 and table.column_names == ["id"]


# One column of each type the streamed path must carry as toArrow does
TYPE_MATRIX_SQL = """
SELECT CAST(id AS TINYINT) i8, CAST(id AS SMALLINT) i16, CAST(id AS INT) i32, id i64,
       CAST(id AS FLOAT) f32, CAST(id AS DOUBLE) f64,
       CAST(id AS DECIMAL(10, 2)) dec, CAST(id AS DECIMAL(38, 10)) dec38,
       CAST(id AS STRING) str, CAST(CAST(id AS STRING) AS BINARY) bin, id % 2 = 0 flag,
       DATE'2024-01-02' + CAST(id AS INT) dt,
       TIMESTAMP'2024-01-02 03:04:05' + make_interval(0, 0, 0, 0, 0, 0, id) ts,
       CAST(TIMESTAMP'2024-01-02 03:04:05' AS TIMESTAMP_NTZ) ts_ntz,
       array(id, id + 1) arr, named_struct('x', id, 'y', CAST(id AS STRING)) st,
       map(CAST(id AS STRING), id) mp, NULL nul, make_dt_interval(0, 0, 0, id) dti,
       CASE WHEN id % 3 = 0 THEN NULL ELSE CAST(id AS STRING) END nullable_str
FROM range(0, 50, 1, 3)
"""


@pytest.mark.parametrize("large_var_types", ["false", "true"])
def test_arrow_stream_matches_to_arrow(spark, large_var_types):
    """The streamed path reads Spark's batches against the declared
    schema, so that schema must be the one ``toArrow`` builds, under the
    session's ``useLargeVarTypes``: a wrong declaration would misread
    the buffers, not just mislabel them."""
    from datafusion_server_spark.server import encoders

    sess = spark.newSession()
    sess.conf.set("spark.sql.execution.arrow.useLargeVarTypes", large_var_types)
    df = sess.sql(TYPE_MATRIX_SQL)
    expected = df.toArrow()
    schema, batches = encoders.arrow_stream(df)
    assert schema == expected.schema
    assert pa.Table.from_batches(list(batches), schema).equals(expected)


def test_multipart_upload_reference_route(base_url, tmp_path):
    """Reference-compatible upload: POST /session/:id/datasource/upload with
    a multipart/form-data body, one table per field, format sniffed per
    field (data_source.rs:70-134, routes.rs:46-50)."""
    requests.get(f"{base_url}/session/create", params={"id": "mp"})
    r = requests.post(
        f"{base_url}/session/mp/datasource/upload",
        files={
            "tbl_csv": ("people.csv", CSV, "text/csv"),
            "tbl_json": (
                "extra.json",
                json.dumps([{"id": 10, "name": "dan"}, {"id": 11, "name": "eve"}]).encode(),
                "application/json",
            ),
        },
    )
    assert r.status_code == 200, r.text
    uploaded = {u["name"]: u["format"] for u in r.json()["uploaded"]}
    assert uploaded == {"tbl_csv": "csv", "tbl_json": "json"}
    r = requests.post(
        f"{base_url}/session/mp/query",
        json={"sql": "SELECT (SELECT COUNT(*) FROM tbl_csv) + (SELECT COUNT(*) FROM tbl_json) AS n"},
    )
    assert r.json() == [{"n": 5}]
    # format sniff from filename extension when the part content-type is
    # generic (reference falls back to the extension)
    r = requests.post(
        f"{base_url}/session/mp/datasource/upload",
        files={"tbl2": ("more.csv", CSV, "application/octet-stream")},
    )
    assert r.json()["uploaded"] == [{"name": "tbl2", "format": "csv"}]
    # unsniffable format -> 415
    r = requests.post(
        f"{base_url}/session/mp/datasource/upload",
        files={"bad": ("blob.bin", b"\x00\x01", "application/octet-stream")},
    )
    assert r.status_code == 415
    # reference save route with the DataSources payload shape
    out = tmp_path / "mp_saved.json"
    r = requests.post(
        f"{base_url}/session/mp/datasource/save",
        json={"dataSources": [{"format": "json", "name": "tbl_json", "location": str(out)}]},
    )
    assert r.status_code == 200, r.text
    assert len(json.loads(out.read_text())) == 2
    requests.delete(f"{base_url}/session/mp")


def test_merge_processor_over_rest(base_url, tmp_path):
    requests.get(f"{base_url}/session/create", params={"id": "mg"})
    a = tmp_path / "a.csv"
    a.write_bytes(b"k,v\n1,x\n2,y\n")
    b = tmp_path / "b.csv"
    b.write_bytes(b"k2,w\n1,p\n2,q\n")
    requests.post(
        f"{base_url}/session/mg/datasource",
        json=[
            {"format": "csv", "name": "base_t", "location": str(a)},
            {"format": "csv", "name": "tgt_t", "location": str(b)},
        ],
    )
    r = requests.post(
        f"{base_url}/session/mg/processor",
        json={
            "mergeProcessors": [
                {
                    "direction": "column",
                    "baseTable": "base_t",
                    "targets": [{"table": "tgt_t", "baseKeys": ["k"], "targetKeys": ["k2"]}],
                }
            ]
        },
    )
    assert r.status_code == 200, r.text
    r = requests.post(
        f"{base_url}/session/mg/query",
        json={"sql": "SELECT * FROM base_t ORDER BY k"},
    )
    rows = r.json()
    assert rows == [{"k": 1, "v": "x", "w": "p"}, {"k": 2, "v": "y", "w": "q"}]
    requests.delete(f"{base_url}/session/mg")


def test_post_processor_pivot(base_url, tmp_path):
    p = tmp_path / "pp.csv"
    p.write_bytes(b"cat,kind,val\na,x,1\na,y,3\nb,x,5\nb,y,7\n")
    payload = {
        "dataSources": [{"format": "csv", "name": "pp", "location": str(p)}],
        "query": "SELECT * FROM pp",
        "postProcessors": [
            {"module": "pivot-table", "pluginOptions": {"index": "cat", "columns": "kind", "values": "val"}}
        ],
    }
    r = requests.post(f"{base_url}/dataframe/query", json=payload)
    rows = sorted(r.json(), key=lambda x: x["cat"])
    assert rows[0]["x"] == 1.0 and rows[0]["y"] == 3.0


def test_post_processor_output_skips_spark(engine):
    """A post-processor's Arrow output goes straight to the encoder: a
    type Spark cannot hold (uint32) comes back unchanged."""
    from datafusion_server_spark.operators import postprocess

    def as_uint32(rb, **_):
        return pa.RecordBatch.from_arrays([rb.column(0).cast(pa.uint32())], ["u"])

    postprocess.register_processor("as-uint32", as_uint32)
    try:
        data, _ = engine.dataframe_query({
            "query": "SELECT CAST(id AS INT) AS v FROM range(3)",
            "postProcessors": [{"module": "as-uint32"}],
            "response": {"format": "arrow"},
        })
    finally:
        postprocess._PROCESSORS.pop("as-uint32")
    table = pa.ipc.open_stream(io.BytesIO(data)).read_all()
    assert table.schema == pa.schema([("u", pa.uint32())])
    assert table.column("u").to_pylist() == [0, 1, 2]


def test_error_routes(base_url):
    assert requests.get(f"{base_url}/nope").status_code == 404
    assert requests.post(f"{base_url}/session/ghost/query", json={"sql": "SELECT 1"}).status_code == 404
    r = requests.post(f"{base_url}/dataframe/query", json={"query": "SELECT bogus FROM nothing"})
    assert r.status_code == 400
    # reference-parity body shape (http_error.rs ResponseError)
    body = r.json()
    assert set(body) == {"code", "error", "message"}
    assert body["code"] == 400 and body["error"] == "uncategorized_error"
    assert "nothing" in body["message"] or "TABLE_OR_VIEW" in body["message"].upper()


def test_flight_do_put_do_get(engine):
    fl = pytest.importorskip("pyarrow.flight")
    from datafusion_server_spark.server.flight import serve as flight_serve

    server = flight_serve(engine, "grpc://127.0.0.1:0")
    port = server.port
    engine.session_create("fl", 600)
    client = fl.FlightClient(f"grpc://127.0.0.1:{port}")

    # do_put: upload a table into session "fl"
    table = pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    desc = fl.FlightDescriptor.for_path("fl", "uploaded")
    writer, _ = client.do_put(desc, table.schema)
    writer.write_table(table)
    writer.close()

    # do_get with bare table name
    got = client.do_get(fl.Ticket(b"fl/uploaded")).read_all()
    assert got.num_rows == 3

    # do_get with SQL
    got = client.do_get(fl.Ticket(b"fl/SELECT COUNT(*) AS n FROM uploaded")).read_all()
    assert got.to_pylist() == [{"n": 3}]

    # get_schema
    info = client.get_flight_info(fl.FlightDescriptor.for_path("fl", "uploaded"))
    assert {f.name for f in info.schema} == {"a", "b"}
    engine.sessions.delete("fl")

    # flight telemetry parity (reference metrics.rs:101-128): counters +
    # API-bucket latency histograms per RPC method
    text = engine.metrics.prometheus()
    assert 'flight_requests_total{method="do_put",status="ok"}' in text
    assert 'flight_requests_total{method="do_get",status="ok"}' in text
    assert 'flight_requests_duration_seconds_bucket{method="do_get",status="ok",le="0.005"}' in text
    assert 'flight_requests_duration_seconds_bucket{method="do_get",status="ok",le="+Inf"}' in text


def test_refresh_flight_upload_is_client_error(engine, base_url):
    """A table uploaded through do_put has no location to re-read: a
    refresh answers 400 naming the cause, and the table stays."""
    fl = pytest.importorskip("pyarrow.flight")
    from datafusion_server_spark.server.flight import serve as flight_serve
    from datafusion_server_spark.sources.registry import DataSourceError

    server = flight_serve(engine, "grpc://127.0.0.1:0")
    engine.session_create("flrefresh", 600)
    try:
        client = fl.FlightClient(f"grpc://127.0.0.1:{server.port}")
        table = pa.table({"a": [1, 2, 3]})
        writer, _ = client.do_put(fl.FlightDescriptor.for_path("flrefresh", "up"), table.schema)
        writer.write_table(table)
        writer.close()
        with pytest.raises(DataSourceError, match="uploaded through Flight do_put"):
            engine.refresh_data_source("flrefresh", "up")
        r = requests.get(f"{base_url}/session/flrefresh/datasource/up/refresh")
        assert r.status_code == 400 and "do_put" in r.json()["message"]
        assert engine.sessions.get("flrefresh").spark.table("up").count() == 3
    finally:
        server.shutdown()
        engine.sessions.delete("flrefresh")


def test_prewarm_compiles_both_plans(engine, monkeypatch):
    """Boot pre-warm drives both one-shot plans: the synthetic no-source
    queries run SERVING_CONF, the tiny parquet query the small plan."""
    from datafusion_server_spark.session import SERVING_CONF, SMALL_PLAN_CONF

    confs = []
    create = engine.sessions.create

    def recording_create(*args, **kwargs):
        confs.append(kwargs.get("conf"))
        return create(*args, **kwargs)

    monkeypatch.setattr(engine.sessions, "create", recording_create)
    engine.prewarm()
    assert SERVING_CONF in confs and SMALL_PLAN_CONF in confs


def test_flight_do_get_table_at_namespace(spark, tmp_path):
    """Flight tickets take the same SQL entry as REST: the
    ``table@namespace`` pre-pass registers a configured database table
    on a fresh session, and get_flight_info reports the schema do_get
    streams."""
    fl = pytest.importorskip("pyarrow.flight")
    import sqlite3

    from datafusion_server_spark.server.flight import serve as flight_serve
    from datafusion_server_spark.settings import Settings
    from datafusion_server_spark.sources import jdbc

    db = tmp_path / "flops.sqlite"
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE customers (id INTEGER, name TEXT)")
        conn.executemany("INSERT INTO customers VALUES (?, ?)", [(1, "a"), (2, "b")])
    settings = Settings.from_dict(
        {"databases": [{"type": "sqlite", "namespace": "flops", "database": str(db)}]}
    )
    ns_engine = Engine(spark, start_reaper=False, settings=settings)
    server = flight_serve(ns_engine, "grpc://127.0.0.1:0")
    try:
        client = fl.FlightClient(f"grpc://127.0.0.1:{server.port}")
        sql = "SELECT id, name FROM customers@flops WHERE id = 1"
        ns_engine.session_create("flns_get", 600)
        got = client.do_get(fl.Ticket(f"flns_get/{sql}".encode())).read_all()
        assert got.to_pylist() == [{"id": 1, "name": "a"}]
        ns_engine.session_create("flns_info", 600)
        info = client.get_flight_info(fl.FlightDescriptor.for_command(f"flns_info/{sql}"))
        assert info.schema == got.schema
    finally:
        server.shutdown()
        ns_engine.sessions.close_all()
        jdbc._NAMESPACES.pop("flops", None)


def test_table_at_namespace_errors_surface(spark, tmp_path):
    """A misspelt namespace or a missing database table answers with its
    own message, not a generic TABLE_OR_VIEW_NOT_FOUND."""
    import sqlite3

    from datafusion_server_spark.settings import Settings
    from datafusion_server_spark.sources import jdbc

    db = tmp_path / "ops.sqlite"
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE customers (id INTEGER, name TEXT)")
        conn.execute("INSERT INTO customers VALUES (1, 'a')")
    settings = Settings.from_dict(
        {"databases": [{"type": "sqlite", "namespace": "ops", "database": str(db)}]}
    )
    ns_engine = Engine(spark, start_reaper=False, settings=settings)
    try:
        with pytest.raises(Exception, match="unknown database namespace"):
            ns_engine.dataframe_query({"query": "SELECT name FROM customers@opz"})
        with pytest.raises(Exception, match="no such sqlite table"):
            ns_engine.dataframe_query({"query": "SELECT name FROM custmers@ops"})
    finally:
        jdbc._NAMESPACES.pop("ops", None)


def test_flight_do_exchange(engine):
    """Beyond-reference do_exchange: push a table, transform it with SQL
    referencing `exchange_input`, pull the result in one round trip."""
    fl = pytest.importorskip("pyarrow.flight")
    from datafusion_server_spark.server.flight import serve as flight_serve

    server = flight_serve(engine, "grpc://127.0.0.1:0")
    client = fl.FlightClient(f"grpc://127.0.0.1:{server.port}")
    engine.session_create("flx", 600)
    try:
        table = pa.table({"k": ["a", "a", "b"], "v": [1, 2, 10]})
        desc = fl.FlightDescriptor.for_command(
            b"flx/SELECT k, CAST(SUM(v) AS BIGINT) AS total"
            b" FROM exchange_input GROUP BY k ORDER BY k"
        )
        writer, reader = client.do_exchange(desc)
        writer.begin(table.schema)
        writer.write_table(table)
        writer.done_writing()
        got = reader.read_all()
        writer.close()
        assert got.to_pylist() == [{"k": "a", "total": 3}, {"k": "b", "total": 10}]
        # per-call unique view was dropped: no exchange_input* residue that
        # a concurrent exchange could clobber (ADVICE r2)
        sess = engine.sessions.get("flx")
        leftover = [
            t.name for t in sess.spark.catalog.listTables()
            if t.name.startswith("exchange_input")
        ]
        assert leftover == [], leftover
    finally:
        engine.sessions.delete("flx")


def test_stateless_query_arrow_stream_chunked(base_url, tmp_path):
    p = tmp_path / "s4.csv"
    p.write_bytes(CSV)
    payload = {
        "dataSources": [{"format": "csv", "name": "people4", "location": str(p)}],
        "query": "SELECT id, name FROM people4 ORDER BY id",
        "response": {"format": "arrow", "stream": True},
    }
    r = requests.post(f"{base_url}/dataframe/query", json=payload)
    assert r.headers["Content-Type"].startswith("application/vnd.apache.arrow.stream")
    table = pa.ipc.open_stream(io.BytesIO(r.content)).read_all()
    assert table.num_rows == 3 and table.column_names == ["id", "name"]


def test_stateless_arrow_stream_applies_post_processors(base_url, tmp_path):
    """A streamed Arrow request with postProcessors is answered through
    the buffered path, so the processors still run (reference
    dataframe.rs:83-91 streams only unprocessed results)."""
    p = tmp_path / "pps.csv"
    p.write_bytes(b"cat,kind,val\na,x,1\na,y,3\nb,x,5\nb,y,7\n")
    payload = {
        "dataSources": [{"format": "csv", "name": "pps", "location": str(p)}],
        "query": "SELECT * FROM pps",
        "postProcessors": [
            {"module": "pivot-table", "pluginOptions": {"index": "cat", "columns": "kind", "values": "val"}}
        ],
        "response": {"format": "arrow", "stream": True},
    }
    r = requests.post(f"{base_url}/dataframe/query", json=payload)
    assert r.status_code == 200, r.text
    rows = sorted(pa.ipc.open_stream(io.BytesIO(r.content)).read_all().to_pylist(),
                  key=lambda x: x["cat"])
    assert [(row["cat"], row["x"], row["y"]) for row in rows] == [
        ("a", 1.0, 3.0), ("b", 5.0, 7.0)
    ]


def test_udf_registration_surface(spark):
    """SURVEY §2.D: runtime scalar UDFs are a Spark superset over the
    reference (which has none user-definable)."""
    from pyspark.sql.types import LongType

    spark.udf.register("my_double_it", lambda x: x * 2, LongType())
    out = spark.sql("SELECT my_double_it(21) AS v").collect()
    assert out[0]["v"] == 42


def test_accept_header_negotiation(base_url, tmp_path):
    p = tmp_path / "s5.csv"
    p.write_bytes(CSV)
    payload = {
        "dataSources": [{"format": "csv", "name": "people5", "location": str(p)}],
        "query": "SELECT name FROM people5 ORDER BY name",
    }
    r = requests.post(
        f"{base_url}/dataframe/query", json=payload, headers={"Accept": "text/csv"}
    )
    assert r.headers["Content-Type"].startswith("text/csv")
    r = requests.post(
        f"{base_url}/dataframe/query",
        json=payload,
        headers={"Accept": "application/vnd.apache.arrow.stream"},
    )
    assert r.headers["Content-Type"].startswith("application/vnd.apache.arrow.stream")


def test_cross_server_flight_source(engine, spark):
    """Reference §3.3 scale-out: one server's session feeds another via
    the `flight` data-source format (A10 client + A22 server)."""
    fl = pytest.importorskip("pyarrow.flight")
    from datafusion_server_spark.server.flight import serve as flight_serve
    from datafusion_server_spark.sources.registry import DataSource, register

    server = flight_serve(engine, "grpc://127.0.0.1:0")
    engine.session_create("peer", 600)
    sess = engine.sessions.get("peer")
    # note: the view must be created through the session's OWN SparkSession
    # (temp views live in the catalog of the session that built the DF)
    sess.register("shared_t", sess.spark.createDataFrame([(1, "x"), (2, "y")], ["k", "v"]))

    # "another server": a fresh isolated session ingesting over Flight
    engine.session_create("consumer", 600)
    consumer = engine.sessions.get("consumer")
    ds = DataSource.from_json(
        {
            "format": "flight",
            "name": "remote_t",
            "location": f"grpc://127.0.0.1:{server.port}/peer/SELECT k, v FROM shared_t WHERE k = 2",
        }
    )
    register(consumer, ds)
    rows = consumer.sql("SELECT * FROM remote_t").collect()
    assert [(r["k"], r["v"]) for r in rows] == [(2, "y")]
    engine.sessions.delete("peer")
    engine.sessions.delete("consumer")


def test_concurrent_rest_queries(base_url, tmp_path):
    """ThreadingHTTPServer + shared SparkContext under parallel load."""
    import concurrent.futures

    p = tmp_path / "conc.csv"
    p.write_bytes(CSV)

    def one(i: int):
        payload = {
            "dataSources": [{"format": "csv", "name": f"conc{i}", "location": str(p)}],
            "query": f"SELECT COUNT(*) + {i} AS n FROM conc{i}",
        }
        r = requests.post(f"{base_url}/dataframe/query", json=payload, timeout=120)
        assert r.status_code == 200, r.text
        return r.json()[0]["n"]

    with concurrent.futures.ThreadPoolExecutor(8) as ex:
        results = list(ex.map(one, range(8)))
    assert results == [3 + i for i in range(8)]


def test_concurrent_session_isolation(base_url, tmp_path):
    """N sessions each register a table with the SAME NAME but different
    data, then query in parallel — catalog isolation (newSession per
    server session) must hold under concurrent load: every session sees
    only its own rows."""
    import concurrent.futures

    n = 6
    for i in range(n):
        p = tmp_path / f"iso{i}.csv"
        p.write_text(f"id,score\n{i},{i * 10}\n")
        r = requests.get(
            f"{base_url}/session/create", params={"id": f"iso{i}", "keepAlive": 600}
        )
        assert r.json()["id"] == f"iso{i}"
        r = requests.post(
            f"{base_url}/session/iso{i}/datasource",
            json=[{"format": "csv", "name": "shared_name", "location": str(p)}],
        )
        assert "shared_name" in r.json()["dataSources"]

    def one(i: int):
        r = requests.post(
            f"{base_url}/session/iso{i}/query",
            json={"sql": "SELECT id, score FROM shared_name"},
            timeout=120,
        )
        assert r.status_code == 200, r.text
        return r.json()

    try:
        with concurrent.futures.ThreadPoolExecutor(n) as ex:
            results = list(ex.map(one, range(n)))
        for i, rows in enumerate(results):
            assert rows == [{"id": i, "score": i * 10}], (i, rows)
    finally:
        for i in range(n):
            requests.delete(f"{base_url}/session/iso{i}")


def test_upload_limit_413_parity(spark):
    """Reference parity (custom_extractor.rs:30, http_error.rs:153):
    a body over session.upload_limit_size answers 413 PAYLOAD_TOO_LARGE
    (was a generic 400), and the connection is dropped unread so a
    keep-alive peer cannot misparse the stream."""
    from datafusion_server_spark.settings import Settings

    settings = Settings.from_dict({"session": {"upload_limit_size": 1}})
    engine = Engine(spark, start_reaper=False, settings=settings)
    httpd = serve(engine, "127.0.0.1", 0)
    host, port = httpd.server_address[:2]
    base = f"http://{host}:{port}"
    try:
        big = b"k,v\n" + b"1,2\n" * (600 * 1024)  # ~2.3 MB > 1 MB limit
        r = requests.post(
            f"{base}/session/up413/datasource/upload",
            files={"t": ("t.csv", big, "text/csv")},
        )
        assert r.status_code == 413, (r.status_code, r.text[:120])
        # an in-limit request on a fresh connection still works
        requests.get(f"{base}/session/create", params={"id": "up413"})
        ok = requests.post(
            f"{base}/session/up413/datasource/upload",
            files={"t": ("t.csv", b"k,v\n1,2\n", "text/csv")},
        )
        assert ok.status_code == 200, ok.text
    finally:
        httpd.shutdown()
