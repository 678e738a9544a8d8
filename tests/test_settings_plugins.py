"""Config-file boot (reference settings.rs), drop-in plugin manifests
(reference definition.rs), and WebDAV credential mapping."""

from __future__ import annotations

import json

import pytest
import requests

from datafusion_server_spark.settings import Settings

TOML = """
[server]
address = "127.0.0.1"
port = 0
plugin_dir = "{plugin_dir}"

[session]
default_keep_alive = 1234
upload_limit_size = 5

[log]
level = "warn"

[[databases]]
type = "postgres"
namespace = "cfgpg"
user = "u"
password = "p"
host = "pg.example"
port = 5433
database = "db1"

[[storages]]
type = "webdav"
url = "https://dav.example/files"
user = "davuser"
password = "davpass"
"""


def test_settings_defaults_match_reference():
    s = Settings.load(None)
    assert s.server.port == 4000
    assert s.server.flight_grpc_port == 50051
    assert s.session.default_keep_alive == 3600
    assert s.session.upload_limit_size == 20
    assert s.upload_limit_bytes == 20 * 1024 * 1024
    # beyond-reference boot pre-warm (r9): default on, config-toggleable
    assert s.server.prewarm is True
    assert Settings.from_dict({"server": {"prewarm": False}}).server.prewarm is False


def test_settings_sqlite_empty_database_rejected():
    """A sqlite [[databases]] entry without a 'database' path must fail at
    config-boot (sqlite3.connect('') would open an anonymous temp db and
    every later table@ns query would fail confusingly)."""
    s = Settings.from_dict(
        {"databases": [{"type": "sqlite", "namespace": "bad"}]}
    )
    with pytest.raises(ValueError, match="non-empty 'database'"):
        s.apply_databases()


def test_metrics_unknown_histogram_rejected():
    """Metrics.record with an undeclared histogram name fails with a
    descriptive error at the call site, not a bare KeyError."""
    from datafusion_server_spark.server.api import Metrics

    m = Metrics()
    with pytest.raises(ValueError, match="unknown histogram 'typo_seconds'"):
        m.record("typo_seconds", 0.5)


def test_settings_toml_and_json_overlay(tmp_path):
    toml_p = tmp_path / "config.toml"
    toml_p.write_text(TOML.format(plugin_dir=tmp_path / "nonexistent"))
    s = Settings.load(toml_p)
    assert s.session.default_keep_alive == 1234
    assert s.upload_limit_bytes == 5 * 1024 * 1024
    assert s.databases[0]["namespace"] == "cfgpg"
    assert s.storages[0]["type"] == "webdav"
    json_p = tmp_path / "config.json"
    json_p.write_text(json.dumps({"server": {"port": 9999}}))
    assert Settings.load(json_p).server.port == 9999


def test_reference_config_with_unread_keys_loads(tmp_path):
    """A reference config file still carrying the keys this server does
    not read (metrics listener, data_dir, [log]) loads; they are ignored."""
    ref = tmp_path / "reference.toml"
    ref.write_text(
        '[server]\naddress = "127.0.0.1"\nport = 4100\nmetrics_address = "0.0.0.0"\n'
        'metrics_port = 9200\ndata_dir = "/var/data"\n\n[log]\nlevel = "debug"\n'
    )
    s = Settings.load(ref)
    assert (s.server.address, s.server.port) == ("127.0.0.1", 4100)
    assert not hasattr(s, "log")
    assert not any(hasattr(s.server, k) for k in ("metrics_address", "metrics_port", "data_dir"))


def test_config_file_boot_e2e(spark, tmp_path):
    """Server boots from a config file: non-default keep-alive applies to
    created sessions, the database namespace resolves, the webdav storage
    lands in the Hadoop conf, upload limit is enforced."""
    from datafusion_server_spark.server.api import Engine
    from datafusion_server_spark.server.http import serve
    from datafusion_server_spark.sources import jdbc

    toml_p = tmp_path / "config.toml"
    toml_p.write_text(TOML.format(plugin_dir=tmp_path / "plugins"))
    settings = Settings.load(toml_p)
    engine = Engine(spark, start_reaper=False, settings=settings)
    httpd = serve(engine, "127.0.0.1", 0)
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        # keep-alive from config when the request doesn't pass one
        r = requests.get(f"{base}/session/create", params={"id": "cfg"})
        assert r.json()["keepAlive"] == 1234
        # namespace registered
        assert jdbc._NAMESPACES["cfgpg"].url == "jdbc:postgresql://pg.example:5433/db1"
        assert jdbc._NAMESPACES["cfgpg"].user == "u"
        # webdav creds in hadoop conf
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        assert hconf.get("fs.webdav.url") == "https://dav.example/files"
        assert hconf.get("fs.webdav.user") == "davuser"
        # upload limit (5 MB) enforced — 413 PAYLOAD_TOO_LARGE (r9
        # reference parity, custom_extractor.rs:30)
        r = requests.post(
            f"{base}/session/cfg/datasource/upload",
            files={"big": ("big.csv", b"a\n" + b"1\n" * (6 * 1024 * 1024 // 2), "text/csv")},
        )
        assert r.status_code == 413 and "exceeds" in r.json()["message"]
        assert r.json()["error"] == "payload_too_large"
    finally:
        httpd.shutdown()
        engine.sessions.delete("cfg")


PLUGIN_MANIFEST = """
[general]
title = "Range data source test plugin"
version = "1.0.0"
plugin_type = "datasource"
scheme = "rangegen"

[plugin]
file = "plugin_main.py"
entry = "main"
"""

PLUGIN_MAIN = """
def main(format, authority, path, schema, **kwargs):
    n = int(authority or 3)
    return [{"i": i, "sq": i * i} for i in range(n)]
"""

PROC_MANIFEST = """
[general]
title = "Uppercase processor test plugin"
version = "1.0.0"
plugin_type = "processor"
module = "upper-test"

[plugin]
file = "plugin_main.py"
entry = "main"
"""

PROC_MAIN = """
import pyarrow as pa

def main(record_batch, **kwargs):
    tbl = pa.Table.from_batches([record_batch])
    cols = {}
    for name in tbl.column_names:
        col = tbl.column(name)
        if pa.types.is_string(col.type):
            col = pa.compute.utf8_upper(col)
        cols[name] = col
    out = pa.table(cols)
    return out.combine_chunks().to_batches()[0]
"""


def _write_minimal_xlsx(path, sheet_name: str, header: list[str], rows: list[list]):
    """Hand-assemble a spec-valid minimal .xlsx (zip of OOXML parts) with
    shared strings, one sheet, and typed cells — no openpyxl needed."""
    import zipfile

    strings: list[str] = []

    def sref(s: str) -> int:
        if s not in strings:
            strings.append(s)
        return strings.index(s)

    def cell(ref, v):
        if isinstance(v, str):
            return f'<c r="{ref}" t="s"><v>{sref(v)}</v></c>'
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>'
        return f'<c r="{ref}"><v>{v}</v></c>'

    cols = "ABCDEFGH"
    body = []
    for rno, row in enumerate([header, *rows], start=1):
        cells = "".join(cell(f"{cols[i]}{rno}", v) for i, v in enumerate(row))
        body.append(f'<row r="{rno}">{cells}</row>')
    sheet_xml = (
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f"<sheetData>{''.join(body)}</sheetData></worksheet>"
    )
    sst = (
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        + "".join(f"<si><t>{s}</t></si>" for s in strings)
        + "</sst>"
    )
    workbook = (
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f'<sheets><sheet name="{sheet_name}" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>'
    )
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/worksheets/sheet1.xml", sheet_xml)
        zf.writestr("xl/sharedStrings.xml", sst)


def test_sqlite_namespace_table_at_ns_e2e(spark, tmp_path):
    """The external-database flow (A11/A12) executes LIVE against a real
    database: a sqlite namespace from config, the table@namespace SQL
    pre-pass registering the table, a join against an in-request source,
    and the schema cache — no JDBC jar involved."""
    import sqlite3

    from datafusion_server_spark.server.api import Engine
    from datafusion_server_spark.sources import jdbc

    db = tmp_path / "ops.sqlite"
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE customers (id INTEGER, name TEXT, tier TEXT)")
        conn.executemany(
            "INSERT INTO customers VALUES (?, ?, ?)",
            [(1, "alice", "gold"), (2, "bob", "silver"), (3, "carol", "gold")],
        )
    cfg = tmp_path / "cfg.toml"
    cfg.write_text(
        "[[databases]]\n"
        'type = "sqlite"\n'
        'namespace = "ops"\n'
        f'database = "{db}"\n'
    )
    settings = Settings.load(cfg)
    engine = Engine(spark, start_reaper=False, settings=settings)
    try:
        assert jdbc._NAMESPACES["ops"].kind == "sqlite"
        data, _ = engine.dataframe_query(
            {
                "query": "SELECT name FROM customers@ops WHERE tier = 'gold' ORDER BY name",
            }
        )
        assert [r["name"] for r in json.loads(data)] == ["alice", "carol"]
        # unknown table -> clear error, not a stack trace
        with pytest.raises(Exception, match="no such sqlite table"):
            jdbc.read_jdbc(spark, "missing", "ops")
    finally:
        jdbc._NAMESPACES.pop("ops", None)


def test_xlsx_plugin_drop_in_e2e(spark, tmp_path):
    """The shipped excel-parity plugin (plugins/datasource-plugin-xlsx)
    loads through manifest discovery and serves a real generated .xlsx
    via the excel:// scheme — the reference's excel plugin workflow, no
    third-party excel library."""
    import pathlib
    import shutil

    from datafusion_server_spark.server.api import Engine
    from datafusion_server_spark.sources import plugins

    repo_plugin = pathlib.Path(__file__).resolve().parent.parent / "plugins" / "datasource-plugin-xlsx"
    pdir = tmp_path / "plugins"
    shutil.copytree(repo_plugin, pdir / "datasource-plugin-xlsx")
    _write_minimal_xlsx(
        tmp_path / "people.xlsx",
        "Roster",
        ["name", "age", "active"],
        [["alice", 30, True], ["bob", 9, False], ["carol", 41, True]],
    )
    settings = Settings.from_dict({"server": {"plugin_dir": str(pdir)}})
    engine = Engine(spark, start_reaper=False, settings=settings)
    try:
        assert plugins.has_scheme("excel")
        data, _ = engine.dataframe_query(
            {
                "dataSources": [
                    {
                        "format": "excel",
                        "name": "people",
                        "location": "excel://people.xlsx/Roster",
                        "pluginOptions": {"dataDir": str(tmp_path)},
                    }
                ],
                "query": "SELECT name, age FROM people WHERE active ORDER BY age DESC",
            }
        )
        assert json.loads(data) == [
            {"name": "carol", "age": 41},
            {"name": "alice", "age": 30},
        ]
    finally:
        plugins.unregister_connector("excel")


def test_base_url_and_stateful_gate_e2e(spark, tmp_path):
    """Reference routes.rs:53-62,72-86 enforcement: all routes nest under
    the normalized base_url, and disable_stateful_features leaves the
    /session router unmounted (404, not 403)."""
    from datafusion_server_spark.server.api import Engine
    from datafusion_server_spark.server.http import serve

    cfg = tmp_path / "cfg.toml"
    cfg.write_text(
        '[server]\naddress = "127.0.0.1"\nport = 0\n'
        'base_url = "/api/"\ndisable_stateful_features = true\n'
    )
    settings = Settings.load(cfg)
    assert settings.normalized_base_url == "/api"  # trailing slash stripped
    engine = Engine(spark, start_reaper=False, settings=settings)
    httpd = serve(engine, "127.0.0.1", 0)
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    csv_p = tmp_path / "people.csv"
    csv_p.write_text("name,age\nalice,30\nbob,9\n")
    payload = {
        "dataSources": [{"format": "csv", "name": "people", "location": str(csv_p)}],
        "query": "SELECT name FROM people WHERE age > 10",
    }
    try:
        # stateless query under the prefix: 200
        r = requests.post(f"{base}/api/dataframe/query", json=payload)
        assert r.status_code == 200, r.text
        assert r.json() == [{"name": "alice"}]
        # unprefixed route: 404
        assert requests.post(f"{base}/dataframe/query", json=payload).status_code == 404
        # stateful routes 404 even under the prefix
        assert requests.get(f"{base}/session/create").status_code == 404
        assert requests.get(f"{base}/api/session/create").status_code == 404
        assert requests.get(f"{base}/api/session").status_code == 404
        # health under prefix AND bare (ops-probe convenience)
        assert requests.get(f"{base}/api/healthz").status_code == 200
        assert requests.get(f"{base}/healthz").status_code == 200
        assert requests.get(f"{base}/metrics").status_code == 200
    finally:
        httpd.shutdown()


def test_plugin_manifest_discovery(spark, tmp_path):
    """Drop a manifest dir, point plugin_dir at it, query through both the
    connector scheme and the processor chain."""
    from datafusion_server_spark.operators import postprocess
    from datafusion_server_spark.server.api import Engine
    from datafusion_server_spark.sources import plugins

    pdir = tmp_path / "plugins"
    (pdir / "datasource-plugin-rangegen").mkdir(parents=True)
    (pdir / "datasource-plugin-rangegen" / "plugin_def.toml").write_text(PLUGIN_MANIFEST)
    (pdir / "datasource-plugin-rangegen" / "plugin_main.py").write_text(PLUGIN_MAIN)
    (pdir / "processor-plugin-upper").mkdir(parents=True)
    (pdir / "processor-plugin-upper" / "plugin_def.toml").write_text(PROC_MANIFEST)
    (pdir / "processor-plugin-upper" / "plugin_main.py").write_text(PROC_MAIN)

    settings = Settings.from_dict({"server": {"plugin_dir": str(pdir)}})
    engine = Engine(spark, start_reaper=False, settings=settings)
    try:
        assert plugins.has_scheme("rangegen")
        assert "upper-test" in postprocess.list_processors()
        data, ct = engine.dataframe_query(
            {
                "dataSources": [
                    {"format": "json", "name": "gen", "location": "rangegen://4/x"}
                ],
                "query": "SELECT CAST(SUM(sq) AS BIGINT) AS s FROM gen",
            }
        )
        assert json.loads(data) == [{"s": 14}]
        # processor plugin through the post-processor chain
        data, _ = engine.dataframe_query(
            {
                "dataSources": [
                    {"format": "json", "name": "gen2", "location": "rangegen://2/x"}
                ],
                "query": "SELECT CONCAT('ab-', i) AS t FROM gen2 ORDER BY i",
                "postProcessors": [{"module": "upper-test"}],
            }
        )
        assert [r["t"] for r in json.loads(data)] == ["AB-0", "AB-1"]
    finally:
        plugins.unregister_connector("rangegen")


def test_sqlite_all_null_column_and_connection_close(spark, tmp_path):
    """All-NULL columns read through the declared-affinity schema (value
    inference would crash), and types map from affinities."""
    import sqlite3

    from datafusion_server_spark.sources import jdbc

    db = tmp_path / "nulls.sqlite"
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE t (id INTEGER, note TEXT, score REAL)")
        conn.executemany("INSERT INTO t VALUES (?, NULL, ?)", [(1, 0.5), (2, 1.5)])
    jdbc.configure_namespace(jdbc.DatabaseNamespace(name="nulls", url=str(db), kind="sqlite"))
    try:
        df = jdbc.read_jdbc(spark, "t", "nulls")
        assert dict(df.dtypes) == {"id": "bigint", "note": "string", "score": "double"}
        assert [r["note"] for r in df.orderBy("id").collect()] == [None, None]
    finally:
        jdbc._NAMESPACES.pop("nulls", None)


def test_xlsx_duplicate_headers_disambiguated(spark, tmp_path):
    import pathlib
    import sys

    plugin_dir = pathlib.Path(__file__).resolve().parent.parent / "plugins" / "datasource-plugin-xlsx"
    sys.path.insert(0, str(plugin_dir))
    try:
        import importlib.util

        spec = importlib.util.spec_from_file_location("xlsx_plug", plugin_dir / "plugin_main.py")
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        _write_minimal_xlsx(
            tmp_path / "dup.xlsx", "S", ["id", "value", "value"], [[1, "a", "b"]]
        )
        batch = mod.main("arrow", "dup.xlsx", "/S", None, dataDir=str(tmp_path))
        assert batch.schema.names == ["id", "value", "value_2"]
        assert batch.column("value").to_pylist() == ["a"]
        assert batch.column("value_2").to_pylist() == ["b"]
    finally:
        sys.path.remove(str(plugin_dir))


def test_server_sessions_run_with_aqe_on(spark):
    """Every server session gets AQE on at create, even when the root
    session runs with it off (the batch-bench configuration):
    newSession() takes its SQLConf from the static SparkConf, so the
    root's runtime conf does not propagate on its own."""
    from datafusion_server_spark.server.api import Engine

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        eng = Engine(spark, start_reaper=False)
        sess = eng.sessions.create()
        assert sess.spark.conf.get("spark.sql.adaptive.enabled") == "true"
        eng.sessions.delete(sess.session_id)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_sqlite_pushdown_keeps_the_rows_spark_keeps(spark, tmp_path):
    """The remote scan must not filter or cut rows the statement never
    filtered: WHERE and LIMIT inside a comment are not SQL, and a WHERE
    that SQLite would lex differently from Spark is not pushed."""
    import sqlite3

    from datafusion_server_spark.server.api import Engine
    from datafusion_server_spark.sources import jdbc

    db = tmp_path / "ops.sqlite"
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE t (a INTEGER, x INTEGER)")
        conn.executemany("INSERT INTO t VALUES (?, ?)", [(1, 1), (2, 2), (3, 1), (4, 3)])
    cfg = tmp_path / "cfg.toml"
    cfg.write_text(f'[[databases]]\ntype = "sqlite"\nnamespace = "ops"\ndatabase = "{db}"\n')
    engine = Engine(spark, start_reaper=False, settings=Settings.load(cfg))
    try:
        pd = jdbc.extract_pushdown("SELECT a, x FROM t@ops -- WHERE x = 1 LIMIT 2", "t", "ops")
        assert pd.where is None and pd.limit is None
        data, _ = engine.dataframe_query(
            {"query": "SELECT a, x FROM t@ops -- WHERE x = 1 LIMIT 2"}
        )
        assert sorted(r["a"] for r in json.loads(data)) == [1, 2, 3, 4]
        # Spark reads one literal up to the last quote and keeps every
        # row; SQLite would end the literal at the backslash and read
        # `OR x < 0 --...`, keeping none.
        sql = r"SELECT a, x FROM t@ops WHERE 'a\' OR x < 0 --' <> 'b' OR x >= 0"
        assert jdbc.extract_pushdown(sql, "t", "ops").where is None
        data, _ = engine.dataframe_query({"query": sql})
        assert sorted(r["a"] for r in json.loads(data)) == [1, 2, 3, 4]
    finally:
        jdbc._NAMESPACES.pop("ops", None)
