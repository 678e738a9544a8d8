"""The one-shot plan choice and partition independence.

A stateless one-shot whose inputs are all local file trees below
``session.SMALL_INPUT_BYTES`` runs ``SMALL_PLAN_CONF`` (AQE off, one
shuffle partition, no broadcast) over one-partition views when each
input is one file, and ``SMALL_SPLIT_CONF`` when some input is a tree
of several files; everything else runs ``SERVING_CONF``. The same SQL
thus runs under several plans, so the results must not depend on the
plan:
each one-shot shape and a handful of iterative registry rows run under
four confs and must return the same rows. From its second one-partition
read on, a file the schema cache knows is read from a shared one-partition
materialization (``sources.readers``); the shapes must read the same rows
from it.

A ``local[5]`` master cannot share this test JVM, so that variant stays
a manual run of the registry in a separate process.
"""

from __future__ import annotations

import http.server
import os
import sqlite3
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq
import pytest

from datafusion_server_spark import session as session_mod
from datafusion_server_spark.server import api
from datafusion_server_spark.server.api import Engine
from datafusion_server_spark.session import SERVING_CONF, SMALL_PLAN_CONF

AQE = "spark.sql.adaptive.enabled"
WIDTH = "spark.sql.shuffle.partitions"
BROADCAST = "spark.sql.autoBroadcastJoinThreshold"


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark, start_reaper=False)


def _fact(rng, rows: int) -> pa.Table:
    return pa.table({
        "id": pa.array(np.arange(rows), pa.int64()),
        "grp": pa.array(rng.integers(0, 40, rows), pa.int32()),
        "cat": pa.array(np.array(["a", "b", "c", "d"])[rng.integers(0, 4, rows)]),
        "qty": pa.array(rng.integers(1, 51, rows), pa.int32()),
        "cents": pa.array(rng.integers(100, 100_000, rows), pa.int64()),
    })


def _dim(rng) -> pa.Table:
    return pa.table({
        "grp": pa.array(range(40), pa.int32()),
        "label": [f"L{g}_{int(rng.integers(0, 4))}" for g in range(40)],
        "region": pa.array(rng.integers(0, 5, 40), pa.int32()),
    })


def _write(tbl: pa.Table, path: str) -> dict:
    if path.endswith(".csv"):
        pacsv.write_csv(tbl, path)
        return {"format": "csv", "location": path}
    pq.write_table(tbl, path)
    return {"format": "parquet", "location": path}


@pytest.fixture(scope="module")
def sources(tmp_path_factory) -> dict[str, dict]:
    """Two fact files and one dimension file, parquet and CSV mixed."""
    d = tmp_path_factory.mktemp("small_plan")
    rng = np.random.Generator(np.random.PCG64(11))
    return {
        "f0": _write(_fact(rng, 2000), str(d / "f0.parquet")),
        "f1": _write(_fact(rng, 1500), str(d / "f1.csv")),
        "dim": _write(_dim(rng), str(d / "dim.csv")),
    }


_AGG = ("SELECT cat, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(qty) AS BIGINT) AS q, "
        "CAST(SUM(cents) AS BIGINT) AS c FROM s0 WHERE qty >= 5 GROUP BY cat ORDER BY cat")
_BY_LABEL = ("SELECT label, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS c "
             "FROM s0 WHERE qty >= 5 GROUP BY label ORDER BY label")
SHAPES = {
    "agg": (("f0",), _AGG, None),
    "join": (
        ("f0", "dim"),
        "SELECT d.label, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(f.cents) AS BIGINT) AS c "
        "FROM s0 f JOIN s1 d ON f.grp = d.grp WHERE f.qty >= 5 GROUP BY d.label ORDER BY d.label",
        None,
    ),
    "join3": (
        ("f0", "f1", "dim"),
        "SELECT d.region, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(u.cents) AS BIGINT) AS c "
        "FROM (SELECT grp, cents, qty FROM s0 UNION ALL SELECT grp, cents, qty FROM s1) u "
        "JOIN s2 d ON u.grp = d.grp WHERE u.qty >= 5 GROUP BY d.region ORDER BY d.region",
        None,
    ),
    "merge_row": (("f0", "f1"), _AGG,
                  {"direction": "row", "baseTable": "s0", "targetTables": ["s1"]}),
    "merge_col": (("f0", "dim"), _BY_LABEL,
                  {"direction": "column", "baseTable": "s0",
                   "targets": [{"table": "s1", "baseKeys": ["grp"], "targetKeys": ["grp"]}]}),
}


def _payload(sources: dict, shape: str, fmt: str = "arrow") -> dict:
    names, sql, merge = SHAPES[shape]
    payload = {
        "dataSources": [dict(sources[n], name=f"s{k}") for k, n in enumerate(names)],
        "query": sql,
        "response": {"format": fmt},
    }
    if merge is not None:
        payload["processor"] = {"mergeProcessors": [merge]}
    return payload


# -- the plan choice -------------------------------------------------------------


def _oneshot_conf(engine: Engine, payload: dict) -> dict[str, str]:
    with engine._oneshot(payload) as df:
        conf = df.sparkSession.conf
        return {AQE: conf.get(AQE), WIDTH: conf.get(WIDTH)}


def _collect_traced(spark, df, group: str) -> tuple[pa.Table, int, int]:
    """``df.toArrow()`` with the number of Spark jobs and stages it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "small plan job count")
    try:
        rows = df.toArrow()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    return rows, len(jobs), sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)


def _is_serving(conf: dict[str, str], spark) -> bool:
    return conf == {AQE: "true", WIDTH: spark.conf.get(WIDTH)}


@pytest.mark.parametrize("fmt", ["parquet", "csv"])
def test_small_local_oneshot_runs_small_plan(engine, sources, spark, fmt):
    """Known-small local inputs plan with AQE off and one shuffle
    partition: the grouped, ordered aggregate runs as ONE Spark job (the
    serving plan needs a job per exchange plus a sort sample)."""
    src = sources["f0" if fmt == "parquet" else "f1"]
    payload = {"dataSources": [dict(src, name="s0")], "query": _AGG}
    with engine._oneshot(payload) as df:
        conf = df.sparkSession.conf
        assert conf.get(AQE) == "false" and conf.get(WIDTH) == "1"
        rows, jobs, _ = _collect_traced(spark, df, f"small-plan-{fmt}")
    assert rows.num_rows == 4
    assert jobs == 1


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_small_plan_shape_is_one_job_one_stage(engine, sources, spark, shape):
    """Under the small plan every source view is one partition and
    broadcast is off, so no shape plans an exchange or a broadcast job:
    the query is one Spark job of one stage."""
    with engine._oneshot(_payload(sources, shape)) as df:
        assert df.sparkSession.conf.get(BROADCAST) == "-1"
        rows, jobs, stages = _collect_traced(spark, df, f"one-stage-{shape}")
    assert rows.num_rows > 0
    assert (jobs, stages) == (1, 1)


def test_above_threshold_keeps_serving_conf(engine, sources, spark, monkeypatch):
    payload = _payload(sources, "join")
    assert _oneshot_conf(engine, payload) == {AQE: "false", WIDTH: "1"}
    total = sum(os.path.getsize(sources[n]["location"]) for n in ("f0", "dim"))
    monkeypatch.setattr(session_mod, "SMALL_INPUT_BYTES", total)
    assert _is_serving(_oneshot_conf(engine, payload), spark)
    monkeypatch.setattr(session_mod, "SMALL_INPUT_BYTES", total + 1)
    assert _oneshot_conf(engine, payload) == {AQE: "false", WIDTH: "1"}


def test_plan_conf_one_stage_needs_one_file_per_source():
    small = session_mod.SMALL_INPUT_BYTES // 4
    assert session_mod.plan_conf([(small, 1), (small, 1)]) is SMALL_PLAN_CONF
    assert session_mod.plan_conf([(small, 1), (small, 16)]) is session_mod.SMALL_SPLIT_CONF
    assert session_mod.plan_conf([(small * 3, 1), (small, 1)]) is SERVING_CONF
    assert session_mod.plan_conf(None) is SERVING_CONF


def test_small_multi_file_tree_keeps_splits_and_broadcast(engine, spark, tmp_path):
    """A small tree of several files plans AQE off at width 1, but keeps
    broadcast and Spark's splits: one scan task over 16 files, or a join
    that shuffles the whole fact side, cost more than the stages saved."""
    rng = np.random.Generator(np.random.PCG64(5))
    for i in range(3):
        pq.write_table(_fact(rng, 200), str(tmp_path / f"part-{i}.parquet"))
    payload = {"dataSources": [{"format": "parquet", "name": "s0", "location": str(tmp_path)}],
               "query": _AGG}
    with engine._oneshot(payload) as df:
        conf = df.sparkSession.conf
        assert {k: conf.get(k) for k in (AQE, WIDTH, BROADCAST)} == {
            AQE: "false", WIDTH: "1", BROADCAST: spark.conf.get(BROADCAST)}
        assert "Repartition" not in df.sparkSession.table("s0")._jdf.queryExecution().analyzed().toString()
        assert df.toArrow().num_rows == 4


def test_no_source_keeps_serving_conf(engine, spark):
    conf = _oneshot_conf(engine, {"query": "SELECT id FROM range(10)"})
    assert _is_serving(conf, spark)


def test_http_source_keeps_serving_conf(engine, spark, tmp_path):
    """A remote location's size is unknown before it is fetched."""
    (tmp_path / "h.csv").write_bytes(b"a,b\n1,2\n")

    class Quiet(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, directory=str(tmp_path), **kwargs)

        def log_message(self, *args):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Quiet)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/h.csv"
        payload = {"dataSources": [{"format": "csv", "name": "h", "location": url}],
                   "query": "SELECT * FROM h"}
        assert _is_serving(_oneshot_conf(engine, payload), spark)
    finally:
        srv.shutdown()
        srv.server_close()


def test_table_at_namespace_keeps_serving_conf(spark, sources, tmp_path):
    from datafusion_server_spark.settings import Settings
    from datafusion_server_spark.sources import jdbc

    db = tmp_path / "plan.sqlite"
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE labels (grp INTEGER, name TEXT)")
        conn.execute("INSERT INTO labels VALUES (1, 'one')")
    settings = Settings.from_dict(
        {"databases": [{"type": "sqlite", "namespace": "plans", "database": str(db)}]}
    )
    ns_engine = Engine(spark, start_reaper=False, settings=settings)
    try:
        payload = {
            "dataSources": [dict(sources["f0"], name="s0")],
            "query": "SELECT l.name, COUNT(*) AS n FROM s0 JOIN labels@plans l "
                     "ON s0.grp = l.grp GROUP BY l.name",
        }
        assert _is_serving(_oneshot_conf(ns_engine, payload), spark)
    finally:
        ns_engine.sessions.close_all()
        jdbc._NAMESPACES.pop("plans", None)


def test_symlinked_subdirectory_keeps_serving_conf(engine, spark, tmp_path):
    """A symlinked directory is not walked (it may loop), so the tree's
    size is unknown."""
    tree = tmp_path / "tree"
    tree.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), str(tree / "part-0.parquet"))
    (tmp_path / "elsewhere").mkdir()
    os.symlink(tmp_path / "elsewhere", tree / "_linked")
    payload = {"dataSources": [{"format": "parquet", "name": "t", "location": str(tree)}],
               "query": "SELECT * FROM t"}
    assert _is_serving(_oneshot_conf(engine, payload), spark)


def test_named_session_keeps_serving_conf(engine, sources, spark):
    engine.session_create("small-plan-named", 600)
    try:
        engine.session_add_datasource("small-plan-named", dict(sources["f0"], name="s0"))
        sess = engine.sessions.get("small-plan-named")
        conf = sess.spark.conf
        assert _is_serving({AQE: conf.get(AQE), WIDTH: conf.get(WIDTH)}, spark)
        assert not sess.single_partition
    finally:
        engine.sessions.delete("small-plan-named")


# -- shared one-partition reads --------------------------------------------------


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_known_files_read_from_shared_materialization(engine, sources, spark, shared_cache, shape):
    """The first sighting of each file coalesces its scan; the second
    materializes it and the third reads that materialization. Each
    sighting returns the same rows as one job of one stage, and no
    Coalesce sits over a materialized source."""
    names = set(SHAPES[shape][0])
    got = []
    for sighting in range(3):
        with engine._oneshot(_payload(sources, shape)) as df:
            plan = _analyzed(df)
            rows, jobs, stages = _collect_traced(spark, df, f"shared-{shape}-{sighting}")
        got.append(rows)
        assert (jobs, stages) == (1, 1), sighting
        shared = [e for e in shared_cache.values() if e.plan is not None]
        if sighting == 0:
            assert "Repartition 1, false" in plan and not shared
        else:
            assert "Repartition" not in plan and "LogicalRDD" in plan
            assert len(shared) == len(names)
            assert all(e.users == 0 for e in shared)
    assert got[0].num_rows > 0
    assert got[1].equals(got[0]) and got[2].equals(got[0])


@pytest.mark.parametrize("shape", ["self_join", "merge_row"])
def test_one_file_under_two_names(engine, sources, spark, shared_cache, shape):
    """Both views of one file read the same materialization: a self-join
    and a row merge of the file with itself read its rows twice."""
    payload = {
        "dataSources": [dict(sources["f0"], name="s0"), dict(sources["f0"], name="s1")],
        "query": _AGG,
        "response": {"format": "arrow"},
    }
    if shape == "self_join":
        payload["query"] = ("SELECT a.cat, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(b.qty) AS BIGINT) AS q "
                            "FROM s0 a JOIN s1 b ON a.id = b.id WHERE a.qty >= 5 GROUP BY a.cat ORDER BY a.cat")
    else:
        payload["processor"] = {"mergeProcessors": [
            {"direction": "row", "baseTable": "s0", "targetTables": ["s1"]}]}
    got = []
    for _ in range(3):
        body, _ = engine.dataframe_query(payload)
        got.append(pa.ipc.open_stream(body).read_all())
    assert [e.plan is not None for e in shared_cache.values()] == [True]
    assert got[1].equals(got[0]) and got[2].equals(got[0])
    once = pq.read_table(sources["f0"]["location"]).to_pandas()
    once = once[once.qty >= 5].groupby("cat")
    twice = 2 if shape == "merge_row" else 1
    assert got[0].column("n").to_pylist() == [twice * n for n in once.size().sort_index()]
    assert got[0].column("q").to_pylist() == [twice * q for q in once.qty.sum().sort_index()]


def test_concurrent_second_sightings(engine, sources, spark, shared_cache):
    """More one-shots than cores racing to materialize the same files all
    read the same rows, one materialization per file survives and no
    read is left holding it (a lost update of ``users`` would)."""
    payload = _payload(sources, "join3")
    first, _ = engine.dataframe_query(payload)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            bodies = list(pool.map(lambda _: engine.dataframe_query(payload)[0], range(16), timeout=600))
    finally:
        sys.setswitchinterval(switch)
    assert all(body == first for body in bodies)
    assert len(shared_cache) == 3
    assert all(e.plan is not None and e.users == 0 for e in shared_cache.values())


# -- partition independence ------------------------------------------------------

CONFS = {
    "serving": SERVING_CONF,
    "serving_w7": {**SERVING_CONF, WIDTH: "7"},
    "aqe_off_w7": {AQE: "false", WIDTH: "7"},
    "small_plan": SMALL_PLAN_CONF,
}


def _sorted(table: pa.Table) -> pa.Table:
    return table.sort_by([(c, "ascending") for c in table.column_names])


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_oneshot_shapes_partition_independent(engine, sources, monkeypatch, shared_cache, shape):
    """Every conf infers with the same key, so the serving run stores each
    schema, the first small-plan run materializes each file and the last
    two read the materializations."""
    got = {}
    runs = [*CONFS.items(), ("small_plan_hit", SMALL_PLAN_CONF), ("small_plan_hit2", SMALL_PLAN_CONF)]
    for name, conf in runs:
        monkeypatch.setattr(api, "plan_conf", lambda _, conf=conf: conf)
        body, _ = engine.dataframe_query(_payload(sources, shape))
        got[name] = _sorted(pa.ipc.open_stream(body).read_all())
    assert got["serving"].num_rows > 0
    assert len(shared_cache) == len(set(SHAPES[shape][0]))
    assert all(entry.plan is not None for entry in shared_cache.values())
    for name, table in got.items():
        assert table.equals(got["serving"]), f"{shape} under {name} differs from serving"


# iterating rows: a fixed point or a fixed number of rounds over shuffles
ITERATIVE_ROWS = (
    "graph_pagerank_trade",
    "cluster_kmeans_assign",
    "unigram_vocab_em",
    "doremi_domain_weights",
)


@pytest.mark.parametrize("name", ITERATIVE_ROWS)
def test_iterative_rows_partition_independent(engine, sf_dir, name):
    from datafusion_server_spark.queries import registry

    qd = registry()[name]
    got = {}
    for conf_name, conf in CONFS.items():
        sess = engine.sessions.create(conf=conf)
        try:
            got[conf_name] = _sorted(qd.build(sess.spark, sf_dir).toArrow())
        finally:
            engine.sessions.delete(sess.session_id)
    assert got["serving"].num_rows > 0
    for conf_name, table in got.items():
        assert table.equals(got["serving"]), f"{name} under {conf_name} differs from serving"
