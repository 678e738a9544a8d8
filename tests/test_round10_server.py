"""Round-10 server-parity additions (r9 verdict tasks 3-5):

- permissive CORS layer — reference lib/src/server/http.rs:17-34 wraps
  every route in tower_http CorsLayer (any origin, OPTIONS preflight,
  5 methods, accept/language/auth/content headers);
- SIGTERM graceful shutdown — reference signal_handler.rs:5-29 selects
  over ctrl-c AND terminate, then drains;
- hot-bucket guard for the LSH band self-join (operators/dedup.py).
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

import pytest
import requests

from datafusion_server_spark.server.api import Engine
from datafusion_server_spark.server.http import Handler, serve


@pytest.fixture(scope="module")
def base_url(spark):
    engine = Engine(spark, start_reaper=False)
    httpd = serve(engine, "127.0.0.1", 0)
    host, port = httpd.server_address[:2]
    yield f"http://{host}:{port}"
    httpd.shutdown()


def test_cors_preflight_dataframe_query(base_url):
    """OPTIONS preflight answers for any route with the reference's
    CorsLayer surface: any origin, the five methods, the five headers
    (http.rs:17-34). allow_credentials(false) => NO
    Access-Control-Allow-Credentials header (CORS spec: absence IS
    false; tower-http emits none)."""
    r = requests.options(
        f"{base_url}/dataframe/query",
        headers={
            "Origin": "http://example.com",
            "Access-Control-Request-Method": "POST",
            "Access-Control-Request-Headers": "content-type,authorization",
        },
    )
    assert r.status_code == 200
    assert r.headers["Access-Control-Allow-Origin"] == "*"
    methods = {m.strip() for m in r.headers["Access-Control-Allow-Methods"].split(",")}
    assert methods == {"GET", "POST", "PUT", "DELETE", "OPTIONS"}
    allow_headers = {
        h.strip() for h in r.headers["Access-Control-Allow-Headers"].split(",")
    }
    assert {"accept", "authorization", "content-type"} <= allow_headers
    assert "Access-Control-Allow-Credentials" not in r.headers


def test_cors_actual_request_headers(base_url, tmp_path):
    """Every actual response (success AND error) carries allow-origin —
    the CorsLayer wraps the whole router, errors included."""
    csv = tmp_path / "t.csv"
    csv.write_bytes(b"id,v\n1,2\n")
    ok = requests.post(
        f"{base_url}/dataframe/query",
        json={
            "dataSources": [
                {"format": "csv", "name": "t", "location": str(csv),
                 "options": {"inferSchemaRows": 10, "hasHeader": True}}
            ],
            "query": "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t",
        },
        headers={"Origin": "http://example.com"},
    )
    assert ok.status_code == 200
    assert ok.headers["Access-Control-Allow-Origin"] == "*"
    err = requests.get(f"{base_url}/no/such/route")
    assert err.status_code == 404
    assert err.headers["Access-Control-Allow-Origin"] == "*"
    # healthz too (unprefixed ops route)
    hz = requests.get(f"{base_url}/healthz")
    assert hz.headers["Access-Control-Allow-Origin"] == "*"


def test_cors_preflight_not_metric_tracked(spark):
    """The reference's CorsLayer sits OUTSIDE the telemetry layer, so
    preflights don't land in the request histograms."""
    engine = Engine(spark, start_reaper=False)
    httpd = serve(engine, "127.0.0.1", 0)
    try:
        host, port = httpd.server_address[:2]
        before = engine.metrics.prometheus()
        r = requests.options(f"http://{host}:{port}/dataframe/query")
        assert r.status_code == 200
        assert engine.metrics.prometheus() == before
    finally:
        httpd.shutdown()


def test_cors_constants_match_reference():
    """Header sets mirror http.rs:19-31 name-for-name."""
    assert Handler._CORS_ALLOW_HEADERS.split(",") == [
        "accept",
        "accept-language",
        "authorization",
        "content-language",
        "content-type",
    ]
    assert Handler._CORS_ALLOW_METHODS.split(",") == [
        "GET",
        "POST",
        "PUT",
        "DELETE",
        "OPTIONS",
    ]


def test_sigterm_graceful_shutdown(tmp_path):
    """SIGTERM (the orchestrator signal, reference signal_handler.rs)
    drains the subprocess server: it stops accepting, closes live
    sessions through the same path as the TTL reaper (duration metric
    via on_close), logs the drain, and exits 0."""
    cfg = tmp_path / "cfg.json"
    cfg.write_text(
        '{"server": {"address": "127.0.0.1", "port": 0, "prewarm": false}}'
    )
    proc = subprocess.Popen(
        [sys.executable, "-m", "datafusion_server_spark", "-f", str(cfg),
         "--flight-port", "0"],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        cwd="/root/repo",
        env={**os.environ, "PYTHONUNBUFFERED": "1"},
    )
    try:
        # wait for the REST banner to learn the ephemeral port
        port = None
        deadline = time.time() + 120
        for line in proc.stdout:
            if line.startswith("REST:"):
                port = int(line.rsplit(":", 1)[1])
                break
            if time.time() > deadline:
                break
        assert port, "server never printed its REST banner"
        base = f"http://127.0.0.1:{port}"
        # a live session must be drained (not leaked) on shutdown
        sid = requests.get(f"{base}/session/create", timeout=30).json()["id"]
        assert sid
        proc.send_signal(signal.SIGTERM)
        out = proc.stdout.read()
        rc = proc.wait(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
    assert rc == 0
    assert "graceful shutdown" in out
    assert "closed 1 session(s)" in out


def test_boot_prewarms_before_rest_banner(tmp_path):
    """``python -m datafusion_server_spark`` is the one boot path: with
    ``server.prewarm`` set it pre-warms before the REST listener opens,
    so the log shows ``prewarmed in`` ahead of the ``REST:`` banner."""
    cfg = tmp_path / "cfg.json"
    cfg.write_text('{"server": {"address": "127.0.0.1", "port": 0, "prewarm": true}}')
    proc = subprocess.Popen(
        [sys.executable, "-m", "datafusion_server_spark", "-f", str(cfg),
         "--flight-port", "0"],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env={**os.environ, "PYTHONUNBUFFERED": "1"},
    )
    lines = []
    try:
        deadline = time.time() + 240
        for line in proc.stdout:
            lines.append(line)
            if line.startswith("REST:") or time.time() > deadline:
                break
        proc.send_signal(signal.SIGTERM)
        proc.wait(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
    banner = [i for i, line in enumerate(lines) if line.startswith("REST:")]
    warmed = [i for i, line in enumerate(lines) if line.startswith("prewarmed in")]
    assert banner and warmed and warmed[0] < banner[0], lines


def test_close_all_fires_duration_metrics(spark):
    """Engine.sessions.close_all() runs the reaper's close path: the
    on_close hook records a session-duration observation per session."""
    def duration_count(text: str) -> int:
        for line in text.splitlines():
            if "session_context_duration" in line and line.split()[0].endswith("_count"):
                return int(float(line.split()[-1]))
        return 0

    engine = Engine(spark, start_reaper=False)
    engine.sessions.create("a", keep_alive_s=3600)
    engine.sessions.create("b", keep_alive_s=3600)
    n0 = duration_count(engine.metrics.prometheus())
    closed = engine.sessions.close_all()
    assert sorted(closed) == ["a", "b"]
    assert engine.sessions.list() == []
    assert duration_count(engine.metrics.prometheus()) == n0 + 2


# ---------------------------------------------------------------- LSH cap


def test_lsh_hot_bucket_cap_bounds_degenerate_bucket(spark):
    """A 1000-doc identical-text corpus funnels every doc into ONE
    (band, bucket) per band; uncapped, the self-join would emit
    1000*999/2 pairs. With max_bucket_members=32 the pair count is
    bounded at 32*31/2 (identical docs keep identical signatures, so
    all bands keep the SAME smallest-32 members), the drop count is
    observable (no silent caps), and survivors are the deterministic
    smallest ids."""
    from pyspark.sql import Observation

    from datafusion_server_spark.operators import dedup

    docs = spark.range(1000).selectExpr(
        "id AS doc_id",
        "'the same boilerplate text repeated across every mirror page of"
        " the crawl corpus' AS text",
    )
    obs = Observation()
    pairs = dedup.lsh_candidate_pairs(
        docs,
        "text",
        "doc_id",
        materialize=False,
        max_bucket_members=32,
        bucket_cap_observation=obs,
    )
    rows = pairs.collect()
    assert len(rows) == 32 * 31 // 2
    ids = {r.id_a for r in rows} | {r.id_b for r in rows}
    assert ids == set(range(32))  # deterministic smallest-id survivors
    assert all(r.jaccard == 1.0 for r in rows)
    # logged, not silent: 4 bands x (1000 - 32) dropped memberships
    assert obs.get["dropped"] == 4 * (1000 - 32)
    assert obs.get["kept"] == 4 * 32


def test_lsh_cap_auto_default_matches_uncapped_below_cap(spark, sf_dir):
    """r12 (verdict task 3): the default is now the stats-derived auto
    cap. Below the cap it is bit-identical to the explicit opt-out
    (``None``, unbounded join) AND to a cap pinned above every real
    bucket — the fixture's bucket histogram tops out at 3 members vs
    the 256 auto floor."""
    from datafusion_server_spark import tables
    from datafusion_server_spark.operators import dedup

    docs = tables.load(spark, sf_dir, "documents")
    auto = dedup.lsh_candidate_pairs(docs, "text", "doc_id", materialize=False)
    uncapped = dedup.lsh_candidate_pairs(
        docs, "text", "doc_id", materialize=False, max_bucket_members=None
    )
    pinned = dedup.lsh_candidate_pairs(
        docs, "text", "doc_id", materialize=False, max_bucket_members=100_000
    )
    a = sorted(map(tuple, auto.collect()))
    b = sorted(map(tuple, uncapped.collect()))
    c = sorted(map(tuple, pinned.collect()))
    assert a == b == c and len(a) > 0


def test_lsh_auto_cap_sizing_and_engagement(spark):
    """auto_bucket_cap math (sqrt budget, floor/ceiling clamps) and the
    default path actually engaging on a degenerate corpus: 1000
    identical docs collapse into one bucket per band; the auto default
    bounds the survivors at the derived cap with deterministic
    smallest-id keeps and a logged drop count."""
    from pyspark.sql import Observation

    from datafusion_server_spark.operators import dedup
    from datafusion_server_spark.operators.similarity import estimate_row_count

    assert dedup.auto_bucket_cap(100) == 256  # floor
    assert dedup.auto_bucket_cap(1_000_000) == 8001  # sqrt(2*32*1e6)+1
    assert dedup.auto_bucket_cap(10**9) == 65536  # ceiling
    assert dedup.auto_bucket_cap(0) == 256

    docs = spark.range(1000).selectExpr(
        "id AS doc_id",
        "'the same boilerplate text repeated across every mirror page of"
        " the crawl corpus' AS text",
    )
    cap = dedup.auto_bucket_cap(estimate_row_count(docs, 256))
    obs = Observation()
    pairs = dedup.lsh_candidate_pairs(
        docs, "text", "doc_id", materialize=False,
        bucket_cap_observation=obs,
    )
    rows = pairs.collect()
    eff = min(cap, 1000)
    assert len(rows) == eff * (eff - 1) // 2
    ids = {r.id_a for r in rows} | {r.id_b for r in rows}
    assert ids == set(range(eff))  # deterministic smallest-id survivors
    assert obs.get["dropped"] == 4 * (1000 - eff)
    assert obs.get["kept"] == 4 * eff


def test_lsh_cap_plan_has_no_new_unbounded_exchange(spark):
    """The guard's window partitions by the SAME (band, bucket) key the
    candidate join shuffles on — no single-partition exchange appears."""
    from datafusion_server_spark.operators import dedup

    docs = spark.range(200).selectExpr(
        "id AS doc_id", "concat('doc ', id, ' words vary per row') AS text"
    )
    plan = dedup.lsh_candidate_pairs(
        docs, "text", "doc_id", materialize=False, max_bucket_members=64
    )._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_incremental_lsh_index_bucket_cap_opt_in(spark):
    """r12: the incremental probe's INDEX-side hot-bucket guard is
    opt-in (default None = exact): a degenerate index bucket of
    identical docs fans out every matching batch doc by the bucket
    population; the cap bounds it at cap candidates per (band, batch
    doc) with deterministic smallest-id keeps and logged drops."""
    from pyspark.sql import Observation

    from datafusion_server_spark.operators import dedup

    corpus = spark.range(200).selectExpr(
        "id AS doc_id",
        "'the same boilerplate text repeated across every mirror page of"
        " the crawl corpus' AS text",
    )
    batch = spark.range(1000, 1002).selectExpr(
        "id AS doc_id",
        "'the same boilerplate text repeated across every mirror page of"
        " the crawl corpus' AS text",
    )
    index = dedup.lsh_signature_index(corpus, "text", "doc_id", materialize=False)

    exact = dedup.lsh_pairs_against_index(
        batch, index, "text", "doc_id", materialize=False
    )
    assert exact.count() == 2 * 200  # every batch doc pairs the whole bucket

    obs = Observation()
    capped = dedup.lsh_pairs_against_index(
        batch, index, "text", "doc_id", materialize=False,
        index_bucket_cap=16, bucket_cap_observation=obs,
    )
    rows = capped.collect()
    assert len(rows) == 2 * 16
    assert {r.index_id for r in rows} == set(range(16))  # smallest ids kept
    assert obs.get["dropped"] == 4 * (200 - 16)
    assert obs.get["kept"] == 4 * 16
