"""Concurrency e2e for the server shell (r9, verdict task 3).

The reference is a MULTI-SESSION server (tokio + per-session
SessionContext); we bench queries but had never driven N-parallel REST
load. Two contracts under race:

1. Parallel stateless ``/dataframe/query`` requests all succeed and
   return correct results (each creates + destroys its own session).
2. NAMED sessions are ``newSession``-isolated: the SAME view name
   uploaded with different content in N concurrent sessions never
   bleeds — every session reads back exactly its own rows while other
   threads create/query/delete around it.
"""

from __future__ import annotations

import json
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
import requests

from datafusion_server_spark.server.api import Engine
from datafusion_server_spark.server.http import serve


@pytest.fixture(scope="module")
def base_url(spark):
    engine = Engine(spark, start_reaper=False)
    httpd = serve(engine, "127.0.0.1", 0)
    host, port = httpd.server_address[:2]
    yield f"http://{host}:{port}"
    httpd.shutdown()


def test_parallel_stateless_queries(base_url, tmp_path):
    """32 concurrent stateless one-shots: all 200, all correct."""
    p = tmp_path / "vals.csv"
    p.write_bytes(b"k,v\n" + b"".join(f"{i},{i * 3}\n".encode() for i in range(50)))
    expect = sum(i * 3 for i in range(50))

    def one(i: int):
        payload = {
            "dataSources": [{"format": "csv", "name": f"vals{i}", "location": str(p)}],
            "query": f"SELECT CAST(SUM(v) AS BIGINT) AS s FROM vals{i}",
            "response": {"format": "json"},
        }
        r = requests.post(f"{base_url}/dataframe/query", json=payload)
        return r.status_code, r.json()

    with ThreadPoolExecutor(max_workers=32) as ex:
        results = list(ex.map(one, range(64)))
    assert all(code == 200 for code, _ in results)
    assert all(body == [{"s": expect}] for _, body in results)


def test_no_cross_session_view_bleed_under_race(base_url):
    """16 named sessions, all uploading the SAME view name ``people``
    with session-specific content, querying it repeatedly while the
    other 15 threads create/upload/query/delete in parallel. Any shared
    catalog state would make some session read another's rows."""
    n_sessions, n_queries = 16, 6
    barrier = threading.Barrier(n_sessions)
    failures: list[str] = []

    def one(i: int):
        sid = f"conc-{i}"
        try:
            r = requests.get(f"{base_url}/session/create", params={"id": sid})
            assert r.status_code == 200, r.text
            csv = "k,v\n" + "".join(f"{j},{i * 1000 + j}\n" for j in range(20))
            r = requests.post(
                f"{base_url}/session/{sid}/datasource/upload",
                files={"people": ("people.csv", csv.encode(), "text/csv")},
            )
            assert r.status_code == 200, r.text
            barrier.wait(timeout=60)  # maximize overlap before the reads
            want = sum(i * 1000 + j for j in range(20))
            for _ in range(n_queries):
                r = requests.post(
                    f"{base_url}/session/{sid}/query",
                    json={"sql": "SELECT CAST(SUM(v) AS BIGINT) AS s FROM people"},
                    headers={"Accept": "application/json"},
                )
                assert r.status_code == 200, r.text
                got = json.loads(r.content)
                assert got == [{"s": want}], f"session {sid} read {got}, want {want}"
        except Exception as e:  # noqa: BLE001 — collected for the main thread
            failures.append(f"{sid}: {e}")
        finally:
            requests.delete(f"{base_url}/session/{sid}")

    with ThreadPoolExecutor(max_workers=n_sessions) as ex:
        list(ex.map(one, range(n_sessions)))
    assert not failures, failures
