from __future__ import annotations

import os

import pytest

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from datafusion_server_spark.session import build_spark

    s = build_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def shared_cache(monkeypatch):
    """An empty schema cache (``sources.readers``) that stores files
    written a moment ago; the blocks of its materializations are freed
    after the test."""
    from datafusion_server_spark.sources import readers

    monkeypatch.setattr(readers, "RACY_WINDOW_NS", 0)
    cache = type(readers._schemas)()
    monkeypatch.setattr(readers, "_schemas", cache)
    yield cache
    for entry in cache.values():
        if entry.plan is not None:
            entry.plan.rdd().unpersist(True)


@pytest.fixture
def connector_reads(monkeypatch):
    """Every connector read the test makes: ``DataFrameReader.format`` of
    "avro" or "delta", a ``load`` of an ``s3a://`` path, and any
    ``spark.read.jdbc``. Without the connector each of them fails."""
    from pyspark.sql.readwriter import DataFrameReader

    calls: list[tuple[str, str]] = []

    def record(method: str, is_connector) -> None:
        original = getattr(DataFrameReader, method)

        def wrapper(self, arg=None, *args, **kwargs):
            if is_connector(arg):
                calls.append((method, str(arg)))
            return original(self, arg, *args, **kwargs)

        monkeypatch.setattr(DataFrameReader, method, wrapper)

    record("format", lambda source: source in ("avro", "delta"))
    record("load", lambda path: str(path).startswith("s3a://"))
    record("jdbc", lambda url: True)
    return calls
