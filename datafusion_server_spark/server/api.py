"""Query lifecycle (reference §3.1/§3.2): the engine object the REST and
Flight front-ends call into.

``POST /dataframe/query`` path (reference lib/src/response/handler/
dataframe.rs:18-92): parse request -> ephemeral session (keepAlive 60 s)
-> ingest dataSources -> merge processors -> transpile + spark.sql ->
post-processors -> encode -> destroy session.

Session path (handler/session.rs:90-215): same steps against a named,
TTL-kept session.
"""

from __future__ import annotations

import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from datafusion_server_spark.functions.dialect import find_table_at_namespace, transpile
from datafusion_server_spark.operators.merge import MergeProcessor, execute_merge
from datafusion_server_spark.operators import postprocess
from datafusion_server_spark.server import encoders
from datafusion_server_spark.session import (
    STATELESS_KEEP_ALIVE_S,
    ServerSession,
    SessionManager,
    plan_conf,
)
from datafusion_server_spark.sources import readers
from datafusion_server_spark.sources import registry as source_registry


# Reference bucket boundaries, name-for-name (metrics.rs:43-48).
API_SECONDS_BUCKETS = (0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0)
SESSION_SECONDS_BUCKETS = (0.1, 1.0, 2.5, 5.0, 10.0, 30.0, 60.0, 600.0, 1800.0, 3600.0)


class _Histogram:
    __slots__ = ("buckets", "counts", "sum", "count")

    def __init__(self, buckets: tuple[float, ...]):
        self.buckets = buckets
        self.counts = [0] * len(buckets)
        self.sum = 0.0
        self.count = 0

    def record(self, value: float) -> None:
        for i, b in enumerate(self.buckets):
            if value <= b:
                self.counts[i] += 1
        self.sum += value
        self.count += 1


def _esc_label(v: str) -> str:
    """Prometheus exposition-format label escaping (backslash, quote,
    newline) — a label value must not be able to corrupt the output."""
    return str(v).replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


def _fmt_labels(labels: tuple[tuple[str, str], ...], extra: str = "") -> str:
    parts = [f'{k}="{_esc_label(v)}"' for k, v in labels]
    if extra:
        parts.append(extra)
    return "{" + ",".join(parts) + "}" if parts else ""


@dataclass
class Metrics:
    """Reference-parity telemetry (metrics.rs:16-160): the same metric
    names, label sets, and histogram bucket boundaries the reference's
    Prometheus recorder publishes —

    - ``http_requests_total{method,path,status}`` /
      ``http_requests_duration_seconds`` (5ms–10s exponential buckets);
    - ``flight_requests_total{method,status}`` /
      ``flight_requests_duration_seconds`` (same buckets);
    - ``session_contexts_total`` and
      ``session_context_duration_seconds`` (0.1s–1h buckets);
    - ``data_source_registrations_total{scheme,format}``.
    """

    _counters: dict = field(default_factory=dict)
    _histograms: dict = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    _HISTOGRAM_BUCKETS = {
        "http_requests_duration_seconds": API_SECONDS_BUCKETS,
        "flight_requests_duration_seconds": API_SECONDS_BUCKETS,
        "session_context_duration_seconds": SESSION_SECONDS_BUCKETS,
    }

    def inc(self, name: str, **labels: str) -> None:
        key = (name, tuple(sorted(labels.items())))
        with self._lock:
            self._counters[key] = self._counters.get(key, 0) + 1

    def record(self, name: str, value: float, **labels: str) -> None:
        key = (name, tuple(sorted(labels.items())))
        with self._lock:
            h = self._histograms.get(key)
            if h is None:
                buckets = self._HISTOGRAM_BUCKETS.get(name)
                if buckets is None:
                    raise ValueError(
                        f"unknown histogram {name!r}; declare its buckets in "
                        f"Metrics._HISTOGRAM_BUCKETS (known: "
                        f"{sorted(self._HISTOGRAM_BUCKETS)})"
                    )
                h = self._histograms[key] = _Histogram(buckets)
            h.record(value)

    # -- tracking helpers mirroring the reference's track_* fns ----------

    def track_http(self, method: str, path: str, status: int, seconds: float) -> None:
        labels = {"method": method, "path": path, "status": str(status)}
        self.inc("http_requests_total", **labels)
        self.record("http_requests_duration_seconds", seconds, **labels)

    def track_flight(self, method: str, status: str, seconds: float) -> None:
        labels = {"method": method, "status": status}
        self.inc("flight_requests_total", **labels)
        self.record("flight_requests_duration_seconds", seconds, **labels)

    def track_session_context(self) -> None:
        self.inc("session_contexts_total")

    def track_session_duration(self, seconds: float) -> None:
        self.record("session_context_duration_seconds", seconds)

    def track_data_source(self, scheme: str, fmt: str) -> None:
        self.inc("data_source_registrations_total", scheme=scheme, format=fmt)

    def prometheus(self) -> str:
        with self._lock:
            counters = dict(self._counters)
            histograms = {
                k: (h.buckets, list(h.counts), h.sum, h.count)
                for k, h in self._histograms.items()
            }
        lines: list[str] = []
        seen: set[str] = set()
        for (name, labels), n in sorted(counters.items()):
            if name not in seen:
                seen.add(name)
                lines.append(f"# TYPE {name} counter")
            lines.append(f"{name}{_fmt_labels(labels)} {n}")
        for (name, labels), (buckets, counts, total, count) in sorted(
            histograms.items()
        ):
            if name not in seen:
                seen.add(name)
                lines.append(f"# TYPE {name} histogram")
            for b, c in zip(buckets, counts):
                le = f'le="{b}"'
                lines.append(f"{name}_bucket{_fmt_labels(labels, le)} {c}")
            inf = 'le="+Inf"'
            lines.append(f"{name}_bucket{_fmt_labels(labels, inf)} {count}")
            lines.append(f"{name}_sum{_fmt_labels(labels)} {total:.6f}")
            lines.append(f"{name}_count{_fmt_labels(labels)} {count}")
        return "\n".join(lines) + "\n"


def _parse_sources(payloads: list[dict] | None) -> list[source_registry.DataSource]:
    return [source_registry.DataSource.from_json(p) for p in payloads or []]


class Engine:
    def __init__(
        self,
        spark: SparkSession | None = None,
        *,
        start_reaper: bool = True,
        settings=None,
    ):
        from datafusion_server_spark.session import get_spark
        from datafusion_server_spark.settings import Settings

        self.spark = spark or get_spark()
        self.settings: Settings = settings or Settings()
        self.sessions = SessionManager(self.spark, start_reaper=start_reaper)
        self.metrics = Metrics()
        self.sessions.on_close = lambda sess: self.metrics.track_session_duration(
            time.time() - sess.created_at
        )
        # config sections -> JDBC namespaces, object-store credentials,
        # drop-in plugin manifests (reference init_global_managers,
        # settings.rs:221-247)
        self.settings.apply(self.spark)

    def prewarm(self) -> float:
        """Boot-time session pre-warm: drive one
        tiny synthetic pipeline through the SAME stateless path a
        request takes — session create, transpile, whole-stage-codegen
        compile for the common shapes (project/filter, explode fanout,
        hash aggregate, window, sort) and an Arrow + a JSON encode —
        so the JVM/codegen warmup cliff is paid at boot, not by the
        first caller. The reference's Rust server has no such cliff
        (no JIT'd query engine); measured A/B in PLANS.md. Returns
        seconds spent."""
        import shutil
        import tempfile

        import pyarrow as pa
        import pyarrow.parquet as pq

        t0 = time.time()
        synth = (
            "SELECT g, s, ROW_NUMBER() OVER (ORDER BY s DESC, g) AS r FROM ("
            "SELECT k % 7 AS g, CAST(SUM(CAST(k AS DECIMAL(18,6))) AS BIGINT) AS s "
            "FROM (SELECT explode(sequence(1, 2000)) AS k) WHERE k > 1 GROUP BY k % 7"
            ") ORDER BY r"
        )
        self.dataframe_query({"query": synth, "response": {"format": "arrow"}})
        self.dataframe_query({"query": synth, "response": {"format": "json"}})
        # the first REAL request usually registers a file source: warm
        # the parquet scan + DataSource registration path too (the
        # synthetic query alone left a ~1.4 s first-request residue), on
        # one file, as most one-shots read
        tmp = tempfile.mkdtemp(prefix="prewarm_")
        try:
            loc = f"{tmp}/warm.parquet"
            pq.write_table(pa.table({"k": range(100), "g": [str(i % 5) for i in range(100)]}), loc)
            self.dataframe_query(
                {
                    "dataSources": [
                        {"format": "parquet", "name": "__warm", "location": loc}
                    ],
                    "query": "SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM __warm "
                             "WHERE k > 1 GROUP BY g ORDER BY g",
                    "response": {"format": "json"},
                }
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return time.time() - t0

    # -- shared steps ------------------------------------------------------

    def _ingest(self, sess: ServerSession, data_sources: list[source_registry.DataSource]) -> None:
        for ds in data_sources:
            source_registry.register(sess, ds)
            scheme = ds.location.split("://", 1)[0] if "://" in ds.location else "file"
            self.metrics.track_data_source(scheme, ds.format)

    def _merges(self, sess: ServerSession, processor: dict | None, *, persist: bool = True) -> None:
        for spec in (processor or {}).get("mergeProcessors", []) or []:
            execute_merge(sess, MergeProcessor.from_json(spec), persist=persist)

    _INSERT_RE = re.compile(
        r"\s*INSERT\s+INTO\s+(?P<name>`[^`]+`|\w+)\s+(?P<rest>.+)", re.I | re.S
    )

    def _query(self, sess: ServerSession, sql: str) -> DataFrame:
        """The one SQL entry of REST and Flight: register the query's
        ``table@namespace`` relations (a bad namespace or table fails
        here, with its own message), then run it in the session."""
        from datafusion_server_spark.sources import jdbc

        jdbc.register_tables_from_sql(sess.spark, sql)
        m = self._INSERT_RE.fullmatch(sql)
        if m:
            # INSERT INTO a session temp view: Spark refuses DML on views,
            # so re-register the union (SURVEY §2.B DDL/DML shim — the
            # reference supports INSERT into in-memory tables via DataFusion)
            name = m.group("name").strip("`")
            rest = m.group("rest").strip().rstrip(";")
            if rest.upper().startswith("VALUES"):
                rest = f"SELECT * FROM ({rest})"
            incoming = sess.sql(transpile(rest, sess.columns_of))
            existing = sess.spark.table(name)
            sess.register(name, existing.union(incoming.toDF(*existing.columns)))
            # lazy count: evaluated when the response is encoded — no
            # extra eager job here
            return incoming.selectExpr("CAST(COUNT(*) AS BIGINT) AS inserted_rows")
        return sess.sql(transpile(sql, sess.columns_of))

    def _respond(
        self,
        df: DataFrame,
        post: list[dict] | None,
        response: dict | None,
        accept: str | None,
    ) -> tuple[bytes, str]:
        """Collect ``df`` once, run the post-processors over that Arrow
        table, and encode it."""
        table = df.toArrow()
        if post:
            table = postprocess.apply_local(table, post)
        r = response or {}
        fmt = encoders.negotiate_format(r.get("format"), accept)
        opts = r.get("options") or {}
        return encoders.encode(
            table,
            fmt,
            has_headers=bool(opts.get("hasHeaders", True)),
            delimiter=str(opts.get("delimiter", ",")),
        )

    # -- entry points ------------------------------------------------------

    @staticmethod
    def _input_sizes(sources: list[source_registry.DataSource], sql: str) -> list[tuple[int, int]] | None:
        """(bytes, files) of each source a one-shot reads, or None when
        that is unknown: no dataSources, a ``table@namespace`` relation,
        or a source that is not a local file tree (``readers.local_size``)."""
        if not sources or find_table_at_namespace(sql):
            return None
        sizes = [readers.local_size(ds.location) for ds in sources]
        return None if None in sizes else sizes

    @contextmanager
    def _oneshot(self, payload: dict):
        """Stateless session around one request: create (keepAlive
        60 s) with the plan its input sizes pick (``session.plan_conf``),
        ingest dataSources, run merge processors (unpersisted: the query
        reads each result once) and the query; yields the query's
        DataFrame and destroys the session on exit."""
        sources = _parse_sources(payload.get("dataSources"))
        sess = self.sessions.create(
            keep_alive_s=STATELESS_KEEP_ALIVE_S,
            conf=plan_conf(self._input_sizes(sources, payload.get("query", ""))),
        )
        self.metrics.track_session_context()
        try:
            self._ingest(sess, sources)
            self._merges(sess, payload.get("processor"), persist=False)
            yield self._query(sess, payload["query"])
        finally:
            try:
                self.sessions.delete(sess.session_id)
            except KeyError:
                pass

    def dataframe_query(self, payload: dict, accept: str | None = None) -> tuple[bytes, str]:
        """Stateless one-shot (reference dataframe.rs:18-92)."""
        with self._oneshot(payload) as df:
            return self._respond(
                df, payload.get("postProcessors"), payload.get("response"), accept
            )

    def dataframe_query_stream(self, payload: dict):
        """Incremental variant of the stateless path (reference A21:
        record_batch_stream.rs): yields Arrow IPC frames per batch; the
        session is destroyed once the generator is drained. Like the
        reference, it takes no postProcessors — those requests go
        through :meth:`dataframe_query`."""
        with self._oneshot(payload) as df:
            yield from encoders.arrow_ipc_chunks(df)

    def session_create(self, session_id: str | None, keep_alive_s: int | None) -> dict:
        sess = self.sessions.create(
            session_id, keep_alive_s or self.settings.session.default_keep_alive
        )
        self.metrics.track_session_context()
        return {"id": sess.session_id, "keepAlive": sess.keep_alive_s}

    def session_add_datasource(self, session_id: str, payload: Any) -> list[str]:
        sess = self.sessions.get(session_id)
        self._ingest(sess, _parse_sources(payload if isinstance(payload, list) else [payload]))
        return sorted(sess.data_sources)

    def session_merge(self, session_id: str, payload: dict) -> None:
        sess = self.sessions.get(session_id)
        self._merges(sess, payload)

    def session_query(
        self, session_id: str, payload: dict | str, accept: str | None = None
    ) -> tuple[bytes, str]:
        """JSON body {sql, postProcessors?, response?} or a raw SQL string
        (reference session.rs:90-215)."""
        sess = self.sessions.get(session_id)
        if isinstance(payload, str):
            payload = {"sql": payload}
        if not payload.get("sql"):
            raise ValueError("session query body requires 'sql'")
        df = self._query(sess, payload["sql"])
        return self._respond(
            df, payload.get("postProcessors"), payload.get("response"), accept
        )

    def session_upload(self, session_id: str, name: str, fmt: str, data: bytes) -> None:
        """Multipart upload ingest (reference A23): the HTTP layer resolves
        each field's format; here the bytes are staged and registered."""
        sess = self.sessions.get(session_id)
        suffix = {"csv": ".csv", "json": ".json", "ndjson": ".ndjson",
                  "parquet": ".parquet", "avro": ".avro"}[fmt]
        ds = source_registry.DataSource.from_json(
            {"format": fmt, "name": name, "location": readers.stage_bytes(data, suffix)}
        )
        source_registry.register(sess, ds)

    def session_save(self, session_id: str, payload: dict) -> None:
        """Save tables to sinks (reference A18/A19) from the reference body
        ``{"dataSources": [{format, name, location, options}]}``
        (handler/data_source.rs:136-150): ``name`` is the registered table
        and ``location`` the destination."""
        from datafusion_server_spark.sources import writers

        sess = self.sessions.get(session_id)
        entries = payload.get("dataSources")
        if not entries:
            raise ValueError("save body requires 'dataSources'")
        for entry in entries:
            location = entry["location"]
            fmt = str(entry.get("format", "parquet")).lower()
            df = sess.spark.table(entry["name"])
            opts = entry.get("options") or {}
            if location.endswith(".json") and fmt == "json":
                writers.save_json_array_file(df, location, overwrite=bool(opts.get("overwrite")))
            else:
                writers.write_object_store(
                    df,
                    location,
                    fmt,
                    has_headers=bool(opts.get("hasHeaders", True)),
                    delimiter=str(opts.get("delimiter", ",")),
                )

    @staticmethod
    def _source_info(sess: ServerSession, name: str) -> dict:
        from datafusion_server_spark.schema import struct_to_schema_json

        ds = sess.data_sources[name]
        return {
            "format": ds.format,
            "location": ds.location,
            "cached": sess.spark.catalog.isCached(name),
            "schema": struct_to_schema_json(sess.spark.table(name).schema),
        }

    def session_detail(self, session_id: str) -> dict:
        sess = self.sessions.get(session_id)
        return {
            "id": sess.session_id,
            "created": sess.created_at,
            "dataSources": {name: self._source_info(sess, name) for name in sess.data_sources},
        }

    def data_source_detail(self, session_id: str, name: str) -> dict:
        sess = self.sessions.get(session_id)
        if name not in sess.data_sources:
            raise KeyError(f"no such dataSource: {name}")
        return self._source_info(sess, name)

    def remove_data_source(self, session_id: str, name: str) -> bool:
        return self.sessions.get(session_id).remove(name)

    def refresh_data_source(self, session_id: str, name: str) -> None:
        """Re-read the source with all of its options (reference
        session_manager.rs:474-488). A table uploaded through Flight
        ``do_put`` has no location to re-read: that is a client error."""
        sess = self.sessions.get(session_id)
        ds = sess.data_sources[name]
        if ds.format == "flight" and not ds.location:
            raise source_registry.DataSourceError(
                f"dataSource {name!r} was uploaded through Flight do_put and has "
                f"no location to re-read; upload it again to replace it"
            )
        source_registry.register(sess, ds)
