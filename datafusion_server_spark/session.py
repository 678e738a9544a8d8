"""SparkSession construction and the multi-session registry.

Rebuilds the reference's session layer (named, TTL-expiring DataFusion
``SessionContext``s — /root/reference/lib/src/context/session.rs:35-70 and
session_manager.rs:26-37) on Spark: one fresh ``SparkSession.newSession()``
per server session gives it its own temp-view catalog, temp functions and
SQLConf over a shared SparkContext; a reaper thread enforces TTL
(reference: lib/src/server/interval_worker.rs:7-33, default keep-alive
3600 s at lib/src/settings.rs:211).

Scale notes (100 TB / 1000-executor design):
- Plans chosen per session at create from exact input sizes. A
  stateless one-shot whose inputs are all local file trees totalling
  less than ``SMALL_INPUT_BYTES`` plans with AQE off and one shuffle
  partition. When every input is one file it runs ``SMALL_PLAN_CONF``,
  which also turns broadcast off, and registers every source as one
  partition, so each query is one Spark job of one stage: no exchange,
  no broadcast job. A file such a session has seen before is read from
  one shared one-partition materialization (``sources.readers``): the
  query scans blocks in memory inside its one codegen stage, with no
  file scan to set up and no extra codegen stage for a coalesce. The
  materializations are bounded by file bytes (``SHARED_READ_BYTES``,
  eight times ``SMALL_INPUT_BYTES``). When some input is a tree of
  several files it runs ``SMALL_SPLIT_CONF`` over Spark's own splits.
  Every other session (named sessions, one-shots with no sources,
  ``table@ns`` relations, remote, glob or larger inputs) runs
  ``SERVING_CONF``.
- Under ``SERVING_CONF``, AQE on: runtime join-strategy switching,
  skew-join splitting, and partition coalescing replace any hand-tuned
  physical planning.
- ``spark.sql.shuffle.partitions`` is a *default*; AQE coalesces down for
  small stages and the operators in this package repartition up for large
  ones, so the same code runs at sf0.001 and at 100 TB.
- Arrow exchange enabled: every Python-boundary crossing (pandas UDFs,
  toPandas in the response encoders) is Arrow-batched, never row-by-row.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Callable

from pyspark.sql import SparkSession

from datafusion_server_spark.functions.dialect import (
    names_session_function,
    register_session_functions,
)

if TYPE_CHECKING:
    from datafusion_server_spark.sources.registry import DataSource

DEFAULT_KEEP_ALIVE_S = 3600  # reference default: lib/src/settings.rs:211
STATELESS_KEEP_ALIVE_S = 60  # reference: lib/src/response/handler/dataframe.rs:28-31
REAPER_INTERVAL_S = 1.0  # reference: lib/src/server/interval_worker.rs:28-30

# SQLConf a server session gets at create unless it is a known-small
# one-shot (``plan_conf``). newSession() takes its SQLConf from the
# STATIC SparkConf, so the root's runtime conf does not carry over: a
# root run with AQE off (the single-stream batch bench) still serves
# with AQE and partition coalescing on, which measured better for
# concurrent requests at every shuffle width of the root (PLANS.md).
SERVING_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
}
# A one-shot whose inputs are all local file trees of fewer bytes than
# this plans with AQE off and one shuffle partition. On such inputs AQE
# re-plans nothing, but costs a Spark job per exchange (and a range sort
# a sampling job). Set from the size sweep in PLANS.md ("Verdict task
# 3"): at 4 cores every shape measured was faster or within 5% up to
# 5 MB, but at 10 MB a single-stream high-cardinality aggregate ran 40%
# slower on one partition.
SMALL_INPUT_BYTES = 4 * 1024 * 1024
# Small inputs of one file each: Spark reads each as one split anyway,
# so its session coalesces every source view to one partition
# (``ServerSession.single_partition``) at no cost in parallelism. A
# one-partition view satisfies every distribution an aggregate, join or
# sort asks for, so no exchange is planned, and with broadcast off a
# join is a sort-merge join inside the same stage rather than a
# broadcast job: each query is one job of one stage, where each extra
# stage cost 25-45 ms of scheduling for a 4-48 ms task.
SMALL_PLAN_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "1",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}
# A small input that is a tree of several files keeps Spark's splits and
# broadcast: on 16 files (3.95 MiB) one scan task made an aggregate 18%
# slower, and without broadcast a join shuffled and sorted the whole
# fact side, 44% slower (PLANS.md, "Verdict task 3").
SMALL_SPLIT_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "1",
}


def plan_conf(inputs: list[tuple[int, int]] | None) -> dict[str, str]:
    """The SQLConf for a one-shot whose sources are local trees of
    ``inputs`` (bytes, files) each (None: some input's size is unknown)."""
    if inputs is None or sum(size for size, _ in inputs) >= SMALL_INPUT_BYTES:
        return SERVING_CONF
    return SMALL_PLAN_CONF if all(files == 1 for _, files in inputs) else SMALL_SPLIT_CONF


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def build_spark(
    app_name: str = "datafusion-server-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create the root SparkSession with scale-appropriate defaults."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # AQE: runtime coalescing, skew-join handling, join-strategy switch.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffle width: matched to local core count here; on a real
        # cluster this is set to ~2-3x total executor cores and AQE
        # coalesces per-stage.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # Arrow for every JVM<->Python exchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic wall-clock semantics: the oracle (DuckDB) runs in
        # UTC; timestamps must mean the same instant in both engines.
        .config("spark.sql.session.timeZone", "UTC")
        # Broadcast thresholds, split by how trustworthy the size is:
        # the STATIC threshold (file-size guess, no filter selectivity)
        # stays small so a mis-estimated fact table is never collected to
        # the driver and hash-built (measured: a 64 MB static threshold
        # broadcast the q5 lineitem side — 1.6x slower locally, and the
        # exact failure mode that OOMs a driver at 100 TB); the AQE
        # threshold (true runtime bytes of the materialized stage) is
        # wider, so post-filter/post-agg small sides still broadcast —
        # trust observed sizes, distrust estimates.
        .config("spark.sql.autoBroadcastJoinThreshold", str(2 * 1024 * 1024))
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_spark() -> SparkSession:
    """Return the active session or build the default one."""
    active = SparkSession.getActiveSession()
    return active if active is not None else build_spark()


@dataclass
class ServerSession:
    """One server session = one isolated Spark temp-view catalog.

    Mirrors the reference ``Session`` (lib/src/context/session.rs:35-70):
    id, created timestamp, TTL, and its data sources — each name mapped to
    the parsed ``DataSource`` it was loaded from, so a refresh replays it
    with every option. A ``single_partition`` session (one planned with
    ``SMALL_PLAN_CONF``) has every data source registered as one partition
    (``sources.registry.register``); ``releases`` frees the shared reads
    among them when the session closes.
    """

    session_id: str
    spark: SparkSession
    keep_alive_s: int = DEFAULT_KEEP_ALIVE_S
    single_partition: bool = False
    created_at: float = field(default_factory=time.time)
    last_access: float = field(default_factory=time.time)
    data_sources: dict[str, DataSource] = field(default_factory=dict)
    # the dialect-shim functions are installed by the first SQL naming one
    has_session_functions: bool = False
    # releases of the shared one-partition reads its views hold
    # (``sources.readers._load``), called at close
    releases: list[Callable[[], None]] = field(default_factory=list)

    def touch(self) -> None:
        self.last_access = time.time()

    @property
    def expired(self) -> bool:
        return time.time() - self.last_access > self.keep_alive_s

    def register(
        self, name: str, df, *, cache: bool = False, source: DataSource | None = None
    ) -> None:
        """Make ``df`` the session view ``name``: the one way a data source,
        a merge result, an ``INSERT`` result or a Flight upload becomes a
        table (reference session.rs:248-253 registers in-memory batches).

        A view being replaced is uncached first: ``createOrReplaceTempView``
        only uncaches plans that reference the view by name, so a source
        persisted before it was named would otherwise outlive its
        replacement. ``cache`` persists AFTER the view exists: a plan
        persisted before the replace of a view it reads is uncached by
        that same replace. ``source`` (the ``DataSource`` to replay on
        refresh) is recorded when given; merges and inserts keep the
        name's existing entry.
        """
        if name in self.data_sources:
            self.spark.catalog.uncacheTable(name)
        df.createOrReplaceTempView(name)
        if cache:
            df.persist()
        if source is not None:
            self.data_sources[name] = source

    def remove(self, name: str) -> bool:
        """Drop the view (which uncaches it) and forget the name
        (reference session_manager.rs:454-472)."""
        self.data_sources.pop(name, None)
        return self.spark.catalog.dropTempView(name)

    def columns_of(self, table: str) -> list[str] | None:
        """Schema resolver for the dialect pre-pass (the multi-relation
        qualified ``t.*`` GROUPS expansion): column names of a view
        registered in this session, or None when the name does not
        resolve — the rewrite then keeps its conservative reject."""
        try:
            return self.spark.table(table).columns
        except Exception:
            return None

    def sql(self, query: str):
        """Run ``query`` in the session: the one SQL entry of REST, Flight
        and the ``INSERT`` shim. The dialect-shim functions
        (``regexp_match``) are installed the first time a query names
        one: their DDL costs more than the rest of a session's create."""
        self.touch()
        if not self.has_session_functions and names_session_function(query):
            register_session_functions(self.spark)
            self.has_session_functions = True
        return self.spark.sql(query)

    def close(self) -> None:
        """Drop every temp view of the session — data sources, ``CACHE
        TABLE`` and SQL-created views, ``table@ns`` registrations — which
        frees their entries in Spark's shared CacheManager (dropping the
        SparkSession alone would not)."""
        # a Scala Seq read by index: one py4j round trip per name
        # (iterating it as a Java list costs dozens)
        try:
            names = self.spark._jsparkSession.sessionState().catalog().getTempViewNames()
            for i in range(names.size()):
                self.spark.catalog.dropTempView(names.apply(i))
            self.data_sources.clear()
        finally:
            for release in self.releases:
                release()
            self.releases.clear()


class SessionManager:
    """Registry of named ServerSessions with a TTL reaper.

    Mirrors lib/src/context/session_manager.rs:210-282 (create/list/
    detail/delete + expiry) on top of ``SparkSession.newSession()``.
    """

    def __init__(self, root: SparkSession | None = None, *, start_reaper: bool = False):
        self._root = root or get_spark()
        self._sessions: dict[str, ServerSession] = {}
        self._lock = threading.Lock()
        self._reaper: threading.Thread | None = None
        self._stop = threading.Event()
        # lifecycle hook invoked (outside the lock) with each closed
        # session — the Engine wires telemetry here (reference
        # track_session_context_duration, metrics.rs:139-147)
        self.on_close = None
        if start_reaper:
            self.start_reaper()

    def create(
        self,
        session_id: str | None = None,
        keep_alive_s: int = DEFAULT_KEEP_ALIVE_S,
        conf: dict[str, str] = SERVING_CONF,
    ) -> ServerSession:
        """A fresh ``newSession()`` per server session — its own temp-view
        catalog, temp functions and SQLConf, so nothing one tenant runs
        (``CREATE TEMPORARY VIEW``, ``SET``) is visible to the next.
        ``conf`` is applied before anything is read or planned; under
        ``SMALL_PLAN_CONF`` every data source is registered as one
        partition."""
        sid = session_id or uuid.uuid4().hex
        spark = self._root.newSession()
        for k, v in conf.items():
            spark.conf.set(k, v)
        sess = ServerSession(sid, spark, keep_alive_s, single_partition=conf == SMALL_PLAN_CONF)
        with self._lock:
            if sid in self._sessions:
                raise ValueError(f"session already exists: {sid}")
            self._sessions[sid] = sess
        return sess

    def get(self, session_id: str) -> ServerSession:
        with self._lock:
            sess = self._sessions.get(session_id)
        if sess is None or sess.expired:
            raise KeyError(f"no such session: {session_id}")
        sess.touch()
        return sess

    def list(self) -> list[dict]:
        with self._lock:
            return [
                {
                    "id": s.session_id,
                    "created": s.created_at,
                    "ttl": max(0, int(s.keep_alive_s - (time.time() - s.last_access))),
                    "dataSources": sorted(s.data_sources),
                }
                for s in self._sessions.values()
            ]

    def _close(self, sessions: list[ServerSession]) -> list[str]:
        """Close sessions already removed from the registry (drop their
        views, see ``ServerSession.close``) and fire the ``on_close`` hook
        (session-duration telemetry)."""
        for sess in sessions:
            sess.close()
            cb = self.on_close
            if cb is not None:
                try:
                    cb(sess)
                except Exception:
                    pass
        return [sess.session_id for sess in sessions]

    def delete(self, session_id: str) -> None:
        with self._lock:
            sess = self._sessions.pop(session_id, None)
        if sess is None:
            raise KeyError(f"no such session: {session_id}")
        self._close([sess])

    def reap(self) -> list[str]:
        """Drop expired sessions (reference reaper: interval_worker.rs:28-30)."""
        with self._lock:
            dead = [sid for sid, s in self._sessions.items() if s.expired]
            reaped = [self._sessions.pop(sid) for sid in dead]
        return self._close(reaped)

    def close_all(self) -> list[str]:
        """Drain every live session (graceful-shutdown path, reference
        signal_handler.rs:5-29). Returns the closed session ids."""
        with self._lock:
            drained = list(self._sessions.values())
            self._sessions.clear()
        return self._close(drained)

    def start_reaper(self) -> None:
        if self._reaper is not None:
            return

        def loop() -> None:
            while not self._stop.wait(REAPER_INTERVAL_S):
                try:
                    self.reap()
                except Exception:
                    pass

        self._reaper = threading.Thread(target=loop, name="session-reaper", daemon=True)
        self._reaper.start()

    def stop_reaper(self) -> None:
        self._stop.set()
        if self._reaper is not None:
            self._reaper.join(timeout=5)
            self._reaper = None
