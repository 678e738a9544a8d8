"""Data-source dispatch: (format x URI scheme) -> reader, mirroring the
reference's ingestion switch (lib/src/context/session_manager.rs:336-416).

Plugin schemes, flight, jdbc and delta dispatch to their own readers.
Every other source resolves its location once (``_resolve``), then one
format table (``_FORMATS``) reads it:

- local and object-store **listing** locations register LAZY scans, so
  predicate pushdown, column pruning and partition pruning stay
  available (reference A7: object_store/reader.rs:14-134);
- http(s) sources are fetched and staged to a local file, and S3 sources
  are staged by the pure-Python client when hadoop-aws is missing; both
  register eagerly (reference concat_batches + register_batch,
  session.rs:248-253), so repeated queries don't re-fetch;
- a whole JSON document, and avro without spark-avro, are decoded by
  Python from a local path and register eagerly too.

Whether an optional connector (spark-avro, delta-spark, hadoop-aws, a
JDBC driver) is on the classpath is asked once per process, only when a
source needs it (``has_connector``). Its answer picks the connector or
the fallback; a present connector's own read errors reach the caller.
"""

from __future__ import annotations

import functools
import os
import tempfile
import threading
from dataclasses import dataclass
from typing import TYPE_CHECKING
from urllib.parse import urlparse

from py4j.protocol import Py4JJavaError
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame, SparkSession

from datafusion_server_spark.sources import readers
from datafusion_server_spark.sources.readers import ReadOptions

if TYPE_CHECKING:
    from datafusion_server_spark.session import ServerSession

LISTING_SCHEMES = {"", "file", "s3", "s3a", "gs", "abfss", "wasbs", "hdfs", "webdav"}


class DataSourceError(ValueError):
    pass


@dataclass
class DataSource:
    """Parsed ``dataSources[i]`` request entry
    (reference lib/src/request/body.rs:120-140)."""

    format: str
    name: str
    location: str
    options: ReadOptions
    plugin_options: dict | None = None

    @staticmethod
    def from_json(payload: dict) -> "DataSource":
        fmt = str(payload.get("format", "")).strip().lower()
        if fmt in ("ndjson", "nd_json", "jsonl"):
            fmt = "ndjson"
        name = payload.get("name")
        location = payload.get("location") or payload.get("uri") or ""
        if not fmt or not name:
            raise DataSourceError("dataSource requires 'format' and 'name'")
        opts = ReadOptions.from_json(payload.get("options"))
        if payload.get("schema"):
            opts.schema_json = {"fields": payload["schema"]} if isinstance(
                payload["schema"], list
            ) else payload["schema"]
        return DataSource(fmt, str(name), str(location), opts, payload.get("pluginOptions"))


# -- connector lookup ----------------------------------------------------------

# connector -> found: "avro", "delta", "s3a", or a JDBC URL's "jdbc:<sub>"
connectors: dict[str, bool] = {}
_connectors_lock = threading.Lock()


def has_connector(spark: SparkSession, connector: str) -> bool:
    """Whether ``connector`` is on the classpath: the data source "avro"
    (spark-avro) or "delta" (delta-spark), "s3a" (hadoop-aws), or a JDBC
    URL (its driver). Asked once per process with the JVM call Spark's
    own read makes (a class probe would lie: Spark ships avro shim
    classes without the module)."""
    key = ":".join(connector.split(":", 2)[:2]) if connector.startswith("jdbc:") else connector
    with _connectors_lock:
        found = connectors.get(key)
        if found is None:
            jvm = spark._jvm
            try:
                if key.startswith("jdbc:"):
                    jvm.java.sql.DriverManager.getDriver(connector)
                elif key == "s3a":
                    jvm.org.apache.hadoop.fs.FileSystem.getFileSystemClass(
                        "s3a", spark._jsc.hadoopConfiguration())
                else:
                    jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
                        key, spark._jsparkSession.sessionState().conf())
                found = True
            except (Py4JJavaError, CapturedException):  # the JVM's "not found"
                found = False
            connectors[key] = found
    return found


# -- dispatch -------------------------------------------------------------------


def _local_path(location: str) -> str | None:
    """The filesystem path of a bare or ``file://`` location, else None."""
    u = urlparse(location)
    return u.path if u.scheme == "file" else location if u.scheme == "" else None


def _read_avro(spark: SparkSession, location: str, opts: ReadOptions,
               releases: list | None = None) -> DataFrame:
    """spark-avro's lazy scan, or else the pure-Python OCF decoder over
    the local file or directory of files (A8, reference reader.rs:114-134)."""
    if has_connector(spark, "avro"):
        return readers.read_avro(spark, location, opts, releases)
    from datafusion_server_spark.sources import avro_py

    parts = [avro_py.read_avro(spark, p) for p in readers.local_files(location)]
    if not parts:
        raise DataSourceError(f"no avro files under {location!r}")
    return functools.reduce(DataFrame.unionByName, parts)


# format -> reader(spark, location, options, releases)
_FORMATS = {
    "csv": readers.read_csv,
    "ndjson": readers.read_ndjson,
    "parquet": readers.read_parquet,
    "orc": readers.read_orc,
    "json": readers.read_json_array,
    "avro": _read_avro,
}


def _python_read(spark: SparkSession, fmt: str) -> str | None:
    """Why ``fmt`` is decoded by Python from a local path rather than
    scanned by Spark, or None when Spark scans it."""
    if fmt == "json":
        return "a whole JSON document is parsed locally; use 'ndjson' for listing reads"
    if fmt == "avro" and not has_connector(spark, "avro"):
        return "spark-avro jar missing"
    return None


def _resolve(spark: SparkSession, ds: DataSource, scheme: str, spark_reads: bool) -> tuple[str, bool]:
    """(location the reader reads, staged): http(s) sources are fetched,
    and S3 sources without hadoop-aws (or for a Python reader) are
    listed, into local copies."""
    if scheme in ("http", "https"):
        return readers.stage_bytes(readers.fetch(ds.location), "." + ds.format), True
    if scheme in ("s3", "s3a"):
        if spark_reads and has_connector(spark, "s3a"):
            return "s3a" + ds.location[len(scheme):], False
        from datafusion_server_spark.sources import s3_py

        try:
            return s3_py.stage_prefix(
                spark,
                "s3://" + ds.location.split("://", 1)[1],
                os.path.join(tempfile.gettempdir(), "spark_graft_s3_stage"),
            ), True
        except s3_py.S3Error as se:
            raise DataSourceError(
                f"s3 read unavailable (hadoop-aws missing and the "
                f"pure-Python fallback failed: {se})"
            ) from se
    return ds.location, False


def _read_delta(spark: SparkSession, ds: DataSource) -> DataFrame:
    """delta-spark, or else the pure-Python transaction-log replay over a
    local table (A9, reference deltalake.rs:29-96), whose snapshot files
    still load through the distributed parquet scan."""
    version = ds.options.extra.get("version")
    if has_connector(spark, "delta"):
        reader = spark.read.format("delta")
        if version is not None:
            reader = reader.option("versionAsOf", str(version))
        return reader.load(ds.location)
    local = _local_path(ds.location)
    if local is None or not os.path.isdir(local):
        raise DataSourceError(
            "delta reader unavailable (delta-spark missing and location "
            f"not a local table): {ds.location!r}"
        )
    from datafusion_server_spark.sources import delta_py

    try:
        return delta_py.read_delta(spark, local, int(version) if version is not None else None)
    except delta_py.DeltaProtocolError as pe:
        raise DataSourceError(f"delta reader unavailable: {pe}") from pe


def load_data_source(spark: SparkSession, ds: DataSource,
                     releases: list | None = None) -> tuple[DataFrame, bool]:
    """Resolve one data source to a DataFrame.

    Returns (df, eager): ``eager`` means the source was buffered from a
    remote/inline payload or decoded on the driver and should be persisted
    on registration (the reference materializes these; session.rs:248-253).
    ``releases`` (a one-partition session's) lets a lazy scan of a known
    file be served from its shared materialization (``readers._load``).
    """
    scheme = urlparse(ds.location).scheme
    fmt = ds.format

    # Python connector plugins claim custom schemes (reference A13)
    from datafusion_server_spark.sources import plugins

    if plugins.has_scheme(scheme):
        return plugins.load(spark, ds), True
    if fmt in ("delta", "deltalake"):
        return _read_delta(spark, ds), False
    if fmt == "flight" or scheme in ("grpc", "flight"):
        from datafusion_server_spark.sources import flight_client

        return flight_client.do_get(spark, ds.location, ds.options), True
    if fmt in ("jdbc", "database", "table"):
        from datafusion_server_spark.sources import jdbc

        return jdbc.read_table(spark, ds), False

    read = _FORMATS.get(fmt)
    if read is None or scheme not in LISTING_SCHEMES | {"http", "https"}:
        raise DataSourceError(f"unsupported (format={fmt!r}, scheme={scheme!r})")
    why = _python_read(spark, fmt)
    location, eager = _resolve(spark, ds, scheme, why is None)
    if why is not None:
        location = _local_path(location)
        if location is None or not os.path.exists(location):
            raise DataSourceError(
                f"{fmt} reader unavailable ({why}) and {ds.location!r} is not locally readable"
            )
        eager = True
    return read(spark, location, ds.options, None if eager else releases), eager


def register(sess: ServerSession, ds: DataSource) -> DataFrame:
    """Load ``ds`` and make it the view ``ds.name`` of the ``ServerSession``.
    Eager/buffered sources are persisted — the Spark-safe analog of the
    reference's in-memory concat_batches materialization. A
    ``single_partition`` session registers every source as one partition:
    a known file from its shared materialization, which the session holds
    until it closes, and anything else coalesced. (Merge and ``INSERT``
    results over one-partition views are one partition already.)"""
    releases: list | None = [] if sess.single_partition else None
    df, eager = load_data_source(sess.spark, ds, releases)
    if releases:
        sess.releases += releases
    elif releases is not None:
        df = df.coalesce(1)
    sess.register(ds.name, df, cache=eager, source=ds)
    return df
