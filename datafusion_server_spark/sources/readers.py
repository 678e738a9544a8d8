"""Data-source readers: CSV / JSON array / ndJSON / Parquet / ORC, each
reading one location (a path Spark can read), plus the HTTP(S) fetch and
the staging of fetched or request bytes to a local file.

Reference behavior being rebuilt (file:line cited per reader):
- CSV: header flag, delimiter, infer from first N rows
  (lib/src/data_source/csv.rs:15-70)
- JSON array (whole document) (lib/src/data_source/decoder/
  build_record_batch.rs:11-53) + JSONPath extraction with optional
  positional normalization (lib/src/data_source/with_jsonpath.rs:13-82)
- ndJSON: line-delimited (lib/src/data_source/nd_json.rs:19-62)
- Parquet from bytes (lib/src/data_source/parquet.rs:14-46)
- HTTP transport (lib/src/data_source/transport/http.rs:26-41)

Spark-first shape: bytes are staged to a spill file (``stage_bytes``) by
whoever produced them and read with the native ``spark.read`` readers
(lazy scan, pushdown-capable), NOT decoded row-by-row in Python. The
reference materializes remote sources eagerly into memory
(session.rs:248-253); our equivalent is ``persist()`` at registration
time, which the registry applies. Only the JSONPath shim touches Python:
it reads the whole document into driver memory, and nothing bounds its
size. Every Spark file scan goes through ``_load``, which infers each
local file's schema once (see the schema cache below), reads a local
file named ``_*`` or ``.*`` through a visible link (``_visible``), and,
for a one-partition session, reads a file it has seen before from one
shared one-partition materialization held in the same cache entry.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import re
import stat
import tempfile
import threading
import time
from collections import OrderedDict
from dataclasses import dataclass, field
from urllib.parse import urlparse

from py4j.java_gateway import JavaObject
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from datafusion_server_spark.schema import to_struct_type
from datafusion_server_spark.session import SMALL_INPUT_BYTES, SMALL_PLAN_CONF
from datafusion_server_spark.sources import jsonpath as jp


@dataclass
class ReadOptions:
    """Per-source options (reference lib/src/request/body.rs:22-57).
    ``inferSchemaRows`` is accepted (it stays in ``extra``) and ignored:
    Spark infers over the whole file, see ``read_csv``."""

    has_header: bool = True
    delimiter: str = ","
    json_path: str | None = None
    require_normalize: bool = False
    schema_json: dict | None = None  # explicit DataSourceSchema
    extra: dict = field(default_factory=dict)

    @staticmethod
    def from_json(payload: dict | None) -> "ReadOptions":
        p = payload or {}
        return ReadOptions(
            has_header=bool(p.get("hasHeader", True)),
            delimiter=str(p.get("delimiter", ",")),
            json_path=p.get("jsonPath"),
            require_normalize=bool(p.get("requireNormalize", False)),
            extra={k: v for k, v in p.items()},
        )

    def spark_schema(self):
        return to_struct_type(self.schema_json) if self.schema_json else None


_STAGE_DIR: str | None = None
_STAGE_LOCK = threading.Lock()


def _stage_dir() -> str:
    global _STAGE_DIR
    with _STAGE_LOCK:
        if _STAGE_DIR is None:
            _STAGE_DIR = tempfile.mkdtemp(prefix="dfss-stage-")
        return _STAGE_DIR


def stage_bytes(data: bytes, suffix: str) -> str:
    """Spill request bytes to a content-addressed staging file so repeated
    registrations of the same payload reuse one file (and its cached
    schema). Each writer fills its own temp file and renames it into
    place, so concurrent stagings of the same bytes never share a file."""
    stage_dir = _stage_dir()
    path = os.path.join(stage_dir, hashlib.md5(data).hexdigest() + suffix)
    if not os.path.exists(path):
        fd, tmp = tempfile.mkstemp(dir=stage_dir)
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(data)
            os.replace(tmp, path)
        except BaseException:
            os.unlink(tmp)
            raise
    return path


# -- schema cache and shared one-partition reads -------------------------------
#
# Schema inference reads the files on every registration: one Spark job for
# Parquet and JSON, two for CSV. The cache maps what inference depends on
# to the StructType it gave: the format and reader options, the session's
# SQL conf less the keys of ``session.SMALL_PLAN_CONF`` (they shape the
# plan, not what a read infers), and the identity (path, mode, inode,
# size, mtime, ctime) of the file or of every entry of the directory tree
# Spark lists. Any rewrite, re-creation or utime changes a ctime, so a
# changed file misses instead of being evicted.
#
# A one-partition session (``session.SMALL_PLAN_CONF``) that reads a file
# the cache already knows (its second sighting) reads it from a shared
# materialization: the entry also keeps the analyzed plan of a lazy
# ``localCheckpoint`` of the one-partition read, built once in a private
# reader session no tenant can reach or ``SET``, and only for a session
# whose conf (less the plan keys) is the reader's. It starts no job: the
# first query over it fills Spark's block store as a side effect, and
# every later one scans those blocks (an RDD scan inside the query's one
# codegen stage) instead of setting up a file scan and decoding the file.

SCHEMA_CACHE_ENTRIES = 256
# Materialized entries hold at most this many bytes of files: eight of the
# largest inputs a one-shot reads as one partition.
SHARED_READ_BYTES = 8 * SMALL_INPUT_BYTES
# Racy-timestamp rule (as in git's index): a tree whose newest ctime is
# younger than this is never cached, so a rewrite inside the filesystem's
# timestamp granularity cannot leave the key unchanged.
RACY_WINDOW_NS = 1_000_000_000
# Spark would read these as a glob, an escape or a URI part, not the path
# os.stat sees.
_UNCACHED_CHARS = frozenset("*?[]{}\\%#;")

# The plan keys' entries in the conf's text form ("k -> v, "); their
# values are booleans and integers ("-1" among them), so they hold no
# ", " or ")".
_PLAN_ENTRIES = re.compile("|".join(f"(?<=[( ]){re.escape(k)} -> [^,)]*(, )?" for k in SMALL_PLAN_CONF))


@dataclass
class _Entry:
    """A schema-cache entry: the inferred schema and, once materialized,
    the analyzed one-partition ``LogicalRDD`` (a JVM plan) and the number
    of sessions whose views read it. An entry in use is never evicted."""

    schema: StructType
    size: int  # bytes of the files
    plan: JavaObject | None = None
    users: int = 0


_schemas: OrderedDict[tuple, _Entry] = OrderedDict()
_schemas_lock = threading.Lock()
# the private reader session, its conf less the plan keys, and the JVM
# Dataset class whose ofRows serves a plan to a tenant session
_reader: tuple[SparkSession, str, JavaObject] | None = None


def _conf(spark: SparkSession) -> str:
    """The session's SQL conf in text form, less the plan keys."""
    return _PLAN_ENTRIES.sub("", spark._jsparkSession.sessionState().conf().getAllConfs().toString())


def _reader_for(spark: SparkSession) -> tuple[SparkSession, str, JavaObject]:
    """The private reader session over ``spark``'s SparkContext. A new
    SparkContext drops every materialization of the old one."""
    global _reader
    with _schemas_lock:
        if _reader is None or _reader[0].sparkContext is not spark.sparkContext:
            for e in _schemas.values():
                e.plan = None
            reader = spark.newSession()
            for k, v in SMALL_PLAN_CONF.items():
                reader.conf.set(k, v)
            _reader = (reader, _conf(reader), spark._jvm.org.apache.spark.sql.classic.Dataset)
        return _reader


def _shrink() -> None:
    """Evict idle entries, least recently used first, until at most
    ``SCHEMA_CACHE_ENTRIES`` remain and the materialized ones hold at most
    ``SHARED_READ_BYTES`` of files. Evicting a materialization unpersists
    its blocks (the plan is not in the CacheManager, so
    ``Dataset.unpersist`` would not). Call with the lock held."""
    excess = len(_schemas) - SCHEMA_CACHE_ENTRIES
    shared = sum(e.size for e in _schemas.values() if e.plan is not None)
    for key, e in list(_schemas.items()):
        if excess <= 0 and shared <= SHARED_READ_BYTES:
            return
        if e.users:
            continue
        if e.plan is not None:
            e.plan.rdd().unpersist(False)
            e.plan = None
            shared -= e.size
        if excess > 0:
            del _schemas[key]
            excess -= 1


def _release(entry: _Entry) -> None:
    with _schemas_lock:
        entry.users -= 1
        _shrink()


def _serve(spark: SparkSession, key: tuple, entry: _Entry, fmt: str, location: str,
           options: dict, releases: list) -> DataFrame | None:
    """``entry``'s shared one-partition read as a DataFrame of ``spark``,
    materializing it on first need, with its release appended to
    ``releases``; None when ``spark``'s conf is not the reader's, or the
    entry was evicted meanwhile."""
    reader, reader_conf, dataset = _reader_for(spark)
    if key[2] != reader_conf:
        return None
    built = None
    if entry.plan is None:
        df = (reader.read.format(fmt).options(**options).schema(entry.schema).load(location)
              .coalesce(1).localCheckpoint(eager=False))
        built = df._jdf.queryExecution().analyzed()
    with _schemas_lock:
        cached = _schemas.get(key) is entry
        if cached and entry.plan is None and built is not None:
            entry.plan, built = built, None
        plan = entry.plan if cached else None
        if plan is not None:
            entry.users += 1
            _shrink()
    if built is not None:  # another thread materialized it first
        built.rdd().unpersist(False)
    if plan is None:
        return None
    releases.append(functools.partial(_release, entry))
    return DataFrame(dataset.ofRows(spark._jsparkSession, plan), spark)


def _stat_tree(path: str, out: list) -> None:
    st = os.stat(path)
    out.append((path, st.st_mode, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns))
    if stat.S_ISDIR(st.st_mode):
        for name in sorted(os.listdir(path)):
            child = os.path.join(path, name)
            if os.path.islink(child) and os.path.isdir(child):
                # not walked (it may loop), so a change inside would go unseen
                raise OSError(f"symlinked directory: {child}")
            _stat_tree(child, out)


def _local_tree(location: str) -> list | None:
    """``_stat_tree`` of ``location``, or None when it is not an absolute
    ``""``/``file`` path that os.stat can see as Spark will."""
    u = urlparse(location)
    if u.scheme == "":
        path = location
    elif u.scheme == "file" and not (u.netloc or u.params or u.query or u.fragment):
        path = u.path
    else:
        return None
    if not os.path.isabs(path) or _UNCACHED_CHARS.intersection(path):
        return None
    entries: list = []
    try:
        _stat_tree(path, entries)
    except OSError:
        return None
    return entries


def _file_identity(location: str) -> tuple | None:
    """The identity of every entry under ``location``, or None when the
    location is not cacheable: not a local tree (``_local_tree``), or
    changed inside the racy window."""
    entries = _local_tree(location)
    if entries is None or max(e[5] for e in entries) > time.time_ns() - RACY_WINDOW_NS:
        return None
    return tuple(entries)


def local_size(location: str) -> tuple[int, int] | None:
    """(bytes, number) of the files under ``location``, or None when it is
    not a local tree (``_local_tree``). The racy window does not apply:
    the size only picks a plan (``session.plan_conf``)."""
    entries = _local_tree(location)
    if entries is None:
        return None
    sizes = [e[3] for e in entries if not stat.S_ISDIR(e[1])]
    return sum(sizes), len(sizes)


def _visible(location: str) -> str:
    """``location``, or a symlink to it under a visible name when it is a
    local file named ``_*`` or ``.*``: Spark's file index skips such a
    name even when the path names the file itself. Names inside a
    directory stay skipped, as Spark skips them."""
    u = urlparse(location)
    path = u.path if u.scheme == "file" else location if u.scheme == "" else ""
    name = os.path.basename(path)
    if not name.startswith((".", "_")) or not os.path.isfile(path):
        return location
    target = os.path.abspath(path)
    link = os.path.join(_stage_dir(), hashlib.md5(target.encode()).hexdigest() + "-" + name.lstrip("._"))
    try:
        os.symlink(target, link)
    except FileExistsError:
        pass
    return link


def _load(spark: SparkSession, fmt: str, location: str, schema: StructType | None,
          releases: list | None = None, **options: str) -> DataFrame:
    """Read ``location`` as ``fmt`` with ``options``, every Spark file
    scan's one entry (``_visible`` applies to all). With no explicit
    ``schema`` the schema comes from the cache, or is inferred as Spark
    does and stored. Given ``releases`` (a one-partition session's), a
    file the cache knows is read from its shared one-partition
    materialization, and the entry's release is appended to
    ``releases``; any other read is returned as it is."""
    location = _visible(location)
    files = None if schema is not None else _file_identity(location)
    if files is not None:
        key = (fmt, tuple(sorted(options.items())), _conf(spark), files)
        with _schemas_lock:
            entry = _schemas.get(key)
            if entry is not None:
                _schemas.move_to_end(key)
        if entry is not None:
            if releases is not None:
                served = _serve(spark, key, entry, fmt, location, options, releases)
                if served is not None:
                    return served
            schema = entry.schema
    reader = spark.read.format(fmt).options(**options)
    if schema is not None:
        return reader.schema(schema).load(location)
    df = reader.load(location)
    if files is not None:
        inferred = _Entry(df.schema, sum(e[3] for e in files if not stat.S_ISDIR(e[1])))
        with _schemas_lock:
            _schemas.setdefault(key, inferred)
            _shrink()
    return df


def fetch(uri: str, timeout: float = 30.0) -> bytes:
    """HTTP(S) fetch (reference transport/http.rs:26-41)."""
    import requests

    resp = requests.get(uri, timeout=timeout)
    resp.raise_for_status()
    return resp.content


def local_files(path: str) -> list[str]:
    """``path``, or the files of the directory ``path`` that Spark would
    list (names starting with ``.`` or ``_`` skipped), sorted."""
    if not os.path.isdir(path):
        return [path]
    return sorted(os.path.join(path, f) for f in os.listdir(path) if not f.startswith((".", "_")))


def read_csv(spark: SparkSession, path: str, opts: ReadOptions, releases: list | None = None) -> DataFrame:
    # infer-N semantics: Spark's inferSchema samples the whole file; the
    # reference samples the first N rows. Whole-file inference is a
    # superset — schema differences only arise when later rows widen a
    # column, which the reference would have gotten wrong anyway.
    return _load(spark, "csv", path, opts.spark_schema(), releases,
                 header=str(opts.has_header).lower(), sep=opts.delimiter, inferSchema="true")


def read_ndjson(spark: SparkSession, path: str, opts: ReadOptions, releases: list | None = None) -> DataFrame:
    return _load(spark, "json", path, opts.spark_schema(), releases)


def read_json_array(spark: SparkSession, path: str, opts: ReadOptions,
                    releases: list | None = None) -> DataFrame:
    """Whole-document JSON array at the local ``path`` (a file, or a
    directory of documents); optional JSONPath extraction (A2 + A4)."""
    if opts.json_path:
        rows = []
        for doc in local_files(path):
            with open(doc, encoding="utf-8") as f:
                rows += jp.extract_rows(f.read(), opts.json_path, normalize=opts.require_normalize)
        ndjson = "\n".join(json.dumps(r) for r in rows).encode()
        return read_ndjson(spark, stage_bytes(ndjson, ".ndjson"), opts, releases)
    # top-level array: Spark's multiLine JSON reader handles it natively
    return _load(spark, "json", path, opts.spark_schema(), releases, multiLine="true")


def read_parquet(spark: SparkSession, path: str, opts: ReadOptions, releases: list | None = None) -> DataFrame:
    return _load(spark, "parquet", path, None, releases)


def read_avro(spark: SparkSession, path: str, opts: ReadOptions, releases: list | None = None) -> DataFrame:
    """spark-avro scan; the caller checks the connector is present."""
    return _load(spark, "avro", path, None, releases)


def read_orc(spark: SparkSession, path: str, opts: ReadOptions, releases: list | None = None) -> DataFrame:
    """ORC scan (beyond-reference: DataFusion has no ORC reader, Spark
    ships one natively with the same pushdown/pruning surface as
    parquet — predicate pushdown, column pruning, vectorized read)."""
    return _load(spark, "orc", path, None, releases)
