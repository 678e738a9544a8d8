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
local file's schema once (see the schema cache below) and reads a local
file named ``_*`` or ``.*`` through a visible link (``_visible``).
"""

from __future__ import annotations

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from datafusion_server_spark.schema import to_struct_type
from datafusion_server_spark.session import SMALL_PLAN_CONF
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


# -- schema cache --------------------------------------------------------------
#
# Schema inference reads the files on every registration: one Spark job for
# Parquet and JSON, two for CSV. The cache maps what inference depends on
# to the StructType it gave: the format and reader options, the session's
# SQL conf less the keys of ``session.SMALL_PLAN_CONF`` (they shape the
# plan, not what a read infers), and the identity (path, mode, inode,
# size, mtime, ctime) of the file or of every entry of the directory tree
# Spark lists. Any rewrite, re-creation or utime changes a ctime, so a
# changed file misses instead of being evicted.

SCHEMA_CACHE_ENTRIES = 256
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

_schemas: OrderedDict[tuple, StructType] = OrderedDict()
_schemas_lock = threading.Lock()


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
          **options: str) -> DataFrame:
    """Read ``location`` as ``fmt`` with ``options``, every Spark file
    scan's one entry (``_visible`` applies to all). With no explicit
    ``schema`` the schema comes from the cache, or is inferred as Spark
    does and stored."""
    location = _visible(location)
    reader = spark.read.format(fmt).options(**options)
    if schema is not None:
        return reader.schema(schema).load(location)
    files = _file_identity(location)
    if files is None:
        return reader.load(location)
    conf = _PLAN_ENTRIES.sub("", spark._jsparkSession.sessionState().conf().getAllConfs().toString())
    key = (fmt, tuple(sorted(options.items())), conf, files)
    with _schemas_lock:
        cached = _schemas.get(key)
        if cached is not None:
            _schemas.move_to_end(key)
    if cached is not None:
        return reader.schema(cached).load(location)
    df = reader.load(location)
    inferred = df.schema
    with _schemas_lock:
        _schemas[key] = inferred
        if len(_schemas) > SCHEMA_CACHE_ENTRIES:
            _schemas.popitem(last=False)
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


def read_csv(spark: SparkSession, path: str, opts: ReadOptions) -> DataFrame:
    # infer-N semantics: Spark's inferSchema samples the whole file; the
    # reference samples the first N rows. Whole-file inference is a
    # superset — schema differences only arise when later rows widen a
    # column, which the reference would have gotten wrong anyway.
    return _load(spark, "csv", path, opts.spark_schema(),
                 header=str(opts.has_header).lower(), sep=opts.delimiter, inferSchema="true")


def read_ndjson(spark: SparkSession, path: str, opts: ReadOptions) -> DataFrame:
    return _load(spark, "json", path, opts.spark_schema())


def read_json_array(spark: SparkSession, path: str, opts: ReadOptions) -> DataFrame:
    """Whole-document JSON array at the local ``path`` (a file, or a
    directory of documents); optional JSONPath extraction (A2 + A4)."""
    if opts.json_path:
        rows = []
        for doc in local_files(path):
            with open(doc, encoding="utf-8") as f:
                rows += jp.extract_rows(f.read(), opts.json_path, normalize=opts.require_normalize)
        ndjson = "\n".join(json.dumps(r) for r in rows).encode()
        return read_ndjson(spark, stage_bytes(ndjson, ".ndjson"), opts)
    # top-level array: Spark's multiLine JSON reader handles it natively
    return _load(spark, "json", path, opts.spark_schema(), multiLine="true")


def read_parquet(spark: SparkSession, path: str, opts: ReadOptions) -> DataFrame:
    return _load(spark, "parquet", path, None)


def read_avro(spark: SparkSession, path: str, opts: ReadOptions) -> DataFrame:
    """spark-avro scan; the caller checks the connector is present."""
    return _load(spark, "avro", path, None)


def read_orc(spark: SparkSession, path: str, opts: ReadOptions) -> DataFrame:
    """ORC scan (beyond-reference: DataFusion has no ORC reader, Spark
    ships one natively with the same pushdown/pruning surface as
    parquet — predicate pushdown, column pruning, vectorized read)."""
    return _load(spark, "orc", path, None)
