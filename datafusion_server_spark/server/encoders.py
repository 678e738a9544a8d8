"""Response encoding: Arrow IPC stream / JSON array / CSV, buffered or
incremental (reference lib/src/response/format/* + record_batch_stream.rs).

- JSON is an array of objects (json_array_stream.rs:7-16);
- CSV honors hasHeaders/delimiter (csv_stream.rs:9-30);
- Arrow is an IPC *stream* (arrow_stream.rs:7-20);
- format negotiation: body.response.format > Accept header > JSON
  (http_response.rs:51-63);
- the streamed variant (Flight, chunked REST) yields Spark's own Arrow
  batches partition by partition, with no Python worker in between; the
  one-partition prefetch window is the bounded buffer
  (record_batch_stream.rs:42-73 mpsc(32)).
"""

from __future__ import annotations

import csv as _csv
import io
import itertools
import json
import math
from collections.abc import Iterator
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
from pyspark.sql import DataFrame

CONTENT_TYPES = {
    "json": "application/json",
    "csv": "text/csv",
    "arrow": "application/vnd.apache.arrow.stream",
}
# Rows per JSON text batch: bounds each batch's text under the 2 GiB
# of Arrow's int32 string offsets for rows up to 32 KB of JSON.
JSON_BATCH_ROWS = 65536


def negotiate_format(body_format: str | None, accept: str | None) -> str:
    if body_format:
        f = body_format.strip().lower()
        if f in CONTENT_TYPES:
            return f
    if accept:
        a = accept.lower()
        if "arrow" in a:
            return "arrow"
        if "text/csv" in a:
            return "csv"
    return "json"


def _json_default(v: Any):
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _finite(v: Any) -> Any:
    """``v`` with every non-finite float inside it replaced by None."""
    if isinstance(v, float):
        return v if math.isfinite(v) else None
    if isinstance(v, dict):
        return {k: _finite(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_finite(x) for x in v]
    return v


def _has_control(col: pa.Array) -> bool:
    """Whether a string holds a character JSON must escape as ``\\u``;
    the cheap printable test clears most columns without the regex."""
    return not pc.all(pc.utf8_is_printable(col)).as_py() \
        and bool(pc.any(pc.match_substring_regex(col, r"[\x00-\x1f]")).as_py())


def _json_text(col: pa.Array) -> pa.Array:
    """Each cell of ``col`` as JSON text, nulls as ``null``. Per-cell
    ``json.dumps`` only for the types ``to_json_array`` names."""
    t = col.type
    if pa.types.is_integer(t) or pa.types.is_boolean(t) or pa.types.is_decimal(t) \
            or pa.types.is_null(t):
        text = pc.cast(col, pa.string())
    elif pa.types.is_floating(t):
        # Arrow prints 23.0 as "23"; keep the float form so a reader
        # does not take the column for integers
        text = pc.replace_substring_regex(pc.cast(col, pa.string()), r"^(-?[0-9]+)$", r"\1.0")
        text = pc.if_else(pc.is_finite(col), text, pa.scalar(None, pa.string()))
    elif pa.types.is_string(t) and not _has_control(col):
        for char in ("\\", '"'):
            if pc.any(pc.match_substring(col, char)).as_py():
                col = pc.replace_substring(col, char, "\\" + char)
        text = pc.binary_join_element_wise('"', col, '"', "")
    elif pa.types.is_date32(t):
        text = pc.binary_join_element_wise('"', pc.cast(col, pa.string()), '"', "")
    elif pa.types.is_timestamp(t) and t.unit == "us" and t.tz in (None, "UTC"):
        # Arrow prints the zone-less UTC values as "YYYY-MM-DD HH:MM:SS.ffffff"
        # (a cast from the zoned type, or strftime, is ~40x slower); Python's
        # isoformat has a "T", no fraction when it is zero and "+00:00" for UTC
        iso = pc.cast(col.cast(pa.timestamp("us")), pa.string())
        iso = pc.replace_substring(pc.replace_substring(iso, " ", "T"), ".000000", "")
        text = pc.binary_join_element_wise('"', iso, '+00:00"' if t.tz else '"', "")
    else:
        return pa.array([json.dumps(_finite(v), default=_json_default) for v in col.to_pylist()],
                        pa.string())
    return pc.fill_null(text, "null")


def to_json_array(table: pa.Table) -> bytes:
    """The table as a JSON array of objects, one per row, built column by
    column with Arrow kernels, one record batch at a time:

    - integers, booleans and decimals print as Arrow casts them to string;
    - floats keep their float form (``23.0``); NaN and infinities are
      ``null``;
    - strings are escaped and quoted;
    - ``date32`` and ``timestamp[us]`` (no zone or UTC) print in
      Python's ISO form: no fraction when it is zero, ``+00:00`` for UTC;
    - nulls are ``null``.

    Only these columns take a per-cell ``json.dumps`` (dates and times in
    ISO form, binary as hex, non-finite floats as ``null``): other
    temporal types, units and zones, binary, nested (list, struct, map)
    and other types not above, and ``string`` columns that hold a
    control character."""
    keys = [json.dumps(name) + ":" for name in table.column_names]
    heads = ["{" + k for k in keys[:1]] + ["," + k for k in keys[1:]]
    pieces: list = [b"["]
    for batch in table.to_batches(max_chunksize=JSON_BATCH_ROWS):
        if not batch.num_rows:
            continue
        if not keys:
            pieces.append(b"{}," * batch.num_rows)
            continue
        parts = [x for head, col in zip(heads, batch.columns) for x in (head, _json_text(col))]
        rows = pc.binary_join_element_wise(*parts, "},", "")
        _, offsets, data = rows.buffers()
        offsets = pa.Array.from_buffers(pa.int32(), len(rows) + 1, [None, offsets], offset=rows.offset)
        pieces.append(data[offsets[0].as_py():offsets[-1].as_py()])
    if len(pieces) > 1:
        pieces[-1] = pieces[-1][:-1]  # the last row's comma
    pieces.append(b"]")
    return b"".join(pieces)


def _csv_ready(col: pa.ChunkedArray) -> pa.ChunkedArray | pa.Array:
    """``col`` in a type ``pyarrow.csv.write_csv`` prints. Per-cell text
    only for binary (hex), nested (list, struct, map) and other types
    outside numbers, booleans, strings, dates and timestamps."""
    t = col.type
    if (pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_decimal(t)
            or pa.types.is_boolean(t) or pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_null(t) or pa.types.is_date(t) or pa.types.is_timestamp(t)):
        return col
    return pa.array([None if v is None else v.hex() if isinstance(v, bytes) else str(v)
                     for v in col.to_pylist()], pa.string())


def _write_csv(body: pa.Table, quoting: str, delimiter: str) -> bytes:
    out = pa.BufferOutputStream()
    pacsv.write_csv(body, out, pacsv.WriteOptions(
        include_header=False, quoting_style=quoting, delimiter=delimiter))
    return out.getvalue().to_pybytes()


def to_csv(table: pa.Table, *, has_headers: bool = True, delimiter: str = ",") -> bytes:
    """The table as CSV with ``\\n`` line ends. The header is written
    here, each name quoted only where needed; the body by
    ``pyarrow.csv.write_csv`` with no quoting, or, when some value holds
    the delimiter, a quote or a line break, with every string quoted.
    A null is an empty field; binary cells print as hex."""
    head = io.StringIO()
    if has_headers:
        _csv.writer(head, delimiter=delimiter, lineterminator="\n").writerow(table.column_names)
    columns = [_csv_ready(c) for c in table.columns]
    if delimiter.isalnum() or delimiter in "+-.: ":
        # Arrow looks for the delimiter in strings only; one a number, date
        # or boolean can print makes every column a string to be checked
        columns = [pc.cast(c, pa.string()) for c in columns]
    body = pa.table(columns, names=[str(i) for i in range(len(columns))])
    try:
        out = _write_csv(body, "none", delimiter)
        if body.num_columns == 1:
            # an empty value would be an empty line, which readers skip:
            # write it as "", as the csv module does
            out = out.replace(b"\n\n", b'\n""\n').replace(b"\n\n", b'\n""\n')
            out = b'""' + out if out.startswith(b"\n") else out
    except pa.ArrowInvalid:
        if body.num_columns == 1:  # a string column: its nulls become ""
            body = pa.table([pc.fill_null(columns[0], "")], names=["0"])
        out = _write_csv(body, "needed", delimiter)
    return head.getvalue().encode() + out


def to_arrow_ipc(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue().to_pybytes()


def encode(table: pa.Table, fmt: str, *, has_headers: bool = True, delimiter: str = ",") -> tuple[bytes, str]:
    """A collected result as a buffered response body: (bytes, content type)."""
    if fmt == "arrow":
        return to_arrow_ipc(table), CONTENT_TYPES["arrow"]
    if fmt == "csv":
        return to_csv(table, has_headers=has_headers, delimiter=delimiter), CONTENT_TYPES["csv"]
    return to_json_array(table), CONTENT_TYPES["json"]


def spark_to_arrow_schema(df: DataFrame) -> pa.Schema:
    """The Arrow schema ``df.toArrow()`` returns, without running a job:
    the same conversion under the same session conf."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(
        df.schema,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=df.sparkSession._jconf.arrowUseLargeVarTypes(),
    )


def arrow_batches_incremental(df: DataFrame) -> Iterator[pa.RecordBatch]:
    """Record batches as execution produces them — no full-result driver
    materialization (reference A21/A22 semantics: execute_stream ->
    mpsc(32) -> network, record_batch_stream.rs:42-73 / flight.rs:96-144).

    Spark cuts each partition into Arrow IPC batch messages in the JVM
    (``Dataset.toArrowBatchRdd``, at ``spark.sql.execution.arrow.
    maxRecordsPerBatch`` rows), and the server ``toLocalIterator`` uses
    ships one partition at a time to the driver, prefetching the next.
    Each message is read against the declared schema, so the batches
    have exactly the types ``df.toArrow()`` gives; no Python worker runs.
    ``toArrowBatchRdd`` is ``private[sql]``, reached over py4j as PySpark
    reaches ``collectAsArrowToPython``."""
    from pyspark.serializers import NoOpSerializer
    from pyspark.util import _local_iterator_from_socket

    schema = spark_to_arrow_schema(df)
    jvm = df.sparkSession.sparkContext._jvm
    sock_info = jvm.PythonRDD.toLocalIteratorAndServe(df._jdf.toArrowBatchRdd(), True)
    for message in _local_iterator_from_socket(sock_info, NoOpSerializer()):
        yield pa.ipc.read_record_batch(pa.py_buffer(message), schema)


def arrow_stream(df: DataFrame) -> tuple[pa.Schema, Iterator[pa.RecordBatch]]:
    """The one streamed source of a result: (schema, batches), its first
    batch already executed so a failing query fails before any response
    byte. The schema is the DataFrame's declared one, what Flight
    get_flight_info reports."""
    batches = arrow_batches_incremental(df)
    first = next(batches, None)
    return spark_to_arrow_schema(df), itertools.chain([] if first is None else [first], batches)


def arrow_ipc_chunks(df: DataFrame) -> Iterator[bytes]:
    """Incremental Arrow IPC framing (reference A21): ONE logical IPC
    stream — the declared schema first, then one frame per record batch
    as each partition lands, then the end-of-stream marker — yielded as
    separate chunks for chunked HTTP transfer. Backed by ``arrow_stream``,
    so the first chunk goes out while later partitions are still
    executing; a frame holds at most the session's
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows."""
    schema, batches = arrow_stream(df)
    buf = io.BytesIO()

    def drain() -> bytes:
        data = buf.getvalue()
        buf.seek(0)
        buf.truncate()
        return data

    with pa.ipc.new_stream(buf, schema) as writer:
        for batch in batches:
            writer.write_batch(batch)
            yield drain()
    yield drain()
