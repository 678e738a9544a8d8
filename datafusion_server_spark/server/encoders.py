"""Response encoding: Arrow IPC stream / JSON array / CSV, buffered or
incremental (reference lib/src/response/format/* + record_batch_stream.rs).

- JSON is an array of objects (json_array_stream.rs:7-16);
- CSV honors hasHeaders/delimiter (csv_stream.rs:9-30);
- Arrow is an IPC *stream* (arrow_stream.rs:7-20);
- format negotiation: body.response.format > Accept header > JSON
  (http_response.rs:51-63);
- incremental variant yields per-batch chunks with bounded buffering
  (record_batch_stream.rs:42-73 mpsc(32) analog = toArrow batches /
  toLocalIterator backpressure).
"""

from __future__ import annotations

import io
import itertools
import json
from collections.abc import Iterator
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame

CONTENT_TYPES = {
    "json": "application/json",
    "csv": "text/csv",
    "arrow": "application/vnd.apache.arrow.stream",
}


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


def to_json_array(table: pa.Table) -> bytes:
    return json.dumps(table.to_pylist(), default=_json_default).encode()


def to_csv(table: pa.Table, *, has_headers: bool = True, delimiter: str = ",") -> bytes:
    import csv as _csv

    buf = io.StringIO()
    writer = _csv.writer(buf, delimiter=delimiter)
    if has_headers:
        writer.writerow(table.column_names)
    cols = [table.column(c).to_pylist() for c in table.column_names]
    for i in range(table.num_rows):
        writer.writerow([cols[j][i] for j in range(len(cols))])
    return buf.getvalue().encode()


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
    """The Arrow schema ``df.toArrow()`` would return, without running a job."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(df.schema)


def arrow_batches_incremental(df: DataFrame) -> Iterator[pa.RecordBatch]:
    """Record batches as execution produces them — no full-result driver
    materialization (reference A21/A22 semantics: execute_stream ->
    mpsc(32) -> network, record_batch_stream.rs:42-73 / flight.rs:96-144).

    Shape: each executor partition IPC-serializes its Arrow batches
    (mapInArrow, JVM->Python via Arrow), and ``toLocalIterator`` ships one
    partition at a time to the driver — the socket transfer plus the
    single-partition prefetch window is the bounded buffer; a result
    larger than driver memory streams through without ever residing there.
    """

    def _ipc(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, b.schema) as w:
                w.write_batch(b)
            yield pa.RecordBatch.from_arrays(
                [pa.array([sink.getvalue().to_pybytes()], type=pa.binary())], ["ipc"]
            )

    for row in df.mapInArrow(_ipc, "ipc binary").toLocalIterator(prefetchPartitions=True):
        with pa.ipc.open_stream(bytes(row[0])) as reader:
            yield from reader


def arrow_stream(df: DataFrame) -> tuple[pa.Schema, Iterator[pa.RecordBatch]]:
    """The one streamed source of a result: (schema, batches), its first
    batch already executed so a failing query fails before any response
    byte. The schema is the DataFrame's declared one — what Flight
    get_flight_info reports — and every batch is cast to it, as
    ``DataFrame.toArrow`` does: the executed plan can narrow nullability
    (a filter on a column makes it NOT NULL)."""
    schema = spark_to_arrow_schema(df)
    batches = (b.cast(schema) for b in arrow_batches_incremental(df))
    first = next(batches, None)
    return schema, itertools.chain([] if first is None else [first], batches)


def arrow_ipc_chunks(df: DataFrame, max_records_per_batch: int = 10000) -> Iterator[bytes]:
    """Incremental Arrow IPC framing (reference A21): ONE logical IPC
    stream — the declared schema first, then one frame per record batch
    as each partition lands, then the end-of-stream marker — yielded as
    separate chunks for chunked HTTP transfer. Backed by ``arrow_stream``,
    so the first chunk goes out while later partitions are still
    executing."""
    schema, batches = arrow_stream(df)
    buf = io.BytesIO()

    def drain() -> bytes:
        data = buf.getvalue()
        buf.seek(0)
        buf.truncate()
        return data

    with pa.ipc.new_stream(buf, schema) as writer:
        for whole in batches:
            # Re-slice to the requested batch granularity: partitions may
            # emit arbitrarily large batches, and callers size
            # max_records_per_batch to bound client-side memory per frame.
            for start in range(0, whole.num_rows, max_records_per_batch):
                writer.write_batch(whole.slice(start, max_records_per_batch))
                yield drain()
    yield drain()
