"""Save/sink: write a registered table out (reference A18/A19).

- object-store / local directory: CSV (header/delimiter), ndJSON, or
  Parquet (snappy — Spark's default), single-file via coalesce(1)
  (reference object_store/writer.rs:12-69 writes one file);
- local JSON *array* file under a data dir with an overwrite guard
  (reference session.rs:493-530 + local_fs/json_file.rs:12-30).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def write_object_store(df: DataFrame, location: str, fmt: str, *,
                       has_headers: bool = True, delimiter: str = ",",
                       mode: str = "overwrite") -> None:
    fmt = fmt.lower()
    writer = df.coalesce(1).write.mode(mode)
    if fmt == "csv":
        writer.option("header", str(has_headers).lower()).option("sep", delimiter).csv(location)
    elif fmt in ("ndjson", "json"):
        writer.json(location)
    elif fmt == "parquet":
        writer.parquet(location)  # snappy is Spark's parquet default
    else:
        raise ValueError(f"unsupported save format: {fmt!r}")


def save_json_array_file(df: DataFrame, path: str, *, overwrite: bool = False) -> None:
    """Single JSON array file (reference writes an array, not ndjson)."""
    if os.path.exists(path) and not overwrite:
        raise FileExistsError(f"refusing to overwrite {path} (set overwrite)")
    from datafusion_server_spark.server.encoders import to_json_array

    data = to_json_array(df.toArrow())
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def write_dataset(
    df: DataFrame,
    location: str,
    *,
    partition_by: list[str] | None = None,
    sort_within_partitions: list[str] | None = None,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Sharded parquet output — the 100 TB leg the single-file save
    (reference parity, above) cannot serve. Hive-style directory
    partitioning on ``partition_by`` gives readers partition PRUNING
    (a lang='en' filter never touches other languages' files);
    ``sort_within_partitions`` clusters rows inside each task's files
    so parquet min/max row-group stats prune further; and
    ``max_records_per_file`` bounds file sizes without a coalesce
    (Spark splits a task's output as it exceeds the bound, no extra
    shuffle).

    The writer repartitions BY the partition columns first: otherwise
    every task holding rows of a partition value writes its own file
    into that directory — tasks x partitions small files, the classic
    output-explosion failure."""
    writer_df = df
    if partition_by:
        writer_df = writer_df.repartition(*[writer_df[c] for c in partition_by])
    if sort_within_partitions:
        writer_df = writer_df.sortWithinPartitions(*sort_within_partitions)
    writer = writer_df.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(location)
