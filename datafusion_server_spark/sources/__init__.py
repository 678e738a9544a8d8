"""Data-source ingestion (reference lib/src/data_source/*).

- ``readers``   CSV / JSON array / ndJSON / Parquet / ORC from a path;
                the HTTP fetch and the staging of bytes to a file.
- ``jsonpath``  minimal JSONPath evaluator for the A4 extraction option.
- ``registry``  (format x scheme) dispatch: one format table; lazy listing
                registration for object stores; the once-per-process
                connector lookup that picks Avro / Delta / S3 / JDBC
                fallbacks.
- ``plugins``   Python connector-plugin registry (scheme -> callable).
"""
