"""Python post-processors: whole-result transforms applied after SQL
(reference A17: lib/src/plugin/exec_processor.rs:11-35 — result batches
are concatenated to ONE batch, passed to Python ``main(record_batch,
**kwargs)``, chained in request order).

The chain runs over the response's collected Arrow table, and its output
goes straight to the response encoder — it never re-enters Spark, so a
processor may return any Arrow type.
"""

from __future__ import annotations

from collections.abc import Callable

import pyarrow as pa

_PROCESSORS: dict[str, Callable[..., pa.RecordBatch]] = {}


def register_processor(name: str, fn: Callable[..., pa.RecordBatch]) -> None:
    _PROCESSORS[name] = fn


def list_processors() -> list[str]:
    return sorted(_PROCESSORS)


def apply_local(table: pa.Table, processors: list[dict]) -> pa.Table:
    """Chain processors over the collected result (reference semantics:
    exec_processor.rs concat -> main(batch) -> next). Each processor gets
    one RecordBatch and may return a RecordBatch or a Table."""
    for spec in processors:
        batches = table.combine_chunks().to_batches()
        batch = batches[0] if batches else pa.RecordBatch.from_pylist([], schema=table.schema)
        out = _PROCESSORS[spec["module"]](batch, **(spec.get("pluginOptions") or {}))
        table = pa.Table.from_batches([out]) if isinstance(out, pa.RecordBatch) else out
    return table


def pivot_table(rb: pa.RecordBatch, *, index: str, columns: str, values: str, **_) -> pa.RecordBatch:
    """Built-in example processor equivalent to the reference's
    pivot-table plugin (bin/plugins/processor-plugin-pivot-table/
    plugin_main.py:10-34: pandas pivot_table with mean aggregation)."""
    import pandas as pd

    pdf = rb.to_pandas()
    out = pd.pivot_table(pdf, index=[index], columns=[columns], values=[values]).reset_index()
    out.columns = [c[1] if isinstance(c, tuple) and c[1] else (c[0] if isinstance(c, tuple) else c) for c in out.columns]
    return pa.RecordBatch.from_pandas(out, preserve_index=False)


register_processor("pivot-table", pivot_table)
