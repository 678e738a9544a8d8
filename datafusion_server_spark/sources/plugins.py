"""Python connector-plugin registry (reference A13 + §2.D).

The reference dispatches custom URI schemes to Python plugin functions
with signature ``main(format, authority, path, schema, **kwargs)``
returning a pyarrow RecordBatch / JSON str / CSV str / Parquet bytes
(lib/src/data_source/connector_plugin.rs:19-97, plugin execution at
lib/src/plugin/plugin_manager.rs:66-131, scheme map at
lib/src/plugin/plugin_map.rs).

Here plugins are plain in-process callables registered per scheme; the
returned payload goes through the same ingestion readers. ``system_info``
kwargs mirror plugin_manager.rs:186-199.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any
from urllib.parse import urlparse

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from datafusion_server_spark import __version__

_CONNECTORS: dict[str, Callable[..., Any]] = {}


def register_connector(scheme: str, fn: Callable[..., Any]) -> None:
    _CONNECTORS[scheme.lower()] = fn


def unregister_connector(scheme: str) -> None:
    _CONNECTORS.pop(scheme.lower(), None)


def has_scheme(scheme: str) -> bool:
    return scheme.lower() in _CONNECTORS


def system_info() -> dict:
    # reference plugin_manager.rs:186-199 system_config kwargs
    return {"system_version": __version__, "system_log_level": "info"}


def discover_plugins(plugin_dir: str) -> list[str]:
    """Drop-in plugin discovery (reference definition.rs + plugin_map.rs):
    scan ``plugin_dir`` subdirectories for ``plugin_def.toml`` manifests —

        [general]
        plugin_type = "datasource" | "processor"
        scheme = "..."   # datasource: URI scheme to claim
        module = "..."   # processor: name used in postProcessors requests
        [plugin]
        file = "plugin_main.py"   # default
        entry = "main"            # default

    — import the plugin file, and register the entry callable under its
    scheme (connector) or module name (processor). Returns the registered
    scheme/module names.
    """
    import importlib.util
    import tomllib
    from pathlib import Path

    registered: list[str] = []
    for manifest in sorted(Path(plugin_dir).glob("*/plugin_def.toml")):
        with open(manifest, "rb") as f:
            spec = tomllib.load(f)
        general = spec.get("general") or {}
        plug = spec.get("plugin") or {}
        ptype = general.get("plugin_type")
        file = manifest.parent / plug.get("file", "plugin_main.py")
        entry = plug.get("entry", "main")
        mod_name = f"dfss_plugin_{manifest.parent.name.replace('-', '_')}"
        mspec = importlib.util.spec_from_file_location(mod_name, file)
        if mspec is None or mspec.loader is None:
            raise ImportError(f"cannot load plugin file: {file}")
        module = importlib.util.module_from_spec(mspec)
        mspec.loader.exec_module(module)
        fn = getattr(module, entry)
        if ptype == "datasource":
            scheme = general["scheme"]
            register_connector(scheme, fn)
            registered.append(scheme)
        elif ptype == "processor":
            from datafusion_server_spark.operators import postprocess

            name = general["module"]
            postprocess.register_processor(name, fn)
            registered.append(name)
        else:
            raise ValueError(f"unknown plugin_type in {manifest}: {ptype!r}")
    return registered


def load(spark: SparkSession, ds) -> DataFrame:
    """Run the connector for ``ds.location``'s scheme and ingest whatever
    it returns (RecordBatch/Table, JSON/CSV text, Parquet bytes, or a list
    of dict rows)."""
    parsed = urlparse(ds.location)
    fn = _CONNECTORS[parsed.scheme.lower()]
    kwargs = dict(ds.plugin_options or {})
    kwargs.update(system_info())
    result = fn(ds.format, parsed.netloc, parsed.path, ds.options.schema_json, **kwargs)

    from datafusion_server_spark.sources import readers

    if isinstance(result, pa.RecordBatch):
        result = pa.Table.from_batches([result])
    if isinstance(result, pa.Table):
        return spark.createDataFrame(result)
    if isinstance(result, bytes):
        return readers.read_parquet(spark, readers.stage_bytes(result, ".parquet"), ds.options)
    if isinstance(result, str):
        if result.lstrip().startswith(("[", "{")):
            return readers.read_json_array(spark, readers.stage_bytes(result.encode(), ".json"), ds.options)
        return readers.read_csv(spark, readers.stage_bytes(result.encode(), ".csv"), ds.options)
    if isinstance(result, list):
        return spark.createDataFrame(result)
    raise TypeError(f"connector returned unsupported type: {type(result).__name__}")
