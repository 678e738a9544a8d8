"""Config-file boot: the reference's settings system rebuilt for Spark.

The reference boots from a TOML file (``datafusion-server -f config.toml``)
with ``[server]`` / ``[session]`` / ``[log]`` tables plus ``[[databases]]``
and ``[[storages]]`` arrays (/root/reference/lib/src/settings.rs:154-213,
defaults at :190-213; example at bin/config.toml). This module mirrors the
keys the server reads, with the same defaults, reads TOML (stdlib
``tomllib``) or JSON, and applies the config. Keys it has no use for
(``[log]``, ``server.metrics_address``/``metrics_port``/``data_dir``) load
and are ignored, so a reference config file boots unchanged:

- ``databases``   -> JDBC namespaces (sources/jdbc.py), so ``table@ns``
  resolves (reference database_manager.rs);
- ``storages``    -> Hadoop-conf credentials (sources/credentials.py,
  reference credential_manager.rs:25-206);
- ``plugin_dir``  -> drop-in plugin discovery via ``plugin_def.toml``
  manifests (sources/plugins.py, reference definition.rs).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class ServerSettings:
    # defaults mirror settings.rs:190-213
    address: str = "0.0.0.0"
    port: int = 4000
    flight_address: str = "0.0.0.0"
    flight_grpc_port: int = 50051
    base_url: str = "/"
    plugin_dir: str = "plugin"
    disable_stateful_features: bool = False
    # Beyond-reference: run one synthetic pipeline through the
    # stateless query path at boot, before the listener accepts traffic.
    # The reference's Rust server has no JIT warmup cliff; Spark pays
    # per-plan codegen + JVM warmup on the FIRST request (~2.7x a warm
    # run, BENCH cold vs warm), so the server eats that cost at boot
    # instead of handing it to the first caller. A/B in PLANS.md.
    prewarm: bool = True


@dataclass
class SessionSettings:
    default_keep_alive: int = 3600  # seconds (settings.rs:211)
    upload_limit_size: int = 20  # MB (settings.rs:213)


@dataclass
class Settings:
    server: ServerSettings = field(default_factory=ServerSettings)
    session: SessionSettings = field(default_factory=SessionSettings)
    databases: list[dict] = field(default_factory=list)
    storages: list[dict] = field(default_factory=list)

    @property
    def upload_limit_bytes(self) -> int:
        return self.session.upload_limit_size * 1024 * 1024

    @property
    def normalized_base_url(self) -> str:
        """Reference normalization (routes.rs:73-85): ensure a leading
        '/', strip a trailing '/'. The default "/" normalizes to "" —
        i.e. no prefix."""
        b = self.server.base_url
        if not b.startswith("/"):
            b = "/" + b
        if b.endswith("/"):
            b = b[:-1]
        return b

    @staticmethod
    def load(path: str | Path | None = None) -> "Settings":
        """Defaults overlaid with a TOML or JSON config file."""
        raw: dict = {}
        if path is not None:
            p = Path(path)
            text = p.read_bytes()
            if p.suffix == ".json":
                raw = json.loads(text)
            else:
                import tomllib

                raw = tomllib.loads(text.decode())
        return Settings.from_dict(raw)

    @staticmethod
    def from_dict(raw: dict) -> "Settings":
        s = Settings()
        for section, target in (("server", s.server), ("session", s.session)):
            for k, v in (raw.get(section) or {}).items():
                if hasattr(target, k):
                    setattr(target, k, v)
        s.databases = list(raw.get("databases") or [])
        s.storages = list(raw.get("storages") or [])
        return s

    # -- appliers ----------------------------------------------------------

    def apply_databases(self) -> list[str]:
        """``[[databases]]`` entries -> JDBC namespaces (reference
        database_manager.rs builds one pool per namespace)."""
        from datafusion_server_spark.sources import jdbc

        names = []
        for db in self.databases:
            kind = str(db.get("type", "postgres")).lower()
            if kind == "sqlite":
                # stdlib-backed external database: url is the db file path.
                # An empty path would make sqlite3.connect('') open an
                # anonymous temp database and every later table@ns query
                # fail confusingly — reject at config-boot instead.
                database = str(db.get("database", "") or "")
                if not database:
                    raise ValueError(
                        f"[[databases]] namespace {db.get('namespace')!r}: "
                        "sqlite entries require a non-empty 'database' path"
                    )
                ns = jdbc.DatabaseNamespace(
                    name=db["namespace"],
                    url=database,
                    kind="sqlite",
                )
                jdbc.configure_namespace(ns)
                names.append(ns.name)
                continue
            driver = {"postgres": "postgresql", "mysql": "mysql"}.get(kind, kind)
            host = db.get("host", "localhost")
            port = db.get("port", 5432 if kind == "postgres" else 3306)
            database = db.get("database", "")
            ns = jdbc.DatabaseNamespace(
                name=db["namespace"],
                url=f"jdbc:{driver}://{host}:{port}/{database}",
                user=db.get("user"),
                password=db.get("password"),
                max_connections=int(db.get("max_connections", 10)),
            )
            jdbc.configure_namespace(ns)
            names.append(ns.name)
        return names

    def apply_storages(self, spark) -> int:
        """``[[storages]]`` entries -> Hadoop-conf credentials (reference
        credential_manager.rs:25-206; 'aws'/'gcp'/'azure'/'webdav')."""
        from datafusion_server_spark.sources import credentials

        n = 0
        for st in self.storages:
            kind = str(st.get("type", "")).lower()
            if kind in ("aws", "s3"):
                credentials.configure_s3(
                    spark,
                    access_key=st.get("access_key_id"),
                    secret_key=st.get("secret_access_key"),
                    endpoint=st.get("endpoint"),
                    region=st.get("region"),
                    bucket=st.get("bucket"),
                    path_style=bool(st.get("path_style", False)),
                )
            elif kind in ("gcp", "gcs"):
                credentials.configure_gcs(
                    spark, service_account_key=st.get("service_account_key")
                )
            elif kind == "azure":
                credentials.configure_azure(
                    spark,
                    account_name=st.get("account_name", ""),
                    account_key=st.get("access_key") or st.get("account_key"),
                )
            elif kind == "webdav":
                credentials.configure_webdav(
                    spark,
                    url=st.get("url", ""),
                    user=st.get("user"),
                    password=st.get("password"),
                )
            else:
                raise ValueError(f"unknown storage type: {kind!r}")
            n += 1
        return n

    def apply_plugins(self) -> list[str]:
        """Scan ``plugin_dir`` for ``plugin_def.toml`` manifests and
        register connectors/processors (reference definition.rs)."""
        from datafusion_server_spark.sources import plugins

        if not Path(self.server.plugin_dir).is_dir():
            return []
        return plugins.discover_plugins(self.server.plugin_dir)

    def apply(self, spark) -> dict:
        """Apply every config section; returns a summary for logging."""
        return {
            "namespaces": self.apply_databases(),
            "storages": self.apply_storages(spark),
            "plugins": self.apply_plugins(),
        }
