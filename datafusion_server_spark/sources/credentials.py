"""Object-store credential configuration -> Hadoop conf mapping.

Rebuilds the reference's credential manager
(/root/reference/lib/src/data_source/object_store/credential_manager.rs:25-206),
which wires per-scheme credentials (AWS S3, GCS, Azure, WebDAV) into its
object-store clients. The Spark-native equivalent is the Hadoop
filesystem configuration on the SparkContext; listing sources then read
``s3a://`` / ``gs://`` / ``abfss://`` URIs directly with full pushdown.

The ``[[storages]]`` config section (reference settings.rs keys) is
dispatched to these setters by ``settings.Settings.apply_storages``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _hconf(spark: SparkSession):
    return spark.sparkContext._jsc.hadoopConfiguration()


def configure_s3(
    spark: SparkSession,
    *,
    access_key: str | None = None,
    secret_key: str | None = None,
    endpoint: str | None = None,
    region: str | None = None,
    bucket: str | None = None,
    path_style: bool = False,
) -> dict[str, str]:
    """S3/MinIO credentials (credential_manager.rs AWS branch). Bucket-
    scoped settings use the per-bucket hadoop-aws namespace."""
    prefix = f"fs.s3a.bucket.{bucket}" if bucket else "fs.s3a"
    conf: dict[str, str] = {}
    if access_key:
        conf[f"{prefix}.access.key"] = access_key
    if secret_key:
        conf[f"{prefix}.secret.key"] = secret_key
    if endpoint:
        conf[f"{prefix}.endpoint"] = endpoint
    if region:
        conf[f"{prefix}.endpoint.region"] = region
    if path_style:
        conf[f"{prefix}.path.style.access"] = "true"
    h = _hconf(spark)
    for k, v in conf.items():
        h.set(k, v)
    return conf


def configure_gcs(
    spark: SparkSession, *, service_account_key: str | None = None
) -> dict[str, str]:
    conf = {
        "fs.gs.impl": "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFileSystem",
        "fs.AbstractFileSystem.gs.impl": "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFS",
    }
    if service_account_key:
        conf["google.cloud.auth.service.account.enable"] = "true"
        conf["google.cloud.auth.service.account.json.keyfile"] = service_account_key
    h = _hconf(spark)
    for k, v in conf.items():
        h.set(k, v)
    return conf


def configure_azure(
    spark: SparkSession, *, account_name: str, account_key: str | None = None
) -> dict[str, str]:
    conf: dict[str, str] = {}
    if account_key:
        conf[f"fs.azure.account.key.{account_name}.dfs.core.windows.net"] = account_key
    h = _hconf(spark)
    for k, v in conf.items():
        h.set(k, v)
    return conf


def configure_webdav(
    spark: SparkSession, *, url: str, user: str | None = None, password: str | None = None
) -> dict[str, str]:
    """WebDAV store (reference credential_manager.rs:93-101). Hadoop has
    no built-in WebDAV filesystem; the conf keys follow the fs.<scheme>
    convention and require a connector jar providing ``fs.webdav.impl`` —
    gated exactly like avro/delta: the config maps cleanly, the read
    errors clearly if the implementation is absent."""
    conf: dict[str, str] = {"fs.webdav.url": url}
    if user:
        conf["fs.webdav.user"] = user
    if password:
        conf["fs.webdav.password"] = password
    h = _hconf(spark)
    for k, v in conf.items():
        h.set(k, v)
    return conf
