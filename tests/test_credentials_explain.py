from __future__ import annotations

import pytest

from datafusion_server_spark.sources import credentials


def test_s3_credentials_set_hadoop_conf(spark):
    conf = credentials.configure_s3(
        spark,
        access_key="AK",
        secret_key="SK",
        endpoint="http://minio:9000",
        region="us-east-1",
        path_style=True,
    )
    h = spark.sparkContext._jsc.hadoopConfiguration()
    assert h.get("fs.s3a.access.key") == "AK"
    assert h.get("fs.s3a.endpoint") == "http://minio:9000"
    assert h.get("fs.s3a.path.style.access") == "true"
    assert conf["fs.s3a.secret.key"] == "SK"


def test_s3_bucket_scoped(spark):
    credentials.configure_s3(spark, access_key="BK", bucket="mybucket")
    h = spark.sparkContext._jsc.hadoopConfiguration()
    assert h.get("fs.s3a.bucket.mybucket.access.key") == "BK"


def test_azure_and_storages_config(spark):
    """The ``[[storages]]`` section with the reference's keys
    (settings.rs) lands in the Hadoop conf; unknown types fail."""
    from datafusion_server_spark.settings import Settings

    applied = Settings.from_dict(
        {
            "storages": [
                {"type": "aws", "access_key_id": "A1", "secret_access_key": "S1",
                 "bucket": "b1"},
                {"type": "azure", "account_name": "acct", "access_key": "KEY"},
            ]
        }
    ).apply_storages(spark)
    assert applied == 2
    h = spark.sparkContext._jsc.hadoopConfiguration()
    assert h.get("fs.s3a.bucket.b1.access.key") == "A1"
    assert h.get("fs.azure.account.key.acct.dfs.core.windows.net") == "KEY"
    with pytest.raises(ValueError):
        Settings.from_dict({"storages": [{"type": "ftp"}]}).apply_storages(spark)


def test_explain_passthrough(spark):
    """Reference passes EXPLAIN through to the engine (SURVEY §2.B);
    Spark SQL does the same natively through the session query path."""
    from datafusion_server_spark.server.api import Engine

    engine = Engine(spark, start_reaper=False)
    engine.session_create("ex", 600)
    sess = engine.sessions.get("ex")
    sess.spark.createDataFrame([(1,)], ["a"]).createOrReplaceTempView("exp_t")
    out = engine._query(sess, "EXPLAIN SELECT a FROM exp_t WHERE a > 0")
    text = out.collect()[0][0]
    assert "Physical Plan" in text or "Filter" in text
    engine.sessions.delete("ex")
