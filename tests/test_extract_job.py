"""The spark-submit job runs with the same engine settings as get_spark."""

from jobs.extract_job import spark_conf
from pdf_inspector_spark.session import ENGINE_CONF


def test_job_conf_carries_engine_conf():
    conf = spark_conf()
    assert conf["spark.sql.parquet.compression.codec"] == "zstd"
    assert conf["spark.sql.session.timeZone"] == "UTC"
    assert ENGINE_CONF.items() <= conf.items()
    assert "spark.master" not in conf
