"""Opt-in s3a/MinIO round-trip smoke test.

The reference reads/writes MinIO via S3Hook (``dags/dag_etl_minio_to_
postgres.py:32-49``); this engine plumbs the equivalent s3a conf
(``session.py`` ``ObjectStoreConfig``) but the sandbox ships no object
store, so the round-trip cannot run here.  Wherever a MinIO/S3 endpoint
DOES exist, export:

    SPARK_GRAFT_S3_ENDPOINT=http://minio:9000
    SPARK_GRAFT_S3_ACCESS_KEY=...   SPARK_GRAFT_S3_SECRET_KEY=...
    SPARK_GRAFT_S3_BUCKET=spark-graft-smoke   # must already exist

and this test writes the region table as CSV to
``s3a://$BUCKET/smoke/region.csv`` and reads it back through the same
extension-dispatch path the bronze ingest uses.  Requires hadoop-aws +
aws-sdk jars on the Spark classpath (e.g. ``spark.jars.packages=
org.apache.hadoop:hadoop-aws:<hadoop version>``); if they are absent the
test skips with a pointer instead of failing.
"""

from __future__ import annotations

import os

import pytest

from airflow_etl_minio_to_postgres_spark.schemas import TESTDATA_SCHEMAS
from airflow_etl_minio_to_postgres_spark.sources.catalog import load_table
from airflow_etl_minio_to_postgres_spark.sources.files import read_csv, write_csv
from tests.conftest import SF_SMOKE

ENDPOINT = os.environ.get("SPARK_GRAFT_S3_ENDPOINT")


@pytest.mark.skipif(
    not ENDPOINT, reason="SPARK_GRAFT_S3_ENDPOINT not set (no object store here)"
)
def test_s3a_csv_roundtrip_region(spark):
    bucket = os.environ.get("SPARK_GRAFT_S3_BUCKET", "spark-graft-smoke")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("fs.s3a.endpoint", ENDPOINT)
    hconf.set("fs.s3a.access.key", os.environ.get("SPARK_GRAFT_S3_ACCESS_KEY", ""))
    hconf.set("fs.s3a.secret.key", os.environ.get("SPARK_GRAFT_S3_SECRET_KEY", ""))
    hconf.set("fs.s3a.path.style.access", "true")
    hconf.set("fs.s3a.connection.ssl.enabled", "false")

    region = load_table(spark, "region", SF_SMOKE)
    uri = f"s3a://{bucket}/smoke/region.csv"
    try:
        write_csv(region.coalesce(1), uri)
    except Exception as exc:  # jar probing: only ClassNotFound is a skip
        if "ClassNotFoundException" in str(exc) or "S3AFileSystem" in str(exc):
            pytest.skip(
                "hadoop-aws/aws-sdk jars not on the Spark classpath; add "
                "spark.jars.packages=org.apache.hadoop:hadoop-aws:<version>"
            )
        raise

    back = read_csv(spark, uri, schema=TESTDATA_SCHEMAS["region"])
    assert sorted(r.asDict() for r in back.collect()) == sorted(
        r.asDict() for r in region.collect()
    )
