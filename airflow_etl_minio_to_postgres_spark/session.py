"""SparkSession factory.

The reference runs single-process pandas under Airflow's LocalExecutor
(``config/airflow.cfg:51``, parallelism=32 at ``:93``).  The engine replaces
that with one SparkSession whose defaults are chosen for cluster scale:

* AQE on (runtime partition coalescing, skew-join splitting, dynamic
  broadcast) so plans re-optimize at 100 TB without hand-tuning.
* ``spark.sql.shuffle.partitions`` sized to the local core count here; on a
  real cluster AQE coalesces or the operator passes an explicit value.
* Arrow enabled so any unavoidable pandas interchange is vectorized.
* Driver-held rows enter a plan one way, :func:`local_relation`.
* s3a settings are applied only when a MinIO/S3 endpoint is configured, so
  local-FS tests never need the object store (reference reads MinIO via
  S3Hook at ``dags/dag_etl_minio_to_postgres.py:32-49``).
"""

from __future__ import annotations

import os
import tempfile
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


@dataclass(frozen=True)
class ObjectStoreConfig:
    """MinIO/S3 endpoint config (reference: ``dags/dag_etl_minio_to_postgres.py:15-20``)."""

    endpoint: str
    access_key: str
    secret_key: str
    path_style_access: bool = True  # MinIO requires path-style addressing


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "airflow-etl-minio-to-postgres-spark",
    master: str | None = None,
    object_store: ObjectStoreConfig | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so tests and bench
    share one knob; on a cluster, pass ``None`` with a pre-set master or use
    spark-submit and this becomes a no-op passthrough.
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # At 100 TB a single 128 MB default split is fine, but cap in-flight
        # partition bytes so wide parquet rows (documents/embeddings) don't
        # blow task memory.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Catalog tables (bucketed writes) land outside the repo tree.
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "spark_graft_warehouse"),
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cores}]")

    if object_store is not None:
        builder = (
            builder.config("spark.hadoop.fs.s3a.endpoint", object_store.endpoint)
            .config("spark.hadoop.fs.s3a.access.key", object_store.access_key)
            .config("spark.hadoop.fs.s3a.secret.key", object_store.secret_key)
            .config(
                "spark.hadoop.fs.s3a.path.style.access",
                str(object_store.path_style_access).lower(),
            )
            .config("spark.hadoop.fs.s3a.connection.ssl.enabled", "false")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_relation(
    spark: SparkSession, rows: list, schema: str | StructType | list[str]
) -> DataFrame:
    """Driver-held ``rows`` (tuples, positional) as a DataFrame — the
    one way file inventories, probe keys, sidecar rows, centroids and
    query sides enter a plan.  The rows travel as a pyarrow Table, so
    the frame is a JVM ``LocalRelation``: it plans as a
    ``LocalTableScan``, a collect or broadcast of it schedules no job,
    a projection over it folds into the relation at planning time, and
    no Python worker ever runs for it.
    (A list-built ``createDataFrame`` plans as ``Scan ExistingRDD`` —
    a job wherever it is consumed; a pandas-built one does the same
    when the session's Arrow flag is off or the frame is empty.)

    ``schema`` is a DDL string or ``StructType`` — each column is
    inferred from its Python values, then cast to the declared type —
    or a list of column names, which keeps the inferred types (the
    probe rule: values enter in their own Python types and the caller
    casts them to the column type in the engine)."""
    import pyarrow as pa

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    names = schema.names if isinstance(schema, StructType) else list(schema)
    cols = list(zip(*rows)) if rows else [() for _ in names]
    table = pa.table([pa.array(list(c)) for c in cols], names=names)
    return spark.createDataFrame(table, schema)
