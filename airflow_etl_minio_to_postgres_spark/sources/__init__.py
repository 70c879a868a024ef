from airflow_etl_minio_to_postgres_spark.sources.catalog import load_table

__all__ = ["load_table"]
