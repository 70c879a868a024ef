"""DDL schema casting (``operators.cleaning.apply_schema``)."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import types as T

from airflow_etl_minio_to_postgres_spark.operators.cleaning import apply_schema


def test_apply_schema_casts_to_ddl_types(spark):
    df = spark.createDataFrame(
        [("1234.567", 10, "x")], ["list_price", "year_built", "extra"]
    )
    struct = T.StructType(
        [
            T.StructField("list_price", T.DecimalType(10, 2)),
            T.StructField("year_built", T.LongType()),
        ]
    )
    out = apply_schema(df, struct)
    assert out.columns == ["list_price", "year_built"]
    row = out.collect()[0]
    assert row["list_price"] == Decimal("1234.57")
    assert isinstance(row["year_built"], int)


def test_apply_schema_missing_column_raises(spark):
    df = spark.createDataFrame([(1,)], ["a"])
    struct = T.StructType([T.StructField("b", T.LongType())])
    try:
        apply_schema(df, struct)
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "missing" in str(e)
