"""Medallion pipeline on a FIXTURES.md §A1-style edge-case fixture:
whitespace/mixed case, empty strings, nulls in int and string columns,
duplicate main keys, duplicate dim rows (reference semantics at
dags/dag_etl_minio_to_postgres.py:365-597)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from airflow_etl_minio_to_postgres_spark.operators.normalize import (
    columns_by_target,
    key_columns_for,
    split_by_field_config,
    unique_targets,
)
from airflow_etl_minio_to_postgres_spark.plans.medallion import run_medallion

RAW_SCHEMA = T.StructType(
    [
        T.StructField("Property_Title", T.StringType()),
        T.StructField("Zip", T.StringType()),
        T.StructField("HOA", T.LongType()),
        T.StructField("HOA_Flag", T.StringType()),
        T.StructField("Taxes", T.LongType()),
        T.StructField("Source", T.StringType()),
        T.StructField("List_Price", T.DoubleType()),
    ]
)

ROWS = [
    # whitespace + mixed case -> cleaned; will duplicate with row 2's key
    ("  House A  ", "11111", 100, "Yes", 5, "  Zillow ", 1.0),
    ("house a", "11111", 100, "Yes", 5, "mls", 2.0),       # dup (title, zip) + dup dim rows
    ("House B", "22222", 100, "yes", 7, "", 3.0),          # '' -> unknown
    ("House C", "33333", None, None, None, None, 4.0),     # nulls -> -1 / unknown
]

FIELD_CONFIG = [
    ("Property_Title", "property"),
    ("Zip", "property"),
    ("HOA", "HOA"),          # mixed-case target (reference :152-155)
    ("HOA_Flag", "hoa"),
    ("Taxes", "Taxes"),
    ("Source", "Leads"),
    ("List_Price", "valuation"),
]


@pytest.fixture(scope="module")
def result(spark):
    raw = spark.createDataFrame(ROWS, RAW_SCHEMA)
    fc = spark.createDataFrame(FIELD_CONFIG, ["column_name", "target_table"])
    return run_medallion(raw, fc)


def test_silver_cleaning(result):
    rows = {r["zip"]: r for r in result.silver.collect()}
    assert rows["11111"]["property_title"] in {"house a"}  # trimmed + lowered
    assert rows["22222"]["source"] == "unknown"            # '' -> null -> unknown
    assert rows["33333"]["hoa"] == -1                      # int null -> -1
    assert rows["33333"]["source"] == "unknown"            # string null -> unknown


def test_gold_tables_present(result):
    assert set(result.gold) == {"property", "hoa", "taxes", "leads", "valuation"}


def test_property_carries_id_and_keys(result):
    prop = result.gold["property"]
    assert prop.columns[0] == "property_id"
    for key in ["natural_key", "property_key", "hoa_key", "taxes_key"]:
        assert key in prop.columns
    rows = prop.collect()
    assert len(rows) == 4  # one per source row, dups kept
    by_title = {}
    for r in rows:
        by_title.setdefault((r["property_title"], r["zip"]), set()).add(
            (r["property_key"], r["property_id"])
        )
    # duplicate (title, zip) rows share one key AND one id
    assert len(by_title[("house a", "11111")]) == 1
    ids = {r["property_id"] for r in rows}
    assert ids == {1, 2, 3}  # dense ids over 3 distinct keys


def test_dims_deduped(result):
    hoa = result.gold["hoa"].collect()
    # (100,'yes') appears in 3 source rows -> 1 dim row; (-1,'unknown') from nulls
    assert sorted((r["hoa"], r["hoa_flag"]) for r in hoa) == [
        (-1, "unknown"),
        (100, "yes"),
    ]
    taxes = result.gold["taxes"].collect()
    assert sorted(r["taxes"] for r in taxes) == [-1, 5, 7]
    assert all(len(r["taxes_key"]) == 16 for r in taxes)


def test_satellites_resolved_and_renamed(result):
    leads = result.gold["leads"]
    assert leads.columns == ["property_id", "lead_source"]  # source renamed
    vals = {r["lead_source"] for r in leads.collect()}
    assert vals == {"zillow", "mls", "unknown"}
    # every satellite id resolves into the property table
    prop_ids = {r["property_id"] for r in result.gold["property"].collect()}
    assert {r["property_id"] for r in leads.collect()} <= prop_ids
    valuation = result.gold["valuation"]
    assert valuation.columns == ["property_id", "list_price"]
    assert valuation.count() == 4


def test_field_config_helpers(spark):
    fc = spark.createDataFrame(FIELD_CONFIG, ["column_name", "target_table"])
    assert unique_targets(fc) == ["hoa", "leads", "property", "taxes", "valuation"]
    cols = columns_by_target(fc)
    assert cols["property"] == ["property_title", "zip"]
    assert cols["hoa"] == ["hoa", "hoa_flag"]
    assert key_columns_for("property") == [
        "natural_key", "property_key", "hoa_key", "taxes_key",
    ]
    assert key_columns_for("hoa") == ["hoa_key"]
    assert key_columns_for("leads") == ["property_key"]


def test_split_by_field_config_derived_dim_keys(spark, result):
    fc = spark.createDataFrame(FIELD_CONFIG, ["column_name", "target_table"])
    splits = split_by_field_config(
        result.silver.withColumns(
            {
                "natural_key": result.silver["zip"],
                "property_key": result.silver["zip"],
                "hoa_key": result.silver["zip"],
                "taxes_key": result.silver["zip"],
            }
        ),
        fc,
    )
    assert splits["property"].columns[:4] == [
        "natural_key", "property_key", "hoa_key", "taxes_key",
    ]
    assert splits["taxes"].columns == ["taxes_key", "taxes"]
    assert splits["leads"].columns == ["property_key", "source"]


def test_write_medallion_idempotent(spark, tmp_path_factory, result):
    from airflow_etl_minio_to_postgres_spark.plans.medallion import write_medallion
    from airflow_etl_minio_to_postgres_spark.sources.manifest import read_resolved

    base = str(tmp_path_factory.mktemp("medallion"))
    paths = write_medallion(
        result, base, audit_null_cols={"property": ["property_key"]}
    )
    assert set(paths) == {"silver", "property", "hoa", "taxes", "leads", "valuation"}
    first = read_resolved(spark, paths["property"]).count()
    # The audit rides every write: metrics observed during the sink scan.
    assert set(result.audits) == set(paths)
    assert result.audits["property"]["n_rows"] == first == 4
    assert result.audits["property"]["n_null_property_key"] == 0
    assert result.audits["silver"]["n_rows"] > 0
    # Rerun must replace, not append (reference is NOT rerun-safe).
    write_medallion(result, base)
    assert read_resolved(spark, paths["property"]).count() == first == 4


def test_write_medallion_gates_on_collapsed_feed(spark, tmp_path_factory, result):
    import pytest

    from airflow_etl_minio_to_postgres_spark.plans.medallion import write_medallion

    base = str(tmp_path_factory.mktemp("medallion_gate"))
    # a min_rows above any table's count must abort the run loudly — the
    # reference's silent-failure mode (collapsed upstream feed flowing
    # into gold) becomes a hard error at the first write.
    with pytest.raises(ValueError, match="audit 'silver_audit'"):
        write_medallion(result, base, min_rows=10**9)


def test_reorder_first(spark):
    from airflow_etl_minio_to_postgres_spark.operators.normalize import reorder_first

    df = spark.createDataFrame([(1, 2, 3)], ["a", "b", "id"])
    assert reorder_first(df, "id").columns == ["id", "a", "b"]
