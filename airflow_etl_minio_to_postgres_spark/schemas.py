"""Explicit StructType registry.

The reference fixes types by DDL at the silver/gold boundary
(``dags/dag_etl_minio_to_postgres.py:296-322`` silver, ``:413-551`` gold) and
lets pandas infer everything upstream.  The engine declares every schema
up-front so scans never pay inference and Catalyst can prune columns.

Two families:

* medallion schemas — ``property_raw`` (66-col wide table, recovered from the
  silver DDL + Field Config workbook; see FIXTURES.md A1), ``field_config``,
  and the six gold tables.
* driver test tables (TESTDATA.md) — TPC-H-ish star schema + events/
  documents/embeddings.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Medallion: raw/silver wide table (66 columns).
# (name, spark type at silver, gold target table)
# Column order matches the raw workbook / silver DDL
# (reference dags/dag_etl_minio_to_postgres.py:296-315).
# ---------------------------------------------------------------------------

_D = T.DecimalType

PROPERTY_RAW_COLUMNS: list[tuple[str, T.DataType, str]] = [
    ("property_title", T.StringType(), "property"),
    ("address", T.StringType(), "property"),
    ("reviewed_status", T.StringType(), "leads"),
    ("most_recent_status", T.StringType(), "leads"),
    ("source", T.StringType(), "leads"),
    ("market", T.StringType(), "property"),
    ("occupancy", T.StringType(), "leads"),
    ("flood", T.StringType(), "property"),
    ("street_address", T.StringType(), "property"),
    ("city", T.StringType(), "property"),
    ("state", T.StringType(), "property"),
    ("zip", T.StringType(), "property"),
    ("property_type", T.StringType(), "property"),
    ("highway", T.StringType(), "property"),
    ("train", T.StringType(), "property"),
    ("tax_rate", _D(5, 2), "property"),
    ("sqft_basement", T.LongType(), "property"),
    ("htw", T.StringType(), "property"),
    ("pool", T.StringType(), "property"),
    ("commercial", T.StringType(), "property"),
    ("water", T.StringType(), "property"),
    ("sewage", T.StringType(), "property"),
    ("year_built", T.LongType(), "property"),
    ("sqft_mu", T.LongType(), "property"),
    ("sqft_total", T.LongType(), "property"),
    ("parking", T.StringType(), "property"),
    ("bed", T.LongType(), "property"),
    ("bath", T.LongType(), "property"),
    ("basement_yes_no", T.StringType(), "property"),
    ("layout", T.StringType(), "property"),
    ("net_yield", _D(5, 2), "leads"),
    ("irr", _D(5, 2), "leads"),
    ("rent_restricted", T.StringType(), "property"),
    ("neighborhood_rating", T.LongType(), "property"),
    ("previous_rent", T.LongType(), "valuation"),
    ("list_price", _D(10, 2), "valuation"),
    ("zestimate", _D(10, 2), "valuation"),
    ("arv", _D(10, 2), "valuation"),
    ("expected_rent", _D(10, 2), "valuation"),
    ("rent_zestimate", _D(10, 2), "valuation"),
    ("low_fmr", _D(10, 2), "valuation"),
    ("high_fmr", _D(10, 2), "valuation"),
    ("hoa", T.LongType(), "hoa"),
    ("underwriting_rehab", T.LongType(), "rehab"),
    ("rehab_calculation", T.LongType(), "rehab"),
    ("paint", T.StringType(), "rehab"),
    ("flooring_flag", T.StringType(), "rehab"),
    ("foundation_flag", T.StringType(), "rehab"),
    ("roof_flag", T.StringType(), "rehab"),
    ("hvac_flag", T.StringType(), "rehab"),
    ("kitchen_flag", T.StringType(), "rehab"),
    ("bathroom_flag", T.StringType(), "rehab"),
    ("appliances_flag", T.StringType(), "rehab"),
    ("windows_flag", T.StringType(), "rehab"),
    ("landscaping_flag", T.StringType(), "rehab"),
    ("trashout_flag", T.StringType(), "rehab"),
    ("latitude", _D(10, 6), "property"),
    ("longitude", _D(10, 6), "property"),
    ("subdivision", T.StringType(), "property"),
    ("taxes", T.LongType(), "taxes"),
    ("redfin_value", _D(10, 2), "valuation"),
    ("selling_reason", T.StringType(), "leads"),
    ("seller_retained_broker", T.StringType(), "leads"),
    ("hoa_flag", T.StringType(), "hoa"),
    ("final_reviewer", T.StringType(), "leads"),
    ("school_average", _D(4, 2), "property"),
]

PROPERTY_RAW_SCHEMA = T.StructType(
    [T.StructField(n, t, True) for n, t, _ in PROPERTY_RAW_COLUMNS]
)

FIELD_CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("column_name", T.StringType(), True),
        T.StructField("target_table", T.StringType(), True),
    ]
)

# Gold key layout (reference dags/dag_etl_minio_to_postgres.py:166-183,
# 386-391): the natural key's columns and each hash key's columns.  The
# main table carries the natural key and every hash key; each other hash
# key is owned by the dimension it names (``hoa_key`` -> ``hoa``), which
# carries only that key; every other table is a satellite carrying
# ``MAIN_KEY``.
MAIN_TABLE = "property"
NATURAL_KEY_COLS = ["property_title", "zip"]
HASH_KEY_DEFS: dict[str, list[str]] = {
    "hoa_key": ["hoa", "hoa_flag"],
    "taxes_key": ["taxes"],
    "property_key": ["property_title", "zip"],
}
MAIN_KEY = f"{MAIN_TABLE}_key"
DIM_KEYS: dict[str, str] = {
    k.removesuffix("_key"): k for k in HASH_KEY_DEFS if k != MAIN_KEY
}
HASH_LEN = 16  # hex chars kept from every sha256 key (reference :209-212)

# Silver -> gold rename at the leads sink (reference :559 vs :182).
GOLD_RENAMES: dict[str, dict[str, str]] = {"leads": {"source": "lead_source"}}

# ---------------------------------------------------------------------------
# Driver test tables (TESTDATA.md / FIXTURES.md B) — declared so scans never
# pay schema inference and tests can assert exact dtypes.
# ---------------------------------------------------------------------------

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TESTDATA_TABLES = list(TESTDATA_SCHEMAS)
