"""Metadata-driven vertical partitioning (the gold-stage split).

The reference splits the 66-column silver table into six gold tables using a
field-config metadata table (``column_name -> target_table``), with key
columns prepended per table role (reference
``dags/dag_etl_minio_to_postgres.py:152-199``):

* the main table (``property``) gets ``[natural_key, property_key, hoa_key,
  taxes_key]`` (``:166-170``),
* key-owning dimensions (``hoa``, ``taxes``) get their ``<dim>_key``
  (``:172-177``),
* satellites (``leads``, ``rehab``, ``valuation``) get ``[property_key]``
  (``:179-183``).

Spark-first: the field config stays a real (tiny) DataFrame; its collected
rows generate ``select()`` lists on the driver.  Each split is a lazy
projection — Catalyst prunes the wide scan down to each table's columns, so
the "copy per split" cost of the reference (``df[cols].copy()`` ``:197``)
does not exist here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airflow_etl_minio_to_postgres_spark.naming import standardize
from airflow_etl_minio_to_postgres_spark.schemas import (
    DIM_KEYS,
    MAIN_KEY,
    MAIN_TABLE,
)


def unique_targets(field_config: DataFrame) -> list[str]:
    """Distinct lower/trimmed target tables (reference ``:152-155``)."""
    rows = (
        field_config.select(
            F.lower(F.trim(F.col("target_table"))).alias("target_table")
        )
        .distinct()
        .collect()
    )
    return sorted(r["target_table"] for r in rows)


def columns_by_target(field_config: DataFrame) -> dict[str, list[str]]:
    """``target_table -> [standardized column names]`` preserving workbook
    order (reference ``:159-189`` consumes field-config rows in order)."""
    rows = field_config.select("column_name", "target_table").collect()
    out: dict[str, list[str]] = {}
    for r in rows:
        tgt = (r["target_table"] or "").strip().lower()
        out.setdefault(tgt, []).append(standardize(r["column_name"]))
    return out


def key_columns_for(target: str) -> list[str]:
    """Key columns prepended to each split (reference ``:166-183``), from
    the one key layout in ``schemas``: the main table gets
    ``[natural_key, <main>_key, *dimension keys]``, a dimension its own
    key, a satellite the main key."""
    if target == MAIN_TABLE:
        return ["natural_key", MAIN_KEY, *DIM_KEYS.values()]
    if target in DIM_KEYS:
        return [DIM_KEYS[target]]
    return [MAIN_KEY]


def reorder_first(wide: DataFrame, col: str) -> DataFrame:
    """Move ``col`` to the front (reference ``re_order_df`` ``:232-240``
    puts the resolved id first).  Pure projection — metadata-only."""
    rest = [c for c in wide.columns if c != col]
    return wide.select(col, *rest)


def split_by_field_config(
    wide: DataFrame, field_config: DataFrame
) -> dict[str, DataFrame]:
    """Vertical split of ``wide`` into one lazy projection per target table
    (reference ``get_individual_dfs_in_dict`` ``:193-199``), each led by
    its :func:`key_columns_for`."""
    return {
        target: wide.select(*key_columns_for(target), *cols)
        for target, cols in columns_by_target(field_config).items()
    }
