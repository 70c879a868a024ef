"""Cleaning kernel — the silver-stage transforms, vectorized.

Reference semantics (``dags/dag_etl_minio_to_postgres.py``):

* ``trim_strings`` (``:88-94``): per string column ``strip().lower()``, then
  whole-frame ``'' -> null``.
* ``fill_nulls`` (``:98-106``): integer columns ``null -> -1``, string columns
  ``null -> 'unknown'``.  (The pandas original silently no-ops the int fill
  when a column actually contains nulls — int+null is float64 there; the
  engine implements the stated intent.  SURVEY.md §1.2.)

All of it is built-in Column expressions — whole-stage-codegen'd JVM work, no
Python on the hot path, safe at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

NULL_INT_SENTINEL = -1
NULL_STRING_SENTINEL = "unknown"


def _string_cols(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]


def _integral_cols(df: DataFrame) -> list[str]:
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))
    ]


def trim_lower_strings(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """``lower(trim(col))`` for every string column (reference ``:91``)."""
    cols = subset if subset is not None else _string_cols(df)
    if not cols:
        return df
    return df.withColumns({c: F.lower(F.trim(F.col(c))) for c in cols})


def nullify_empty(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """``'' -> NULL`` for string columns (reference ``:92`` maps ``''`` to NaN)."""
    cols = subset if subset is not None else _string_cols(df)
    if not cols:
        return df
    return df.withColumns({c: F.nullif(F.col(c), F.lit("")) for c in cols})


def clean_strings(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """trim+lower then empty->null, the full reference ``trim_strings`` pipeline."""
    return nullify_empty(trim_lower_strings(df, subset), subset)


def fill_nulls(
    df: DataFrame,
    int_sentinel: int = NULL_INT_SENTINEL,
    string_sentinel: str = NULL_STRING_SENTINEL,
) -> DataFrame:
    """Typed null fill: int cols -> ``-1``, string cols -> ``'unknown'``
    (reference ``:98-106``, intent per SURVEY.md §1.2)."""
    int_cols = _integral_cols(df)
    str_cols = _string_cols(df)
    out = df
    if int_cols:
        out = out.na.fill(int_sentinel, subset=int_cols)
    if str_cols:
        out = out.na.fill(string_sentinel, subset=str_cols)
    return out


def clean(df: DataFrame) -> DataFrame:
    """The complete silver cleaning pass: trim/lower -> ''->null -> typed fill."""
    return fill_nulls(clean_strings(df))


def cap_events_per_user(
    df: DataFrame,
    cap: int,
    user_col: str = "user_id",
    id_col: str = "event_id",
) -> DataFrame:
    """Bot guard: keep at most ``cap`` events per user, chosen by
    sha256-of-event-id order — the upstream skew defense the windowed
    analytics operators (funnel, sessionize, z-score) name in their
    docstrings: a pathological user (a bot with 10^8 events) serializes
    an ordered per-user window into one task, and salting cannot apply
    without breaking running-min/sort semantics.  Capping BEFORE the
    window bounds every partition at ``cap`` rows.

    Delegates to ``stratified_cap`` (the same seedless primitive used
    for training-data source mixing): sha-of-id order is deterministic
    on any engine/partition layout AND time-unbiased — a "first N by
    ts" truncation would keep only a bot's earliest history, biasing
    every time-windowed metric computed downstream.
    """
    from airflow_etl_minio_to_postgres_spark.functions.text import (
        stratified_cap,
    )

    return stratified_cap(df, user_col, id_col, cap)
