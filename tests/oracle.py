"""Local replica of the driver's DuckDB-oracle gate.

Runs an engine query and its oracle SQL on the same parquet tables and
compares row count, column names, and (order-insensitively) values.  Floats
are compared with tolerance; everything else exactly.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

from airflow_etl_minio_to_postgres_spark.schemas import TESTDATA_TABLES


def _dot_expr(a, b):
    from pyspark.sql import functions as F

    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_expr(a, b):
    """The SQL expression form of cosine, the reference every Arrow
    cosine kernel of ``functions/similarity.py`` is pinned against bit
    for bit: a left ``aggregate(zip_with(...))`` fold per dot product,
    float32 cast up first.  ``try_divide``, not ``/``: under Spark 4's
    ANSI mode a zero-norm vector would raise DIVIDE_BY_ZERO; it
    degrades to NULL instead, as DuckDB's ``/`` does on a zero divisor,
    and a NULL or ragged vector (zip_with null-pads) is NULL too."""
    from pyspark.sql import functions as F

    return F.try_divide(
        _dot_expr(a, b), F.sqrt(_dot_expr(a, a)) * F.sqrt(_dot_expr(b, b))
    )


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) else v
            )
    sort_cols = [
        c for c in df.columns if not pd.api.types.is_float_dtype(df[c])
    ] or list(df.columns)
    return df.sort_values(by=sort_cols, kind="mergesort").reset_index(drop=True)


def compare(spark_df, oracle_df: pd.DataFrame, rtol: float = 1e-9) -> list[str]:
    """Return a list of mismatch descriptions (empty == match)."""
    issues: list[str] = []
    sp = spark_df.toPandas()
    if len(sp) != len(oracle_df):
        issues.append(f"row count: spark={len(sp)} oracle={len(oracle_df)}")
    if sorted(sp.columns) != sorted(oracle_df.columns):
        issues.append(
            f"columns: spark={sorted(sp.columns)} oracle={sorted(oracle_df.columns)}"
        )
    if issues:
        return issues
    # The driver hashes raw values, so an integer column on one side vs a
    # float/object column on the other (DuckDB HUGEINT sums arrive as
    # float64/object via .df()) hash-mismatches even when values agree.
    # Catch that dtype drift here, before the lossy int64 normalization.
    for c in sp.columns:
        ai = pd.api.types.is_integer_dtype(sp[c])
        bi = pd.api.types.is_integer_dtype(oracle_df[c])
        if ai != bi and not (
            pd.api.types.is_datetime64_any_dtype(sp[c])
            or pd.api.types.is_datetime64_any_dtype(oracle_df[c])
            # all-NULL int columns surface as object/float; not drift
            or sp[c].isna().all()
            or oracle_df[c].isna().all()
        ):
            issues.append(
                f"col {c}: dtype drift spark={sp[c].dtype} "
                f"oracle={oracle_df[c].dtype} (HUGEINT sum? cast the "
                "oracle to BIGINT)"
            )
    if issues:
        return issues
    a, b = _normalize(sp), _normalize(oracle_df)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            for i, (x, y) in enumerate(zip(av.astype(float), bv.astype(float))):
                both_nan = (isinstance(x, float) and math.isnan(x)) and (
                    isinstance(y, float) and math.isnan(y)
                )
                if not both_nan and not math.isclose(
                    float(x), float(y), rel_tol=rtol, abs_tol=1e-9
                ):
                    issues.append(f"col {c} row {i}: spark={x!r} oracle={y!r}")
                    break
        else:
            neq = ~(av.eq(bv) | (av.isna() & bv.isna()))
            if neq.any():
                i = int(neq.idxmax())
                issues.append(
                    f"col {c} row {i}: spark={av[i]!r} oracle={bv[i]!r}"
                )
    return issues
