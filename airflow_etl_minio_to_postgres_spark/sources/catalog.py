"""Parquet catalog over the driver test tables.

Reads are schema-declared (no inference pass) and lazy; Catalyst prunes
columns/filters down to the parquet scan, which is the scale path for the
100 TB target — a scan that reads all columns for a 2-column projection is
wrong, and declaring the schema keeps ``ReadSchema`` minimal.

Timestamp physical types are sniffed from the parquet footer, never
hardcoded: a ``TIMESTAMP(NANOS)`` column cannot be mapped by Spark's
vectorized reader to TimestampType (micros), so it is read as a raw
nanosecond long (legacy ``nanosAsLong``) and integer-divided to micros.
Earlier rounds hardcoded ``events.ts`` as nanos; when the driver
regenerated the data as ``TIMESTAMP(MICROS)`` the div-1000 silently
compressed 30 days of events into ~43 minutes.  Footer sniffing makes
either regeneration direction safe.
"""

from __future__ import annotations

import os
import warnings
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airflow_etl_minio_to_postgres_spark.schemas import TESTDATA_SCHEMAS

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def nanos_ts_columns(path: str, name: str) -> tuple[str, ...]:
    """Columns of ``path`` whose parquet physical type is TIMESTAMP(NANOS).

    Reads only the footer (pyarrow).  ``path`` may be a single parquet
    file or a directory of part files (first file's footer wins — the
    writer guarantees a uniform schema per table).  The footer answer is
    cached on the sniffed file's (path, mtime, size), so an in-place
    regeneration of the data with a different timestamp physical type —
    the exact scenario footer sniffing exists for — invalidates the cache
    instead of silently reusing a stale answer.  Missing paths and
    non-parquet inputs report no nanos columns; the scan itself will
    surface the real error.
    """
    declared = TESTDATA_SCHEMAS.get(name)
    if declared is not None and not any(
        isinstance(f.dataType, T.TimestampType) for f in declared.fields
    ):
        return ()
    target = path
    try:
        if os.path.isdir(path):
            parts = sorted(
                f for f in os.listdir(path) if f.endswith(".parquet")
            )
            if not parts:
                return ()
            target = os.path.join(path, parts[0])
        st = os.stat(target)
    except OSError as exc:
        warnings.warn(
            f"catalog: cannot stat parquet footer target {target!r} ({exc}); "
            "assuming no nanos timestamp columns",
            stacklevel=2,
        )
        return ()
    return _sniff_nanos_columns(target, st.st_mtime_ns, st.st_size)


@lru_cache(maxsize=None)
def _sniff_nanos_columns(target: str, mtime_ns: int, size: int) -> tuple[str, ...]:
    """Footer read, cached on the file's freshness token (mtime+size)."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pq.read_schema(target)
        return tuple(
            field.name
            for field in schema
            if pa.types.is_timestamp(field.type) and field.type.unit == "ns"
        )
    except ImportError as exc:
        warnings.warn(
            f"catalog: pyarrow unavailable for footer sniff of {target!r} "
            f"({exc}); nanos timestamp columns would fail at scan time",
            stacklevel=2,
        )
        return ()
    except (OSError, ValueError) as exc:  # ArrowInvalid subclasses ValueError
        warnings.warn(
            f"catalog: failed to read parquet footer of {target!r} ({exc}); "
            "assuming no nanos timestamp columns",
            stacklevel=2,
        )
        return ()


def raw_read_schema(
    name: str, nanos: tuple[str, ...] = ()
) -> T.StructType | None:
    """Engine-facing schema with nanos-timestamp columns widened to long
    for the physical scan."""
    schema = TESTDATA_SCHEMAS.get(name)
    if schema is None or not nanos:
        return schema
    return T.StructType(
        [
            T.StructField(f.name, T.LongType() if f.name in nanos else f.dataType)
            for f in schema.fields
        ]
    )


def restore_nanos_timestamps(df: DataFrame, nanos: tuple[str, ...]) -> DataFrame:
    """Convert raw nano longs back to TimestampType (micros; ``div``
    truncates toward zero — exact for post-epoch data)."""
    for col in nanos:
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Load one test table (``region nation customer supplier part orders
    lineitem events documents embeddings``) from ``{sf_dir}/{name}.parquet``."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    path = os.path.join(sf_dir, f"{name}.parquet")
    nanos = nanos_ts_columns(path, name)
    if nanos:
        # Session-global but idempotent: every nanos column in this engine
        # is footer-detected and always read long-then-converted.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read
    schema = raw_read_schema(name, nanos)
    if schema is not None:
        reader = reader.schema(schema)
    return restore_nanos_timestamps(reader.parquet(path), nanos)
