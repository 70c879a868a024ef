"""Key kernel — natural keys, content-hash keys, dedup, surrogate ids,
key->id resolution.

Reference semantics (``dags/dag_etl_minio_to_postgres.py``):

* natural key (``:203-205``): ``'|'``-joined stringified columns.
* hash key (``:209-212``): ``sha256(concat(str(v) for v in cols))`` hex,
  truncated to ``schemas.HASH_LEN`` (16) chars — applied per-row via
  ``df.apply`` there; here a single codegen'd
  ``substring(sha2(concat_ws(...)))`` expression.
* dedup (``:216-219``): full-row ``drop_duplicates`` on the hash-keyed dims.
* surrogate ids (``SERIAL`` DDL ``:415`` + ``RETURNING id`` capture
  ``:134-136``): Postgres insert-order ids, last-id-wins for duplicate keys.
  Distributed engines have no insert order, so the engine's policy
  (SURVEY.md §7 hard-part 1) is "global rank of the key among distinct keys"
  — dense, deterministic, oracle-reproducible as
  ``row_number() over (order by key)``.
* key->id resolution (``:223-228``): driver-side dict ``.map`` — here an
  equi-join whose physical strategy is AQE-decided by default (broadcast can
  be forced for dimension-sized maps).

Scale design: ``assign_surrogate_ids`` never funnels all keys through one
task.  It range-repartitions the distinct keys, numbers each partition
locally, and adds per-partition exclusive-prefix-sum offsets — the id of a
key is its global rank regardless of where the sampled range boundaries
land, so the output is deterministic and equals the single-window
``row_number() over (order by key)`` plan while every partition is sized
``|distinct keys| / shuffle.partitions``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from airflow_etl_minio_to_postgres_spark.schemas import HASH_LEN


def _as_strings(cols: list[str]) -> list:
    return [F.col(c).cast("string") for c in cols]


def natural_key_expr(cols: list[str]):
    """``concat_ws('|', cast(c as string)...)``.

    Note ``concat_ws`` skips NULLs (both Spark and DuckDB), which replaces the
    pandas ``astype(str)`` quirk of rendering nulls as the literal ``'nan'``
    (SURVEY.md §7 hard-part 2) — cleaned inputs are null-free anyway.
    """
    return F.concat_ws("|", *_as_strings(cols))


def add_natural_key(df: DataFrame, cols: list[str]) -> DataFrame:
    return df.withColumn("natural_key", natural_key_expr(cols))


def hash_key_expr(cols: list[str]):
    """``substring(sha2(concat_ws('', cast(c as string)...), 256), 1, HASH_LEN)``.

    ``concat_ws('')`` (NULL-skipping concatenation) matches both the
    reference's ``''.join`` over stringified values (``:210-212``) and
    DuckDB's ``concat`` semantics, so engine and oracle agree even if a NULL
    reaches a key column (the cleaned pipeline never feeds one).
    """
    return F.substring(F.sha2(F.concat_ws("", *_as_strings(cols)), 256), 1, HASH_LEN)


def add_hash_key(df: DataFrame, cols: list[str], out: str) -> DataFrame:
    return df.withColumn(out, hash_key_expr(cols))


def dedup_rows(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Exact dedup (reference ``:216-219``).  With ``subset``, keeps an
    arbitrary-but-single row per key — on the hash-keyed dims the key is a
    function of the remaining columns, so both forms agree."""
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def assign_surrogate_ids(
    df: DataFrame, key_col: str, id_col: str = "id"
) -> DataFrame:
    """One dense ``long`` id per *distinct* key = the key's global rank.

    Scale-safe equivalent of ``row_number() over (order by key)`` (which
    would sort every distinct key in ONE task): range-repartition the
    distinct keys, ``row_number`` *within* each partition, then add each
    partition's exclusive prefix-sum offset.  Offsets come from a small
    per-partition count job, so the result is the global rank no matter
    where the sampled range boundaries fall.

    The distinct-key frame is locally checkpointed (lineage truncated)
    because range boundary sampling is not deterministic across jobs — the
    count job and the final plan MUST observe the same partitioning.  A
    plain persist would silently recompute with fresh boundaries if cached
    partitions were evicted/lost, pairing stale offsets with a different
    partitioning (duplicate/skipped ids); checkpointing makes partition
    loss fail the job instead of corrupting ids — fail-fast over silently
    wrong.

    Deliberately NOT ``monotonically_increasing_id`` (non-dense,
    partition-dependent).  The reference's equivalent is Postgres ``SERIAL``
    + ``RETURNING id`` (``:134-136``) with last-wins duplicate handling,
    which distinct-then-rank makes deterministic instead.
    """
    keys = (
        df.select(key_col)
        .distinct()
        .repartitionByRange(F.col(key_col))
        .sortWithinPartitions(key_col)
        .localCheckpoint(eager=True)
    )
    part_rows = (
        keys.groupBy(F.spark_partition_id().alias("_pid")).count().collect()
    )
    if not part_rows:
        return keys.withColumn(id_col, F.lit(None).cast("long"))
    offsets: list = []
    running = 0
    for r in sorted(part_rows, key=lambda r: r["_pid"]):
        offsets.extend([F.lit(r["_pid"]), F.lit(running)])
        running += r["count"]
    offset_map = F.create_map(*offsets)
    w = Window.partitionBy("_pid").orderBy(F.col(key_col))
    return (
        keys.withColumn("_pid", F.spark_partition_id())
        .withColumn(
            id_col,
            (F.row_number().over(w).cast("long") + offset_map[F.col("_pid")]),
        )
        .drop("_pid")
    )


def resolve_key_to_id(
    child: DataFrame,
    id_map: DataFrame,
    key_col: str,
    id_col: str,
    drop_key: bool = True,
    broadcast: bool = False,
) -> DataFrame:
    """Replace ``key_col`` with ``id_col`` via equi-join, id first
    (reference ``replace_key_with_id`` ``:223-228`` + ``re_order_df``
    ``:232-240``).

    ``id_map`` must be one row per key (the contract of
    :func:`assign_surrogate_ids`).  The join strategy is AQE-decided by
    default; pass ``broadcast=True`` only when the map is known
    dimension-sized — the medallion's ``property_ids`` map is fact-sized at
    100 TB, where a forced broadcast would OOM every executor and sort-merge
    is the right plan.  LEFT join mirrors the reference dict ``.map``
    (missing key -> null id).
    """
    right = id_map.select(key_col, id_col)
    if broadcast:
        right = F.broadcast(right)
    joined = child.join(right, on=key_col, how="left")
    if drop_key:
        joined = joined.drop(key_col)
    rest = [c for c in joined.columns if c != id_col]
    return joined.select(id_col, *rest)
