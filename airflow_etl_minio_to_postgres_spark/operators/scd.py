"""Slowly-changing-dimension type 2 merge.

The reference maintains dimensions as overwrite-on-conflict upserts keyed
by natural key (``dags/dag_etl_minio_to_postgres.py:328-335`` — the
``id_mapping`` insert-or-lookup), which keeps only the LATEST version of
each dimension row.  SCD2 is the standard warehouse extension: instead of
overwriting, each change CLOSES the current version (sets ``valid_to`` /
``is_current = false``) and opens a new one, so facts can join the
dimension as it was at any point in time.

Spark-first shape: ONE full-outer shuffle join between the open slice of
the dimension and the incoming snapshot decides every row's fate —
unchanged, changed (close + reopen), brand-new, or absent-from-snapshot
(stays open; SCD2 without deletes).  Closed history rows never enter the
join at all: they union straight through, so the shuffle is bounded by
the CURRENT dimension size plus the snapshot, not by accumulated history
— the property that keeps a decade of history mergeable at 100 TB.
Change detection is exact null-safe column comparison (no row-hash, no
collision risk).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SCD2_COLS = ("valid_from", "valid_to", "is_current")


def scd2_init(
    snapshot: DataFrame,
    as_of: str,
    key_cols: list[str],
    tracked_cols: list[str],
) -> DataFrame:
    """First load: every snapshot row becomes an open version."""
    return snapshot.select(
        *key_cols,
        *tracked_cols,
        F.lit(as_of).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )


def _any_tracked_differs(tracked_cols: list[str]) -> Column:
    diff = F.lit(False)
    for c in tracked_cols:
        diff = diff | ~F.col(c).eqNullSafe(F.col(f"_s_{c}"))
    return diff


def scd2_merge(
    dim: DataFrame,
    snapshot: DataFrame,
    as_of: str,
    key_cols: list[str],
    tracked_cols: list[str],
) -> DataFrame:
    """Merge ``snapshot`` (key + tracked columns, effective ``as_of``)
    into an SCD2 dimension (key + tracked + ``valid_from``/``valid_to``/
    ``is_current``), returning the new dimension.

    Per key: unchanged rows pass through; changed rows are closed at
    ``as_of`` and a new open version is inserted; unseen keys insert an
    open version; keys missing from the snapshot stay open (no deletes).
    """
    ts = F.lit(as_of).cast("timestamp")
    closed = dim.where(~F.col("is_current"))
    open_ = dim.where(F.col("is_current")).withColumn("_o", F.lit(True))
    snap = snapshot.select(
        *key_cols,
        *[F.col(c).alias(f"_s_{c}") for c in tracked_cols],
        F.lit(True).alias("_s"),
    )
    j = open_.join(snap, on=key_cols, how="full_outer")
    o_present = F.col("_o").eqNullSafe(F.lit(True))
    s_present = F.col("_s").eqNullSafe(F.lit(True))
    changed = o_present & s_present & _any_tracked_differs(tracked_cols)

    # Every joined row resolves to 1-2 output versions in ONE projection
    # (array-of-struct + explode), so the full-outer join executes exactly
    # once — a per-branch union would recompute the shuffle join 3x.
    def _version(tracked: list[Column], vf: Column, vt: Column, cur: Column):
        cols = [F.col(k).alias(k) for k in key_cols]
        cols += [t.alias(c) for t, c in zip(tracked, tracked_cols)]
        return F.struct(
            *cols,
            vf.alias("valid_from"),
            vt.alias("valid_to"),
            cur.alias("is_current"),
        )

    o_tracked = [F.col(c) for c in tracked_cols]
    s_tracked = [F.col(f"_s_{c}") for c in tracked_cols]
    null_ts = F.lit(None).cast("timestamp")
    survivor = _version(
        o_tracked, F.col("valid_from"), F.col("valid_to"), F.col("is_current")
    )
    closed_now = _version(o_tracked, F.col("valid_from"), ts, F.lit(False))
    opened = _version(s_tracked, ts, null_ts, F.lit(True))
    versions = (
        F.when(changed, F.array(closed_now, opened))
        .when(s_present & ~o_present, F.array(opened))
        .otherwise(F.array(survivor))  # open & unchanged, or absent
    )
    merged = j.select(F.explode(versions).alias("_v")).select("_v.*")
    return closed.unionByName(merged)


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """Apply a CDC change feed to a snapshot — the Debezium/binlog
    consumer shape: ``changes`` carries the base's key + payload columns
    plus ``op`` ('I' insert / 'U' update / 'D' delete) and a
    monotonically increasing ``seq`` (LSN, commit timestamp).  Per key,
    the HIGHEST-seq change wins: D removes the row, I/U upsert the
    payload; keys with no change pass through untouched.

    Scale shape: the latest-change-per-key reduction is one window over
    the FEED (feed-sized, tiny next to the snapshot); the snapshot then
    passes through exactly one anti-join against the touched keys and a
    union with the surviving payloads — the base table is never
    shuffled beyond that single key join, and never rewritten where
    untouched.  This is the in-engine core of MERGE INTO; commit the
    result as the table's next generation
    (``sources/manifest.commit_parquet_generation``) for the storage
    side.

    Contract (same family as the as-of tie rule): ``(key, seq)`` pairs
    are unique in the feed — tied sequence numbers make "latest"
    undefined.  A defensive deterministic tie-break on (op, payload
    column order) is applied so identical inputs give identical outputs
    on any engine, but semantics under ties are the caller's bug.
    """
    from pyspark.sql import Window

    payload = [
        c for c in changes.columns
        if c not in set(key_cols) | {op_col, seq_col}
    ]
    missing = [c for c in payload if c not in base.columns]
    if missing:
        raise ValueError(f"apply_cdc: payload columns not in base: {missing}")
    uncovered = [
        c for c in base.columns if c not in set(key_cols) | set(payload)
    ]
    if uncovered:
        raise ValueError(
            "apply_cdc: base columns the feed cannot supply (a partial-"
            f"column feed would upsert NULLs silently): {uncovered}"
        )
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(seq_col).desc(), F.col(op_col).desc(), *payload
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    touched = latest.select(*key_cols)
    survivors = latest.where(F.col(op_col) != "D").select(
        *key_cols, *payload
    )
    untouched = base.join(touched, on=key_cols, how="left_anti")
    return untouched.unionByName(survivors)
