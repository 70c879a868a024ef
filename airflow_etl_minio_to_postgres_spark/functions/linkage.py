"""Blocked fuzzy entity resolution (record linkage).

Beyond-reference surface: the reference ETL dedupes on EXACT natural
keys (``dags/dag_etl_minio_to_postgres.py`` drop-duplicates before the
dim insert); a real ingest also has to merge records that are the same
ENTITY under dirty keys — misspelled names, re-keyed customers,
per-source id spaces.  This module is the classic two-stage shape every
large-scale linkage system uses (Fellegi-Sunter derivatives, Dedupe,
Zingg):

1. **Blocking** bounds the quadratic: candidate pairs are generated
   ONLY within equal-valued blocks (a hash-partitioned equi-self-join —
   one shuffle on the block key, never an all-pairs product).  The
   100 TB contract is the same as the MinHash band join in
   ``functions/dedup.py``: per-block candidate count is the unit of
   cost, so block keys are chosen to keep blocks small; a Zipf-hot
   block is handled exactly like a hot LSH band — the block self-join
   is the family's one candidate self-join, ``dedup.bucket_pairs``,
   whose ``dedup.salted_band_sides`` salting splits it — or tighten the
   key (block on more columns).
2. **Pairwise matching** scores only the candidates: threshold-bounded
   Levenshtein (``F.levenshtein(l, r, threshold)`` — Spark abandons the
   DP early once the distance provably exceeds the bound, so per-pair
   cost is O(threshold * min(len)) instead of O(len**2)), behind a free
   length-difference pre-filter (|len(a)-len(b)| > d already proves
   distance > d without running the DP at all).

Both stages are pure JVM expressions in one declarative plan — no
Python crossing, whole-stage codegen end to end.

Cluster formation (transitive closure over matched pairs -> one entity
id per record) reuses ``functions/graph.py``'s min-label propagation —
the same iterative machinery as the near-dup clusters, because it is
literally the same problem on a different edge generator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from airflow_etl_minio_to_postgres_spark.functions.dedup import (
    bucket_pairs,
)
from airflow_etl_minio_to_postgres_spark.functions.graph import (
    assign_clusters,
)


def blocked_fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    max_distance: int = 2,
    max_block_size: int | None = None,
) -> DataFrame:
    """Candidate-matched pairs ``(id_a, id_b, distance)`` with
    ``id_a < id_b``: records in the SAME block (equal on every
    ``block_cols``) whose ``name_col`` values are within
    ``max_distance`` Levenshtein edits.

    One shuffle on the block key (the equi-self-join); the
    length-difference bound and the threshold-bounded Levenshtein keep
    the per-pair cost capped, so total cost is
    sum-over-blocks(|block|**2) * O(d * len) — the blocking key's
    quality IS the performance model, same as band width in MinHash
    LSH.  Emits the exact distance so downstream policy (match /
    review / reject bands) stays a filter, not a recompute.

    NULL semantics (SQL equality, matching the oracle's equi-join): a
    record with NULL in ANY block column belongs to no block and never
    pairs (null is not evidence of sameness — coalesce to a sentinel
    upstream if your data means "unknown city" to be one block), and a
    record with a NULL ``name_col`` never matches (``levenshtein``
    yields null, dropped with the over-threshold rows).  Such records
    still label themselves in :func:`entity_clusters`.

    ``max_block_size`` is the HOT-BLOCK knob — the realistic ER input
    has a Zipf-heavy key (one dominant city/zip) whose ``m`` rows land
    in ONE join task doing ``m**2`` comparisons while the rest of the
    cluster idles (the same straggler the streaming near-dup sink
    measured at 275 s).  Set, blocks larger than the cap split through
    the banded dedup family's one candidate self-join
    (:func:`~airflow_etl_minio_to_postgres_spark.functions.dedup.
    bucket_pairs`) and its ``salted_band_sides`` salting: the probe
    side salts into ``ceil(m/cap)`` sub-groups by id hash, the build
    side replicates into each, every pair still meets exactly once,
    so results are BIT-IDENTICAL to the unsalted plan (pytest-pinned)
    and per-task work drops to ``~cap * m``.  Blocking
    runs over a single hashed block key (``xxhash64`` of the block
    columns) with the real column equalities re-checked in the join —
    hash collisions between different blocks are filtered exactly, and
    the salt directory stays one broadcast aggregate.  ``None`` is the
    zero-overhead default.

    The join strategy follows size: below the broadcast threshold the
    build side broadcasts (parallelism then rides the probe side's
    partitioning alone — a single-file test input should be
    ``repartition(n)``-spread first or the whole pair loop runs in one
    task); above it Spark shuffles BOTH sides by the block key, which
    co-locates blocks and parallelizes by block — the correct shape at
    full-table scale, where broadcasting the record set would be
    wrong."""
    if not block_cols:
        raise ValueError(
            "blocked_fuzzy_pairs: block_cols must be non-empty — an "
            "empty block key is an all-pairs cross join; pick blocking "
            "columns (that choice IS the performance model)"
        )
    d = int(max_distance)
    blk = [f"_blk_{i}" for i in range(len(block_cols))]
    fan = df.select(
        F.col(id_col).alias("_id"),
        F.col(name_col).alias("_name"),
        *[F.col(c).alias(a) for c, a in zip(block_cols, blk)],
        F.xxhash64(*block_cols).alias("_bk"),
    )
    # Drop null-block rows BEFORE the fan: they can never pair (the
    # documented SQL-equality semantics above), but xxhash64 leaves the
    # running hash UNCHANGED for null inputs, so e.g. (x, NULL) and
    # (NULL, x) share a _bk bucket and would m**2-pair in the join only
    # to be filtered by the real-column re-check — a phantom hot block
    # on null-heavy keys (r15 advisor finding).  Results are identical;
    # only the wasted comparisons go.
    for a in blk:
        fan = fan.where(F.col(a).isNotNull())
    pairs = bucket_pairs(
        fan, "_id", ["_name", *blk], key="_bk", max_bucket_size=max_block_size
    )
    # re-check the REAL block equalities: exact on hash collisions, and
    # SQL equality keeps the null-block exclusion the oracle join has
    for c in blk:
        pairs = pairs.where(F.col(f"{c}_a") == F.col(f"{c}_b"))
    return (
        # necessary condition, no DP: edit distance >= length delta
        pairs.where(F.abs(F.length("_name_a") - F.length("_name_b")) <= d)
        .withColumn(
            "distance", F.levenshtein("_name_a", "_name_b", d)
        )
        # the 3-arg form returns -1 once the bound is provably exceeded
        .where(F.col("distance") >= 0)
        .select("id_a", "id_b", "distance")
    )


def entity_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
) -> DataFrame:
    """Every record labeled with its ENTITY id: the minimum ``id_col``
    reachable through the matched ``pairs`` (transitive closure —
    A~B, B~C puts all three in one entity even with no direct A~C
    match); unmatched records label themselves.  Delegates to the
    near-dup cluster machinery (``graph.assign_clusters``): min-label
    propagation over checkpointed edges, per-iteration driver work is
    a 1-row convergence aggregate."""
    return assign_clusters(
        df.select(id_col), pairs, id_col=id_col
    ).withColumnRenamed("cluster_id", "entity_id")
