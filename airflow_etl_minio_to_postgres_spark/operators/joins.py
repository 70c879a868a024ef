"""Join planning for scale: the per-key skew report.

AQE's skew-join splitting (on by default, ``session.py``) handles most skew
at runtime; the report below says which keys are hot before a join is
salted.  The engine's one salting mechanism is
``functions/dedup.salted_band_sides``: each hot key spreads across
sub-keys on one side and replicates per sub-key on the other, so no
single task owns a whole hot key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def join_key_skew_report(
    df: DataFrame, key: str, top_n: int = 10
) -> DataFrame:
    """"Measure, don't guess" applied to join planning: the per-key
    hot-spot report you run BEFORE deciding whether a join needs
    salting (``dedup.salted_band_sides``) — at 100 TB a single
    key holding 1% of a fact table turns an equi-join into one
    straggler task, and the fix (salting, AQE skew thresholds, key
    filtering) depends on knowing which keys and how hot.

    One map-side-combined groupBy on the key, a broadcast 1-row total,
    and a TakeOrdered top-``top_n`` — group-count-sized after the scan,
    never data-sized.  NULL keys are excluded (they never match an
    equi-join; their volume is the cleaning family's concern).  Returns
    ``(key_value, cnt, share)`` as strings/longs/doubles, hottest
    first, ties broken on the key value for determinism."""
    keyed = df.where(F.col(key).isNotNull()).select(
        F.col(key).cast("string").alias("key_value")
    )
    counts = keyed.groupBy("key_value").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    total = F.broadcast(keyed.agg(F.count(F.lit(1)).alias("_total")))
    return (
        counts.crossJoin(total)
        .select(
            "key_value",
            "cnt",
            (F.col("cnt").cast("double") / F.col("_total")).alias("share"),
        )
        .orderBy(F.col("cnt").desc(), F.col("key_value"))
        .limit(int(top_n))
    )
