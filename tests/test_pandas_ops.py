"""Cogrouped-map as-of join edge cases (functions/pandas_ops.py).

The oracle query proves the happy path; these pin the sharp edges:
Spark's cogroup column resolution PRUNES right-side columns whose names
collide with the left (the operator must reject that loudly), and the
empty-side frames arrive column-less (the operator must still produce
schema-shaped output).
"""

from __future__ import annotations

import pytest

from airflow_etl_minio_to_postgres_spark.functions.pandas_ops import (
    asof_join_cogrouped,
)

SCHEMA_OUT = (
    "k long, ts timestamp, x string, matched_ts timestamp, v double"
)


def _left(spark, rows):
    return spark.createDataFrame(rows, "k long, ts timestamp, x string")


def _right(spark, rows):
    return spark.createDataFrame(rows, "k long, ts timestamp, v double")


def test_collision_beyond_match_column_is_rejected(spark):
    l = spark.createDataFrame([], "k long, ts timestamp, x string")
    r = spark.createDataFrame([], "k long, ts timestamp, x string, v double")
    with pytest.raises(ValueError, match="collide"):
        asof_join_cogrouped(
            l, r, by="k", left_on="ts", right_on="ts", value_col="v",
            out_schema=SCHEMA_OUT,
        )


def test_left_key_without_right_rows_keeps_null_match(spark):
    from datetime import datetime

    t1, t2 = datetime(2020, 1, 1), datetime(2020, 1, 2)
    l = _left(spark, [(1, t2, "a"), (2, t2, "b")])
    r = _right(spark, [(1, t1, 5.0)])  # key 2 has no right rows
    out = {
        row.k: row
        for row in asof_join_cogrouped(
            l, r, by="k", left_on="ts", right_on="ts", value_col="v",
            out_schema=SCHEMA_OUT,
        ).collect()
    }
    assert out[1].v == 5.0 and out[1].matched_ts == t1
    assert out[2].v is None and out[2].matched_ts is None


def test_right_key_without_left_rows_emits_nothing(spark):
    from datetime import datetime

    t1 = datetime(2020, 1, 1)
    l = _left(spark, [(1, t1, "a")])
    r = _right(spark, [(1, t1, 5.0), (9, t1, 7.0)])  # key 9: right only
    rows = asof_join_cogrouped(
        l, r, by="k", left_on="ts", right_on="ts", value_col="v",
        out_schema=SCHEMA_OUT,
    ).collect()
    assert [r.k for r in rows] == [1]


def test_backward_asof_picks_latest_at_or_before(spark):
    from datetime import datetime

    ts = [datetime(2020, 1, d) for d in (1, 2, 3, 4)]
    l = _left(spark, [(1, ts[0], "early"), (1, ts[3], "late")])
    r = _right(spark, [(1, ts[1], 1.0), (1, ts[2], 2.0)])
    out = {
        row.x: row
        for row in asof_join_cogrouped(
            l, r, by="k", left_on="ts", right_on="ts", value_col="v",
            out_schema=SCHEMA_OUT,
        ).collect()
    }
    assert out["early"].v is None  # nothing at-or-before Jan 1
    assert out["late"].v == 2.0 and out["late"].matched_ts == ts[2]


def test_cosine_pandas_udf_zero_norm_matches_jvm_twin(spark):
    """The scalar pandas_udf cosine equals the expression form bit for
    bit, NULLs included: a zero-norm, NULL, NULL-element or
    wrong-dimension embedding yields NULL (try_divide semantics; Spark 4
    ANSI would otherwise raise DIVIDE_BY_ZERO; zip_with null-pads) and
    never fails the batch, and an empty input round-trips as empty."""
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.pandas_ops import (
        cosine_scores_pandas_udf,
    )
    from tests.oracle import cosine_expr

    df = spark.createDataFrame(
        [
            (1, [0.0, 0.0]),
            (2, [1.0, 2.0]),
            (3, [0.1, 0.7]),
            (4, None),
            (5, [1.0, None]),
            (6, [1.0, 2.0, 3.0]),
        ],
        "vec_id long, embedding array<double>",
    ).coalesce(1)  # one Arrow batch holds every dirty row
    q = [1.0, 1.0]
    jvm = {
        r.vec_id: r.cosine
        for r in df.select(
            "vec_id",
            cosine_expr(
                F.col("embedding"), F.array(*[F.lit(x) for x in q])
            ).alias("cosine"),
        ).collect()
    }
    arrow = {
        r.vec_id: r.cosine
        for r in cosine_scores_pandas_udf(df, q).collect()
    }
    assert [jvm[i] for i in (1, 4, 5, 6)] == [None] * 4
    assert arrow == jvm
    # zero QUERY vector: every score is NULL, no numpy warnings/errors
    assert [
        r.cosine for r in cosine_scores_pandas_udf(df, [0.0, 0.0]).collect()
    ] == [None] * 6
    # empty relation round-trips as empty
    assert cosine_scores_pandas_udf(df.where("vec_id < 0"), q).collect() == []
