"""Arrow-batched per-group Python (``applyInPandas``) — the extension point
for group-local logic that has no Spark expression (tokenizer training,
per-source quality models, custom samplers).

Rules of the road at 100 TB: one shuffle on the group key, each group's
rows arrive as ONE pandas frame on an executor — so groups must fit in
executor memory (salt or pre-aggregate skewed groups first), and the Python
boundary is paid once per group, not per row.  Everything expressible as
built-in expressions should stay out of here.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airflow_etl_minio_to_postgres_spark.functions.similarity import (
    cosine_vs_const_arrow,
)


def _n_buckets(df: DataFrame) -> int:
    """Coarse-group bucket count: a small multiple of the session's
    parallelism.  Purely a batching knob — results are identical for
    any value (every logical group maps wholly into one bucket); it
    only sets how many pandas invocations amortize the per-call Arrow
    overhead and how evenly they spread over cores."""
    return 2 * df.sparkSession.sparkContext.defaultParallelism


def per_group_counts_pandas(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group value-distribution counts, computed by pandas inside the
    group (batch sibling of ``streaming.stateful_user_counts``).  Integer
    outputs only, so the demo stays bit-reproducible in SQL.

    Optimization r17 (guide §4.1): the shuffle key is a COARSE
    deterministic hash bucket of ``group_col``, not the group itself —
    each pandas call now processes a bucketful of groups (a two-column
    groupby inside pandas) instead of one, so the per-call Python
    crossing overhead is paid ~2x-parallelism times, not once per
    distinct group, and AQE can no longer coalesce thousands of
    micro-groups into one starved task.  Every group still lands
    wholly in one bucket, so counts are identical; null-key handling
    is pinned to the old per-group form (null ``group_col`` groups
    kept — Spark groupBy semantics; null ``value_col`` rows dropped —
    pandas groupby dropna).
    """
    out_schema = T.StructType(
        [
            T.StructField(group_col, T.LongType()),
            T.StructField(value_col, T.StringType()),
            T.StructField("n", T.LongType()),
        ]
    )
    out_cols = [group_col, value_col, "n"]

    def _counts(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(columns=out_cols)
        kept = pdf[pdf[value_col].notna()]
        counted = (
            kept.groupby([group_col, value_col], as_index=False, dropna=False)
            .size()
            .rename(columns={"size": "n"})
        )
        return counted[out_cols]

    bucket = F.pmod(
        F.xxhash64(F.col(group_col)), F.lit(_n_buckets(df))
    ).alias("_b")
    return (
        df.select(group_col, value_col, bucket)
        .groupBy("_b")
        .applyInPandas(_counts, schema=out_schema)
    )


def asof_join_cogrouped(
    left: DataFrame,
    right: DataFrame,
    by: str,
    left_on: str,
    right_on: str,
    value_col: str,
    out_schema: T.StructType | str,
) -> DataFrame:
    """As-of join via COGROUPED ``applyInPandas`` — the third Arrow
    crossing Spark offers (grouped map / grouped state / cogrouped map),
    here wrapping ``pd.merge_asof`` per key group.

    This is the escape hatch for as-of logic too gnarly for expressions
    (per-group tolerances, nearest-rather-than-backward, multi-column
    sidecar lookups): both sides shuffle ONCE on ``by``, each key's rows
    from both frames meet as two pandas frames on one executor, and the
    merge is pandas-local.  For the plain backward as-of, prefer
    ``operators.temporal.as_of_join`` — it stays JVM-side (union + one
    window, no Python boundary) and is strictly faster; this cogrouped
    twin is oracle-gated against the SAME DuckDB ASOF JOIN to prove the
    crossing itself is sound.  Groups must fit in executor memory —
    the usual applyInPandas contract.

    CONTRACT: ``(by, right_on)`` pairs on the right side must be unique.
    With duplicate right timestamps the backward match is inherently
    underspecified — SQL ASOF JOIN leaves tied-row selection unpinned
    while ``pd.merge_asof`` takes the last row after our
    ``[matched_ts, value_col]`` sort (i.e. the max value) — so two
    engines can legitimately disagree.  Pre-aggregate the right side to
    one row per ``(by, right_on)`` (e.g. ``groupBy(by, on).agg(max)``)
    before calling, as the oracle-gated registry entry does.
    """

    # Column names shared by both sides (beyond the group key) are
    # PRUNED from the right-hand pandas frame by Spark's cogroup column
    # resolution — an ambiguous name resolves to the left side and the
    # right twin never reaches Python.  So the right-hand match column is
    # renamed to its output name ("matched_ts") ON THE SPARK SIDE, and any
    # other collision is rejected loudly instead of silently vanishing.
    overlap = (set(left.columns) & set(right.columns)) - {by, right_on}
    if overlap:
        raise ValueError(
            f"right columns {sorted(overlap)} collide with left; rename "
            "them before the cogroup or they will be pruned"
        )
    # Optimization r17 (guide §4.1): cogroup on a COARSE deterministic
    # hash bucket of ``by``, not ``by`` itself — one pandas call now
    # merges a bucketful of keys via ``merge_asof(by=...)`` instead of
    # one key per call, so the per-call Arrow overhead is paid
    # ~2x-parallelism times rather than once per distinct key, and AQE
    # can't coalesce thousands of micro-cogroups onto one starved task.
    # Every key lands wholly in one bucket and merge_asof's ``by``
    # matching is per-key, so the matched rows are identical.  The
    # right-hand key column is renamed so the now-non-key name doesn't
    # collide with the left twin (the pruning above).
    right = right.withColumnRenamed(right_on, "matched_ts").withColumnRenamed(
        by, "_rby"
    )

    # A side with no rows for a key arrives as an EMPTY, COLUMN-LESS
    # frame (zero Arrow batches), so expected columns are captured here
    # at build time, not read off the runtime frames.
    out_cols = list(left.columns) + ["matched_ts", value_col]

    def _merge(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if l.empty:
            return pd.DataFrame(columns=out_cols)
        l = l.drop(columns=["_b"]).sort_values(left_on, kind="mergesort")
        if r.empty:  # left outer semantics: keep left rows, null match
            out = l.copy()
            out["matched_ts"] = pd.NaT
            out[value_col] = float("nan")
            return out
        # merge_asof(by=) needs frames sorted on the match column only;
        # the per-key backward pick is identical to the per-group form
        # because (by, matched_ts) is unique by contract.
        r = r.drop(columns=["_b"]).sort_values(
            ["matched_ts", value_col], kind="mergesort"
        )
        out = pd.merge_asof(
            l,
            r,
            left_on=left_on,
            right_on="matched_ts",
            left_by=by,
            right_by="_rby",
            direction="backward",
        )
        return out[out_cols]

    nb = _n_buckets(left)
    lb = left.withColumn(
        "_b", F.pmod(F.xxhash64(F.col(by)), F.lit(nb))
    )
    rb = right.withColumn(
        "_b", F.pmod(F.xxhash64(F.col("_rby")), F.lit(nb))
    )
    return (
        lb.groupBy("_b")
        .cogroup(rb.groupBy("_b"))
        .applyInPandas(_merge, schema=out_schema)
    )


def cosine_scores_pandas_udf(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine similarity against a fixed query vector via a SCALAR
    ``@pandas_udf`` — the fourth and most common Arrow crossing (after
    mapInPandas, applyInPandas, and cogrouped applyInPandas, all
    demonstrated elsewhere in this package): a vectorized column
    function.

    Why this shape matters: the whole Arrow batch arrives as ONE pandas
    Series, so the math runs as vectorized numpy per batch — the
    10-100x win over a row-at-a-time Python UDF the PySpark docs
    promise, with the query vector captured in the closure (shipped
    once per task, not per row).  The UDF is
    ``similarity.cosine_vs_const_arrow``, the package's one cosine
    kernel, so the scores are bit-identical to every other cosine here
    and degrade the same way: a NULL, ragged or wrong-dimension vector
    and a zero-norm side score NULL.  The crossing is the template for
    the cases with no expression equivalent (a real model's scoring
    step, a tokenizer, learned quality filters) and is oracle-gated
    against the same SQL as the brute-force cosine top-k.
    """
    return df.select(
        F.col(id_col),
        cosine_vs_const_arrow(F.col(vec_col), query_vec).alias("cosine"),
    )


def chunk_text_udtf(
    df: DataFrame,
    chunk_tokens: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Python UDTF (Spark 4 user-defined TABLE function) twin of
    ``functions.text.chunk_text`` — the fifth Python crossing in this
    package (after mapInPandas, applyInPandas, cogrouped applyInPandas,
    and the scalar pandas_udf): a row fans out into a VARIABLE number of
    output rows through a generator, consumed via ``LATERAL``.

    The JVM expression form (``chunk_text``: sequence + slice,
    whole-stage codegen) is the production default; the UDTF form is
    the template for fan-outs with no expression equivalent (a real
    tokenizer emitting chunk token ids, a parser emitting AST nodes),
    oracle-gated against the SAME SQL as the JVM twin to prove the
    crossing computes identically.

    Tokenization parity is deliberate: ``re.split(r"\\s+", ...,
    flags=re.ASCII)`` matches Java regex ``\\s`` (ASCII-only
    ``[ \\t\\n\\x0B\\f\\r]``) — without ``re.ASCII`` Python would also
    split on unicode spaces and diverge from the JVM twin on non-ASCII
    whitespace.
    """
    from pyspark.sql.functions import udtf

    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap

    # useArrow: rows cross as Arrow record batches (ArrowEvalPythonUDTF,
    # plan-pinned) — without it the UDTF falls back to pickled
    # row-at-a-time transfer (BatchEvalPythonUDTF), the slow path this
    # package bans everywhere else.
    @udtf(
        returnType="chunk_id bigint, chunk_text string, n_chunk_tokens bigint",
        useArrow=True,
    )
    class _ChunkText:
        def eval(self, text):
            import re

            if text is None:
                return
            words = re.split(r"\s+", text.strip().lower(), flags=re.ASCII)
            if not (len(words) > 1 or words[0] != ""):
                return
            for ci, start in enumerate(range(0, len(words), step)):
                yield (
                    ci,
                    " ".join(words[start : start + chunk_tokens]),
                    min(chunk_tokens, len(words) - start),
                )

    spark = df.sparkSession
    spark.udtf.register("chunk_text_tvf", _ChunkText)
    return spark.sql(
        f"""
        SELECT d.{id_col}, c.chunk_id, c.chunk_text, c.n_chunk_tokens
        FROM {{d}} d, LATERAL chunk_text_tvf(d.{text_col}) c
        """,
        d=df,
    )
