"""Engine query registry — every operator from SURVEY.md §2 exposed as a
(spark, sf_dir) -> DataFrame callable plus a matching DuckDB oracle SQL.

Each entry exercises one operator family over the driver test tables
(TESTDATA.md), since the DuckDB oracle views are pre-registered for exactly
those ten names.  Columns are aliased identically on both sides — the driver
hash-compares values after sorting columns by name.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_etl_minio_to_postgres_spark.operators.cleaning import (
    cap_events_per_user,
    clean_strings,
    fill_nulls,
)
from airflow_etl_minio_to_postgres_spark.plans.training_prep import (
    prepare_training_corpus,
)
from airflow_etl_minio_to_postgres_spark.operators.temporal import (
    as_of_join,
    range_join,
)
from airflow_etl_minio_to_postgres_spark.operators.audit import (
    k_anonymity_stats,
    population_stability_index,
    population_stability_index_by,
    validate_expectations,
)
from airflow_etl_minio_to_postgres_spark.operators.joins import (
    join_key_skew_report,
)
from airflow_etl_minio_to_postgres_spark.operators.scd import (
    apply_cdc,
    scd2_init,
    scd2_merge,
)
from airflow_etl_minio_to_postgres_spark.operators.keys import (
    add_hash_key,
    add_natural_key,
    assign_surrogate_ids,
    dedup_rows,
    resolve_key_to_id,
)
from airflow_etl_minio_to_postgres_spark.functions.dedup import (
    contamination_counts,
    cross_doc_spans,
    decontaminate,
    exact_dedup_groups,
    near_dup_pairs,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    repeated_span_stats,
    simhash,
    simhash_near_dup_pairs,
    strip_cross_doc_spans,
)
from airflow_etl_minio_to_postgres_spark.functions.graph import (
    assign_clusters,
    pagerank,
    transitive_dedup,
)
from airflow_etl_minio_to_postgres_spark.functions.multimodal import (
    add_image_ahash,
    ahash_near_dup_pairs,
    attach_payload,
    extract_payload_features,
    sample_frame_offsets,
    sample_frame_offsets_expr,
)
from airflow_etl_minio_to_postgres_spark.functions.similarity import (
    ann_topk_sign_lsh,
    embedding_near_dup_pairs,
    hyperplanes as _hyperplanes,
    ann_recall_at_k,
    dequantize_int8,
    ivf_knn_join,
    ivf_topk,
    ivf_topk_batch,
    ivf_topk_indexed,
    kmeans_centroids,
    knn_join,
    label_centroids,
    quantize_int8,
    rrf_fuse,
    rrf_fuse_grouped,
    semantic_decontaminate,
    semantic_dedup,
    topk_cosine,
    write_ivf_index,
)
from airflow_etl_minio_to_postgres_spark.functions.sketch import kmv_distinct
from airflow_etl_minio_to_postgres_spark.functions.pandas_ops import (
    asof_join_cogrouped,
    chunk_text_udtf,
    cosine_scores_pandas_udf,
    per_group_counts_pandas,
)
from airflow_etl_minio_to_postgres_spark.functions.text import (
    assign_splits,
    bm25_knn_join,
    bm25_topk,
    bm25_topk_batch,
    bm25_topk_indexed,
    chunk_text,
    curriculum_order,
    redact_pii,
    fingerprint_expr,
    lang_id_expr,
    mask_terms,
    punct_ratio_expr,
    pack_sequences,
    quality_score_expr,
    quantile_buckets_sampled,
    rate_sample,
    repetition_signals,
    source_quality_gate,
    stopword_ratio_expr,
    stratified_cap,
    temperature_mix,
    tfidf_top_terms,
    token_count_expr,
    unigram_logprob,
    word_count_expr,
    write_inverted_index,
)
from airflow_etl_minio_to_postgres_spark.plans.medallion import run_medallion
from airflow_etl_minio_to_postgres_spark.streaming.pipeline import (
    compact_inverted_index,
    compact_ivf_index,
    drift_report,
    hourly_agg_stream,
    migrate_legacy_silver,
    run_available_now,
    run_stateful_user_counts,
    stream_documents,
    stream_embeddings,
    stream_events,
    stream_static_enrichment,
    stream_stream_attribution,
    streaming_dedup,
    streaming_drift_monitor,
    streaming_inverted_index_upsert,
    streaming_ivf_index_upsert,
    streaming_near_dup_dedup,
    streaming_rollup_upsert,
)
from airflow_etl_minio_to_postgres_spark.schemas import TESTDATA_SCHEMAS
from airflow_etl_minio_to_postgres_spark.sources.catalog import load_table
from airflow_etl_minio_to_postgres_spark.sources.files import (
    read_csv,
    read_jsonl,
    recluster_zorder_committed,
    recluster_zorder_partitions,
    write_csv,
    write_jsonl,
    write_orc,
    zorder_value_sql,
)
from airflow_etl_minio_to_postgres_spark.sources.manifest import read_resolved

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin-spread a frame that arrives as fewer partitions than
    the session parallelism — a test-SF table is ONE file, so a heavy
    per-row stage downstream (a Python crossing, an expression-dense
    hash) otherwise runs on one or two scan tasks while the rest of the
    cluster idles.  Guarded on the actual partition count so a
    production-scale many-partition scan never pays a gratuitous full
    shuffle.  Row placement only; results unchanged."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# The driver's correctness harness oracle-checks only the FIRST 50 entries
# of ``queries()``.  More than 50 are registered, so ordering decides which
# get a fresh driver row each round.  Rather than a hand-maintained list
# (which round 5 got wrong, leaving its three newest operators unchecked),
# the order ROTATES from the committed ``CORRECTNESS_r*.json`` history:
# entries with no green driver row ever come first, then entries by
# least-recently-verified round, ties broken by registration order.  A new
# or failed entry is therefore always inside the window, and every stable
# entry re-enters it at least every other round, so a regression in a
# "stable" entry cannot hide indefinitely.
#
# Round 7 made the rotation CODE-CHANGE-AWARE: a green row only counts if
# the code that produced it is the code we have now.  ``QUERY_HASHES.json``
# (synced per-round by ``scripts/sync_query_hashes.py`` from the commit
# the driver actually tested) records each entry's implementing-code hash
# (rotation_hash.query_code_hash) at its last green round; an entry whose
# CURRENT hash differs — the wrapper, a same-module helper, any package
# module it calls into, or its oracle SQL was edited since — sorts as
# never-verified and re-enters the window immediately.
def _verification_history() -> dict[str, int]:
    """Query name -> latest round whose committed CORRECTNESS artifact has
    a PASSING driver row for it (every ``*_match`` true, no ``err``).
    Failed or error rows do not count — those entries re-expose until
    green.  Missing/unreadable artifacts degrade to registration order."""
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    latest: dict[str, int] = {}
    for p in root.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name)
        if m is None:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict) or row.get("err") is not None:
                continue
            checks = [v for k, v in row.items() if k.endswith("_match")]
            if checks and all(v is True for v in checks):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _recorded_green_hashes() -> dict | None:
    """``QUERY_HASHES.json``: name -> {"round": N, "hash": h} recorded at
    the entry's last green round.  ``None`` (sidecar absent/unreadable)
    degrades to recency-only rotation rather than breaking ordering."""
    import json
    from pathlib import Path

    p = Path(__file__).resolve().parent.parent / "QUERY_HASHES.json"
    try:
        data = json.loads(p.read_text())
    except (OSError, ValueError):
        return None
    return data if isinstance(data, dict) else None


_CURRENT_HASHES: dict[str, str] = {}
_CURRENT_WRAPPER_HASHES: dict[str, str] = {}


def _current_code_hash(name: str) -> str:
    if name not in _CURRENT_HASHES:
        from airflow_etl_minio_to_postgres_spark.rotation_hash import (
            query_code_hash,
        )

        _CURRENT_HASHES[name] = query_code_hash(
            _QUERIES[name], _ORACLES.get(name)
        )
    return _CURRENT_HASHES[name]


def _current_wrapper_hash(name: str) -> str:
    if name not in _CURRENT_WRAPPER_HASHES:
        from airflow_etl_minio_to_postgres_spark.rotation_hash import (
            wrapper_hash,
        )

        _CURRENT_WRAPPER_HASHES[name] = wrapper_hash(
            _QUERIES[name], _ORACLES.get(name)
        )
    return _CURRENT_WRAPPER_HASHES[name]


def _directly_edited(name: str, green: dict | None) -> bool:
    """True when the entry's OWN wrapper/oracle changed since its last
    green round (vs a transitive bump through a callee) — the
    higher-risk class, re-verified first when the window overflows."""
    if green is None:
        return False
    rec = green.get(name)
    if not isinstance(rec, dict) or "wrapper_hash" not in rec:
        return False
    return rec["wrapper_hash"] != _current_wrapper_hash(name)


def _effective_round(name: str, hist: dict[str, int], green: dict | None) -> int:
    """A green row only counts while its code identity holds: entries whose
    implementing code or oracle changed since the recorded green hash (or
    that were never hash-recorded) sort as unverified (round 0)."""
    rnd = hist.get(name, 0)
    if rnd == 0 or green is None:
        return rnd
    rec = green.get(name)
    if not isinstance(rec, dict) or rec.get("hash") != _current_code_hash(name):
        return 0
    return rnd


# The driver checks the first DRIVER_WINDOW entries of queries() each
# round.  Single source of truth for the rotation, the spill sidecar
# (scripts/sync_query_hashes.py), and the rotation-contract tests — a
# silently divergent copy mispredicts the due/spilled sets.
DRIVER_WINDOW = 50


def _driver_order(entries: dict) -> dict:
    """Primary key: effective round (0 = needs verification).  Among
    needs-verification entries: never-checked first (they must never ship
    outside the window), then DIRECT wrapper/oracle edits (the entry's own
    code changed — highest risk), then transitive bumps, each by how long
    ago they were actually driver-verified.  When a round's edits
    invalidate more entries than the 50-slot window holds, the spill-over
    is the transitively-bumped entries with the freshest real
    verification — due back next round."""
    hist = _verification_history()
    green = _recorded_green_hashes()
    names = list(entries)

    def key(i: int):
        n = names[i]
        eff = _effective_round(n, hist, green)
        direct = 0 if _directly_edited(n, green) else 1
        return (eff, direct if eff == 0 and hist.get(n, 0) else 0,
                hist.get(n, 0), i)

    ranked = sorted(range(len(names)), key=key)
    return {names[i]: entries[names[i]] for i in ranked}


def queries() -> dict[str, QueryFn]:
    return _driver_order(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return _driver_order(_ORACLES)


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary over lineitem.
# Exercises: scan + filter pushdown + partial agg + sort (SURVEY.md §2.4).
# ---------------------------------------------------------------------------


def stable_sum(expr, scale: int = 6):
    """Order-independent sum of a fixed-point double expression.

    ``sum(double)`` is accumulation-order-dependent: at magnitude ~4e8 a
    1-ulp wobble (~6e-8) from a different partition merge order can cross
    the driver's value-hash rounding boundary (the round-7 q19 red row —
    rows/schema/values all agreed to 16 significant digits).  The test
    data is fixed-point (2-dp money/discount/tax, so products carry at
    most 6 decimal digits exactly): each term is scaled to its EXACT
    integer micro-unit representation (``round(expr*1e6)`` — the double
    is within ~1e-4 of the true integer, never near a rounding tie, so
    Spark and DuckDB recover the same integer), summed as BIGINT (integer
    addition is associative — partition order cannot matter), and divided
    back once (``double(total)/1e6`` — one IEEE op on identical inputs).
    The emitted double is bit-identical across engines AND across
    partition layouts; verified at sf0.01 and sf0.1.

    Oracle-side twin idiom::

        CAST(sum(CAST(round((expr)*1000000) AS BIGINT)) AS DOUBLE)/1000000

    100 TB note: micro-unit totals overflow BIGINT near 9.2e12 currency
    units; at that scale the production form is
    ``sum(expr.cast("decimal(18,6)"))`` emitted AS DECIMAL (Spark decimal
    sums are equally order-independent, precision grows to 28).  The
    bigint-micros form is used here because the final decimal→double cast
    is the one step the two engines round differently, and the driver
    hash-compares doubles.
    """
    factor = float(10**scale)
    return (
        F.sum(F.round(expr * F.lit(factor)).cast("long")).cast("double")
        / F.lit(factor)
    )


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice*1000000) AS BIGINT)) AS DOUBLE)/1000000
               AS sum_base_price,
           CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*1000000) AS BIGINT)) AS DOUBLE)/1000000
               AS sum_disc_price,
           CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*(1+l_tax)*1000000) AS BIGINT)) AS DOUBLE)/1000000
               AS sum_charge,
           sum(l_quantity) / count(*) AS avg_qty,
           CAST(sum(CAST(round(l_extendedprice*1000000) AS BIGINT)) AS DOUBLE)/1000000/count(*)
               AS avg_price,
           CAST(sum(CAST(round(l_discount*1000000) AS BIGINT)) AS DOUBLE)/1000000/count(*)
               AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money aggregates go through ``stable_sum`` (exact bigint
    micro-units) so the emitted doubles are bit-stable across partition
    orders and engines; quantity sums stay raw double — integer-valued
    terms sum exactly below 2^53 regardless of order.  Averages are
    written as explicit sum/count on BOTH engines (identical IEEE op
    sequence) rather than each engine's own ``avg`` accumulation."""
    li = load_table(spark, "lineitem", sf_dir)
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            stable_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            stable_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("sum_disc_price"),
            stable_sum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            (F.sum("l_quantity") / n).alias("avg_qty"),
            (stable_sum(F.col("l_extendedprice")) / n).alias("avg_price"),
            (stable_sum(F.col("l_discount")) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q1_rollup_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*1000000) AS BIGINT)) AS DOUBLE)/1000000
               AS revenue,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q1_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: ROLLUP computes all prefixes in ONE shuffle pass
    (partial aggregation per grouping set), not one job per level.
    Revenue via ``stable_sum`` — the grand-total row sums the whole fact
    table, exactly the large-magnitude shape that flakes a raw double
    sum's hash."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.rollup("l_returnflag", "l_linestatus").agg(
        stable_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "quantity_percentiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5)  AS p50,
           quantile_cont(l_quantity, 0.9)  AS p90,
           quantile_cont(l_quantity, 0.99) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group.  At 100 TB the exact form
    needs a per-group sort; the scale path swaps in approx_percentile
    (t-digest sketch, map-side mergeable) — exact here so the oracle can
    reproduce the value bit-for-bit."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.percentile(F.col("l_quantity"), F.lit(0.5)).alias("p50"),
        F.percentile(F.col("l_quantity"), F.lit(0.9)).alias("p90"),
        F.percentile(F.col("l_quantity"), F.lit(0.99)).alias("p99"),
    )


# ---------------------------------------------------------------------------
# Join / set-op surface (§2.4 engine plan): multi-table star join with
# broadcast dims, anti-join, semi-join, union.
# ---------------------------------------------------------------------------


@register(
    "q3_top_unshipped_value",
    """
    SELECT o.o_orderkey,
           CAST(sum(CAST(round(l.l_extendedprice*(1-l.l_discount)*1000000) AS BIGINT)) AS DOUBLE)/1000000
               AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o    ON c.c_custkey = o.o_custkey
    JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = (SELECT min(c_mktsegment) FROM customer)
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_top_unshipped_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> fact joins -> agg -> top-k.
    The filtered customer side is small, so AQE broadcasts it; lineitem
    joins orders on the shuffle-partitioned order key.  The scalar
    subquery (min mktsegment) stays INSIDE the lazy plan as a broadcast
    1-row cross-join — no driver round-trip, one job."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    seg = F.broadcast(c.agg(F.min("c_mktsegment").alias("_seg")))
    return (
        c.crossJoin(seg)
        .where(F.col("c_mktsegment") == F.col("_seg"))
        .select("c_custkey")
        .join(o.where(F.col("o_orderdate") < cutoff), c.c_custkey == o.o_custkey)
        .join(li.where(F.col("l_shipdate") > cutoff), F.col("l_orderkey") == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            stable_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


@register(
    "parts_never_bulk_ordered",
    """
    SELECT p_partkey, p_name FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45
    )
    """,
)
def parts_never_bulk_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: parts never ordered in bulk (>45 qty).  The quantity
    filter pushes into the fact scan before the anti-join shuffle."""
    p = load_table(spark, "part", sf_dir)
    bulk = (
        load_table(spark, "lineitem", sf_dir)
        .where(F.col("l_quantity") > 45)
        .select("l_partkey")
    )
    return p.join(
        bulk, p.p_partkey == bulk.l_partkey, how="left_anti"
    ).select("p_partkey", "p_name")


@register(
    "q18_large_orders",
    """
    SELECT o.o_orderkey, o.o_totalprice, t.total_qty
    FROM orders o
    JOIN (
        SELECT l_orderkey, sum(l_quantity) AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(l_quantity) > 150
    ) t ON t.l_orderkey = o.o_orderkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: pre-aggregate the fact with a HAVING filter, then
    join the surviving keys back — the aggregation prunes before the join
    so only qualifying orders shuffle."""
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .select("o_orderkey", "o_totalprice", "total_qty")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@register(
    "q14_promo_revenue",
    """
    SELECT 100.00 *
           (CAST(sum(CASE WHEN p.p_type = 'PROMO'
                          THEN CAST(round(l.l_extendedprice*(1-l.l_discount)*1000000) AS BIGINT)
                          ELSE 0 END) AS DOUBLE)/1000000)
           / (CAST(sum(CAST(round(l.l_extendedprice*(1-l.l_discount)*1000000) AS BIGINT)) AS DOUBLE)/1000000)
           AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-09-01'
      AND l.l_shipdate <  TIMESTAMP '1995-12-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio over a fact->dim
    join.  The date filter is pushed to the lineitem parquet scan
    (PushedFilters), part is broadcast (dimension-sized), and the CASE
    rides the single aggregate — promo share of revenue in one pass with
    no second scan for the denominator."""
    li = load_table(spark, "lineitem", sf_dir).where(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-12-01").cast("timestamp"))
    )
    p = load_table(spark, "part", sf_dir).select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    micros = F.round(rev * F.lit(1e6)).cast("long")
    promo = (
        F.sum(
            F.when(F.col("p_type") == "PROMO", micros).otherwise(F.lit(0))
        ).cast("double")
        / F.lit(1e6)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (F.lit(100.0) * promo / stable_sum(rev)).alias(
                "promo_revenue_pct"
            )
        )
    )


@register(
    "q19_disjunctive_revenue",
    """
    SELECT CAST(sum(CAST(round(l.l_extendedprice*(1-l.l_discount)*1000000) AS BIGINT)) AS DOUBLE)/1000000
               AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_type = 'PROMO'    AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1  AND l.l_quantity <= 30)
       OR (p.p_type = 'ECONOMY'  AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 40)
       OR (p.p_type = 'STANDARD' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity >= 20 AND l.l_quantity <= 50)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR of conjunctions spanning BOTH join sides —
    the classic disjunctive-predicate planning test.  Catalyst extracts
    the common join key, pushes the per-side residuals it can derive
    (part rows must satisfy one of the type/size conjunctions; lineitem
    rows one of the quantity ranges) below the broadcast join, and
    evaluates the full disjunction post-join — versus the naive plan
    that joins everything and filters last."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).select(
        "p_partkey", "p_type", "p_size"
    )
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_type") == "PROMO")
            & F.col("p_size").between(1, 15)
            & q.between(1, 30)
        )
        | (
            (F.col("p_type") == "ECONOMY")
            & F.col("p_size").between(10, 30)
            & q.between(10, 40)
        )
        | (
            (F.col("p_type") == "STANDARD")
            & F.col("p_size").between(20, 50)
            & q.between(20, 50)
        )
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(
            stable_sum(rev).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q5_supplier_nation_revenue",
    """
    SELECT n.n_name AS nation,
           CAST(sum(CAST(round(l.l_extendedprice*(1-l.l_discount)*1000000) AS BIGINT)) AS DOUBLE)/1000000
               AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
)
def q5_supplier_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: fact -> dim join chain.  supplier/nation/region are
    dimension-sized, so every join broadcasts and the fact never shuffles
    until the final aggregation."""
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            stable_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "nation")
    )


@register(
    "q17_small_quantity_revenue",
    """
    SELECT CAST(sum(CAST(round(l.l_extendedprice*1000000) AS BIGINT)) AS DOUBLE)/1000000/7.0
               AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = (SELECT min(p_brand) FROM part)
      AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = p.p_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: a CORRELATED scalar subquery — each lineitem is
    compared against 0.2x the average quantity of ITS part.  Deliberately
    written as correlated SQL (not a hand-rolled aggregate+join) to
    exercise Catalyst's decorrelation: the optimizer must rewrite the
    per-row subquery into ONE aggregate over lineitem grouped by
    l_partkey joined back on the part key — never a re-execution per
    outer row.  Pinned in test_plans.py: the physical plan contains an
    avg aggregate feeding a join and no nested-loop/cartesian node.

    Determinism: l_quantity is integer-valued, so the per-part avg
    (exact integer sum / count) and the 0.2x threshold are bit-identical
    on both engines — the `<` filter cannot flake; the money sum goes
    through the stable_sum idiom.
    """
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    return spark.sql(
        """
        SELECT CAST(sum(CAST(round(l.l_extendedprice*1000000) AS BIGINT)) AS DOUBLE)/1000000/7.0
                   AS avg_yearly,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM {lineitem} l JOIN {part} p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = (SELECT min(p_brand) FROM {part})
          AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                              FROM {lineitem} l2
                              WHERE l2.l_partkey = p.p_partkey)
        """,
        lineitem=li,
        part=p,
    )


@register(
    "q21_waiting_suppliers",
    """
    WITH late AS (
        SELECT l.l_orderkey, l.l_suppkey
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    SELECT s.s_name, count(*) AS numwait
    FROM late l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS against the same fact — the
    multi-semi/anti-join planning test.  Suppliers whose late line (ship
    more than 60 days after an 'F' order's date) was the ONLY late line
    in a multi-supplier order: semi-join onto all lines of the order
    (some OTHER supplier participated), anti-join onto the late lines
    (no OTHER supplier was late).

    Scale shape: both the semi and the anti are equi-joins on
    l_orderkey with the supplier inequality as a residual join condition
    — shuffle-hash/sort-merge territory, NEVER a nested loop (pinned);
    the late set is filter-pruned before either probe, and the final
    supplier name lookup broadcasts the dimension.
    """
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = (
        load_table(spark, "orders", sf_dir)
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_name")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
        )
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("_ok2"), F.col("l_suppkey").alias("_sk2")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("_ok3"), F.col("l_suppkey").alias("_sk3")
    )
    waiting = (
        late.join(
            others,
            (F.col("l_orderkey") == F.col("_ok2"))
            & (F.col("l_suppkey") != F.col("_sk2")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("l_orderkey") == F.col("_ok3"))
            & (F.col("l_suppkey") != F.col("_sk3")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@register(
    "q15_top_suppliers",
    """
    WITH rev AS (
        SELECT l_suppkey,
               CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*1000000) AS BIGINT)) AS DOUBLE)/1000000
                   AS total_revenue
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON r.l_suppkey = s.s_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: a derived revenue view consumed TWICE — once as
    the join input, once inside the scalar max — the
    common-subplan-reuse test (Spark plans the aggregate once per
    branch; at scale you'd cache/CTE-materialize the view, noted).  The
    max is a 1-row broadcast; equality against it returns ALL tied
    suppliers on both engines (no arbitrary top-1 pick), and the
    stable-sum revenue makes the tie set itself deterministic."""
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_name")
    rev = li.groupBy("l_suppkey").agg(
        stable_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("total_revenue")
    )
    mx = F.broadcast(rev.agg(F.max("total_revenue").alias("_mx")))
    return (
        rev.crossJoin(mx)
        .where(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q4_priority_waiting",
    """
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate <  TIMESTAMP '1995-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q4_priority_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated on the join key AND an outer
    column (the ship-lag compares against o_orderdate) — a semi-join
    whose residual condition spans both sides.  The quarter filter is
    pushed to the orders scan BEFORE the semi-join probe, so only one
    quarter of orders shuffles."""
    o = load_table(spark, "orders", sf_dir).where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_shipdate"
    )
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (
                li.l_shipdate
                > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(round(l_extendedprice*l_discount*1000000) AS BIGINT)) AS DOUBLE)/1000000
               AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.02 AND 0.06
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure scan-filter-aggregate — no join at all;
    the whole query is the parquet scan's pushed predicates plus one
    map-side-combined fold.  The canary for pushdown health: every
    filter (date range, discount band, quantity cap) must reach
    PushedFilters or the scan reads 10x the rows.  BETWEEN on 2-dp
    doubles is safe cross-engine: 0.02/0.06 parse to identical doubles
    everywhere, and the data is exactly representable at 2 dp."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.02, 0.06))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            stable_sum(
                F.col("l_extendedprice") * F.col("l_discount")
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q8_market_share",
    """
    SELECT year(o.o_orderdate) AS yr,
           100.0 *
           (CAST(sum(CASE WHEN n.n_name = (SELECT min(n_name) FROM nation)
                          THEN CAST(round(l.l_extendedprice*(1-l.l_discount)*1000000) AS BIGINT)
                          ELSE 0 END) AS DOUBLE)/1000000)
           / (CAST(sum(CAST(round(l.l_extendedprice*(1-l.l_discount)*1000000) AS BIGINT)) AS DOUBLE)/1000000)
               AS mkt_share_pct
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    ORDER BY yr
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: per-year market share of one supplier nation — a
    conditional-aggregate RATIO per group (q14's pattern, grouped).
    The target nation is a 1-row broadcast scalar (min n_name, the q3
    trick); numerator and denominator ride the SAME aggregate over the
    same shuffle; both go through exact micro-unit sums so the ratio is
    bit-stable."""
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate"
    )
    target = F.broadcast(n.agg(F.min("n_name").alias("_target")))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    micros = F.round(rev * F.lit(1e6)).cast("long")
    num = (
        F.sum(
            F.when(F.col("n_name") == F.col("_target"), micros).otherwise(
                F.lit(0)
            )
        ).cast("double")
        / F.lit(1e6)
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .crossJoin(target)
        .groupBy(F.year("o_orderdate").alias("yr"))
        .agg(
            (F.lit(100.0) * num / stable_sum(rev)).alias("mkt_share_pct")
        )
        .orderBy("yr")
    )


@register(
    "q9_product_profit",
    """
    SELECT n.n_name AS nation, year(o.o_orderdate) AS yr,
           CAST(sum(CAST(round((l.l_extendedprice*(1-l.l_discount)
                                - 0.1*p.p_retailprice*l.l_quantity)*1000000) AS BIGINT)) AS DOUBLE)/1000000
               AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%a%'
    GROUP BY 1, 2
    ORDER BY nation, yr
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per (supplier nation, order year) over a
    LIKE-filtered part subset — the widest join graph in the classic
    set (fact + 4 dimensions, one of them the date source).  The test
    schema has no partsupp, so supply cost is modeled as
    0.1 x retailprice x quantity — a fixed-point expression (3 dp x
    integer) that keeps the micro-unit sum exact.  LIKE '%a%' cannot
    push as a range but still prunes the broadcast part list before the
    join."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).where(
        F.col("p_name").like("%a%")
    ).select("p_partkey", "p_retailprice")
    s = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate"
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(stable_sum(profit).alias("profit"))
        .orderBy("nation", "yr")
    )


@register(
    "q10_returned_revenue_customers",
    """
    SELECT c.c_custkey, c.c_name,
           CAST(sum(CAST(round(l.l_extendedprice*(1-l.l_discount)*1000000) AS BIGINT)) AS DOUBLE)/1000000
               AS revenue,
           c.c_acctbal, n.n_name AS nation
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 4, 5
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20 —
    fact filter ('R' pushed to the lineitem scan) -> orders join ->
    customer + nation broadcast -> wide GROUP BY carrying customer
    attributes -> TakeOrdered.  The stable revenue sum makes the top-20
    cut deterministic."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).where(
        F.col("l_returnflag") == "R"
    )
    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.col("n_name").alias("nation"),
        )
        .agg(
            stable_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "nation")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q12_priority_line_counts",
    """
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    GROUP BY l.l_linestatus
    ORDER BY l.l_linestatus
    """,
)
def q12_priority_line_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: CASE-bucketed conditional counts over a joined
    predicate (slow shipments split into high/low priority) — both
    buckets ride ONE aggregate over one shuffle, never two filtered
    jobs.  The ship-lag predicate spans both join sides, so it
    evaluates post-join but before the aggregate prunes."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_shipdate", "l_linestatus"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q7_nation_pair_volume",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(sum(CAST(round(l.l_extendedprice*(1-l.l_discount)*1000000) AS BIGINT)) AS DOUBLE)/1000000
               AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE n1.n_name < n2.n_name
    GROUP BY 1, 2
    ORDER BY revenue DESC, supp_nation, cust_nation
    LIMIT 20
    """,
)
def q7_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation trade volume — the fact joins BOTH
    its supplier-side and customer-side dimension chains (two hops
    each), then aggregates per nation pair.  All four dimensions
    broadcast; the only fact shuffle is the orders join (orderkey) and
    the final pair aggregation; the n1 < n2 predicate halves the pair
    space and cannot be pushed below either chain (it spans both)."""
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    c = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    n1 = n.select(
        F.col("n_nationkey").alias("_nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("_nk2"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_nk1"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_nk2"))
        .where(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            stable_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "supp_nation", "cust_nation")
        .limit(20)
    )


@register(
    "q22_idle_rich_customers",
    """
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_cust,
           CAST(sum(CAST(round(c.c_acctbal*1000000) AS BIGINT)) AS DOUBLE)/1000000
               AS total_bal
    FROM customer c
    WHERE c.c_acctbal > (SELECT CAST(sum(CAST(round(c2.c_acctbal*1000000) AS BIGINT)) AS DOUBLE)/1000000
                                / count(*)
                         FROM customer c2 WHERE c2.c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-average threshold + NOT EXISTS with a
    subquery-side predicate — above-average-balance customers who never
    placed an urgent order.  The average is a 1-row broadcast (computed
    once, stable_sum/count so the `>` boundary is bit-deterministic on
    both engines); the NOT EXISTS is a LeftAnti against the
    filter-pruned urgent-order keys."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    thr = F.broadcast(
        c.where(F.col("c_acctbal") > 0).agg(
            (
                stable_sum(F.col("c_acctbal")) / F.count(F.lit(1))
            ).alias("_avg_bal")
        )
    )
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    return (
        c.crossJoin(thr)
        .where(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            stable_sum(F.col("c_acctbal")).alias("total_bal"),
        )
        .orderBy("segment")
    )


@register(
    "q2_min_price_supplier",
    """
    SELECT p.p_partkey, s.s_name, l.l_extendedprice AS min_price
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE p.p_type = 'PROMO' AND p.p_size BETWEEN 1 AND 10
      AND l.l_extendedprice = (SELECT min(l2.l_extendedprice)
                               FROM lineitem l2
                               WHERE l2.l_partkey = p.p_partkey)
    ORDER BY p.p_partkey, s.s_name
    LIMIT 100
    """,
)
def q2_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: equality against a correlated MIN — for each
    filtered part, the supplier(s) selling it at its corpus-wide minimum
    price.  Catalyst decorrelates the per-part min into one aggregate
    over lineitem joined back on (l_partkey, price-equality); min() is
    order-independent so the equality filter cannot flake.  Pinned: a
    partial_min aggregate in the main plan, no nested loop."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    return spark.sql(
        """
        SELECT p.p_partkey, s.s_name, l.l_extendedprice AS min_price
        FROM {part} p
        JOIN {lineitem} l ON l.l_partkey = p.p_partkey
        JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
        WHERE p.p_type = 'PROMO' AND p.p_size BETWEEN 1 AND 10
          AND l.l_extendedprice = (SELECT min(l2.l_extendedprice)
                                   FROM {lineitem} l2
                                   WHERE l2.l_partkey = p.p_partkey)
        ORDER BY p.p_partkey, s.s_name
        LIMIT 100
        """,
        part=p,
        lineitem=li,
        supplier=s,
    )


@register(
    "q11_important_parts",
    """
    SELECT l_partkey,
           CAST(sum(CAST(round(l_extendedprice*1000000) AS BIGINT)) AS DOUBLE)/1000000
               AS part_value
    FROM lineitem
    GROUP BY l_partkey
    HAVING CAST(sum(CAST(round(l_extendedprice*1000000) AS BIGINT)) AS DOUBLE)/1000000
           > (SELECT CAST(sum(CAST(round(l_extendedprice*1000000) AS BIGINT)) AS DOUBLE)/1000000 * 0.0005
              FROM lineitem)
    ORDER BY part_value DESC, l_partkey
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group aggregate filtered against a SCALAR
    subquery over the same fact (parts whose sales value exceeds 0.05%
    of total sales).  The global total is a 1-row broadcast
    cross-joined onto the per-part aggregate — the scalar is computed
    once, never per group.  Both the emitted value and the threshold go
    through the stable_sum idiom, so the HAVING comparison is
    bit-deterministic on both engines."""
    li = load_table(spark, "lineitem", sf_dir)
    total = F.broadcast(
        li.agg((stable_sum(F.col("l_extendedprice")) * 0.0005).alias("_thr"))
    )
    return (
        li.groupBy("l_partkey")
        .agg(stable_sum(F.col("l_extendedprice")).alias("part_value"))
        .crossJoin(total)
        .where(F.col("part_value") > F.col("_thr"))
        .select("l_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


@register(
    "q13_order_count_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) t
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer join with the filter in the ON clause +
    two stacked aggregations.  The orderpriority predicate must stay IN
    the join condition — pushed to a WHERE it would turn the LEFT join
    inner and silently drop zero-order customers from the histogram
    (the classic outer-join planning trap; the c_count=0 bucket in the
    output is the witness).  count(o_orderkey) counts non-null matches
    only.  Double aggregation: the second groupBy keys on the first's
    output — tiny domain, map-side combined."""
    c = load_table(spark, "customer", sf_dir).select("c_custkey")
    o = load_table(spark, "orders", sf_dir).select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    return (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q16_supplier_counts_not_in",
    """
    SELECT p.p_type, p.p_size, count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_size IN (1, 5, 10, 15, 20)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_acctbal < 0)
    GROUP BY p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_type, p.p_size
    """,
)
def q16_supplier_counts_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN subquery + count(DISTINCT) — the
    null-aware anti-join planning test.  Written as SQL NOT IN (not a
    hand-rolled left_anti) so the planner must produce the null-aware
    anti join itself; with a non-null key column it degenerates to a
    plain LeftAnti against the broadcast-small negative-balance
    supplier list.  Pinned: LeftAnti present, no nested loop."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    return spark.sql(
        """
        SELECT p.p_type, p.p_size, count(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM {part} p JOIN {lineitem} l ON l.l_partkey = p.p_partkey
        WHERE p.p_size IN (1, 5, 10, 15, 20)
          AND l.l_suppkey NOT IN (SELECT s_suppkey FROM {supplier}
                                  WHERE s_acctbal < 0)
        GROUP BY p.p_type, p.p_size
        ORDER BY supplier_cnt DESC, p.p_type, p.p_size
        """,
        part=p,
        lineitem=li,
        supplier=s,
    )


@register(
    "q20_dominant_suppliers",
    """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT l.l_suppkey FROM lineitem l
        GROUP BY l.l_partkey, l.l_suppkey
        HAVING sum(l.l_quantity) > (SELECT 0.15 * sum(l2.l_quantity)
                                    FROM lineitem l2
                                    WHERE l2.l_partkey = l.l_partkey)
    )
    ORDER BY s.s_suppkey
    """,
)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: IN semi-join whose subquery filters a grouped
    aggregate against a CORRELATED aggregate over the same fact —
    suppliers covering more than 15% of some part's total shipped
    quantity.  Two decorrelation layers: the per-(part,supplier) sum
    and the per-part total become two aggregates joined on l_partkey
    (never re-executed per group), and the IN becomes a LeftSemi.
    Quantities are integer-valued, so both sums are exact and the 0.15x
    threshold comparison is bit-deterministic cross-engine."""
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    return spark.sql(
        """
        SELECT s.s_suppkey, s.s_name
        FROM {supplier} s
        WHERE s.s_suppkey IN (
            SELECT l.l_suppkey FROM {lineitem} l
            GROUP BY l.l_partkey, l.l_suppkey
            HAVING sum(l.l_quantity) > (SELECT 0.15 * sum(l2.l_quantity)
                                        FROM {lineitem} l2
                                        WHERE l2.l_partkey = l.l_partkey)
        )
        ORDER BY s.s_suppkey
        """,
        supplier=s,
        lineitem=li,
    )


@register(
    "nation_region_rollup",
    """
    SELECT r.r_name AS region, count(*) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def nation_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim-dim join + rollup."""
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


@register(
    "all_account_balances",
    """
    SELECT 'customer' AS kind, c_custkey AS entity_key, c_acctbal AS acctbal
    FROM customer
    UNION ALL
    SELECT 'supplier', s_suppkey, s_acctbal FROM supplier
    """,
)
def all_account_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: union of customer/supplier balances under one schema."""
    c = load_table(spark, "customer", sf_dir).select(
        F.lit("customer").alias("kind"),
        F.col("c_custkey").alias("entity_key"),
        F.col("c_acctbal").alias("acctbal"),
    )
    s = load_table(spark, "supplier", sf_dir).select(
        F.lit("supplier").alias("kind"),
        F.col("s_suppkey").alias("entity_key"),
        F.col("s_acctbal").alias("acctbal"),
    )
    return c.unionByName(s)


# ---------------------------------------------------------------------------
# Cleaning kernel (T1-T3) over customer strings.
# ---------------------------------------------------------------------------


@register(
    "clean_strings_customer",
    """
    SELECT c_custkey,
           nullif(lower(trim(c_name)), '')       AS c_name,
           c_nationkey, c_acctbal,
           nullif(lower(trim(c_mktsegment)), '') AS c_mktsegment
    FROM customer
    """,
)
def clean_strings_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clean_strings(load_table(spark, "customer", sf_dir))


@register(
    "fill_nulls_customer",
    """
    SELECT coalesce(c_custkey, -1)            AS c_custkey,
           coalesce(c_name, 'unknown')        AS c_name,
           coalesce(c_nationkey, -1)          AS c_nationkey,
           c_acctbal,
           coalesce(c_mktsegment, 'unknown')  AS c_mktsegment
    FROM customer
    """,
)
def fill_nulls_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fill_nulls(load_table(spark, "customer", sf_dir))


# ---------------------------------------------------------------------------
# Key kernel (T9-T13) over customer/orders.
# ---------------------------------------------------------------------------


@register(
    "natural_key_orders",
    """
    SELECT o_orderkey,
           concat_ws('|', cast(o_orderkey AS varchar), o_orderstatus,
                     o_orderpriority) AS natural_key
    FROM orders
    """,
)
def natural_key_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return add_natural_key(
        o, ["o_orderkey", "o_orderstatus", "o_orderpriority"]
    ).select("o_orderkey", "natural_key")


@register(
    "hash_key_customer",
    """
    SELECT c_custkey,
           substr(sha256(concat(cast(c_custkey AS varchar), c_mktsegment)), 1, 16)
               AS customer_key
    FROM customer
    """,
)
def hash_key_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    return add_hash_key(c, ["c_custkey", "c_mktsegment"], "customer_key").select(
        "c_custkey", "customer_key"
    )


@register(
    "dedup_mktsegment_dim",
    """
    SELECT DISTINCT substr(sha256(c_mktsegment), 1, 16) AS segment_key,
                    c_mktsegment
    FROM customer
    """,
)
def dedup_mktsegment_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    dim = add_hash_key(c, ["c_mktsegment"], "segment_key").select(
        "segment_key", "c_mktsegment"
    )
    return dedup_rows(dim)


@register(
    "surrogate_ids_mktsegment",
    """
    SELECT c_mktsegment,
           row_number() OVER (ORDER BY c_mktsegment) AS segment_id
    FROM (SELECT DISTINCT c_mktsegment FROM customer)
    """,
)
def surrogate_ids_mktsegment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    return assign_surrogate_ids(c, "c_mktsegment", "segment_id")


@register(
    "key_to_id_resolution",
    """
    WITH ids AS (
        SELECT c_mktsegment,
               row_number() OVER (ORDER BY c_mktsegment) AS segment_id
        FROM (SELECT DISTINCT c_mktsegment FROM customer)
    )
    SELECT ids.segment_id, c.c_custkey, c.c_name
    FROM customer c LEFT JOIN ids USING (c_mktsegment)
    """,
)
def key_to_id_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    ids = assign_surrogate_ids(c, "c_mktsegment", "segment_id")
    child = c.select("c_mktsegment", "c_custkey", "c_name")
    # The segment id map is dimension-sized -> broadcast is safe and right.
    return resolve_key_to_id(child, ids, "c_mktsegment", "segment_id", broadcast=True)


@register(
    "customers_cdc_applied",
    """
    WITH changes AS (
        SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal,
               c_mktsegment, 'U' AS op, 1 AS seq
        FROM customer WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey, c_name, c_acctbal + 200, c_mktsegment, 'U', 2
        FROM customer WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey, c_name, c_acctbal, c_mktsegment, 'U', 1
        FROM customer WHERE c_custkey % 3 = 1
        UNION ALL
        SELECT c_custkey, c_name, c_acctbal, c_mktsegment, 'D', 2
        FROM customer WHERE c_custkey % 3 = 1
        UNION ALL
        SELECT c_custkey + 100000, c_name, c_acctbal, c_mktsegment, 'I', 1
        FROM customer WHERE c_custkey % 3 = 2
    ),
    latest AS (
        SELECT * FROM (
            SELECT c_custkey, c_name, c_acctbal, c_mktsegment, op,
                   row_number() OVER (PARTITION BY c_custkey
                                      ORDER BY seq DESC, op DESC,
                                               c_name, c_acctbal,
                                               c_mktsegment) AS rn
            FROM changes
        ) t WHERE rn = 1
    )
    SELECT c.c_custkey, c.c_name, c.c_acctbal, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM latest l
                      WHERE l.c_custkey = c.c_custkey)
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment
    FROM latest WHERE op <> 'D'
    """,
)
def customers_cdc_applied(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-feed application (operators/scd.py apply_cdc) — the
    Debezium/binlog consumer: a synthesized deterministic feed sends two
    updates to every keys%3==0 customer (the seq-2 one must win), an
    update THEN a delete to keys%3==1 (the delete must win — latest-op
    semantics, not any-op-wins), and inserts new keys for keys%3==2.
    The snapshot passes through ONE anti-join on touched keys; the
    latest-per-key reduction windows over the feed only."""
    c = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    key = F.col("c_custkey")

    def feed(pred, bal, op, seq, keyexpr=key):
        return c.where(pred).select(
            keyexpr.alias("c_custkey"),
            "c_name",
            bal.alias("c_acctbal"),
            "c_mktsegment",
            F.lit(op).alias("op"),
            F.lit(seq).alias("seq"),
        )

    bal = F.col("c_acctbal")
    changes = (
        feed(key % 3 == 0, bal + 100, "U", 1)
        .unionByName(feed(key % 3 == 0, bal + 200, "U", 2))
        .unionByName(feed(key % 3 == 1, bal, "U", 1))
        .unionByName(feed(key % 3 == 1, bal, "D", 2))
        .unionByName(feed(key % 3 == 2, bal, "I", 1, keyexpr=key + 100000))
    )
    return apply_cdc(c, changes, ["c_custkey"])


@register(
    "scd2_customer_dim",
    """
    WITH s1 AS (
        SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
    ),
    s2 AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN 'CHANGED'
                    ELSE c_mktsegment END AS c_mktsegment,
               c_acctbal + CASE WHEN c_custkey % 11 = 0 THEN 100.0
                                ELSE 0.0 END AS c_acctbal
        FROM customer
    ),
    chg AS (
        SELECT c_custkey FROM customer
        WHERE c_custkey % 7 = 0 OR c_custkey % 11 = 0
    )
    SELECT s1.c_custkey, s1.c_mktsegment, s1.c_acctbal,
           TIMESTAMP '2020-01-01 00:00:00' AS valid_from,
           CASE WHEN chg.c_custkey IS NOT NULL
                THEN TIMESTAMP '2020-02-01 00:00:00' END AS valid_to,
           chg.c_custkey IS NULL AS is_current
    FROM s1 LEFT JOIN chg USING (c_custkey)
    UNION ALL
    SELECT s2.c_custkey, s2.c_mktsegment, s2.c_acctbal,
           TIMESTAMP '2020-02-01 00:00:00' AS valid_from,
           NULL AS valid_to,
           TRUE AS is_current
    FROM s2 JOIN chg USING (c_custkey)
    """,
)
def scd2_customer_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension merge (operators/scd.py): snapshot 1 initializes the
    customer dim; snapshot 2 changes mktsegment for custkey%7==0 and
    acctbal for custkey%11==0.  Changed keys get a closed version
    (valid_to set) plus a reopened one; untouched keys pass through open.
    One full-outer shuffle join bounded by current-dim + snapshot size —
    closed history never enters the join."""
    c = load_table(spark, "customer", sf_dir)
    keys, tracked = ["c_custkey"], ["c_mktsegment", "c_acctbal"]
    snap1 = c.select("c_custkey", "c_mktsegment", "c_acctbal")
    snap2 = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit("CHANGED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        (
            F.col("c_acctbal")
            + F.when(F.col("c_custkey") % 11 == 0, F.lit(100.0)).otherwise(
                F.lit(0.0)
            )
        ).alias("c_acctbal"),
    )
    dim = scd2_init(snap1, "2020-01-01 00:00:00", keys, tracked)
    return scd2_merge(dim, snap2, "2020-02-01 00:00:00", keys, tracked)


# ---------------------------------------------------------------------------
# End-to-end medallion (O1-O4 + T1-T13) over a medallion-shaped wide table
# derived from orders |X| customer, so the DuckDB oracle can replay the whole
# bronze->silver->gold pipeline in SQL (reference gold task
# dags/dag_etl_minio_to_postgres.py:365-597).
#
# The raw frame carries the reference's RAW header casing (exercises T1
# standardize on real data) and the field config carries mixed-case target
# values (exercises the lower/trim normalization at reference :152-155).
# ---------------------------------------------------------------------------

# (raw header, target table as it would appear in the workbook)
MEDALLION_FIELD_CONFIG: list[tuple[str, str]] = [
    ("Property_Title", "property"),
    ("Zip", "property"),
    ("Market", "property"),
    ("HOA", "HOA"),
    ("HOA_Flag", "hoa"),
    ("Taxes", "Taxes"),
    ("Reviewed_Status", "Leads"),
    ("Source", "leads"),
    ("Paint", "Rehab"),
    ("Underwriting_Rehab", "rehab"),
    ("Previous_Rent", "Valuation"),
    ("List_Price", "valuation"),
    ("Order_Key", "valuation"),
]


def _medallion_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Medallion-shaped raw wide table from orders |X| customer.

    Columns mirror the reference's fake_data.csv shape (FIXTURES.md A1):
    customer attrs play the property/hoa dims, order attrs the satellites.
    """
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    return o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_name").alias("Property_Title"),
        F.col("c_nationkey").cast("string").alias("Zip"),
        F.col("c_mktsegment").alias("Market"),
        F.col("c_nationkey").alias("HOA"),
        F.col("c_mktsegment").alias("HOA_Flag"),
        (F.col("o_orderkey") % 7).alias("Taxes"),
        F.col("o_orderstatus").alias("Reviewed_Status"),
        F.col("o_orderpriority").alias("Source"),
        F.col("o_orderstatus").alias("Paint"),
        (F.col("o_orderkey") % 100).alias("Underwriting_Rehab"),
        F.col("o_custkey").alias("Previous_Rent"),
        F.col("o_totalprice").alias("List_Price"),
        F.col("o_orderkey").alias("Order_Key"),
    )


# One MedallionResult per (Spark application, sf_dir): the seven
# medallion_* queries are projections of ONE pipeline, so they share one
# build — without this, each bench entry re-pays the surrogate-id
# localCheckpoint + count job (63 s of the 121 s r2 suite).  Keyed on
# applicationId because localCheckpoint blocks die with the context; a
# fresh session must rebuild, never serve another context's RDDs.
_MEDALLION_MEMO: dict[tuple[str, str], "object"] = {}


def _run_demo_medallion(spark: SparkSession, sf_dir: str):
    key = (spark.sparkContext.applicationId, sf_dir)
    result = _MEDALLION_MEMO.get(key)
    if result is None:
        raw = _medallion_raw(spark, sf_dir)
        fc = spark.createDataFrame(
            MEDALLION_FIELD_CONFIG, ["column_name", "target_table"]
        )
        result = run_medallion(raw, fc)
        # The seven medallion queries each trigger their own action over
        # the SAME silver subtree (orders |X| customer + cleaning).
        # Cache it once: silver here is dimension-sized, and the memo is
        # already session-scoped so the cache lifetime matches.  The
        # 100 TB posture stays unchanged — a production run materializes
        # silver to parquet via write_medallion, it doesn't cache blindly.
        result.silver.persist()
        _MEDALLION_MEMO[key] = result
    return result


# Shared oracle prefix: replay raw -> silver (T1-T3) -> keys (T9-T10) -> ids
# (T12) exactly as the engine computes them.
_MEDALLION_CTE = """
WITH raw AS (
    SELECT c.c_name                       AS property_title,
           CAST(c.c_nationkey AS VARCHAR) AS zip,
           c.c_mktsegment                 AS market,
           c.c_nationkey                  AS hoa,
           c.c_mktsegment                 AS hoa_flag,
           o.o_orderkey % 7               AS taxes,
           o.o_orderstatus                AS reviewed_status,
           o.o_orderpriority              AS source,
           o.o_orderstatus                AS paint,
           o.o_orderkey % 100             AS underwriting_rehab,
           o.o_custkey                    AS previous_rent,
           o.o_totalprice                 AS list_price,
           o.o_orderkey                   AS order_key
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
silver AS (
    SELECT coalesce(nullif(lower(trim(property_title)), ''), 'unknown')  AS property_title,
           coalesce(nullif(lower(trim(zip)), ''), 'unknown')             AS zip,
           coalesce(nullif(lower(trim(market)), ''), 'unknown')          AS market,
           coalesce(hoa, -1)                                             AS hoa,
           coalesce(nullif(lower(trim(hoa_flag)), ''), 'unknown')        AS hoa_flag,
           coalesce(taxes, -1)                                           AS taxes,
           coalesce(nullif(lower(trim(reviewed_status)), ''), 'unknown') AS reviewed_status,
           coalesce(nullif(lower(trim(source)), ''), 'unknown')          AS source,
           coalesce(nullif(lower(trim(paint)), ''), 'unknown')           AS paint,
           coalesce(underwriting_rehab, -1)                              AS underwriting_rehab,
           coalesce(previous_rent, -1)                                   AS previous_rent,
           list_price,
           coalesce(order_key, -1)                                      AS order_key
    FROM raw
),
keyed AS (
    SELECT *,
           concat_ws('|', property_title, zip)                            AS natural_key,
           substr(sha256(concat(property_title, zip)), 1, 16)             AS property_key,
           substr(sha256(concat(CAST(hoa AS VARCHAR), hoa_flag)), 1, 16)  AS hoa_key,
           substr(sha256(CAST(taxes AS VARCHAR)), 1, 16)                  AS taxes_key
    FROM silver
),
ids AS (
    SELECT property_key,
           row_number() OVER (ORDER BY property_key) AS property_id
    FROM (SELECT DISTINCT property_key FROM keyed) t
)
"""


@register(
    "medallion_silver",
    _MEDALLION_CTE
    + """
    SELECT property_title, zip, market, hoa, hoa_flag, taxes,
           reviewed_status, source, paint, underwriting_rehab,
           previous_rent, list_price, order_key
    FROM silver
    """,
)
def medallion_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_demo_medallion(spark, sf_dir).silver


@register(
    "medallion_silver_migrated",
    _MEDALLION_CTE
    + """
    SELECT property_title, zip, market, hoa, hoa_flag, taxes,
           reviewed_status, source, paint, underwriting_rehab,
           previous_rent, list_price, order_key
    FROM silver
    """,
)
def medallion_silver_migrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The legacy-silver migration (streaming/pipeline.py
    migrate_legacy_silver) registered end-to-end: the silver frame is
    written in the pre-round-11 FLAT layout (plain appended
    part-files — the shape incremental_silver's legacy guard refuses
    to resume onto), migrated once to the ``_commit_id``-partitioned
    replay-safe layout (pre-migration rows get lineage ``legacy-0``),
    and the read-back minus the lineage column is checked against the
    IDENTICAL oracle as medallion_silver — the one-shot rewrite is
    proven value-lossless, and a second call is a no-op (idempotence
    pinned in pytest).  One full-table rewrite by design; the
    migration runs once per table, ever."""
    silver = _run_demo_medallion(spark, sf_dir).silver
    base = tempfile.mkdtemp(prefix="legacy_silver_")
    path = os.path.join(base, "silver")
    silver.write.parquet(path)  # the legacy flat layout
    migrate_legacy_silver(spark, path)
    return read_resolved(spark, path).drop("_commit_id")


@register(
    "medallion_gold_property",
    _MEDALLION_CTE
    + """
    SELECT i.property_id, k.natural_key, k.property_key, k.hoa_key,
           k.taxes_key, k.property_title, k.zip, k.market
    FROM keyed k LEFT JOIN ids i USING (property_key)
    """,
)
def medallion_gold_property(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_demo_medallion(spark, sf_dir).gold["property"]


@register(
    "medallion_gold_hoa",
    _MEDALLION_CTE + "SELECT DISTINCT hoa_key, hoa, hoa_flag FROM keyed",
)
def medallion_gold_hoa(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_demo_medallion(spark, sf_dir).gold["hoa"]


@register(
    "medallion_gold_taxes",
    _MEDALLION_CTE + "SELECT DISTINCT taxes_key, taxes FROM keyed",
)
def medallion_gold_taxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_demo_medallion(spark, sf_dir).gold["taxes"]


@register(
    "medallion_gold_leads",
    _MEDALLION_CTE
    + """
    SELECT i.property_id, k.reviewed_status, k.source AS lead_source
    FROM keyed k LEFT JOIN ids i USING (property_key)
    """,
)
def medallion_gold_leads(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_demo_medallion(spark, sf_dir).gold["leads"]


@register(
    "medallion_gold_rehab",
    _MEDALLION_CTE
    + """
    SELECT i.property_id, k.paint, k.underwriting_rehab
    FROM keyed k LEFT JOIN ids i USING (property_key)
    """,
)
def medallion_gold_rehab(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_demo_medallion(spark, sf_dir).gold["rehab"]


@register(
    "medallion_gold_valuation",
    _MEDALLION_CTE
    + """
    SELECT i.property_id, k.previous_rent, k.list_price, k.order_key
    FROM keyed k LEFT JOIN ids i USING (property_key)
    """,
)
def medallion_gold_valuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_demo_medallion(spark, sf_dir).gold["valuation"]


# ---------------------------------------------------------------------------
# Bronze I/O (S1/S4): land a table as CSV under a bronze prefix, read it
# back with an explicit schema, and prove the roundtrip is lossless against
# the parquet truth (reference bronze task dags/dag_etl_minio_to_postgres
# .py:253-265; read/write at :32-68).
# ---------------------------------------------------------------------------


@register(
    "bronze_csv_roundtrip_region",
    "SELECT r_regionkey, r_name FROM region",
)
def bronze_csv_roundtrip_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, "region", sf_dir)
    base = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_bronze",
        os.path.basename(sf_dir.rstrip("/")) or "sf",
    )
    path = write_csv(region, os.path.join(base, "region"), mode="overwrite")
    return read_csv(spark, path, schema=TESTDATA_SCHEMAS["region"])


@register(
    "docs_jsonl_roundtrip",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def docs_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink + schema-declared scan, lossless vs the parquet truth —
    the interchange format a training-data pipeline actually serves
    (one doc per line, splittable, corrupt lines quarantined instead of
    killing the job)."""
    docs = load_table(spark, "documents", sf_dir)
    base = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_jsonl",
        os.path.basename(sf_dir.rstrip("/")) or "sf",
    )
    path = write_jsonl(docs, os.path.join(base, "documents"), mode="overwrite")
    back = read_jsonl(spark, path, schema=TESTDATA_SCHEMAS["documents"])
    return back.drop("_corrupt_record")


@register(
    "orc_roundtrip_part",
    "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice "
    "FROM part",
)
def orc_roundtrip_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan (write_orc / read_file dispatch), lossless vs the
    parquet truth — the columnar sibling for ORC-standardized estates."""
    part = load_table(spark, "part", sf_dir)
    base = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_orc",
        os.path.basename(sf_dir.rstrip("/")) or "sf",
    )
    from airflow_etl_minio_to_postgres_spark.sources.files import read_file

    out = os.path.join(base, "part.orc")
    write_orc(part, out, mode="overwrite")
    return read_file(spark, out, schema=TESTDATA_SCHEMAS["part"])


@register(
    "jdbc_roundtrip_nation",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def jdbc_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 write + S9 partitioned read, LIVE: rows travel through an actual
    SQL database (embedded Apache Derby, which ships in Spark's own jars)
    and come back via a 4-range partitioned JDBC scan — the reference's
    push_to_postgres/read_postgres pair (dags/dag_etl_minio_to_postgres
    .py:125-148) with a real JDBC driver in the loop.

    Embedded Derby lives in the driver JVM, so this works in local mode
    only — it is the sandbox stand-in; on a cluster the same JdbcConfig
    swaps url+driver to a network database (Postgres) and nothing else
    changes.  The db path is keyed on applicationId: Derby holds an
    exclusive JVM lock per database directory."""
    from airflow_etl_minio_to_postgres_spark.sources.jdbc import (
        derby_config,
        read_table,
        write_table,
    )

    spark.sparkContext._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", os.path.join(tempfile.gettempdir(), "derby.log")
    )
    db = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_derby",
        spark.sparkContext.applicationId,
        os.path.basename(sf_dir.rstrip("/")) or "sf",
    )
    cfg = derby_config(db)
    nation = load_table(spark, "nation", sf_dir)
    write_table(
        nation,
        cfg,
        "nation_rt",
        mode="overwrite",
        max_connections=4,
        create_table_column_types="n_name VARCHAR(64)",
    )
    return read_table(
        spark,
        cfg,
        "nation_rt",
        partition_column="n_nationkey",
        lower_bound=0,
        upper_bound=25,
        num_partitions=4,
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators over documents/embeddings (brief mandate; not
# in the reference, whose scalar surface stops at lower/trim/concat/sha256 —
# dags/dag_etl_minio_to_postgres.py:60-212).
# ---------------------------------------------------------------------------

# Shared oracle fragments (DuckDB needs the 'g' flag where Spark's
# regexp_replace is global by default).
_WORDS = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_TOKENS = "regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')"


def _stop_ratio_sql(lang: str) -> str:
    from airflow_etl_minio_to_postgres_spark.functions.text import STOPWORDS

    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"len(list_filter({_WORDS}, w -> list_contains([{lst}], w)))::DOUBLE"
        f" / len({_WORDS})::DOUBLE"
    )


_PUNCT_SQL = (
    "(length(lower(text)) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE"
    " / length(lower(text))::DOUBLE"
)


@register(
    "docs_token_stats",
    f"""
    SELECT doc_id,
           len({_TOKENS})  AS token_count,
           len({_WORDS})   AS word_count,
           length(text)    AS char_count
    FROM documents
    """,
)
def docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count_expr(t).alias("token_count"),
        word_count_expr(t).alias("word_count"),
        F.length(t).alias("char_count"),
    )


@register(
    "docs_quality",
    f"""
    SELECT doc_id,
           {_PUNCT_SQL} AS punct_ratio,
           {_stop_ratio_sql('en')} AS stopword_ratio,
           least(1.0, greatest(0.0,
               0.5 * ({_stop_ratio_sql('en')})
             + 0.5 * least(1.0, len({_WORDS})::DOUBLE / 50.0)
             - 0.25 * ({_PUNCT_SQL}))) AS quality_score
    FROM documents
    """,
)
def docs_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        punct_ratio_expr(t).alias("punct_ratio"),
        stopword_ratio_expr(t).alias("stopword_ratio"),
        quality_score_expr(t).alias("quality_score"),
    )


@register(
    "docs_training_order",
    """
    SELECT doc_id,
           CAST(('0x' || substr(sha256('shard:' || CAST(doc_id AS VARCHAR)), 1, 13))
                AS BIGINT) % 4 AS shard,
           CAST(row_number() OVER (
               PARTITION BY CAST(('0x' || substr(sha256('shard:' || CAST(doc_id AS VARCHAR)), 1, 13))
                                 AS BIGINT) % 4
               ORDER BY substr(sha256('order:' || CAST(doc_id AS VARCHAR)), 1, 16),
                        doc_id) AS BIGINT) AS pos
    FROM documents
    """,
)
def docs_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training order: every document gets a shard (keyed
    sha hash mod n_shards — near-uniform, reproducible on any engine or
    cluster layout, no RNG state to checkpoint) and a position inside
    its shard (sha-of-id order, the seedless global shuffle) — the step
    that fixes a training run's data order so it can be resumed,
    audited, or exactly replayed.  Distinct hash domains ('shard:' vs
    'order:') keep shard choice and intra-shard order statistically
    independent.

    Scale shape: shard assignment is a narrow scan-stage expression;
    the intra-shard ordering is one window per shard partition — at
    production scale write partitioned-by-shard with
    ``write_sorted_parquet`` on the order key and the dataloader reads
    shards sequentially with zero further shuffling."""
    d = load_table(spark, "documents", sf_dir).select("doc_id")
    key = F.col("doc_id").cast("string")
    shard = (
        F.conv(
            F.substring(F.sha2(F.concat(F.lit("shard:"), key), 256), 1, 13),
            16,
            10,
        ).cast("long")
        % 4
    )
    order_key = F.substring(
        F.sha2(F.concat(F.lit("order:"), key), 256), 1, 16
    )
    w = Window.partitionBy(shard).orderBy(order_key, "doc_id")
    return d.select(
        "doc_id",
        shard.alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


@register(
    "docs_corpus_report",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len({_WORDS})) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(*) - count(DISTINCT substr(sha256(text), 1, 16))
                AS BIGINT) AS n_exact_dups,
           sum(least(1.0, greatest(0.0,
               0.5 * ({_stop_ratio_sql('en')})
             + 0.5 * least(1.0, len({_WORDS})::DOUBLE / 50.0)
             - 0.25 * ({_PUNCT_SQL})))) / count(*) AS mean_quality
    FROM documents
    """,
)
def docs_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card summary — the one-row corpus report a training run
    records next to its data snapshot: doc/token counts, language and
    source cardinalities, exact-dup count (via the same 16-byte content
    hash the dedup family keys on), mean quality.  ONE aggregate pass;
    the distinct counts ride Spark's Expand-based multi-distinct
    rewrite, still a single shuffle.  Mean quality is written as
    explicit sum/count on both engines; its magnitude (~0.5) keeps the
    double far inside hash precision."""
    d = load_table(spark, "documents", sf_dir)
    t = F.col("text")
    words = F.split(F.lower(F.trim(t)), "\\s+")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(words)).cast("long").alias("total_tokens"),
        F.count_distinct(F.col("lang")).alias("n_langs"),
        F.count_distinct(F.col("source")).alias("n_sources"),
        (
            F.count(F.lit(1))
            - F.count_distinct(F.substring(F.sha2(t, 256), 1, 16))
        ).alias("n_exact_dups"),
        (F.sum(quality_score_expr(t)) / F.count(F.lit(1))).alias(
            "mean_quality"
        ),
    )


@register(
    "docs_quality_deciles",
    f"""
    SELECT doc_id,
           CAST(ntile(10) OVER (
               ORDER BY least(1.0, greatest(0.0,
                   0.5 * ({_stop_ratio_sql('en')})
                 + 0.5 * least(1.0, len({_WORDS})::DOUBLE / 50.0)
                 - 0.25 * ({_PUNCT_SQL}))), doc_id
           ) AS BIGINT) AS decile
    FROM documents
    """,
)
def docs_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile bucketing via ntile — the curriculum/mixing
    primitive ("sample more from the top three deciles").  The score is
    the same pure expression both engines compute bit-identically
    (docs_quality passes exact), and doc_id breaks score ties, so
    bucket boundaries are deterministic.  Scale note: ntile is a GLOBAL
    ordering — one range-partitioned sort; for 100 TB the production
    form is approx_percentile cutpoints broadcast as a bucket lookup
    (same shape as docs_quality_threshold), trading exact decile
    boundaries for a shuffle-free scan."""
    d = load_table(spark, "documents", sf_dir)
    w = Window.orderBy(quality_score_expr(F.col("text")), F.col("doc_id"))
    return d.select(
        "doc_id", F.ntile(10).over(w).cast("long").alias("decile")
    )


# Decile probabilities generated ONCE and repr-embedded on both sides so
# each engine interpolates against bit-identical probability doubles.
_QBUCKET_PROBS = [i / 10 for i in range(1, 10)]


@register(
    "docs_quality_buckets_sampled",
    f"""
    WITH q AS (
        SELECT doc_id,
               least(1.0, greatest(0.0,
                   0.5 * ({_stop_ratio_sql('en')})
                 + 0.5 * least(1.0, len({_WORDS})::DOUBLE / 50.0)
                 - 0.25 * ({_PUNCT_SQL}))) AS score
        FROM documents
    ),
    samp AS (
        SELECT score FROM q
        WHERE CAST(('0x' || substr(sha256('qbuckets:' || CAST(doc_id AS VARCHAR)),
                                   1, 8)) AS BIGINT)::DOUBLE / 4294967296.0
              < 0.2
    ),
    cuts AS (
        SELECT quantile_cont(score,
                             [{', '.join(repr(p) for p in _QBUCKET_PROBS)}])
                   AS cs
        FROM samp
    )
    SELECT q.doc_id,
           CASE WHEN q.score IS NULL THEN NULL
                ELSE CAST(1 + len(list_filter(cuts.cs, c -> q.score >= c))
                          AS BIGINT)
           END AS bucket
    FROM q CROSS JOIN cuts
    """,
)
def docs_quality_buckets_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality bucketing WITHOUT the global sort (functions/text.py
    quantile_buckets_sampled) — the production form the
    docs_quality_deciles docstring prescribes for 100 TB: decile
    cutpoints estimated as exact percentiles of a deterministic
    sha-uniform 20% sample, broadcast back, every doc bucketed by a
    narrow scan-stage expression (1 + count of cutpoints <= score).
    ntile's plan is one range-partitioned GLOBAL sort of the corpus;
    this plan is one sample-sized aggregate + a broadcast — no corpus
    sort, no shuffle.  The oracle replays sample, interpolated
    cutpoints, and bucket assignment; agreement proves both engines
    interpolate the same sorted sample multiset bit-for-bit (the
    docs_quality_threshold precedent, nine cutpoints at once)."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return quantile_buckets_sampled(
        d,
        quality_score_expr(F.col("text")),
        n_buckets=10,
        sample_rate=0.2,
        salt="qbuckets",
    ).select("doc_id", "bucket")


@register(
    "docs_curriculum_order",
    f"""
    WITH q AS (
        SELECT doc_id,
               least(1.0, greatest(0.0,
                   0.5 * ({_stop_ratio_sql('en')})
                 + 0.5 * least(1.0, len({_WORDS})::DOUBLE / 50.0)
                 - 0.25 * ({_PUNCT_SQL}))) AS score
        FROM documents
    ),
    samp AS (
        SELECT score FROM q
        WHERE CAST(('0x' || substr(sha256('curriculum-cuts:'
                                          || CAST(doc_id AS VARCHAR)),
                                   1, 8)) AS BIGINT)::DOUBLE / 4294967296.0
              < 0.2
    ),
    cuts AS (
        SELECT quantile_cont(score,
                             [{', '.join(repr(p) for p in _QBUCKET_PROBS)}])
                   AS cs
        FROM samp
    ),
    b AS (
        SELECT q.doc_id,
               CASE WHEN q.score IS NULL THEN NULL
                    ELSE CAST(1 + len(list_filter(cuts.cs, c -> q.score >= c))
                              AS BIGINT)
               END AS bucket
        FROM q CROSS JOIN cuts
    )
    SELECT doc_id, bucket,
           CAST(row_number() OVER (
               PARTITION BY bucket
               ORDER BY substr(sha256('curriculum-order:'
                                      || CAST(doc_id AS VARCHAR)), 1, 16),
                        doc_id) AS BIGINT) AS pos
    FROM b
    """,
)
def docs_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum training order (functions/text.py
    curriculum_order): each doc gets a quality bucket from SAMPLED
    decile cutpoints (no global sort) and a deterministic sha-shuffled
    position within its bucket — (bucket, pos) is a resumable training
    coordinate exactly like docs_training_order's (shard, pos), but
    quality-majorized: the trainer reads buckets in order for a
    clean-first (or noisy-first) curriculum.  The only shuffle is one
    window per bucket partition; bucket assignment is a broadcast
    lookup in the scan stage."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return curriculum_order(
        d, quality_score_expr(F.col("text")), n_buckets=10, sample_rate=0.2
    ).select("doc_id", "bucket", "pos")


@register(
    "docs_chunk_text",
    f"""
    WITH d AS (
        SELECT doc_id, {_WORDS} AS w FROM documents
    ),
    d2 AS (SELECT * FROM d WHERE len(w) > 1 OR w[1] <> ''),
    s AS (
        SELECT doc_id, w, unnest(range(0, len(w), 6)) AS start FROM d2
    )
    SELECT doc_id,
           start // 6 AS chunk_id,
           array_to_string(list_slice(w, start + 1, start + 8), ' ')
               AS chunk_text,
           CAST(least(8, len(w) - start) AS BIGINT) AS n_chunk_tokens
    FROM s
    """,
)
def docs_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (functions/text.py chunk_text): 8-token
    chunks sliding by 6 (2-token overlap) — the context-window prep step
    between cleaning and tokenization.  Expression-only fan-out: split
    once, chunk starts from sequence(), each chunk a slice of the split
    array; no Python, no shuffle."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return chunk_text(d, chunk_tokens=8, overlap=2)


@register(
    "docs_chunk_text_udtf",
    _ORACLES["docs_chunk_text"],
)
def docs_chunk_text_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME chunking through a Spark 4 Python UDTF
    (functions/pandas_ops.py chunk_text_udtf) — the fifth Python
    crossing: a LATERAL table function whose generator fans each doc
    into a variable number of chunk rows, Arrow-batched
    (ArrowEvalPythonUDTF, plan-pinned — without useArrow it falls back
    to pickled row transfer).  Identical oracle as docs_chunk_text: two
    engine paths, one truth; the JVM expression form stays the
    production default, the UDTF is the template for fan-outs with no
    expression equivalent (real tokenizers, parsers)."""
    d = _spread(load_table(spark, "documents", sf_dir).select("doc_id", "text"))
    return chunk_text_udtf(d, chunk_tokens=8, overlap=2)


@register(
    "docs_quality_threshold",
    f"""
    WITH q AS (
        SELECT doc_id,
               least(1.0, greatest(0.0,
                   0.5 * ({_stop_ratio_sql('en')})
                 + 0.5 * least(1.0, len({_WORDS})::DOUBLE / 50.0)
                 - 0.25 * ({_PUNCT_SQL}))) AS quality_score
        FROM documents
    ),
    thr AS (SELECT quantile_cont(quality_score, 0.25) AS p25 FROM q)
    SELECT q.doc_id, q.quality_score
    FROM q CROSS JOIN thr
    WHERE q.quality_score >= thr.p25
    """,
)
def docs_quality_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level quantile filter: keep documents at or above the 25th
    percentile of the quality score.  The threshold is an exact
    interpolated percentile computed in the SAME lazy plan and attached
    via a broadcast 1-row cross-join — no driver collect, one job; the
    filter stage is a narrow comparison so at 100 TB the only cost beyond
    the scan is the percentile's single-pass aggregate."""
    d = load_table(spark, "documents", sf_dir)
    q = d.select(
        "doc_id", quality_score_expr(F.col("text")).alias("quality_score")
    )
    thr = F.broadcast(
        q.agg(F.expr("percentile(quality_score, 0.25)").alias("_p25"))
    )
    return (
        q.crossJoin(thr)
        .where(F.col("quality_score") >= F.col("_p25"))
        .select("doc_id", "quality_score")
    )


@register(
    "docs_tfidf_top_terms",
    f"""
    WITH w AS (
        SELECT doc_id, unnest({_WORDS}) AS word FROM documents
    ),
    w2 AS (SELECT doc_id, word FROM w WHERE word <> ''),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM w2 GROUP BY 1, 2),
    dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT t.doc_id, t.word,
               t.tf * ln((n.n_docs + 1.0) / (d.df + 1.0)) AS score
        FROM tf t JOIN dfreq d USING (word) CROSS JOIN n
    )
    SELECT doc_id, word, score FROM (
        SELECT doc_id, word, score,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, word) AS rn
        FROM scored
    ) r WHERE rn <= 3
    """,
)
def docs_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (functions/text.py
    tfidf_top_terms): tf groupBy -> df as a window over the aggregated
    (doc, word) rows (no join back to the corpus) -> broadcast N ->
    per-doc top-k window, ties broken on the word for determinism."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return tfidf_top_terms(d, k=3)


# BM25 constants computed ONCE in Python and repr-embedded on both
# sides, so engine (F.lit) and oracle (SQL literal) use bit-identical
# doubles — the _QBUCKET_PROBS / assign_splits precedent.
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ["join", "spark", "window"]


_BM25_SQL = f"""
    WITH d AS (SELECT doc_id, {_WORDS} AS w FROM documents),
    stats AS (
        SELECT count(*)::DOUBLE AS n_docs, avg(len(w))::DOUBLE AS avgdl
        FROM d
    ),
    tok AS (SELECT doc_id, unnest(w) AS term FROM d),
    tf AS (
        SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
        WHERE term IN ({', '.join(f"'{t}'" for t in sorted(_BM25_TERMS))})
        GROUP BY 1, 2
    ),
    wdf AS (
        SELECT *, count(*) OVER (PARTITION BY term)::DOUBLE AS df
        FROM tf
    ),
    lens AS (SELECT doc_id, len(w)::DOUBLE AS dl FROM d),
    s AS (
        SELECT wdf.doc_id,
               ln(1.0 + (stats.n_docs - df + 0.5) / (df + 0.5))
               * (tf * {_BM25_K1 + 1.0!r}
                  / (tf + {_BM25_K1!r}
                          * ({1.0 - _BM25_B!r}
                             + {_BM25_B!r} * dl / stats.avgdl))) AS part
        FROM wdf JOIN lens USING (doc_id) CROSS JOIN stats
    )
    SELECT doc_id, sum(part) AS score
    FROM s GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 10
    """


# One batch-built inverted index shared by the sparse serving entries
# (indexed / batched-hybrid) and one STREAMED build shared by the
# continuous entries (streamed / compacted) — the memoized-medallion
# pattern the dense family uses (_STREAM_IVF_MEMO): the build runs once
# per (process, sf_dir) and each entry times only its own serving/eval
# work.  Compaction mutates the shared streamed index IN PLACE, which is
# safe by its own contract (bit-equal serving before and after — exactly
# what the entries sharing it re-prove).
_INV_INDEX_MEMO: dict[str, str] = {}
_STREAM_INV_MEMO: dict[str, str] = {}


def _batch_inv_index(spark: SparkSession, sf_dir: str) -> str:
    got = _INV_INDEX_MEMO.get(sf_dir)
    if got is not None:
        return got
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="inv_index_")
    path = os.path.join(base, "index")
    write_inverted_index(d, path, n_buckets=64)
    _INV_INDEX_MEMO[sf_dir] = path
    return path


def _streamed_inv_index(spark: SparkSession, sf_dir: str) -> str:
    got = _STREAM_INV_MEMO.get(sf_dir)
    if got is not None:
        return got
    base = tempfile.mkdtemp(prefix="stream_inv_")
    index = os.path.join(base, "index")
    q = streaming_inverted_index_upsert(
        stream_documents(spark, sf_dir),
        index,
        os.path.join(base, "ckpt"),
        n_buckets=64,
    )
    q.awaitTermination()
    _STREAM_INV_MEMO[sf_dir] = index
    return index


@register("docs_bm25_indexed", _BM25_SQL)
def docs_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZED sparse serving path (functions/text.py
    write_inverted_index + bm25_topk_indexed) — the BM25 mirror of
    emb_ivf_topk_indexed: postings written partitioned by
    term-hash bucket with a self-describing ``_stats`` sidecar, the
    query's term buckets computed with the engine's own hash over a
    bounded terms-frame, and the scan pruned to exactly those bucket
    directories (PartitionFilters, pinned in tests).  Checked against
    the IDENTICAL oracle as the direct docs_bm25_topk — serving from
    the index is proven bit-equal to re-tokenizing the corpus."""
    path = _batch_inv_index(spark, sf_dir)
    return bm25_topk_indexed(
        spark, path, _BM25_TERMS, k=10, k1=_BM25_K1, b=_BM25_B
    )


@register("docs_bm25_streamed", _BM25_SQL)
def docs_bm25_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous BM25-index maintenance (streaming/pipeline.py
    streaming_inverted_index_upsert) — the sparse twin of
    emb_streaming_ivf_upsert, completing the symmetry for both
    retrieval paths: the documents table arrives as a STREAM, each
    micro-batch lands its postings in term-hash-bucket partitions
    (crash-replay-safe _commit_id overwrite) and merges EXACT integer
    stats partials under the rollup's atomic marker, and the SAME
    bm25_topk_indexed serving path reads the maintained index —
    checked against the IDENTICAL oracle as the direct and one-shot
    indexed entries, so streamed maintenance is proven
    serving-equivalent to a batch rebuild."""
    index = _streamed_inv_index(spark, sf_dir)
    return bm25_topk_indexed(
        spark, index, _BM25_TERMS, k=10, k1=_BM25_K1, b=_BM25_B
    )


@register("docs_bm25_compacted", _BM25_SQL)
def docs_bm25_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-index housekeeping (streaming/pipeline.py
    compact_inverted_index) registered end-to-end — the BM25 twin of
    emb_ivf_index_compacted, closing the sparse lifecycle: the
    STREAMED index's per-batch ``_commit_id`` posting fragments are
    folded into one compact commit per term bucket (preserving the
    ``term_bucket`` partition level the serving path prunes on — a
    flat compact would destroy the pruning), and the SAME
    bm25_topk_indexed serving path reads the compacted layout —
    checked against the IDENTICAL oracle as the direct / one-shot /
    streamed entries, so build → stream-maintain → compact → serve is
    proven value-equal across the whole chain.  The fragmentation
    drop itself is footer-measured in pytest."""
    index = _streamed_inv_index(spark, sf_dir)
    compact_inverted_index(spark, index, compact_seq=0)
    return bm25_topk_indexed(
        spark, index, _BM25_TERMS, k=10, k1=_BM25_K1, b=_BM25_B
    )


@register("docs_bm25_topk", _BM25_SQL)
def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for a 3-term query (functions/text.py
    bm25_topk) — the LEXICAL retrieval path, sparse complement of the
    embedding family's dense ANN serving: production retrieval runs
    both and fuses.  The inverted-index access pattern without
    materializing one — the token explode filters to the query's terms
    immediately (broadcast-vocabulary isin), df rides a window over the
    aggregated (doc, term) rows, N/avgdl are one broadcast scalar
    aggregate, and top-k is a TakeOrdered.  k1/b constants are
    repr-embedded on both sides so each engine folds bit-identical
    doubles."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return bm25_topk(d, _BM25_TERMS, k=10, k1=_BM25_K1, b=_BM25_B)


_FSCK_SQL = f"""
    WITH d AS (SELECT {_WORDS} AS w FROM documents)
    SELECT 'inverted' AS kind,
           2  AS manifest_seq,
           0  AS n_commits,
           64 AS n_buckets,
           0  AS n_issues,
           0  AS n_corrupt,
           0  AS gc_debt_grace,
           2  AS gc_debt_tight,
           count(*) AS n_docs,
           avg(len(w)) AS avgdl
    FROM d
    """

# own prepared index (not the shared BM25 memo): the fsck report's
# manifest_seq / gc-debt fields depend on HOW MANY commits ran, so the
# entry owns its maintenance history instead of inheriting whatever
# order the rotation ran the other index entries in
_FSCK_IDX_MEMO: dict[str, str] = {}


@register("docs_index_fsck", _FSCK_SQL)
def docs_index_fsck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scheduled-maintenance ops loop end-to-end
    (sources/manifest.py fsck_index): build a serving index over the
    corpus, run TWO manifest commits under a keep_last=2 grace window
    (each = new immutable generation -> atomic manifest publish ->
    retention-aware GC), then fsck the result — one row proving the
    index is WELL-FORMED after real maintenance history: manifest
    chain parseable and pointing at an existing generation (seq 2),
    zero integrity issues, zero crash residue, the grace-window
    retainee correctly NOT counted as GC debt (gc_debt_grace under the
    deployment's own keep_last=2) while a tighter keep_last=1 view
    owes exactly the retained generation + its manifest
    (gc_debt_tight=2 — the retention arithmetic, not a constant), and
    the sidecar stats the serving path depends on carried through both
    commits intact (n_docs / avgdl re-derived by the oracle from the
    corpus).  The bucket-hash consistency sample runs inside fsck —
    n_issues=0 certifies postings and sidecar agree on n_buckets.
    Complements the recall-style health evals: those ask "is the
    index still GOOD?", this asks "is it still SERVABLE, and is
    maintenance keeping up?"."""
    from airflow_etl_minio_to_postgres_spark.sources.manifest import (
        fsck_index,
        resolve_data_root,
    )

    path = _FSCK_IDX_MEMO.get(sf_dir)
    if path is None:
        d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
        base = tempfile.mkdtemp(prefix="fsck_idx_")
        path = os.path.join(base, "index")
        write_inverted_index(d, path, n_buckets=64)
        compact_inverted_index(spark, path, compact_seq=0, keep_last=2)
        compact_inverted_index(spark, path, compact_seq=1, keep_last=2)
        _FSCK_IDX_MEMO[sf_dir] = path
    rep = fsck_index(spark, path, keep_last=2)
    rep_tight = fsck_index(spark, path, keep_last=1)
    stats = spark.read.parquet(
        os.path.join(resolve_data_root(spark, path), "_stats")
    )
    report = spark.createDataFrame(
        [
            (
                rep["kind"],
                int(rep["manifest_seq"]),
                int(rep["n_commits"]),
                int(rep["n_buckets"]),
                len(rep["issues"]),
                len(rep["corrupt_manifests"]),
                len(rep["gc_debt"]),
                len(rep_tight["gc_debt"]),
            )
        ],
        "kind string, manifest_seq int, n_commits int, n_buckets int,"
        " n_issues int, n_corrupt int, gc_debt_grace int, gc_debt_tight int",
    )
    return report.crossJoin(
        stats.select(
            F.col("n_docs").cast("long").alias("n_docs"), F.col("avgdl")
        )
    )


_COS_SQL = (
    "list_sum(list_transform(range(0, len(embedding)), i ->"
    " embedding[i+1]::DOUBLE * qv[i+1]::DOUBLE))"
    " / (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))"
    " * sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE))))"
)


@register(
    "docs_hybrid_rrf_topk",
    f"""
    WITH bm AS (SELECT * FROM ({_BM25_SQL}) t),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    dn AS (
        SELECT vec_id AS doc_id, {_COS_SQL} AS cosine
        FROM embeddings, q
        WHERE vec_id != 0
        ORDER BY cosine DESC, vec_id
        LIMIT 10
    ),
    rb AS (SELECT doc_id,
                  row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
           FROM bm),
    rd AS (SELECT doc_id,
                  row_number() OVER (ORDER BY cosine DESC, doc_id) AS rnk
           FROM dn)
    SELECT coalesce(rb.doc_id, rd.doc_id) AS doc_id,
           coalesce(1.0 / (60 + rb.rnk), 0.0)
           + coalesce(1.0 / (60 + rd.rnk), 0.0) AS rrf
    FROM rb FULL OUTER JOIN rd ON rb.doc_id = rd.doc_id
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def docs_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (functions/similarity.py rrf_fuse): the BM25
    sparse list (3-term query over documents) and the dense cosine
    top-10 (embeddings, query vector 0 — embeddings.vec_id is the
    document id) fused by reciprocal-rank fusion at k_rrf=60 — the
    fusion step production retrieval runs over its two paths, robust
    to incomparable score scales because only ranks enter.  Both
    inputs are top-10 result tables, so the fusion touches ≤ 20 rows;
    the oracle replays both rankers and the rank-sum fold in the same
    list order."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    bm = bm25_topk(d, _BM25_TERMS, k=10, k1=_BM25_K1, b=_BM25_B)
    dn = topk_cosine(
        load_table(spark, "embeddings", sf_dir), query_id=0, k=10
    ).withColumnRenamed("vec_id", "doc_id")
    return rrf_fuse([(bm, "score"), (dn, "cosine")], k=10, k_rrf=60)


# The batched hybrid eval's query set: three queries, each with a sparse
# terms list (generated into BOTH engines' text) and a dense query
# vector (embeddings row of the same id — vec_id IS the document id).
_HYBRID_BATCH_TERMS = {
    0: ["spark", "join"],
    1: ["window", "filter"],
    2: ["merge", "agg"],
}

_HYBRID_QT_VALUES = ", ".join(
    f"({q}, '{t}')"
    for q, terms in sorted(_HYBRID_BATCH_TERMS.items())
    for t in terms
)
_HYBRID_ALL_TERMS = sorted(
    {t for terms in _HYBRID_BATCH_TERMS.values() for t in terms}
)

_HYBRID_HEALTH_SQL = f"""
    WITH d AS (SELECT doc_id, {_WORDS} AS w FROM documents),
    stats AS (
        SELECT count(*)::DOUBLE AS n_docs, avg(len(w))::DOUBLE AS avgdl
        FROM d
    ),
    qt AS (SELECT CAST(qid AS BIGINT) AS qid, term
           FROM (VALUES {_HYBRID_QT_VALUES}) AS t(qid, term)),
    tok AS (SELECT doc_id, unnest(w) AS term FROM d),
    tf AS (
        SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
        WHERE term IN ({', '.join(f"'{t}'" for t in _HYBRID_ALL_TERMS)})
        GROUP BY 1, 2
    ),
    wdf AS (
        SELECT *, count(*) OVER (PARTITION BY term)::DOUBLE AS df
        FROM tf
    ),
    lens AS (SELECT doc_id, len(w)::DOUBLE AS dl FROM d),
    parts AS (
        SELECT qt.qid, wdf.doc_id,
               ln(1.0 + (stats.n_docs - df + 0.5) / (df + 0.5))
               * (tf * {_BM25_K1 + 1.0!r}
                  / (tf + {_BM25_K1!r}
                          * ({1.0 - _BM25_B!r}
                             + {_BM25_B!r} * dl / stats.avgdl))) AS part
        FROM wdf JOIN lens USING (doc_id) CROSS JOIN stats
        JOIN qt USING (term)
    ),
    bm_s AS (SELECT qid, doc_id, sum(part) AS score
             FROM parts GROUP BY 1, 2),
    bm AS (SELECT qid, doc_id, rnk FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score DESC, doc_id) AS rnk
        FROM bm_s) t WHERE rnk <= 10),
    corp AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings
    ),
    cent AS (SELECT vec_id AS cid, v AS cvec FROM corp WHERE vec_id < 8),
    sims AS (
        SELECT corp.vec_id, cid, {{_COS_VC}} AS sim FROM corp, cent
    ),
    assigned AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, cid) AS rn
            FROM sims
        ) t WHERE rn = 1
    ),
    qs AS (SELECT vec_id AS qid, v AS qv FROM corp
           WHERE vec_id IN ({', '.join(str(q) for q in sorted(_HYBRID_BATCH_TERMS))})),
    qsims AS (
        SELECT qid, cid, {{_COS_QV_CVEC}} AS sim FROM qs, cent
    ),
    qassign AS (
        SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY sim DESC, cid) AS rn
            FROM qsims
        ) t WHERE rn = 1
    ),
    dna AS (SELECT qid, doc_id, rnk FROM (
        SELECT qassign.qid, corp.vec_id AS doc_id,
               row_number() OVER (PARTITION BY qassign.qid
                                  ORDER BY {{_COS_VQ}} DESC,
                                           corp.vec_id) AS rnk
        FROM corp
        JOIN assigned USING (vec_id)
        JOIN qassign ON assigned.cid = qassign.cid
        JOIN qs ON qs.qid = qassign.qid
    ) t WHERE rnk <= 10),
    dne AS (SELECT qid, doc_id, rnk FROM (
        SELECT qs.qid, corp.vec_id AS doc_id,
               row_number() OVER (PARTITION BY qs.qid
                                  ORDER BY {{_COS_VQ}} DESC,
                                           corp.vec_id) AS rnk
        FROM corp, qs
    ) t WHERE rnk <= 10),
    fa AS (
        SELECT coalesce(b.qid, d.qid) AS qid,
               coalesce(b.doc_id, d.doc_id) AS doc_id,
               coalesce(1.0 / (60 + b.rnk), 0.0)
               + coalesce(1.0 / (60 + d.rnk), 0.0) AS rrf
        FROM bm b FULL OUTER JOIN dna d
        ON b.qid = d.qid AND b.doc_id = d.doc_id
    ),
    fa10 AS (SELECT qid, doc_id FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY rrf DESC, doc_id) AS rn
        FROM fa) t WHERE rn <= 10),
    fe AS (
        SELECT coalesce(b.qid, d.qid) AS qid,
               coalesce(b.doc_id, d.doc_id) AS doc_id,
               coalesce(1.0 / (60 + b.rnk), 0.0)
               + coalesce(1.0 / (60 + d.rnk), 0.0) AS rrf
        FROM bm b FULL OUTER JOIN dne d
        ON b.qid = d.qid AND b.doc_id = d.doc_id
    ),
    fe10 AS (SELECT qid, doc_id FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY rrf DESC, doc_id) AS rn
        FROM fe) t WHERE rn <= 10)
    SELECT e.qid,
           count(a.doc_id)::DOUBLE / least(count(*), 10)::DOUBLE AS recall
    FROM fe10 e LEFT JOIN fa10 a
    ON e.qid = a.qid AND e.doc_id = a.doc_id
    GROUP BY e.qid
    """


@register(
    "docs_unigram_logprob",
    f"""
    WITH w AS (
        SELECT doc_id, unnest({_WORDS}) AS word FROM documents
    ),
    w2 AS (SELECT doc_id, word FROM w WHERE word <> ''),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM w2 GROUP BY 1, 2),
    cf AS (SELECT word, sum(tf) AS cf FROM tf GROUP BY 1),
    tot AS (SELECT sum(tf)::DOUBLE AS total FROM tf)
    SELECT t.doc_id,
           CAST(sum(t.tf) AS BIGINT) AS n_tokens,
           sum(t.tf * ln(c.cf / tot.total)) / sum(t.tf) AS avg_logprob
    FROM tf t JOIN cf c USING (word) CROSS JOIN tot
    GROUP BY 1
    """,
)
def docs_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram LM scoring (functions/text.py unigram_logprob): mean
    ln p(word) per document under the corpus's own unigram distribution —
    the KenLM-perplexity-filter proxy for pretraining quality screens.
    Three bounded shuffles: (doc, word) tf groupBy, corpus frequency as a
    window over the aggregated rows (no join back to the corpus), per-doc
    mean; the token total is a broadcast 1-row cross join."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return unigram_logprob(d)


@register(
    "docs_lang_id",
    f"""
    SELECT doc_id, lang,
           CASE WHEN ({_stop_ratio_sql('en')}) >= ({_stop_ratio_sql('de')})
                 AND ({_stop_ratio_sql('en')}) >= ({_stop_ratio_sql('fr')}) THEN 'en'
                WHEN ({_stop_ratio_sql('de')}) >= ({_stop_ratio_sql('fr')}) THEN 'de'
                ELSE 'fr' END AS lang_pred
    FROM documents
    """,
)
def docs_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return d.select("doc_id", "lang", lang_id_expr(F.col("text")).alias("lang_pred"))


@register(
    "docs_source_quality_gate",
    f"""
    WITH s AS (
        SELECT source,
               sum(CAST(round((least(1.0, greatest(0.0,
                       0.5 * ({_stop_ratio_sql('en')})
                     + 0.5 * least(1.0, len({_WORDS})::DOUBLE / 50.0)
                     - 0.25 * ({_PUNCT_SQL})))) * 1000000) AS BIGINT)) AS sq,
               count(*) AS n
        FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN s USING (source)
    WHERE s.sq >= 440000 * s.n
    """,
)
def docs_source_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level quality filtering (functions/text.py
    source_quality_gate, threshold 0.44): keep every document from a
    SOURCE whose mean quality clears the bar — the RefinedWeb/C4 "drop
    bad domains wholesale" stage, judging publishers where
    docs_quality_threshold judges pages.  The decision is
    integer-exact (micro-unit sums, ``sum >= threshold_micros * n``),
    so a borderline source can never flip between engines or partition
    layouts.  At 0.44 the gate genuinely gates on this corpus: 10-12 of
    the 20 sources pass depending on SF.  One aggregate to 20 rows, the
    passing set broadcast back as a LEFT SEMI join, the corpus never
    shuffles."""
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "text"
    )
    return source_quality_gate(d, threshold=0.44).select("doc_id", "source")


@register(
    "docs_fingerprint",
    """
    SELECT doc_id,
           substr(sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 16)
               AS fingerprint
    FROM documents
    """,
)
def docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return d.select("doc_id", fingerprint_expr(F.col("text")).alias("fingerprint"))


@register(
    "docs_repetition",
    f"""
    WITH w AS (
        SELECT doc_id, {_WORDS} AS w FROM documents
        WHERE len({_WORDS}) > 0
    ),
    tok AS (SELECT doc_id, unnest(w) AS tok FROM w),
    wc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
    top AS (
        SELECT doc_id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS n_words
        FROM wc GROUP BY doc_id
    ),
    g AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 2
                    THEN list_transform(range(0, len(w) - 1),
                                        i -> concat_ws(' ', w[i+1], w[i+2]))
                    ELSE [] END AS g2,
               CASE WHEN len(w) >= 3
                    THEN list_transform(range(0, len(w) - 2),
                                        i -> concat_ws(' ', w[i+1], w[i+2], w[i+3]))
                    ELSE [] END AS g3
        FROM w
    )
    SELECT top.doc_id, n_words,
           top_c::DOUBLE / n_words::DOUBLE AS top_word_frac,
           CASE WHEN len(g2) > 0
                THEN 1.0 - len(list_distinct(g2))::DOUBLE / len(g2)::DOUBLE
                ELSE 0.0 END AS dup_2gram_frac,
           CASE WHEN len(g3) > 0
                THEN 1.0 - len(list_distinct(g3))::DOUBLE / len(g3)::DOUBLE
                ELSE 0.0 END AS dup_3gram_frac
    FROM top JOIN g ON g.doc_id = top.doc_id
    """,
)
def docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition profile per document: most-frequent-word
    share + duplicate 2-/3-gram fractions — the signals that catch
    boilerplate and degenerate looping text before training."""
    return repetition_signals(load_table(spark, "documents", sf_dir))


@register(
    "docs_exact_dedup",
    """
    SELECT substr(sha256(text), 1, 16) AS text_hash,
           count(*)  AS n_docs,
           min(doc_id) AS keep_id
    FROM documents
    GROUP BY 1
    """,
)
def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(load_table(spark, "documents", sf_dir))


# Near-dup corpus: documents UNION a perturbed copy (last word dropped,
# doc_id + 1000000) so planted near-duplicate pairs exist by construction.
_NEAR_DUP_BASE_SQL = f"""
base AS (
    SELECT doc_id, lower(trim(text)) AS text FROM documents
    UNION ALL
    SELECT doc_id + 1000000,
           array_to_string(({_WORDS})[1:len({_WORDS}) - 1], ' ')
    FROM documents
    WHERE len({_WORDS}) >= 4
)
"""


def _near_dup_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    words = F.split(F.lower(F.trim(F.col("text"))), "\\s+")
    perturbed = (
        d.where(F.size(words) >= 4)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.array_join(F.slice(words, 1, F.size(words) - 1), " ").alias("text"),
        )
    )
    original = d.select("doc_id", F.lower(F.trim(F.col("text"))).alias("text"))
    return original.unionByName(perturbed)


# Batch-1 near-dup store state shared by the streaming entry and the
# batch-screen entry (the memoized-build pattern): both need the SAME
# expensive artifact — the signature store of first-batch survivors,
# built via one streaming lifecycle.  The streaming entry then ADVANCES
# the shared state (appends batch 2, continues the same checkpoint
# lineage) and flags it consumed; a consumed state forces the next
# caller to build fresh, so the read-only batch screen never sees a
# store polluted with batch-2 survivors.  The batch entry materializes
# its result (localCheckpoint) before returning, so later advancement
# cannot retroactively change it.
_NEARDUP_STATE: dict[str, dict] = {}


def _near_dup_batch1_state(spark: SparkSession, sf_dir: str) -> dict:
    st = _NEARDUP_STATE.get(sf_dir)
    if st is not None and not st["advanced"]:
        return st
    base = tempfile.mkdtemp(prefix="stream_neardup_")
    st = {
        "base": base,
        "landing": os.path.join(base, "landing"),
        "out": os.path.join(base, "out"),
        "store": os.path.join(base, "store"),
        "ckpt": os.path.join(base, "ckpt"),
        "advanced": False,
    }
    corpus = _near_dup_input(spark, sf_dir)
    corpus.where(F.col("doc_id") < 1000000).write.mode("append").parquet(
        st["landing"]
    )
    s = spark.readStream.schema("doc_id long, text string").parquet(
        st["landing"]
    )
    q = streaming_near_dup_dedup(s, st["out"], st["store"], st["ckpt"])
    q.awaitTermination()
    _NEARDUP_STATE[sf_dir] = st
    return st


_NEAR_DUP_CTES = (
    "WITH "
    + _NEAR_DUP_BASE_SQL
    + f""",
words AS (
    SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM base
),
sh AS (
    SELECT doc_id,
           CASE WHEN len(w) >= 3
                THEN list_transform(range(0, len(w) - 2),
                                    i -> array_to_string(w[i+1:i+3], ' '))
                ELSE [] END AS shingles
    FROM words
),
sig AS (
    SELECT doc_id, shingles,
           [{", ".join(f"list_min(list_transform(shingles, s -> substr(sha256('{seed}:' || s), 1, 16)))" for seed in range(8))}]
               AS minhash
    FROM sh
    WHERE len(shingles) > 0
),
banded AS (
    SELECT doc_id,
           unnest([{", ".join(f"concat_ws('|', '{b}', minhash[{2 * b + 1}], minhash[{2 * b + 2}])" for b in range(4))}])
               AS band_key
    FROM sig
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b USING (band_key)
    WHERE a.doc_id < b.doc_id
),
pairs AS (
    SELECT id_a, id_b,
           len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
               / len(list_distinct(sa.shingles || sb.shingles))::DOUBLE AS jaccard
    FROM cand
    JOIN sh sa ON sa.doc_id = cand.id_a
    JOIN sh sb ON sb.doc_id = cand.id_b
)
"""
)

_NEAR_DUP_SQL = (
    _NEAR_DUP_CTES + "SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5"
)


@register("docs_near_dup_pairs", _NEAR_DUP_SQL)
def docs_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return near_dup_pairs(_near_dup_input(spark, sf_dir))


@register(
    "docs_near_dup_dedup",
    _NEAR_DUP_CTES
    + """
    SELECT doc_id FROM base
    WHERE doc_id NOT IN (SELECT id_b FROM pairs WHERE jaccard >= 0.5)
    """,
)
def docs_near_dup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup: drop the higher-id member of every
    qualifying pair (greedy survivor policy) via anti-join on the LSH+
    Jaccard pair list."""
    corpus = _near_dup_input(spark, sf_dir)
    dups = near_dup_pairs(corpus).select(F.col("id_b").alias("doc_id"))
    return corpus.select("doc_id").join(dups, on="doc_id", how="left_anti")


@register(
    "docs_streaming_near_dup_dedup",
    _NEAR_DUP_CTES
    + """,
    surv1 AS (
        SELECT doc_id FROM base WHERE doc_id < 1000000
          AND doc_id NOT IN (SELECT id_b FROM pairs
                             WHERE jaccard >= 0.5 AND id_a < 1000000
                               AND id_b < 1000000)
    ),
    sym AS (
        SELECT id_a AS x, id_b AS y FROM pairs WHERE jaccard >= 0.5
        UNION ALL
        SELECT id_b AS x, id_a AS y FROM pairs WHERE jaccard >= 0.5
    ),
    drop2 AS (
        SELECT DISTINCT x AS doc_id FROM sym
        WHERE x >= 1000000 AND y IN (SELECT doc_id FROM surv1)
        UNION
        SELECT id_b FROM pairs
        WHERE jaccard >= 0.5 AND id_a >= 1000000 AND id_b >= 1000000
    )
    SELECT doc_id FROM surv1
    UNION ALL
    SELECT doc_id FROM base
    WHERE doc_id >= 1000000
      AND doc_id NOT IN (SELECT doc_id FROM drop2)
    """,
)
def docs_streaming_near_dup_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-batch streaming near-dup dedup (streaming/pipeline.py
    streaming_near_dup_dedup): the corpus arrives as TWO deterministic
    micro-batches — originals first, the perturbed near-dup copies
    second — so the second batch's drops are decided against the
    PERSISTED signature store of first-batch survivors, exercising the
    accept-on-first-sight contract end-to-end (intra-batch pairwise
    greedy + store-always-wins).  The oracle replays both policies in
    SQL over the same pair list: batch-1 survivors are the batch
    near-dup dedup of the originals; a batch-2 doc is dropped iff it
    pairs with a batch-1 SURVIVOR (either direction — the store wins
    regardless of id order) or with a smaller-id batch-2 doc."""
    st = _near_dup_batch1_state(spark, sf_dir)
    corpus = _near_dup_input(spark, sf_dir)
    corpus.where(F.col("doc_id") >= 1000000).write.mode("append").parquet(
        st["landing"]
    )
    s = spark.readStream.schema("doc_id long, text string").parquet(
        st["landing"]
    )
    q = streaming_near_dup_dedup(s, st["out"], st["store"], st["ckpt"])
    q.awaitTermination()
    st["advanced"] = True  # store now holds batch-2 survivors too
    return spark.read.parquet(st["out"]).select("doc_id")


@register(
    "docs_near_dup_vs_store",
    _ORACLES["docs_streaming_near_dup_dedup"],
)
def docs_near_dup_vs_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BATCH face of the cross-batch screen (streaming/pipeline.py
    near_dup_against_store): the store is built by streaming batch 1
    (the originals), then batch 2 (the perturbed copies) is screened by
    the READ-ONLY batch API — no streaming query, no store append; the
    backfill/ad-hoc "does this vendor drop add anything?" shape.
    IDENTICAL oracle as docs_streaming_near_dup_dedup: two engine paths
    (sink vs batch API, built on the SAME shared drop-set helpers), one
    truth — equality proves the batch face decides exactly what the
    sink would."""
    from airflow_etl_minio_to_postgres_spark.functions.dedup import (
        release_caches,
    )
    from airflow_etl_minio_to_postgres_spark.streaming.pipeline import (
        near_dup_against_store,
    )

    st = _near_dup_batch1_state(spark, sf_dir)
    corpus = _near_dup_input(spark, sf_dir)
    surv1 = spark.read.parquet(st["out"]).select("doc_id")
    surv2 = near_dup_against_store(
        corpus.where(F.col("doc_id") >= 1000000), st["store"]
    ).select("doc_id")
    result = surv1.unionByName(surv2).localCheckpoint()
    release_caches()
    return result


# Transitive-closure clustering oracle: the same MinHash-LSH pair CTEs,
# extended with a recursive reachability CTE — cluster id = min doc id
# reachable through the symmetric pair graph.  The engine runs iterative
# min-label propagation (functions/graph.py); equality against true
# transitive closure proves the propagation converged to the exact
# components, not an approximation.
_DUP_CLUSTER_CTES = (
    _NEAR_DUP_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + """,
edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs WHERE jaccard >= 0.5
    UNION
    SELECT id_b AS u, id_a AS v FROM pairs WHERE jaccard >= 0.5
),
reach(n, m) AS (
    SELECT u AS n, u AS m FROM (SELECT DISTINCT u FROM edges) t
    UNION
    SELECT r.n, e.v AS m FROM reach r JOIN edges e ON e.u = r.m
),
comp AS (SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n)
"""
)


@register(
    "docs_dup_clusters",
    _DUP_CLUSTER_CTES
    + """
    SELECT b.doc_id, coalesce(c.cluster_id, b.doc_id) AS cluster_id
    FROM base b LEFT JOIN comp c ON c.doc_id = b.doc_id
    """,
)
def docs_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    MinHash-LSH near-dup pair graph; every doc labeled with the min id of
    its component (itself when it has no near-duplicate)."""
    corpus = _near_dup_input(spark, sf_dir)
    return assign_clusters(corpus, near_dup_pairs(corpus))


# Power-iteration CTEs shared by the pagerank oracle and the canonical-
# per-cluster composition: 3 unrolled iterations over the symmetric
# near-dup pair graph (mirrors functions/graph.py pagerank exactly).
_PAGERANK_CTES = """
    e2 AS (
        SELECT id_a AS src, id_b AS dst FROM pairs WHERE jaccard >= 0.5
        UNION ALL
        SELECT id_b, id_a FROM pairs WHERE jaccard >= 0.5
    ),
    deg AS (SELECT src, count(*) AS deg FROM e2 GROUP BY 1),
    nn AS (SELECT count(*)::DOUBLE AS n FROM base),
    r0 AS (SELECT b.doc_id AS node, 1.0 / nn.n AS pr FROM base b CROSS JOIN nn),
    c1 AS (SELECT e.dst, sum(r.pr / d.deg) AS c FROM e2 e
           JOIN r0 r ON r.node = e.src JOIN deg d ON d.src = e.src GROUP BY 1),
    r1 AS (SELECT b.doc_id AS node,
                  0.15 / nn.n + 0.85 * coalesce(c1.c, 0.0) AS pr
           FROM base b CROSS JOIN nn LEFT JOIN c1 ON c1.dst = b.doc_id),
    c2 AS (SELECT e.dst, sum(r.pr / d.deg) AS c FROM e2 e
           JOIN r1 r ON r.node = e.src JOIN deg d ON d.src = e.src GROUP BY 1),
    r2 AS (SELECT b.doc_id AS node,
                  0.15 / nn.n + 0.85 * coalesce(c2.c, 0.0) AS pr
           FROM base b CROSS JOIN nn LEFT JOIN c2 ON c2.dst = b.doc_id),
    c3 AS (SELECT e.dst, sum(r.pr / d.deg) AS c FROM e2 e
           JOIN r2 r ON r.node = e.src JOIN deg d ON d.src = e.src GROUP BY 1),
    r3 AS (SELECT b.doc_id AS node,
                  0.15 / nn.n + 0.85 * coalesce(c3.c, 0.0) AS pr
           FROM base b CROSS JOIN nn LEFT JOIN c3 ON c3.dst = b.doc_id)
"""


@register(
    "docs_pagerank",
    _NEAR_DUP_CTES + "," + _PAGERANK_CTES + "SELECT node, pr AS pagerank FROM r3",
)
def docs_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 3-iteration power PageRank over the MinHash-LSH near-dup
    pair graph (functions/graph.py pagerank): centrality scoring for
    canonical-document selection inside duplicate clusters.  One edge
    shuffle per iteration, checkpointed lineage; the oracle unrolls the
    identical three iterations as chained CTEs."""
    corpus = _near_dup_input(spark, sf_dir)
    # Checkpoint BEFORE the symmetrizing union: otherwise the LSH
    # candidate pipeline executes once per union branch when pagerank
    # materializes the edge list.
    pairs = near_dup_pairs(corpus).localCheckpoint(eager=True)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    return pagerank(corpus.select("doc_id"), edges, iterations=3)


@register(
    "docs_pagerank_dangling",
    """
    WITH nodes AS (SELECT doc_id AS node FROM documents),
    e2 AS (
        SELECT doc_id AS src, doc_id // 2 AS dst FROM documents
        WHERE doc_id % 2 = 0 AND doc_id > 0
    ),
    deg AS (SELECT src, count(*) AS deg FROM e2 GROUP BY 1),
    nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
    d1 AS (SELECT coalesce(sum(r.pr), 0.0) AS dm FROM r0 r
           LEFT JOIN deg d ON d.src = r.node WHERE d.src IS NULL),
    c1 AS (SELECT e.dst, sum(r.pr / d.deg) AS c FROM e2 e
           JOIN r0 r ON r.node = e.src JOIN deg d ON d.src = e.src GROUP BY 1),
    r1 AS (SELECT n0.node,
                  0.15 / nn.n + 0.85 * (coalesce(c1.c, 0.0) + d1.dm / nn.n) AS pr
           FROM nodes n0 CROSS JOIN nn CROSS JOIN d1
           LEFT JOIN c1 ON c1.dst = n0.node),
    d2 AS (SELECT coalesce(sum(r.pr), 0.0) AS dm FROM r1 r
           LEFT JOIN deg d ON d.src = r.node WHERE d.src IS NULL),
    c2 AS (SELECT e.dst, sum(r.pr / d.deg) AS c FROM e2 e
           JOIN r1 r ON r.node = e.src JOIN deg d ON d.src = e.src GROUP BY 1),
    r2 AS (SELECT n0.node,
                  0.15 / nn.n + 0.85 * (coalesce(c2.c, 0.0) + d2.dm / nn.n) AS pr
           FROM nodes n0 CROSS JOIN nn CROSS JOIN d2
           LEFT JOIN c2 ON c2.dst = n0.node),
    d3 AS (SELECT coalesce(sum(r.pr), 0.0) AS dm FROM r2 r
           LEFT JOIN deg d ON d.src = r.node WHERE d.src IS NULL),
    c3 AS (SELECT e.dst, sum(r.pr / d.deg) AS c FROM e2 e
           JOIN r2 r ON r.node = e.src JOIN deg d ON d.src = e.src GROUP BY 1),
    r3 AS (SELECT n0.node,
                  0.15 / nn.n + 0.85 * (coalesce(c3.c, 0.0) + d3.dm / nn.n) AS pr
           FROM nodes n0 CROSS JOIN nn CROSS JOIN d3
           LEFT JOIN c3 ON c3.dst = n0.node)
    SELECT node, pr AS pagerank FROM r3
    """,
)
def docs_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with dangling-mass redistribution over a DIRECTED graph
    with true sink nodes: each even doc_id links to doc_id/2 (a
    deterministic citation-tree shape), so every odd doc_id and doc 0
    are dangling.  Exercises the ``redistribute_dangling=True`` path of
    functions/graph.py pagerank — sink-node mass is summed (one 1-row
    aggregate per iteration, broadcast back via cross join, no driver
    collect) and re-spread uniformly, conserving total mass at 1.0; the
    oracle unrolls the same three iterations with d1/d2/d3 dangling-mass
    CTEs."""
    docs = load_table(spark, "documents", sf_dir)
    nodes = docs.select("doc_id")
    edges = docs.where(
        (F.col("doc_id") % 2 == 0) & (F.col("doc_id") > 0)
    ).select(
        F.col("doc_id").alias("src"),
        (F.col("doc_id") / 2).cast("long").alias("dst"),
    )
    return pagerank(nodes, edges, iterations=3, redistribute_dangling=True)


@register(
    "docs_canonical_per_cluster",
    _DUP_CLUSTER_CTES
    + ","
    + _PAGERANK_CTES
    + """,
    clustered AS (
        SELECT b.doc_id, coalesce(c.cluster_id, b.doc_id) AS cluster_id
        FROM base b LEFT JOIN comp c ON c.doc_id = b.doc_id
    ),
    ranked AS (
        SELECT cl.cluster_id, cl.doc_id, round(r3.pr, 9) AS pr,
               row_number() OVER (
                   PARTITION BY cl.cluster_id
                   ORDER BY round(r3.pr, 9) DESC, cl.doc_id) AS rn
        FROM clustered cl JOIN r3 ON r3.node = cl.doc_id
    )
    SELECT cluster_id, doc_id AS canonical_doc_id, pr AS pagerank
    FROM ranked WHERE rn = 1
    """,
)
def docs_canonical_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composition the two graph operators exist for: connected
    components label duplicate clusters, PageRank scores centrality, and
    each cluster keeps its HIGHEST-centrality member as the canonical
    document (the one to train on; ties broken by lowest id).  Ranks are
    rounded to 9 decimals BEFORE ordering on both engine and oracle —
    symmetric cluster members have mathematically equal ranks, and the
    float summation-order noise (~1e-16) must not decide the canonical
    pick differently across engines."""
    corpus = _near_dup_input(spark, sf_dir)
    # Checkpoint the LSH candidate pipeline ONCE: both consumers below
    # (cluster assignment and the PageRank edge list) read the
    # materialized pairs instead of re-deriving shingles + signatures +
    # the banded self-join — previously re-executed ~4x in one job.
    pairs = near_dup_pairs(corpus).localCheckpoint(eager=True)
    clusters = assign_clusters(corpus, pairs)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    ranks = pagerank(corpus.select("doc_id"), edges, iterations=3)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("pr").desc(), F.col("doc_id")
    )
    return (
        clusters.join(ranks, clusters["doc_id"] == ranks["node"])
        .select("cluster_id", "doc_id", F.round("pagerank", 9).alias("pr"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("canonical_doc_id"),
            F.col("pr").alias("pagerank"),
        )
    )


@register(
    "docs_dedup_transitive",
    _DUP_CLUSTER_CTES
    + """
    SELECT b.doc_id
    FROM base b LEFT JOIN comp c ON c.doc_id = b.doc_id
    WHERE coalesce(c.cluster_id, b.doc_id) = b.doc_id
    """,
)
def docs_dedup_transitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure dedup: one survivor (min id) per duplicate
    CLUSTER.  Differs from docs_near_dup_dedup's pairwise policy exactly
    on chained duplicates — A~B, B~C, no A~C edge keeps {A} here but
    {A} ∪ nothing-else-from-the-chain there; see functions/graph.py."""
    corpus = _near_dup_input(spark, sf_dir)
    return transitive_dedup(corpus, near_dup_pairs(corpus))


@register(
    "docs_ngram_jaccard_pairs",
    """
    WITH d AS (
        SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS w
        FROM documents
    ),
    pos AS (
        SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
        FROM d WHERE len(w) >= 3
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               concat_ws(' ', w[i+1], w[i+2], w[i+3]) AS gram
        FROM pos
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        FROM grams a JOIN grams b USING (gram)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           c::DOUBLE / (sa.sz + sb.sz - c)::DOUBLE AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE c::DOUBLE / (sa.sz + sb.sz - c)::DOUBLE >= 0.6
    """,
)
def docs_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT word-3-gram Jaccard similarity join.  The engine runs the
    prefix-filtered set-similarity join (candidates only from each doc's
    rarest grams); the oracle deliberately generates candidates from ANY
    shared gram — matching results prove the prefix filter exact, not
    just fast.  Complements docs_near_dup_pairs: same gram space, exact
    join instead of MinHash-LSH approximation."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return ngram_jaccard_pairs(docs, n=3, threshold=0.6, unit="word")


@register(
    "docs_containment_pairs",
    "WITH "
    + _NEAR_DUP_BASE_SQL
    + """,
    d AS (
        SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM base
    ),
    pos AS (
        SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
        FROM d WHERE len(w) >= 3
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               concat_ws(' ', w[i+1], w[i+2], w[i+3]) AS gram
        FROM pos
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        FROM grams a JOIN grams b USING (gram)
        WHERE a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, c::DOUBLE / sa.sz::DOUBLE AS containment
    FROM inter JOIN sizes sa ON sa.doc_id = id_a
    WHERE c::DOUBLE / sa.sz::DOUBLE >= 0.95
    """,
)
def docs_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT directed n-gram CONTAINMENT join (functions/dedup.py
    ngram_containment_pairs): pairs where >= 95% of doc A's 3-grams
    appear in doc B — the near-superset screen (truncated crawls, quoted
    articles) that symmetric Jaccard misses when the container is much
    larger.  Runs over the perturbed near-dup corpus, where every
    truncated twin is 100% contained in its original by construction.
    Engine prefix-filters ONLY the contained side (the container may be
    arbitrarily large); the oracle generates candidates from ANY shared
    gram — equality proves the asymmetric prefix filter drops no
    qualifying directed pair."""
    corpus = _near_dup_input(spark, sf_dir)
    return ngram_containment_pairs(corpus, n=3, threshold=0.95, unit="word")


@register(
    "docs_simhash",
    """
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
        FROM documents
    ),
    th AS (
        SELECT doc_id,
               CAST('0x' || substr(sha256(tok), 1, 15) AS BIGINT) AS tok_hash
        FROM tok
    ),
    votes AS (
        SELECT doc_id, bit,
               CAST(sum(CASE WHEN (tok_hash >> bit) & 1 = 1 THEN 1 ELSE -1 END)
                    AS BIGINT) AS s
        FROM th, (SELECT unnest(range(0, 60)) AS bit) bits
        GROUP BY doc_id, bit
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(load_table(spark, "documents", sf_dir))


@register(
    "docs_simhash_pairs",
    "WITH "
    + _NEAR_DUP_BASE_SQL
    + f""",
    tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok
        FROM base
    ),
    th AS (
        SELECT doc_id,
               CAST('0x' || substr(sha256(tok), 1, 15) AS BIGINT) AS tok_hash
        FROM tok
    ),
    votes AS (
        SELECT doc_id, bit,
               CAST(sum(CASE WHEN (tok_hash >> bit) & 1 = 1 THEN 1 ELSE -1 END)
                    AS BIGINT) AS s
        FROM th, (SELECT unnest(range(0, 60)) AS bit) bits
        GROUP BY doc_id, bit
    ),
    sig AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, simhash,
               unnest([{", ".join(f"concat_ws('|', '{b}', CAST((simhash >> {b * 15}) & 32767 AS VARCHAR))" for b in range(4))}])
                   AS band_key
        FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                        a.simhash AS sig_a, b.simhash AS sig_b
        FROM banded a JOIN banded b USING (band_key)
        WHERE a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, bit_count(xor(sig_a, sig_b)) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= 3
    """,
)
def docs_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over the planted corpus: banded 15-bit-chunk
    candidates + exact Hamming verification."""
    return simhash_near_dup_pairs(_near_dup_input(spark, sf_dir))


# ---------------------------------------------------------------------------
# Similarity search over embeddings.
# ---------------------------------------------------------------------------

# (moved above docs_hybrid_rrf_topk, which embeds it)


@register(
    "emb_cosine_topk",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, {_COS_SQL} AS cosine
    FROM embeddings, q
    WHERE vec_id != 0
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
)
def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topk_cosine(load_table(spark, "embeddings", sf_dir), query_id=0, k=10)


@register(
    "emb_cosine_topk_pandas_udf",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, {_COS_SQL} AS cosine
    FROM embeddings, q
    WHERE vec_id != 0
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
)
def emb_cosine_topk_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME top-k cosine search as emb_cosine_topk, computed through
    the SCALAR ``@pandas_udf`` Arrow crossing (functions/pandas_ops.py
    cosine_scores_pandas_udf: one numpy matrix-vector product per Arrow
    batch) instead of the JVM expression — identical oracle, two
    independent implementations, same policy as the as-of pair.  The
    query vector is closure-captured (in production it arrives from the
    application; here a 1-row metadata-sized lookup fetches it)."""
    emb = load_table(spark, "embeddings", sf_dir)
    qv = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    scored = cosine_scores_pandas_udf(
        emb.where(F.col("vec_id") != 0), [float(x) for x in qv]
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(10)


_BUCKET_SQL = "concat(" + ", ".join(
    f"CASE WHEN embedding[{i + 1}] >= 0 THEN '1' ELSE '0' END" for i in range(8)
) + ")"


@register(
    "emb_ann_sign_lsh",
    f"""
    WITH b AS (
        SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings
    ),
    q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = 0)
    SELECT vec_id, {_COS_SQL} AS cosine
    FROM b, q
    WHERE b.bucket = q.qb AND vec_id != 0
    ORDER BY cosine DESC, vec_id
    LIMIT 5
    """,
)
def emb_ann_sign_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_topk_sign_lsh(
        load_table(spark, "embeddings", sf_dir), query_id=0, k=5, n_bits=8
    )


_COS_VQ_SQL = (
    "list_sum(list_transform(range(0, len(v)), i -> v[i+1] * qv[i+1]))"
    " / (sqrt(list_sum(list_transform(v, x -> x * x)))"
    " * sqrt(list_sum(list_transform(qv, x -> x * x))))"
)

_COS_VC_SQL = (
    "list_sum(list_transform(range(0, len(v)), i -> v[i+1] * cvec[i+1]))"
    " / (sqrt(list_sum(list_transform(v, x -> x * x)))"
    " * sqrt(list_sum(list_transform(cvec, x -> x * x))))"
)


_IVF_TOPK_STUB_SQL = f"""
    WITH corp AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings
    ),
    cent AS (SELECT vec_id AS cid, v AS cvec FROM corp WHERE vec_id < 8),
    sims AS (
        SELECT corp.vec_id, cid, {_COS_VC_SQL} AS sim FROM corp, cent
    ),
    assigned AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, cid) AS rn
            FROM sims
        ) t WHERE rn = 1
    ),
    qc AS (
        SELECT a.cid AS qcid, c.v AS qv
        FROM assigned a JOIN corp c USING (vec_id)
        WHERE a.vec_id = 0
    )
    SELECT corp.vec_id, {_COS_VQ_SQL} AS cosine
    FROM corp JOIN assigned USING (vec_id), qc
    WHERE assigned.cid = qc.qcid AND corp.vec_id != 0
    ORDER BY cosine DESC, vec_id
    LIMIT 5
    """


@register("emb_ivf_topk", _IVF_TOPK_STUB_SQL)
def emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_topk(
        load_table(spark, "embeddings", sf_dir), query_id=0, k=5, n_cells=8
    )


@register("emb_ivf_topk_indexed", _IVF_TOPK_STUB_SQL)
def emb_ivf_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZED IVF serving path (functions/similarity.py
    write_ivf_index + ivf_topk_indexed): the corpus is written
    partitioned by cell, the query's probe cells are chosen driver-side
    against the metadata-sized centroid table, and the scan carries
    ``cid IN (probes)`` so Spark prunes to the probed partition
    directories — the layout every ivf docstring prescribes for 100 TB,
    now driver-checked against the IDENTICAL oracle as the unindexed
    emb_ivf_topk (bit-equal results prove index build + pruned serve
    lose nothing)."""
    e = load_table(spark, "embeddings", sf_dir)
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    base = tempfile.mkdtemp(prefix="ivf_index_")
    path = os.path.join(base, "index")
    write_ivf_index(e, cents, path)
    qv = [
        float(x)
        for x in e.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return ivf_topk_indexed(
        spark, path, cents, qv, k=5, nprobe=1, exclude_id=0
    )


_COS_QV_CVEC_SQL = (
    "list_sum(list_transform(range(0, len(qv)), i -> qv[i+1] * cvec[i+1]))"
    " / (sqrt(list_sum(list_transform(qv, x -> x * x)))"
    " * sqrt(list_sum(list_transform(cvec, x -> x * x))))"
)

# The hybrid-health oracle is authored next to the other hybrid entries
# but needs the cosine fragments defined here — resolved once, at module
# load (the only braces left in the template are these placeholders).
_HYBRID_HEALTH_SQL = _HYBRID_HEALTH_SQL.format(
    _COS_VC=_COS_VC_SQL,
    _COS_QV_CVEC=_COS_QV_CVEC_SQL,
    _COS_VQ=_COS_VQ_SQL,
)


@register("docs_hybrid_batch_health", _HYBRID_HEALTH_SQL)
def docs_hybrid_batch_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batched hybrid-retrieval health eval — the one entry that
    composes the whole production serving stack: BM25 served for a
    query TABLE from the materialized inverted index
    (functions/text.py bm25_topk_batch — one PartitionFilters-pruned
    postings scan shared by all queries, df computed before the query
    join), dense cosine served from the stream-maintained IVF index at
    the serving nprobe (ivf_topk_batch), the two lists fused per query
    by reciprocal-rank fusion (rrf_fuse_grouped — rank windows
    partitioned on qid, result-sized inputs), and the fused SERVED
    lists scored against fused BRUTE-FORCE truth (sparse scoring is
    exact, so truth differs only in the dense leg: ivf_knn_join at
    nprobe = n_cells) through ann_recall_at_k.  The number a retrieval
    team watches: "how much recall does my hybrid stack lose to ANN
    approximation?"  Everything after the two pruned scans is
    result-sized (≤ 20 rows per query into the fusion)."""
    e = load_table(spark, "embeddings", sf_dir)
    inv = _batch_inv_index(spark, sf_dir)
    qterms = spark.createDataFrame(
        [(q, terms) for q, terms in sorted(_HYBRID_BATCH_TERMS.items())],
        "qid long, terms array<string>",
    )
    sparse = bm25_topk_batch(
        spark, inv, qterms, k=10, k1=_BM25_K1, b=_BM25_B
    )
    index, cents = _streamed_ivf_index(spark, sf_dir)
    qs = e.where(
        F.col("vec_id").isin(sorted(_HYBRID_BATCH_TERMS))
    ).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    dna = ivf_topk_batch(
        spark, index, cents, qs, k=10, nprobe=1
    ).withColumnRenamed("vec_id", "doc_id")
    dne = ivf_knn_join(qs, e, cents, k=10, nprobe=8).withColumnRenamed(
        "vec_id", "doc_id"
    )
    fused_served = rrf_fuse_grouped([(sparse, "score"), (dna, "cosine")], k=10)
    fused_truth = rrf_fuse_grouped([(sparse, "score"), (dne, "cosine")], k=10)
    return ann_recall_at_k(fused_served, fused_truth, k=10, id_col="doc_id")


_BM25_KNN_JOIN_SQL = f"""
    WITH d AS (SELECT doc_id, {_WORDS} AS w FROM documents),
    stats AS (
        SELECT count(*)::DOUBLE AS n_docs, avg(len(w))::DOUBLE AS avgdl
        FROM d
    ),
    qt AS (SELECT CAST(qid AS BIGINT) AS qid, term
           FROM (VALUES {{qt_values}}) AS t(qid, term)),
    tok AS (SELECT doc_id, unnest(w) AS term FROM d),
    tf AS (
        SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
        WHERE term IN (SELECT term FROM qt)
        GROUP BY 1, 2
    ),
    wdf AS (
        SELECT *, count(*) OVER (PARTITION BY term)::DOUBLE AS df
        FROM tf
    ),
    lens AS (SELECT doc_id, len(w)::DOUBLE AS dl FROM d),
    s AS (
        SELECT qt.qid, wdf.doc_id,
               ln(1.0 + (stats.n_docs - df + 0.5) / (df + 0.5))
               * (tf * {_BM25_K1 + 1.0!r}
                  / (tf + {_BM25_K1!r}
                          * ({1.0 - _BM25_B!r}
                             + {_BM25_B!r} * dl / stats.avgdl))) AS part
        FROM wdf
        JOIN lens USING (doc_id)
        JOIN qt USING (term)
        CROSS JOIN stats
    ),
    scored AS (
        SELECT qid, doc_id, sum(part) AS score FROM s GROUP BY 1, 2
    )
    SELECT qid, doc_id, score FROM (
        SELECT qid, doc_id, score,
               row_number() OVER (
                   PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
        FROM scored
    ) t WHERE rn <= 10
    """.format(qt_values=_HYBRID_QT_VALUES)


@register("docs_bm25_knn_join", _BM25_KNN_JOIN_SQL)
def docs_bm25_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-SCALE batched BM25 (functions/text.py bm25_knn_join) —
    the sparse twin of emb_ivf_knn_join, closing the last
    documented-but-unbuilt scale shape in the retrieval family: where
    bm25_topk_batch collects the query vocabulary driver-side and
    broadcasts the (qid, term) pairs (right for eval-sized query
    tables), this form computes probe buckets with the engine's own
    hash as an EXPRESSION, prunes the postings scan with a semi-join
    keyed on the partition column (dynamic partition pruning when the
    probe side is small; graceful full scan when the query vocabulary
    is corpus-wide), rides df on a window keyed to reuse that
    exchange, and meets the query pairs in a SHUFFLE equi-join — no
    driver collect, no data-side broadcast, so two corpora can meet
    (query logs x documents, eval-suite x training-corpus).  Checked
    against a from-scratch multi-query BM25 oracle — and pinned in
    pytest bit-equal to bm25_topk_batch, so the broadcast and shuffle
    forms are proven interchangeable at the hand-off."""
    inv = _batch_inv_index(spark, sf_dir)
    qterms = spark.createDataFrame(
        [(q, terms) for q, terms in sorted(_HYBRID_BATCH_TERMS.items())],
        "qid long, terms array<string>",
    )
    return bm25_knn_join(spark, inv, qterms, k=10, k1=_BM25_K1, b=_BM25_B)


_HYBRID_KNN_JOIN_SQL = f"""
    WITH d AS (SELECT doc_id, {_WORDS} AS w FROM documents),
    stats AS (
        SELECT count(*)::DOUBLE AS n_docs, avg(len(w))::DOUBLE AS avgdl
        FROM d
    ),
    qt AS (SELECT CAST(qid AS BIGINT) AS qid, term
           FROM (VALUES {_HYBRID_QT_VALUES}) AS t2(qid, term)),
    tok AS (SELECT doc_id, unnest(w) AS term FROM d),
    tf AS (
        SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
        WHERE term IN ({', '.join(f"'{t}'" for t in _HYBRID_ALL_TERMS)})
        GROUP BY 1, 2
    ),
    wdf AS (
        SELECT *, count(*) OVER (PARTITION BY term)::DOUBLE AS df
        FROM tf
    ),
    lens AS (SELECT doc_id, len(w)::DOUBLE AS dl FROM d),
    parts AS (
        SELECT qt.qid, wdf.doc_id,
               ln(1.0 + (stats.n_docs - df + 0.5) / (df + 0.5))
               * (tf * {_BM25_K1 + 1.0!r}
                  / (tf + {_BM25_K1!r}
                          * ({1.0 - _BM25_B!r}
                             + {_BM25_B!r} * dl / stats.avgdl))) AS part
        FROM wdf JOIN lens USING (doc_id) CROSS JOIN stats
        JOIN qt USING (term)
    ),
    bm_s AS (SELECT qid, doc_id, sum(part) AS score
             FROM parts GROUP BY 1, 2),
    bm AS (SELECT qid, doc_id, rnk FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score DESC, doc_id) AS rnk
        FROM bm_s) t WHERE rnk <= 10),
    corp AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings
    ),
    qs AS (SELECT vec_id AS qid, v AS qv FROM corp
           WHERE vec_id IN ({', '.join(str(q) for q in sorted(_HYBRID_BATCH_TERMS))})),
    dne AS (SELECT qid, doc_id, rnk FROM (
        SELECT qs.qid, corp.vec_id AS doc_id,
               row_number() OVER (PARTITION BY qs.qid
                                  ORDER BY {_COS_VQ_SQL} DESC,
                                           corp.vec_id) AS rnk
        FROM corp, qs
    ) t WHERE rnk <= 10),
    f AS (
        SELECT coalesce(b.qid, e.qid) AS qid,
               coalesce(b.doc_id, e.doc_id) AS doc_id,
               coalesce(1.0 / (60 + b.rnk), 0.0)
               + coalesce(1.0 / (60 + e.rnk), 0.0) AS rrf
        FROM bm b FULL OUTER JOIN dne e
        ON b.qid = e.qid AND b.doc_id = e.doc_id
    )
    SELECT qid, doc_id, rrf FROM (
        SELECT qid, doc_id, rrf,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY rrf DESC, doc_id) AS rn
        FROM f) t WHERE rn <= 10
    """


@register("docs_hybrid_knn_join", _HYBRID_KNN_JOIN_SQL)
def docs_hybrid_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CORPUS-SCALE hybrid retrieval stack composed end-to-end —
    the zero-broadcast counterpart of docs_hybrid_batch_health's
    serving side: the sparse leg is bm25_knn_join (shuffle equi-join
    on term, no vocabulary collect), the dense leg is ivf_knn_join at
    nprobe = n_cells (cell-bucketed shuffle join; all cells probed so
    the leg is exact and the oracle is plain brute force), and the two
    multi-query lists fuse per query with rrf_fuse_grouped (rank
    windows partitioned on qid, result-sized inputs, fixed
    sparse-then-dense fold so the doubles are bit-identical across
    engines).  This is the shape where BOTH sides outgrow a broadcast
    — query logs x documents — and nothing ships but the
    metadata-sized centroid table and the 1-row stats scalar; pinned
    against a from-scratch SQL of the whole stack (BM25 + cosine +
    RRF)."""
    e = load_table(spark, "embeddings", sf_dir)
    inv = _batch_inv_index(spark, sf_dir)
    qterms = spark.createDataFrame(
        [(q, terms) for q, terms in sorted(_HYBRID_BATCH_TERMS.items())],
        "qid long, terms array<string>",
    )
    sparse = bm25_knn_join(spark, inv, qterms, k=10, k1=_BM25_K1, b=_BM25_B)
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    qs = e.where(
        F.col("vec_id").isin(sorted(_HYBRID_BATCH_TERMS))
    ).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    dense = ivf_knn_join(qs, e, cents, k=10, nprobe=8).withColumnRenamed(
        "vec_id", "doc_id"
    )
    return rrf_fuse_grouped([(sparse, "score"), (dense, "cosine")], k=10)


@register(
    "emb_ivf_topk_batch",
    f"""
    WITH corp AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings
    ),
    cent AS (SELECT vec_id AS cid, v AS cvec FROM corp WHERE vec_id < 8),
    sims AS (
        SELECT corp.vec_id, cid, {_COS_VC_SQL} AS sim FROM corp, cent
    ),
    assigned AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, cid) AS rn
            FROM sims
        ) t WHERE rn = 1
    ),
    qs AS (SELECT vec_id AS qid, v AS qv FROM corp WHERE vec_id < 3),
    qsims AS (
        SELECT qid, cid, {_COS_QV_CVEC_SQL} AS sim FROM qs, cent
    ),
    qassign AS (
        SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY sim DESC, cid) AS rn
            FROM qsims
        ) t WHERE rn <= 2
    ),
    scored AS (
        SELECT qs.qid, corp.vec_id, {_COS_VQ_SQL} AS cosine
        FROM corp
        JOIN assigned USING (vec_id)
        JOIN qassign ON assigned.cid = qassign.cid
        JOIN qs ON qs.qid = qassign.qid
        WHERE corp.vec_id != qs.qid
    )
    SELECT qid, vec_id, cosine FROM (
        SELECT qid, vec_id, cosine,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, vec_id) AS rn
        FROM scored
    ) t WHERE rn <= 5
    ORDER BY qid, cosine DESC, vec_id
    """,
)
def emb_ivf_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched-query IVF serving (functions/similarity.py
    ivf_topk_batch): THREE query vectors served from the SAME
    materialized index in one plan — probe cells ranked driver-side
    over the collected query table (nprobe=2), the union of probe cells driving
    ONE partition-pruned corpus scan, the (qid, cid, qvec) side
    broadcast into it, and a per-query top-k window.  The realistic
    eval/retrieval workload the single-vector ivf_topk_indexed entry
    only point-checks; a pytest additionally pins per-query
    bit-consistency against ivf_topk_indexed run one query at a
    time."""
    e = load_table(spark, "embeddings", sf_dir)
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    base = tempfile.mkdtemp(prefix="ivf_index_batch_")
    path = os.path.join(base, "index")
    write_ivf_index(e, cents, path)
    qs = e.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return ivf_topk_batch(
        spark, path, cents, qs, k=5, nprobe=2, exclude_self=True
    )


@register(
    "emb_ivf_knn_join",
    f"""
    WITH corp AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings
    ),
    cent AS (SELECT vec_id AS cid, v AS cvec FROM corp WHERE vec_id < 8),
    sims AS (
        SELECT corp.vec_id, cid, {_COS_VC_SQL} AS sim FROM corp, cent
    ),
    assigned AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, cid) AS rn
            FROM sims
        ) t WHERE rn = 1
    ),
    qs AS (SELECT vec_id AS qid, v AS qv FROM corp WHERE vec_id % 7 = 0),
    qsims AS (
        SELECT qid, cid, {_COS_QV_CVEC_SQL} AS sim FROM qs, cent
    ),
    qassign AS (
        SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY sim DESC, cid) AS rn
            FROM qsims
        ) t WHERE rn = 1
    ),
    scored AS (
        SELECT qs.qid, corp.vec_id, {_COS_VQ_SQL} AS cosine
        FROM corp
        JOIN assigned USING (vec_id)
        JOIN qassign ON assigned.cid = qassign.cid
        JOIN qs ON qs.qid = qassign.qid
        WHERE corp.vec_id != qs.qid
    )
    SELECT qid, vec_id, cosine FROM (
        SELECT qid, vec_id, cosine,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, vec_id) AS rn
        FROM scored
    ) t WHERE rn <= 3
    ORDER BY qid, cosine DESC, vec_id
    """,
)
def emb_ivf_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale ANN k-NN join (functions/similarity.py ivf_knn_join):
    a query TABLE too big to broadcast (every 7th corpus vector — ~15%
    of the corpus, the two-corpora-joining regime) meets the corpus in
    a SHUFFLE equi-join keyed on IVF cell id — both sides exchange once
    on cid, scoring confined within cells, per-query top-3 window.  No
    data side ships; only the metadata-sized centroid table does.  The
    shuffle-join complement of emb_ivf_topk_batch's broadcast form
    (which serves 3 queries at nprobe=2 from a materialized index); a
    pytest additionally pins bit-equality between the two forms and
    brute-force recovery at nprobe = n_cells."""
    e = load_table(spark, "embeddings", sf_dir)
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    qs = e.where(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return ivf_knn_join(qs, e, cents, k=3, nprobe=1, exclude_self=True)


# Shared by emb_ann_recall_at_k (batch ivf_knn_join approx path) and
# emb_ivf_index_health (ivf_topk_batch served from the STREAMED index):
# both engine paths must reproduce the same recall@5 curve — two engine
# paths, one truth, the docs_near_dup_vs_store precedent.
_ANN_RECALL_SQL = f"""
    WITH corp AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings
    ),
    cent AS (SELECT vec_id AS cid, v AS cvec FROM corp WHERE vec_id < 8),
    sims AS (
        SELECT corp.vec_id, cid, {_COS_VC_SQL} AS sim FROM corp, cent
    ),
    assigned AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, cid) AS rn
            FROM sims
        ) t WHERE rn = 1
    ),
    qs AS (SELECT vec_id AS qid, v AS qv FROM corp WHERE vec_id % 7 = 0),
    qsims AS (
        SELECT qid, cid, {_COS_QV_CVEC_SQL} AS sim FROM qs, cent
    ),
    qassign AS (
        SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY sim DESC, cid) AS rn
            FROM qsims
        ) t WHERE rn = 1
    ),
    approx AS (
        SELECT qid, vec_id FROM (
            SELECT qassign.qid, corp.vec_id,
                   row_number() OVER (PARTITION BY qassign.qid
                                      ORDER BY {_COS_VQ_SQL} DESC,
                                               corp.vec_id) AS rn
            FROM corp
            JOIN assigned USING (vec_id)
            JOIN qassign ON assigned.cid = qassign.cid
            JOIN qs ON qs.qid = qassign.qid
            WHERE corp.vec_id != qs.qid
        ) t WHERE rn <= 5
    ),
    exact AS (
        SELECT qid, vec_id FROM (
            SELECT qs.qid, corp.vec_id,
                   row_number() OVER (PARTITION BY qs.qid
                                      ORDER BY {_COS_VQ_SQL} DESC,
                                               corp.vec_id) AS rn
            FROM corp, qs WHERE corp.vec_id != qs.qid
        ) t WHERE rn <= 5
    )
    SELECT e.qid,
           count(a.vec_id)::DOUBLE / least(count(*), 5)::DOUBLE AS recall
    FROM exact e LEFT JOIN approx a USING (qid, vec_id)
    GROUP BY e.qid
    """


@register("emb_ann_recall_at_k", _ANN_RECALL_SQL)
def emb_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of nprobe=1 IVF serving vs exact ground truth
    (functions/similarity.py ann_recall_at_k) — the eval metric that
    closes the ANN family's loop: ground truth is the SAME ivf_knn_join
    at nprobe = n_cells (provably brute force, pinned in test_plans),
    so no second implementation; the metric join touches only the two
    result tables (≤ k rows per query, never the corpus).  On this
    corpus the per-query recall is genuinely < 1 for boundary queries —
    the nprobe tuning signal the operator exists to measure."""
    e = load_table(spark, "embeddings", sf_dir)
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    qs = e.where(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    approx = ivf_knn_join(qs, e, cents, k=5, nprobe=1, exclude_self=True)
    exact = ivf_knn_join(qs, e, cents, k=5, nprobe=8, exclude_self=True)
    return ann_recall_at_k(approx, exact, k=5)


@register("emb_ivf_index_health", _ANN_RECALL_SQL)
def emb_ivf_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-index health eval — the "is my index still good after N
    batches of drift?" check a production retrieval pipeline runs on a
    schedule: recall@5 of ivf_topk_batch served FROM the streamed
    (stream-maintained, possibly compacted) index vs exact brute force
    (ivf_knn_join at nprobe = n_cells).  Composes the whole continuous
    loop — stream-maintain -> serve the query table from the on-disk
    layout -> score against ground truth — and shares its oracle with
    emb_ann_recall_at_k, so the served-from-disk path must reproduce
    the in-memory batch path's recall curve exactly.  The operational
    contract: when this number sags below the recall the centroids were
    tuned for, retrain + rebuild (the maintainer's documented drift
    operation)."""
    e = load_table(spark, "embeddings", sf_dir)
    index, cents = _streamed_ivf_index(spark, sf_dir)
    qs = e.where(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    approx = ivf_topk_batch(
        spark, index, cents, qs, k=5, nprobe=1, exclude_self=True
    )
    exact = ivf_knn_join(qs, e, cents, k=5, nprobe=8, exclude_self=True)
    return ann_recall_at_k(approx, exact, k=5)


@register(
    "emb_quantized_recall",
    f"""
    WITH corp AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings
    ),
    sc AS (
        SELECT vec_id, v,
               greatest(list_max(list_transform(v, y -> abs(y))), 1e-12)
               / 127.0 AS scale
        FROM corp
    ),
    dq AS (
        SELECT vec_id,
               list_transform(v, x -> round(x / scale) * scale) AS v
        FROM sc
    ),
    qs AS (SELECT vec_id AS qid, v AS qv FROM corp WHERE vec_id % 20 = 7),
    served AS (SELECT qid, vec_id FROM (
        SELECT qs.qid, dq.vec_id,
               row_number() OVER (PARTITION BY qs.qid
                                  ORDER BY {_COS_VQ_SQL} DESC,
                                           dq.vec_id) AS rn
        FROM dq, qs WHERE dq.vec_id != qs.qid
    ) t WHERE rn <= 5),
    exact AS (SELECT qid, vec_id FROM (
        SELECT qs.qid, corp.vec_id,
               row_number() OVER (PARTITION BY qs.qid
                                  ORDER BY {_COS_VQ_SQL} DESC,
                                           corp.vec_id) AS rn
        FROM corp, qs WHERE corp.vec_id != qs.qid
    ) t WHERE rn <= 5)
    SELECT e.qid,
           count(s.vec_id)::DOUBLE / least(count(*), 5)::DOUBLE AS recall
    FROM exact e LEFT JOIN served s USING (qid, vec_id)
    GROUP BY e.qid
    """,
)
def emb_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The int8 storage path's quality loop (functions/similarity.py
    quantize_int8 + dequantize_int8 + ann_recall_at_k): recall@5 of
    cosine top-k served from the DEQUANTIZED corpus against
    full-precision truth — quantization cost as a measured number per
    query, not an assumption.  Quantization is expression-only in the
    scan stage (per-vector symmetric scale, double arithmetic
    end-to-end, so the oracle replays every quantized value
    bit-exactly); both top-k sides run through the SAME cell-bucketed
    ivf_knn_join at nprobe = n_cells (provably brute force — the
    recall measures quantization alone, no ANN approximation mixed
    in), queries drawn from the corpus with self excluded.  The
    companion pytest pins the discrimination property: a 3-bit
    coarsening measurably drops this number."""
    e = load_table(spark, "embeddings", sf_dir)
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    qs = e.where(F.col("vec_id") % 20 == 7).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    deq = dequantize_int8(quantize_int8(e)).select("vec_id", "embedding")
    served = ivf_knn_join(qs, deq, cents, k=5, nprobe=8, exclude_self=True)
    truth = ivf_knn_join(qs, e, cents, k=5, nprobe=8, exclude_self=True)
    return ann_recall_at_k(served, truth, k=5)


# One streamed-index build shared by the continuous-ANN-serving entries
# (stream-maintain / compact / health-eval) — the memoized-medallion
# pattern: the build runs once per (process, sf_dir) and each entry then
# times only its own serving/eval work.  Compaction mutates the shared
# index IN PLACE, which is safe by its own contract (bit-equal serving
# before and after — exactly what the entries sharing it re-prove).
_STREAM_IVF_MEMO: dict[str, tuple[str, DataFrame]] = {}


def _streamed_ivf_index(
    spark: SparkSession, sf_dir: str
) -> tuple[str, DataFrame]:
    got = _STREAM_IVF_MEMO.get(sf_dir)
    if got is not None:
        return got
    e = load_table(spark, "embeddings", sf_dir)
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    base = tempfile.mkdtemp(prefix="stream_ivf_")
    index = os.path.join(base, "index")
    q = streaming_ivf_index_upsert(
        stream_embeddings(spark, sf_dir),
        cents,
        index,
        os.path.join(base, "ckpt"),
    )
    q.awaitTermination()
    _STREAM_IVF_MEMO[sf_dir] = (index, cents)
    return index, cents


@register("emb_streaming_ivf_upsert", _IVF_TOPK_STUB_SQL)
def emb_streaming_ivf_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous ANN-index maintenance (streaming/pipeline.py
    streaming_ivf_index_upsert): the embeddings table arrives as a
    STREAM, each micro-batch lands in its cell partitions of the
    write_ivf_index serving layout (one assignment pass against the
    broadcast frozen centroids, crash-replay-safe `_commit_id`
    partitions), and after the availableNow backfill the SAME
    ivf_topk_indexed serving path reads the maintained index — checked
    against the IDENTICAL oracle as the one-shot emb_ivf_topk /
    emb_ivf_topk_indexed entries, so streamed maintenance is proven
    serving-equivalent to a batch rebuild."""
    e = load_table(spark, "embeddings", sf_dir)
    index, cents = _streamed_ivf_index(spark, sf_dir)
    qv = [
        float(x)
        for x in e.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return ivf_topk_indexed(
        spark, index, cents, qv, k=5, nprobe=1, exclude_id=0
    )


@register("emb_ivf_index_compacted", _IVF_TOPK_STUB_SQL)
def emb_ivf_index_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index compaction in the continuous-ANN-serving loop
    (streaming/pipeline.py compact_ivf_index): the streamed index's
    one-file-per-batch-per-cell fragmentation is folded into one
    ``compact-0`` commit per cell — cid partition level preserved, so
    serving keeps its partition-pruned scan — and ivf_topk_indexed then
    serves from the COMPACTED index against the IDENTICAL oracle as the
    uncompacted / one-shot entries: build -> stream-maintain -> compact
    -> serve, every hop proven bit-equal.  The registry face of the
    maintainer docstring's prescribed housekeeping; the fragmentation
    drop itself (file counts) is pinned in test_incremental."""
    e = load_table(spark, "embeddings", sf_dir)
    index, cents = _streamed_ivf_index(spark, sf_dir)
    compact_ivf_index(spark, index, compact_seq=0)
    qv = [
        float(x)
        for x in e.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return ivf_topk_indexed(
        spark, index, cents, qv, k=5, nprobe=1, exclude_id=0
    )


# Embedding-cosine near-dup: plant perturbed copies (first component +0.05,
# vec_id + 1000000) so bucketed near-duplicate pairs exist by construction.
_EMB_PERTURBED_SQL = """
corpus AS (
    SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
    FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000,
           list_concat([embedding[1]::DOUBLE + 0.05],
                       list_transform(embedding[2:], x -> x::DOUBLE))
    FROM embeddings
)
"""

# Seeded random hyperplanes — the SAME literals feed the Spark expression
# (via hyperplanes() inside embedding_near_dup_pairs) and the oracle SQL
# below, so bucket assignment is identical by construction.  4 bands x 8
# bits: random directions split anisotropic embeddings ~50/50 per bit
# (axis-aligned sign bits collapse into one hot bucket on real data);
# 8 bits/band keeps per-band buckets at corpus/256 so the candidate join
# stays ~n^2/512 while 4-band OR-amplification holds near-identical-pair
# recall at ~1 (per-bit flip prob ~theta/pi).
_EMB_DIM = 64
_EMB_BANDS, _EMB_BITS_PER_BAND, _EMB_SEED = 4, 8, 42
_EMB_PLANES = _hyperplanes(_EMB_DIM, _EMB_BANDS * _EMB_BITS_PER_BAND, _EMB_SEED)


def _plane_proj_sql(plane: list[float]) -> str:
    # left-assoc "+" chain FROM 0.0, mirroring the Spark side's
    # aggregate() fold order exactly (bit-for-bit IEEE equality)
    return "0.0 + " + " + ".join(
        f"(embedding[{i + 1}] * {w!r})" for i, w in enumerate(plane)
    )


def _band_keys_sql() -> str:
    keys = []
    for band in range(_EMB_BANDS):
        bits = ", ".join(
            f"CASE WHEN ({_plane_proj_sql(p)}) >= 0 THEN '1' ELSE '0' END"
            for p in _EMB_PLANES[
                band * _EMB_BITS_PER_BAND : (band + 1) * _EMB_BITS_PER_BAND
            ]
        )
        keys.append(f"concat('{band}|', {bits})")
    return "[" + ", ".join(keys) + "]"


_COS_AB_SQL = (
    "list_sum(list_transform(range(0, len(v_a)), i -> v_a[i+1] * v_b[i+1]))"
    " / (sqrt(list_sum(list_transform(v_a, x -> x * x)))"
    " * sqrt(list_sum(list_transform(v_b, x -> x * x))))"
)


def _emb_perturbed_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings UNION a perturbed copy (first component +0.05, vec_id
    +1000000) — the engine twin of ``_EMB_PERTURBED_SQL``, so planted
    near-identical pairs exist by construction."""
    e = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    as_double = e.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    perturbed = e.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array((F.element_at(F.col("embedding"), 1).cast("double") + F.lit(0.05))),
            F.transform(
                F.expr("slice(embedding, 2, size(embedding) - 1)"),
                lambda x: x.cast("double"),
            ),
        ).alias("embedding"),
    )
    return as_double.unionByName(perturbed)


@register(
    "emb_near_dup_pairs",
    "WITH "
    + _EMB_PERTURBED_SQL
    + f""",
    b AS (
        SELECT vec_id, embedding, unnest({_band_keys_sql()}) AS band_key
        FROM corpus
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
        FROM b a JOIN b b2 USING (band_key)
        WHERE a.vec_id < b2.vec_id
    ),
    withv AS (
        SELECT id_a, id_b, ca.embedding AS v_a, cb.embedding AS v_b
        FROM cand
        JOIN corpus ca ON ca.vec_id = id_a
        JOIN corpus cb ON cb.vec_id = id_b
    )
    SELECT id_a, id_b, {_COS_AB_SQL} AS cosine
    FROM withv
    WHERE {_COS_AB_SQL} >= 0.95
    """,
)
def emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_near_dup_pairs(
        _emb_perturbed_input(spark, sf_dir),
        dim=_EMB_DIM,
        threshold=0.95,
        n_bands=_EMB_BANDS,
        bits_per_band=_EMB_BITS_PER_BAND,
        seed=_EMB_SEED,
    )


@register(
    "emb_dup_clusters",
    "WITH RECURSIVE "
    + _EMB_PERTURBED_SQL
    + f""",
    b AS (
        SELECT vec_id, embedding, unnest({_band_keys_sql()}) AS band_key
        FROM corpus
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
        FROM b a JOIN b b2 USING (band_key)
        WHERE a.vec_id < b2.vec_id
    ),
    withv AS (
        SELECT id_a, id_b, ca.embedding AS v_a, cb.embedding AS v_b
        FROM cand
        JOIN corpus ca ON ca.vec_id = id_a
        JOIN corpus cb ON cb.vec_id = id_b
    ),
    pairs AS (
        SELECT id_a, id_b FROM withv WHERE {_COS_AB_SQL} >= 0.95
    ),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(n, m) AS (
        SELECT u AS n, u AS m FROM (SELECT DISTINCT u FROM edges) t
        UNION
        SELECT r.n, e.v AS m FROM reach r JOIN edges e ON e.u = r.m
    ),
    comp AS (SELECT n AS vec_id, min(m) AS cluster_id FROM reach GROUP BY n)
    SELECT c0.vec_id, coalesce(comp.cluster_id, c0.vec_id) AS cluster_id
    FROM corpus c0 LEFT JOIN comp USING (vec_id)
    """,
)
def emb_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC duplicate-cluster assignment: connected components over
    the embedding-cosine near-dup pair graph — the embedding twin of
    docs_dup_clusters (MinHash graph), and the GLOBAL complement of
    emb_semantic_dedup's within-cell greedy: transitive closure chains
    A~B~C into ONE cluster even when A and C's cosine alone misses the
    threshold or they land in different IVF cells.  Every vector labels
    itself with the min id reachable through the pair graph (singletons
    label themselves); the oracle replays banding, pair scoring, and a
    recursive-CTE closure.  Scale shape inherited from the pieces:
    banded-LSH pair discovery (never all-pairs) + iterative min-label
    propagation whose component table holds only the duplicate minority,
    broadcast back to the corpus."""
    corpus = _emb_perturbed_input(spark, sf_dir)
    pairs = embedding_near_dup_pairs(
        corpus,
        dim=_EMB_DIM,
        threshold=0.95,
        n_bands=_EMB_BANDS,
        bits_per_band=_EMB_BITS_PER_BAND,
        seed=_EMB_SEED,
    )
    return assign_clusters(
        corpus, pairs, id_col="vec_id", src_col="id_a", dst_col="id_b"
    )


@register(
    "emb_semantic_dedup",
    "WITH "
    + _EMB_PERTURBED_SQL
    + f""",
    corp AS (SELECT vec_id, embedding AS v FROM corpus),
    cent AS (SELECT vec_id AS cid, v AS cvec FROM corp WHERE vec_id < 8),
    sims AS (
        SELECT corp.vec_id, cid, {_COS_VC_SQL} AS sim FROM corp, cent
    ),
    assigned AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, cid) AS rn
            FROM sims
        ) t WHERE rn = 1
    ),
    cellv AS (
        SELECT a.vec_id, a.cid, c.v FROM assigned a JOIN corp c USING (vec_id)
    ),
    pairs AS (
        SELECT bb.vec_id AS dropped_id,
               aa.v AS v_a, bb.v AS v_b
        FROM cellv aa JOIN cellv bb
          ON aa.cid = bb.cid AND aa.vec_id < bb.vec_id
    ),
    dropped AS (
        SELECT DISTINCT dropped_id AS vec_id FROM pairs
        WHERE {_COS_AB_SQL} >= 0.95
    )
    SELECT vec_id, cid FROM cellv
    WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
)
def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (functions/similarity.py semantic_dedup) over the
    perturbed corpus: every planted near-identical copy whose cell
    matches its original is dropped (greedy min-id keep), paraphrase-
    style duplicates the lexical dedup family cannot see.  Quadratic
    work is confined within IVF cells; centroids broadcast; the oracle
    reproduces cell assignment, pair pruning, and the keep policy
    end-to-end in SQL."""
    return semantic_dedup(
        _emb_perturbed_input(spark, sf_dir), threshold=0.95, n_cells=8
    )


@register(
    "emb_semantic_dedup_nprobe",
    "WITH "
    + _EMB_PERTURBED_SQL
    + f""",
    corp AS (SELECT vec_id, embedding AS v FROM corpus),
    cent AS (SELECT vec_id AS cid, v AS cvec FROM corp WHERE vec_id < 8),
    sims AS (
        SELECT corp.vec_id, cid, {_COS_VC_SQL} AS sim FROM corp, cent
    ),
    assigned AS (
        SELECT vec_id, cid, rn FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, cid) AS rn
            FROM sims
        ) t WHERE rn <= 2
    ),
    cellv AS (
        SELECT a.vec_id, a.cid, a.rn, c.v
        FROM assigned a JOIN corp c USING (vec_id)
    ),
    pairs AS (
        SELECT bb.vec_id AS dropped_id,
               aa.v AS v_a, bb.v AS v_b
        FROM cellv aa JOIN cellv bb
          ON aa.cid = bb.cid AND aa.vec_id < bb.vec_id
    ),
    dropped AS (
        SELECT DISTINCT dropped_id AS vec_id FROM pairs
        WHERE {_COS_AB_SQL} >= 0.95
    )
    SELECT vec_id, cid FROM cellv
    WHERE rn = 1 AND vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
)
def emb_semantic_dedup_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with nprobe=2 multi-cell assignment — the documented
    mitigation for the paper's cell-boundary recall edge: each vector
    joins its TWO nearest cells for pair discovery, so a near-dup pair
    split across a boundary still meets in the flanking cell, while
    survivors keep their primary cell id.  Candidate volume grows by at
    most nprobe^2; the oracle replays multi-assignment (rn <= 2), the
    any-shared-cell pair join, and the primary-cell survivor output."""
    return semantic_dedup(
        _emb_perturbed_input(spark, sf_dir),
        threshold=0.95,
        n_cells=8,
        nprobe=2,
    )


_COS_VBV_SQL = (
    "list_sum(list_transform(range(0, len(embedding)),"
    " i -> embedding[i+1] * bv[i+1]))"
    " / (sqrt(list_sum(list_transform(embedding, x -> x * x)))"
    " * sqrt(list_sum(list_transform(bv, x -> x * x))))"
)


@register(
    "emb_semantic_decontaminate",
    "WITH "
    + _EMB_PERTURBED_SQL
    + f""",
    bench AS (
        SELECT list_transform(embedding, x -> x::DOUBLE) AS bv
        FROM embeddings WHERE vec_id % 29 = 0
    ),
    flagged AS (
        SELECT DISTINCT vec_id FROM corpus, bench
        WHERE {_COS_VBV_SQL} >= 0.95
    )
    SELECT vec_id FROM corpus
    WHERE vec_id NOT IN (SELECT vec_id FROM flagged)
    """,
)
def emb_semantic_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-space benchmark decontamination (functions/similarity.py
    semantic_decontaminate): every 29th original embedding stands in as
    the benchmark suite; the perturbed corpus then loses both the
    benchmark members themselves (cosine 1) and their planted
    re-encoded copies (cosine ~1) — the paraphrase-shaped leak the
    lexical gram screen (docs_decontaminate) cannot see.  Exact by
    design (no LSH recall gap — a missed leak inflates eval scores);
    benchmark broadcast, corpus never shuffled."""
    corpus = _emb_perturbed_input(spark, sf_dir)
    bench = (
        load_table(spark, "embeddings", sf_dir)
        .where(F.col("vec_id") % 29 == 0)
        .select(
            F.transform(
                F.col("embedding"), lambda x: x.cast("double")
            ).alias("embedding")
        )
    )
    return semantic_decontaminate(corpus, bench, threshold=0.95).select(
        "vec_id"
    )


def _kmeans_ctes(
    n_cells: int, n_iters: int, dim: int, source: str = "embeddings"
) -> list[str]:
    """CTE chain for the unrolled DuckDB twin of
    functions/similarity.py kmeans_centroids (the docs_pagerank
    precedent for fixed-iteration algorithms): sha-ordered init,
    argmax-cosine assignment with cid tie-break, exact bigint
    micro-unit mean update, empty cells keep their previous centroid.
    ``source`` is any table/CTE with (vec_id, embedding); the final CTE
    is ``c{n_iters}`` holding (cid, cvec, n_members) — composable into
    larger oracles (emb_semantic_dedup_trained)."""
    cos = (
        f"list_sum(list_transform(range(0, {dim}),"
        " i -> embedding[i+1]::DOUBLE * cvec[i+1]))"
        " / (sqrt(list_sum(list_transform(embedding,"
        " x -> x::DOUBLE * x::DOUBLE)))"
        " * sqrt(list_sum(list_transform(cvec, x -> x * x))))"
    )
    init_key = "sha256('kmeans-init:' || CAST(vec_id AS VARCHAR))"
    ctes = [
        f"""c0 AS (
        SELECT row_number() OVER (ORDER BY {init_key}, vec_id) - 1 AS cid,
               list_transform(embedding, x -> x::DOUBLE) AS cvec,
               0 AS n_members
        FROM (SELECT vec_id, embedding FROM {source}
              ORDER BY {init_key}, vec_id LIMIT {n_cells}) seed
    )"""
    ]
    for k in range(1, n_iters + 1):
        p = k - 1
        ctes.append(
            f"""a{k} AS (
        SELECT vec_id, embedding, cid FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {cos} DESC, c.cid) AS rn
            FROM {source} e CROSS JOIN c{p} c) t
        WHERE rn = 1
    )"""
        )
        ctes.append(
            f"""u{k} AS (
        SELECT cid, d.i AS dim,
               sum(CAST(round(embedding[d.i+1]::DOUBLE * 1e6) AS BIGINT))
                   AS s,
               count(*) AS n
        FROM a{k} CROSS JOIN (SELECT unnest(range(0, {dim})) AS i) d
        GROUP BY cid, d.i
    )"""
        )
        ctes.append(
            f"""c{k} AS (
        SELECT c{p}.cid, coalesce(m.cvec, c{p}.cvec) AS cvec,
               coalesce(m.n, 0) AS n_members
        FROM c{p} LEFT JOIN (
            SELECT cid, max(n) AS n, list(s / n / 1e6 ORDER BY dim) AS cvec
            FROM u{k} GROUP BY cid) m USING (cid)
    )"""
        )
    return ctes


def _kmeans_oracle_sql(n_cells: int, n_iters: int, dim: int) -> str:
    """Full DuckDB twin of kmeans_centroids over the embeddings table,
    emitted LONG as (cid, dim, mean_val, n_members)."""
    return (
        "WITH "
        + ",\n    ".join(_kmeans_ctes(n_cells, n_iters, dim))
        + f"""
    SELECT cid, d.i AS dim, cvec[d.i+1] AS mean_val,
           CAST(n_members AS BIGINT) AS n_members
    FROM c{n_iters} CROSS JOIN (SELECT unnest(range(0, {dim})) AS i) d
    """
    )


@register("emb_kmeans_centroids", _kmeans_oracle_sql(4, 2, 64))
def emb_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means (functions/similarity.py
    kmeans_centroids): 4 cells, 2 fixed iterations over the embeddings
    table, emitted LONG as (cid, dim, mean_val, n_members).  Seedless
    sha-keyed init and exact micro-unit mean updates make every
    centroid component bit-identical across partition layouts and in
    the unrolled-CTE oracle; per iteration the corpus is scanned ONCE
    (literal-centroid argmax expression + map-side-combined groupBy to
    n_cells rows — the MLlib driver-held-centroid pattern).  Trains the
    cells SemDeDup/IVF previously stubbed: pass the wide (cid, cvec)
    result straight into semantic_dedup(centroids=...)."""
    c = kmeans_centroids(
        load_table(spark, "embeddings", sf_dir), n_cells=4, n_iters=2, dim=64
    )
    return c.select(
        "cid",
        F.posexplode("cvec").alias("dim", "mean_val"),
        "n_members",
    ).select("cid", F.col("dim").cast("long").alias("dim"), "mean_val",
             "n_members")


@register("emb_kmeans_centroids_bcast", _kmeans_oracle_sql(4, 2, 64))
def emb_kmeans_centroids_bcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BROADCAST assignment form of kmeans_centroids driven through
    the oracle gate: ``literal_centroid_limit=0`` forces every
    iteration's assignment through the constant-key BroadcastHashJoin +
    map-side-combined max(struct) argmax (the ~100k-cell plan shape)
    instead of inlined literal centroids — against the IDENTICAL
    unrolled-CTE oracle as emb_kmeans_centroids, so bit-equal centroids
    prove the two forms interchangeable at the driver level, not just
    in pytest."""
    c = kmeans_centroids(
        load_table(spark, "embeddings", sf_dir),
        n_cells=4,
        n_iters=2,
        dim=64,
        literal_centroid_limit=0,
    )
    return c.select(
        "cid",
        F.posexplode("cvec").alias("dim", "mean_val"),
        "n_members",
    ).select("cid", F.col("dim").cast("long").alias("dim"), "mean_val",
             "n_members")


def _semantic_dedup_trained_sql(
    n_cells: int, n_iters: int, threshold: float
) -> str:
    """DuckDB twin of the TRAINED SemDeDup composition: the unrolled
    k-means CTE chain runs over the perturbed corpus, its final
    centroids feed cell assignment, and the within-cell greedy min-id
    drop policy mirrors functions/similarity.py semantic_dedup."""
    ctes = _kmeans_ctes(n_cells, n_iters, _EMB_DIM, source="corpus")
    return (
        "WITH "
        + _EMB_PERTURBED_SQL
        + ",\n    "
        + ",\n    ".join(ctes)
        + f""",
    corp AS (SELECT vec_id, embedding AS v FROM corpus),
    cent AS (SELECT cid, cvec FROM c{n_iters}),
    sims AS (
        SELECT corp.vec_id, cid, {_COS_VC_SQL} AS sim FROM corp, cent
    ),
    assigned AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, cid) AS rn
            FROM sims
        ) t WHERE rn = 1
    ),
    cellv AS (
        SELECT a.vec_id, a.cid, c.v FROM assigned a JOIN corp c USING (vec_id)
    ),
    pairs AS (
        SELECT bb.vec_id AS dropped_id,
               aa.v AS v_a, bb.v AS v_b
        FROM cellv aa JOIN cellv bb
          ON aa.cid = bb.cid AND aa.vec_id < bb.vec_id
    ),
    dropped AS (
        SELECT DISTINCT dropped_id AS vec_id FROM pairs
        WHERE {_COS_AB_SQL} >= {threshold}
    )
    SELECT vec_id, cid FROM cellv
    WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
    """
    )


@register(
    "emb_semantic_dedup_trained", _semantic_dedup_trained_sql(4, 2, 0.95)
)
def emb_semantic_dedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composition SemDeDup actually prescribes (Abbas et al. 2023:
    trained k-means cells, not arbitrary ones): kmeans_centroids trains
    4 cells over the perturbed corpus and feeds semantic_dedup via
    ``centroids=`` — the path a real user runs, oracle-checked
    end-to-end (training + assignment + within-cell greedy drop).  The
    stub-cell entry (emb_semantic_dedup) stays as the fast path; this
    entry pins that trained cells flow through the identical downstream
    plan bit-exactly.  The corpus is persisted ONCE and shared by the
    trainer's per-iteration scans and the dedup's pair join."""
    from airflow_etl_minio_to_postgres_spark.functions.dedup import (
        _persist_tracked,
    )

    corpus = _persist_tracked(_emb_perturbed_input(spark, sf_dir))
    cents = kmeans_centroids(
        corpus, n_cells=4, n_iters=2, dim=_EMB_DIM
    )
    return semantic_dedup(corpus, threshold=0.95, centroids=cents)


def _ivf_topk_trained_sql(n_cells: int, n_iters: int, k: int) -> str:
    """DuckDB twin of the trained-cell IVF serving path: the unrolled
    k-means CTE chain over the embeddings table feeds cell assignment,
    then the query's cell is scanned for the cosine top-k."""
    ctes = _kmeans_ctes(n_cells, n_iters, _EMB_DIM)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    corp AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings
    ),
    cent AS (SELECT cid, cvec FROM c{n_iters}),
    sims AS (
        SELECT corp.vec_id, cid, {_COS_VC_SQL} AS sim FROM corp, cent
    ),
    assigned AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, cid) AS rn
            FROM sims
        ) t WHERE rn = 1
    ),
    qc AS (
        SELECT a.cid AS qcid, c.v AS qv
        FROM assigned a JOIN corp c USING (vec_id)
        WHERE a.vec_id = 0
    )
    SELECT corp.vec_id, {_COS_VQ_SQL} AS cosine
    FROM corp JOIN assigned USING (vec_id), qc
    WHERE assigned.cid = qc.qcid AND corp.vec_id != 0
    ORDER BY cosine DESC, vec_id
    LIMIT {k}
    """
    )


@register("emb_ivf_topk_trained", _ivf_topk_trained_sql(4, 2, 5))
def emb_ivf_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained-cell IVF serving path: kmeans_centroids trains 4
    cells over the embeddings table and feeds ivf_topk via
    ``centroids=`` — closing the loop the stub-cell entry
    (emb_ivf_topk) leaves open, exactly as emb_semantic_dedup_trained
    does for SemDeDup.  Oracle-checked end-to-end: training, cell
    assignment, and the query-cell cosine top-k.  At scale the trained
    assignment is the partition key the corpus is written under, so
    serving is a partition-pruned scan."""
    e = load_table(spark, "embeddings", sf_dir)
    cents = kmeans_centroids(e, n_cells=4, n_iters=2, dim=_EMB_DIM)
    return ivf_topk(e, query_id=0, k=5, centroids=cents)


@register(
    "emb_knn_join",
    f"""
    WITH corpus AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
        FROM embeddings
    ),
    b AS (
        SELECT vec_id, unnest({_band_keys_sql()}) AS band_key FROM corpus
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS qid, n.vec_id AS nid
        FROM b a JOIN b n USING (band_key)
        WHERE a.vec_id != n.vec_id
    ),
    scored AS (
        SELECT qid, nid, ca.embedding AS v_a, cb.embedding AS v_b
        FROM cand
        JOIN corpus ca ON ca.vec_id = qid
        JOIN corpus cb ON cb.vec_id = nid
    ),
    ranked AS (
        SELECT qid, nid, {_COS_AB_SQL} AS cosine,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY {_COS_AB_SQL} DESC, nid) AS rank
        FROM scored
    )
    SELECT qid AS vec_id, nid AS neighbor_id, cosine, rank
    FROM ranked WHERE rank <= 3
    """,
)
def emb_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide approximate k-NN self-join (k=3) over the seeded
    random-hyperplane LSH bands; the oracle replays the identical band
    assignment, candidate join, and window ranking in SQL."""
    e = load_table(spark, "embeddings", sf_dir).select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    return knn_join(
        e,
        dim=_EMB_DIM,
        k=3,
        n_bands=_EMB_BANDS,
        bits_per_band=_EMB_BITS_PER_BAND,
        seed=_EMB_SEED,
    )


# ---------------------------------------------------------------------------
# Multimodal: opaque binary payload + Arrow-batched feature extraction.
# ---------------------------------------------------------------------------


@register(
    "multimodal_payload_features",
    """
    SELECT doc_id,
           octet_length(encode(text))             AS n_bytes,
           substr(sha256(text), 1, 16)            AS payload_sha16,
           octet_length(encode(text)) % 640       AS width,
           (octet_length(encode(text)) * 7) % 480 AS height
    FROM documents
    """,
)
def multimodal_payload_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return extract_payload_features(attach_payload(docs))


@register(
    "multimodal_frame_sample",
    """
    SELECT doc_id,
           f.i AS frame_index,
           least(f.i * greatest(octet_length(encode(text)) // 4, 1),
                 octet_length(encode(text))) AS frame_offset_bytes
    FROM documents, (SELECT unnest(range(0, 4)) AS i) f
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over binary payloads: one payload row
    fans out to 4 (frame_index, byte offset) rows via mapInPandas."""
    docs = load_table(spark, "documents", sf_dir)
    return sample_frame_offsets(attach_payload(docs), num_frames=4)


@register(
    "multimodal_frame_sample_expr",
    """
    SELECT doc_id,
           f.i AS frame_index,
           least(f.i * greatest(octet_length(encode(text)) // 4, 1),
                 octet_length(encode(text))) AS frame_offset_bytes
    FROM documents, (SELECT unnest(range(0, 4)) AS i) f
    """,
)
def multimodal_frame_sample_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same frame fan-out as multimodal_frame_sample, but pure JVM
    (explode(sequence)) — the preferred plan when no decoder is in the
    loop; whole-stage codegen, no Python boundary."""
    docs = load_table(spark, "documents", sf_dir)
    return sample_frame_offsets_expr(attach_payload(docs), num_frames=4)


_AHASH_BYTE = (
    "(strpos('0123456789ABCDEF', substr(h, 2*((c*n)//64)+1, 1)) - 1) * 16"
    " + (strpos('0123456789ABCDEF', substr(h, 2*((c*n)//64)+2, 1)) - 1)"
)

_AHASH_HAMMING = (
    "CAST(list_sum(list_transform(range(0, 64),"
    " i -> CASE WHEN substr(ha, i+1, 1) != substr(hb, i+1, 1)"
    " THEN 1 ELSE 0 END)) AS BIGINT)"
)


_AHASH_PAIRS_SQL = f"""
    WITH base AS (
        SELECT doc_id, lower(trim(text)) AS t FROM documents
        UNION ALL
        SELECT doc_id + 1000000, upper(trim(text)) FROM documents
    ),
    hx AS (
        SELECT doc_id, hex(encode(t)) AS h, octet_length(encode(t)) AS n
        FROM base
    ),
    s AS (
        SELECT doc_id,
               list_transform(range(0, 64), c -> {_AHASH_BYTE}) AS sm
        FROM hx
    ),
    ah AS (
        SELECT doc_id,
               list_aggregate(
                   list_transform(sm, x -> CASE WHEN x >= list_sum(sm)/64.0
                                           THEN '1' ELSE '0' END),
                   'string_agg', '') AS ahash
        FROM s
    ),
    bands AS (
        SELECT doc_id, ahash, b.i AS band, substr(ahash, b.i*8+1, 8) AS chunk
        FROM ah, (SELECT unnest(range(0, 8)) AS i) b
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, nb.doc_id AS id_b,
                        a.ahash AS ha, nb.ahash AS hb
        FROM bands a JOIN bands nb
          ON a.band = nb.band AND a.chunk = nb.chunk
         AND a.doc_id < nb.doc_id
    )
    SELECT id_a, id_b, hamming FROM (
        SELECT id_a, id_b, {_AHASH_HAMMING} AS hamming FROM cand
    ) v
    WHERE hamming <= 7
    """


@register("multimodal_ahash_near_dup_pairs", _AHASH_PAIRS_SQL)
def multimodal_ahash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup over the multimodal payload column
    (functions/multimodal.py add_image_ahash + ahash_near_dup_pairs):
    the corpus is each document's payload plus a "re-encoded" copy
    (id+1e6) whose bytes carry a near-uniform intensity shift (the
    uppercase byte shift standing in for a brightness change) — a copy
    that exact content-hash dedup AND the shingle family both miss,
    but whose mean-relative aHash stays within Hamming 7.  Banded
    equi-join candidates (8 bands x 8 bits, pigeonhole-complete at
    threshold 7) + exact Hamming verification; the hash itself is
    expression-only in the scan stage — no Python, no decode, Pillow-
    free."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    corpus = d.select(
        "doc_id", F.lower(F.trim("text")).alias("text")
    ).unionByName(
        d.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.upper(F.trim("text")).alias("text"),
        )
    )
    hashed = add_image_ahash(attach_payload(_spread(corpus)))
    return ahash_near_dup_pairs(hashed, max_hamming=7, n_bands=8)


@register("multimodal_ahash_near_dup_pairs_salted", _AHASH_PAIRS_SQL)
def multimodal_ahash_near_dup_pairs_salted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The hot-bucket-salted aHash pair join driven through the oracle
    gate: ``max_bucket_size=512`` splits oversized band buckets across
    salted sub-groups (functions/dedup.py salted_band_sides — the
    cluster-scale skew mitigation) against the IDENTICAL oracle as the
    unsalted entry, so bit-equal pairs prove salting changes task
    distribution ONLY — and at bench scale this entry exercises the
    salted plan on the measured hot-bucket worst case (the low-entropy
    sf0.1 documents corpus)."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    corpus = d.select(
        "doc_id", F.lower(F.trim("text")).alias("text")
    ).unionByName(
        d.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.upper(F.trim("text")).alias("text"),
        )
    )
    hashed = add_image_ahash(attach_payload(_spread(corpus)))
    return ahash_near_dup_pairs(
        hashed, max_hamming=7, n_bands=8, max_bucket_size=512
    )


# ---------------------------------------------------------------------------
# Events: time-bucket aggregation, sessionization, per-user top-k — the
# window/agg surface of SURVEY.md §2.4 over the driver's stream table.
# ---------------------------------------------------------------------------


@register(
    "events_hourly_agg",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*)   AS n_events,
           CAST(sum(CAST(round(value*1000000) AS BIGINT)) AS DOUBLE)/1000000
               AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    return e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        stable_sum(F.col("value")).alias("sum_value"),
    )


@register(
    "events_value_histogram",
    """
    SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket,
           CAST(floor(value / 25.0) * 25.0 AS DOUBLE) AS bucket_low,
           count(*) AS n,
           CAST(sum(CAST(round(value*1000000) AS BIGINT)) AS DOUBLE)/1000000
               AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY bucket
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (width_bucket equivalent): bucket =
    floor(value/width) computed in the SCAN stage, so binning is a
    narrow expression and the only shuffle is the map-side-combined
    count per bucket — the profiling staple that turns a billion-row
    column into a handful of rows.  Boundary determinism: value is 2dp
    and width 25.0, so value/25.0 sits ~1e-13 away from any integer
    except at exact multiples, where both engines' IEEE division agrees
    bit-for-bit; sums go through the stable micro-unit idiom."""
    e = load_table(spark, "events", sf_dir)
    bucket = F.floor(F.col("value") / F.lit(25.0))
    return (
        e.groupBy(
            bucket.cast("long").alias("bucket"),
            (bucket * 25.0).cast("double").alias("bucket_low"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            stable_sum(F.col("value")).alias("sum_value"),
        )
        .orderBy("bucket")
    )


# The Morton interleave text is generated ONCE and lands verbatim in both
# the engine expression and the oracle SQL — identical curve by construction.
_ZVAL_SQL = zorder_value_sql(["bu", "bh"], bits=10)


@register(
    "events_zorder_curve",
    f"""
    SELECT event_id, {_ZVAL_SQL} AS zval
    FROM (
        SELECT event_id, user_id % 1024 AS bu,
               (epoch_us(ts) // 3600000000) % 1024 AS bh
        FROM events
    ) t
    """,
)
def events_zorder_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) curve value over the two predicate columns a
    fact table is actually queried on — user and event hour
    (sources/files.py zorder_value_sql / write_zorder_parquet): the
    multi-column data-skipping layout's ordering key, computed as ONE
    narrow bit-interleave expression in the scan stage (no shuffle
    here; the layout sink adds exactly one range exchange on this
    value).  The SQL text is generated once and shared VERBATIM with
    the oracle — both engines parse the same >>/& integer operators, so
    the curve is identical by construction.  A pytest additionally pins
    the layout property the curve exists for: files written in zval
    order carry tight per-file min/max ranges on BOTH dimensions, where
    a single-column sort leaves the other dimension's range at the full
    domain (zero pruning)."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id",
        (F.col("user_id") % 1024).alias("bu"),
        (F.expr("unix_micros(ts) div 3600000000") % 1024).alias("bh"),
    )
    return ev.select("event_id", F.expr(_ZVAL_SQL).alias("zval"))


@register(
    "events_zorder_recluster",
    f"""
    SELECT event_id, {_ZVAL_SQL} AS zval
    FROM (
        SELECT event_id, user_id % 1024 AS bu,
               (epoch_us(ts) // 3600000000) % 1024 AS bh
        FROM events
    ) t
    """,
)
def events_zorder_recluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPTIMIZE-after-ingest pass (sources/files.py
    recluster_zorder_committed) registered end-to-end on a local path:
    the events predicate columns land as TWO curve-oblivious appended
    batches (the layout a per-batch streaming writer leaves behind),
    the table is re-clustered onto the Morton curve as its next
    committed generation, and the resolved read-back is checked
    against the IDENTICAL oracle as events_zorder_curve — the physical
    rewrite is proven lossless at the value level while the footer
    pytest pins the layout effect (both dims' per-file spans tighten).
    One sampled range exchange; atomic manifest publish."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id",
        (F.col("user_id") % 1024).alias("bu"),
        (F.expr("unix_micros(ts) div 3600000000") % 1024).alias("bh"),
    )
    base = tempfile.mkdtemp(prefix="zorder_recluster_")
    path = os.path.join(base, "events_z")
    for m in (0, 1):
        ev.where(F.col("event_id") % 2 == m).write.mode("append").parquet(
            path
        )
    recluster_zorder_committed(spark, path, ["bu", "bh"], bits=10, n_files=8)
    back = read_resolved(spark, path)
    return back.select("event_id", F.expr(_ZVAL_SQL).alias("zval"))


@register(
    "events_zorder_committed",
    f"""
    SELECT event_id, {_ZVAL_SQL} AS zval
    FROM (
        SELECT event_id, user_id % 1024 AS bu,
               (epoch_us(ts) // 3600000000) % 1024 AS bh
        FROM events
    ) t
    """,
)
def events_zorder_committed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OBJECT-STORE face of the optimize pass (sources/files.py
    recluster_zorder_committed + sources/manifest.py
    commit_parquet_generation / read_resolved) registered end-to-end —
    the RUNBOOK §5 resolving-reader migration as a driver-gated
    entry: the same two curve-oblivious appended batches land at a
    ``file://`` URI, the recluster plan (the same writer as
    events_zorder_recluster, on a local path there) is committed as an
    immutable manifest-published generation with a keep_last=2 grace
    window (the documented first-commit retention for un-migrated
    readers), and the read-back goes through the thin resolving
    reader every migrated consumer uses.  Checked against the
    IDENTICAL curve oracle as the local-path entry — the URI commit
    proven lossless at the value level."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id",
        (F.col("user_id") % 1024).alias("bu"),
        (F.expr("unix_micros(ts) div 3600000000") % 1024).alias("bh"),
    )
    base = tempfile.mkdtemp(prefix="zorder_committed_")
    path = os.path.join(base, "events_zc")
    for m in (0, 1):
        ev.where(F.col("event_id") % 2 == m).write.mode("append").parquet(
            path
        )
    recluster_zorder_committed(
        spark, f"file://{path}", ["bu", "bh"], bits=10, n_files=8,
        keep_last=2,
    )
    back = read_resolved(spark, f"file://{path}")
    return back.select("event_id", F.expr(_ZVAL_SQL).alias("zval"))


@register(
    "events_zorder_recluster_parts",
    f"""
    SELECT event_id, {_ZVAL_SQL} AS zval
    FROM (
        SELECT event_id, user_id % 1024 AS bu,
               (epoch_us(ts) // 3600000000) % 1024 AS bh
        FROM events
    ) t
    """,
)
def events_zorder_recluster_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PARTITION-SCOPED optimize pass (sources/files.py
    recluster_zorder_partitions) registered end-to-end — the true
    Delta ``OPTIMIZE ... WHERE`` shape the flat recluster refuses to
    imitate: the events curve columns land hive-partitioned with TWO
    curve-oblivious appended batches interleaved INSIDE each
    partition, then only partitions pk=0 and pk=2 are re-sorted onto
    the Morton curve (one pruned read, one range exchange, one
    committed generation) while pk=1/pk=3 are carried into it as byte
    copies (pinned by footer pytest).  The read-back of the WHOLE table is checked
    against the IDENTICAL curve oracle as events_zorder_curve — the
    scoped rewrite is proven lossless at the value level, touched and
    untouched partitions alike."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id",
        (F.col("user_id") % 1024).alias("bu"),
        (F.expr("unix_micros(ts) div 3600000000") % 1024).alias("bh"),
        (F.col("event_id") % 4).alias("pk"),
    )
    base = tempfile.mkdtemp(prefix="zorder_parts_")
    path = os.path.join(base, "events_zp")
    # interleave the fragmenting batches WITHIN each partition (an
    # event_id-parity split would correlate with pk's parity and leave
    # partitions single-batch — no fragmentation to fold)
    for m in (0, 1):
        ev.where(F.expr("event_id div 4") % 2 == m).write.mode(
            "append"
        ).partitionBy("pk").parquet(path)
    recluster_zorder_partitions(
        spark, path, ["bu", "bh"], "pk", partitions=[0, 2], bits=10,
        n_files=4,
    )
    back = read_resolved(spark, path)
    return back.select("event_id", F.expr(_ZVAL_SQL).alias("zval"))


@register(
    "events_user_kmv_distinct",
    """
    WITH dv AS (SELECT DISTINCT event_type, user_id FROM events
                WHERE user_id IS NOT NULL),
    h AS (
        SELECT event_type,
               CAST(('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 13))
                    AS BIGINT)::DOUBLE / 4503599627370496.0 AS frac
        FROM dv
    ),
    r AS (
        SELECT event_type, frac,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY frac) AS rn
        FROM h
    ),
    t AS (
        SELECT event_type, count(*) AS n_tracked, max(frac) AS kth
        FROM r WHERE rn <= 32 GROUP BY 1
    )
    SELECT event_type,
           CAST(n_tracked AS BIGINT) AS n_tracked,
           CASE WHEN n_tracked < 32 THEN n_tracked::DOUBLE
                ELSE 31.0 / kth END AS est_distinct
    FROM t
    """,
)
def events_user_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based distinct counting (functions/sketch.py kmv_distinct):
    distinct users per event type estimated from the 32 minimum sha256
    hash fractions — bounded per-group state regardless of cardinality,
    the scale path for count(DISTINCT).  Deterministic hash => the
    ESTIMATE itself is oracle-exact, demonstrating that approximate
    operators can still be value-gated when the randomness is a seeded/
    keyed hash rather than RNG state."""
    e = load_table(spark, "events", sf_dir)
    return kmv_distinct(e, "event_type", "user_id", k=32)


@register(
    "events_value_percent_rank",
    """
    SELECT event_id, event_type, value,
           percent_rank() OVER (PARTITION BY event_type ORDER BY value)
               AS pr,
           cume_dist() OVER (PARTITION BY event_type ORDER BY value)
               AS cd
    FROM events
    """,
)
def events_value_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank window functions: percent_rank and cume_dist of each
    event's value within its type — the normalization/outlier primitive
    when the distribution is unknown (contrast events_user_zscore's
    parametric form).  Both ride ONE (event_type) shuffle+sort; tied
    values are peers and receive identical ranks on both engines, so tie
    order cannot alter the output."""
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("event_type").orderBy("value")
    return e.select(
        "event_id",
        "event_type",
        "value",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@register(
    "events_rolling_avg_2h",
    """
    SELECT event_id, event_type, ts,
           CAST(sum(CAST(round(value*1000000) AS BIGINT)) OVER (
               PARTITION BY event_type ORDER BY ts
               RANGE BETWEEN INTERVAL 2 HOUR PRECEDING AND CURRENT ROW
           ) AS DOUBLE)/1000000
           / count(*) OVER (
               PARTITION BY event_type ORDER BY ts
               RANGE BETWEEN INTERVAL 2 HOUR PRECEDING AND CURRENT ROW
           ) AS rolling_avg,
           CAST(count(*) OVER (
               PARTITION BY event_type ORDER BY ts
               RANGE BETWEEN INTERVAL 2 HOUR PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_window
    FROM events
    """,
)
def events_rolling_avg_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding RANGE-frame window: per event, the average value over the
    SAME TYPE's trailing 2 hours — the time-based frame (rangeBetween on
    epoch seconds) vs the row-count frames used elsewhere.  One shuffle
    on event_type; the frame bound is data-driven per row, not a fixed
    row count, so bursts widen the window and quiet periods shrink it.
    Both frame aggregates share one window spec/sort.
    Tied timestamps: RANGE frames include ALL peers at the boundary on
    both engines, so tie order cannot change the frame contents.

    The average is an exact bigint micro-unit window sum divided by the
    frame count, NOT avg(double) over the frame: sliding-frame float
    aggregation is ALGORITHM-dependent (Spark's running add/subtract vs
    DuckDB's segment tree disagree by ~5e-14 — measured at sf0.1, where
    it crossed the hash-rounding boundary), and exact integer frame
    sums remove the wobble entirely — the WINDOWED form of the
    stable_sum policy."""
    e = load_table(spark, "events", sf_dir)
    # unix_micros, NOT a seconds cast: the frame key must carry the
    # timestamp's full microsecond precision or the boundary drifts from
    # the oracle's timestamp arithmetic for sub-second event times.
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-7200 * 1_000_000, 0)
    )
    micros = F.round(F.col("value") * F.lit(1e6)).cast("long")
    return e.select(
        "event_id",
        "event_type",
        "ts",
        (
            F.sum(micros).over(w).cast("double")
            / F.lit(1e6)
            / F.count(F.lit(1)).over(w)
        ).alias("rolling_avg"),
        F.count(F.lit(1)).over(w).alias("n_window"),
    )


@register(
    "events_multi_grain_rollup",
    """
    SELECT CASE WHEN GROUPING(day) = 1 THEN 'hour' ELSE 'day' END AS grain,
           coalesce(hour, day) AS bucket_ts,
           count(*)   AS n_events,
           CAST(sum(CAST(round(value*1000000) AS BIGINT)) AS DOUBLE)/1000000
               AS sum_value
    FROM (SELECT date_trunc('hour', ts) AS hour,
                 date_trunc('day', ts)  AS day,
                 value
          FROM events) b
    GROUP BY GROUPING SETS ((hour), (day))
    """,
)
def events_multi_grain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate shape: hourly AND daily
    rollups of the event stream in ONE pass via GROUPING SETS — the
    Expand operator duplicates each row once per grain before a single
    map-side-combining aggregate, so the scan and shuffle are shared
    instead of one job per grain."""
    e = load_table(spark, "events", sf_dir)
    b = e.select(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.date_trunc("day", F.col("ts")).alias("day"),
        "value",
    )
    return (
        b.groupingSets([["hour"], ["day"]], "hour", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_sum(F.col("value")).alias("sum_value"),
            F.grouping("day").alias("_gd"),
        )
        .select(
            F.when(F.col("_gd") == 1, F.lit("hour"))
            .otherwise(F.lit("day"))
            .alias("grain"),
            F.coalesce("hour", "day").alias("bucket_ts"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "events_sessionize",
    """
    WITH g AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT *,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM g
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(ts)  AS session_start,
           max(ts)  AS session_end
    FROM s GROUP BY user_id, session_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min idle -> new session): lag + running
    sum — two window passes over one (user, time) shuffle partitioning."""
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    micros = F.unix_micros(F.col("ts"))
    gap = micros - F.lag(micros).over(w)
    with_flags = e.withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > 1_800_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    sess = with_flags.withColumn(
        "session_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "events_session_window_agg",
    """
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
        SELECT *,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM g
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def events_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session-window aggregation (F.session_window, 30-min gap):
    the streaming-capable twin of the window-function sessionize above —
    the same groupBy runs under a watermark in Structured Streaming with
    state merged per session.  Note the boundary semantics differ from
    the lag-based version: session_window merges events strictly closer
    than the gap (diff < gap), so the oracle's new-session test is >=,
    and a session ENDS at last event + gap (the eviction horizon), not at
    the last event."""
    e = load_table(spark, "events", sf_dir).select("user_id", "ts")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "events_hourly_gapfill_locf",
    """
    WITH b AS (
        SELECT date_trunc('hour', min(ts)) AS h0,
               date_trunc('hour', max(ts)) AS h1
        FROM events
    ),
    t AS (SELECT DISTINCT event_type FROM events),
    grid AS (
        SELECT t.event_type,
               unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS hour
        FROM t CROSS JOIN b
    ),
    agg AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               count(*) AS n, avg(value) AS av
        FROM events GROUP BY 1, 2
    )
    SELECT g.event_type, g.hour,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n_events,
           last_value(a.av IGNORE NULLS) OVER (
               PARTITION BY g.event_type ORDER BY g.hour
               ROWS UNBOUNDED PRECEDING) AS last_avg_value
    FROM grid g LEFT JOIN agg a USING (event_type, hour)
    """,
)
def events_hourly_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly rollup with gap-filling and last-observation-carried-
    forward — the hypertable/time-series resample: every (event_type,
    hour) cell of the full time range exists, silent hours get
    ``n_events = 0``, and ``last_avg_value`` carries the most recent
    observed hourly average forward across gaps (null until the first
    observation, matching SQL semantics on both engines).

    Scale shape: the grid is synthesized, never scanned — global min/max
    hour is a broadcast 1-row aggregate cross-joined onto the distinct
    type list, and ``explode(sequence(...))`` fans it to types x hours
    rows (metadata-sized vs the fact table).  The only fact-table work
    is one hourly groupBy; the gap-fill join keys on (type, hour) where
    the grid side is tiny, so AQE broadcasts it; LOCF is one
    ``last(ignorenulls)`` running window per type — no self-join, no
    per-gap recursion."""
    e = load_table(spark, "events", sf_dir)
    agg = e.groupBy(
        F.col("event_type"), F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("_n"), F.avg("value").alias("_av"))
    bounds = F.broadcast(
        e.agg(
            F.date_trunc("hour", F.min("ts")).alias("h0"),
            F.date_trunc("hour", F.max("ts")).alias("h1"),
        )
    )
    grid = (
        e.select("event_type")
        .distinct()
        .crossJoin(bounds)
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("hour"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(agg, ["event_type", "hour"], "left")
        .select(
            "event_type",
            "hour",
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_events"),
            F.last("_av", ignorenulls=True).over(w).alias("last_avg_value"),
        )
    )


@register(
    "events_capped_per_user",
    """
    SELECT user_id, event_id, event_type, ts FROM (
        SELECT user_id, event_id, event_type, ts,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY substr(sha256(CAST(event_id AS VARCHAR)), 1, 16),
                            event_id) AS rn
        FROM events
    ) t WHERE rn <= 50
    """,
)
def events_capped_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The invocable bot guard (operators/cleaning.py
    cap_events_per_user): at most 50 events per user, sha-of-id chosen —
    the upstream skew defense the funnel/sessionize/z-score docstrings
    point at.  Deterministic on any partition layout (seedless sha
    order), time-unbiased (a first-N-by-ts truncation would keep only a
    bot's earliest history), and it bounds every downstream per-user
    window partition at the cap.  Composes with the funnel in
    test_analytics.py."""
    e = load_table(spark, "events", sf_dir).select(
        "user_id", "event_id", "event_type", "ts"
    )
    return cap_events_per_user(e, cap=50)


@register(
    "events_funnel_conversion",
    """
    WITH s1 AS (
        SELECT user_id, event_id, event_type, ts,
               min(CASE WHEN event_type = 'view' THEN ts END) OVER w AS sv
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    ),
    s2 AS (
        SELECT *,
               min(CASE WHEN event_type = 'click' AND sv IS NOT NULL
                        THEN ts END) OVER w AS qc
        FROM s1
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    ),
    s3 AS (
        SELECT *,
               min(CASE WHEN event_type = 'purchase' AND qc IS NOT NULL
                        THEN ts END) OVER w AS qp
        FROM s2
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    ),
    u AS (
        SELECT user_id,
               max(CASE WHEN sv IS NOT NULL THEN 1 ELSE 0 END) AS r_view,
               max(CASE WHEN qc IS NOT NULL THEN 1 ELSE 0 END) AS r_click,
               max(CASE WHEN qp IS NOT NULL THEN 1 ELSE 0 END) AS r_purchase
        FROM s3 GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT)        AS n_users,
           CAST(sum(r_view) AS BIGINT)     AS n_view,
           CAST(sum(r_click) AS BIGINT)    AS n_view_click,
           CAST(sum(r_purchase) AS BIGINT) AS n_view_click_purchase
    FROM u
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click-after-view -> purchase-after-that):
    how many users progressed through each stage IN ORDER — the product
    analytics staple that a naive per-type count gets wrong (a purchase
    before any view must not count).

    Scale shape: ONE shuffle.  Three chained running-min windows share
    the identical (user_id) partitioning and (ts, event_id) sort, so
    Spark plans a single Exchange+Sort and stacks the Window operators
    on it; the per-user reduction and the final 4-number fold are
    map-side-combined aggregates over already-shrunk rows.  The
    self-join formulation (events x events x events on user + time
    predicates) would be three fact-fact joins — this is the
    window-rewrite that makes funnels feasible at 100 TB.

    Skew note: a pathological user (a bot with 10^8 events) sorts
    through one window task.  The projection is already minimal (4
    narrow columns); the production guard is an upstream per-user event
    cap or bot filter — salting cannot apply to an ordered per-user
    window without breaking the running-min semantics."""
    e = load_table(spark, "events", sf_dir).select(
        "user_id", "event_id", "event_type", "ts"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = F.col("event_type")
    s1 = e.withColumn(
        "sv", F.min(F.when(t == "view", F.col("ts"))).over(w)
    )
    s2 = s1.withColumn(
        "qc",
        F.min(
            F.when((t == "click") & F.col("sv").isNotNull(), F.col("ts"))
        ).over(w),
    )
    s3 = s2.withColumn(
        "qp",
        F.min(
            F.when((t == "purchase") & F.col("qc").isNotNull(), F.col("ts"))
        ).over(w),
    )
    per_user = s3.groupBy("user_id").agg(
        F.max(F.col("sv").isNotNull().cast("int")).alias("r_view"),
        F.max(F.col("qc").isNotNull().cast("int")).alias("r_click"),
        F.max(F.col("qp").isNotNull().cast("int")).alias("r_purchase"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("r_view").cast("long").alias("n_view"),
        F.sum("r_click").cast("long").alias("n_view_click"),
        F.sum("r_purchase").cast("long").alias("n_view_click_purchase"),
    )


@register(
    "events_cohort_retention",
    """
    WITH f AS (
        SELECT user_id, ts,
               min(ts) OVER (PARTITION BY user_id) AS first_ts
        FROM events
    )
    SELECT date_trunc('week', first_ts) AS cohort_week,
           CAST(date_diff('day', CAST(first_ts AS DATE), CAST(ts AS DATE)) // 7
                AS BIGINT) AS week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM f
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-activity week
    (ISO Monday truncation on both engines), counted distinct per
    (cohort_week, weeks-since-first-activity) — the growth-analytics
    triangle.

    Scale shape: two shuffles.  first_ts is a min window over the
    (user_id) partitioning — no events-to-events self-join — and the
    retention fold is a distinct-count groupBy whose key space is tiny
    (weeks x offsets) while the heavy distinct state is partial-merged
    map-side.  Day arithmetic happens on DATEs so the two engines agree
    across DST boundaries."""
    e = load_table(spark, "events", sf_dir).select("user_id", "ts")
    f = e.withColumn(
        "first_ts", F.min("ts").over(Window.partitionBy("user_id"))
    )
    return (
        f.select(
            "user_id",
            F.date_trunc("week", F.col("first_ts")).alias("cohort_week"),
            F.floor(
                F.datediff(F.to_date("ts"), F.to_date("first_ts")) / 7
            ).cast("long").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "events_top_per_user",
    """
    SELECT user_id, event_id, value
    FROM (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY value DESC, event_id) AS rn
        FROM events
    ) t
    WHERE rn <= 3
    """,
)
def events_top_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("user_id", "event_id", "value")
    )


@register(
    "docs_stratified_cap",
    """
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY substr(sha256(CAST(doc_id AS VARCHAR)), 1, 16),
                            doc_id) AS rn
        FROM documents
    ) t WHERE rn <= 10
    """,
)
def docs_stratified_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mixing: cap each source at 10 docs, chosen by
    sha256-of-id order (seedless, partition-independent)."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    return stratified_cap(d, "source", "doc_id", cap=10)


# Per-source sampling rates as a CASE over the source index — the literal
# formula is shared verbatim with the oracle so the mix is reproducible by
# construction.  (A production pipeline would broadcast-join a rates table;
# the sampling predicate itself is identical.)
_MIX_RATE_SQL = (
    "CASE CAST(substring(source, 4) AS INT) % 4"
    " WHEN 0 THEN CAST(1.0 AS DOUBLE)"
    " WHEN 1 THEN CAST(0.5 AS DOUBLE)"
    " WHEN 2 THEN CAST(0.25 AS DOUBLE)"
    " ELSE CAST(0.125 AS DOUBLE) END"
)


@register(
    "docs_domain_mix",
    f"""
    SELECT doc_id, source FROM documents
    WHERE CAST(('0x' || substr(sha256('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT)::DOUBLE / 4294967296.0
          < {_MIX_RATE_SQL.replace("substring", "substr")}
    """,
)
def docs_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mix sampling: each source kept at a per-domain
    rate (1.0/0.5/0.25/0.125 by source index mod 4) via a seedless
    sha256-of-id uniform draw — a pushdown-able narrow filter, no shuffle,
    byte-identical sample on rerun or engine change."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    return rate_sample(d, F.expr(_MIX_RATE_SQL))


@register(
    "docs_temperature_mix",
    f"""
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    m AS (SELECT min(n) AS nmin FROM c),
    r AS (
        SELECT lang,
               round(pow(nmin::DOUBLE / n::DOUBLE, {1.0 - 0.7!r}), 9) AS rate
        FROM c, m
    )
    SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
    WHERE CAST(('0x' || substr(sha256('temp:' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT)::DOUBLE / 4294967296.0 < rate
    """,
)
def docs_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture rebalancing (functions/text.py
    temperature_mix, alpha=0.7) over the genuinely skewed ``lang``
    column (en is ~3x every other language at all SFs): per-language
    keep rates DERIVED from the observed counts — ``(n_min/n_g)^0.3``
    — so expected kept counts follow ``n_g^0.7`` (the multilingual
    sampling policy: the dominant language is damped, the smallest
    kept whole).  The data-dependent complement of docs_domain_mix's
    hand-set rates; one count aggregate + broadcast rates + one narrow
    corpus filter, the corpus never shuffles.  The oracle re-derives
    counts, rates (rounded to 9 decimals so both engines compare
    identical doubles), and the sha-uniform keep decision."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    return temperature_mix(d, group_col="lang", alpha=0.7)


# Cumulative-weight split thresholds computed with EXACTLY the running
# float addition assign_splits performs (0.8, then 0.8 + 0.1 =
# 0.9000000000000001) and embedded via repr — both engines compare the
# sha-uniform draw against bit-identical doubles.
_SPLIT_T1 = 8.0 / 10.0
_SPLIT_T2 = _SPLIT_T1 + 1.0 / 10.0


@register(
    "docs_assign_splits",
    f"""
    SELECT doc_id,
           CASE WHEN draw < {_SPLIT_T1!r} THEN 'train'
                WHEN draw < {_SPLIT_T2!r} THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id,
               CAST(('0x' || substr(sha256('split:' || CAST(doc_id AS VARCHAR)),
                                    1, 8)) AS BIGINT)::DOUBLE / 4294967296.0
                   AS draw
        FROM documents
    ) t
    """,
)
def docs_assign_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment (functions/text.py
    assign_splits, weights 8/1/1): each doc's split is the
    cumulative-weight interval containing its seedless sha-uniform draw
    — an idempotent function of (id, salt), so membership survives any
    cluster layout, rerun, or corpus growth (new docs never move old
    ones across splits; pytest-pinned no-resplit-on-growth property).
    Scale shape: ONE chained-CASE expression over the scan — no
    shuffle, no join, and a downstream per-split filter pushes into the
    scan like any other predicate."""
    d = load_table(spark, "documents", sf_dir).select("doc_id")
    return assign_splits(
        d, {"train": 8.0, "val": 1.0, "test": 1.0}, id_col="doc_id"
    )


@register(
    "docs_pack_sequences",
    f"""
    WITH t AS (
        SELECT doc_id, source, CAST(len({_WORDS}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, n_tokens,
               CAST(sum(n_tokens) OVER (
                   PARTITION BY source
                   ORDER BY substr(sha256(CAST(doc_id AS VARCHAR)), 1, 16),
                            doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tokens AS BIGINT) AS start
        FROM t
    )
    SELECT doc_id, source, n_tokens,
           CAST(floor(start / 512.0) AS BIGINT) AS pack_id,
           start % 512 AS pack_offset
    FROM c
    """,
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining batches: per-source 512-token
    packs over the deterministic sha256-of-id order; one window cumsum,
    one shuffle keyed on source (see functions/text.py for the overflow
    semantics that keep this distributable)."""
    return pack_sequences(
        load_table(spark, "documents", sf_dir), budget=512
    )


@register(
    "docs_training_prep",
    f"""
    WITH f AS (
        SELECT doc_id, source, lang, text FROM documents
        WHERE least(1.0, greatest(0.0,
                  0.5 * ({_stop_ratio_sql('en')})
                + 0.5 * least(1.0, len({_WORDS})::DOUBLE / 50.0)
                - 0.25 * ({_PUNCT_SQL}))) >= 0.35
          AND (CASE WHEN ({_stop_ratio_sql('en')}) >= ({_stop_ratio_sql('de')})
                     AND ({_stop_ratio_sql('en')}) >= ({_stop_ratio_sql('fr')}) THEN 'en'
                    WHEN ({_stop_ratio_sql('de')}) >= ({_stop_ratio_sql('fr')}) THEN 'de'
                    ELSE 'fr' END) = 'en'
    ),
    keepers AS (
        SELECT min(doc_id) AS doc_id
        FROM f GROUP BY substr(sha256(text), 1, 16)
    ),
    s1 AS (SELECT f.* FROM f JOIN keepers USING (doc_id)),
    d AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
        FROM s1
    ),
    pos AS (
        SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
        FROM d WHERE len(w) >= 3
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               concat_ws(' ', w[i+1], w[i+2], w[i+3]) AS gram
        FROM pos
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        FROM grams a JOIN grams b USING (gram)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    dup AS (
        SELECT DISTINCT id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE c::DOUBLE / (sa.sz + sb.sz - c)::DOUBLE >= 0.6
    ),
    s2 AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT id_b FROM dup))
    SELECT doc_id, source, lang FROM (
        SELECT doc_id, source, lang,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY substr(sha256(CAST(doc_id AS VARCHAR)), 1, 16),
                            doc_id) AS rn
        FROM s2
    ) t WHERE rn <= 8
    """,
)
def docs_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship LLM-pipeline composition (plans/training_prep.py): quality
    filter -> lang-id filter -> exact dedup -> EXACT n-gram-Jaccard
    near-dup removal -> per-source stratified cap, as one lazy plan.  The
    oracle re-derives every stage independently (naive all-pairs
    similarity included), so the whole funnel is value-checked, not just
    its stages."""
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "lang", "text"
    )
    return prepare_training_corpus(docs)


@register(
    "docs_training_prep_decontaminated",
    f"""
    WITH f AS (
        SELECT doc_id, source, lang, text FROM documents
        WHERE doc_id % 20 <> 0
          AND least(1.0, greatest(0.0,
                  0.5 * ({_stop_ratio_sql('en')})
                + 0.5 * least(1.0, len({_WORDS})::DOUBLE / 50.0)
                - 0.25 * ({_PUNCT_SQL}))) >= 0.35
          AND (CASE WHEN ({_stop_ratio_sql('en')}) >= ({_stop_ratio_sql('de')})
                     AND ({_stop_ratio_sql('en')}) >= ({_stop_ratio_sql('fr')}) THEN 'en'
                    WHEN ({_stop_ratio_sql('de')}) >= ({_stop_ratio_sql('fr')}) THEN 'de'
                    ELSE 'fr' END) = 'en'
    ),
    keepers AS (
        SELECT min(doc_id) AS doc_id
        FROM f GROUP BY substr(sha256(text), 1, 16)
    ),
    s1 AS (SELECT f.* FROM f JOIN keepers USING (doc_id)),
    bd AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
        FROM documents WHERE doc_id % 20 = 0
    ),
    bpos AS (
        SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
        FROM bd WHERE len(w) >= 3
    ),
    bgrams AS (
        SELECT DISTINCT concat_ws(' ', w[i+1], w[i+2], w[i+3]) AS gram
        FROM bpos
    ),
    cd AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
        FROM s1
    ),
    cpos AS (
        SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
        FROM cd WHERE len(w) >= 3
    ),
    cgrams AS (
        SELECT DISTINCT doc_id,
               concat_ws(' ', w[i+1], w[i+2], w[i+3]) AS gram
        FROM cpos
    ),
    flagged AS (
        SELECT DISTINCT doc_id FROM cgrams
        WHERE gram IN (SELECT gram FROM bgrams)
    ),
    s1d AS (
        SELECT * FROM s1
        WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
    ),
    d AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
        FROM s1d
    ),
    pos AS (
        SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
        FROM d WHERE len(w) >= 3
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               concat_ws(' ', w[i+1], w[i+2], w[i+3]) AS gram
        FROM pos
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        FROM grams a JOIN grams b USING (gram)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    dup AS (
        SELECT DISTINCT id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE c::DOUBLE / (sa.sz + sb.sz - c)::DOUBLE >= 0.6
    ),
    s2 AS (SELECT * FROM s1d WHERE doc_id NOT IN (SELECT id_b FROM dup))
    SELECT doc_id, source, lang FROM (
        SELECT doc_id, source, lang,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY substr(sha256(CAST(doc_id AS VARCHAR)), 1, 16),
                            doc_id) AS rn
        FROM s2
    ) t WHERE rn <= 8
    """,
)
def docs_training_prep_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship funnel with the decontamination stage enabled: every
    20th document plays the held-out benchmark; the remaining corpus runs
    quality -> lang -> exact dedup -> DECONTAMINATE (drop any doc sharing
    a word 3-gram with the benchmark) -> near-dup removal -> stratified
    cap, all one lazy plan.  The oracle re-derives all six stages
    independently."""
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "lang", "text"
    )
    bench = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    return prepare_training_corpus(
        corpus, benchmark=bench, decontam_n=3, decontam_min_hits=1
    )


@register(
    "events_user_type_counts_pandas",
    """
    SELECT user_id, event_type, count(*) AS n
    FROM events GROUP BY user_id, event_type
    """,
)
def events_user_type_counts_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas per-group custom op; result equals plain GROUP BY, so
    the Arrow group-map plumbing itself is oracle-gated."""
    e = load_table(spark, "events", sf_dir)
    return per_group_counts_pandas(e, "user_id", "event_type")


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "events_pivot_type_counts",
    """
    SELECT user_id,
           """
    + ",\n           ".join(
        f"count(CASE WHEN event_type = '{t}' THEN 1 END) AS n_{t}"
        for t in EVENT_TYPES
    )
    + """
    FROM events GROUP BY user_id
    """,
)
def events_pivot_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: long events to one wide row per user.  The explicit value
    list keeps it a single-pass aggregation (no distinct-values pre-scan)."""
    e = load_table(spark, "events", sf_dir)
    pivoted = (
        e.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    renamed = pivoted.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES],
    )
    return renamed


@register(
    "customer_expectations",
    """
    WITH base AS (
        SELECT count(*) AS n,
               sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS v_name,
               sum(CASE WHEN c_acctbal >= 0 THEN 0 ELSE 1 END) AS v_bal,
               sum(CASE WHEN c_mktsegment IN ('AUTOMOBILE','BUILDING',
                        'FURNITURE','HOUSEHOLD','MACHINERY')
                        THEN 0 ELSE 1 END) AS v_seg
        FROM customer
    ),
    uniq AS (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT)
                   AS v
        FROM (SELECT count(*) AS c FROM customer GROUP BY c_custkey) t
    )
    SELECT rule, n_rows, n_violations, n_violations = 0 AS passed FROM (
        SELECT 'name_not_null' AS rule, n AS n_rows,
               CAST(v_name AS BIGINT) AS n_violations FROM base
        UNION ALL
        SELECT 'acctbal_non_negative', n, CAST(v_bal AS BIGINT) FROM base
        UNION ALL
        SELECT 'known_segment', n, CAST(v_seg AS BIGINT) FROM base
        UNION ALL
        SELECT 'unique:c_custkey', n, v FROM uniq
    ) r
    """,
)
def customer_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation suite (operators/audit.py
    validate_expectations): three row predicates aggregated in ONE pass
    (each rule is a sum(case) column, not its own count job) plus the
    uniqueness rule's single extra key-grouped pass.  The
    acctbal_non_negative rule FAILS on this data by design — negative
    balances exist — proving the violation counter counts rather than
    rubber-stamps."""
    c = load_table(spark, "customer", sf_dir)
    return validate_expectations(
        c,
        {
            "name_not_null": F.col("c_name").isNotNull(),
            "acctbal_non_negative": F.col("c_acctbal") >= 0,
            "known_segment": F.col("c_mktsegment").isin(
                "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                "MACHINERY",
            ),
        },
        unique_keys=["c_custkey"],
    )


@register(
    "customers_k_anonymity",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_risky_groups,
           CAST(coalesce(sum(CASE WHEN c < 5 THEN c END), 0) AS BIGINT)
               AS n_risky_rows
    FROM (SELECT count(*) AS c FROM customer
          GROUP BY c_mktsegment, c_nationkey) g
    """,
)
def customers_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy screen (operators/audit.py k_anonymity_stats): customers
    grouped by the (mktsegment, nationkey) quasi-identifier pair; groups
    under k=5 members are re-identification risks.  One QI groupBy +
    a 1-row fold over the group counts."""
    c = load_table(spark, "customer", sf_dir)
    return k_anonymity_stats(c, ["c_mktsegment", "c_nationkey"], k=5)


@register(
    "events_join_key_skew",
    """
    WITH k AS (SELECT CAST(user_id AS VARCHAR) AS key_value
               FROM events WHERE user_id IS NOT NULL),
    c AS (SELECT key_value, count(*) AS cnt FROM k GROUP BY 1),
    t AS (SELECT count(*) AS total FROM k)
    SELECT key_value, cnt, cnt::DOUBLE / t.total AS share
    FROM c CROSS JOIN t
    ORDER BY cnt DESC, key_value LIMIT 10
    """,
)
def events_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key hot-spot report (operators/joins.py
    join_key_skew_report): the top-10 hottest user_id values of the
    events fact table with their share of all keyed rows — the
    diagnostic run BEFORE choosing a skew mitigation (salted_join /
    salted_join_sides / AQE thresholds).  One map-side-combined
    groupBy, a broadcast scalar total, a TakeOrdered — group-sized
    after the scan."""
    e = load_table(spark, "events", sf_dir)
    return join_key_skew_report(e, "user_id", top_n=10)


# Shared by events_value_drift (batch operator) and events_drift_report
# (streamed monitor log read back cumulatively) — two engine paths, ONE
# truth: the streamed path must reproduce the batch PSI bit-for-bit.
_PSI_EVENTS_SQL = f"""
    WITH r AS (SELECT value AS v FROM events
               WHERE event_type = 'click' AND value IS NOT NULL),
    c AS (SELECT value AS v FROM events
          WHERE event_type = 'purchase' AND value IS NOT NULL),
    cuts AS (
        SELECT quantile_cont(v,
                             [{', '.join(repr(p) for p in _QBUCKET_PROBS)}])
                   AS cs
        FROM r
    ),
    rb AS (SELECT 1 + len(list_filter(cuts.cs, x -> r.v >= x)) AS bucket
           FROM r CROSS JOIN cuts),
    cb AS (SELECT 1 + len(list_filter(cuts.cs, x -> c.v >= x)) AS bucket
           FROM c CROSS JOIN cuts),
    rc AS (SELECT bucket, count(*) AS rcnt FROM rb GROUP BY 1),
    cc AS (SELECT bucket, count(*) AS ccnt FROM cb GROUP BY 1),
    j AS (
        SELECT coalesce(rc.bucket, cc.bucket) AS bucket,
               coalesce(rcnt, 0) AS rcnt, coalesce(ccnt, 0) AS ccnt
        FROM rc FULL OUTER JOIN cc ON rc.bucket = cc.bucket
    ),
    tot AS (SELECT sum(rcnt) AS rt, sum(ccnt) AS ct FROM j)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           greatest(rcnt::DOUBLE / rt, 1e-06) AS p_ref,
           greatest(ccnt::DOUBLE / ct, 1e-06) AS p_cur,
           (greatest(ccnt::DOUBLE / ct, 1e-06)
            - greatest(rcnt::DOUBLE / rt, 1e-06))
           * ln(greatest(ccnt::DOUBLE / ct, 1e-06)
                / greatest(rcnt::DOUBLE / rt, 1e-06)) AS psi_part
    FROM j CROSS JOIN tot
    ORDER BY bucket
    """


@register("events_value_drift", _PSI_EVENTS_SQL)
def events_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor (operators/audit.py
    population_stability_index): PSI of purchase-event values against
    the click-event reference over the reference's exact decile
    buckets — the scheduled "did this distribution move?" check next
    to the expectation suite.  Cutpoints are one reference aggregate
    broadcast back; each side folds to 10 bucket counts map-side; the
    PSI parts are computed on the bucket-count join — everything after
    the two scans is bucket-sized.  Empty buckets floor at the
    repr-shared eps so the log stays finite."""
    e = load_table(spark, "events", sf_dir)
    return population_stability_index(
        e.where(F.col("event_type") == "click"),
        e.where(F.col("event_type") == "purchase"),
        F.col("value"),
        n_buckets=10,
    )


@register("events_drift_report", _PSI_EVENTS_SQL)
def events_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMED drift monitor read back (streaming/pipeline.py
    streaming_drift_monitor + drift_report): purchase events arrive as
    a stream and each micro-batch folds into a replay-safe
    bucket-count log against the click reference frozen in the _ref
    sidecar; the report's CUMULATIVE last row-set is then exactly the
    batch operator run on everything ingested — checked against the
    IDENTICAL oracle as events_value_drift, so the two engine paths
    (batch diff and per-ingest monitor) are proven to share one truth.
    Selecting the cumulative final batch makes the entry independent
    of how the file source happened to split micro-batches.  Per
    batch the monitor sees the batch's rows exactly once (map-side
    fold to ≤ n_buckets count rows); the report itself is
    bucket-count-sized at any corpus volume."""
    e = load_table(spark, "events", sf_dir)
    base = tempfile.mkdtemp(prefix="drift_monitor_")
    out = os.path.join(base, "log")
    q = streaming_drift_monitor(
        stream_events(spark, sf_dir).where(
            F.col("event_type") == "purchase"
        ),
        e.where(F.col("event_type") == "click"),
        "value",
        out,
        os.path.join(base, "ckpt"),
        n_buckets=10,
    )
    q.awaitTermination()
    rep = drift_report(spark, out, cumulative=True)
    last = rep.agg(F.max("_batch_id")).collect()[0][0]
    return rep.where(F.col("_batch_id") == F.lit(last)).select(
        "bucket", "p_ref", "p_cur", "psi_part"
    )


@register(
    "events_streaming_drift_by_seg",
    f"""
    WITH r AS (SELECT user_id % 3 AS seg, value AS v FROM events
               WHERE event_type = 'click' AND value IS NOT NULL
                 AND user_id IS NOT NULL),
    c AS (SELECT user_id % 3 AS seg, value AS v FROM events
          WHERE event_type = 'purchase' AND value IS NOT NULL
            AND user_id IS NOT NULL),
    cuts AS (
        SELECT seg,
               quantile_cont(v,
                             [{', '.join(repr(p) for p in _QBUCKET_PROBS)}])
                   AS cs
        FROM r GROUP BY seg
    ),
    rb AS (SELECT r.seg,
                  1 + len(list_filter(cuts.cs, x -> r.v >= x)) AS bucket
           FROM r JOIN cuts USING (seg)),
    cb AS (SELECT c.seg,
                  1 + len(list_filter(cuts.cs, x -> c.v >= x)) AS bucket
           FROM c JOIN cuts USING (seg)),
    rc AS (SELECT seg, bucket, count(*) AS rcnt FROM rb GROUP BY 1, 2),
    cc AS (SELECT seg, bucket, count(*) AS ccnt FROM cb GROUP BY 1, 2),
    j AS (
        SELECT coalesce(rc.seg, cc.seg) AS seg,
               coalesce(rc.bucket, cc.bucket) AS bucket,
               coalesce(rcnt, 0) AS rcnt, coalesce(ccnt, 0) AS ccnt
        FROM rc FULL OUTER JOIN cc
        ON rc.seg = cc.seg AND rc.bucket = cc.bucket
    ),
    tot AS (SELECT seg, sum(rcnt) AS rt, sum(ccnt) AS ct
            FROM j GROUP BY seg)
    SELECT j.seg, CAST(bucket AS BIGINT) AS bucket,
           greatest(rcnt::DOUBLE / rt, 1e-06) AS p_ref,
           greatest(ccnt::DOUBLE / ct, 1e-06) AS p_cur,
           (greatest(ccnt::DOUBLE / ct, 1e-06)
            - greatest(rcnt::DOUBLE / rt, 1e-06))
           * ln(greatest(ccnt::DOUBLE / ct, 1e-06)
                / greatest(rcnt::DOUBLE / rt, 1e-06)) AS psi_part
    FROM j JOIN tot USING (seg)
    ORDER BY 1, 2
    """,
)
def events_streaming_drift_by_seg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SEGMENTED streaming drift monitor end-to-end
    (streaming/pipeline.py streaming_drift_monitor(by=...) +
    drift_report): purchase events stream in, each micro-batch folds
    to per-(segment, bucket) counts against per-segment cutpoints
    frozen from the click reference in the _ref sidecar, and the
    report (which discovers the segmentation from the sidecar — no
    ``by`` restated at read time) is read cumulatively at its final
    batch — exactly the batch segmented operator on everything
    ingested, which the oracle replays with a grouped quantile_cont.
    Completes the drift story's symmetry: global/segmented x
    batch/streamed, every face sharing psi_ref_cuts /
    psi_bucket_counts / psi_parts so none can drift from the
    others."""
    e = load_table(spark, "events", sf_dir).where(
        F.col("user_id").isNotNull()
    )
    seg = (F.col("user_id") % 3).alias("seg")
    base = tempfile.mkdtemp(prefix="drift_monitor_seg_")
    out = os.path.join(base, "log")
    q = streaming_drift_monitor(
        stream_events(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .where(F.col("user_id").isNotNull())
        .select(seg, "value"),
        e.where(F.col("event_type") == "click").select(seg, "value"),
        "value",
        out,
        os.path.join(base, "ckpt"),
        n_buckets=10,
        by=["seg"],
    )
    q.awaitTermination()
    rep = drift_report(spark, out, cumulative=True)
    last = rep.agg(F.max("_batch_id")).collect()[0][0]
    return rep.where(F.col("_batch_id") == F.lit(last)).select(
        "seg", "bucket", "p_ref", "p_cur", "psi_part"
    )


@register(
    "events_value_drift_by_type",
    f"""
    WITH r AS (SELECT event_type AS seg, value AS v FROM events
               WHERE event_id % 2 = 0 AND value IS NOT NULL
                 AND event_type IS NOT NULL),
    c AS (SELECT event_type AS seg, value AS v FROM events
          WHERE event_id % 2 = 1 AND value IS NOT NULL
            AND event_type IS NOT NULL),
    cuts AS (
        SELECT seg,
               quantile_cont(v,
                             [{', '.join(repr(p) for p in _QBUCKET_PROBS)}])
                   AS cs
        FROM r GROUP BY seg
    ),
    rb AS (SELECT r.seg,
                  1 + len(list_filter(cuts.cs, x -> r.v >= x)) AS bucket
           FROM r JOIN cuts USING (seg)),
    cb AS (SELECT c.seg,
                  1 + len(list_filter(cuts.cs, x -> c.v >= x)) AS bucket
           FROM c JOIN cuts USING (seg)),
    rc AS (SELECT seg, bucket, count(*) AS rcnt FROM rb GROUP BY 1, 2),
    cc AS (SELECT seg, bucket, count(*) AS ccnt FROM cb GROUP BY 1, 2),
    j AS (
        SELECT coalesce(rc.seg, cc.seg) AS seg,
               coalesce(rc.bucket, cc.bucket) AS bucket,
               coalesce(rcnt, 0) AS rcnt, coalesce(ccnt, 0) AS ccnt
        FROM rc FULL OUTER JOIN cc
        ON rc.seg = cc.seg AND rc.bucket = cc.bucket
    ),
    tot AS (SELECT seg, sum(rcnt) AS rt, sum(ccnt) AS ct
            FROM j GROUP BY seg)
    SELECT j.seg AS event_type, CAST(bucket AS BIGINT) AS bucket,
           greatest(rcnt::DOUBLE / rt, 1e-06) AS p_ref,
           greatest(ccnt::DOUBLE / ct, 1e-06) AS p_cur,
           (greatest(ccnt::DOUBLE / ct, 1e-06)
            - greatest(rcnt::DOUBLE / rt, 1e-06))
           * ln(greatest(ccnt::DOUBLE / ct, 1e-06)
                / greatest(rcnt::DOUBLE / rt, 1e-06)) AS psi_part
    FROM j JOIN tot USING (seg)
    ORDER BY 1, 2
    """,
)
def events_value_drift_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENTED drift (operators/audit.py
    population_stability_index_by): PSI of an even/odd event split
    computed independently per event_type — the monitor shape that
    catches a drift CONFINED to one segment, which the global PSI
    dilutes below its thresholds when the segment is small (a
    property test drives that scenario explicitly).  Each segment
    buckets against its OWN reference cutpoints, computed in ONE
    grouped percentile aggregate and broadcast back on the segment
    key; both sides fold to ≤ |segments| x n_buckets count rows and
    the parts come from ONE grouped psi_parts plan — per-segment
    results bit-equal to running the global operator once per slice
    (pinned in tests)."""
    e = load_table(spark, "events", sf_dir).where(
        F.col("event_type").isNotNull()
    )
    return population_stability_index_by(
        e.where(F.col("event_id") % 2 == 0),
        e.where(F.col("event_id") % 2 == 1),
        F.col("value"),
        by=["event_type"],
        n_buckets=10,
    )


@register(
    "customer_unpivot_metrics",
    """
    SELECT c_custkey, 'c_acctbal' AS metric, c_acctbal::DOUBLE AS value
    FROM customer
    UNION ALL
    SELECT c_custkey, 'c_nationkey', c_nationkey::DOUBLE FROM customer
    """,
)
def customer_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide -> long), the inverse of the pivot operator:
    per-customer numeric columns become (key, metric, value) rows via the
    native ``DataFrame.unpivot`` — an Expand-style fan-out with no
    shuffle, the shape feature stores and metric pipelines ingest."""
    c = load_table(spark, "customer", sf_dir).select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
        F.col("c_nationkey").cast("double").alias("c_nationkey"),
    )
    return c.unpivot(
        ["c_custkey"], ["c_acctbal", "c_nationkey"], "metric", "value"
    )


@register(
    "events_json_props",
    """
    SELECT event_type,
           CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: extract a field from the JSON props
    string and aggregate — `get_json_object` stays JVM-side (codegen), the
    pattern for sparse metadata columns at scale.

    `try_cast`, not `cast`: under Spark 4's default ANSI mode a single
    malformed value would fail the whole job; at 100 TB a dirty metadata
    row must degrade to NULL (sum skips it), never kill the pipeline.
    Pinned by test_json_props_null_and_nonnumeric_rows."""
    e = load_table(spark, "events", sf_dir)
    return e.groupBy("event_type").agg(
        F.sum(
            F.get_json_object(F.col("props"), "$.k").try_cast("long")
        ).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "events_variant_props",
    """
    SELECT event_type,
           CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME aggregation through Spark 4's VariantType: parse the JSON
    once into the binary variant encoding, then `variant_get` typed paths
    out of it.  For ONE extracted field this ties with get_json_object;
    the variant encoding wins when many fields are extracted from the
    same column (parse once, probe many — get_json_object re-parses the
    string per call) and it is the natural on-disk format for
    semi-structured columns going forward.  Identical oracle as
    events_json_props: two engine paths, one truth."""
    e = load_table(spark, "events", sf_dir)
    v = F.parse_json(F.col("props"))
    return e.groupBy("event_type").agg(
        F.sum(
            F.try_variant_get(v, "$.k", "long")
        ).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Structured Streaming: the same aggregations maintained incrementally by
# micro-batches (availableNow backfill).  Results equal their batch
# equivalents, so even the streaming operators are oracle-gated.
# ---------------------------------------------------------------------------


@register(
    "events_streaming_hourly",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*)   AS n_events,
           CAST(sum(CAST(round(value*1000000) AS BIGINT)) AS DOUBLE)/1000000
               AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_available_now(
        hourly_agg_stream(stream_events(spark, sf_dir)),
        output_mode="complete",
        source_paths=(os.path.join(sf_dir, "events.parquet"),),
    )


@register(
    "events_streaming_user_counts",
    "SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id",
)
def events_streaming_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stateful_user_counts(spark, sf_dir)


@register(
    "events_streaming_enriched_segments",
    """
    SELECT coalesce(c.c_mktsegment, 'unknown') AS segment,
           e.event_type,
           count(*) AS n_events,
           CAST(sum(CAST(round(e.value*1000000) AS BIGINT)) AS DOUBLE)/1000000
               AS sum_value
    FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
)
def events_streaming_enriched_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-static enrichment (streaming/pipeline.py
    stream_static_enrichment): the event stream joins the BATCH customer
    dimension per micro-batch (broadcast, no stream shuffle) and rolls
    up per (mktsegment, event_type).  availableNow backfill equals the
    batch join+aggregate, so the streaming operator is oracle-gated
    like its batch peers; unmatched users degrade to 'unknown', and the
    value sum is micro-unit-exact so micro-batch arrival order cannot
    wobble the emitted double."""
    ev = stream_events(spark, sf_dir).select("user_id", "event_type", "value")
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_mktsegment"
    )
    return run_available_now(
        stream_static_enrichment(
            ev, cust, "user_id", "c_custkey", "c_mktsegment"
        ),
        output_mode="complete",
        source_paths=(os.path.join(sf_dir, "events.parquet"),),
    )


@register(
    "events_streaming_dedup",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def events_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup-on-arrival: first occurrence per (user, type) key
    over the micro-batched stream equals batch DISTINCT — so even the
    streaming dedup operator is oracle-gated."""
    return run_available_now(
        streaming_dedup(
            stream_events(spark, sf_dir), ["user_id", "event_type"]
        ),
        output_mode="append",
        source_paths=(os.path.join(sf_dir, "events.parquet"),),
    )


@register(
    "events_streaming_rollup",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*)   AS n_events,
           CAST(sum(CAST(round(value*1000000) AS BIGINT)) AS DOUBLE)/1000000
               AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance (streaming/pipeline.py
    streaming_rollup_upsert): the stream's micro-batch partials are
    merge-summed into a materialized hourly rollup parquet; after the
    availableNow backfill the serving table equals the batch hourly
    aggregate — which is exactly what the oracle checks."""
    base = tempfile.mkdtemp(prefix="stream_rollup_")
    out = os.path.join(base, "rollup")
    q = streaming_rollup_upsert(
        stream_events(spark, sf_dir).select("ts", "event_type", "value"),
        out,
        os.path.join(base, "ckpt"),
    )
    q.awaitTermination()
    # the materialized table carries exact micro-units; convert on read
    return read_resolved(spark, out).select(
        "hour",
        "event_type",
        "n_events",
        (F.col("sum_value_micros").cast("double") / F.lit(1e6)).alias(
            "sum_value"
        ),
    )


@register(
    "events_streaming_rollup_serving",
    """
    WITH r AS (
        SELECT date_trunc('hour', ts) AS hour, event_type,
               count(*) AS n,
               CAST(sum(CAST(round(value*1000000) AS BIGINT)) AS DOUBLE)/1000000
                   AS sv
        FROM events GROUP BY 1, 2
    ),
    b AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM r),
    t AS (SELECT DISTINCT event_type FROM r),
    grid AS (
        SELECT t.event_type,
               unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS hour
        FROM t CROSS JOIN b
    )
    SELECT g.event_type, g.hour,
           CAST(coalesce(r.n, 0) AS BIGINT) AS n_events,
           last_value(r.sv / r.n IGNORE NULLS) OVER (
               PARTITION BY g.event_type ORDER BY g.hour
               ROWS UNBOUNDED PRECEDING) AS last_avg_value
    FROM grid g LEFT JOIN r USING (event_type, hour)
    """,
)
def events_streaming_rollup_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-aggregate SERVING pipeline end to end — the
    TimescaleDB "continuous aggregate + time_bucket_gapfill" pattern on
    Spark primitives: the stream merge-sums micro-batch partials into a
    materialized hourly rollup (streaming/pipeline.py
    streaming_rollup_upsert), and the serving view densifies THAT
    rollup — every (event_type, hour) cell exists, silent hours read 0,
    and the hourly average carries forward across gaps.

    Scale shape: the streaming side never re-scans history (rollup-sized
    merges); the densify side touches only the ROLLUP (dimension-scale),
    synthesizing the grid from broadcast min/max bounds — the raw stream
    is never read twice.  The oracle replays the whole composition as
    batch SQL: equality proves the materialized rollup plus gap-fill is
    indistinguishable from a direct dense aggregate of all arrived
    events."""
    base = tempfile.mkdtemp(prefix="stream_rollup_serve_")
    out = os.path.join(base, "rollup")
    q = streaming_rollup_upsert(
        stream_events(spark, sf_dir).select("ts", "event_type", "value"),
        out,
        os.path.join(base, "ckpt"),
    )
    q.awaitTermination()
    rollup = read_resolved(spark, out)

    bounds = F.broadcast(
        rollup.agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    )
    grid = (
        rollup.select("event_type")
        .distinct()
        .crossJoin(bounds)
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("hour"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return grid.join(rollup, ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        F.last(
            F.col("sum_value_micros").cast("double")
            / F.lit(1e6)
            / F.col("n_events"),
            ignorenulls=True,
        ).over(w).alias("last_avg_value"),
    )


@register(
    "events_streaming_attribution",
    """
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
    FROM events p JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND p.user_id = c.user_id
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
    """,
)
def events_streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval self-join (streaming/pipeline.py
    stream_stream_attribution): purchases joined to the same user's clicks
    within the preceding hour.  Inner interval joins emit eagerly, so the
    availableNow backfill equals the batch interval join the oracle runs."""
    ev = stream_events(spark, sf_dir)
    return run_available_now(
        stream_stream_attribution(ev),
        output_mode="append",
        source_paths=(os.path.join(sf_dir, "events.parquet"),),
    )


# ---------------------------------------------------------------------------
# Temporal joins (operators/temporal.py): as-of and bucketed range join.
# ---------------------------------------------------------------------------


@register(
    "events_asof_last_purchase",
    """
    SELECT l.event_id, l.user_id, l.event_type, l.ts,
           r.ts    AS matched_ts,
           r.value AS last_purchase_value
    FROM (SELECT event_id, user_id, event_type, ts FROM events
          WHERE event_type <> 'purchase') l
    ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value FROM events
                    WHERE event_type = 'purchase' GROUP BY 1, 2) r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def events_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each non-purchase event picks up the value and time of
    the same user's most recent purchase at-or-before it (NULL when none
    yet).  Engine: union + one keyed window scan (one Exchange total);
    oracle: DuckDB's native ASOF LEFT JOIN — an independent
    implementation of the same semantics.

    Same tied-timestamp contract as events_asof_cogrouped — which tied
    row an ASOF JOIN picks is implementation-defined, so both sides pin
    ties to max(value).  The oracle pre-aggregates (DuckDB's tie choice
    is arbitrary); the ENGINE instead resolves ties inside the as-of
    window via ``tie_break`` ordering — same result, no extra Exchange
    (a groupBy pre-aggregation would shuffle on (user_id, ts) before
    the window's user_id shuffle; the one-Exchange plan is pinned)."""
    e = load_table(spark, "events", sf_dir)
    left = e.where(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "event_type", "ts"
    )
    right = (
        e.where(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.col("value").alias("last_purchase_value"))
    )
    return as_of_join(
        left, right, on="user_id", tie_break="last_purchase_value"
    )


@register(
    "events_asof_cogrouped",
    """
    SELECT l.event_id, l.user_id, l.event_type, l.ts,
           r.ts    AS matched_ts,
           r.value AS last_purchase_value
    FROM (SELECT event_id, user_id, event_type, ts FROM events
          WHERE event_type <> 'purchase') l
    ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value FROM events
                    WHERE event_type = 'purchase' GROUP BY 1, 2) r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def events_asof_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME as-of semantics as events_asof_last_purchase, computed
    through the cogrouped-map Arrow crossing (functions/pandas_ops.py
    asof_join_cogrouped: groupBy.cogroup.applyInPandas + pd.merge_asof).
    Kept alongside the expression version deliberately: identical oracle,
    two independent implementations — and the docstring there says when
    to use which.

    The right side is pre-aggregated to ONE row per (user_id, ts) —
    max(value) — on BOTH engine and oracle: the operator's contract
    requires unique (by, right_on) pairs, because tied-timestamp
    selection is otherwise unpinned in SQL's ASOF JOIN (DuckDB picks an
    arbitrary tied row; pd.merge_asof picks the last after sort) and the
    comparison would be nondeterministic on adversarial data."""
    e = load_table(spark, "events", sf_dir)
    left = e.where(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "event_type", "ts"
    )
    right = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    return asof_join_cogrouped(
        left,
        right,
        by="user_id",
        left_on="ts",
        right_on="ts",
        value_col="value",
        out_schema=(
            "event_id long, user_id long, event_type string, ts timestamp, "
            "matched_ts timestamp, value double"
        ),
    ).withColumnRenamed("value", "last_purchase_value")


@register(
    "events_attribution_windows",
    """
    SELECT l.event_id, l.user_id, l.event_type,
           r.event_id AS purchase_event_id
    FROM (SELECT event_id, user_id, event_type, ts FROM events
          WHERE event_type IN ('click', 'view')) l
    JOIN (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id
     AND l.ts >= r.ts AND l.ts < r.ts + INTERVAL 1 HOUR
    """,
)
def events_attribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: attribute each click/view to every purchase of the same
    user whose 1-hour post-purchase window contains it.  Engine: interval
    bucketing turns the range predicate into an equi-join on (user,
    hour-bucket) — never a nested-loop; oracle: the naive range-predicate
    join (fine at sf0.01, exactly what the bucketing avoids at scale)."""
    e = load_table(spark, "events", sf_dir)
    left = e.where(F.col("event_type").isin("click", "view")).select(
        "event_id", "user_id", "event_type", "ts"
    )
    right = (
        e.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event_id"),
            "user_id",
            F.col("ts").alias("window_start"),
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("window_end"),
        )
    )
    return range_join(
        left, right, on="user_id", ts_col="ts",
        start_col="window_start", end_col="window_end",
        bucket_seconds=3600,
    ).select("event_id", "user_id", "event_type", "purchase_event_id")


# ---------------------------------------------------------------------------
# Decontamination, blocklist masking, label centroids
# (functions/dedup.py, functions/text.py, functions/similarity.py).
# ---------------------------------------------------------------------------


@register(
    "docs_contamination",
    """
    WITH d AS (
        SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS w
        FROM documents
    ),
    pos AS (
        SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
        FROM d WHERE len(w) >= 3
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               concat_ws(' ', w[i+1], w[i+2], w[i+3]) AS gram
        FROM pos
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0)
    SELECT g.doc_id, count(*) AS n_contaminated_grams
    FROM grams g JOIN bench USING (gram)
    WHERE g.doc_id % 20 <> 0
    GROUP BY 1
    """,
)
def docs_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination screening: every 20th document plays the
    role of the held-out eval set; each remaining corpus document counts
    how many of its distinct word 3-grams leak from it.  Engine: the
    benchmark gram vocabulary is broadcast, so the corpus gram stream
    never shuffles for the membership test (functions/dedup.py
    contamination_counts); oracle: plain inner join on distinct grams —
    equivalent because both gram sets are distinct."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    return contamination_counts(corpus, bench, n=3)


@register(
    "docs_repeated_spans",
    """
    WITH d AS (
        SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS w
        FROM documents
    ),
    pos AS (
        SELECT doc_id, w, unnest(range(0, len(w) - 4)) AS i
        FROM d WHERE len(w) >= 5
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               concat_ws(' ', w[i+1], w[i+2], w[i+3], w[i+4], w[i+5]) AS gram
        FROM pos
    ),
    freq AS (
        SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
        FROM grams
    )
    SELECT doc_id,
           count(*) AS n_spans,
           CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_spans,
           sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*)
               AS shared_frac
    FROM freq GROUP BY doc_id
    """,
)
def docs_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplication screen (functions/dedup.py
    repeated_span_stats): per document, the count and fraction of its
    distinct 5-word spans that appear in >=2 documents — the
    cross-document boilerplate/memorization signal whole-doc dedup never
    sees.  Span document-frequency is a window over the distinct
    (doc, gram) rows; no join back to the corpus."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return repeated_span_stats(docs, n=5, min_docs=2)


_CROSS_DOC_SPANS_SQL = """
    WITH d AS (
        SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS w
        FROM documents
    ),
    pos AS (
        SELECT doc_id, w, unnest(range(0, len(w) - 7)) AS i
        FROM d WHERE len(w) >= 8
    ),
    occ AS (
        SELECT doc_id, i AS pos, array_to_string(w[i+1:i+8], ' ') AS gram
        FROM pos
    ),
    dup AS (
        SELECT gram FROM occ GROUP BY gram
        HAVING count(DISTINCT doc_id) >= 3
    ),
    hits AS (SELECT o.doc_id, o.pos FROM occ o JOIN dup USING (gram)),
    isl AS (
        SELECT doc_id, pos,
               CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id
                                              ORDER BY pos) + 8
                    THEN 1 ELSE 0 END AS brk
        FROM hits
    ),
    grp AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS g
        FROM isl
    ),
    spans AS (
        SELECT doc_id, min(pos) AS span_start,
               max(pos) - min(pos) + 8 AS span_tokens
        FROM grp GROUP BY doc_id, g
    )
"""


@register(
    "docs_cross_doc_spans",
    _CROSS_DOC_SPANS_SQL
    + """
    SELECT s.doc_id, s.span_start, s.span_tokens,
           array_to_string(d.w[s.span_start+1 : s.span_start+s.span_tokens],
                           ' ') AS span_text
    FROM spans s JOIN d USING (doc_id)
    """,
)
def docs_cross_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring dedup (functions/dedup.py
    cross_doc_spans), Lee et al. 2022 style: per document, every maximal
    token span whose 8-token passages occur in >=3 distinct documents —
    the corpus-level "same passage in 40k docs" boilerplate modality
    that Jaccard and containment joins both miss (high set-similarity is
    never reached when two long documents share one paragraph).  Gram
    document frequency is a groupBy (map-side combined — boilerplate
    grams are skewed by design), the join-back is threshold-pruned, the
    island merge windows over hit positions only."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return cross_doc_spans(docs, k=8, min_docs=3)


@register(
    "docs_strip_cross_doc_spans",
    _CROSS_DOC_SPANS_SQL
    + """,
    tok AS (
        SELECT doc_id, i, w[i+1] AS t
        FROM (SELECT doc_id, w, unnest(range(0, len(w))) AS i FROM d)
    ),
    keep AS (
        SELECT t.doc_id, t.i, t.t FROM tok t
        WHERE NOT EXISTS (
            SELECT 1 FROM spans s
            WHERE s.doc_id = t.doc_id
              AND t.i >= s.span_start
              AND t.i < s.span_start + s.span_tokens)
    ),
    agg AS (
        SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS clean_text
        FROM keep GROUP BY doc_id
    ),
    rem AS (
        SELECT doc_id, sum(span_tokens) AS tokens_removed
        FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.clean_text, '') AS clean_text,
           CAST(coalesce(r.tokens_removed, 0) AS BIGINT) AS tokens_removed
    FROM d
    LEFT JOIN agg a USING (doc_id)
    LEFT JOIN rem r USING (doc_id)
    """,
)
def docs_strip_cross_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup applied (functions/dedup.py
    strip_cross_doc_spans): duplicated passages removed, surrounding
    text kept — strip the boilerplate, keep the document.  Output is
    token-space (lowercased, single-space-joined); documents with no
    duplicated span pass through with only that normalization."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return strip_cross_doc_spans(docs, k=8, min_docs=3)


@register(
    "docs_decontaminate",
    """
    WITH d AS (
        SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS w
        FROM documents
    ),
    pos AS (
        SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
        FROM d WHERE len(w) >= 3
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               concat_ws(' ', w[i+1], w[i+2], w[i+3]) AS gram
        FROM pos
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0),
    flagged AS (
        SELECT DISTINCT doc_id FROM grams
        WHERE doc_id % 20 <> 0 AND gram IN (SELECT gram FROM bench)
    )
    SELECT doc_id, source, lang FROM documents
    WHERE doc_id % 20 <> 0
      AND doc_id NOT IN (SELECT doc_id FROM flagged)
    """,
)
def docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consuming half of the contamination screen: DROP every corpus
    document leaking >=1 distinct word 3-gram from the benchmark split
    (every 20th doc), keeping the rest.  Engine: broadcast gram screen ->
    AQE-decided anti-join (functions/dedup.py decontaminate); oracle:
    NOT IN over the flagged-id set."""
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "lang", "text"
    )
    bench = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    return decontaminate(corpus, bench, n=3, min_hits=1).select(
        "doc_id", "source", "lang"
    )


@register(
    "docs_mask_terms",
    r"""
    SELECT doc_id,
           regexp_replace(text, '\b(spark|join|merge)\b', '[MASKED]', 'g')
               AS masked_text,
           len(regexp_extract_all(text, '\b(spark|join|merge)\b'))::BIGINT
               AS n_masked
    FROM documents
    """,
)
def docs_mask_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist term masking (the C4 'dirty word' / PII-redaction shape):
    replace every whole-word blocklist hit with a mask token and emit the
    per-document hit count.  One regexp_replace + regexp_extract_all over
    the scan — narrow, shuffle-free, codegen'd; the identical RE2/Java
    pattern runs verbatim in the DuckDB oracle."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return mask_terms(docs, ["spark", "join", "merge"])


@register(
    "docs_redact_pii",
    r"""
    WITH aug AS (
        SELECT doc_id,
               concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                      '@example.com tel 555-',
                      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'),
                      '-0199 ip 10.0.', CAST(doc_id % 256 AS VARCHAR),
                      '.7') AS text
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g')
               AS redacted_text,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
               AS n_email,
           len(regexp_extract_all(text,
               '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))::BIGINT AS n_phone,
           len(regexp_extract_all(text,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ipv4
    FROM aug
    """,
)
def docs_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (functions/text.py redact_pii): emails, phones, and
    IPv4s replaced with class tokens + per-class hit counts.  The corpus
    carries no natural PII, so the query injects a deterministic fake
    email/phone/IP per document (built from doc_id) before redacting —
    both engine and oracle construct the identical augmented text, so the
    scrub itself is what's value-checked."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    did = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            did.cast("string"),
            F.lit("@example.com tel 555-"),
            F.lpad((did % 1000).cast("string"), 3, "0"),
            F.lit("-0199 ip 10.0."),
            (did % 256).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    return redact_pii(aug)


@register(
    "emb_label_centroids",
    """
    WITH ex AS (
        SELECT label,
               unnest(range(0, len(embedding))) AS dim,
               embedding
        FROM embeddings
    )
    SELECT label, dim,
           avg(embedding[dim + 1]::DOUBLE) AS mean_val,
           count(*) AS n_vecs
    FROM ex
    GROUP BY 1, 2
    """,
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long form (label, dim, mean_val,
    n_vecs): posexplode fans vectors into coordinates, one map-side-
    combining groupBy bounds the shuffle at n_labels x dim rows per task —
    class prototypes over billions of vectors without a driver-side
    collect."""
    emb = load_table(spark, "embeddings", sf_dir).select("label", "embedding")
    return label_centroids(emb)


@register(
    "emb_quantize_int8",
    """
    WITH x AS (
        SELECT vec_id,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
        FROM embeddings
    ),
    s AS (
        SELECT vec_id, xd,
               greatest(list_max(list_transform(xd, v -> abs(v))), 1e-12)
                   / 127.0 AS scale
        FROM x
    ),
    pos AS (
        SELECT vec_id, xd, scale, unnest(range(0, len(xd))) AS dim FROM s
    )
    SELECT vec_id, scale, dim,
           CAST(round(xd[dim + 1] / scale) AS INTEGER) AS q
    FROM pos
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column
    (functions/similarity.py quantize_int8), exploded to (vec_id, scale,
    dim, q) long form so the oracle compares every quantized coordinate.
    The operator itself is expression-only and shuffle-free (scale +
    rounded quotients computed in the scan stage); double arithmetic on
    both engines makes the int8 values bit-exact, not
    tolerance-matched."""
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    q = quantize_int8(emb)
    return q.select(
        "vec_id", "scale", F.posexplode("qvec").alias("dim", "q")
    )


@register(
    "events_user_zscore",
    """
    SELECT event_id, user_id, value,
           (value - avg(value) OVER w) / stddev_pop(value) OVER w AS zscore
    FROM events
    WINDOW w AS (PARTITION BY user_id)
    QUALIFY stddev_pop(value) OVER w > 0
    """,
)
def events_user_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score standardization of event values — the
    feature-normalization / anomaly-scoring primitive (outliers are a
    downstream ``zscore > k`` filter; the threshold is left out of the
    operator so the emitted row set is float-noise-proof).  ONE
    partition-bound window computes mean and population stddev together
    over the same (user_id) shuffle; single-valued or constant users
    (stddev 0) drop out on both engines rather than emitting NaN/null
    divergently."""
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id")
    sd = F.stddev_pop("value").over(w)
    return (
        e.select(
            "event_id",
            "user_id",
            "value",
            ((F.col("value") - F.avg("value").over(w)) / sd).alias("zscore"),
            sd.alias("_sd"),
        )
        .where(F.col("_sd") > 0)
        .drop("_sd")
    )


# --- round 14: zone-map file skipping, scheduled maintenance, fuzzy ER ---


@register(
    "events_zone_map_scan",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value*1000000) AS BIGINT)) AS DOUBLE)/1000000
               AS sum_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <= TIMESTAMP '2024-01-20 00:00:00'
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_zone_map_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-SKIPPING reads on plain parquet (sources/manifest.py
    write_zone_maps / zone_map_scan) registered end-to-end — the
    Delta add-file-stats half of the data-skipping story, completing
    what the z-order family started: the layout passes make per-file
    min/max TIGHT, this makes them visible at PLANNING time.  Parquet
    footers already carry row-group stats, but the scan only sees
    them after listing + opening every file — at 100 TB / ~10^5
    files that is 10^5 object-store GETs per query; the `_zonemap`
    sidecar (one small parquet per generation, committed atomically
    with the data) answers the overlap question in ONE read, and the
    footer pruning still applies inside the kept files.  Here: the
    events table lands range-clustered on ts as a manifest-committed
    generation with (ts, value) zone maps; a 10-day range aggregate
    through zone_map_scan touches ~3/8 of the files (pytest-pinned)
    and is checked against the oracle running the SAME predicate over
    the FULL table — skipping proven lossless, not just fast.  The
    re-applied predicate makes the result equal the full filtered
    scan BY CONSTRUCTION; the oracle match proves the pruning never
    dropped an overlapping file."""
    from airflow_etl_minio_to_postgres_spark.sources.manifest import (
        commit_parquet_generation,
        zone_map_scan,
    )

    ev = load_table(spark, "events", sf_dir)
    base = tempfile.mkdtemp(prefix="zone_map_")
    root = f"file://{os.path.join(base, 'events_zm')}"
    staged = ev.repartitionByRange(8, "ts").sortWithinPartitions("ts")
    commit_parquet_generation(
        spark, staged, root, zone_map_cols=("ts", "value")
    )
    pruned = zone_map_scan(
        spark,
        root,
        {"ts": ("2024-01-10 00:00:00", "2024-01-20 00:00:00")},
    )
    return (
        pruned.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            stable_sum(F.col("value")).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "docs_maintenance_cycle",
    """
    SELECT 'inverted' AS kind,
           1 AS manifest_seq,
           0 AS n_issues,
           1 AS view_refreshed,
           count(*) AS n_docs_served
    FROM documents
    """,
)
def docs_maintenance_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scheduled-maintenance CRON BODY (sources/manifest.py
    maintenance_cycle) registered end-to-end — where docs_index_fsck
    proves the fsck diagnostic, this proves the COMPOSITION a
    production deployment actually schedules: compact (one manifest
    commit: immutable generation -> atomic publish -> retention GC)
    -> fsck the result under the SAME keep_last=2 grace window ->
    refresh the resolving view only on a clean report, so SQL/catalog
    consumers flip to the new generation exactly when it is proven
    servable (a wedged index keeps serving its previous generation —
    the abort-before-view guard is pytest-pinned).  The emitted row
    is the cycle's own receipt: manifest seq 1 (a fresh legacy index
    gained exactly one committed generation), zero fsck issues, view
    refreshed, and the number of DISTINCT documents servable THROUGH
    THE REFRESHED VIEW equal to the corpus count the oracle re-derives
    — catalog readers see every document after the flip.  The index is
    rebuilt per call on purpose: the cycle MUTATES its index, so a
    memo would make the receipt depend on rotation order."""
    from functools import partial

    from airflow_etl_minio_to_postgres_spark.sources.manifest import (
        maintenance_cycle,
    )

    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="maint_cycle_")
    path = os.path.join(base, "index")
    write_inverted_index(d, path, n_buckets=64)
    rep = maintenance_cycle(
        spark,
        path,
        partial(compact_inverted_index, compact_seq=0),
        keep_last=2,
        view_name="maint_cycle_docs_idx",
    )
    served = spark.table("maint_cycle_docs_idx").select(
        F.countDistinct("doc_id").alias("n_docs_served")
    )
    report = spark.createDataFrame(
        [
            (
                rep["kind"],
                int(rep["manifest_seq"]),
                len(rep["issues"]),
                1 if rep.get("view_refreshed") else 0,
            )
        ],
        "kind string, manifest_seq int, n_issues int, view_refreshed int",
    )
    return report.crossJoin(served)


_FUZZY_PAIRS_SQL = """
    WITH c AS (
        SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer
    ),
    fuzzy AS (
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS distance
        FROM c a JOIN c b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_mktsegment = b.c_mktsegment
         AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 2
    )
"""


@register(
    "customer_fuzzy_pairs",
    _FUZZY_PAIRS_SQL
    + """
    SELECT id_a, id_b, distance FROM fuzzy ORDER BY id_a, id_b
    """,
)
def customer_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity matching (functions/linkage.py
    blocked_fuzzy_pairs) — record linkage's candidate-match stage:
    customers in the same (nation, segment) BLOCK whose names are
    within 2 Levenshtein edits.  Blocking bounds the quadratic the
    same way LSH bands do for near-dup (one equi-join shuffle on the
    block key, per-block |b|^2 is the cost unit, hot blocks salt like
    hot bands); the match stage is threshold-bounded Levenshtein
    (O(d*len) per pair, DP abandoned at the bound) behind a free
    length-delta prefilter.  All JVM expressions, zero Python.  The
    oracle runs UNBOUNDED levenshtein over the same blocks — matching
    results prove the bounded DP + prefilter exact, not just fast."""
    from airflow_etl_minio_to_postgres_spark.functions.linkage import (
        blocked_fuzzy_pairs,
    )

    # the table arrives as ONE file at test SFs -> one scan task runs
    # the whole pair loop; a round-robin spread restores parallelism.
    # Guarded on the actual partition count so a production-scale
    # many-partition scan never pays a gratuitous full shuffle.
    c = _spread(load_table(spark, "customer", sf_dir))
    return blocked_fuzzy_pairs(
        c,
        id_col="c_custkey",
        name_col="c_name",
        block_cols=["c_nationkey", "c_mktsegment"],
        max_distance=2,
    ).orderBy("id_a", "id_b")


@register(
    "customer_entity_clusters",
    _FUZZY_PAIRS_SQL.replace("WITH ", "WITH RECURSIVE ", 1)
    + """,
    edges AS (
        SELECT id_a AS u, id_b AS v FROM fuzzy
        UNION
        SELECT id_b AS u, id_a AS v FROM fuzzy
    ),
    reach(n, m) AS (
        SELECT u AS n, u AS m FROM (SELECT DISTINCT u FROM edges) t
        UNION
        SELECT r.n, e.v AS m FROM reach r JOIN edges e ON e.u = r.m
    ),
    comp AS (SELECT n AS k, min(m) AS cid FROM reach GROUP BY n)
    SELECT c.c_custkey, coalesce(comp.cid, c.c_custkey) AS entity_id
    FROM c LEFT JOIN comp ON comp.k = c.c_custkey
    ORDER BY c_custkey
    """,
)
def customer_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity formation over the fuzzy matches (functions/linkage.py
    entity_clusters): transitive closure — A~B, B~C merges all three
    even with no direct A~C edge — labeling every customer with the
    min reachable custkey as its entity id; unmatched customers label
    themselves.  Reuses the near-dup min-label machinery
    (graph.assign_clusters: checkpointed edges, 1-row convergence
    aggregate per iteration, component table broadcast back so the
    full record set never reshuffles).  The oracle is an independent
    recursive-CTE closure over the SAME match set."""
    from airflow_etl_minio_to_postgres_spark.functions.linkage import (
        blocked_fuzzy_pairs,
        entity_clusters,
    )

    c = _spread(load_table(spark, "customer", sf_dir))
    pairs = blocked_fuzzy_pairs(
        c,
        id_col="c_custkey",
        name_col="c_name",
        block_cols=["c_nationkey", "c_mktsegment"],
        max_distance=2,
    )
    return entity_clusters(c, pairs, id_col="c_custkey").orderBy(
        "c_custkey"
    )


# --- round 15: time travel + snapshot diff registered, CDC-to-lakehouse,
# --- salted fuzzy ER ---


@register(
    "events_time_travel_diff",
    """
    WITH t AS (
        SELECT count(*) AS total,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS clicks
        FROM events
    )
    SELECT u.ch AS _change, t.clicks AS n, t.total AS as_of_rows,
           2 AS n_snapshots
    FROM t, (SELECT 'added' AS ch UNION ALL SELECT 'removed') u
    ORDER BY _change
    """,
)
def events_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL + COMMIT AUDIT registered end-to-end
    (sources/manifest.py snapshots / read_snapshot / snapshot_diff) —
    the Delta VERSION-AS-OF + DESCRIBE-HISTORY half of the lakehouse
    story the round-14 commit protocol built: generations are
    immutable and the keep_last grace window retains history, so
    yesterday's exact table is one read and what a commit CHANGED is
    one diff.  Here: the events table commits as generation 1, a
    second commit perturbs every 'click' row (value shifted — an
    update is remove+add under multiset diff semantics), and the
    receipt is the diff GROUPED by change direction riding the AS-OF
    row count of snapshot 1 and the retained-snapshot count: clicks
    appear added AND removed (the update), the as-of read still sees
    every pre-commit row, both retained manifests list.  The oracle
    re-derives all three from the input table alone — the protocol
    must neither lose nor invent rows.  Rebuilt per call on purpose:
    the entry MUTATES its table, so a memo would make the receipt
    rotation-order-dependent."""
    from airflow_etl_minio_to_postgres_spark.sources.manifest import (
        commit_parquet_generation,
        read_snapshot,
        snapshot_diff,
        snapshots,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "value"
    )
    base = tempfile.mkdtemp(prefix="time_travel_")
    root = f"file://{os.path.join(base, 'events_tt')}"
    commit_parquet_generation(spark, ev, root, keep_last=2)
    perturbed = ev.withColumn(
        "value",
        F.when(
            F.col("event_type") == "click", F.col("value") + F.lit(1.0)
        ).otherwise(F.col("value")),
    )
    commit_parquet_generation(spark, perturbed, root, keep_last=2)
    as_of = read_snapshot(spark, root, 1).select(
        F.count(F.lit(1)).alias("as_of_rows")
    )
    n_snaps = F.lit(len(snapshots(spark, root))).cast("int")
    return (
        snapshot_diff(spark, root, 1, 2)
        .groupBy("_change")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(as_of)
        .withColumn("n_snapshots", n_snaps)
        .orderBy("_change")
    )


@register(
    "customers_cdc_lakehouse",
    """
    WITH n AS (
        SELECT
            CAST(sum(CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n0,
            CAST(sum(CASE WHEN c_custkey % 3 = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n1,
            CAST(sum(CASE WHEN c_custkey % 3 = 2 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n2
        FROM customer
    )
    SELECT 'added' AS _change, n0 + n2 AS n_rows,
           n0 + n2 AS n_keys FROM n
    UNION ALL
    SELECT 'removed', n0 + n1, n0 + n1 FROM n
    ORDER BY _change
    """,
)
def customers_cdc_lakehouse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-TO-LAKEHOUSE composition (operators/scd.py apply_cdc ->
    sources/manifest.py commit_parquet_generation, audited by
    snapshot_diff) — ties the medallion/CDC story to the round-14
    commit protocol on one generic table, the way
    docs_maintenance_cycle tied it to serving indexes: the customer
    snapshot commits as generation 1, the SAME deterministic feed as
    customers_cdc_applied (two updates where the later seq must win,
    update-then-delete where the delete must win, inserts under new
    keys) applies in-engine and commits as generation 2, and
    snapshot_diff(1, 2) is the audit: the diff must equal the feed's
    NET effect — updates appear as one removed + one added row per
    key, deletes as removed only, inserts as added only — which the
    oracle re-derives from the input table's key population alone.
    Both row and distinct-key counts ride the receipt (an update that
    duplicated rows would split them).  Rebuilt per call: the entry
    mutates its table."""
    from airflow_etl_minio_to_postgres_spark.sources.manifest import (
        commit_parquet_generation,
        snapshot_diff,
    )

    c = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    base = tempfile.mkdtemp(prefix="cdc_lake_")
    root = f"file://{os.path.join(base, 'customer_dim')}"
    commit_parquet_generation(spark, c, root, keep_last=2)

    # the customers_cdc_applied feed, verbatim (kept inline: sharing a
    # helper would couple the two entries' rotation identities)
    key = F.col("c_custkey")

    def feed(pred, bal, op, seq, keyexpr=key):
        return c.where(pred).select(
            keyexpr.alias("c_custkey"),
            "c_name",
            bal.alias("c_acctbal"),
            "c_mktsegment",
            F.lit(op).alias("op"),
            F.lit(seq).alias("seq"),
        )

    bal = F.col("c_acctbal")
    changes = (
        feed(key % 3 == 0, bal + 100, "U", 1)
        .unionByName(feed(key % 3 == 0, bal + 200, "U", 2))
        .unionByName(feed(key % 3 == 1, bal, "U", 1))
        .unionByName(feed(key % 3 == 1, bal, "D", 2))
        .unionByName(feed(key % 3 == 2, bal, "I", 1, keyexpr=key + 100000))
    )
    commit_parquet_generation(
        spark, apply_cdc(c, changes, ["c_custkey"]), root, keep_last=2
    )
    return (
        snapshot_diff(spark, root, 1, 2)
        .groupBy("_change")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("c_custkey").alias("n_keys"),
        )
        .orderBy("_change")
    )


@register(
    "customer_fuzzy_pairs_salted",
    _FUZZY_PAIRS_SQL
    + """
    SELECT id_a, id_b, distance FROM fuzzy ORDER BY id_a, id_b
    """,
)
def customer_fuzzy_pairs_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fuzzy-ER candidate join under the HOT-BLOCK knob
    (functions/linkage.py blocked_fuzzy_pairs max_block_size -> the
    shared dedup.salted_band_sides mechanism): blocks larger than the
    cap split into id-hash-salted sub-groups with the build side
    replicated, so a Zipf-hot blocking key (one dominant city/zip —
    the realistic ER input) spreads over ceil(m/cap) tasks instead of
    grinding one straggler (the same lesson the streaming near-dup
    sink's 275 s hot band taught).  Salting is EXACT — every pair
    still meets exactly once — so this entry shares
    customer_fuzzy_pairs' oracle verbatim: the driver proves the
    salted physical plan bit-equal to the unsalted semantics at gate
    SF (the cap of 8 is below every (nation, segment) block's size
    there, so the salt path is genuinely exercised, not a no-op)."""
    from airflow_etl_minio_to_postgres_spark.functions.linkage import (
        blocked_fuzzy_pairs,
    )

    c = _spread(load_table(spark, "customer", sf_dir))
    return blocked_fuzzy_pairs(
        c,
        id_col="c_custkey",
        name_col="c_name",
        block_cols=["c_nationkey", "c_mktsegment"],
        max_distance=2,
        max_block_size=8,
    ).orderBy("id_a", "id_b")


@register(
    "events_bloom_point_lookup",
    """
    SELECT event_id, event_type, value
    FROM events
    WHERE event_id IN (7, 77, 777)
    ORDER BY event_id
    """,
)
def events_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER point-lookup file skipping registered end-to-end
    (sources/manifest.py write_bloom_filters / bloom_point_scan) —
    the second half of the data-skipping story: zone maps answer
    range overlap, which is useless for an equality probe on a
    high-cardinality key over a HASH-distributed layout (every
    file's [min, max] spans the domain — exactly how this entry lays
    the table out, on purpose); the per-file Bloom sidecar answers
    "may this file contain the key?" with zero false negatives, so
    fetch-these-records-by-key touches ~1 file per key instead of
    all of them (pytest-pinned: 3 keys over 8 files scan <= 3).
    Sparse bitmap words (sized by set bits, never by the 2^20-bit
    domain), positions from the engine's own JVM xxhash64 at the
    column's native type, the isin predicate re-applied so false
    positives never leak rows — the oracle runs the SAME lookup over
    the full table, proving the pruning lossless.  Rebuilt per call:
    the entry commits its own table."""
    from airflow_etl_minio_to_postgres_spark.sources.manifest import (
        bloom_point_scan,
        commit_parquet_generation,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "value"
    )
    base = tempfile.mkdtemp(prefix="bloom_lookup_")
    root = f"file://{os.path.join(base, 'events_bloom')}"
    commit_parquet_generation(
        spark, ev.repartition(8), root, bloom_cols=("event_id",)
    )
    return bloom_point_scan(
        spark, root, "event_id", [7, 77, 777]
    ).orderBy("event_id")


@register(
    "events_skipping_scan_combined",
    """
    SELECT event_id, event_type, value
    FROM events
    WHERE event_id IN (300, 500, 3000, 5000, 30000, 50000)
      AND ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <= TIMESTAMP '2024-01-20 00:00:00'
    ORDER BY event_id
    """,
)
def events_skipping_scan_combined(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COMBINED file skipping (sources/manifest.py skipping_scan) —
    the real query shape: "these keys, in this date window" runs both
    sidecar tests in one planner — the _zonemap overlap test on the
    ts range and the _bloom containment test on the key set — and
    scans only the INTERSECTION of their survivors (each sidecar can
    only remove provably-empty files, so intersecting is exact).
    The layout serves both prunings at once: range-clustered on ts
    (tight per-file [min, max] for the zone test) with per-file
    Bloom filters on event_id (key containment regardless of
    clustering).  The full conjunctive predicate is re-applied, and
    the oracle runs the SAME conjunction over the full table —
    pruning proven lossless.  Event ids ride event time in the test
    corpus, so the key ladder (300..50000) lands SOME keys inside the
    10-day window and leaves others bloom-passing but zone-pruned or
    absent entirely at EVERY scale factor — both pruning directions
    are genuinely exercised wherever the driver runs it.  Rebuilt per
    call: the entry commits its own table."""
    from airflow_etl_minio_to_postgres_spark.sources.manifest import (
        commit_parquet_generation,
        skipping_scan,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "ts", "value"
    )
    base = tempfile.mkdtemp(prefix="skip_combined_")
    root = f"file://{os.path.join(base, 'events_skip')}"
    commit_parquet_generation(
        spark,
        ev.repartitionByRange(8, "ts").sortWithinPartitions("ts"),
        root,
        zone_map_cols=("ts",),
        bloom_cols=("event_id",),
    )
    return (
        skipping_scan(
            spark,
            root,
            ranges={"ts": ("2024-01-10 00:00:00", "2024-01-20 00:00:00")},
            keys={"event_id": [300, 500, 3000, 5000, 30000, 50000]},
        )
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    )


# --- round 16: restore registered, generic pruned reads, committed gold ---


@register(
    "events_restore_snapshot",
    """
    SELECT CAST(0 AS BIGINT)               AS diff_rows,
           3                               AS n_snapshots,
           (SELECT count(*) FROM events)   AS restored_rows,
           (SELECT count(*) FROM events
            WHERE event_id BETWEEN 100 AND 2999
              AND user_id IN (7, 8, 46))   AS pruned_rows
    """,
)
def events_restore_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE registered end-to-end (sources/manifest.py
    restore_snapshot — the Delta RESTORE shape, r15 verdict item 3):
    the undo for a bad compaction or poisoned ingest.  The events
    table commits as generation 1 (range-clustered on event_id, zone
    maps on event_id + blooms on user_id), a poisoned commit perturbs
    every 'click' value as generation 2, and restore_snapshot(seq=1)
    re-commits snapshot 1 as generation 3 through the normal atomic
    publish, rebuilding both sidecars for the restored generation.
    The receipt the oracle re-derives from the input table alone:
    snapshot_diff(1, 3) is EMPTY (restore is value-exact — zero rows
    lost or invented), all three generations stay retained under
    keep_last=3 (the source snapshot survives its own restore for
    auditing), the resolving read serves every original row, and a
    combined zone-and-bloom skipping_scan through the RESTORED
    generation returns exactly the full-scan predicate count — the
    rebuilt sidecars prune losslessly.  Rebuilt per call: the entry
    mutates its table (a memo would make receipts
    rotation-order-dependent)."""
    from airflow_etl_minio_to_postgres_spark.sources.manifest import (
        commit_parquet_generation,
        read_resolved,
        restore_snapshot,
        skipping_scan,
        snapshot_diff,
        snapshots,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    base = tempfile.mkdtemp(prefix="restore_")
    root = f"file://{os.path.join(base, 'events_restore')}"
    commit_parquet_generation(
        spark,
        ev.repartitionByRange(8, "event_id").sortWithinPartitions(
            "event_id"
        ),
        root,
        keep_last=3,
        zone_map_cols=("event_id",),
        bloom_cols=("user_id",),
    )
    poisoned = ev.withColumn(
        "value",
        F.when(
            F.col("event_type") == "click", F.col("value") + F.lit(1000.0)
        ).otherwise(F.col("value")),
    )
    commit_parquet_generation(spark, poisoned, root, keep_last=3)
    restore_snapshot(
        spark,
        root,
        1,
        keep_last=3,
        zone_map_cols=("event_id",),
        bloom_cols=("user_id",),
    )
    diff_rows = snapshot_diff(spark, root, 1, 3).count()
    n_snapshots = len(snapshots(spark, root))
    restored_rows = read_resolved(spark, root).count()
    pruned_rows = skipping_scan(
        spark,
        root,
        ranges={"event_id": (100, 2999)},
        keys={"user_id": [7, 8, 46]},
    ).count()
    return spark.createDataFrame(
        [(diff_rows, n_snapshots, restored_rows, pruned_rows)],
        "diff_rows long, n_snapshots int, restored_rows long, "
        "pruned_rows long",
    )


@register(
    "events_read_resolved_pruned",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_id BETWEEN 1000 AND 4999
      AND user_id IN (7, 8, 46)
    ORDER BY event_id
    """,
)
def events_read_resolved_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERIC-CONSUMER file skipping (sources/manifest.py
    read_resolved ranges=/keys= — r15 verdict item 4): the resolving
    reader every plain-parquet consumer already uses gains the
    zone-map ∩ bloom planning path without a second entry point, so a
    predicate-bearing read touches only survivor files instead of the
    generation's full inventory (at object-store scale: ~k file opens
    instead of one GET per footer).  The table commits range-clustered
    on event_id (tight per-file zone bounds) with blooms on user_id;
    the read carries BOTH predicate kinds and the result is checked
    ROW-LEVEL against the oracle running the same conjunction over the
    full table — pruning proven lossless on values, not just counts.
    Rebuilt per call: the entry commits its own table."""
    from airflow_etl_minio_to_postgres_spark.sources.manifest import (
        commit_parquet_generation,
        read_resolved,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    base = tempfile.mkdtemp(prefix="resolved_pruned_")
    root = f"file://{os.path.join(base, 'events_resolved')}"
    commit_parquet_generation(
        spark,
        ev.repartitionByRange(8, "event_id").sortWithinPartitions(
            "event_id"
        ),
        root,
        zone_map_cols=("event_id",),
        bloom_cols=("user_id",),
    )
    return (
        read_resolved(
            spark,
            root,
            ranges={"event_id": (1000, 4999)},
            keys={"user_id": [7, 8, 46]},
        )
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    )


@register(
    "medallion_gold_hoa_committed",
    _MEDALLION_CTE + "SELECT DISTINCT hoa_key, hoa, hoa_flag FROM keyed",
)
def medallion_gold_hoa_committed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's own gold output through the MANIFEST PROTOCOL
    (plans/medallion.py write_medallion commit_keep_last= — r15
    verdict item 5): the hoa dimension lands as an immutable
    ``_gen-<seq>`` behind the atomic publish instead of the plain
    overwrite, so the core reference surface (gold task,
    dag_etl_minio_to_postgres.py:365-597) gains time travel,
    snapshot_diff rerun audits, and crash safety — the same upgrade
    customers_cdc_lakehouse gave the CDC path.  The QA audit
    (observe_quality + min_rows gate) rides the committed write's
    single scan unchanged.  Checked against the IDENTICAL oracle as
    medallion_gold_hoa: the protocol detour must be value-invisible
    to consumers.  Rerun idempotence (second commit, empty
    snapshot_diff) is pytest-pinned."""
    from airflow_etl_minio_to_postgres_spark.plans.medallion import (
        MedallionResult,
        write_medallion,
    )
    from airflow_etl_minio_to_postgres_spark.sources.manifest import (
        read_resolved,
    )

    res = _run_demo_medallion(spark, sf_dir)
    trimmed = MedallionResult(
        silver=res.silver,
        field_config=res.field_config,
        gold={"hoa": res.gold["hoa"]},
    )
    base = tempfile.mkdtemp(prefix="gold_committed_")
    write_medallion(trimmed, base, commit_keep_last=2)
    return read_resolved(spark, os.path.join(base, "gold", "hoa"))


# --- round 17: lookup_join registered, committed surrogate-id gold ---


@register(
    "events_lookup_join",
    """
    WITH probes(event_id, tag) AS (
        VALUES (7, 'a'), (77, 'b'), (777, 'c'), (77, 'd'), (NULL, 'e')
    )
    SELECT
      (SELECT count(*) FROM events
       WHERE event_id IN (7, 77, 777))                     AS semi_rows,
      TRUE                                                 AS semi_matches_filter,
      (SELECT count(*) FROM events e
       JOIN probes p ON e.event_id = p.event_id)           AS inner_rows,
      (SELECT CAST(sum(e.event_id) AS BIGINT) FROM events e
       JOIN probes p ON e.event_id = p.event_id)           AS inner_key_sum,
      (SELECT count(DISTINCT p.tag) FROM events e
       JOIN probes p ON e.event_id = p.event_id)           AS matched_tags,
      TRUE                                                 AS semi_pruned_files_lt_full
    """,
)
def events_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The probe-DATAFRAME point lookup as a planner decision
    (sources/manifest.py lookup_join — r16 verdict item 3): the
    choice the bloom_point_scan docs told users to make by hand
    ("row-set-sized lookups should be a join") made first class.  A
    probe side at or under BLOOM_PROBE_CAP distinct keys (one bounded
    distinct-limit aggregation — the planning cost) collects and
    rides the bloom-pruned scan; above the cap it is the join Spark's
    own planner sizes against the resolved read (pytest pins both
    sides of the cap).  This entry exercises the below-cap planner on
    a committed, bloom-sidecar'd events table with a probe frame that
    carries DUPLICATE keys (77 twice) and a NULL key, and its receipt
    is oracle-rederived from the input table alone: the semi form's
    row count equals `WHERE event_id IN (...)`; the semi result is
    engine-checked value-equal (exceptAll both ways) against the
    UNPRUNED filtered scan — pruning proven lossless; the inner form
    multiplies matches per duplicate probe (inner join semantics) and
    never matches the NULL key, pinned by exact-integer aggregates
    (row count, key sum, matched-tag count); and the semi scan
    touched strictly FEWER files than the generation's inventory —
    the pruned-vs-full receipt, re-derived engine-side per call.
    Rebuilt per call: the entry commits its own table."""
    from airflow_etl_minio_to_postgres_spark.sources.manifest import (
        commit_parquet_generation,
        lookup_join,
        read_resolved,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    base = tempfile.mkdtemp(prefix="lookup_join_")
    root = f"file://{os.path.join(base, 'events_lookup')}"
    commit_parquet_generation(
        spark, ev.repartition(8), root, bloom_cols=("event_id",)
    )
    probes = spark.createDataFrame(
        [(7, "a"), (77, "b"), (777, "c"), (77, "d"), (None, "e")],
        "event_id long, tag string",
    )
    semi = lookup_join(spark, root, probes, "event_id", how="semi")
    full = read_resolved(spark, root)
    plain = full.where(F.col("event_id").isin([7, 77, 777]))
    # Multiset equality + semi row count in ONE job (r18, guide §6 /
    # VERDICT #6 — the r17 form still ran three: semi.count,
    # plain.count, exceptAll.count, evaluating each scan twice): tag
    # semi rows +1 and plain rows -1, group by ALL columns, and the
    # multisets are equal iff every group's tag-sum is 0 — exactly the
    # property exceptAll-both-ways checks (same null-safe, binary-exact
    # grouping semantics), while sum-of-(+1)s is |semi|.  The receipt's
    # truth value is unchanged for every input.
    cols = plain.columns
    tagged = semi.select(*cols, F.lit(1).alias("_t")).unionByName(
        plain.select(*cols, F.lit(-1).alias("_t"))
    )
    rec = (
        tagged.groupBy(*cols)
        .agg(
            F.sum("_t").alias("_d"),
            F.sum(F.when(F.col("_t") == 1, 1).otherwise(0)).alias("_ns"),
        )
        .agg(
            F.coalesce(F.sum("_ns"), F.lit(0)).alias("_semi_rows"),
            F.coalesce(F.sum(F.abs(F.col("_d"))), F.lit(0)).alias("_mm"),
        )
        .first()
    )
    semi_rows = rec["_semi_rows"]
    semi_matches = rec["_mm"] == 0
    pruned_lt_full = len(set(semi.inputFiles())) < len(set(full.inputFiles()))
    inner = lookup_join(spark, root, probes, "event_id", how="inner")
    got = inner.agg(
        F.count(F.lit(1)).alias("inner_rows"),
        F.sum("event_id").alias("inner_key_sum"),
        F.countDistinct("tag").alias("matched_tags"),
    ).first()
    return spark.createDataFrame(
        [
            (
                semi_rows,
                bool(semi_matches),
                got["inner_rows"],
                got["inner_key_sum"],
                got["matched_tags"],
                bool(pruned_lt_full),
            )
        ],
        "semi_rows long, semi_matches_filter boolean, inner_rows long, "
        "inner_key_sum long, matched_tags long, "
        "semi_pruned_files_lt_full boolean",
    )


@register(
    "medallion_gold_property_committed",
    _MEDALLION_CTE
    + """
    SELECT i.property_id, k.natural_key, k.property_key, k.hoa_key,
           k.taxes_key, k.property_title, k.zip, k.market
    FROM keyed k LEFT JOIN ids i USING (property_key)
    """,
)
def medallion_gold_property_committed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SURROGATE-ID gold table through the manifest protocol
    (r16 verdict item 4): property is the table whose T12 id
    assignment + T13 key->id join-back make rerun idempotence
    NON-TRIVIAL — the empty-diff proof only holds if ids are
    deterministic across reruns (they are: dense row_number over the
    sorted distinct key set, never an insert-order accident like the
    reference's SERIAL), and that determinism is what lets a
    committed gold rerun audit itself with snapshot_diff at scale
    (pytest-pinned: a second committed run diffs empty, ids
    bit-identical).  On this path the QA gate also runs BEFORE the
    publish (pre_publish_validate), so a below-min_rows run can
    neither serve nor GC yesterday's generation.  Checked against the
    IDENTICAL oracle as medallion_gold_property: the protocol detour
    is value-invisible.  Rebuilt per call: the entry commits its own
    table."""
    from airflow_etl_minio_to_postgres_spark.plans.medallion import (
        MedallionResult,
        write_medallion,
    )
    from airflow_etl_minio_to_postgres_spark.sources.manifest import (
        read_resolved,
    )

    res = _run_demo_medallion(spark, sf_dir)
    trimmed = MedallionResult(
        silver=res.silver,
        field_config=res.field_config,
        gold={"property": res.gold["property"]},
    )
    base = tempfile.mkdtemp(prefix="gold_prop_committed_")
    write_medallion(trimmed, base, commit_keep_last=2)
    return read_resolved(spark, os.path.join(base, "gold", "property"))
