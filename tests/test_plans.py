"""Physical-plan audits: the properties that matter at 100 TB, pinned as
tests so a refactor can't silently regress them.

* filters reach the parquet scan (PushedFilters),
* projections prune the scan (ReadSchema carries only needed columns),
* hot-path operators stay JVM-side (no BatchEvalPython/row-wise UDF nodes;
  the only sanctioned Python crossing is the multimodal mapInPandas).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airflow_etl_minio_to_postgres_spark import queries as registry
from tests.conftest import SF_SMOKE
from tests.oracle import cosine_expr


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# Expression-form references of the k-means assignment that the Arrow
# kernel (nearest_cid_arrow) is pinned against (no package callers).


def _nearest_centroid_expr(
    vec: Column, centroids: list[tuple[int, list[float]]]
) -> Column:
    """Argmax-cosine cell id for ``vec`` against a LITERAL centroid list,
    as one expression: max of (cosine, -cid) structs — highest cosine
    wins, ties break to the smallest cid (the ivf_assign contract).

    This is the scale-defining choice of :func:`kmeans_centroids`: with
    centroids as plan literals the assignment is a narrow map — no
    corpus crossJoin, no per-vector window shuffle — so one k-means
    iteration touches the corpus exactly once."""
    candidates = [
        F.struct(
            F.coalesce(
                cosine_expr(vec, F.array(*[F.lit(float(x)) for x in cvec])),
                F.lit(float("-inf")),  # zero-norm row: any cell, det.
            ).alias("s"),
            F.lit(-cid).alias("nc"),
        )
        for cid, cvec in centroids
    ]
    return (-F.array_max(F.array(*candidates))["nc"]).cast("long")


def _assign_broadcast(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Argmax-cosine cell assignment against a BROADCAST centroid
    table — the large-``n_cells`` twin of :func:`_nearest_centroid_expr`.

    The literal form embeds n_cells x dim constants in the plan; at
    SemDeDup-paper scale (~100k cells) that explodes plan size and
    codegen.  Here centroids travel as a broadcast table instead: a
    constant-key equi-join (BroadcastHashJoin, never a nested-loop —
    the build side is one bucket, the probe streams the corpus) fans
    each vector out to n_cells scored rows, and a map-side-combinable
    ``max(struct(sim, -cid))`` groupBy collapses them back to one row
    per vector.  The fan-out rows of a vector never leave their
    partition before the partial aggregate, so the shuffle carries ONE
    row per vector — the assignment costs one corpus-sized exchange
    per iteration, the price of not inlining the centroids.  Tie-break
    and zero-norm semantics are IDENTICAL to the literal form (same
    cosine_expr, same (sim, -cid) struct ordering), so both forms
    assign bit-identically.  Returns (id, cid, vec)."""
    spark = corpus.sparkSession
    cent = spark.createDataFrame(
        [(cid, [float(x) for x in cvec]) for cid, cvec in centroids],
        "cid long, cvec array<double>",
    )
    # The fan-out key is constant-by-construction but written as
    # pmod(col, 1) on BOTH sides: literal keys get constant-folded —
    # Catalyst rewrites the equi-condition into a probe-side filter and
    # the join degrades to BroadcastNestedLoopJoin.  Non-foldable keys
    # keep a HashedRelation build + streamed probe (BroadcastHashJoin);
    # the per-row pmod is noise.
    scored = (
        corpus.withColumn("_k", F.pmod(F.col(id_col), F.lit(1)))
        .join(
            F.broadcast(
                cent.withColumn("_k", F.pmod(F.col("cid"), F.lit(1)))
            ),
            "_k",
        )
        .select(
            id_col,
            vec_col,
            F.struct(
                F.coalesce(
                    cosine_expr(F.col(vec_col), F.col("cvec")),
                    F.lit(float("-inf")),
                ).alias("s"),
                (-F.col("cid")).alias("nc"),
            ).alias("_cand"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.max("_cand").alias("_m"),
            F.first(vec_col).alias(vec_col),
        )
        .select(
            id_col,
            (-F.col("_m")["nc"]).cast("long").alias("cid"),
            vec_col,
        )
    )


def test_q1_filter_pushed_to_scan(spark):
    df = registry.queries()["q1_pricing_summary"](spark, SF_SMOKE)
    plan = _physical_plan(df)
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_q1_scan_is_pruned(spark):
    df = registry.queries()["q1_pricing_summary"](spark, SF_SMOKE)
    plan = _physical_plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # The 11-column lineitem scan must shrink to the 7 columns q1 touches.
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_q14_pushdown_broadcast_and_pruning(spark):
    df = registry.queries()["q14_promo_revenue"](spark, SF_SMOKE)
    plan = _physical_plan(df)
    # date range reaches the lineitem scan; part is broadcast
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "BroadcastHashJoin" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_quantity" not in read_schema  # only 4 of 11 columns read
    assert "l_extendedprice" in read_schema


def test_q19_disjunction_pushes_per_side_residuals(spark):
    df = registry.queries()["q19_disjunctive_revenue"](spark, SF_SMOKE)
    plan = _physical_plan(df)
    # Catalyst must derive a part-side residual from the OR-of-
    # conjunctions (p_type/p_size constraints) rather than joining the
    # whole dimension and filtering last: some p_ predicate appears
    # below the join, in the part scan's pushed filters.
    assert "BroadcastHashJoin" in plan
    assert "Or(" in plan  # the disjunction survives post-join
    pushed = [seg[:300] for seg in plan.split("PushedFilters:")[1:]]
    assert any("p_type" in seg or "p_size" in seg for seg in pushed)


def test_scalar_pandas_udf_is_arrow_not_rowwise(spark):
    df = registry.queries()["emb_cosine_topk_pandas_udf"](spark, SF_SMOKE)
    plan = _physical_plan(df)
    # the scalar pandas_udf must cross via Arrow batches; a row-at-a-time
    # BatchEvalPython node here would be the 10-100x slow path
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_funnel_windows_share_one_exchange(spark):
    df = registry.queries()["events_funnel_conversion"](spark, SF_SMOKE)
    plan = _physical_plan(df)
    # three chained running-min windows + the per-user groupBy must all
    # ride ONE user_id hash exchange; the only other exchange is the
    # final single-partition 4-number fold
    assert plan.count("Exchange") == 2, plan.count("Exchange")
    assert plan.count("Window") == 3


def test_hash_key_no_python_udf(spark):
    df = registry.queries()["hash_key_customer"](spark, SF_SMOKE)
    plan = _physical_plan(df)
    assert "BatchEvalPython" not in plan
    assert "PythonUDF" not in plan


def test_near_dup_no_python_udf(spark):
    df = registry.queries()["docs_near_dup_pairs"](spark, SF_SMOKE)
    plan = _physical_plan(df)
    assert "BatchEvalPython" not in plan
    assert "PythonUDF" not in plan


def test_multimodal_uses_arrow_batches_not_row_udf(spark):
    df = registry.queries()["multimodal_payload_features"](spark, SF_SMOKE)
    plan = _physical_plan(df)
    assert "MapInPandas" in plan        # Arrow-batched crossing
    assert "BatchEvalPython" not in plan  # never row-at-a-time


def test_dim_resolution_broadcasts(spark):
    # Dimension-sized id map: the hint must survive to a broadcast join.
    df = registry.queries()["key_to_id_resolution"](spark, SF_SMOKE)
    assert "BroadcastHashJoin" in _physical_plan(df)


def test_q5_broadcasts_dim_chain(spark):
    df = registry.queries()["q5_supplier_nation_revenue"](spark, SF_SMOKE)
    plan = _physical_plan(df)
    assert plan.count("BroadcastHashJoin") == 3  # supplier, nation, region
    # The fact side must not shuffle before the final aggregation's exchange.
    assert plan.count("Exchange hashpartitioning") <= 1


def test_stratified_cap_single_shuffle(spark):
    df = registry.queries()["docs_stratified_cap"](spark, SF_SMOKE)
    plan = _physical_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1  # window partitioning only


def test_nation_region_rollup_broadcasts(spark):
    """Dim⋈dim join stays broadcast — no sort-merge (and so no full
    shuffle of either side) anywhere in the plan."""
    df = registry.queries()["nation_region_rollup"](spark, SF_SMOKE)
    plan = _physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q5_no_sort_merge_join(spark):
    """The q5 star chain must never fall back to sort-merge: the fact
    table's only exchange is the final aggregation's."""
    df = registry.queries()["q5_supplier_nation_revenue"](spark, SF_SMOKE)
    assert "SortMergeJoin" not in _physical_plan(df)


def test_asof_join_single_exchange(spark):
    """The as-of join is one union + one keyed window: exactly one
    hash-partitioning Exchange in the whole plan."""
    df = registry.queries()["events_asof_last_purchase"](spark, SF_SMOKE)
    assert _physical_plan(df).count("Exchange hashpartitioning") == 1


def test_range_join_is_equi_join(spark):
    """Interval bucketing must turn the range predicate into a hash
    equi-join — a raw BETWEEN join would plan as BroadcastNestedLoopJoin
    (per-pair evaluation, fatal at scale)."""
    plan = _physical_plan(
        registry.queries()["events_attribution_windows"](spark, SF_SMOKE)
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_redact_pii_is_shuffle_free(spark):
    """PII redaction is a narrow regexp map over the scan: zero exchanges,
    zero Python nodes."""
    plan = _physical_plan(registry.queries()["docs_redact_pii"](spark, SF_SMOKE))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_scd2_merge_joins_once(spark):
    """The SCD2 merge resolves every row's fate in ONE full-outer join
    (array-of-versions explode) — a per-branch union would plan 3 joins."""
    plan = _physical_plan(registry.queries()["scd2_customer_dim"](spark, SF_SMOKE))
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    assert n_joins == 1, plan


def test_quality_threshold_no_collect_scalar(spark):
    """The corpus percentile threshold rides the plan as a broadcast 1-row
    cross-join — no driver scalar round-trip, no nested-loop blowup (a
    1-row broadcast side makes BroadcastNestedLoopJoin O(n))."""
    df = registry.queries()["docs_quality_threshold"](spark, SF_SMOKE)
    plan = _physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_tfidf_df_is_window_not_self_join(spark):
    """Document frequency must come from a window over the aggregated
    (doc, word) rows, not a dfreq aggregate joined back to the corpus:
    exactly one join in the plan (the broadcast N scalar)."""
    plan = _physical_plan(registry.queries()["docs_tfidf_top_terms"](spark, SF_SMOKE))
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                   "BroadcastNestedLoopJoin"))
    assert n_joins == 1, plan
    assert "Window" in plan


def test_multi_grain_rollup_single_expand(spark):
    """GROUPING SETS plans one Expand + one aggregate — not one job per
    grain."""
    plan = _physical_plan(
        registry.queries()["events_multi_grain_rollup"](spark, SF_SMOKE)
    )
    assert plan.count("Expand") == 1


def test_q17_correlated_subquery_decorrelates_to_aggregate_join(spark):
    df = registry.queries()["q17_small_quantity_revenue"](spark, SF_SMOKE)
    plan = _physical_plan(df)
    # The correlated 0.2*avg(l_quantity) subquery must be rewritten into
    # ONE aggregate over lineitem joined back on l_partkey — visible as
    # a partial_avg in the MAIN plan body — never re-executed per outer
    # row through a nested loop.
    assert "partial_avg" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q21_exists_and_not_exists_plan_as_semi_and_anti_joins(spark):
    df = registry.queries()["q21_waiting_suppliers"](spark, SF_SMOKE)
    plan = _physical_plan(df)
    # EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti, both as EQUI-joins on
    # l_orderkey with the supplier inequality as residual condition; a
    # nested-loop here would be quadratic in order size at scale.
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q2_correlated_min_decorrelates(spark):
    df = registry.queries()["q2_min_price_supplier"](spark, SF_SMOKE)
    plan = _physical_plan(df)
    # per-part min computed ONCE as an aggregate joined back, never a
    # per-row subquery through a nested loop
    assert "partial_min" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q16_not_in_plans_as_anti_join(spark):
    plan = _physical_plan(
        registry.queries()["q16_supplier_counts_not_in"](spark, SF_SMOKE)
    )
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q20_in_with_correlated_having_plans_semi_no_nested_loop(spark):
    plan = _physical_plan(
        registry.queries()["q20_dominant_suppliers"](spark, SF_SMOKE)
    )
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q13_on_clause_predicate_keeps_outer_join(spark):
    # the orderpriority filter must NOT collapse the LEFT join to inner:
    # zero-order customers are a real output bucket
    plan = _physical_plan(
        registry.queries()["q13_order_count_distribution"](spark, SF_SMOKE)
    )
    assert "LeftOuter" in plan


def test_chunk_udtf_is_arrow_not_pickled_rows(spark):
    df = registry.queries()["docs_chunk_text_udtf"](spark, SF_SMOKE)
    plan = _physical_plan(df)
    # the UDTF must cross via Arrow record batches; the pickled
    # row-at-a-time fallback is the slow path banned everywhere else
    assert "ArrowEvalPythonUDTF" in plan
    assert "BatchEvalPythonUDTF" not in plan


def test_q6_all_filters_reach_the_scan(spark):
    df = registry.queries()["q6_forecast_revenue"](spark, SF_SMOKE)
    plan = _physical_plan(df)
    # the pure scan-filter-aggregate: date range, discount band, and
    # quantity cap must ALL push into the parquet scan
    pushed = plan.split("PushedFilters:")[1][:400]
    assert "l_shipdate" in pushed
    assert "l_discount" in pushed
    assert "l_quantity" in pushed
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema  # 4 of 11 columns read


def test_remaining_classic_shapes_never_nested_loop(spark):
    for name in (
        "q4_priority_waiting",
        "q8_market_share",
        "q9_product_profit",
        "q10_returned_revenue_customers",
        "q12_priority_line_counts",
    ):
        plan = _physical_plan(registry.queries()[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name
        # q8's 1-row target scalar is the one sanctioned broadcast-NL
        if name != "q8_market_share":
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_kmeans_iteration_is_one_exchange_no_python(spark):
    """The EXPRESSION REFERENCE form of k-means assignment
    (_nearest_centroid_expr — the semantics contract the r17 Arrow
    kernel is parity-tested against; see
    test_kmeans_arrow_assignment_parity_and_plan for the production
    path): narrow literal-centroid assignment + a map-side-combined
    groupBy collapsing to n_cells rows: exactly ONE hash-partitioning
    Exchange, no crossJoin, no per-vector window, no Python
    crossing."""
    from pyspark.sql import functions as F

    emb = registry.load_table(spark, "embeddings", SF_SMOKE)
    cents = [(0, [0.1] * 64), (1, [-0.1] * 64)]
    stats = (
        emb.select(
            _nearest_centroid_expr(F.col("embedding"), cents).alias("cid"),
            "embedding",
        )
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = _physical_plan(stats)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "Window" not in plan
    assert "Python" not in plan


def test_kmeans_arrow_assignment_parity_and_plan(spark):
    """The r17 PRODUCTION k-means assignment (nearest_cid_arrow, guide
    §4.2): (1) PLAN — a narrow map, ONE ArrowEvalPython, never the
    row-wise BatchEvalPython, no join/window/fan-out, and the
    iteration's stats aggregate still needs exactly ONE
    hash-partitioning Exchange; (2) PARITY — cell ids equal the
    expression reference (_nearest_centroid_expr) on adversarial
    vectors: exact cosine ties (integer grids), zero-norm rows, NULL
    rows, and a wrong-dimension row all break identically."""
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        nearest_cid_arrow,
    )

    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])]
    rows = [
        (1, [2.0, 0.0]),       # exact tie with nothing — clean argmax
        (2, [1.0, 1.0]),       # exact match of cell 2, ties 0/1 below
        (3, [0.0, 0.0]),       # zero-norm: every cosine NULL -> min cid
        (4, None),             # NULL vector -> min cid
        (5, [3.0, 3.0, 3.0]),  # wrong dim -> every cosine NULL -> min cid
        (6, [-1.0, -1.0]),     # all-negative: ties at -1/sqrt2 break to 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = df.select(
        "vec_id",
        nearest_cid_arrow(F.col("embedding"), cents).alias("a"),
        _nearest_centroid_expr(F.col("embedding"), cents).alias("e"),
    ).collect()
    assert all(r.a == r.e for r in got), [(r.vec_id, r.a, r.e) for r in got]

    stats = (
        df.select(
            nearest_cid_arrow(F.col("embedding"), cents).alias("cid"),
            "embedding",
        )
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = _physical_plan(stats)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "Window" not in plan


def test_ivf_assign_is_arrow_narrow_map_no_window(spark):
    """The r17 ivf_assign shape (probe_cids_arrow + posexplode, guide
    §4.2/§2.4): assignment is a NARROW map — no centroid crossJoin
    fan-out (zero BroadcastExchange / nested-loop), no per-vector
    row_number window (the old form's only Exchange), one
    ArrowEvalPython and a Generate for the probe explode.  Semantics
    vs the brute-force model are property-pinned in
    test_ivf_assign_nprobe_matches_python_model."""
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        ivf_assign,
    )

    emb = registry.load_table(spark, "embeddings", SF_SMOKE)
    cents = spark.createDataFrame(
        [(0, [0.1] * 64), (1, [-0.1] * 64)], "cid long, cvec array<double>"
    )
    plan = _physical_plan(
        ivf_assign(emb, cents, nprobe=2, rank_col="rnk")
    )
    # the probe UDF runs once per row: no inferred size(_probes) > 0
    # filter carries a second copy of it
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    assert "Window" not in plan
    assert "Exchange" not in plan  # assignment itself needs no shuffle
    assert "BroadcastExchange" not in plan
    assert "Generate" in plan  # the posexplode of ranked probes


def test_band_bucket_ops_run_key_udf_once_and_cross_per_partition(spark):
    """knn_join and embedding_near_dup_pairs: the band-key UDF runs in
    ONE ArrowEvalPython node (a plain posexplode of the key array would
    let an inferred size(_bks) > 0 filter carry a second copy), and the
    bucket kernels run in one MapInPandas pass over band-key-sorted
    partitions, not one grouped Python call per bucket."""
    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        embedding_near_dup_pairs,
        knn_join,
    )

    emb = registry.load_table(spark, "embeddings", SF_SMOKE)
    for df in (knn_join(emb, dim=64), embedding_near_dup_pairs(emb, dim=64)):
        plan = _physical_plan(df)
        assert plan.count("ArrowEvalPython") == 1
        assert "MapInPandas" in plan
        assert "FlatMapGroupsInPandas" not in plan
        assert "BatchEvalPython" not in plan
        assert plan.count("Exchange hashpartitioning(band_key") == 1


def test_ivf_knn_join_is_cogrouped_cell_kernel(spark):
    """The r18 ivf_knn_join shape (guide §4.2/§8): sides meet in ONE
    cogroup keyed on cid (FlatMapCoGroupsInPandas) — cell assignment is
    inline on each side's scan (no id-keyed self-join back to the
    vectors), and no per-candidate-pair ArrowEvalPython cosine remains
    (each side's vectors cross the Python boundary once per cell).  The
    one Window left ranks the kernel's <= nprobe*k rows per query.
    Value parity (bit-identical, incl. dirty vectors) is pinned in
    test_ivf_knn_join_matches_expression_reference."""
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        ivf_knn_join,
    )

    emb = registry.load_table(spark, "embeddings", SF_SMOKE)
    cents = spark.createDataFrame(
        [(0, [0.1] * 64), (1, [-0.1] * 64)], "cid long, cvec array<double>"
    )
    qs = emb.where(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    plan = _physical_plan(ivf_knn_join(qs, emb, cents, k=3, nprobe=2))
    assert "FlatMapCoGroupsInPandas" in plan
    # the two inline assignment maps are the ONLY ArrowEvalPython nodes;
    # the retired pair-join shipped both vectors through a third
    assert plan.count("ArrowEvalPython") == 2
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    # the surviving Window ranks the kernel's output (<= nprobe*k rows
    # per query), sitting directly above the cogroup node
    assert "Window" in plan


def test_per_group_counts_bucketed_null_semantics(spark):
    """The r17 coarse-bucket rewrite of per_group_counts_pandas must
    keep the old per-group null policy: NULL group keys are KEPT (Spark
    groupBy semantics), NULL values are DROPPED (pandas groupby
    dropna) — and counts equal the plain groupBy on mixed data."""
    from airflow_etl_minio_to_postgres_spark.functions.pandas_ops import (
        per_group_counts_pandas,
    )

    rows = [
        (1, "a"), (1, "a"), (1, "b"), (2, "a"), (None, "x"), (None, "x"),
        (1, None), (None, None), (3, "c"),
    ]
    df = spark.createDataFrame(rows, "g long, v string")
    got = {
        (r.g, r.v): r.n
        for r in per_group_counts_pandas(df, "g", "v").collect()
    }
    assert got == {
        (1, "a"): 2,
        (1, "b"): 1,
        (2, "a"): 1,
        (None, "x"): 2,
        (3, "c"): 1,
    }
    plan = _physical_plan(per_group_counts_pandas(df, "g", "v"))
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_temperature_mix_two_scans_no_corpus_shuffle(spark):
    """temperature_mix's scale contract: exactly TWO corpus scans (one
    to learn group counts, one filtered by the broadcast rates — the
    irreducible minimum for a data-dependent rate filter; the global
    min folds as a window over the tiny counts frame, NOT a third
    scan), and the corpus itself is never shuffled or fed to Python."""
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.text import (
        temperature_mix,
    )

    d = registry.load_table(spark, "documents", SF_SMOKE).select(
        "doc_id", "lang"
    )
    plan = _physical_plan(temperature_mix(d, "lang", 0.7))
    assert plan.count("FileScan") == 2
    assert "Exchange hashpartitioning(doc_id" not in plan
    assert "Python" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivf_index_serving_is_partition_pruned(spark, tmp_path):
    """The materialized IVF layout (write_ivf_index + ivf_topk_indexed):
    the serving scan must carry the probe set as PartitionFilters —
    Spark reads only the probed cell directories, never the whole index
    — and results must equal the unindexed ivf_topk exactly."""
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        ivf_topk,
        ivf_topk_indexed,
        write_ivf_index,
    )

    e = registry.load_table(spark, "embeddings", SF_SMOKE)
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    path = str(tmp_path / "index")
    write_ivf_index(e, cents, path)
    # one directory per cell on disk
    import os

    assert sorted(
        d for d in os.listdir(path) if d.startswith("cid=")
    ), "expected cid= partition directories"

    qv = [
        float(x)
        for x in e.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    served = ivf_topk_indexed(
        spark, path, cents, qv, k=5, nprobe=2, exclude_id=0
    )
    import re

    plan = _physical_plan(served)
    assert re.search(r"PartitionFilters: \[cid#\d+ IN \(", plan), plan
    unindexed = ivf_topk(e, query_id=0, k=5, n_cells=8, nprobe=2)
    assert [tuple(r) for r in served.collect()] == [
        tuple(r) for r in unindexed.collect()
    ]


def test_kmeans_broadcast_assignment_parity_and_plan(spark):
    """The large-n_cells assignment form (_assign_broadcast): (1) PLAN —
    centroids arrive via BroadcastHashJoin (constant-key equi-join),
    never a nested-loop/cartesian, and the argmax is a map-side-
    combinable aggregate, not a per-vector window; (2) PARITY — trained
    centroids are bit-identical whichever form runs, pinned by forcing
    the broadcast form via literal_centroid_limit=0 against the default
    literal form."""
    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        kmeans_centroids,
    )

    emb = registry.load_table(spark, "embeddings", SF_SMOKE)
    cents = [(0, [0.1] * 64), (1, [-0.1] * 64), (2, [0.2] * 64)]
    assigned = _assign_broadcast(emb, cents, "vec_id", "embedding")
    plan = _physical_plan(assigned)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "Python" not in plan

    literal = kmeans_centroids(emb, n_cells=3, n_iters=2, dim=64)
    broadcast = kmeans_centroids(
        emb, n_cells=3, n_iters=2, dim=64, literal_centroid_limit=0
    )
    lit_rows = sorted(tuple(r) for r in literal.collect())
    bc_rows = sorted(tuple(r) for r in broadcast.collect())
    assert lit_rows == bc_rows  # exact, including every centroid double


def test_ahash_hash_is_scan_stage_pairs_join_is_hash_join(spark):
    """The aHash itself is a pure scan-stage expression (zero exchanges,
    zero Python); the pair join is an equi (hash) join on the band key —
    never a nested-loop — and verification adds no further shuffle
    beyond the one join exchange pair."""
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.multimodal import (
        add_image_ahash,
        ahash_near_dup_pairs,
        attach_payload,
    )

    docs = registry.load_table(spark, "documents", SF_SMOKE)
    hashed = add_image_ahash(attach_payload(docs))
    hplan = _physical_plan(hashed)
    assert "Exchange" not in hplan
    assert "Python" not in hplan

    pairs = ahash_near_dup_pairs(hashed)
    pplan = _physical_plan(pairs)
    assert "BroadcastNestedLoop" not in pplan
    assert "CartesianProduct" not in pplan
    # the candidate stream is never re-shuffled after the band join:
    # no exchange keyed on the pair ids (the old dropDuplicates shape)
    assert "Exchange hashpartitioning [id_a" not in pplan.replace("#", " #")
    assert "Python" not in pplan


def test_banded_self_joins_never_aggregate_on_pair_ids(spark, tmp_path):
    """The MinHash, SimHash and streaming intra-batch screens take their
    candidates from the one first-match self-join (bucket_pairs), so no
    aggregate keyed on (id_a, id_b) — the old dropDuplicates exchange —
    appears in their plans.  The intra-batch plan comes from
    near_dup_against_store over a small store."""
    import re

    from airflow_etl_minio_to_postgres_spark.functions.dedup import (
        near_dup_pairs,
        simhash_near_dup_pairs,
    )
    from airflow_etl_minio_to_postgres_spark.streaming.pipeline import (
        near_dup_against_store,
    )

    pair_agg = re.compile(r"Aggregate\(keys=\[id_a#\d+L?, id_b#\d+L?\]")
    docs = spark.createDataFrame(
        [(i, f"the quick brown fox jumps {i % 3}") for i in range(6)],
        "doc_id long, text string",
    )
    # a one-row store in the band-bucket layout the screen reads
    store = str(tmp_path / "store")
    spark.createDataFrame(
        [(0, "0|x", ["a b c"], 0, "c-0")],
        "doc_id long, band_key string, shingles array<string>, "
        "band_bucket int, _commit_id string",
    ).write.partitionBy("band_bucket", "_commit_id").parquet(store)
    for df in (
        near_dup_against_store(docs, store, store_partitions=4),
        near_dup_pairs(docs),
        simhash_near_dup_pairs(docs),
    ):
        assert not pair_agg.search(_physical_plan(df))


def test_ivf_topk_batch_matches_per_query_indexed(spark, tmp_path):
    """Batched-query IVF serving: (1) per-query results are
    bit-identical to ivf_topk_indexed run one query at a time with the
    same (k, nprobe) — engine-side probe assignment and driver-side
    probe scoring must agree on cells AND ranking; (2) the one shared
    corpus scan carries the UNION of all queries' probe cells as
    PartitionFilters."""
    import re

    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        ivf_topk_batch,
        ivf_topk_indexed,
        write_ivf_index,
    )

    e = registry.load_table(spark, "embeddings", SF_SMOKE)
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    path = str(tmp_path / "index")
    write_ivf_index(e, cents, path)
    qs = e.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    batch = ivf_topk_batch(
        spark, path, cents, qs, k=5, nprobe=2, exclude_self=True
    )
    plan = _physical_plan(batch)
    assert re.search(r"PartitionFilters: \[cid#\d+ IN \(", plan), plan
    got = {}
    for r in batch.collect():
        got.setdefault(r.qid, []).append((r.vec_id, r.cosine))
    assert sorted(got) == [0, 1, 2]
    for qid in sorted(got):
        qv = [
            float(x)
            for x in e.where(F.col("vec_id") == qid)
            .select("embedding")
            .first()[0]
        ]
        single = ivf_topk_indexed(
            spark, path, cents, qv, k=5, nprobe=2, exclude_id=qid
        )
        assert got[qid] == [
            (r.vec_id, r.cosine) for r in single.collect()
        ], f"qid={qid} diverges from the single-query path"


def test_ivf_knn_join_matches_batch_serving_and_brute_force(spark, tmp_path):
    """The cell-bucketed corpus-scale form: (1) identical results to
    ivf_topk_batch over a materialized index of the same corpus with
    the same (k, nprobe); (2) probing ALL cells recovers per-query
    brute force; (3) neither data side is broadcast — the join
    exchanges both sides on cid (only the centroid table ships)."""
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        ivf_knn_join,
        ivf_topk_batch,
        topk_cosine,
        write_ivf_index,
    )

    e = registry.load_table(spark, "embeddings", SF_SMOKE)
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    qs = e.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )

    joined = ivf_knn_join(
        qs, e, cents, k=5, nprobe=2, exclude_self=True
    )
    path = str(tmp_path / "index")
    write_ivf_index(e, cents, path)
    served = ivf_topk_batch(
        spark, path, cents, qs, k=5, nprobe=2, exclude_self=True
    )
    assert [tuple(r) for r in joined.collect()] == [
        tuple(r) for r in served.collect()
    ]

    # nprobe == n_cells -> per-query brute force
    full = ivf_knn_join(qs, e, cents, k=5, nprobe=8, exclude_self=True)
    got = {}
    for r in full.collect():
        got.setdefault(r.qid, []).append((r.vec_id, r.cosine))
    for qid in (0, 1, 2):
        brute = topk_cosine(e, query_id=qid, k=5)
        assert got[qid] == [(r.vec_id, r.cosine) for r in brute.collect()]

    # the scale contract (r18 form): both data sides meet in a SHUFFLE
    # keyed on cid — now the cogroup's two hash exchanges feeding
    # FlatMapCoGroupsInPandas — and NOTHING data-sized broadcasts
    # (centroids ride the assignment UDF closures).  Disable the
    # auto-broadcast threshold so toy-scale AQE can't mask the shape
    # the operator plans for.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pinned = ivf_knn_join(
            qs, e, cents, k=5, nprobe=2, exclude_self=True
        )
        plan = _physical_plan(pinned)
        assert "FlatMapCoGroupsInPandas" in plan, plan
        # no join of the data sides at all — and in particular no
        # broadcast of either (the retired contract's real point)
        assert "BroadcastExchange" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_ivf_batch_broadcast_boundary_agrees_with_knn_join(spark, tmp_path):
    """The documented 'switch operators here' guidance, locked to
    evidence: at an EVAL-SIZED query table (1,500 queries x 64 dims —
    the upper end of the regime ivf_topk_batch's broadcast is scoped
    to; well under Spark's hard broadcast limits, so the explicit hint
    is still legal), the broadcast form and the shuffle form
    (ivf_knn_join) return bit-identical results, and the batch plan
    still broadcasts only the query side while the corpus side arrives
    through the partition-pruned scan.  Beyond this regime the
    docstring's guidance is the shuffle form — this test pins that the
    hand-off point itself is safe from either side."""
    import random

    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        ivf_knn_join,
        ivf_topk_batch,
        write_ivf_index,
    )

    rng = random.Random(12012)
    dim, n_corpus, n_queries = 64, 4000, 1500
    rows = [
        (i, [round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)])
        for i in range(n_corpus)
    ]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cents = e.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    qs = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )

    path = str(tmp_path / "index")
    write_ivf_index(e, cents, path)
    served = ivf_topk_batch(
        spark, path, cents, qs, k=3, nprobe=2, exclude_self=True
    )
    joined = ivf_knn_join(qs, e, cents, k=3, nprobe=2, exclude_self=True)
    assert [tuple(r) for r in served.collect()] == [
        tuple(r) for r in joined.collect()
    ]

    # every broadcast in the batch plan is query-/centroid-sized; the
    # CORPUS (the index FileScan) must never sit inside a
    # BroadcastExchange subtree — it arrives through the
    # partition-pruned scan as the streamed join side
    plan = _physical_plan(served)
    assert "PartitionFilters" in plan, plan
    lines = plan.splitlines()

    def indent(s: str) -> int:
        return len(s) - len(s.lstrip(" +-*(0123456789)"))

    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        d = indent(line)
        for sub in lines[i + 1 :]:
            if sub.strip() and indent(sub) <= d:
                break
            assert "FileScan" not in sub and "Scan parquet" not in sub, (
                "corpus scan inside a broadcast subtree:\n" + plan
            )


def test_blocked_fuzzy_pairs_is_broadcast_equi_join_no_python(spark):
    """The fuzzy-ER candidate join is an EQUI join on the block key
    (broadcast at this size) with the bounded levenshtein riding the
    join condition — never a nested-loop/cartesian pair generator,
    never Python.  Blocking IS the plan: the quadratic lives only
    inside the per-block hash-join probe."""
    from airflow_etl_minio_to_postgres_spark.functions.linkage import (
        blocked_fuzzy_pairs,
    )

    c = registry.load_table(spark, "customer", SF_SMOKE)
    pairs = blocked_fuzzy_pairs(
        c, "c_custkey", "c_name", ["c_nationkey", "c_mktsegment"], 2
    )
    plan = _physical_plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "Python" not in plan
    assert "levenshtein" in plan  # the match rides the join, no extra stage


def test_blocked_fuzzy_pairs_salted_plan_shape(spark):
    """The hot-block knob keeps the plan's class invariants: still an
    EQUI join (now on hashed-block-key + salt), the hot-bucket
    directory rides a BROADCAST exchange (an aggregate over the fan —
    hot blocks are few by nature, never a data-sized build side), the
    replication is a Generate (explode) node, and there is still zero
    Python and zero cartesian anywhere."""
    from airflow_etl_minio_to_postgres_spark.functions.linkage import (
        blocked_fuzzy_pairs,
    )

    c = registry.load_table(spark, "customer", SF_SMOKE)
    pairs = blocked_fuzzy_pairs(
        c,
        "c_custkey",
        "c_name",
        ["c_nationkey", "c_mktsegment"],
        2,
        max_block_size=8,
    )
    plan = _physical_plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "Python" not in plan
    assert "levenshtein" in plan
    assert "BroadcastExchange" in plan  # the hot-bucket directory
    assert "Generate" in plan  # build-side replication into sub-groups


def test_zone_map_scan_reads_only_surviving_files(spark, tmp_path):
    """zone_map_scan's pruned read plans over a strict SUBSET of the
    generation's files — the skipped files never appear in the scan's
    file index — and the residual predicate still reaches the parquet
    reader as PushedFilters inside the kept files."""
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.sources import manifest as mf

    df = spark.range(1000).select(F.col("id"))
    root = str(tmp_path / "t")
    mf.commit_parquet_generation(
        spark,
        df.repartitionByRange(8, "id").sortWithinPartitions("id"),
        root,
        zone_map_cols=("id",),
    )
    pruned = mf.zone_map_scan(spark, root, {"id": (0, 249)})
    plan = _physical_plan(pruned)
    import re as _re

    # the FileScan location lists only kept part files
    n_scan_files = (
        pruned.select(F.col("_metadata.file_path")).distinct().count()
    )
    # ~250/1000 ids over 8 range files; range boundaries are SAMPLED
    # (core-count-dependent), so pin a strict subset, not an exact 2
    assert 1 <= n_scan_files <= 3
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:200]
    assert _re.search(r"GreaterThanOrEqual\(id,0\)", pushed)
    assert _re.search(r"LessThanOrEqual\(id,249\)", pushed)


def test_bm25_index_serves_scan_stats_once(spark, tmp_path):
    """Each index serve reads the _stats sidecar once (the collect that
    yields n_buckets) and hands (n_docs, avgdl) to the scorer as
    literals: the query plan scans the postings only, carries no stats
    relation, and the scores stay bit-identical to the direct path."""
    from airflow_etl_minio_to_postgres_spark.functions.text import (
        bm25_knn_join,
        bm25_topk,
        bm25_topk_batch,
        bm25_topk_indexed,
        write_inverted_index,
    )

    docs = spark.createDataFrame(
        [
            (i, f"spark join window doc{i} " + "pad " * (i % 3))
            for i in range(12)
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "inv")
    write_inverted_index(docs, idx, n_buckets=8)
    queries = spark.createDataFrame(
        [(0, ["spark"]), (1, ["doc7", "join"])], "qid long, terms array<string>"
    )
    terms = ["spark", "doc7"]
    indexed = bm25_topk_indexed(spark, idx, terms, k=5)
    for df in (
        indexed,
        bm25_topk_batch(spark, idx, queries, k=5),
        bm25_knn_join(spark, idx, queries, k=5),
    ):
        plan = _physical_plan(df)
        assert "_stats" not in plan, plan
        assert plan.count("FileScan parquet") == 1, plan  # the postings
        assert "n_docs" not in plan and "avgdl" not in plan, plan
    direct = bm25_topk(docs, terms, k=5)
    assert [(r.doc_id, r.score.hex()) for r in indexed.collect()] == [
        (r.doc_id, r.score.hex()) for r in direct.collect()
    ]


def test_package_has_one_commit_protocol():
    """Every in-place writer commits a manifest generation: no package
    module renames directories with os.replace, stages to a sibling
    __rewrite_tmp / __recluster_tmp, or refuses a path for not being on
    the local filesystem."""
    import pathlib
    import re

    import airflow_etl_minio_to_postgres_spark as pkg

    banned = re.compile(
        r"os\.replace\(|__rewrite_tmp|__recluster_tmp|local-FS only",
        re.IGNORECASE,
    )
    hits = [
        f"{p.name}:{n}: {line.strip()}"
        for p in sorted(pathlib.Path(pkg.__file__).parent.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert hits == []


def test_package_builds_local_relations_one_way():
    """Driver-held rows enter a plan one way, session.local_relation:
    outside queries.py and the workbook reader in sources/files.py no
    package module renders SQL VALUES text, keeps a SQL-literal
    renderer, or calls createDataFrame itself."""
    import pathlib
    import re

    import airflow_etl_minio_to_postgres_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    banned = re.compile(r"FROM VALUES|sql_cast_literals|createDataFrame\(")
    hits = [
        (p.relative_to(root).as_posix(), line.strip())
        for p in sorted(root.rglob("*.py"))
        if p.relative_to(root).as_posix()
        not in ("queries.py", "sources/files.py")
        for line in p.read_text().splitlines()
        if banned.search(line)
    ]
    # the helper's own call is the one createDataFrame
    assert hits == [
        ("session.py", "return spark.createDataFrame(table, schema)")
    ]


def test_explain_audit_reports_udf_evaluated_twice_per_row(spark):
    """scripts/explain_entries.py's audit: a plain posexplode of an
    Arrow UDF's array column (the UDF copied into the inferred
    size > 0 filter below it) is reported; the package's explode rule
    is not, nor is a UDF pushed into both branches of a Union, where
    each copy sees other rows."""
    import importlib.util
    from pathlib import Path

    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        _posexplode_once,
        probe_cids_arrow,
    )

    root = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "explain_entries", root / "scripts" / "explain_entries.py"
    )
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)

    def formatted(df):
        return spark._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    emb = registry.load_table(spark, "embeddings", SF_SMOKE)
    cents = [(0, [0.1] * 64), (1, [-0.1] * 64)]
    probed = emb.select(
        "vec_id", probe_cids_arrow(F.col("embedding"), cents, 2).alias("p")
    )
    plain = probed.select("vec_id", F.posexplode("p"))
    (twice,) = audit.duplicated_udfs(formatted(plain)).values()
    assert len(twice) == 2
    once = _posexplode_once(probed, ["vec_id"], "p", "pos", "cid")
    assert audit.duplicated_udfs(formatted(once)) == {}
    both = probed.where(F.col("vec_id") < 5).unionByName(
        probed.where(F.col("vec_id") > 50)
    )
    union = _posexplode_once(both, ["vec_id"], "p", "pos", "cid")
    assert formatted(union).count(") ArrowEvalPython") == 2
    assert audit.duplicated_udfs(formatted(union)) == {}
