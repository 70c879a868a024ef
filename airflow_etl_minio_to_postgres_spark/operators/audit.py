"""Inline data-quality auditing via ``DataFrame.observe``.

The reference has no QA gates at all — a silent upstream change (column
gone all-null, row count collapse) flows straight into gold.  The naive
fix is a ``df.count()`` / null-count job per check, DOUBLING the passes
over the data; ``observe`` attaches aggregate metrics to the plan itself,
so they are collected DURING the sink action — at 100 TB the audit is
free, riding the write's single scan.

Usage::

    audited, obs = observe_quality(silver, "silver_audit", ["market"])
    commit_parquet_generation(spark, audited, path)  # fires the metrics
    obs.get  # {'n_rows': ..., 'n_null_market': ...}
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def observe_quality(
    df: DataFrame, name: str, null_check_cols: list[str] | None = None
) -> tuple[DataFrame, Observation]:
    """Attach row-count + per-column null-count metrics to ``df``'s plan.

    Returns the observed frame (use IT for the downstream action) and the
    ``Observation``; read ``observation.get`` only AFTER an action ran.
    Metrics: ``n_rows`` plus ``n_null_<col>`` for each requested column.
    """
    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in null_check_cols or []:
        metrics.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"n_null_{c}")
        )
    return df.observe(obs, *metrics), obs


def assert_min_rows(
    observation: Observation, minimum: int, name: str = "audit"
) -> None:
    """Post-action gate: fail loudly when the observed row count collapsed
    below ``minimum`` (the cheap canary for a broken upstream feed).

    ``name`` labels the failure message; call sites already know the audit
    name they passed to :func:`observe_quality` (``Observation`` exposes no
    stable public accessor for it, and reaching into the private ``_name``
    would couple us to pyspark internals)."""
    n = observation.get["n_rows"]
    if n < minimum:
        raise ValueError(
            f"audit {name!r}: observed {n} rows < required "
            f"minimum {minimum}"
        )


def validate_expectations(
    df: DataFrame,
    row_rules: dict[str, "F.Column"],
    unique_keys: list[str] | None = None,
) -> DataFrame:
    """Declarative expectation suite (the Great-Expectations shape,
    in-engine): every ``row_rules`` entry maps a rule name to a per-row
    VALIDITY predicate; the optional ``unique_keys`` rule asserts the
    key combination has no duplicates.  Returns one row per rule:
    (rule, n_rows, n_violations, passed).

    Scale shape: ALL row predicates aggregate in ONE pass — each rule is
    a ``sum(case)`` column of a single map-side-combined aggregate, so
    adding a 50th expectation adds an expression, not a scan (contrast
    one-count-job-per-rule).  The uniqueness rule is the exception — it
    inherently needs its own (key-grouped, partially-aggregated) pass —
    and is planned as exactly one extra aggregate, not one per key.
    The per-rule result frame is metadata-sized; gate pipelines on
    ``passed`` downstream (same posture as assert_min_rows: fail loud,
    never silently ship violating data).

    NULL contract: a predicate evaluating to NULL (e.g. ``col('bal') >=
    0`` on a NULL bal) counts as a VIOLATION — a rule that cannot be
    shown satisfied is not satisfied.  ``sum((~valid).cast('long'))``
    would silently skip NULL rows, the rubber-stamp direction; a rule
    that intends to allow NULLs must say so (``valid | col.isNull()``).

    Empty-input contract: a ZERO-row frame has zero violations by
    definition, so every rule reports (n_rows=0, n_violations=0,
    passed=True) — the violation sums are ``coalesce``d to 0 on both
    the row-rule and uniqueness branches.  Detecting a collapsed feed
    is :func:`assert_min_rows`' job, not a NULL tri-state here.
    """
    if not row_rules and not unique_keys:
        raise ValueError(
            "validate_expectations: no row_rules and no unique_keys — "
            "an empty suite would rubber-stamp anything"
        )
    agg_cols = [F.count(F.lit(1)).alias("_n")]
    for name, valid in row_rules.items():
        agg_cols.append(
            F.coalesce(
                F.sum(F.when(valid, 0).otherwise(1)), F.lit(0)
            ).alias(f"_v_{name}")
        )
    base = df.agg(*agg_cols)
    parts = []
    for name in row_rules:
        parts.append(
            base.select(
                F.lit(name).alias("rule"),
                F.col("_n").alias("n_rows"),
                F.col(f"_v_{name}").cast("long").alias("n_violations"),
            )
        )
    out = None
    for p in parts:
        out = p if out is None else out.unionByName(p)
    if unique_keys:
        dup = df.groupBy(*unique_keys).agg(
            F.count(F.lit(1)).alias("_c")
        )
        uniq = dup.agg(
            F.coalesce(F.sum("_c"), F.lit(0)).alias("n_rows"),
            F.coalesce(
                F.sum(
                    F.when(F.col("_c") > 1, F.col("_c")).otherwise(0)
                ),
                F.lit(0),
            ).alias("n_violations"),
        ).select(
            F.lit("unique:" + ",".join(unique_keys)).alias("rule"),
            F.col("n_rows").cast("long"),
            F.col("n_violations").cast("long"),
        )
        out = uniq if out is None else out.unionByName(uniq)
    return out.select(
        "rule",
        "n_rows",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


def k_anonymity_stats(
    df: DataFrame, quasi_identifiers: list[str], k: int = 5
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination — the
    privacy screen a training-data pipeline runs before releasing
    per-user derived tables: any QI group smaller than ``k`` is a
    re-identification risk (its members are distinguishable by the QI
    columns alone).  Returns ONE row: (n_groups, n_risky_groups,
    n_risky_rows).

    Scale shape: one map-side-combined groupBy on the QI columns, then
    a 1-row fold over the (group, count) table — group-count-sized, not
    data-sized.  Remediation (generalize a QI column, suppress the
    risky rows) is the caller's policy; this operator only measures.
    """
    g = df.groupBy(*quasi_identifiers).agg(F.count(F.lit(1)).alias("_c"))
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum((F.col("_c") < k).cast("long")).alias("n_risky_groups"),
        F.coalesce(
            F.sum(F.when(F.col("_c") < k, F.col("_c"))), F.lit(0)
        ).cast("long").alias("n_risky_rows"),
    )


def population_stability_index(
    ref: DataFrame,
    cur: DataFrame,
    value: Column,
    n_buckets: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Distribution-drift monitor between a REFERENCE corpus snapshot
    and a CURRENT one — the Population Stability Index over equal-mass
    buckets of the reference: the scheduled "did this week's crawl /
    feature / score distribution move?" check a training-data pipeline
    runs next to its row-count expectations (rule of thumb: < 0.1
    stable, 0.1-0.25 drifting, > 0.25 shifted).

    Buckets are the reference's exact percentile cutpoints (both
    engines interpolate the same sorted multiset — the
    quantile_buckets_sampled precedent), broadcast as a 1-row cross
    join; each side then folds its counts map-side to ``n_buckets``
    rows, and PSI parts are computed on the joined bucket table —
    everything after the two scans is bucket-count-sized.  At 100 TB
    estimate the cutpoints on a deterministic sample upstream
    (``quantile_buckets_sampled``'s ``sample_rate`` policy) instead of
    the full reference; the comparison math is unchanged.

    Contract: NULL values are excluded on both sides (no quantile is
    defined for them); a bucket empty on either side contributes with
    its proportion floored at ``eps`` (repr-embed the same eps in any
    oracle) so the log stays finite; an entirely EMPTY side is floored
    the same way (``try_divide(cnt, 0)`` is NULL and ``greatest``
    skips NULLs, so every proportion on that side reads ``eps``),
    which deliberately yields a large finite PSI — "all the data
    vanished" IS maximal drift, and the alternative (NULL parts
    summing to a NULL PSI) would silently read as "no signal", the
    rubber-stamp direction.  Returns one row per bucket:
    ``(bucket, p_ref, p_cur, psi_part)``; total PSI is
    ``sum(psi_part)``.
    """
    if n_buckets < 2:
        raise ValueError("population_stability_index: n_buckets >= 2")
    r = ref.select(value.alias("_v")).where(F.col("_v").isNotNull())
    c = cur.select(value.alias("_v")).where(F.col("_v").isNotNull())
    cuts = psi_ref_cuts(r, n_buckets)
    rc = psi_bucket_counts(r, cuts, "_rc")
    cc = psi_bucket_counts(c, cuts, "_cc")
    return psi_parts(rc, cc, eps)


def population_stability_index_by(
    ref: DataFrame,
    cur: DataFrame,
    value: Column,
    by: list[str],
    n_buckets: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Segment-level PSI — :func:`population_stability_index` computed
    independently per group of ``by`` columns (per source, per
    event_type, per language): the monitor shape that catches a drift
    CONFINED to one segment, which the global PSI dilutes below its
    thresholds when the segment is small.

    Each segment gets its OWN reference cutpoints (each segment's
    distribution is its own baseline — the standard segmented-PSI
    definition), computed in one grouped percentile aggregate and
    broadcast-joined back on the segment key; both sides fold to
    ≤ |segments| x n_buckets count rows, and the parts come from ONE
    grouped :func:`psi_parts` plan — per-segment results identical to
    calling the global operator once per slice (pinned in tests),
    without a plan branch per segment.  Segments with no reference
    rows are NOT scored (no cutpoints exist to bucket against — new
    segments are a row-count expectation's job, not a drift metric's);
    NULL SEGMENT KEYS are likewise not scored (the cutpoint join is an
    equi-join; fill or filter NULL keys upstream if "unknown" should
    be a segment); NULL values are excluded per the global contract.
    Segment cardinality should be dimension-sized (sources, types,
    languages — the cutpoint table broadcasts at |segments| x
    n_buckets doubles); a corpus-cardinality key is not a segmentation,
    it's a per-row score.  Returns one row
    per (segment, bucket): ``(*by, bucket, p_ref, p_cur, psi_part)``;
    per-segment PSI is ``sum(psi_part)`` within the segment."""
    if n_buckets < 2:
        raise ValueError("population_stability_index_by: n_buckets >= 2")
    if not by:
        raise ValueError("population_stability_index_by: by must be non-empty")
    gcols = list(by)
    r = ref.select(*gcols, value.alias("_v")).where(F.col("_v").isNotNull())
    c = cur.select(*gcols, value.alias("_v")).where(F.col("_v").isNotNull())
    cuts = psi_ref_cuts(r, n_buckets, group_cols=gcols)
    rc = psi_bucket_counts(r, cuts, "_rc", group_cols=gcols)
    cc = psi_bucket_counts(c, cuts, "_cc", group_cols=gcols)
    return psi_parts(rc, cc, eps, group_cols=gcols)


def psi_ref_cuts(
    r: DataFrame, n_buckets: int, group_cols: list[str] | None = None
) -> DataFrame:
    """The reference side's equal-mass cutpoints as a
    ``(_cuts: array<double>)`` frame — factored out so the streaming
    drift monitor freezes the SAME cutpoints the batch operator would
    compute (shared code, the near-dup screen's cannot-drift policy).
    Expects a pre-filtered ``_v`` frame; with ``group_cols`` returns
    one cutpoint row per group (the segmented form)."""
    probs = [i / n_buckets for i in range(1, n_buckets)]
    agg = F.percentile(
        F.col("_v"), F.array(*[F.lit(p) for p in probs])
    ).alias("_cuts")
    if group_cols:
        return r.groupBy(*group_cols).agg(agg)
    return r.agg(agg)


def psi_bucket_counts(
    side: DataFrame,
    cuts: DataFrame,
    name: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Fold one side's ``_v`` values into per-bucket counts against the
    broadcast cutpoints: ``bucket = 1 + |{cut : v >= cut}|`` (ties all
    land in the upper bucket on both engines).  Map-side combined to
    ≤ n_buckets rows per group — the only stage that sees the side's
    rows.  With ``group_cols`` the cutpoints join on the group key
    (each segment buckets against its own baseline; rows whose segment
    has no reference cutpoints drop out here)."""
    gcols = list(group_cols or [])
    bucket = (
        F.lit(1)
        + F.aggregate(
            F.col("_cuts"),
            F.lit(0),
            lambda acc, cut: acc
            + F.when(F.col("_v") >= cut, F.lit(1)).otherwise(F.lit(0)),
        )
    ).cast("long")
    if gcols:
        with_cuts = side.join(F.broadcast(cuts), gcols)
    else:
        with_cuts = side.crossJoin(F.broadcast(cuts))
    return (
        with_cuts.select(*gcols, bucket.alias("bucket"))
        .groupBy(*gcols, "bucket")
        .agg(F.count(F.lit(1)).alias(name))
    )


def psi_parts(
    rc: DataFrame,
    cc: DataFrame,
    eps: float,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """PSI per-bucket parts from two bucket-count frames (``(bucket,
    _rc)`` and ``(bucket, _cc)``) — the bucket-count-sized back half of
    :func:`population_stability_index`, shared verbatim with the
    streaming drift monitor's report reader so batch and streamed PSI
    agree bit-for-bit.  Full-joins the sides (a bucket empty on BOTH
    contributes no row), floors proportions at ``eps``.

    ``group_cols`` turns the same math into MANY independent
    comparisons in one plan (the drift report's per-batch PSI: both
    frames carry the group columns, totals aggregate per group and
    broadcast back) — identical per-group results to calling the
    ungrouped form once per slice, without a plan branch per group."""
    gcols = list(group_cols or [])
    keys = gcols + ["bucket"]
    joined = rc.join(cc, keys, "full").select(
        *keys,
        F.coalesce(F.col("_rc"), F.lit(0)).alias("_rc"),
        F.coalesce(F.col("_cc"), F.lit(0)).alias("_cc"),
    )
    aggs = [F.sum("_rc").alias("_rt"), F.sum("_cc").alias("_ct")]
    e = F.lit(float(eps))
    p_ref = F.greatest(
        F.try_divide(F.col("_rc").cast("double"), F.col("_rt")), e
    )
    p_cur = F.greatest(
        F.try_divide(F.col("_cc").cast("double"), F.col("_ct")), e
    )
    if gcols:
        tot = joined.groupBy(*gcols).agg(*aggs)
        with_tot = joined.join(F.broadcast(tot), gcols)
    else:
        tot = joined.agg(*aggs)
        with_tot = joined.crossJoin(F.broadcast(tot))
    return with_tot.select(
        *keys,
        p_ref.alias("p_ref"),
        p_cur.alias("p_cur"),
        (
            (p_cur - p_ref) * F.log(F.try_divide(p_cur, p_ref))
        ).alias("psi_part"),
    ).orderBy(*keys)
