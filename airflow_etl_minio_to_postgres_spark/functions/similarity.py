"""Similarity search over embedding columns: brute-force cosine top-k,
banded-LSH pair and k-NN joins, and IVF (inverted-file) serving.

Scale design:

* Brute force is the *baseline*: one broadcast of the query point, one
  narrow map computing cosine, one top-k (``orderBy + limit`` -> Spark's
  TakeOrdered, which keeps only k rows per partition then k at the driver).
  Linear in corpus size but embarrassingly parallel — correct reference
  semantics for verifying approximate paths.
* IVF is the scale path, served by TWO regimes over one probe rule
  (rank cells by max cosine, ties to the smallest cid) and one top-k
  rule (:func:`_topk`):

  - the cogrouped cell join (:func:`ivf_knn_join`): both sides take
    their cells engine-side (:func:`_probe_col`) and meet in one
    cogroup keyed on the cell id, whose kernel emits each query's
    local top-k before a small per-query merge (REPOSE, ICDE'21).
    :func:`ivf_topk` is its one-query instance;
  - the broadcast batch over a cell-partitioned index
    (:func:`ivf_topk_batch` over :func:`write_ivf_index`): probes are
    ranked driver-side (:func:`_probe_cells`), the union of probe cells
    drives one partition-pruned scan, and the (query, cell, vector)
    side is broadcast.  :func:`ivf_topk_indexed` keeps the one-vector
    form with the query as a UDF constant.

  Cells come from :func:`kmeans_centroids` or a deterministic stub
  (the first ``n_cells`` vectors by id).
* Sign-LSH ANN (:func:`ann_topk_sign_lsh`) searches ONE sign bucket of
  the leading components — data-independent, so the oracle reproduces
  it.

All arithmetic is double-precision: float32 embeddings are cast up before
any multiply, matching DuckDB's behavior on ``FLOAT[]`` lists.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airflow_etl_minio_to_postgres_spark.session import local_relation


# ---------------------------------------------------------------------------
# Arrow-vectorized cosine (optimization guide §4.2: hand whole Arrow batches
# to numpy instead of folding per element in interpreted HOF expressions).
#
# Semantics match the SQL expression form ``try_divide(dot(a, b),
# sqrt(dot(a, a)) * sqrt(dot(b, b)))``, each dot an ``aggregate(zip_with(a,
# b, x * y), 0.0, +)`` fold (kept in ``tests/oracle.py`` as the reference
# every kernel here is pinned against): float32 is cast up before any
# multiply; a zero-norm side degrades the pair to NULL (the try_divide
# posture); a NULL or ragged (zip_with would null-pad) embedding degrades
# to NULL.  Dirty rows with non-finite components also degrade to NULL — a
# strict superset of the expression form's NULL set (which would propagate
# NaN); filters and thresholds behave identically, and no test/oracle
# input carries non-finite embeddings.
#
# Precision: BIT-IDENTICAL to the expression form, not merely close.  The
# batch kernel accumulates SEQUENTIALLY OVER DIMENSIONS (vectorized over rows):
# num = a0*b0; num = num + a1*b1; ... — the exact rounding sequence of the
# expression form's left fold (and of the DuckDB oracle's list_sum and the
# property tests' Python models), just issued as d vectorized ops instead
# of per-row interpretation.  numpy's einsum/matmul reductions were
# measured ~5x faster still, but their summation order is unspecified —
# a last-ulp drift could flip a threshold or rank boundary on adversarial
# near-ties, which the determinism contracts here forbid; the sequential
# kernel keeps every "bit-identical" claim in this module literally true.
# Every numpy dot product, norm and cosine in this module goes through ONE
# routine, :func:`_fold`, so cross-operator bit-identity (indexed vs batch
# vs knn_join serving) holds by construction.
#
# Memory: a grouped kernel never holds a whole group's q x m cosine
# matrix.  :func:`_sims_blocks` yields it at most ``_ROW_BLOCK`` query
# rows at a time, so per-task memory is O(_ROW_BLOCK x m) doubles —
# bounded by construction, whatever the group size (a degenerate-heavy
# band bucket included).  Chunking rows never reorders any single pair's
# reduction, so the blocked doubles equal the unchunked ones bit for bit.
# ---------------------------------------------------------------------------

# Query rows per cosine block: a kernel holds a few (_ROW_BLOCK x m)
# float64 arrays for an m-row group, ~2 MB each per 1,000 rows of m.
# Kernels read it when they are built and carry that value to the
# Python workers.
_ROW_BLOCK = 256


def _fold(a, b):
    """Sequential-dimension dot product over the last axis, with numpy
    broadcasting: ``_fold(ma, mb)`` gives row-wise dots and
    ``_fold(q[:, None], c[None])`` the q x c matrix — acc = a0*b0;
    acc = acc + a1*b1; ..., the rounding sequence of the expression
    form's fold.
    The only dimension loop in this module."""
    import numpy as np

    if a.shape[-1] == 0:
        return np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    acc = a[..., 0] * b[..., 0]
    for i in range(1, a.shape[-1]):
        acc = acc + a[..., i] * b[..., i]
    return acc


def _pairwise_cosine(ma, mb):
    """Row-wise cosine of two (n, d) float64 matrices (``mb`` may be a
    single (d,) query, broadcast); non-finite where the pair degrades
    to NULL."""
    import numpy as np

    den = np.sqrt(_fold(ma, ma)) * np.sqrt(_fold(mb, mb))
    with np.errstate(divide="ignore", invalid="ignore"):
        return _fold(ma, mb) / den


def _sims_blocks(q, c, rows=None):
    """Yield ``(lo, block)``: the cosines of query rows ``lo:lo+len(block)``
    of the (nq, d) matrix ``q`` against every row of the (m, d) matrix
    ``c``, at most ``rows`` (default ``_ROW_BLOCK``) query rows per block.
    EXACT expression-form doubles; a pair whose divisor is zero (try_divide's
    NULL) comes out -inf, any other degraded pair NaN — never finite."""
    import numpy as np

    rows = rows or _ROW_BLOCK
    cn = np.sqrt(_fold(c, c))
    for lo in range(0, len(q), rows):
        qb = q[lo : lo + rows]
        den = np.sqrt(_fold(qb, qb))[:, None] * cn[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.where(den == 0.0, -np.inf, _fold(qb[:, None], c[None]) / den)
        yield lo, sims


def _series_to_matrix(s):
    """Arrow list column (pandas Series of ndarrays/lists) -> (n, d)
    float64 matrix, or None when rows are missing/ragged (slow path)."""
    import numpy as np

    try:
        m = np.stack(s.to_numpy())
    except (ValueError, TypeError):
        return None
    if m.dtype == object or m.ndim != 2:
        return None
    return m.astype(np.float64, copy=False)


def _by_dim(*cols):
    """Group the rows of aligned array columns (pandas Series) by their
    common valid dimension: ``{d: (row indices, one (len, d) float64
    matrix per column)}``.  A row is left out when any column holds a
    NULL, non-1-D, empty or differently sized array there — exactly
    the rows whose cosines are NULL (zip_with null-pads)."""
    import numpy as np

    mats = [_series_to_matrix(c) for c in cols]
    if all(m is not None for m in mats) and len({m.shape[1] for m in mats}) == 1:
        d = mats[0].shape[1]
        return {d: (np.arange(len(mats[0])), *mats)} if d else {}
    arrs = [
        [None if v is None else np.asarray(v, dtype=np.float64) for v in c]
        for c in cols
    ]
    rows: dict[int, list[int]] = {}
    for i, vs in enumerate(zip(*arrs)):
        dims = {v.shape[0] if v is not None and v.ndim == 1 else 0 for v in vs}
        if len(dims) == 1 and 0 not in dims:
            rows.setdefault(dims.pop(), []).append(i)
    return {
        d: (np.asarray(ix), *(np.stack([a[i] for i in ix]) for a in arrs))
        for d, ix in rows.items()
    }


def _group_blocks(qg, cg, nq, rows):
    """Cosine blocks between two :func:`_by_dim` groupings — ``nq``
    query rows and a corpus: yield ``(qi, ci, sims)``, query row
    indices ``qi``, same-dimension corpus row indices ``ci`` and their
    (len(qi), len(ci)) :func:`_sims_blocks` cosines.  Every query row
    is yielded exactly once; one without a same-dimension corpus row
    comes with an empty ``ci``."""
    import numpy as np

    seen = np.zeros(nq, dtype=bool)
    for d, (qi, qm) in qg.items():
        if d in cg:
            ci, cm = cg[d]
            for lo, sims in _sims_blocks(qm, cm, rows):
                yield qi[lo : lo + len(sims)], ci, sims
            seen[qi] = True
    rest = np.nonzero(~seen)[0]
    for lo in range(0, len(rest), rows):
        qi = rest[lo : lo + rows]
        yield qi, rest[:0], np.empty((len(qi), 0))


def _threshold_pairs(blocks, threshold, keep=None):
    """Every (query row, corpus row) pair of :func:`_group_blocks`
    output whose cosine is finite and ``>= threshold`` (NULL is never
    >= anything) and that ``keep(qi, ci)`` admits (elementwise over
    row-index arrays; every pair when None) -> (q rows, c rows,
    cosines)."""
    import numpy as np

    q, c, v = [np.empty(0, np.intp)], [np.empty(0, np.intp)], [np.empty(0)]
    for qi, ci, sims in blocks:
        with np.errstate(invalid="ignore"):
            r, j = np.nonzero(np.isfinite(sims) & (sims >= threshold))
        if keep is not None:
            ok = keep(qi[r], ci[j])
            r, j = r[ok], j[ok]
        q.append(qi[r])
        c.append(ci[j])
        v.append(sims[r, j])
    return np.concatenate(q), np.concatenate(c), np.concatenate(v)


def _local_topk(blocks, c_ids, k, keep=None):
    """Each query row's top ``k`` corpus rows among the candidates
    ``keep(qi, ci)`` admits (every corpus row when None), by the
    serving order: finite cosine desc, then NULL cosines, ties by
    corpus id VALUE asc (the per-partition top-k of REPOSE, ICDE'21 —
    the global window over the union of local top-ks is exact by
    selection).  ``blocks`` is :func:`_group_blocks` output against a
    corpus with ids ``c_ids``; corpus rows outside a block's ``ci``
    are NULL-cosine candidates.  Per block, memory is O(block x m).
    -> (q rows, c rows, cosines; non-finite = NULL)."""
    import numpy as np

    cj = np.arange(len(c_ids))
    q, c, v = [np.empty(0, np.intp)], [np.empty(0, np.intp)], [np.empty(0)]
    for qi, ci, sims in blocks:
        neg = np.full((len(qi), len(cj)), np.inf)
        neg[:, ci] = np.where(np.isfinite(sims), -sims, np.inf)
        if keep is None:
            drop = np.zeros(neg.shape, dtype=bool)
        else:
            drop = ~keep(qi[:, None], cj[None, :])
        ids = np.broadcast_to(c_ids, neg.shape)
        order = np.lexsort((ids, neg, drop))[:, :k]
        r = np.broadcast_to(np.arange(len(qi))[:, None], order.shape)
        ok = ~drop[r, order]
        q.append(qi[r[ok]])
        c.append(order[ok])
        v.append(-neg[r[ok], order[ok]])
    return np.concatenate(q), np.concatenate(c), np.concatenate(v)


def _nullable(vals):
    """float64 cosines -> Series, non-finite values as NULL (None in an
    object Series; a plain float64 Series when every value is finite)."""
    import numpy as np

    ok = np.isfinite(vals)
    if ok.all():
        return pd.Series(vals)
    out = vals.astype(object)
    out[~ok] = None
    return pd.Series(out, dtype="object")


def _result_frame(cols, cosine=None):
    """Kernel output frame.  ``cols`` maps each output column to
    ``(input column, row positions)``, so every id column keeps the
    dtype of the input column it is taken from — the type of the
    declared output schema field, empty frames included.
    ``cosine`` becomes a nullable double column (:func:`_nullable`)."""
    out = pd.DataFrame(
        {
            name: col.iloc[pos].reset_index(drop=True)
            for name, (col, pos) in cols.items()
        }
    )
    if cosine is not None:
        out["cosine"] = _nullable(cosine)
    return out


def _batch_pair_cosine(va, vb):
    """Worker-side body of :func:`cosine_arrow` (module-level so the
    pickled closure stays tiny and worker reuse caches the import)."""
    import numpy as np

    out = np.full(len(va), np.nan)
    for idx, ma, mb in _by_dim(va, vb).values():
        out[idx] = _pairwise_cosine(ma, mb)
    return _nullable(out)


_COS_PAIR_UDF = None


def cosine_arrow(a: Column, b: Column) -> Column:
    """Arrow-vectorized twin of the expression-form cosine (see the block
    comment above for semantics/precision); the production path for
    every cosine in this module."""
    global _COS_PAIR_UDF
    if _COS_PAIR_UDF is None:

        @F.pandas_udf("double")
        def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
            return _batch_pair_cosine(va, vb)

        _COS_PAIR_UDF = _cos
    return _COS_PAIR_UDF(a, b)


def cosine_vs_const_arrow(vec: Column, query: list[float]) -> Column:
    """Cosine against a CONSTANT query vector: the query is captured in
    the UDF closure (shipped once per task, never per row) and broadcast
    over the batch rows by :func:`_fold`, so the reduction order — hence
    the produced doubles — is identical to :func:`cosine_arrow` on a
    query column."""
    import numpy as np

    q = np.asarray([float(x) for x in query], dtype=np.float64)

    @F.pandas_udf("double")
    def _cos_q(va: pd.Series) -> pd.Series:
        out = np.full(len(va), np.nan)
        hit = _by_dim(va).get(len(q))
        if hit is not None:
            out[hit[0]] = _pairwise_cosine(hit[1], q)
        return _nullable(out)

    return _cos_q(vec)


def _argmax_cell(sims, cids):
    """Cosine block -> (rows, 1) argmax-cosine cell id, with the
    kmeans/ivf tie-break (ties -> smallest cid) and degrade policy
    (a zero-divisor pair scores -inf, the coalesce(-inf) posture; a NaN
    cosine ranks greatest, Spark's double ordering)."""
    import numpy as np

    sims = np.where(np.isnan(sims), np.inf, sims)
    best = sims == sims.max(axis=1, keepdims=True)
    big = np.iinfo(np.int64).max
    return np.where(best, cids[None, :], big).min(axis=1, keepdims=True)


def _ranked_cells(sims, cids):
    """Cosine block -> (rows, cells) ranked cell ids, reproducing the
    retired per-vector window's ``ORDER BY sim DESC NULLS LAST, cid``:
    finite cosines descending first, NULL-cosine cells (zero-norm side,
    non-finite math) last, ties and null-ranking both breaking to the
    smallest cid (stable argsort over cid-sorted centroids)."""
    import numpy as np

    neg = np.where(np.isfinite(sims), -sims, np.inf)
    return cids[np.argsort(neg, axis=1, kind="stable")]


def _centroid_matrix(centroids):
    """(cid, vector) list -> (cid-sorted int64 ids, float64 matrix).

    The matrix takes the most common centroid dimension.  A NULL vector,
    a NULL element, or a ragged or other-dimension vector becomes a zero
    row: its cosine divisor is zero, so it scores NULL against every
    vector and ranks last (:func:`_ranked_cells`, :func:`_argmax_cell`),
    as :func:`cosine_arrow` degrades such a pair."""
    from collections import Counter

    import numpy as np

    ordered = sorted(centroids, key=lambda c: int(c[0]))
    cids = np.asarray([int(c) for c, _ in ordered], dtype=np.int64)
    vecs = [None if v is None or None in v else v for _, v in ordered]
    dims = Counter(len(v) for v in vecs if v is not None).most_common(1)
    cmat = np.zeros((len(vecs), dims[0][0] if dims else 0))
    for i, v in enumerate(vecs):
        if v is not None and len(v) == cmat.shape[1]:
            cmat[i] = v
    return cids, cmat


def _rank_cells(va, cids, cmat, take, rank, rows=None):
    """Each vector's top ``take`` cell ids (an (n, take) matrix) for a
    batch ``va`` against the cid-sorted centroid matrix, by the block
    policy ``rank`` (:func:`_argmax_cell` / :func:`_ranked_cells`).  A
    NULL / ragged / wrong-dim vector has every cosine NULL, so it gets
    the ``take`` smallest cids — the retired expression and window
    forms' behavior."""
    import numpy as np

    out = np.tile(cids[:take], (len(va), 1))
    hit = _by_dim(va).get(cmat.shape[1])
    if hit is not None:
        idx, m = hit
        for lo, sims in _sims_blocks(m, cmat, rows):
            out[idx[lo : lo + len(sims)]] = rank(sims, cids)[:, :take]
    return out


def _centroid_udf(vec, centroids, take, spark, via_broadcast, rank, scalar):
    """Shared shell of :func:`nearest_cid_arrow` / :func:`probe_cids_arrow`:
    one Arrow batch op ranking cells with :func:`_rank_cells`, returning
    the top cell (``scalar``, ``long``) or the ranked list
    (``array<long>``).  The centroid matrix rides the UDF closure, or a
    SparkContext broadcast with ``via_broadcast`` (the ~100k-cell
    regime, where a pickled closure would re-ship per task)."""
    cids, cmat = _centroid_matrix(centroids)
    take, rows = int(min(take, len(cids))), _ROW_BLOCK
    bc = None
    if via_broadcast:
        if spark is None:
            raise ValueError("via_broadcast requires the SparkSession")
        bc = spark.sparkContext.broadcast((cids, cmat))

    @F.pandas_udf("long" if scalar else "array<long>")
    def _cells(va: pd.Series) -> pd.Series:
        ids, mat = bc.value if bc is not None else (cids, cmat)
        out = _rank_cells(va, ids, mat, take, rank, rows)
        if scalar:
            return pd.Series(out[:, 0])
        return pd.Series(list(out), dtype="object")

    return _cells(vec)


def nearest_cid_arrow(
    vec: Column,
    centroids: list[tuple[int, list[float]]],
    spark: SparkSession | None = None,
    via_broadcast: bool = False,
) -> Column:
    """Argmax-cosine cell id against a DRIVER-HELD centroid list as one
    Arrow batch op — the r17 replacement for BOTH k-means assignment
    forms (the literal n_cells x dim expression and the broadcast-join +
    re-aggregate form): one numpy (n x k) scoring block per Arrow batch,
    no fan-out join, no re-collapsing groupBy, and plan size is O(1) in
    n_cells either way.  ``via_broadcast=True`` ships the centroid
    matrix as a SparkContext broadcast (the >limit regime, ~100k cells —
    a pickled closure would re-ship per task); below the limit the
    closure is cheaper.  Tie-break, zero-norm and NaN semantics are the
    :func:`_argmax_cell` contract — identical to the retired expression
    forms."""
    return _centroid_udf(
        vec, centroids, 1, spark, via_broadcast, _argmax_cell, True
    )


def probe_cids_arrow(
    vec: Column,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    spark: SparkSession | None = None,
    via_broadcast: bool = False,
) -> Column:
    """Ranked top-``nprobe`` cell ids per vector against a DRIVER-HELD
    centroid list, as ONE Arrow batch op returning ``array<long>`` —
    the r17 replacement for :func:`ivf_assign`'s broadcast-crossJoin
    fan-out + per-vector row_number window (guide §4.2): no corpus x
    n_cells intermediate, no window Exchange, one narrow map.
    Ordering semantics match the retired window exactly (see
    :func:`_ranked_cells`); a NULL / ragged / wrong-dim vector has every
    cosine NULL, so it probes the ``nprobe`` smallest cids — the
    window's NULLS LAST behavior.  Shipping mirrors
    :func:`nearest_cid_arrow`: closure pickle by default,
    SparkContext broadcast for huge centroid sets."""
    return _centroid_udf(
        vec, centroids, nprobe, spark, via_broadcast, _ranked_cells, False
    )


# Centroid lists longer than this ship to the assignment UDFs as a
# SparkContext broadcast instead of in the pickled closure (the ~100k-cell
# regime, where re-pickling the matrix per task would dominate).
_CLOSURE_CENTROIDS = 256


def _centroid_list(
    centroids: DataFrame, cid: str = "cid", cvec: str = "cvec"
) -> list[tuple[int, list[float] | None]]:
    """The one centroid collect of every IVF form: ``(cid, vector)``
    pairs, n_cells x dim — metadata, the Spark MLlib KMeans pattern.  A
    NULL vector stays None (:func:`_centroid_matrix` degrades it)."""
    return [
        (int(r[0]), None if r[1] is None else list(r[1]))
        for r in centroids.select(cid, cvec).collect()
    ]


def _stub_centroids(
    df: DataFrame, n_cells: int, id_col: str, vec_col: str
) -> DataFrame:
    """The deterministic stub cells: the first ``n_cells`` vectors by id,
    as ``(cid, cvec)`` — the same contract as :func:`kmeans_centroids`."""
    return df.where(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )


def _probe_col(
    vec: Column,
    cents: list[tuple[int, list[float]]],
    nprobe: int,
    spark: SparkSession,
) -> Column:
    """The engine-side probe rule: each vector's ranked top-``nprobe``
    cell ids (:func:`probe_cids_arrow`), the centroids riding the UDF
    closure up to ``_CLOSURE_CENTROIDS`` cells and a broadcast above."""
    return probe_cids_arrow(
        vec,
        cents,
        int(nprobe),
        spark=spark,
        via_broadcast=len(cents) > _CLOSURE_CENTROIDS,
    )


def _probe_cells(
    cents: list[tuple[int, list[float]]], vectors: list, nprobe: int
) -> list[list[int]]:
    """The driver-side probe rule: each vector's ranked top-``nprobe``
    cell ids by :func:`_rank_cells` — the routine behind
    :func:`_probe_col`, so both sides of a serve probe the same cells."""
    if not cents:
        return [[] for _ in vectors]
    cids, cmat = _centroid_matrix(cents)
    ranked = _rank_cells(
        pd.Series(list(vectors), dtype="object"),
        cids,
        cmat,
        min(int(nprobe), len(cids)),
        _ranked_cells,
    )
    return [[int(c) for c in row] for row in ranked]


def _cell_topk_kernel(
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    exclude_self: bool,
):
    """Factory for the per-cell top-k cogroup kernel of
    :func:`ivf_knn_join` (module-level so the pickled closure carries
    only scalars).  For one cell it receives the queries probing the
    cell and the corpus rows living in it and emits each query's local
    top-k (:func:`_local_topk`, cosines bit-identical to cosine_arrow;
    cross-dim / NULL / ragged pairs stay NULL, exactly zip_with's
    null-pad degrade, and rank last — the window form's behavior when
    a query has fewer than k finite candidates).  ``exclude_self``
    drops candidates whose id VALUE equals the query id."""
    kk, rows = int(k), _ROW_BLOCK

    def _topk(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        q_ids, c_ids = qpdf[query_id_col], cpdf[id_col]
        qv, cv = q_ids.to_numpy(), c_ids.to_numpy()
        blocks = _group_blocks(
            _by_dim(qpdf[query_vec_col]), _by_dim(cpdf[vec_col]), len(qv), rows
        )
        keep = (lambda a, b: qv[a] != cv[b]) if exclude_self else None
        qi, ci, vals = _local_topk(blocks, cv, kk, keep)
        return _result_frame(
            {query_id_col: (q_ids, qi), id_col: (c_ids, ci)}, vals
        )

    return _topk


def hyperplane_band_keys_arrow(
    vec: Column, planes: list[list[float]], n_bands: int
) -> Column:
    """Array of ``n_bands`` LSH band keys ``'<band>|<bits>'``, the sign
    bits of ``len(planes)/n_bands`` random-hyperplane projections per
    band (minhash-style OR-amplification: near-identical vectors agree
    on ALL bits of at least one band almost surely).  All projections
    run as d sequential numpy steps per Arrow batch instead of one
    interpreted ``aggregate(zip_with(...))`` SQL fold per plane per
    row.

    Bit-identity argument: only the SIGN of each projection reaches the
    key, and the kernel accumulates products in the identical index
    order as the SQL fold (initial ``0.0 +`` changes no double except
    -0.0 -> 0.0, which compares equal), so every ``>= 0`` decision
    matches exactly — including the edges, reproduced explicitly:
    a NaN projection is '1' (Spark compares NaN greater than any
    double), while a NULL vector, a wrong-length vector (zip_with
    null-pads) or a NULL ELEMENT (null product poisons the fold)
    yields NULL -> '0'.  Null elements arrive in Arrow as NaN,
    indistinguishable from data NaN, so the null-element case is
    detected JVM-side (one ``exists`` over the array) and shipped as a
    boolean alongside the vector.  Parity is pytest-pinned against the
    SQL expression form on adversarial rows."""
    import numpy as np

    W = np.asarray([[float(x) for x in p] for p in planes], dtype=np.float64)
    n_planes, dim = W.shape
    per_band = n_planes // n_bands
    zero_keys = ["%d|%s" % (b, "0" * per_band) for b in range(n_bands)]

    @F.pandas_udf("array<string>")
    def _keys(va: pd.Series, has_null: pd.Series) -> pd.Series:
        hn = has_null.to_numpy(dtype=bool, na_value=False)
        out = [zero_keys] * len(va)
        hit = _by_dim(va).get(dim)
        if hit is not None:
            num = _fold(hit[1][:, None], W[None])
            with np.errstate(invalid="ignore"):
                bits = np.where(np.isnan(num) | (num >= 0.0), "1", "0")
            for r, row in zip(hit[0], bits):
                if not hn[r]:
                    out[r] = [
                        "%d|%s" % (b, "".join(row[b * per_band : (b + 1) * per_band]))
                        for b in range(n_bands)
                    ]
        return pd.Series(out, dtype="object")

    return _keys(vec, F.exists(vec, lambda x: x.isNull()))


def _band_bucket(pdf, id_col: str, vec_col: str, rows: int):
    """Shared set-up of the banded-LSH grouped kernels for one band
    bucket's rows (same ``band_key`` — keys embed the band index, so
    one bucket = one band) -> ``(ids, blocks, first)``: the id values,
    the bucket's :func:`_group_blocks` against itself, and
    ``first(a, b)``, true where NO band before this one also matched
    between rows a and b — the retired join's first-match predicate, so
    every pair surfaces from exactly one bucket (band keys are
    concat-built strings, never NULL, so != is exact)."""
    import numpy as np

    ids = pdf[id_col].to_numpy()
    g = _by_dim(pdf[vec_col])
    blocks = _group_blocks(g, g, len(ids), rows)
    band = int(pdf["_band"].iloc[0])
    bks = list(pdf["_bks"])
    codes = [
        np.unique(np.array([b[q] for b in bks]), return_inverse=True)[1]
        for q in range(band)
    ]

    def first(a, b):
        ok = np.ones(np.broadcast_shapes(np.shape(a), np.shape(b)), dtype=bool)
        for code in codes:
            ok &= code[a] != code[b]
        return ok

    return ids, blocks, first


def _band_pair_drops_kernel(threshold: float, id_col: str, vec_col: str):
    """Factory for the near-dup grouped kernel: one band bucket in,
    thresholded (id_a < id_b, cosine) pairs out — cosines bit-identical
    to cosine_arrow, NULL-degrade pairs never emitted (NULL is never
    >= threshold), first-match uniqueness preserved (a pair is emitted
    only from the lowest band whose keys agree, so it appears in
    exactly one bucket's output)."""
    thr, rows = float(threshold), _ROW_BLOCK

    def _drops(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, blocks, first = _band_bucket(pdf, id_col, vec_col, rows)
        qi, ci, vals = _threshold_pairs(
            blocks, thr, lambda a, b: (ids[a] < ids[b]) & first(a, b)
        )
        col = pdf[id_col]
        return _result_frame({"id_a": (col, qi), "id_b": (col, ci)}, vals)

    return _drops


def _band_knn_kernel(k: int, id_col: str, vec_col: str):
    """Factory for the k-NN grouped kernel: one band bucket in, each
    member's LOCAL top-k among its first-match candidates in the bucket
    out (both directions — k-NN is asymmetric; a member never ranks a
    row with its own id VALUE, the retired join's ``_qid != _nid``).
    Ordering reproduces the serving window exactly (cosine desc NULLS
    LAST, neighbor id asc; NULL-cosine candidates kept and ranked
    last), so the global top-k window over the union of local top-ks is
    exact by selection."""
    kk, rows = int(k), _ROW_BLOCK

    def _knn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, blocks, first = _band_bucket(pdf, id_col, vec_col, rows)
        qi, ci, vals = _local_topk(
            blocks, ids, kk, lambda a, b: (ids[a] != ids[b]) & first(a, b)
        )
        col = pdf[id_col]
        return _result_frame({"_qid": (col, qi), "_nid": (col, ci)}, vals)

    return _knn


def _apply_by_runs(df: DataFrame, key: str, kernel, schema) -> DataFrame:
    """THE grouped-kernel crossing of the band buckets and the SemDeDup
    cells: ``df`` is hash-partitioned and sorted on ``key``, and ONE
    ``mapInPandas`` pass per partition calls ``kernel`` once per run of
    equal keys (one group) holding two or more rows — a one-row group
    forms no pair and no neighbor, so it is skipped.  A grouped
    ``applyInPandas`` pays one Python call per group instead (~5 ms
    each on a 4-vCPU host; ``knn_join`` made 496 of them for 200
    vectors, most for one-row buckets).  The open run's pieces are
    held in a list and concatenated once when the run closes, so a
    task holds one group at a time (with the Arrow batches its rows
    arrived in), as the grouped form does.  The local pass per
    partition, then a small global merge, is REPOSE's shape
    (ICDE'21)."""
    import numpy as np

    def _close(held):
        if sum(map(len, held)) > 1:
            yield kernel(pd.concat(held, ignore_index=True))

    def _runs(batches):
        held = []
        for pdf in filter(len, batches):  # an empty batch has no run
            keys = pdf[key].to_numpy()
            cut = [0, *(np.flatnonzero(keys[1:] != keys[:-1]) + 1), len(keys)]
            for lo, hi in zip(cut[:-1], cut[1:]):
                if held and held[0][key].iat[0] != keys[lo]:
                    yield from _close(held)
                    held = []
                held.append(pdf.iloc[lo:hi])
        yield from _close(held)

    return df.repartition(key).sortWithinPartitions(key).mapInPandas(
        _runs, schema
    )


def semantic_pair_drops_grouped(
    cellv: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    cell_col: str = "cid",
) -> DataFrame:
    """Within-cell SemDeDup drop ids — every id with a smaller-id
    same-cell neighbor at cosine >= ``threshold`` — via ONE grouped
    Arrow crossing per partition (:func:`_apply_by_runs`; a one-row
    cell is skipped) under guide §8's move-bytes-once rule: each
    cell's vectors cross the Python
    boundary ONCE (m x d doubles) and the m^2 pair cosines run as d
    vectorized numpy steps, instead of the retired equi-self-join
    whose ArrowEvalPython predicate shipped BOTH vectors per candidate
    pair (m^2 x 2d doubles — measured 4 GB/entry at sf0.1 nprobe=2,
    the whole regression).  Pair semantics are exact: cosines are
    bit-identical to the expression form (sequential fold — see
    :func:`_fold`), the drop rule compares actual id VALUES (never row
    order), NULL/ragged vectors neither drop nor get dropped (their
    cosines are NULL), and vectors of different dimensions never pair
    (zip_with null-pads -> NULL cosine), handled by one block set per
    distinct dimension.  Memory: the cell's cosines are built
    ``_ROW_BLOCK`` rows at a time (:func:`_sims_blocks`), so a task
    holds O(_ROW_BLOCK x m) doubles, not the cell's m^2 matrix — an
    oversized cell costs time, never task memory.  Output may repeat
    an id across cells (nprobe > 1); callers ``distinct()`` exactly as
    they did over the join form."""
    import numpy as np

    out_schema = T.StructType([cellv.schema[id_col]])
    thr, rows = float(threshold), _ROW_BLOCK

    def _drops(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        g = _by_dim(pdf[vec_col])
        _, ci, _ = _threshold_pairs(
            _group_blocks(g, g, len(ids), rows),
            thr,
            lambda a, b: ids[a] < ids[b],
        )
        return _result_frame({id_col: (pdf[id_col], np.unique(ci))})

    return _apply_by_runs(
        cellv.select(cell_col, id_col, vec_col), cell_col, _drops, out_schema
    )


def flag_close_to_any_arrow(
    vec: Column, bench: list[list[float]], threshold: float
) -> Column:
    """TRUE iff ``vec``'s cosine to ANY of the DRIVER-HELD ``bench``
    vectors reaches ``threshold`` — the decontamination screen as one
    Arrow batch op (optimization r17, guide §4.2): each corpus vector
    crosses the boundary ONCE and scores against the whole benchmark
    matrix in d sequential numpy steps, instead of the retired
    corpus x |benchmark| crossJoin whose Arrow predicate shipped the
    vector once PER benchmark row.  Cosines are bit-identical to
    the expression form (sequential fold); NULL / ragged / wrong-dim /
    zero-norm comparisons are NULL (never >= threshold), matching the
    cosine_arrow degrade policy — a NULL or ragged benchmark row never
    flags anything.  Benchmarks are small by contract (eval suites);
    the matrices ride the UDF closure like :func:`nearest_cid_arrow`'s
    centroid list."""
    import numpy as np

    bg = _by_dim(pd.Series(list(bench), dtype="object"))
    thr, rows = float(threshold), _ROW_BLOCK

    @F.pandas_udf("boolean")
    def _flag(va: pd.Series) -> pd.Series:
        qi, _, _ = _threshold_pairs(
            _group_blocks(_by_dim(va), bg, len(va), rows), thr
        )
        flags = np.zeros(len(va), dtype=bool)
        flags[qi] = True
        return pd.Series(flags)

    return _flag(vec)


def _topk(
    scored: DataFrame,
    order: list[Column],
    k: int,
    query_id_col: str | None = None,
    rank_col: str | None = None,
) -> DataFrame:
    """The top-k rule of every serving form: the first ``k`` rows of
    ``scored`` by ``order``.  Without a query column it is a TakeOrdered
    (orderBy + limit: k rows per partition, then k at the driver); with
    one, a ``row_number`` window per ``query_id_col``, whose rank is
    kept as the long column ``rank_col`` when one is named."""
    if query_id_col is None:
        return scored.orderBy(*order).limit(int(k))
    rank = F.row_number().over(Window.partitionBy(query_id_col).orderBy(*order))
    name = rank_col or "_rn"
    ranked = scored.withColumn(
        name, rank if rank_col is None else rank.cast("long")
    ).where(F.col(name) <= F.lit(int(k)))
    return ranked if rank_col is not None else ranked.drop(name)


def topk_cosine(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors of ``query_id`` by cosine similarity.

    The query point is a one-row broadcast — no shuffle of the corpus; the
    top-k is a TakeOrdered, not a global sort materialization.  Scoring is
    one :func:`cosine_arrow` batch op (guide §4.2) — the r17 replacement
    for the per-row HOF fold + hoisted-norm pattern.
    """
    q = df.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_query_vec"),
    )
    scored = (
        df.where(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            cosine_arrow(F.col(vec_col), F.col("_query_vec")).alias("cosine"),
        )
    )
    return _topk(scored, [F.col("cosine").desc(), F.col(id_col)], k)


def sign_bucket_expr(vec: Column, n_bits: int = 8) -> Column:
    """Deterministic LSH bucket: concatenated sign bits of the first
    ``n_bits`` components (axis-aligned hyperplanes)."""
    bits = [
        F.when(F.element_at(vec, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(n_bits)
    ]
    return F.concat(*bits)


def add_sign_bucket(
    df: DataFrame, vec_col: str = "embedding", n_bits: int = 8
) -> DataFrame:
    return df.withColumn("bucket", sign_bucket_expr(F.col(vec_col), n_bits))


def _posexplode_once(df: DataFrame, keep, arr, pos, value) -> DataFrame:
    """THE explode of an Arrow UDF's array column ``arr`` (the probe
    lists of :func:`ivf_assign`, the band keys of
    :func:`_band_bucket_apply`): ``keep`` plus ``(pos, value)`` per
    element, with the UDF evaluated once per row.  A plain
    ``posexplode`` of the attribute breaks that rule: Catalyst's
    InferFiltersFromGenerate adds ``size(arr) > 0 AND isnotnull(arr)``
    under the Generate, predicate pushdown substitutes the UDF for the
    attribute in that filter, and the plan then runs the UDF in two
    ArrowEvalPython nodes.  The outer form infers no filter, and
    ``value IS NOT NULL`` then drops exactly the rows a plain
    ``posexplode`` never emits (a NULL or empty array), since neither
    array ever holds a NULL element."""
    out = df.select(*keep, F.posexplode_outer(arr).alias(pos, value))
    return out.where(F.col(value).isNotNull())


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "cid",
    centroid_vec: str = "cvec",
    nprobe: int = 1,
    rank_col: str | None = None,
) -> DataFrame:
    """IVF cell assignment: each vector joins its ``nprobe`` nearest
    centroids (max cosine, centroid id as the deterministic tie-break).

    Shape at scale (optimization r17, guide §4.2/§2.4): the centroid
    table is collected driver-side (n_cells x dim — metadata, the
    Spark MLlib KMeans pattern; it was already required to fit as a
    broadcast) and each vector's ranked probe list is ONE Arrow batch
    op (:func:`probe_cids_arrow`) + an explode — replacing the
    corpus x n_cells crossJoin fan-out and the per-vector row_number
    window, whose id-keyed Exchange was the assignment's only shuffle.
    The ranking semantics and produced rows are identical to the
    window form (property-pinned).  Returns (id, cid) with up to
    ``nprobe`` rows per id; ``nprobe`` defaults to 1 (one row per id,
    the classic assignment).  nprobe > 1 is the standard mitigation
    for the cell-boundary recall edge: a vector near a boundary lands
    in BOTH flanking cells, so a near-dup pair split across the
    boundary still shares a cell downstream.  ``rank_col``
    additionally exposes the 1-based probe rank (1 = primary cell) for
    callers that need to distinguish the nearest cell from the extra
    probes.

    Once-per-row rule: the probe UDF runs once per row, in ONE
    ArrowEvalPython node.  The probe list is exploded by
    :func:`_posexplode_once`; a plain ``posexplode`` of the ``_probes``
    column would let Catalyst infer ``size(_probes) > 0`` under the
    Generate and push the UDF itself into that filter, so each task
    would rank every vector's cells twice.
    """
    cents = _centroid_list(centroids, centroid_id, centroid_vec)
    cols = [id_col, centroid_id]
    if not cents:
        empty = df.select(
            F.col(id_col), F.lit(None).cast("long").alias(centroid_id)
        ).where(F.lit(False))
        if rank_col is not None:
            empty = empty.withColumn(rank_col, F.lit(None).cast("long"))
            cols.append(rank_col)
        return empty.select(*cols)
    probed = df.select(
        id_col,
        _probe_col(F.col(vec_col), cents, nprobe, df.sparkSession).alias(
            "_probes"
        ),
    )
    exploded = _posexplode_once(
        probed, [id_col], "_probes", "_pos", centroid_id
    )
    if rank_col is not None:
        exploded = exploded.withColumn(
            rank_col, (F.col("_pos") + 1).cast("long")
        )
        cols.append(rank_col)
    return exploded.select(*cols)


def ivf_topk(
    df: DataFrame,
    query_id: int,
    k: int = 5,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into cells around centroids,
    search the query's ``nprobe`` nearest cells (classic IVF serving:
    the CORPUS is partitioned once — one cell per vector — and recall
    is tuned per query by probing more cells).

    A one-row :func:`ivf_knn_join`: the query row ``id == query_id``
    against the corpus, the query's own id excluded, projected to
    ``(id_col, cosine)`` — so its rows are by construction the cell
    join's, and bit-identical to :func:`ivf_topk_indexed` over a
    :func:`write_ivf_index` of the same corpus.

    Default centroid "training" is a deterministic stub — the first
    ``n_cells`` corpus vectors by id; pass
    ``centroids=kmeans_centroids(df, ...)`` for trained cells (same
    (cid, cvec) contract, identical serving plan).
    """
    if centroids is None:
        centroids = _stub_centroids(df, n_cells, id_col, vec_col)
    query = df.where(F.col(id_col) == query_id).select(
        F.col(id_col).alias("_qid"), F.col(vec_col).alias("_qvec")
    )
    return ivf_knn_join(
        query, df, centroids, k, nprobe, id_col, vec_col, "_qid", "_qvec",
        exclude_self=True,
    ).select(id_col, "cosine")


def write_ivf_index(
    df: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF serving layout the :func:`ivf_topk`
    docstring prescribes: the corpus written as parquet PARTITIONED BY
    cell id, so a query's probe set becomes a partition-pruned scan —
    at 100 TB the difference between reading ``nprobe`` directories
    and reading everything.  One assignment pass (broadcast centroids,
    per-vector top-1 window), one partitioned write; re-running
    overwrites (idempotent index rebuild)."""
    assigned = ivf_assign(df, centroids, id_col, vec_col)
    (
        df.join(assigned, id_col)
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(path)
    )


def ivf_topk_indexed(
    spark: SparkSession,
    path: str,
    centroids: DataFrame,
    query_vec: list[float],
    k: int = 5,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Serve a cosine top-k from a :func:`write_ivf_index` layout: the
    query's ``nprobe`` nearest cells are chosen DRIVER-SIDE against the
    (metadata-sized) centroid table, and the scan carries
    ``cid IN (probes)`` — Spark prunes to exactly those partition
    directories (visible as PartitionFilters in the plan; pinned in
    tests), so the corpus read is proportional to the probed cells,
    not the index.  Probe cells are ranked by the one driver-side
    probe rule (:func:`_probe_cells`: max cosine, then smallest cid),
    the engine-side rule's routine, so results are identical to running
    :func:`ivf_topk` over the unindexed corpus.  The one-vector form
    keeps the query as a UDF constant and a TakeOrdered top-k, which
    schedule fewer jobs than a one-row :func:`ivf_topk_batch`."""
    q = [float(x) for x in query_vec]
    probes = _probe_cells(_centroid_list(centroids), [q], nprobe)[0]
    from airflow_etl_minio_to_postgres_spark.sources.manifest import (
        resolve_data_root,
    )

    corpus = spark.read.parquet(resolve_data_root(spark, path)).where(
        F.col("cid").isin(probes)
    )
    if exclude_id is not None:
        corpus = corpus.where(F.col(id_col) != exclude_id)
    # Scoring: the constant-query Arrow form — the query ships once per
    # task in the UDF closure and is broadcast to the batch shape, so the
    # produced doubles are identical to the cell kernel's and
    # cosine_arrow's (the ivf_topk / ivf_topk_batch paths) and the
    # bit-identity contract between indexed and unindexed serving holds
    # by construction.
    scored = corpus.select(
        id_col, cosine_vs_const_arrow(F.col(vec_col), q).alias("cosine")
    )
    return _topk(scored, [F.col("cosine").desc(), F.col(id_col)], k)


def ivf_topk_batch(
    spark: SparkSession,
    path: str,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qvec",
    exclude_self: bool = False,
) -> DataFrame:
    """Serve cosine top-k for a TABLE of queries from a
    :func:`write_ivf_index` layout — the broadcast regime of IVF
    serving, for eval-sized query tables (:func:`ivf_topk_indexed` is
    its single-vector sibling for point lookups, :func:`ivf_knn_join`
    the cell-join regime for corpus-scale ones).

    Shape at scale: the query side is collected (a broadcast routes it
    through the driver anyway) and each query's probe cells come from
    the one driver-side probe rule (:func:`_probe_cells`), so the
    ``(query id, probe cell, query vector)`` side is a local relation
    with the query table's own column types.  The UNION of all probe
    cells drives ONE partition-pruned corpus scan shared by every
    query; the query side is broadcast into it, so each corpus row is
    scored only against the queries probing ITS cell, and a per-query
    top-k window (:func:`_topk`) finishes.  A corpus-scale query table
    belongs to :func:`ivf_knn_join` (co-partitioned by cell id), not
    to a bigger broadcast.

    Consistency contract (pinned in tests): per-query results are
    bit-identical to :func:`ivf_topk_indexed` run one query at a time
    and to :func:`ivf_knn_join` with the same (k, nprobe) — all rank
    probe cells by (max cosine, then smallest cid) and results by
    (cosine desc, then smallest id), and all compute the same
    sequential double fold over the same array order.  A NULL or
    wrong-dimension query vector probes the smallest cids and ranks
    its candidates by id, all cosines NULL.  ``exclude_self`` drops
    the corpus row whose id equals the query id (queries drawn from
    the corpus).

    Returns (query_id_col, id_col, cosine), k rows per query, ordered
    within each query by (cosine desc, id).
    """
    from airflow_etl_minio_to_postgres_spark.sources.manifest import (
        resolve_data_root,
    )

    qframe = queries.select(query_id_col, query_vec_col)
    rows = qframe.collect()
    probes = _probe_cells(
        _centroid_list(centroids), [r[1] for r in rows], nprobe
    )
    qside = local_relation(  # a LocalTableScan: broadcast with no job
        spark,
        [(r[0], c, r[1]) for r, cells in zip(rows, probes) for c in cells],
        T.StructType(
            [
                qframe.schema[query_id_col],
                T.StructField("cid", T.LongType()),
                qframe.schema[query_vec_col],
            ]
        ),
    )
    cells = sorted({c for cells in probes for c in cells})
    corpus = spark.read.parquet(resolve_data_root(spark, path)).where(
        F.col("cid").isin(cells)
    )
    # Scoring is ONE cosine_arrow batch op per Arrow batch of candidate
    # pairs — the same _fold as every other serving operator.
    scored = corpus.join(F.broadcast(qside), "cid").select(
        F.col(query_id_col),
        F.col(id_col),
        cosine_arrow(F.col(vec_col), F.col(query_vec_col)).alias("cosine"),
    )
    if exclude_self:
        scored = scored.where(F.col(id_col) != F.col(query_id_col))
    order = [F.col("cosine").desc(), F.col(id_col)]
    return _topk(scored, order, k, query_id_col).orderBy(query_id_col, *order)


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic
    complement of ``functions/dedup.py decontaminate`` exactly as
    :func:`semantic_dedup` complements the lexical dedup family: drop
    every corpus vector whose cosine to ANY benchmark vector reaches
    ``threshold``.  Paraphrased eval questions share no n-grams with
    the benchmark text, but their embeddings sit at cosine ~1 — the
    leak the gram screen cannot see.

    EXACT by design, not LSH-bucketed: a missed leak silently inflates
    eval scores, so recall is the contract here (same reasoning as the
    gram screen's exact containment).  Scale shape mirrors the lexical
    twin: the benchmark is BROADCAST (eval suites are small by nature
    — thousands of rows against a corpus of billions), flag discovery
    is a narrow corpus x |benchmark| fan-out with the threshold filter
    applied before anything shuffles, the flagged-id set is tiny, and
    AQE converts the final anti-join to a broadcast — the corpus is
    never shuffled end-to-end.  A forced broadcast of the flagged side
    is deliberately NOT used (the lexical twin's rationale: an
    adversarially contaminated corpus could flag a large fraction)."""
    # The benchmark is small by contract: it is collected and flag
    # discovery is one Arrow batch op (flag_close_to_any_arrow).
    bench = [
        r[0] for r in benchmark.select(F.col(vec_col)).collect()
    ]
    flagged = (
        corpus.select(
            id_col,
            flag_close_to_any_arrow(
                F.col(vec_col), bench, threshold
            ).alias("_hit"),
        )
        .where(F.col("_hit"))
        .select(id_col)
        .distinct()
    )
    return corpus.join(flagged, id_col, "left_anti")


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes: NumPy PCG64 with a fixed seed,
    components rounded to 6 decimals so the SAME float literals embed
    byte-for-byte into both the Spark expression and the DuckDB oracle SQL
    — identical IEEE doubles on both sides, so bucket assignment can never
    drift between engine and oracle."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [
        [round(float(x), 6) for x in rng.standard_normal(dim)]
        for _ in range(n_planes)
    ]


def ivf_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qvec",
    exclude_self: bool = False,
) -> DataFrame:
    """Cosine top-k for a CORPUS-SCALE query table — the cell-join
    regime of IVF serving, which the :func:`ivf_topk_batch` docstring
    prescribes when the query side outgrows a broadcast (e.g. joining
    two embedding corpora, or serving a full eval suite against a
    training corpus); :func:`ivf_topk` is its one-row instance.

    Shape at scale: both sides take ONE narrow assignment pass by the
    engine-side probe rule (:func:`_probe_col`: corpus -> its primary
    cell, queries -> their ``nprobe`` nearest cells), then meet in a SHUFFLE equi-join
    keyed on cell id — each side exchanges once on ``cid``, scoring is
    confined within cells (the IVF bound: candidate volume is
    sum over cells of |queries probing c| x |corpus in c|, never
    |queries| x |corpus|), and a per-query top-k window finishes.  No
    broadcast of either data side; only the metadata-sized centroid
    table ships.  Skewed (hot) cells are a centroid-quality problem —
    train more cells (``kmeans_centroids``) rather than salting here,
    because splitting a cell also shrinks every query's candidate set.

    Consistency contract (pinned in tests): identical results to
    :func:`ivf_topk_batch` over a :func:`write_ivf_index` of the same
    corpus with the same (k, nprobe) — same assignment, same tie-breaks
    ((max cosine, min cid) for probes; (cosine desc, min id) for
    results) — and with ``nprobe == n_cells`` it provably recovers
    per-query brute force.  Returns (query_id_col, id_col, cosine),
    up to k rows per query, ordered within each query.

    Memory: a cell's q x m cosines are built ``_ROW_BLOCK`` query rows
    at a time (:func:`_sims_blocks`), so a task holds O(_ROW_BLOCK x m)
    doubles, never the whole q x m block — a hot cell costs time, not
    task memory.
    """
    # Cell ids are computed inline on each side's scan (one narrow
    # Arrow map per side, no self-join — ids are key-unique by the
    # operators' contract); the sides meet in ONE cogroup keyed on cid,
    # so each side's vectors cross the Python boundary once per cell,
    # and the kernel emits each query's LOCAL top-k.
    # The global window then ranks <= nprobe * k rows per query — exact
    # by selection: every global top-k row is in its cell's local top-k,
    # ranked in the same order (cosine desc NULLS LAST, id) from the
    # same bit-identical cosines as the batch and indexed paths.
    cents = _centroid_list(centroids)
    spark = corpus.sparkSession
    if not cents:
        # no cells -> no candidates; same empty (qid, id, cosine) frame
        # the retired join form produced through ivf_assign's empty path
        return (
            queries.select(F.col(query_id_col))
            .crossJoin(corpus.select(F.col(id_col)))
            .withColumn("cosine", F.lit(None).cast("double"))
            .where(F.lit(False))
        )
    cside = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        F.element_at(_probe_col(F.col(vec_col), cents, 1, spark), 1).alias(
            "cid"
        ),
    )
    qside = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col),
        F.explode(
            _probe_col(F.col(query_vec_col), cents, nprobe, spark)
        ).alias("cid"),
    )
    out_schema = T.StructType(
        [
            T.StructField(
                query_id_col, queries.schema[query_id_col].dataType
            ),
            T.StructField(id_col, corpus.schema[id_col].dataType),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    percell = (
        qside.groupBy("cid")
        .cogroup(cside.groupBy("cid"))
        .applyInPandas(
            _cell_topk_kernel(
                int(k),
                id_col,
                vec_col,
                query_id_col,
                query_vec_col,
                bool(exclude_self),
            ),
            schema=out_schema,
        )
    )
    order = [F.col("cosine").desc(), F.col(id_col)]
    return _topk(percell, order, k, query_id_col).orderBy(query_id_col, *order)


def rrf_fuse(
    results: list[tuple[DataFrame, str]],
    k: int = 10,
    k_rrf: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked retrieval lists — the hybrid
    step production retrieval runs after its dense (``ivf_topk_*`` /
    ``topk_cosine``) and sparse (``bm25_topk``) paths: fused score
    ``Σ_lists 1/(k_rrf + rank)``, robust to incomparable score scales
    because only RANKS enter (the standard k_rrf = 60).

    Each input is ``(result_frame, score_col)`` — a ranked list keyed
    by ``id_col``, higher score better; ranks are assigned by a
    (score desc, id) row_number so ties are deterministic, and an id
    missing from a list contributes 0 for it.  Scale shape: inputs are
    top-k RESULT tables (result-sized, never corpus-sized — the
    ann_recall_at_k posture), so the rank windows and the chain of
    full-outer joins on the id touch ≤ Σ k_i rows; the fused sum is a
    fixed left-to-right fold over explicit coalesces (reproduce the
    same list order in any oracle).  Returns the top-``k`` rows
    ``(id_col, rrf)`` by (fused score desc, id): :func:`rrf_fuse_grouped`
    with no query column, whose one global window per list and final
    TakeOrdered are this single-query form's shape."""
    return rrf_fuse_grouped(results, k, k_rrf, id_col, query_id_col=None)


def rrf_fuse_grouped(
    results: list[tuple[DataFrame, str]],
    k: int = 10,
    k_rrf: int = 60,
    id_col: str = "doc_id",
    query_id_col: str = "qid",
) -> DataFrame:
    """Per-query reciprocal-rank fusion — :func:`rrf_fuse` for BATCHED
    retrieval: each input is a multi-query result table
    ``(query_id_col, id_col, score_col)`` (the shape
    ``ivf_topk_batch`` / ``text.bm25_topk_batch`` return), and fusion
    runs independently inside every query group.  This is the hybrid
    step of a batched retrieval pipeline and the fused side of the
    hybrid health eval (fused served lists vs fused brute-force truth
    through :func:`ann_recall_at_k`).

    Semantics per query group are exactly :func:`rrf_fuse`: rank by
    (score desc, id) row_number within the (list, query) pair, fused
    score ``Σ_lists 1/(k_rrf + rank)``, an id absent from a list
    contributes 0 for it, output cut to the top ``k`` per query by
    (fused desc, id).  Scale shape: inputs are top-k result tables
    (≤ Σ k_i rows PER QUERY, result-sized, never corpus-sized), the
    rank windows partition on the query id (no global single-partition
    window — the batched form stays parallel where the single-query
    form cannot), and the full-outer join chain keys on
    (query, id).  ``query_id_col=None`` is :func:`rrf_fuse`: global
    rank windows and a TakeOrdered top-``k``."""
    if not results:
        raise ValueError("rrf_fuse: results must be non-empty")
    qcols = [] if query_id_col is None else [query_id_col]
    fused = None
    rank_cols = []
    for i, (r, score_col) in enumerate(results):
        w = Window.partitionBy(*qcols).orderBy(
            F.col(score_col).desc(), F.col(id_col)
        )
        ranked = r.select(
            *qcols,
            id_col,
            (
                F.lit(1.0)
                / (F.lit(int(k_rrf)) + F.row_number().over(w))
            ).alias(f"_rrf{i}"),
        )
        rank_cols.append(f"_rrf{i}")
        fused = (
            ranked
            if fused is None
            else fused.join(ranked, [*qcols, id_col], "full")
        )
    expr = F.coalesce(F.col(rank_cols[0]), F.lit(0.0))
    for c in rank_cols[1:]:
        expr = expr + F.coalesce(F.col(c), F.lit(0.0))
    scored = fused.select(*qcols, id_col, expr.alias("rrf"))
    return _topk(
        scored, [F.col("rrf").desc(), F.col(id_col)], k, query_id_col
    )


def ann_recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    query_id_col: str = "qid",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-query recall@k of an approximate ANN result against exact
    ground truth: ``|approx ∩ exact| / least(|exact|, k)`` — the eval
    metric that closes the ANN family's loop ("measure, don't guess"
    applied to retrieval quality: nprobe/cell-count tuning is a recall
    curve, not a feeling).  Both inputs are (query_id, id) result
    tables — typically :func:`ivf_knn_join` at the serving nprobe vs
    the same call at ``nprobe = n_cells`` (provably brute force), so
    ground truth needs no separate implementation.

    Scale shape: both sides are top-k results (≤ k rows per query —
    result-sized, never corpus-sized); ONE left join on (query, id) and
    one map-side-combined aggregate, so each input plan executes
    exactly once — ground truth is usually an expensive unpersisted
    brute-force plan, and a totals/hits two-branch shape would execute
    it twice (measured 15.3 s -> 7 s on the registry entry).  The
    division is small-integer / small-integer, bit-identical on any
    engine.  Queries with no approx rows (empty probe cells) correctly
    report 0.0 via the left join, not a dropped row.  Both sides are
    deduped on (query, id) first: a malformed approx table with
    duplicate result rows would otherwise fan out the left join and
    inflate both ``_total`` and ``_hits`` — recall stays a set metric
    regardless of input hygiene (dedup of a ≤ k-rows-per-query result
    table is result-sized, free at any corpus scale)."""
    a = (
        approx.select(query_id_col, id_col)
        .dropDuplicates([query_id_col, id_col])
        .withColumn("_hit", F.lit(1))
    )
    e = exact.select(query_id_col, id_col).dropDuplicates(
        [query_id_col, id_col]
    )
    per_q = (
        e.join(a, [query_id_col, id_col], "left")
        .groupBy(query_id_col)
        .agg(
            F.count(F.lit(1)).alias("_total"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("_hits"),
        )
    )
    return per_q.select(
        query_id_col,
        (
            F.col("_hits").cast("double")
            / F.least(F.col("_total"), F.lit(int(k))).cast("double")
        ).alias("recall"),
    )


def _band_bucket_apply(
    df: DataFrame,
    dim: int,
    n_bands: int,
    bits_per_band: int,
    seed: int,
    id_col: str,
    vec_col: str,
    kernel,
    id_fields: tuple[str, str],
) -> DataFrame:
    """Shared band-bucket prelude of :func:`embedding_near_dup_pairs` and
    :func:`knn_join`: each row — (id, band-key array, vector), one per
    (id, band) — shuffles ONCE on its band key into ``kernel``, whose
    output is the two ``id_fields`` (typed like ``id_col``) plus a
    double ``cosine``, so every vector crosses the Python boundary once
    per band instead of once per candidate pair.  The kernel runs once
    per bucket of two or more rows inside one ``mapInPandas`` pass per
    partition (:func:`_apply_by_runs`), not as one Python call per
    bucket.

    Once-per-row rule: :func:`hyperplane_band_keys_arrow` runs once per
    row, in ONE ArrowEvalPython node.  The key array is exploded by
    :func:`_posexplode_once`; a plain ``posexplode`` would let Catalyst
    infer ``size(_bks) > 0`` under the Generate and push the key UDF
    into that filter, so every task would compute and ship the keys
    twice.  The corpus has ONE consumer chain referencing the vector
    column once, so no persist barrier is needed."""
    planes = hyperplanes(dim, n_bands * bits_per_band, seed)
    keyed = df.select(
        id_col,
        vec_col,
        hyperplane_band_keys_arrow(F.col(vec_col), planes, n_bands).alias(
            "_bks"
        ),
    )
    bv = _posexplode_once(
        keyed, [id_col, vec_col, "_bks"], "_bks", "_band", "band_key"
    )
    id_type = keyed.schema[id_col].dataType
    out_schema = T.StructType(
        [T.StructField(name, id_type) for name in id_fields]
        + [T.StructField("cosine", T.DoubleType())]
    )
    return _apply_by_runs(bv, "band_key", kernel, out_schema)


def embedding_near_dup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_bands: int = 4,
    bits_per_band: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate detection, banded-hyperplane-LSH.

    Candidates come from an equi-join on any of ``n_bands`` band keys built
    from seeded RANDOM hyperplane sign bits — not axis-aligned leading
    components, which on real (anisotropic) embeddings collapse into one
    hot bucket and degrade to the n^2 all-pairs scan this operator exists
    to avoid (r2 VERDICT #5).  Random directions make each bit split the
    corpus near 50/50 regardless of how the embedding distribution is
    skewed, so per-band bucket sizes concentrate around corpus/2^bits;
    banding then recovers the recall a single longer signature would lose.
    Only candidates pay the exact cosine.  Returns (id_a, id_b, cosine)
    with ``id_a < id_b`` and ``cosine >= threshold``.

    Each band bucket is one grouped kernel call (:func:`_band_bucket_apply`)
    that computes the bucket's pair cosines as d vectorized numpy steps
    (bit-identical sequential fold) and applies the first-matching-band
    rule vectorized, emitting only thresholded rows; candidate
    uniqueness, tie/NULL semantics and the produced doubles match the
    retired join shape (pinned by the old-shape equivalence test).
    Memory: a bucket's cosines are built ``_ROW_BLOCK`` rows at a time,
    so a task holds O(_ROW_BLOCK x m) doubles for an m-row bucket —
    bounded by construction even for the hot bucket every NULL or
    zero-norm vector shares.
    """
    return _band_bucket_apply(
        df, dim, n_bands, bits_per_band, seed, id_col, vec_col,
        _band_pair_drops_kernel(threshold, id_col, vec_col),
        ("id_a", "id_b"),
    )


def knn_join(
    df: DataFrame,
    dim: int,
    k: int = 3,
    n_bands: int = 4,
    bits_per_band: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate k-nearest-neighbor SELF-join: for EVERY vector, its top
    ``k`` neighbors by cosine among LSH-band candidates.

    This is the all-rows variant of :func:`topk_cosine` (one query point)
    — the shape a training pipeline needs for corpus-wide retrieval
    augmentation or semantic-cluster labeling.  Candidate pairs come from
    the same seeded random-hyperplane band buckets as
    :func:`embedding_near_dup_pairs`, kept in BOTH directions (k-NN is
    asymmetric: b in knn(a) says nothing about a in knn(b)).  Each bucket's
    grouped kernel emits every member's LOCAL top-k among its first-match
    candidates (NULL cosines ranked last exactly like the serving window;
    a row never ranks one with its own id value), and one window
    partitioned by the query id ranks <= n_bands * k rows per query —
    exact by selection, a single shuffle keyed on a high-cardinality
    column, never a global sort.  Complexity O(sum of per-band
    bucket^2), bounded by the random hyperplanes keeping buckets near
    corpus/2^bits; memory per task is O(_ROW_BLOCK x m) for an m-row
    bucket, since its cosines are built ``_ROW_BLOCK`` rows at a time.
    The band-key UDF runs once per row (one ArrowEvalPython node; a
    plain ``posexplode`` of its array would copy it into an inferred
    filter — see :func:`_band_bucket_apply`), and each partition crosses
    into Python once, skipping one-row buckets.

    Recall contract (approximate by design): a true neighbor sharing no
    band with its query is missed; near-identical vectors collide on some
    band almost surely (see :func:`embedding_near_dup_pairs`).  Returns
    (``id_col``, neighbor_id, cosine, rank) with rank 1..k, cosine-desc,
    neighbor id as the deterministic tie-break.
    """
    scored = _band_bucket_apply(
        df, dim, n_bands, bits_per_band, seed, id_col, vec_col,
        _band_knn_kernel(k, id_col, vec_col),
        ("_qid", "_nid"),
    )
    order = [F.col("cosine").desc(), F.col("_nid")]
    return (
        _topk(scored, order, k, "_qid", rank_col="rank")
        .select(
            F.col("_qid").alias(id_col),
            F.col("_nid").alias("neighbor_id"),
            "cosine",
            "rank",
        )
    )


def ann_topk_sign_lsh(
    df: DataFrame,
    query_id: int,
    k: int = 5,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: search only the query's sign bucket (~corpus /
    2^n_bits candidates).  At scale the corpus is written partitioned by
    bucket, so this is a partition-pruned scan + tiny top-k."""
    bucketed = add_sign_bucket(df, vec_col, n_bits)
    q = bucketed.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_query_vec"), F.col("bucket").alias("_qb")
    )
    scored = (
        bucketed.crossJoin(F.broadcast(q))
        .where((F.col("bucket") == F.col("_qb")) & (F.col(id_col) != query_id))
        .select(
            id_col,
            cosine_arrow(F.col(vec_col), F.col("_query_vec")).alias("cosine"),
        )
    )
    return _topk(scored, [F.col("cosine").desc(), F.col(id_col)], k)


def kmeans_centroids(
    df: DataFrame,
    n_cells: int = 4,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    literal_centroid_limit: int = _CLOSURE_CENTROIDS,
) -> DataFrame:
    """Deterministic Lloyd's k-means over an embedding column — the
    centroid trainer SemDeDup/IVF were stubbing (first-n-by-id).
    Returns ``(cid, cvec array<double>, n_members)``, directly pluggable
    into :func:`semantic_dedup` / :func:`ivf_assign`.

    Deterministic end-to-end, no RNG (the kmv_distinct /
    docs_training_order recipe):

    * init — the ``n_cells`` vectors with the smallest
      ``sha256('kmeans-init:' || id)`` (a seedless uniform sample;
      first-n-by-id would bias toward whatever the id order encodes),
      cid assigned in that same sha order;
    * assignment — argmax cosine with cid as tie-break, one numpy
      scoring block per Arrow batch (:func:`nearest_cid_arrow`);
    * update — per-cell per-dim mean accumulated as EXACT bigint
      micro-units (``sum(round(x*1e6))::long / n / 1e6`` — the
      stable_sum policy), so the new centroids are bit-identical on any
      partition layout and in the DuckDB oracle; the ~1e-6 value
      quantization is noise at clustering granularity.  Component sums
      stay inside int64 up to ~9e12 members per cell.  Cells that lose
      every member keep their previous centroid (n_members = 0);
    * a FIXED iteration count, not a convergence test — float
      convergence thresholds are where cross-engine drift hides.

    A NULL vector or one with a NULL element takes no part: it seeds no
    cell, sizes no ``dim`` and is no cell's member.

    Scale shape, per iteration: ONE corpus scan -> assignment ->
    map-side-combined groupBy collapsing to ``n_cells`` rows of ``dim``
    integer sums.  Assignment is a narrow Arrow map with zero
    exchanges; ``literal_centroid_limit`` selects how the centroid
    matrix ships to it: in the UDF closure up to the limit, as a
    SparkContext broadcast above it (the SemDeDup-paper regime of
    ~100k cells, where re-pickling the matrix per task would
    dominate).  The driver holds only the centroid matrix
    (n_cells x dim — metadata, the Spark MLlib KMeans pattern); nothing
    data-sized ever reaches the driver.  The init top-k is a
    TakeOrdered (partial per-partition top-k), not a global sort."""
    corpus = df.select(id_col, vec_col).where(
        F.col(vec_col).isNotNull()
        & ~F.exists(vec_col, lambda x: x.isNull())
    )
    if dim is None:
        probe = corpus.select(F.size(vec_col).alias("d")).first()
        if probe is None:
            raise ValueError("kmeans_centroids: empty corpus")
        dim = probe["d"]
    init_key = F.sha2(
        F.concat(F.lit("kmeans-init:"), F.col(id_col).cast("string")), 256
    )
    seeds = (
        corpus.select(id_col, vec_col, init_key.alias("_h"))
        .orderBy("_h", id_col)
        .limit(n_cells)
        .collect()
    )
    if not seeds:
        raise ValueError("kmeans_centroids: empty corpus")
    centroids = [
        (cid, [float(x) for x in r[vec_col]]) for cid, r in enumerate(seeds)
    ]
    counts = {cid: 0 for cid, _ in centroids}
    # the cell count never changes across iterations, nor does the
    # closure-vs-broadcast choice of the assignment UDF
    via_broadcast = len(centroids) > literal_centroid_limit
    # The update aggregate's dim+1 Column objects are identical every
    # iteration — build them ONCE (r18): each F.sum(...) chain is ~6
    # py4j round-trips, so rebuilding 64 of them per iteration was
    # ~0.5 s of pure driver time per pass at dim=64 (guide §1.2 step 2).
    agg_cols = [
        F.sum(
            F.round(
                F.element_at(F.col(vec_col), i + 1).cast("double") * 1e6
            ).cast("long")
        ).alias(f"_s{i}")
        for i in range(dim)
    ]
    for _ in range(n_iters):
        # Assignment runs the Arrow kernel (nearest_cid_arrow) in BOTH
        # regimes — optimization r17, guide §4.2: one numpy (n x k)
        # scoring block per Arrow batch replaces the interpreted
        # per-cell HOF cosine (literal form) AND the fan-out join +
        # re-collapse groupBy (broadcast form; its corpus-sized
        # exchange per iteration disappears outright).  Assignments are
        # bit-identical to the retired execution forms (sequential
        # dimension fold, same tie-break/zero-norm/NaN policy — pinned
        # by test_kmeans_* parity tests); `literal_centroid_limit` now
        # selects how the centroid matrix SHIPS: closure pickle up to
        # the limit, SparkContext broadcast above it (~100k cells —
        # re-pickling the matrix per task would dominate).
        assigned = corpus.select(
            nearest_cid_arrow(
                F.col(vec_col),
                centroids,
                spark=df.sparkSession,
                via_broadcast=via_broadcast,
            ).alias("cid"),
            vec_col,
        )
        stats = (
            assigned
            .groupBy("cid")
            .agg(F.count(F.lit(1)).alias("_n"), *agg_cols)
            .collect()  # n_cells rows — metadata-sized, like MLlib
        )
        new = {
            int(r["cid"]): [r[f"_s{i}"] / r["_n"] / 1e6 for i in range(dim)]
            for r in stats
        }
        counts = {cid: 0 for cid, _ in centroids}
        counts.update({int(r["cid"]): int(r["_n"]) for r in stats})
        centroids = [(cid, new.get(cid, cvec)) for cid, cvec in centroids]
    return local_relation(
        df.sparkSession,
        [(cid, cvec, counts[cid]) for cid, cvec in centroids],
        "cid long, cvec array<double>, n_members long",
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space, compare vectors ONLY
    within their cluster, and greedily drop every vector that has a
    lower-id within-cluster neighbor at cosine >= ``threshold``.
    Returns the survivors as (id, cid); callers semi-join the corpus
    against it.

    This is the semantic complement of the lexical family in
    ``functions/dedup.py``: paraphrases and re-encodings share no
    n-grams, but their embeddings sit at cosine ~1.

    Scale shape — the whole point of the clustering step: pairwise
    cosine is confined to each cell, so the quadratic term is
    ``sum(|cell|^2)``, controlled by choosing ``n_cells`` proportional
    to corpus size (SemDeDup runs web-scale with ~100k k-means
    clusters; the paper's policy).  Centroids are BROADCAST for
    assignment; pass ``centroids=kmeans_centroids(df, ...)`` for
    trained cells (the default is a deterministic stub — first
    ``n_cells`` vectors by id — kept as the fast path and for the SQL
    oracle); the within-cell pair join is an equi-join on cid.  Known
    recall edge, straight from the paper: a near-dup pair split across
    a cell boundary is not compared — pass ``nprobe > 1`` to mitigate:
    each vector then joins its nprobe nearest cells for PAIR DISCOVERY
    (a boundary vector sits in both flanking cells, so the split pair
    meets), multiplying candidate volume by at most nprobe^2 while the
    returned row per survivor still carries its PRIMARY cell.  The
    greedy min-id keep policy is one anti-join, no iteration
    (transitive chains collapse to the smallest id per chain *within a
    shared cell*).

    Determinism: assignment tie-breaks on cid (inside
    :func:`ivf_assign`); the drop set is a pure predicate over exact
    cosines — no RNG, identical on any partition layout.
    """
    from airflow_etl_minio_to_postgres_spark.functions.dedup import (
        _persist_tracked,
    )

    corpus = _persist_tracked(df.select(id_col, vec_col))
    if centroids is None:
        # fast path: deterministic stub (first n_cells vectors by id);
        # pass centroids=kmeans_centroids(df, ...) for trained cells —
        # same (cid, cvec) contract, identical downstream plan.
        centroids = _stub_centroids(corpus, n_cells, id_col, vec_col)
    assigned = ivf_assign(
        corpus, centroids, id_col, vec_col,
        nprobe=nprobe, rank_col="_cell_rank",
    )
    # cellv feeds BOTH the drop-set discovery and the final anti-join:
    # persist so cell assignment runs once, not twice.
    cellv = _persist_tracked(corpus.join(assigned, id_col))
    # Within-cell pair discovery: one grouped Arrow crossing per cell
    # (see semantic_pair_drops_grouped).
    dropped = semantic_pair_drops_grouped(
        cellv, threshold, id_col, vec_col
    ).distinct()
    return (
        cellv.where(F.col("_cell_rank") == 1)
        .join(dropped, id_col, "left_anti")
        .select(id_col, "cid")
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid of an embedding column, emitted LONG —
    one (label, dim, mean_val, n_vecs) row per coordinate — rather than as
    an array, so the result joins/filters like any other table.

    Shape: ``posexplode`` fans each vector into (label, dim, value) rows,
    then one partial-aggregating groupBy on (label, dim) — the map-side
    combine collapses the fan-out inside each task, so the shuffle carries
    at most ``n_labels x dim`` rows per task regardless of corpus size.
    The clustering/classification bookend: compute class prototypes over
    billions of vectors with a single bounded shuffle (contrast with
    collecting vectors to a driver-side kmeans step).
    """
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "_v"),
    )
    return exploded.groupBy("label", "dim").agg(
        F.avg(F.col("_v").cast("double")).alias("mean_val"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``(id, scale,
    qvec array<int>)`` with ``qvec[i] = round(x[i] / scale)`` and
    ``scale = max(|x|) / 127`` — the storage/bandwidth scale path for
    ANN at 100 TB (4x smaller vectors than float32, 8x than float64;
    dot products on int8 SIMD-vectorize, and the scale factors multiply
    back out per pair).

    Expression-only and shuffle-free: one ``transform`` to double, one
    ``array_max`` for the per-vector scale, one ``transform`` for the
    rounded quotients — all whole-stage-codegen'd in the scan stage.
    Arithmetic is double end-to-end (float32 cast up first), so the
    DuckDB oracle reproduces every quantized value bit-exactly;
    ``greatest(scale, 1e-12/127)`` keeps zero vectors from dividing by
    zero (they quantize to all-zero).  Dequantization error is bounded
    by ``scale/2`` per coordinate — the standard symmetric-quantization
    contract."""
    xd = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    out = df.select(F.col(id_col), xd.alias("_xd")).withColumn(
        "scale",
        F.greatest(
            F.array_max(F.transform(F.col("_xd"), F.abs)), F.lit(1e-12)
        )
        / F.lit(127.0),
    )
    return out.select(
        id_col,
        "scale",
        F.transform(
            F.col("_xd"),
            lambda v: F.round(v / F.col("scale")).cast("int"),
        ).alias("qvec"),
    )


def dequantize_int8(
    df: DataFrame,
    qvec_col: str = "qvec",
    scale_col: str = "scale",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reconstruct float vectors from a :func:`quantize_int8` table:
    ``vec[i] = qvec[i] * scale`` — the read side of the int8 storage
    path, so a quantized corpus plugs straight into every serving
    operator (``topk_cosine`` / ``knn_join`` / the IVF family) and the
    recall cost of quantization becomes MEASURABLE through
    :func:`ann_recall_at_k` (quantized serving vs full-precision
    truth) instead of assumed.  Expression-only (one ``transform`` in
    the scan stage, shuffle-free); reconstruction error per coordinate
    is bounded by ``scale/2``, the symmetric-quantization contract the
    quantizer documents.  Keeps every other column; replaces nothing
    but adds ``vec_col``."""
    return df.withColumn(
        vec_col,
        F.transform(
            F.col(qvec_col),
            lambda v: v.cast("double") * F.col(scale_col),
        ),
    )
