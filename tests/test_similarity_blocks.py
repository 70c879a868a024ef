"""Blocked cosine kernel of functions/similarity.py: row-block parity,
bounded blocks on degenerate-heavy buckets, id-value self-exclusion and
result frames typed like the declared output schema."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from airflow_etl_minio_to_postgres_spark.functions import similarity as sim


def _fold_model(a, b):
    """cosine_expr's left fold in plain Python doubles; a zero divisor
    is try_divide's NULL, which the block kernel encodes as -inf."""
    num, na, nb = a[0] * b[0], a[0] * a[0], b[0] * b[0]
    for x, y in zip(a[1:], b[1:]):
        num, na, nb = num + x * y, na + x * x, nb + y * y
    den = math.sqrt(na) * math.sqrt(nb)
    return -math.inf if den == 0.0 else num / den


def _mixed_rows(rng, n):
    rows = []
    for i in range(n):
        v = rng.standard_normal((3, 5)[i % 2])
        if i % 7 == 0:
            v[:] = 0.0  # zero norm
        if i % 9 == 4:
            v[1] = np.nan
        rows.append(v)
    rows[6] = None
    rows[10] = np.array([])
    rows[12] = np.round(rows[2], 1)  # near-ties
    return pd.Series(rows, dtype="object")


def test_sims_blocks_bit_identical_at_every_row_block(monkeypatch):
    """Chunking query rows never reorders a pair's reduction: the
    blocks at _ROW_BLOCK in {1, 3, >= m} carry the unchunked q x c
    doubles bit for bit (zero-norm, NaN and mixed-dimension rows
    included), no block exceeds _ROW_BLOCK rows, and the finite values
    equal cosine_expr's sequential fold in plain Python."""
    rng = np.random.default_rng(11)
    q = _mixed_rows(rng, 23)
    c = pd.Series(list(q[::-1]) + [np.ones(3), np.ones(5)], dtype="object")
    qg, cg = sim._by_dim(q), sim._by_dim(c)
    assert sorted(qg) == [3, 5]  # NULL and empty rows are left out

    for d, (qi, qm) in qg.items():
        _, cm = cg[d]
        monkeypatch.setattr(sim, "_ROW_BLOCK", len(qm) + 4)
        (lo, full), = list(sim._sims_blocks(qm, cm))
        assert lo == 0 and full.shape == (len(qm), len(cm))
        for r, i in enumerate(qi):
            for j, cv in enumerate(cm):
                want = _fold_model(list(q[i]), list(cv))
                got = full[r, j]
                if math.isfinite(want):
                    assert np.float64(got).view(np.int64) == np.float64(
                        want
                    ).view(np.int64)
                else:
                    assert not np.isfinite(got)
                    assert (got == -np.inf) == (want == -math.inf)
        for rows in (1, 3):
            monkeypatch.setattr(sim, "_ROW_BLOCK", rows)
            blocks = list(sim._sims_blocks(qm, cm))
            assert all(len(b) <= rows for _, b in blocks)
            assert [lo for lo, _ in blocks] == list(range(0, len(qm), rows))
            chunked = np.concatenate([b for _, b in blocks])
            assert np.array_equal(chunked.view(np.int64), full.view(np.int64))

    # mixed-dimension grouping: every query row exactly once, in
    # blocks of at most _ROW_BLOCK rows
    monkeypatch.setattr(sim, "_ROW_BLOCK", 3)
    seen = []
    for qi, ci, sims in sim._group_blocks(qg, cg, len(q), sim._ROW_BLOCK):
        assert len(qi) <= 3 and sims.shape == (len(qi), len(ci))
        seen.extend(qi.tolist())
    assert sorted(seen) == list(range(len(q)))


def _rows(df, key):
    return sorted((tuple(r) for r in df.collect()), key=key)


def test_degenerate_heavy_buckets_same_rows_at_small_row_block(
    spark, monkeypatch
):
    """2,000 NULL and zero-norm vectors share one hot band bucket per
    band (all-'0' and all-'1' keys) and one hot SemDeDup cell.  With
    _ROW_BLOCK at 64 every kernel builds those buckets' cosines in
    64-row blocks, and the three operators return exactly the rows of
    the default block size."""
    from airflow_etl_minio_to_postgres_spark.functions.dedup import (
        release_caches,
    )

    rng = np.random.default_rng(5)
    dim = 8
    real = [(i, [float(x) for x in rng.standard_normal(dim)]) for i in range(40)]
    real.append((40, [x + 1e-4 for x in real[0][1]]))  # near-dup of 0
    degenerate = [
        (41 + i, None if i % 2 else [0.0] * dim) for i in range(2000)
    ]
    df = spark.createDataFrame(
        real + degenerate, "vec_id long, embedding array<double>"
    )

    def run():
        knn = sim.knn_join(df, dim=dim, k=2, n_bands=2, bits_per_band=4)
        pairs = sim.embedding_near_dup_pairs(
            df, dim=dim, threshold=0.95, n_bands=2, bits_per_band=4
        )
        kept = sim.semantic_dedup(df, threshold=0.95, n_cells=4)
        out = (
            _rows(knn, lambda r: (r[0], r[1])),
            _rows(pairs, lambda r: (r[0], r[1])),
            _rows(kept, lambda r: r[0]),
        )
        release_caches()
        return out

    default = run()
    monkeypatch.setattr(sim, "_ROW_BLOCK", 64)
    assert run() == default

    knn, pairs, kept = default
    assert {r[0] for r in knn} == set(range(2041))  # NULLs rank too
    assert (0, 40) in {(a, b) for a, b, _ in pairs}
    assert 40 not in {r[0] for r in kept}


def test_knn_join_excludes_self_by_id_value(spark):
    """Duplicate ids: a row never ranks another row carrying its own id
    value — the retired band join's ``_qid != _nid`` filter — so the
    exact twin of id 0 (cosine 1.0) leaves id 0's neighbor to id 1."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sim.knn_join(df, dim=4, k=1, n_bands=2, bits_per_band=2).collect()
    assert got
    assert all(r.vec_id != r.neighbor_id for r in got)
    assert {r.vec_id: r.neighbor_id for r in got}[0] == 1


def test_int_ids_keep_declared_types_with_empty_bucket(spark):
    """int (not long) ids: kernel frames take their id dtypes from the
    input columns, so the declared int schema holds — including the
    cell every query probes but no corpus row lives in (an empty
    cogroup side).  At nprobe = n_cells the rows are brute force."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    rng = np.random.default_rng(3)
    vecs = np.abs(rng.standard_normal((12, 4)))
    cents = spark.createDataFrame(
        [(0, vecs[0].tolist()), (1, vecs[5].tolist()), (2, [-1.0] * 4)],
        "cid long, cvec array<double>",
    )
    corpus = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<double>",
    )
    queries = corpus.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = sim.ivf_knn_join(queries, corpus, cents, k=3, nprobe=3)
    assert got.schema["qid"].dataType == T.IntegerType()
    assert got.schema["vec_id"].dataType == T.IntegerType()
    want = []
    for q, qv in enumerate(vecs):
        cos = [(-_fold_model(list(qv), list(cv)), i) for i, cv in enumerate(vecs)]
        want += [(q, i) for _, i in sorted(cos)[:3]]
    assert sorted(tuple(r)[:2] for r in got.collect()) == sorted(want)
