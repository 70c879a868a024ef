"""Blocked cosine kernel of functions/similarity.py: row-block parity,
bounded blocks on degenerate-heavy buckets, id-value self-exclusion and
result frames typed like the declared output schema."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

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


def _hexed(df):
    """Rows with every float as its hex string: an exact comparison."""
    return [
        tuple(v.hex() if isinstance(v, float) else v for v in r)
        for r in df.collect()
    ]


def test_single_query_forms_equal_their_batch_forms(spark, tmp_path):
    """Over a corpus with NULL, zero-norm and wrong-dimension vectors:
    ivf_topk equals ivf_topk_indexed over a write_ivf_index of the
    same corpus (every cell probed, so every dirty row is a candidate);
    ivf_topk_batch equals ivf_knn_join with NULL, zero-norm and
    wrong-dimension query vectors among the queries; rrf_fuse equals
    rrf_fuse_grouped on one query.  Floats are compared as hex."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(5)
    rows = [
        (i, [round(float(x), 4) for x in rng.standard_normal(4)])
        for i in range(24)
    ]
    rows[9] = (9, None)
    rows[13] = (13, [0.0] * 4)
    rows[17] = (17, [1.0, 2.0, 3.0])
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = e.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    path = str(tmp_path / "index")
    sim.write_ivf_index(e, cents, path)

    direct = sim.ivf_topk(e, 0, k=30, centroids=cents, nprobe=4)
    served = sim.ivf_topk_indexed(
        spark, path, cents, rows[0][1], k=30, nprobe=4, exclude_id=0
    )
    got = _hexed(direct)
    assert got == _hexed(served)
    assert [r[0] for r in got[-3:]] == [9, 13, 17]  # NULL cosines last

    qs = e.where(F.col("vec_id").isin(0, 9, 13, 17, 21)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    batch = sim.ivf_topk_batch(
        spark, path, cents, qs, k=5, nprobe=2, exclude_self=True
    )
    joined = sim.ivf_knn_join(qs, e, cents, k=5, nprobe=2, exclude_self=True)
    got = _hexed(batch)
    assert got == _hexed(joined)
    assert {r[0] for r in got} == {0, 9, 13, 17, 21}

    lists = [
        spark.createDataFrame(
            [(1, 0.5), (2, 0.5), (3, None), (4, 0.9)], "doc_id long, score double"
        ),
        spark.createDataFrame(
            [(2, 0.1), (4, 0.1), (5, 0.7)], "doc_id long, score double"
        ),
    ]
    fused = sim.rrf_fuse([(r, "score") for r in lists], k=4)
    grouped = sim.rrf_fuse_grouped(
        [(r.withColumn("qid", F.lit(7)), "score") for r in lists], k=4
    ).orderBy(F.col("rrf").desc(), "doc_id")
    assert _hexed(fused) == _hexed(grouped.select("doc_id", "rrf"))


def _grouped_band_apply(df, dim, n_bands, bits, kernel, id_fields):
    """The band-bucket form the sorted-run pass replaced, kept as the
    reference: a plain posexplode of the key array, then one grouped
    applyInPandas call per band bucket."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    planes = sim.hyperplanes(dim, n_bands * bits, 42)
    keys = sim.hyperplane_band_keys_arrow(F.col("embedding"), planes, n_bands)
    bv = df.select("vec_id", "embedding", keys.alias("_bks")).select(
        "vec_id",
        "embedding",
        "_bks",
        F.posexplode("_bks").alias("_band", "band_key"),
    )
    id_type = df.schema["vec_id"].dataType
    schema = T.StructType(
        [T.StructField(name, id_type) for name in id_fields]
        + [T.StructField("cosine", T.DoubleType())]
    )
    return bv.groupBy("band_key").applyInPandas(kernel, schema=schema)


def _band_cases(rng):
    real = [
        [round(float(x), 3) for x in rng.standard_normal(4)] for _ in range(14)
    ]
    return {
        # 2 keys per band: buckets of ~7 rows over 2-row Arrow batches
        "spans_batches": ([(i, v) for i, v in enumerate(real)], 2, 1),
        # v and -v differ in every sign bit: every bucket holds one row
        "one_row_buckets": ([(0, real[0]), (1, [-x for x in real[0]])], 2, 8),
        "degenerate_hot": (
            [(i, v) for i, v in enumerate(real[:5])]
            + [
                (5, None),
                (6, [0.0] * 4),
                (7, [1.0, 2.0]),
                (8, [1.0, None, 0.0, 0.0]),
                (9, None),
                (10, [0.0] * 4),
                (11, [3.0, 1.0, 2.0]),
            ],
            2,
            3,
        ),
        "duplicate_ids": (
            [(i // 2, v) for i, v in enumerate(real[:6])]
            + [(0, real[0]), (1, [x + 1e-3 for x in real[0]])],
            2,
            2,
        ),
        "empty": ([], 2, 2),
    }


@pytest.mark.parametrize(
    "case",
    [
        "spans_batches",
        "one_row_buckets",
        "degenerate_hot",
        "duplicate_ids",
        "empty",
    ],
)
def test_sorted_run_pass_matches_grouped_reference(spark, case):
    """Both band kernels, run once per band-key run of a sorted
    partition (_band_bucket_apply), return exactly the rows of the
    grouped applyInPandas form, floats as hex: a bucket spanning
    Arrow batches, only one-row buckets, a hot bucket of NULL, ragged,
    zero-norm and NULL-element vectors sharing the all-zero keys,
    duplicate id values, and an empty input."""
    from pyspark.sql import functions as F

    rows, n_bands, bits = _band_cases(np.random.default_rng(3))[case]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = sim.hyperplanes(4, n_bands * bits, 42)
    keys = sim.hyperplane_band_keys_arrow(F.col("embedding"), planes, n_bands)
    sizes = [
        r[1]
        for r in df.select(F.explode(keys).alias("k"))
        .groupBy("k")
        .count()
        .collect()
    ]
    if case == "spans_batches":
        assert max(sizes) > 2
    if case == "one_row_buckets":
        assert sizes and max(sizes) == 1
    if case == "degenerate_hot":
        assert max(sizes) >= 7  # the six degenerate rows share a key

    kernels = [
        (sim._band_knn_kernel(2, "vec_id", "embedding"), ("_qid", "_nid")),
        (
            sim._band_pair_drops_kernel(0.2, "vec_id", "embedding"),
            ("id_a", "id_b"),
        ),
    ]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    if case == "spans_batches":
        spark.conf.set(key, "2")
    try:
        for kernel, fields in kernels:
            got = sim._band_bucket_apply(
                df, 4, n_bands, bits, 42, "vec_id", "embedding", kernel, fields
            )
            ref = _grouped_band_apply(df, 4, n_bands, bits, kernel, fields)
            want = sorted(_hexed(ref), key=repr)
            assert sorted(_hexed(got), key=repr) == want
            if case in ("one_row_buckets", "empty"):
                assert want == []
            else:
                assert want
    finally:
        spark.conf.set(key, before)


def test_empty_probe_and_band_arrays_emit_no_rows(spark):
    """nprobe=0 gives every vector an empty probe list: ivf_assign
    emits no row, as a plain posexplode did.  The explode rule drops
    NULL and empty arrays and keeps every element of the others, in
    posexplode's order.  n_bands=0 builds no key UDF at all: it raises
    before any plan runs."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cid long, cvec array<double>"
    )
    assert sim.ivf_assign(df, cents, nprobe=0, rank_col="r").collect() == []
    assert len(sim.ivf_assign(df, cents, nprobe=2).collect()) == 6

    arrs = spark.createDataFrame(
        [(1, ["a", "b"]), (2, []), (3, None), (4, ["c"])],
        "id long, arr array<string>",
    )
    got = sim._posexplode_once(arrs, ["id"], "arr", "p", "v").collect()
    ref = arrs.select("id", F.posexplode("arr").alias("p", "v")).collect()
    assert sorted(got) == sorted(ref) and len(got) == 3
    with pytest.raises(ValueError):
        sim.knn_join(df, dim=2, n_bands=0)
    with pytest.raises(ValueError):
        sim.embedding_near_dup_pairs(df, dim=2, n_bands=0)


def test_null_centroid_scores_null_and_ranks_last(spark):
    """A NULL stub centroid (vector 3 of the corpus is NULL, n_cells=8)
    scores NULL against every vector, as cosine_arrow degrades a pair:
    semantic_dedup and ivf_topk return exactly their rows with that cell
    left out of the centroids, at every nprobe.  A NULL, NULL-element,
    ragged or other-dimension centroid ranks after every valid cell, and
    never wins the argmax, even against negative cosines."""
    rng = np.random.default_rng(5)
    base = rng.standard_normal((12, 4))
    rows = [
        (i, None if i == 3 else (base[i % 12] + 1e-3 * (i // 12)).tolist())
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    valid = sim._stub_centroids(df, 8, "vec_id", "embedding").where("cid != 3")

    got = sorted(sim.semantic_dedup(df, n_cells=8).collect())
    want = sorted(sim.semantic_dedup(df, centroids=valid).collect())
    assert got == want and len(got) < len(rows)
    for nprobe in (1, 2, 8):
        got = _hexed(sim.ivf_topk(df, 14, n_cells=8, nprobe=nprobe))
        want = _hexed(
            sim.ivf_topk(df, 14, centroids=valid, nprobe=min(nprobe, 7))
        )
        assert sorted(got) == sorted(want) and got

    cents = [
        (0, [1.0, 0.0, 0.0]),
        (1, None),
        (2, [1.0, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [1.0, None, 0.0]),
    ]
    assert sim._probe_cells(cents, [[1.0, 1.0, 0.0]], 5) == [[0, 3, 1, 2, 4]]
    cids, cmat = sim._centroid_matrix(cents)
    va = pd.Series([np.array([-1.0, -2.0, 0.0])], dtype="object")
    assert sim._rank_cells(va, cids, cmat, 1, sim._argmax_cell).tolist() == [[0]]
