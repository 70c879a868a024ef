"""Property-based invariants (hypothesis) for the operators whose value IS
a distributable determinism guarantee — things example tests under-cover:
arbitrary group shapes, adversarial token lengths, duplicate-heavy inputs.

Each example pays a Spark job, so example counts are deliberately small;
the strategies bias toward the edge shapes that break rank/cumsum logic
(empty groups, all-in-one-group, cap larger than group, zero-token docs).
"""

from __future__ import annotations

import os

import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from pyspark.sql import functions as F

from airflow_etl_minio_to_postgres_spark.functions.dedup import (
    decontaminate,
    drop_exact_dups,
)
from airflow_etl_minio_to_postgres_spark.functions.text import (
    pack_sequences,
    stratified_cap,
)

# r18 (VERDICT #2a): the 8-example default outgrew the driver's pytest
# budget — its r17 verification run died mid-suite at ~74% with zero
# failures, turning VERIFY's tests_ok red on healthy code.  Each example
# here runs several Spark actions (~3-13 s/example on the heavy
# models), so examples are the suite's dominant cost (~15 of 44 min).
# Default 4 keeps every property exercised (hypothesis still shrinks
# failures); SPARK_GRAFT_HYPOTHESIS_EXAMPLES restores deep fuzzing for
# local soak runs (the round-close runs use the default, i.e. exactly
# what the driver sees).
SPARK_SETTINGS = settings(
    max_examples=int(os.environ.get("SPARK_GRAFT_HYPOTHESIS_EXAMPLES", "4")),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=60),  # doc_id (dups possible)
        st.sampled_from(["a", "b", "c"]),  # group/source
    ),
    min_size=0,
    max_size=40,
)


@given(rows=rows_strategy, cap=st.integers(min_value=1, max_value=6))
@SPARK_SETTINGS
def test_stratified_cap_invariants(spark, rows, cap):
    rows = list({r[0]: r for r in rows}.values())  # unique ids
    df = spark.createDataFrame(rows or [(0, "a")], "doc_id long, source string")
    if not rows:
        df = df.limit(0)
    out = stratified_cap(df, "source", "doc_id", cap=cap)
    got = out.collect()
    # at most cap per group
    per_group = {}
    for r in got:
        per_group[r.source] = per_group.get(r.source, 0) + 1
    assert all(n <= cap for n in per_group.values())
    # output is a subset of input; groups at/below cap pass through whole
    in_ids = {r[0] for r in rows}
    assert {r.doc_id for r in got} <= in_ids
    in_per_group = {}
    for i, g in rows:
        in_per_group[g] = in_per_group.get(g, 0) + 1
    for g, n in in_per_group.items():
        assert per_group.get(g, 0) == min(n, cap)
    # deterministic: a second evaluation yields the identical set
    again = {r.doc_id for r in stratified_cap(df, "source", "doc_id", cap=cap).collect()}
    assert again == {r.doc_id for r in got}


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=30),  # n_tokens incl. zero
        ),
        min_size=1,
        max_size=30,
    ),
    budget=st.integers(min_value=1, max_value=25),
)
@SPARK_SETTINGS
def test_pack_sequences_invariants(spark, rows, budget):
    rows = list({r[0]: r for r in rows}.values())
    df = spark.createDataFrame(rows, "doc_id long, source string, toks long")
    out = pack_sequences(
        df, budget=budget, group_col="source", id_col="doc_id", token_col="toks"
    ).collect()
    assert len(out) == len(rows)
    by_group: dict[str, list] = {}
    for r in out:
        assert 0 <= r.pack_offset < budget
        assert r.pack_id >= 0
        by_group.setdefault(r.source, []).append(r)
    import hashlib

    def rank_key(doc_id: int) -> str:
        # mirrors the operator: substring(sha2(cast(id as string), 256), 1, 16)
        return hashlib.sha256(str(doc_id).encode()).hexdigest()[:16]

    for g, rs in by_group.items():
        # pack ids start at 0 and never exceed the token-total bound (a
        # doc larger than the budget overflows THROUGH packs by design,
        # so ids may skip); replayed in the operator's own deterministic
        # order, every start equals the running token cumsum
        group_tokens = sum(r.n_tokens for r in rs)
        assert min(r.pack_id for r in rs) == 0
        assert max(r.pack_id for r in rs) <= group_tokens // budget
        total = 0
        for r in sorted(rs, key=lambda r: (rank_key(r.doc_id), r.doc_id)):
            assert r.pack_id * budget + r.pack_offset == total
            total += r.n_tokens


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=25),
        min_size=1,
        max_size=15,
    )
)
@SPARK_SETTINGS
def test_exact_dedup_idempotent_and_canonical(spark, texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = drop_exact_dups(df)
    twice = drop_exact_dups(once)
    got_once = sorted(map(tuple, once.collect()))
    assert got_once == sorted(map(tuple, twice.collect()))
    # one survivor per distinct text, and it's the minimum doc_id
    expect = {}
    for i, t in rows:
        expect.setdefault(t, i)  # first occurrence = min id (ids ascend)
    assert got_once == sorted((i, t) for t, i in expect.items())


@given(
    corpus=st.lists(
        st.lists(st.sampled_from("abcd"), min_size=0, max_size=8).map(
            lambda ws: " ".join(ws)
        ),
        min_size=1,
        max_size=10,
    ),
    bench=st.lists(
        st.lists(st.sampled_from("abcd"), min_size=0, max_size=8).map(
            lambda ws: " ".join(ws)
        ),
        min_size=1,
        max_size=5,
    ),
)
@SPARK_SETTINGS
def test_decontaminate_screens_exactly(spark, corpus, bench):
    n = 2

    def grams(text):
        ws = text.split()
        return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}

    bench_grams = set().union(*(grams(t) for t in bench)) if bench else set()
    c_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    b_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(bench)], "doc_id long, text string"
    )
    out = {r.doc_id for r in decontaminate(c_df, b_df, n=n).collect()}
    expect = {
        i for i, t in enumerate(corpus) if not (grams(t) & bench_grams)
    }
    assert out == expect


@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=4,
    )
)
@SPARK_SETTINGS
def test_quantize_int8_invariants(spark, vecs):
    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        quantize_int8,
    )

    dim = len(vecs[0])
    vecs = [v[:dim] + [0.0] * (dim - len(v)) for v in vecs]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    for r in quantize_int8(df).collect():
        src = [float(x) for x in vecs[r.vec_id]]
        assert r.scale > 0
        for q, x in zip(r.qvec, src):
            assert -127 <= q <= 127  # symmetric code range
            # dequantization error bounded by half a step (+float slack);
            # vacuous only for the epsilon-scale zero vector
            assert abs(q * r.scale - float(str(x))) <= r.scale / 2 * (1 + 1e-9)


@given(
    n=st.integers(min_value=1, max_value=6),
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=5),
        ),
        min_size=0,
        max_size=10,
    ),
)
@SPARK_SETTINGS
def test_pagerank_dangling_conserves_mass_on_random_graphs(spark, n, edges):
    from airflow_etl_minio_to_postgres_spark.functions.graph import pagerank

    edges = [(s, d) for s, d in edges if s < n and d < n and s != d]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edf = spark.createDataFrame(
        edges or [(0, 0)], "src long, dst long"
    ).where("src <> dst" if edges else "src <> src")
    ranks = pagerank(
        nodes, edf, iterations=2, redistribute_dangling=True
    ).collect()
    total = sum(r.pagerank for r in ranks)
    assert abs(total - 1.0) < 1e-9  # mass conserved on ANY directed graph
    assert all(r.pagerank > 0 for r in ranks)


_cdc_feed = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),      # key
        st.integers(min_value=0, max_value=99),     # payload
        st.sampled_from(["I", "U", "D"]),           # op
    ),
    min_size=0,
    max_size=20,
)


@given(
    base_keys=st.sets(st.integers(min_value=0, max_value=6), max_size=5),
    feed=_cdc_feed,
)
@SPARK_SETTINGS
def test_apply_cdc_matches_sequential_replay(spark, base_keys, feed):
    """apply_cdc == replaying the feed in seq order over a dict — the
    whole-operator model check across arbitrary interleavings of
    insert/update/delete on arbitrary key overlap."""
    from airflow_etl_minio_to_postgres_spark.operators.scd import apply_cdc

    base_rows = [(k, -1) for k in sorted(base_keys)]
    feed_rows = [
        (k, v, op, i) for i, (k, v, op) in enumerate(feed)
    ]  # seq = arrival order, unique by construction
    model = {k: v for k, v in base_rows}
    for k, v, op, _ in feed_rows:
        if op == "D":
            model.pop(k, None)
        else:
            model[k] = v

    base = spark.createDataFrame(base_rows or [(0, 0)], "k long, v long")
    if not base_rows:
        base = base.limit(0)
    changes = spark.createDataFrame(
        feed_rows or [(0, 0, "U", 0)], "k long, v long, op string, seq long"
    )
    if not feed_rows:
        changes = changes.limit(0)
    got = {r.k: r.v for r in apply_cdc(base, changes, ["k"]).collect()}
    assert got == model


_span_docs = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=12
    ),
    min_size=0,
    max_size=6,
)


@given(docs=_span_docs, k=st.integers(min_value=2, max_value=4))
@SPARK_SETTINGS
def test_cross_doc_spans_match_brute_force(spark, docs, k):
    """cross_doc_spans == a per-doc brute-force model: duplicated gram
    starts (gram in >=2 docs) merged greedily into maximal spans.  Small
    alphabet makes shared grams common, stressing the merge logic."""
    from airflow_etl_minio_to_postgres_spark.functions.dedup import (
        cross_doc_spans,
    )

    texts = [(i, " ".join(words)) for i, words in enumerate(docs)]

    def grams(words):
        return [
            (" ".join(words[i : i + k]), i)
            for i in range(len(words) - k + 1)
        ]

    gram_docs = {}
    for i, words in enumerate(docs):
        for g, _ in grams(words):
            gram_docs.setdefault(g, set()).add(i)
    expected = set()
    for i, words in enumerate(docs):
        hits = sorted(
            pos for g, pos in grams(words) if len(gram_docs[g]) >= 2
        )
        run = []
        for pos in hits:
            if run and pos > run[-1] + k:
                expected.add((i, run[0], run[-1] - run[0] + k))
                run = []
            run.append(pos)
        if run:
            expected.add((i, run[0], run[-1] - run[0] + k))

    df = spark.createDataFrame(
        texts or [(0, "")], "doc_id long, text string"
    )
    if not texts:
        df = df.limit(0)
    got = {
        (r.doc_id, r.span_start, r.span_tokens)
        for r in cross_doc_spans(df, k=k, min_docs=2).collect()
    }
    assert got == expected


_vec = st.lists(
    st.integers(min_value=-3, max_value=3), min_size=3, max_size=3
).filter(lambda v: any(v))


@given(vecs=st.lists(_vec, min_size=2, max_size=10))
@SPARK_SETTINGS
def test_semantic_dedup_matches_numpy_model(spark, vecs):
    """semantic_dedup == the straight numpy model: assign each vector to
    its max-cosine centroid (smaller cid on ties), drop any vector with
    a lower-id same-cell neighbor at cosine >= t.  Small integer grids
    make exact ties and exact-threshold hits common."""
    import math

    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        semantic_dedup,
    )

    n_cells = 2
    t = 0.95

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        )

    cents = list(enumerate(vecs[:n_cells]))
    assign = {}
    for i, v in enumerate(vecs):
        best = max(cents, key=lambda c: (cos(v, c[1]), -c[0]))
        assign[i] = best[0]
    expected = set()
    for i, v in enumerate(vecs):
        dropped = any(
            j < i and assign[j] == assign[i] and cos(vecs[j], v) >= t
            for j in range(len(vecs))
        )
        if not dropped:
            expected.add((i, assign[i]))

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r.vec_id, r.cid)
        for r in semantic_dedup(df, threshold=t, n_cells=n_cells).collect()
    }
    assert got == expected


@given(vecs=st.lists(_vec, min_size=2, max_size=12), n_iters=st.integers(1, 3))
@SPARK_SETTINGS
def test_kmeans_centroids_match_numpy_model(spark, vecs, n_iters):
    """kmeans_centroids == the straight Python model: sha-ordered init,
    argmax-cosine assignment (smaller cid on ties), exact micro-unit
    mean update, empty cells keep the previous centroid.  Small integer
    grids make exact cosine ties common, exercising the deterministic
    tie-break; comparison is EXACT (the determinism contract)."""
    import hashlib
    import math

    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        kmeans_centroids,
    )

    n_cells = 2
    dim = 3

    def cos(a, b):
        num = sum(float(x) * float(y) for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(float(x) * x for x in a))
            * math.sqrt(sum(float(x) * x for x in b))
        )

    ids = list(range(len(vecs)))
    order = sorted(
        ids,
        key=lambda i: (
            hashlib.sha256(f"kmeans-init:{i}".encode()).hexdigest(),
            i,
        ),
    )
    cents = {
        cid: [float(x) for x in vecs[i]]
        for cid, i in enumerate(order[:n_cells])
    }
    counts = {cid: 0 for cid in cents}
    for _ in range(n_iters):
        cells = {}
        for i in ids:
            best = max(
                cents.items(), key=lambda c: (cos(vecs[i], c[1]), -c[0])
            )[0]
            cells.setdefault(best, []).append(i)
        counts = {cid: 0 for cid in cents}
        for cid in cents:
            members = cells.get(cid)
            counts[cid] = len(members or [])
            if members:
                # Spark's F.round is half-AWAY-FROM-ZERO, not Python
                # round()'s banker's half-to-even — model it explicitly
                # so widening _vec to fractional components that land on
                # .5 micro-units can't make the exact assertion flaky.
                def micro(x: float) -> int:
                    s = float(x) * 1e6
                    return (
                        int(math.floor(s + 0.5))
                        if s >= 0
                        else -int(math.floor(-s + 0.5))
                    )

                cents[cid] = [
                    sum(micro(vecs[i][d]) for i in members)
                    / len(members)
                    / 1e6
                    for d in range(dim)
                ]

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.cid: (list(r.cvec), r.n_members)
        for r in kmeans_centroids(
            df, n_cells=n_cells, n_iters=n_iters
        ).collect()
    }
    expected = {cid: (cents[cid], counts[cid]) for cid in cents}
    assert got == expected


@given(
    payloads=st.lists(
        st.binary(min_size=0, max_size=200), min_size=1, max_size=6
    )
)
@SPARK_SETTINGS
def test_image_ahash_matches_python_model(spark, payloads):
    """add_image_ahash == the straight Python model: cell c samples the
    byte at floor(c*n/64), bit = sample >= mean (inclusive), degenerate
    payloads all-ones.  Random binaries exercise every byte value and
    the short-payload position-collapse path."""
    from airflow_etl_minio_to_postgres_spark.functions.multimodal import (
        add_image_ahash,
    )

    def model(b: bytes) -> str:
        n = len(b)
        samples = [b[(c * n) // 64] if n else 0 for c in range(64)]
        mean = sum(samples) / 64.0
        return "".join("1" if x >= mean else "0" for x in samples)

    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)],
        "doc_id long, payload binary",
    )
    got = {r.doc_id: r.ahash for r in add_image_ahash(df).collect()}
    assert got == {i: model(p) for i, p in enumerate(payloads)}


@given(
    keys=st.lists(st.integers(0, 3), min_size=1, max_size=40),
    cap=st.integers(1, 6),
    matrix=st.integers(1, 3).flatmap(
        lambda nb: st.lists(
            st.lists(st.integers(0, 2), min_size=nb, max_size=nb),
            min_size=1,
            max_size=12,
        )
    ),
)
@SPARK_SETTINGS
def test_salted_band_sides_every_pair_exactly_once(spark, keys, cap, matrix):
    """salted_band_sides exactness under arbitrary bucket shapes: for
    ANY key multiset and ANY cap, the salted self-join yields every
    in-bucket (id_a < id_b) pair EXACTLY once — the invariant that
    makes downstream first-matching-band predicates and dropDuplicates
    behave identically to the unsalted plan.  Over an arbitrary
    id x band key matrix (1-3 bands), bucket_pairs with its first-match
    rule yields every (id_a < id_b) pair sharing at least one band
    EXACTLY once, with and without a cap."""
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.dedup import (
        bucket_pairs,
        salted_band_sides,
    )

    rows = [(i, f"k{k}") for i, k in enumerate(keys)]
    fan = spark.createDataFrame(rows, "doc_id long, band_key string")
    a, b, jk = salted_band_sides(fan, "doc_id", "band_key", cap)
    got = sorted(
        (r.id_a, r.id_b)
        for r in a.select(F.col("doc_id").alias("id_a"), *jk)
        .join(b.select(F.col("doc_id").alias("id_b"), *jk), jk)
        .where(F.col("id_a") < F.col("id_b"))
        .collect()
    )
    expected = []
    by_key: dict = {}
    for i, k in enumerate(keys):
        by_key.setdefault(k, []).append(i)
    for members in by_key.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                expected.append((members[x], members[y]))
    assert got == sorted(expected)  # exactly once, none lost, none extra

    n_bands = len(matrix[0])
    bks = [[f"{b}|{k}" for b, k in enumerate(row)] for row in matrix]
    banded = spark.createDataFrame(
        [(i, ks, b, k) for i, ks in enumerate(bks) for b, k in enumerate(ks)],
        "doc_id long, _bks array<string>, _band int, band_key string",
    )
    shared = sorted(
        (x, y)
        for x in range(len(bks))
        for y in range(x + 1, len(bks))
        if set(bks[x]) & set(bks[y])
    )
    for bucket_cap in (None, cap):
        pairs = bucket_pairs(
            banded,
            "doc_id",
            ["_bks"],
            max_bucket_size=bucket_cap,
            n_bands=n_bands,
            band_differs=lambda b: F.element_at("_bks_a", b + 1)
            != F.element_at("_bks_b", b + 1),
        )
        assert sorted((r.id_a, r.id_b) for r in pairs.collect()) == shared


@given(
    groups=st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=40),
    alpha=st.sampled_from([0.0, 0.3, 0.7, 1.0]),
)
@SPARK_SETTINGS
def test_temperature_mix_matches_model_on_arbitrary_groups(
    spark, groups, alpha
):
    """temperature_mix == the straight model for ANY group multiset and
    alpha: exact counts, (n_min/n_g)^(1-alpha) rates rounded to 9
    decimals, sha-uniform keep decision — including the alpha=1 raw
    mixture (all rates 1.0) and alpha=0 uniform-expected-counts
    extremes."""
    import hashlib

    from airflow_etl_minio_to_postgres_spark.functions.text import (
        temperature_mix,
    )

    rows = [(i, g) for i, g in enumerate(groups)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    counts: dict[str, int] = {}
    for _, g in rows:
        counts[g] = counts.get(g, 0) + 1
    nmin = min(counts.values())
    rates = {g: round((nmin / n) ** (1.0 - alpha), 9) for g, n in counts.items()}

    def u(i: int) -> float:
        h = hashlib.sha256(f"temp:{i}".encode()).hexdigest()
        return int(h[:8], 16) / 4294967296.0

    expected = {(i, g) for i, g in rows if u(i) < rates[g]}
    got = {
        (r.doc_id, r.source)
        for r in temperature_mix(df, "source", alpha).collect()
    }
    assert got == expected
    if alpha == 1.0:
        assert got == set(rows)  # raw mixture: nothing dropped


@given(
    payloads=st.lists(
        st.binary(min_size=0, max_size=120), min_size=2, max_size=8
    ),
    max_hamming=st.integers(0, 7),
)
@SPARK_SETTINGS
def test_ahash_banded_pairs_equal_brute_force(spark, payloads, max_hamming):
    """Pigeonhole completeness of the banded aHash pair join: for
    max_hamming < n_bands (8) the banded candidates + packed
    verification must equal the BRUTE-FORCE all-pairs truth at that
    threshold, on arbitrary binaries (degenerate all-ones hashes,
    short payloads, exact dups included)."""
    from airflow_etl_minio_to_postgres_spark.functions.multimodal import (
        add_image_ahash,
        ahash_near_dup_pairs,
    )

    def model_hash(b: bytes) -> str:
        n = len(b)
        samples = [b[(c * n) // 64] if n else 0 for c in range(64)]
        mean = sum(samples) / 64.0
        return "".join("1" if x >= mean else "0" for x in samples)

    hashes = {i: model_hash(p) for i, p in enumerate(payloads)}
    expect = sorted(
        (a, b, sum(x != y for x, y in zip(hashes[a], hashes[b])))
        for a in hashes
        for b in hashes
        if a < b
        and sum(x != y for x, y in zip(hashes[a], hashes[b])) <= max_hamming
    )
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)],
        "doc_id long, payload binary",
    )
    got = sorted(
        tuple(r)
        for r in ahash_near_dup_pairs(
            add_image_ahash(df), max_hamming=max_hamming
        ).collect()
    )
    assert got == expect


@given(
    corpus=st.lists(_vec, min_size=1, max_size=10),
    bench=st.lists(_vec, min_size=1, max_size=4),
    t=st.sampled_from([0.5, 0.95, 1.0]),
)
@SPARK_SETTINGS
def test_semantic_decontaminate_matches_python_model(spark, corpus, bench, t):
    """semantic_decontaminate == the brute-force model: drop every corpus
    vector whose exact cosine to ANY benchmark vector reaches t.  Small
    integer grids make exact-threshold hits and identical vectors (cosine
    exactly 1.0, the paraphrase-leak case) common; t=1.0 exercises the
    inclusive boundary."""
    import math

    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        semantic_decontaminate,
    )

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        )

    expected = {
        i
        for i, v in enumerate(corpus)
        if not any(cos(v, b) >= t for b in bench)
    }
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(corpus)],
        "vec_id long, embedding array<double>",
    )
    bdf = spark.createDataFrame(
        [(1000 + j, [float(x) for x in b]) for j, b in enumerate(bench)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id
        for r in semantic_decontaminate(cdf, bdf, threshold=t).collect()
    }
    assert got == expected


@given(
    vecs=st.lists(_vec, min_size=2, max_size=10),
    nprobe=st.integers(min_value=1, max_value=3),
)
@SPARK_SETTINGS
def test_ivf_assign_nprobe_matches_python_model(spark, vecs, nprobe):
    """ivf_assign with nprobe == the brute-force model: each vector's
    probed cells are exactly its nprobe nearest centroids under the
    (cosine desc, cid asc) tie-break, rank 1 is the classic assignment,
    and every id gets exactly min(nprobe, n_cells) rows.  Integer grids
    make exact cosine ties (the tie-break's whole reason) common."""
    import math

    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        ivf_assign,
    )

    n_cells = min(2, len(vecs))
    cents = list(enumerate(vecs[:n_cells]))

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        )

    expected = set()
    for i, v in enumerate(vecs):
        ranked = sorted(cents, key=lambda c: (-cos(v, c[1]), c[0]))
        for rank, (cid, _) in enumerate(ranked[:nprobe], start=1):
            expected.add((i, cid, rank))

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cdf = spark.createDataFrame(
        [(cid, [float(x) for x in cv]) for cid, cv in cents],
        "cid long, cvec array<double>",
    )
    got = {
        (r.vec_id, r.cid, r.rnk)
        for r in ivf_assign(
            df, cdf, nprobe=nprobe, rank_col="rnk"
        ).collect()
    }
    assert got == expected
    per_id = {}
    for i, _, _ in got:
        per_id[i] = per_id.get(i, 0) + 1
    assert all(n == min(nprobe, n_cells) for n in per_id.values())


# ---- round-11 continuation: splits / z-order / recall models ----

_weight_names = st.lists(
    st.sampled_from(["train", "val", "test", "holdout"]),
    min_size=2,
    max_size=4,
    unique=True,
)


@SPARK_SETTINGS
@given(
    names=_weight_names,
    raw_weights=st.lists(
        st.integers(min_value=1, max_value=9), min_size=4, max_size=4
    ),
    ids=st.lists(
        st.integers(min_value=0, max_value=10_000),
        min_size=1,
        max_size=30,
        unique=True,
    ),
)
def test_assign_splits_matches_python_model(spark, names, raw_weights, ids):
    """assign_splits under ARBITRARY weight dicts equals a pure-Python
    model computing the identical running-float thresholds over the
    identical sha-uniform draw — the cross-engine determinism the
    operator exists for, beyond the registry's fixed 8/1/1 case."""
    import hashlib

    from airflow_etl_minio_to_postgres_spark.functions.text import (
        assign_splits,
    )

    weights = {n: float(w) for n, w in zip(names, raw_weights)}

    def model(doc_id: int) -> str:
        draw = (
            int(
                hashlib.sha256(f"split:{doc_id}".encode()).hexdigest()[:8],
                16,
            )
            / 4294967296.0
        )
        total = float(sum(weights.values()))
        acc = 0.0
        for n in list(weights)[:-1]:
            acc += weights[n] / total
            if draw < acc:
                return n
        return list(weights)[-1]

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r.doc_id: r.split for r in assign_splits(df, weights).collect()
    }
    assert got == {i: model(i) for i in ids}


@SPARK_SETTINGS
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1023),
            st.integers(min_value=0, max_value=1023),
        ),
        min_size=1,
        max_size=25,
    ),
    bits=st.integers(min_value=1, max_value=10),
)
def test_zorder_value_sql_property(spark, pts, bits):
    """The generated Morton text equals the bit-interleave model for
    ARBITRARY points and bit widths (values above 2**bits alias onto
    their low bits, exactly as documented)."""
    from airflow_etl_minio_to_postgres_spark.sources.files import (
        zorder_value_sql,
    )

    def morton(x: int, y: int) -> int:
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(pts, "x long, y long")
    rows = df.select(
        "x", "y", F.expr(zorder_value_sql(["x", "y"], bits)).alias("z")
    ).collect()
    for r in rows:
        assert r.z == morton(r.x, r.y), (r.x, r.y, bits)


@SPARK_SETTINGS
@given(
    exact=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=40),
        ),
        min_size=1,
        max_size=25,
        unique=True,
    ),
    approx=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=40),
        ),
        min_size=0,
        max_size=25,
        unique=True,
    ),
    k=st.integers(min_value=1, max_value=6),
)
def test_ann_recall_at_k_matches_set_model(spark, exact, approx, k):
    """recall@k over ARBITRARY result tables equals the set-arithmetic
    model |approx ∩ exact| / min(|exact|, k) per query — including
    queries with zero approx rows and |exact| < k."""
    from collections import defaultdict

    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        ann_recall_at_k,
    )

    e_by_q, a_by_q = defaultdict(set), defaultdict(set)
    for q, i in exact:
        e_by_q[q].add(i)
    for q, i in approx:
        a_by_q[q].add(i)
    expect = {
        q: len(a_by_q[q] & ids) / min(len(ids), k)
        for q, ids in e_by_q.items()
    }

    edf = spark.createDataFrame(list(exact), "qid long, vec_id long")
    adf = (
        spark.createDataFrame(list(approx), "qid long, vec_id long")
        if approx
        else spark.createDataFrame([], "qid long, vec_id long")
    )
    got = {r.qid: r.recall for r in ann_recall_at_k(adf, edf, k=k).collect()}
    assert got == expect


# ---- round-12: retrieval + drift models ----


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["spark", "join", "window", "pad", "x"]),
            min_size=0,
            max_size=8,
        ),
        min_size=1,
        max_size=15,
    ),
    terms=st.lists(
        st.sampled_from(["spark", "join", "window"]),
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
@SPARK_SETTINGS
def test_bm25_matches_python_model(spark, docs, terms):
    """bm25_topk vs a pure-Python Okapi model over arbitrary tiny
    corpora: identical doc sets (only docs containing a query term
    score) and scores equal to 1e-12 — pinning idf/tf formula, doc
    length, avgdl (which counts EVERY doc, termful or not), and the
    ln + fold order."""
    import math

    from airflow_etl_minio_to_postgres_spark.functions.text import bm25_topk

    df = spark.createDataFrame(
        [(i, " ".join(words)) for i, words in enumerate(docs)],
        "doc_id long, text string",
    )
    k1, b = 1.2, 0.75
    # the engine tokenizes by whitespace split of the trimmed text; an
    # empty text yields one '' token (len 1) — mirror that exactly
    toks = {i: ([w for w in words] or [""]) for i, words in enumerate(docs)}
    N = len(docs)
    avgdl = sum(len(t) for t in toks.values()) / N
    dfreq = {t: sum(1 for w in toks.values() if t in w) for t in terms}

    def score(i):
        s = 0.0
        for t in sorted(set(x.lower() for x in terms)):
            tf = toks[i].count(t)
            if tf == 0:
                continue
            idf = math.log(1.0 + (N - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            dl = len(toks[i])
            s += idf * (
                tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
            )
        return s

    expected = sorted(
        ((i, score(i)) for i in toks if score(i) > 0.0),
        key=lambda kv: (-kv[1], kv[0]),
    )[:20]
    got = [
        (r.doc_id, r.score)
        for r in bm25_topk(df, terms, k=20, k1=k1, b=b).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (gd, gs), (ed, es) in zip(got, expected):
        assert abs(gs - es) < 1e-12, (gd, gs, es)


@given(
    ref_vals=st.lists(
        st.integers(min_value=0, max_value=50), min_size=10, max_size=40
    ),
    cur_vals=st.lists(
        st.integers(min_value=0, max_value=50), min_size=10, max_size=40
    ),
    n_buckets=st.integers(min_value=2, max_value=5),
)
@SPARK_SETTINGS
def test_psi_matches_python_model(spark, ref_vals, cur_vals, n_buckets):
    """population_stability_index vs a pure-Python model: the same
    linear-interpolated percentile cutpoints, the same >=-count bucket
    rule, eps-floored proportions, and the (p_cur-p_ref)*ln(p_cur/p_ref)
    parts — over arbitrary integer value multisets."""
    import math

    from airflow_etl_minio_to_postgres_spark.operators.audit import (
        population_stability_index,
    )

    ref = spark.createDataFrame(
        [(float(v),) for v in ref_vals], "v double"
    )
    cur = spark.createDataFrame(
        [(float(v),) for v in cur_vals], "v double"
    )
    got = {
        r.bucket: (r.p_ref, r.p_cur, r.psi_part)
        for r in population_stability_index(
            ref, cur, F.col("v"), n_buckets=n_buckets
        ).collect()
    }

    # python model: exact percentiles with linear interpolation
    def pct(sorted_vals, p):
        n = len(sorted_vals)
        pos = p * (n - 1)
        lo = int(math.floor(pos))
        hi = min(lo + 1, n - 1)
        frac = pos - lo
        # Spark's Percentile (and DuckDB's quantile_cont) interpolate
        # as lower*(1-frac) + higher*frac — NOT lo + (hi-lo)*frac,
        # which differs by 1 ulp for some fracs; with a current value
        # sitting exactly on the cutpoint that ulp flips its bucket
        # (hypothesis-found in round 14: ref n=24, p=0.2, value 17)
        return sorted_vals[lo] * (1 - frac) + sorted_vals[hi] * frac

    sref = sorted(float(v) for v in ref_vals)
    cuts = [pct(sref, i / n_buckets) for i in range(1, n_buckets)]

    def bucket(v):
        return 1 + sum(1 for c in cuts if v >= c)

    from collections import Counter

    rc = Counter(bucket(float(v)) for v in ref_vals)
    cc = Counter(bucket(float(v)) for v in cur_vals)
    eps = 1e-6
    expected = {}
    for bkt in sorted(set(rc) | set(cc)):
        p_ref = max(rc.get(bkt, 0) / len(ref_vals), eps)
        p_cur = max(cc.get(bkt, 0) / len(cur_vals), eps)
        expected[bkt] = (
            p_ref,
            p_cur,
            (p_cur - p_ref) * math.log(p_cur / p_ref),
        )
    assert set(got) == set(expected)
    for bkt in expected:
        for g, e in zip(got[bkt], expected[bkt]):
            assert abs(g - e) < 1e-12, (bkt, got[bkt], expected[bkt])


@given(
    list_a=st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 9)),
        min_size=0,
        max_size=12,
    ),
    list_b=st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 9)),
        min_size=0,
        max_size=12,
    ),
)
@SPARK_SETTINGS
def test_rrf_fuse_matches_python_model(spark, list_a, list_b):
    """rrf_fuse vs a pure-Python model over arbitrary (id, score)
    lists (duplicate ids collapse to distinct rows first): ranks by
    (score desc, id), 1/(60+rank) sums with absentees contributing 0,
    output ordered by (fused desc, id)."""
    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        rrf_fuse,
    )

    da = {i: s for i, s in list_a}  # last write wins; distinct ids
    db = {i: s for i, s in list_b}
    if not da:
        da = {0: 0}
    if not db:
        db = {0: 0}
    a = spark.createDataFrame(
        [(i, float(s)) for i, s in da.items()], "doc_id long, score double"
    )
    b = spark.createDataFrame(
        [(i, float(s)) for i, s in db.items()], "doc_id long, cosine double"
    )

    def ranks(d):
        ordered = sorted(d.items(), key=lambda kv: (-kv[1], kv[0]))
        return {i: r + 1 for r, (i, _) in enumerate(ordered)}

    ra, rb = ranks(da), ranks(db)
    fused = {
        i: (1.0 / (60 + ra[i]) if i in ra else 0.0)
        + (1.0 / (60 + rb[i]) if i in rb else 0.0)
        for i in set(ra) | set(rb)
    }
    expected = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    got = [
        (r.doc_id, r.rrf)
        for r in rrf_fuse([(a, "score"), (b, "cosine")], k=5).collect()
    ]
    assert got == expected


@given(
    rows_a=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20), st.integers(0, 9)),
        min_size=0,
        max_size=18,
    ),
    rows_b=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20), st.integers(0, 9)),
        min_size=0,
        max_size=18,
    ),
)
@SPARK_SETTINGS
def test_rrf_fuse_grouped_matches_python_model(spark, rows_a, rows_b):
    """rrf_fuse_grouped vs a pure-Python per-query rank model over
    arbitrary (qid, id, score) tables: each query group ranks and
    fuses independently (ranks never leak across groups), absentees
    contribute 0, per-query top-k by (fused desc, id)."""
    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        rrf_fuse_grouped,
    )

    da = {(q, i): s for q, i, s in rows_a}  # last write wins per key
    db = {(q, i): s for q, i, s in rows_b}
    if not da:
        da = {(0, 0): 0}
    if not db:
        db = {(0, 0): 0}
    a = spark.createDataFrame(
        [(q, i, float(s)) for (q, i), s in da.items()],
        "qid long, doc_id long, score double",
    )
    b = spark.createDataFrame(
        [(q, i, float(s)) for (q, i), s in db.items()],
        "qid long, doc_id long, cosine double",
    )

    def ranks(d, q):
        ordered = sorted(
            ((i, s) for (qq, i), s in d.items() if qq == q),
            key=lambda kv: (-kv[1], kv[0]),
        )
        return {i: r + 1 for r, (i, _) in enumerate(ordered)}

    expected = []
    for q in sorted({q for q, _ in da} | {q for q, _ in db}):
        ra, rb = ranks(da, q), ranks(db, q)
        fused = {
            i: (1.0 / (60 + ra[i]) if i in ra else 0.0)
            + (1.0 / (60 + rb[i]) if i in rb else 0.0)
            for i in set(ra) | set(rb)
        }
        expected.extend(
            (q, i, f)
            for i, f in sorted(
                fused.items(), key=lambda kv: (-kv[1], kv[0])
            )[:3]
        )
    got = sorted(
        ((r.qid, r.doc_id, r.rrf)
         for r in rrf_fuse_grouped(
             [(a, "score"), (b, "cosine")], k=3
         ).collect()),
        key=lambda t: (t[0], -t[2], t[1]),
    )
    assert got == sorted(expected, key=lambda t: (t[0], -t[2], t[1]))


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(
                ["spark", "join", "window", "filter", "merge", "agg"]
            ),
            min_size=0,
            max_size=8,
        ),
        min_size=1,
        max_size=12,
    ),
    queries=st.lists(
        st.lists(
            st.sampled_from(["spark", "join", "window"]),
            min_size=1,
            max_size=3,
            unique=True,
        ),
        min_size=1,
        max_size=3,
    ),
)
@SPARK_SETTINGS
def test_bm25_batch_matches_python_model(spark, tmp_path, docs, queries):
    """bm25_topk_batch (served from a freshly-built inverted index) vs
    the same pure-Python Okapi model as the direct path's property
    test, per query of an arbitrary query TABLE — pinning that the
    shared pruned scan, the df-before-query-join order, and the
    per-query window cut reproduce the model for every query at
    once."""
    import math

    from airflow_etl_minio_to_postgres_spark.functions.text import (
        bm25_topk_batch,
        write_inverted_index,
    )

    df = spark.createDataFrame(
        [(i, " ".join(words)) for i, words in enumerate(docs)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "inv_prop")
    if not any(docs):  # zero indexable tokens: the builder refuses
        import pytest

        with pytest.raises(ValueError, match="zero postings"):
            write_inverted_index(df, path, n_buckets=8)
        return
    write_inverted_index(df, path, n_buckets=8)
    qdf = spark.createDataFrame(
        [(q, terms) for q, terms in enumerate(queries)],
        "qid long, terms array<string>",
    )

    k1, b = 1.2, 0.75
    toks = {i: (list(words) or [""]) for i, words in enumerate(docs)}
    N = len(docs)
    avgdl = sum(len(t) for t in toks.values()) / N

    def score(i, terms):
        s = 0.0
        for t in sorted(set(x.lower() for x in terms)):
            tf = toks[i].count(t)
            if tf == 0:
                continue
            dfreq = sum(1 for w in toks.values() if t in w)
            idf = math.log(1.0 + (N - dfreq + 0.5) / (dfreq + 0.5))
            dl = len(toks[i])
            s += idf * (
                tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
            )
        return s

    expected = []
    for q, terms in enumerate(queries):
        per_q = sorted(
            ((i, score(i, terms)) for i in toks if score(i, terms) > 0.0),
            key=lambda kv: (-kv[1], kv[0]),
        )[:20]
        expected.extend((q, i, s) for i, s in per_q)
    got = sorted(
        ((r.qid, r.doc_id, r.score)
         for r in bm25_topk_batch(
             spark, path, qdf, k=20, k1=k1, b=b
         ).collect()),
        key=lambda t: (t[0], t[1]),
    )
    expected = sorted(expected, key=lambda t: (t[0], t[1]))
    assert [(q, i) for q, i, _ in got] == [(q, i) for q, i, _ in expected]
    for (gq, gi, gs), (_, _, es) in zip(got, expected):
        assert abs(gs - es) < 1e-12, (gq, gi, gs, es)


@given(
    ref_rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", None]),
            st.integers(0, 30),
        ),
        min_size=2,
        max_size=25,
    ),
    cur_rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", None]),  # c: never in ref
            st.integers(0, 30),
        ),
        min_size=2,
        max_size=25,
    ),
    n_buckets=st.integers(2, 4),
)
@SPARK_SETTINGS
def test_psi_by_matches_per_slice_global(spark, ref_rows, cur_rows, n_buckets):
    """population_stability_index_by vs the global operator run on each
    segment's slices, over arbitrary segmented multisets: bit-equal
    per-segment rows; segments absent from the reference (including
    cur-only and NULL keys) produce no rows."""
    from airflow_etl_minio_to_postgres_spark.operators.audit import (
        population_stability_index,
        population_stability_index_by,
    )

    ref = spark.createDataFrame(
        [(s, float(v)) for s, v in ref_rows], "seg string, v double"
    )
    cur = spark.createDataFrame(
        [(s, float(v)) for s, v in cur_rows], "seg string, v double"
    )
    got = population_stability_index_by(
        ref, cur, F.col("v"), by=["seg"], n_buckets=n_buckets
    ).collect()
    got_by_seg = {}
    for r in got:
        got_by_seg.setdefault(r.seg, []).append(
            (r.bucket, r.p_ref, r.p_cur, r.psi_part)
        )
    ref_segs = {s for s, _ in ref_rows if s is not None}
    assert set(got_by_seg) <= ref_segs  # no NULL / cur-only segments
    for s in ref_segs:
        want = sorted(
            (r.bucket, r.p_ref, r.p_cur, r.psi_part)
            for r in population_stability_index(
                ref.where(F.col("seg") == s),
                cur.where(F.col("seg") == s),
                F.col("v"),
                n_buckets=n_buckets,
            ).collect()
        )
        assert sorted(got_by_seg.get(s, [])) == want, f"segment {s}"


@given(
    ops=st.lists(
        st.sampled_from(
            [
                "commit",
                "commit_zm",
                "commit_bloom",
                "crash_before_publish",
                "crash_after_zm_before_publish",
                "crash_mid_publish",
                "crash_before_gc",
                "restore",
                "rebuild_sidecars",
                "commit_rejected",
                "commit_ok_validated",
            ]
        ),
        min_size=1,
        max_size=5,
    ),
    keep_last=st.integers(min_value=1, max_value=3),
)
@SPARK_SETTINGS
def test_manifest_protocol_crash_model(spark, tmp_path_factory, ops, keep_last):
    """Model test of the manifest commit protocol (sources/manifest.py)
    under arbitrary crash sequences: a 'generation' is a parquet of the
    SAME 50 ids stamped with its sequence number, a commit is
    write-gen -> publish -> GC, and a crash truncates the commit at
    either boundary.  Invariants after EVERY step: readers resolve a
    COMPLETE generation (all 50 ids, one uniform stamp); the stamp only
    advances when a publish succeeded (a crash before the publish is
    invisible); orphan prefixes never shadow the published generation;
    and after a successful commit at most ``keep_last`` published
    generations remain while the resolved one is always the newest.
    Zone-mapped commits (``commit_zm`` / a crash stranding a sidecar'd
    orphan) add the data-skipping invariants: whenever the SERVED
    generation carries a ``_zonemap``, its file inventory equals the
    actual data files and a skipping read equals the filtered full
    scan — under every crash interleaving.  Bloom-committed
    generations (``commit_bloom``) add the point-lookup invariants
    the same way: sidecar inventory complete, a probe for a present
    key finds exactly it, an absent key finds nothing.

    Round 16 adds the two in-place mutation ops to the alphabet:
    ``restore`` re-commits the OLDEST retained snapshot as the newest
    generation (readers must flip to the restored snapshot's VALUES —
    the expected stamp becomes the restored generation's stamp, not
    its new sequence number — under the same retention arithmetic as
    any commit), and ``rebuild_sidecars`` builds zone+bloom stats on
    the served generation in place (after which every sidecar
    invariant must hold on a generation that committed WITHOUT
    them).  Both are no-ops before the first successful publish.

    Round 17 adds the QA-gated commit (``pre_publish_validate``, the
    r16 advisor medium): ``commit_rejected`` drives the REAL
    ``commit_parquet_generation`` with a raising hook — the whole
    commit must be invisible (reader values, the ``_gen-`` listing
    incl. any crash-stranded orphans, and ``next_seq`` all exactly
    unchanged), at any point in any interleaving; ``commit_ok_validated``
    drives it with a passing hook and must behave exactly like a
    normal commit (hook ran once, publish + retention as usual)."""
    import os as _os

    from airflow_etl_minio_to_postgres_spark.sources import manifest as mf

    root = str(tmp_path_factory.mktemp("proto"))
    ids = spark.range(50)

    def write_gen(seq: int, zone_maps: bool = False,
                  bloom: bool = False) -> str:
        gen = f"_gen-{seq:06d}"
        ids.withColumn("g", F.lit(int(seq))).write.mode("overwrite").parquet(
            mf._join(root, gen)
        )
        if zone_maps:
            mf.write_zone_maps(spark, mf._join(root, gen), ("id",))
        if bloom:
            mf.write_bloom_filters(
                spark, mf._join(root, gen), ("id",), bits=256, k=3
            )
        return gen

    # the pre-manifest legacy payload: stamp 0, hive-partitioned at
    # the root like every real adopter's layout (cid= / term_bucket= /
    # _commit_id= ...) — the partition dirs are what GC collects
    ids.withColumn("g", F.lit(0)).write.mode("overwrite").partitionBy(
        "g"
    ).parquet(root)
    expected_stamp = 0
    published: list[int] = []
    stamp_of: dict[int, int] = {}  # seq -> stamp its generation carries

    def check():
        resolved = mf.resolve_data_root(spark, root)
        got = spark.read.parquet(resolved)
        assert got.count() == 50
        stamps = {r[0] for r in got.select("g").distinct().collect()}
        assert stamps == {expected_stamp}, (stamps, expected_stamp)
        # data-skipping invariants whenever the SERVED generation
        # carries a sidecar: inventory complete, skipping lossless
        if _os.path.isdir(_os.path.join(resolved, "_zonemap")):
            listed = {
                r["file"]
                for r in spark.read.parquet(
                    _os.path.join(resolved, "_zonemap")
                )
                .select("file")
                .collect()
            }
            assert listed == mf._data_files(spark, resolved)
            skipped = mf.zone_map_scan(spark, root, {"id": (10, 19)})
            assert skipped.count() == 10
        if _os.path.isdir(_os.path.join(resolved, "_bloom")):
            listed = {
                r["file"]
                for r in spark.read.parquet(
                    _os.path.join(resolved, "_bloom")
                )
                .where("file <> ''")
                .select("file")
                .distinct()
                .collect()
            }
            assert listed == mf._data_files(spark, resolved)
            assert mf.bloom_point_scan(
                spark, root, "id", [7, 9999]
            ).count() == 1

    def assert_retention():
        gens = sorted(
            n for n in _os.listdir(root) if n.startswith("_gen-")
        )
        keep = [f"_gen-{s:06d}" for s in sorted(published)[-keep_last:]]
        assert gens == keep, (gens, keep)
        flat_gone = not any("=" in n for n in _os.listdir(root))
        assert flat_gone == (len(published) >= keep_last)

    check()
    for op in ops:
        if op == "commit_rejected":
            seq_before = mf.next_seq(spark, root)
            gens_before = sorted(
                n for n in _os.listdir(root) if n.startswith("_gen-")
            )

            def _refuse(_staged):
                raise ValueError("QA gate: rejected")

            try:
                mf.commit_parquet_generation(
                    spark,
                    ids.withColumn("g", F.lit(int(seq_before))),
                    root,
                    keep_last=keep_last,
                    pre_publish_validate=_refuse,
                )
                raise AssertionError("rejected commit must raise")
            except ValueError:
                pass
            # the whole commit is invisible: values, generation
            # listing (crash orphans included), and the sequence
            assert sorted(
                n for n in _os.listdir(root) if n.startswith("_gen-")
            ) == gens_before
            assert mf.next_seq(spark, root) == seq_before
            check()
            continue
        if op == "commit_ok_validated":
            seq = mf.next_seq(spark, root)
            ran: list[int] = []
            mf.commit_parquet_generation(
                spark,
                ids.withColumn("g", F.lit(int(seq))),
                root,
                keep_last=keep_last,
                pre_publish_validate=lambda _staged: ran.append(1),
            )
            assert ran == [1]
            expected_stamp = seq
            stamp_of[seq] = seq
            published.append(seq)
            check()
            assert_retention()
            continue
        if op in ("restore", "rebuild_sidecars"):
            if not published:
                continue  # both need a served committed generation
            if op == "rebuild_sidecars":
                mf.rebuild_sidecars(
                    spark, root, zone_map_cols=("id",),
                    bloom_cols=("id",), bloom_bits=256, bloom_k=3,
                )
                check()  # sidecar invariants now apply to the served gen
                continue
            src = min(s["seq"] for s in mf.snapshots(spark, root))
            new_seq = mf.restore_snapshot(
                spark, root, src, keep_last=keep_last
            )
            stamp_of[new_seq] = stamp_of[src]
            expected_stamp = stamp_of[src]
            published.append(new_seq)
            check()  # readers serve the restored snapshot's values
            assert_retention()
            continue
        seq = mf.next_seq(spark, root)
        gen = write_gen(seq, zone_maps=op in ("commit_zm",
                                              "crash_after_zm_before_publish"),
                        bloom=op == "commit_bloom")
        if op in ("crash_before_publish", "crash_after_zm_before_publish"):
            check()  # orphan (sidecar'd or not) invisible; reader unaffected
            continue
        if op == "crash_mid_publish":
            # a publish that died between create and close on a
            # visible-before-bytes FS: strand a PARTIAL object under
            # the published name.  latest_manifest must skip it (old
            # generation keeps serving) and next_seq must never reuse
            # its number for a different payload.
            mdir = _os.path.join(root, mf.MANIFEST_DIR)
            _os.makedirs(mdir, exist_ok=True)
            with open(
                _os.path.join(mdir, f"manifest-{seq:06d}.json"),
                "w",
                encoding="utf-8",
            ) as f:
                f.write('{"generation": "_gen-')  # truncated JSON
            check()  # reader falls back to the previous generation
            assert mf.next_seq(spark, root) > seq
            continue
        mf.publish_generation(spark, root, seq, gen)
        expected_stamp = seq
        stamp_of[seq] = seq
        published.append(seq)
        if op == "crash_before_gc":
            check()  # already serving the new generation
            continue
        mf.gc_generations(spark, root, seq, gen, keep_last=keep_last)
        check()
        # retention: at most keep_last published generations remain
        # (orphans collected), the newest is the resolved one, and the
        # legacy payload survives only while fewer than keep_last
        # generations were ever published
        assert_retention()


@given(
    vals=st.lists(
        st.one_of(st.integers(min_value=-100, max_value=100), st.none()),
        min_size=1,
        max_size=60,
    ),
    lo=st.one_of(st.integers(min_value=-120, max_value=120), st.none()),
    hi=st.one_of(st.integers(min_value=-120, max_value=120), st.none()),
    n_files=st.integers(min_value=1, max_value=5),
)
@SPARK_SETTINGS
def test_zone_map_scan_equals_full_filtered_scan(
    spark, tmp_path_factory, vals, lo, hi, n_files
):
    """Property: for ANY data (nulls included), ANY range (one- or
    two-sided, possibly empty or out of domain), and ANY file layout,
    zone_map_scan == the full scan with the same predicate.  Pruning
    may only ever remove files the predicate can prove empty."""
    from airflow_etl_minio_to_postgres_spark.sources import manifest as mf

    root = str(tmp_path_factory.mktemp("zmprop") / "t")
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )
    mf.commit_parquet_generation(
        spark,
        df.repartition(n_files),
        root,
        zone_map_cols=("v",),
    )
    got = sorted(
        (r["id"], r["v"])
        for r in mf.zone_map_scan(spark, root, {"v": (lo, hi)}).collect()
    )
    def keep(v):
        if lo is None and hi is None:
            return True  # (None, None) = no constraint: nulls pass too
        if v is None:
            return False  # any real bound excludes nulls (SQL semantics)
        return (lo is None or v >= lo) and (hi is None or v <= hi)

    want = sorted((i, v) for i, v in enumerate(vals) if keep(v))
    assert got == want


@given(
    vals=st.lists(
        st.one_of(st.integers(min_value=-50, max_value=50), st.none()),
        min_size=1,
        max_size=40,
    ),
    probes=st.lists(
        st.integers(min_value=-60, max_value=60), min_size=1, max_size=4
    ),
    n_files=st.integers(min_value=1, max_value=5),
    bits=st.integers(min_value=64, max_value=512),
)
@SPARK_SETTINGS
def test_bloom_point_scan_equals_full_filtered_scan(
    spark, tmp_path_factory, vals, probes, n_files, bits
):
    """Property: for ANY data (nulls included), ANY probe set (present
    or absent values), ANY file layout, and even a DELIBERATELY
    undersized filter (bits down to 64 — high false-positive rate),
    bloom_point_scan == the full scan with the same isin predicate.
    False positives cost extra files, never wrong rows; false
    negatives are structurally impossible (every present value set
    its bits)."""
    from airflow_etl_minio_to_postgres_spark.sources import manifest as mf

    root = str(tmp_path_factory.mktemp("blprop") / "t")
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )
    mf.commit_parquet_generation(
        spark,
        df.repartition(n_files),
        root,
        bloom_cols=("v",),
        bloom_bits=bits,
        bloom_k=3,
    )
    got = sorted(
        (r["id"], r["v"])
        for r in mf.bloom_point_scan(spark, root, "v", probes).collect()
    )
    want = sorted(
        (i, v) for i, v in enumerate(vals) if v is not None and v in probes
    )
    assert got == want


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@given(
    names=st.lists(
        st.text(alphabet="abc", min_size=0, max_size=6),
        min_size=1,
        max_size=12,
    ),
    blocks=st.lists(
        st.sampled_from(["x", "y"]), min_size=1, max_size=12
    ),
    d=st.integers(min_value=0, max_value=3),
)
@SPARK_SETTINGS
def test_blocked_fuzzy_pairs_equals_python_model(spark, names, blocks, d):
    """Property: blocked_fuzzy_pairs == the reference Python DP over
    every same-block pair, for arbitrary short strings (empty
    included), block layouts, and thresholds — the length-delta
    prefilter and Spark's threshold-bounded levenshtein never change
    the result, only the cost."""
    from airflow_etl_minio_to_postgres_spark.functions.linkage import (
        blocked_fuzzy_pairs,
    )

    rows = [
        (i, n, blocks[i % len(blocks)]) for i, n in enumerate(names)
    ]
    df = spark.createDataFrame(rows, "id long, name string, blk string")
    got = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in blocked_fuzzy_pairs(
            df, "id", "name", ["blk"], max_distance=d
        ).collect()
    }
    want = {}
    for i, na, ba in rows:
        for j, nb, bb in rows:
            if i < j and ba == bb:
                dist = _lev(na, nb)
                if dist <= d:
                    want[(i, j)] = dist
    assert got == want


@given(
    colname=st.sampled_from(["p", "_p", "_commit_id", "tag_", "p_1"]),
    n_rows=st.integers(min_value=0, max_value=40),
    n_parts=st.integers(min_value=1, max_value=4),
    recommits=st.integers(min_value=1, max_value=2),
)
@SPARK_SETTINGS
def test_commit_partitioned_roundtrip_any_column_name(
    spark, tmp_path_factory, colname, n_rows, n_parts, recommits
):
    """Property (r15 advisor medium): for ANY partition column name —
    underscore-prefixed included — ANY row count (zero included), and
    ANY partition-value cardinality, a partitioned
    commit_parquet_generation round-trips the exact frame through
    read_resolved, across recommits with GC.  The failure this pins
    against: a naive hidden-file rule classifying a populated
    underscore-partitioned generation as EMPTY and overwriting it
    with limit(0)."""
    from airflow_etl_minio_to_postgres_spark.sources import manifest as mf

    root = str(tmp_path_factory.mktemp("anypart") / "t")
    df = spark.createDataFrame(
        [(i, str(i % n_parts)) for i in range(n_rows)],
        f"id long, `{colname}` string",
    )
    for _ in range(recommits):
        mf.commit_parquet_generation(
            spark, df, root, partition_by=(colname,), keep_last=1
        )
    got = mf.read_resolved(spark, root)
    assert set(got.columns) == {"id", colname}
    # partition values round-trip through Spark's partition-type
    # inference (string "0" reads back as int 0) — compare canonically
    assert sorted(
        (r["id"], str(r[colname])) for r in got.collect()
    ) == sorted((i, str(i % n_parts)) for i in range(n_rows))
    assert mf.fsck_index(spark, root, keep_last=1)["issues"] == []


@given(
    vals=st.lists(
        st.tuples(
            st.one_of(st.integers(min_value=-50, max_value=50), st.none()),
            st.one_of(st.integers(min_value=-20, max_value=20), st.none()),
        ),
        min_size=1,
        max_size=40,
    ),
    lo=st.one_of(st.integers(min_value=-60, max_value=60), st.none()),
    hi=st.one_of(st.integers(min_value=-60, max_value=60), st.none()),
    probes=st.lists(
        st.integers(min_value=-25, max_value=25), min_size=0, max_size=4
    ),
    n_files=st.integers(min_value=1, max_value=5),
    bits=st.integers(min_value=64, max_value=256),
)
@SPARK_SETTINGS
def test_skipping_scan_equals_full_filtered_scan(
    spark, tmp_path_factory, vals, lo, hi, probes, n_files, bits
):
    """Property for the COMBINED zone ∩ bloom path (the individual
    sidecars each have their own equality property; the INTERSECTION
    logic is separate code): for ANY data (nulls in both columns),
    ANY range, ANY probe set (present/absent values, EMPTY list =
    unsatisfiable), ANY layout, and a deliberately undersized bloom,
    skipping_scan == read_resolved + the same conjunctive predicate.
    Each sidecar may only remove files its predicate proves empty, so
    intersecting survivors is exact."""
    from airflow_etl_minio_to_postgres_spark.sources import manifest as mf

    root = str(tmp_path_factory.mktemp("skipprop") / "t")
    df = spark.createDataFrame(
        [(i, r, k) for i, (r, k) in enumerate(vals)],
        "id long, r long, k long",
    )
    mf.commit_parquet_generation(
        spark,
        df.repartition(n_files),
        root,
        zone_map_cols=("r",),
        bloom_cols=("k",),
        bloom_bits=bits,
        bloom_k=3,
    )
    got = sorted(
        (row["id"], row["r"], row["k"])
        for row in mf.skipping_scan(
            spark, root, ranges={"r": (lo, hi)}, keys={"k": probes}
        ).collect()
    )

    def keep(r, k):
        if lo is not None and (r is None or r < lo):
            return False
        if hi is not None and (r is None or r > hi):
            return False
        return k is not None and k in probes

    want = sorted(
        (i, r, k) for i, (r, k) in enumerate(vals) if keep(r, k)
    )
    assert got == want
