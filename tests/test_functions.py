"""Unit tests for the LLM-pipeline operator library (functions/)."""

from __future__ import annotations

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from airflow_etl_minio_to_postgres_spark.functions.dedup import (
    drop_exact_dups,
    exact_dedup_groups,
    near_dup_pairs,
    simhash,
)
from airflow_etl_minio_to_postgres_spark.functions.multimodal import (
    attach_payload,
    extract_payload_features,
)
from airflow_etl_minio_to_postgres_spark.functions.similarity import (
    ann_topk_sign_lsh,
    topk_cosine,
)


# Expression-form references the Arrow band-key kernel and the grouped
# band-bucket kernels are pinned against (no package callers).


def _projection_sql(vec_col: str, weights: list[float]) -> str:
    """Literal dot product as ``aggregate(zip_with(...))`` SQL text.

    Why THIS form and not an inlined ``w1*v[1] + w2*v[2] + ...`` chain:
    16 planes x 64 dims inlines to a ~4096-node expression that (a) costs
    seconds of py4j round-trips just to BUILD as Column objects, (b) fails
    Janino codegen outright (interpreted fallback after a long compile
    attempt), and (c) if any interpreted HOF sits upstream, projection
    collapse re-inlines it into every element access — the same trap as
    the round-2 minhash rewrite.  The HOF lambdas here are tiny, parse
    JVM-side in one call, and evaluate the input array once per plane.

    Determinism (the oracle contract): ``aggregate`` folds strictly left to
    right from 0.0, so the float sum order is fixed — the DuckDB oracle
    writes the identical left-associated chain and both engines produce
    bit-for-bit equal IEEE doubles.
    """
    ws = ", ".join(f"{w!r}D" for w in weights)
    return (
        f"aggregate(zip_with({vec_col}, array({ws}), "
        "(x, y) -> CAST(x AS DOUBLE) * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _first_match_cond(n_bands: int) -> Column:
    """Predicate keeping a banded candidate row only when NO band before
    the joined one also matched: for every prior band b', either the row
    came from band <= b' or the two sides' b' keys differ.  Band keys
    (``_bks_a`` / ``_bks_b`` arrays carried by the join sides) are
    ``concat``-built strings — never NULL — so plain != is exact."""
    cond = None
    for b_prior in range(n_bands - 1):
        c = (F.col("_band") <= F.lit(b_prior)) | (
            F.element_at(F.col("_bks_a"), b_prior + 1)
            != F.element_at(F.col("_bks_b"), b_prior + 1)
        )
        cond = c if cond is None else cond & c
    return cond if cond is not None else F.lit(True)


def hyperplane_band_keys_expr(
    vec_col: str, planes: list[list[float]], n_bands: int
) -> Column:
    """Array of ``n_bands`` LSH band keys; each key is the band index plus
    the sign bits of ``len(planes)/n_bands`` random-hyperplane projections.
    Multi-band = minhash-style OR-amplification: near-identical vectors
    (tiny angle) agree on ALL bits of at least one band almost surely.

    ``vec_col`` is a column NAME (the keys are built as one SQL string —
    see :func:`_projection_sql` for why)."""
    per_band = len(planes) // n_bands
    keys = []
    for band in range(n_bands):
        bits = ", ".join(
            f"CASE WHEN ({_projection_sql(vec_col, p)}) >= 0 "
            "THEN '1' ELSE '0' END"
            for p in planes[band * per_band : (band + 1) * per_band]
        )
        keys.append(f"concat('{band}|', {bits})")
    return F.expr("array(" + ", ".join(keys) + ")")


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_keeps_min_id(spark):
    df = _docs(spark, [(1, "same text"), (2, "same text"), (3, "other")])
    groups = {r["keep_id"]: r["n_docs"] for r in exact_dedup_groups(df).collect()}
    assert groups == {1: 2, 3: 1}
    kept = sorted(r["doc_id"] for r in drop_exact_dups(df).collect())
    assert kept == [1, 3]


def test_near_dup_finds_planted_pair(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = base + " extra"
    other = "completely different words about spark partitions and shuffle joins"
    df = _docs(spark, [(1, base), (2, near), (3, other)])
    pairs = near_dup_pairs(df).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] > 0.8


def test_near_dup_skips_short_docs(spark):
    df = _docs(spark, [(1, "too short"), (2, "too short")])
    assert near_dup_pairs(df).count() == 0


def test_simhash_deterministic_and_close_for_near_dups(spark):
    df = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "totally unrelated content here now"),
        ],
    )
    out = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert out[1] == out[2]  # identical text -> identical simhash
    assert out[1] != out[3]
    assert 0 <= out[1] < (1 << 60)


def test_topk_cosine_self_similar(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),   # identical direction -> cosine 1
        (2, [0.0, 1.0, 0.0]),   # orthogonal -> cosine 0
        (3, [-1.0, 0.0, 0.0]),  # opposite -> cosine -1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [(r["vec_id"], round(r["cosine"], 6)) for r in topk_cosine(df, 0, k=3).collect()]
    assert got == [(1, 1.0), (2, 0.0), (3, -1.0)]


def test_ann_lsh_prunes_to_bucket(spark):
    rows = [
        (0, [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
        (1, [2.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),   # same sign bucket
        (2, [-1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),  # different bucket
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [r["vec_id"] for r in ann_topk_sign_lsh(df, 0, k=5, n_bits=8).collect()]
    assert got == [1]  # vec 2 pruned by its bucket


def test_multimodal_features_deterministic(spark):
    df = _docs(spark, [(1, "abc"), (2, "héllo")])
    feats = {
        r["doc_id"]: r
        for r in extract_payload_features(attach_payload(df)).collect()
    }
    assert feats[1]["n_bytes"] == 3
    assert feats[2]["n_bytes"] == 6  # é is 2 UTF-8 bytes
    assert feats[1]["payload_sha16"] == "ba7816bf8f01cfea"  # sha256('abc')[:16]
    assert feats[1]["width"] == 3 and feats[1]["height"] == 21


def test_simhash_near_dup_pairs_planted(spark):
    from airflow_etl_minio_to_postgres_spark.functions.dedup import (
        simhash_near_dup_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = _docs(
        spark,
        [
            (1, base),
            (2, base),  # identical -> hamming 0, band collision guaranteed
            (3, "utterly different text with other tokens entirely present"),
        ],
    )
    pairs = simhash_near_dup_pairs(df, max_hamming=3).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs] == [(1, 2, 0)]


def test_sample_frame_offsets_fanout(spark):
    from airflow_etl_minio_to_postgres_spark.functions.multimodal import (
        attach_payload,
        sample_frame_offsets,
    )

    df = _docs(spark, [(1, "x" * 100)])
    rows = sorted(
        (r["frame_index"], r["frame_offset_bytes"])
        for r in sample_frame_offsets(attach_payload(df), num_frames=4).collect()
    )
    assert rows == [(0, 0), (1, 25), (2, 50), (3, 75)]


def test_json_props_null_and_nonnumeric_rows(spark):
    """Pin the semi-structured extraction semantics before the corpus ever
    grows a weird row (VERDICT r2 #4): absent '$.k' and non-numeric 'k'
    both become NULL under get_json_object(...).try_cast('long'), and
    sum() skips NULLs.  A plain cast would ERROR under Spark 4's default
    ANSI mode — same failure DuckDB's strict ::BIGINT has — so both
    engine and oracle must use their try-cast form on dirty data."""
    rows = [
        ("a", '{"k": 3}'),
        ("a", '{"k": "4"}'),       # numeric-in-string still counts
        ("a", '{"other": 1}'),     # absent key -> NULL
        ("a", '{"k": "x"}'),       # non-numeric -> NULL, not an error
        ("a", None),               # NULL document
        ("b", '{"k": 10}'),
    ]
    df = spark.createDataFrame(rows, ["event_type", "props"])
    out = {
        r["event_type"]: (r["sum_k"], r["n"])
        for r in df.groupBy("event_type")
        .agg(
            F.sum(
                F.get_json_object("props", "$.k").try_cast("long")
            ).alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert out == {"a": (7, 5), "b": (10, 1)}

    import duckdb

    con = duckdb.connect()
    got = con.execute(
        """
        SELECT event_type,
               CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               count(*) AS n
        FROM (VALUES ('a','{"k": 3}'), ('a','{"k": "4"}'),
                     ('a','{"other": 1}'), ('a','{"k": "x"}'),
                     ('a', NULL), ('b','{"k": 10}')) t(event_type, props)
        GROUP BY event_type ORDER BY event_type
        """
    ).fetchall()
    assert got == [("a", 7, 5), ("b", 10, 1)]


def test_frame_offset_forms_agree(spark):
    """The mapInPandas demo and the pure-JVM explode form must never
    drift — same rows, same values, both fan-out shapes."""
    from airflow_etl_minio_to_postgres_spark.functions.multimodal import (
        attach_payload,
        sample_frame_offsets,
        sample_frame_offsets_expr,
    )

    docs = spark.createDataFrame(
        [(1, "abc"), (2, "a much longer document body here"), (3, "xy")],
        ["doc_id", "text"],
    )
    payloads = attach_payload(docs)
    a = sorted(tuple(r) for r in sample_frame_offsets(payloads).collect())
    b = sorted(tuple(r) for r in sample_frame_offsets_expr(payloads).collect())
    assert a == b
    assert len(a) == 12  # 3 docs x 4 frames


def test_hyperplane_buckets_balanced_on_anisotropic_data(spark):
    """The r2 VERDICT #5 failure mode: on an anisotropic corpus (every
    component positive — realistic for post-ReLU embeddings) axis-aligned
    sign bits put ALL vectors in one bucket (n^2 blowup); seeded random
    hyperplanes keep per-band buckets near corpus/2^bits."""
    import numpy as np

    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        add_sign_bucket,
        hyperplanes,
    )

    rng = np.random.default_rng(7)
    n, dim = 256, 16
    rows = [
        (int(i), [float(x) for x in np.abs(rng.standard_normal(dim))])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    axis = add_sign_bucket(df, "embedding", n_bits=8).groupBy("bucket").count()
    assert axis.count() == 1  # the hot-bucket collapse

    planes = hyperplanes(dim, 16, seed=42)
    banded = df.select(
        F.explode(
            hyperplane_band_keys_expr("embedding", planes, 4)
        ).alias("band_key")
    )
    sizes = [r["count"] for r in banded.groupBy("band_key").count().collect()]
    # Worst bucket is bounded well below the corpus (vs == corpus above).
    # Residual imbalance remains on one-sided data — w·|x| is biased toward
    # sign(sum(w)) — but candidate cost is sum(sizes^2): collapse is n^2,
    # this stays O(n^2 * const < 1) and shrinks with more bits per band.
    assert max(sizes) <= 0.6 * n
    assert len(sizes) > 16


def test_embedding_near_dup_recall_on_planted_pair(spark):
    """Near-identical vectors must still collide in some band after the
    hyperplane change (OR-amplification recall check)."""
    import numpy as np

    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(3)
    dim = 16
    base = rng.standard_normal(dim)
    near = base.copy()
    near[0] += 0.01
    far = rng.standard_normal(dim)
    df = spark.createDataFrame(
        [
            (0, [float(x) for x in base]),
            (1, [float(x) for x in near]),
            (2, [float(x) for x in far]),
        ],
        "vec_id long, embedding array<double>",
    )
    got = [
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(df, dim=dim, threshold=0.99).collect()
    ]
    assert got == [(0, 1)]


def test_pack_sequences_budget_and_offsets(spark):
    from airflow_etl_minio_to_postgres_spark.functions.text import (
        pack_sequences,
    )

    df = spark.createDataFrame(
        [(i, "s", "w " * 40) for i in range(10)],  # 40 words after trim
        ["doc_id", "source", "text"],
    )
    rows = pack_sequences(df, budget=100).collect()
    assert len(rows) == 10
    by_pack = {}
    for r in rows:
        assert r["n_tokens"] == 40
        assert 0 <= r["pack_offset"] < 100
        by_pack.setdefault(r["pack_id"], []).append(r)
    # starts at 0,40,...,360 -> floor(start/100) gives packs 0..3 with
    # 3/2/3/2 docs regardless of which doc the hash order puts where
    assert set(by_pack) == {0, 1, 2, 3}
    assert sorted(len(v) for v in by_pack.values()) == [2, 2, 3, 3]
    # deterministic: same assignment on re-run
    again = pack_sequences(df, budget=100).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_rate_sample_deterministic_and_boundary(spark):
    from pyspark.sql import functions as SF

    from airflow_etl_minio_to_postgres_spark.functions.text import rate_sample

    df = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    a = {r["doc_id"] for r in rate_sample(df, SF.lit(0.5)).collect()}
    b = {r["doc_id"] for r in rate_sample(df, SF.lit(0.5)).collect()}
    assert a == b  # same ids every run — function of the id, not RNG state
    assert 60 <= len(a) <= 140  # ~binomial(200, .5)
    assert rate_sample(df, SF.lit(1.0)).count() == 200
    assert rate_sample(df, SF.lit(0.0)).count() == 0
    # a different salt draws a different (still deterministic) sample
    c = {r["doc_id"] for r in rate_sample(df, SF.lit(0.5), salt="other").collect()}
    assert c != a


def test_repetition_signals_hand_values(spark):
    from airflow_etl_minio_to_postgres_spark.functions.text import (
        repetition_signals,
    )

    df = spark.createDataFrame(
        [
            (1, "a a b"),      # top 2/3; bigrams [a a, a b] all distinct
            (2, "x x x x"),    # top 1.0; bigrams 3, distinct 1; trigrams 2, distinct 1
            (3, "q"),          # single word: both gram fracs 0.0
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert got[1]["n_words"] == 3
    assert abs(got[1]["top_word_frac"] - 2 / 3) < 1e-12
    assert got[1]["dup_2gram_frac"] == 0.0
    assert got[2]["top_word_frac"] == 1.0
    assert abs(got[2]["dup_2gram_frac"] - 2 / 3) < 1e-12
    assert got[2]["dup_3gram_frac"] == 0.5
    assert got[3]["n_words"] == 1
    assert got[3]["dup_2gram_frac"] == 0.0
    assert got[3]["dup_3gram_frac"] == 0.0


def test_knn_join_ranks_band_candidates(spark):
    """Every vector gets its cosine-ranked top-k among band candidates;
    ranks are dense from 1 and capped at k; knn is asymmetric (both
    directions of each candidate pair are ranked independently)."""
    import numpy as np

    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        knn_join,
    )

    rng = np.random.default_rng(7)
    dim = 16
    base = rng.standard_normal(dim)
    rows = [(0, [float(x) for x in base])]
    for i in range(1, 4):  # three perturbed copies — all near-identical
        v = base.copy()
        v[0] += 0.01 * i
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = knn_join(df, dim=dim, k=2).collect()
    by_query = {}
    for r in got:
        by_query.setdefault(r["vec_id"], []).append(r)
    # every vector found neighbors, ranked 1..2, cosine non-increasing
    assert set(by_query) == {0, 1, 2, 3}
    for q, rs in by_query.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == [1, 2]
        ordered = sorted(rs, key=lambda r: r["rank"])
        assert ordered[0]["cosine"] >= ordered[1]["cosine"]
        assert all(r["neighbor_id"] != q for r in rs)


def test_ngram_jaccard_exact_value(spark):
    """Prefix-filtered set-similarity join returns the exact Jaccard:
    10-word docs differing in one word share 7 of 9 distinct 3-grams."""
    from airflow_etl_minio_to_postgres_spark.functions.dedup import (
        ngram_jaccard_pairs,
    )

    df = _docs(
        spark,
        [
            (1, "a b c d e f g h i j"),
            (2, "a b c d e f g h i k"),
            (3, "q r s t u v w x y z"),
        ],
    )
    got = [
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
    ]
    assert got == [(1, 2, round(7 / 9, 6))]


def test_ngram_containment_catches_what_jaccard_misses(spark):
    """Doc 1 is a verbatim prefix of the much longer doc 2: containment
    (1 -> 2) is exactly 1.0 while Jaccard is only |A|/|B| — below any
    dedup threshold.  The directed pair must surface, the reverse
    direction must not, and unrelated doc 3 must stay out."""
    from airflow_etl_minio_to_postgres_spark.functions.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    contained = "a b c d e f"                       # 4 distinct 3-grams
    container = contained + " g h i j k l m n o p"  # 14 3-grams, superset
    df = _docs(
        spark,
        [(1, contained), (2, container), (3, "q r s t u v w x y z")],
    )
    got = [
        (r["id_a"], r["id_b"], round(r["containment"], 6))
        for r in ngram_containment_pairs(df, n=3, threshold=0.9).collect()
    ]
    assert got == [(1, 2, 1.0)]
    # the symmetric join genuinely misses it: J = 4/14 < 0.5
    assert ngram_jaccard_pairs(df, n=3, threshold=0.5).count() == 0


def test_char_ngrams_unit(spark):
    from airflow_etl_minio_to_postgres_spark.functions.dedup import char_ngrams

    df = _docs(spark, [(1, "ABAB")])
    grams = sorted(r["gram"] for r in char_ngrams(df, n=2).collect())
    assert grams == ["ab", "ba"]  # lowercased, distinct


def test_training_prep_funnel_stages(spark):
    """Every funnel stage demonstrably acts: low-quality dropped, exact
    dup dropped, near-dup (lower id survives) dropped, cap enforced."""
    from airflow_etl_minio_to_postgres_spark.plans.training_prep import (
        prepare_training_corpus,
    )

    good = (
        "the quick brown fox jumps over the lazy dog and then the bird "
        "sees the river bank where the sun is warm and the grass is tall "
        "for a while in the morning with the wind and the trees"
    )
    rows = [
        (1, "s1", "en", good),
        (2, "s1", "en", good),                   # exact dup of 1 -> dropped
        (3, "s1", "en", good + " extra"),        # near dup of 1 -> dropped
        (4, "s1", "en", "!!! ??? !!!"),          # low quality -> dropped
        (5, "s2", "en", good.replace("fox", "cat")),
        (6, "s2", "en", good.replace("fox", "owl").replace("dog", "hen")
                            .replace("bird", "bee").replace("river", "lake")
                            .replace("sun", "moon").replace("grass", "moss")
                            .replace("wind", "rain").replace("trees", "hills")
                            .replace("morning", "evening")),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "lang", "text"])
    got = sorted(
        r["doc_id"]
        for r in prepare_training_corpus(
            df, quality_min=0.35, jaccard_threshold=0.6, cap_per_source=1
        ).collect()
    )
    # doc 1 survives its dups; s2's cap=1 keeps exactly one of {5, 6}
    assert 1 in got and len([g for g in got if g in (5, 6)]) == 1
    assert 2 not in got and 3 not in got and 4 not in got


def test_training_prep_persists_survivor_funnel(spark):
    """r17: the funnel's survivor set is a tracked persist boundary — the
    quality/lang/exact-dedup(/decontam) funnel must run once per corpus,
    not once per downstream consumer (gram build + anti-join).  Pin the
    InMemoryRelation in the final plan and that release_caches() frees it
    (i.e. it is tracked like the gram cache, never leaked)."""
    from airflow_etl_minio_to_postgres_spark.functions.dedup import (
        release_caches,
    )
    from airflow_etl_minio_to_postgres_spark.plans.training_prep import (
        prepare_training_corpus,
    )

    release_caches()  # isolate the count below from other tests' caches
    good = (
        "the quick brown fox jumps over the lazy dog and then the bird "
        "sees the river bank where the sun is warm for a while"
    )
    rows = [(i, "s1", "en", good + f" tail{i}") for i in range(1, 5)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "lang", "text"])

    out = prepare_training_corpus(df, jaccard_threshold=0.99)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan
    out.collect()
    # survivor persist + gram-cache persist are both tracked: plain funnel
    # releases exactly 2; nothing stays pinned after release.
    assert release_caches() == 2

    bench = spark.createDataFrame(
        [(100, "s1", "en", "completely unrelated benchmark words here")],
        ["doc_id", "source", "lang", "text"],
    )
    out2 = prepare_training_corpus(df, benchmark=bench, jaccard_threshold=0.99)
    out2.collect()
    # decontaminated funnel adds the pre-screen persist: 3 tracked handles
    # (pre-decontam survivors, post-decontam survivors, gram cache).
    assert release_caches() == 3


def test_ivf_knn_join_matches_expression_reference(spark):
    """r18: the cogrouped per-cell top-k kernel must reproduce the
    retired join+window form EXACTLY — including dirty rows: NULL
    vectors, ragged/wrong-dimension vectors (NULL cosine, ranked last),
    zero-norm vectors (NULL-degrade), exclude_self, and ties broken by
    id.  The reference here is built from the expression primitives the
    kernel's cosines are contractually bit-identical to (ivf_assign +
    cosine_expr + the (cosine desc, id) window)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        ivf_assign,
        ivf_knn_join,
    )
    from tests.oracle import cosine_expr

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.9, 0.1]),
        (4, None),                # NULL vector
        (5, [0.0, 0.0]),          # wrong dim -> NULL cosine vs 3-dim
        (6, [0.0, 0.0, 0.0]),     # zero norm -> NULL cosine
        (7, [1.0, 0.0, 0.0]),     # exact tie with 0 -> id tiebreak
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "cid long, cvec array<double>",
    )
    qs = emb.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    for nprobe, k, excl in [(1, 3, False), (2, 4, True), (2, 99, False)]:
        got = ivf_knn_join(
            qs, emb, cents, k=k, nprobe=nprobe, exclude_self=excl
        )
        # reference: the retired assignment-join + pair cosine + window
        corpus_cells = ivf_assign(emb, cents)
        probe_cells = ivf_assign(qs, cents, "qid", "qvec", nprobe=nprobe)
        scored = (
            emb.join(corpus_cells, "vec_id")
            .join(probe_cells.join(qs, "qid"), "cid")
            .select(
                "qid",
                "vec_id",
                cosine_expr(F.col("embedding"), F.col("qvec")).alias(
                    "cosine"
                ),
            )
        )
        if excl:
            scored = scored.where(F.col("vec_id") != F.col("qid"))
        w = Window.partitionBy("qid").orderBy(
            F.col("cosine").desc(), F.col("vec_id")
        )
        ref = (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k)
            .drop("_rn")
        )
        assert got.exceptAll(ref).count() == 0, (nprobe, k, excl)
        assert ref.exceptAll(got).count() == 0, (nprobe, k, excl)


def test_hyperplane_band_keys_arrow_matches_expr(spark):
    """r18: the Arrow band-key kernel must produce EXACTLY the
    expression form's keys on adversarial rows — NULL vector, wrong
    dimension, NULL element inside the array (null poisons the SQL fold
    -> '0' bits), NaN element (Spark compares NaN >= 0 as true -> '1'
    bits), +/-Inf, zero vector, and boundary-sign projections."""
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        hyperplane_band_keys_arrow,
        hyperplanes,
    )

    rows = [
        (0, [1.0, 2.0, -3.0, 0.5]),
        (1, None),
        (2, [1.0, 2.0]),                          # wrong dim
        (3, [0.0, 0.0, 0.0, 0.0]),
        (4, [1.0, None, 2.0, 3.0]),               # NULL element
        (5, [float("nan"), 1.0, 1.0, 1.0]),       # NaN element
        (6, [float("inf"), 1.0, 1.0, 1.0]),
        (7, [float("-inf"), 1.0, 1.0, 1.0]),
        (8, [-1.0, -2.0, 3.0, -0.5]),
        (9, [1.0, 2.0, -3.0, 0.5, 9.0]),          # too long
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = hyperplanes(4, 12, seed=7)
    got = df.select(
        "vec_id",
        hyperplane_band_keys_arrow(F.col("embedding"), planes, 3).alias(
            "k"
        ),
    ).collect()
    ref = df.select(
        "vec_id",
        hyperplane_band_keys_expr("embedding", planes, 3).alias("k"),
    ).collect()
    got_m = {r["vec_id"]: list(r["k"]) for r in got}
    ref_m = {r["vec_id"]: list(r["k"]) for r in ref}
    assert got_m == ref_m


def test_banded_pair_kernel_matches_join_reference(spark):
    """r18: the grouped band-bucket kernels (embedding_near_dup_pairs /
    knn_join) must reproduce the retired band-join + first-match +
    verification-join shape EXACTLY, including dirty rows (NULL vector,
    wrong dimension, zero norm) and cosine doubles.  Reference built
    from the same public pieces the old shape used."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.dedup import (
        release_caches,
    )
    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        embedding_near_dup_pairs,
        hyperplanes,
        knn_join,
    )
    from tests.oracle import cosine_expr

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.001, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.999, 0.001, 0.0]),   # near-dup of 2
        (4, None),                        # NULL vector
        (5, [0.0, 0.0]),                  # wrong dim
        (6, [0.0, 0.0, 0.0, 0.0]),        # zero norm
        (7, [1.0, 0.0, 0.0, 0.0]),        # exact dup of 0
        (8, [-1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    dim, n_bands, bits = 4, 3, 4
    got_pairs = embedding_near_dup_pairs(
        df, dim=dim, threshold=0.9, n_bands=n_bands, bits_per_band=bits
    )
    got_knn = knn_join(df, dim=dim, k=2, n_bands=n_bands, bits_per_band=bits)

    # reference: retired shape from public pieces
    planes = hyperplanes(dim, n_bands * bits, 42)
    b = df.select(
        "vec_id",
        hyperplane_band_keys_expr("embedding", planes, n_bands).alias(
            "_bks"
        ),
    ).select("vec_id", "_bks", F.posexplode("_bks").alias("_band", "band_key"))
    cand = (
        b.select(
            F.col("vec_id").alias("id_a"),
            F.col("_bks").alias("_bks_a"),
            "_band",
            "band_key",
        )
        .join(
            b.select(
                F.col("vec_id").alias("id_b"),
                F.col("_bks").alias("_bks_b"),
                "band_key",
            ),
            on="band_key",
        )
        .where(_first_match_cond(n_bands))
    )
    vecs_a = df.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a")
    )
    vecs_b = df.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b")
    )
    ref_pairs = (
        cand.where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .join(vecs_a, "id_a")
        .join(vecs_b, "id_b")
        .withColumn("cosine", cosine_expr(F.col("v_a"), F.col("v_b")))
        .where(F.col("cosine") >= 0.9)
        .select("id_a", "id_b", "cosine")
    )
    assert got_pairs.exceptAll(ref_pairs).count() == 0
    assert ref_pairs.exceptAll(got_pairs).count() == 0

    ref_scored = (
        cand.where(F.col("id_a") != F.col("id_b"))
        .select(F.col("id_a").alias("_qid"), F.col("id_b").alias("_nid"))
        .join(vecs_a.withColumnRenamed("id_a", "_qid").withColumnRenamed("v_a", "_qv"), "_qid")
        .join(vecs_b.withColumnRenamed("id_b", "_nid").withColumnRenamed("v_b", "_nv"), "_nid")
        .select(
            "_qid",
            "_nid",
            cosine_expr(F.col("_qv"), F.col("_nv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("_qid").orderBy(
        F.col("cosine").desc(), F.col("_nid")
    )
    ref_knn = (
        ref_scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 2)
        .select(
            F.col("_qid").alias("vec_id"),
            F.col("_nid").alias("neighbor_id"),
            "cosine",
            "rank",
        )
    )
    assert got_knn.exceptAll(ref_knn).count() == 0
    assert ref_knn.exceptAll(got_knn).count() == 0
    release_caches()


def test_quality_lang_pred_cse_parity_and_plan(spark):
    """r18: the funnel admission predicate's CSE-bound form
    (quality_lang_pred_expr) must decide EXACTLY like the reference
    ``quality_score_expr >= min AND lang_id_expr == lang`` on adversarial
    rows (NULL text, empty, whitespace-only, punct-only, language-score
    ties, short/long), and its filter plan must carry exactly ONE
    split(lower(trim())) chain instead of the reference's ~15."""
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.text import (
        lang_id_expr,
        quality_lang_pred_expr,
        quality_score_expr,
    )

    # No empty-string row: punct_ratio's length(lower(text)) denominator
    # is 0 there, so BOTH forms raise DIVIDE_BY_ZERO under ANSI — equal
    # behavior, but not collectable.  (Oracle corpora carry no empty
    # texts; the degrade policy for them predates this round.)
    rows = [
        (1, None),
        (2, "."),
        (3, "   \t  "),
        (4, "!!! ??? !!!"),
        (5, "the der le"),          # three-way stop-ratio tie
        (6, "der die das und ist ein zu den mit von"),
        (7, "le la et les des un une est que pour"),
        (8, "the " * 60 + "fox"),
        (9, "the quick brown fox is in the den of a le"),
        (10, "zzz qqq vvv"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for qmin, lang in [(0.35, "en"), (0.0, "de"), (0.5, "fr")]:
        ref = df.where(
            (quality_score_expr(F.col("text")) >= F.lit(qmin))
            & (lang_id_expr(F.col("text")) == F.lit(lang))
        )
        got = df.where(quality_lang_pred_expr(F.col("text"), qmin, lang))
        assert sorted(r.doc_id for r in got.collect()) == sorted(
            r.doc_id for r in ref.collect()
        ), (qmin, lang)
    bound = df.where(quality_lang_pred_expr(F.col("text"), 0.35, "en"))
    plan = bound._jdf.queryExecution().executedPlan().toString()
    assert plan.count("split(") == 1, plan


def test_cross_doc_spans_catch_what_jaccard_and_containment_miss(spark):
    """Two LONG documents share one 12-token boilerplate paragraph and
    nothing else: their gram-set Jaccard AND both containment directions
    sit near zero (the shared passage is a sliver of each doc), yet the
    passage is exactly the corpus-level duplication Lee et al.-style
    substring dedup must flag — and strip, keeping the surrounding
    text."""
    from airflow_etl_minio_to_postgres_spark.functions.dedup import (
        cross_doc_spans,
        ngram_containment_pairs,
        ngram_jaccard_pairs,
        strip_cross_doc_spans,
    )

    boiler = (
        "this software is provided as is without warranty of any kind express"
    )  # 12 tokens
    body_a = " ".join(f"alpha{i}" for i in range(60))
    body_b = " ".join(f"beta{i}" for i in range(60))
    df = _docs(
        spark,
        [
            (1, body_a + " " + boiler),
            (2, boiler + " " + body_b),
            (3, "gamma only tokens here nothing shared with anyone at all"),
        ],
    )
    # both set-similarity joins genuinely miss the pair
    assert ngram_jaccard_pairs(df, n=3, threshold=0.5).count() == 0
    assert ngram_containment_pairs(df, n=3, threshold=0.5).count() == 0

    spans = {
        r["doc_id"]: r
        for r in cross_doc_spans(df, k=8, min_docs=2).collect()
    }
    assert set(spans) == {1, 2}
    for doc_id, start in ((1, 60), (2, 0)):
        assert spans[doc_id]["span_start"] == start
        assert spans[doc_id]["span_tokens"] == 12
        assert spans[doc_id]["span_text"] == boiler

    stripped = {
        r["doc_id"]: r
        for r in strip_cross_doc_spans(df, k=8, min_docs=2).collect()
    }
    assert stripped[1]["clean_text"] == body_a
    assert stripped[1]["tokens_removed"] == 12
    assert stripped[2]["clean_text"] == body_b
    assert stripped[2]["tokens_removed"] == 12
    assert stripped[3]["tokens_removed"] == 0


def test_cross_doc_spans_merge_overlapping_and_adjacent(spark):
    """Three docs share a 10-token passage; gram starts 0..2 (k=8)
    overlap pairwise and must merge into ONE maximal span per doc, not
    three 8-token spans."""
    from airflow_etl_minio_to_postgres_spark.functions.dedup import (
        cross_doc_spans,
    )

    passage = "one two three four five six seven eight nine ten"  # 10 tokens
    rows = [(i, passage + " " + " ".join(f"u{i}x{j}" for j in range(20)))
            for i in (1, 2, 3)]
    out = cross_doc_spans(_docs(spark, rows), k=8, min_docs=3).collect()
    assert len(out) == 3
    for r in out:
        assert (r["span_start"], r["span_tokens"], r["span_text"]) == (
            0, 10, passage,
        )


def test_semantic_dedup_drops_near_identical_keeps_distinct(spark):
    """SemDeDup: a near-identical copy (cosine ~1 to vec 0) is dropped in
    favor of the min id; an orthogonal vector survives; determinism
    across partition layouts."""
    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        semantic_dedup,
    )

    rows = [
        # ids 0 and 1 double as the two cell centroids (stub policy)
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0, 0.0]),   # near-dup of 0 -> dropped
        (3, [0.001, 0.97, 0.03, 0.0]),   # near-dup of 1 -> dropped
        (4, [0.7, 0.7, 0.0, 0.0]),       # 45 deg off both -> kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        r.vec_id
        for r in semantic_dedup(df, threshold=0.95, n_cells=2).collect()
    )
    assert got == [0, 1, 4]
    got_re = sorted(
        r.vec_id
        for r in semantic_dedup(
            df.repartition(5), threshold=0.95, n_cells=2
        ).collect()
    )
    assert got_re == [0, 1, 4]


def test_kmv_distinct_exact_below_k_and_close_above(spark):
    """KMV: groups under k report exactly; a 500-distinct group's
    estimate lands within the sketch's expected relative error
    (~1/sqrt(k-2) ~ 18% at k=32), and the result is partition-layout
    independent (deterministic hash)."""
    from airflow_etl_minio_to_postgres_spark.functions.sketch import (
        kmv_distinct,
    )

    rows = [("small", v) for v in range(5)] + [
        ("big", v) for v in range(500)
    ] * 2  # duplicates must not inflate the estimate
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r.g: r for r in kmv_distinct(df, "g", "v", k=32).collect()}
    assert got["small"].n_tracked == 5
    assert got["small"].est_distinct == 5.0
    assert got["big"].n_tracked == 32
    assert abs(got["big"].est_distinct - 500) / 500 < 0.5
    re_got = {
        r.g: r.est_distinct
        for r in kmv_distinct(df.repartition(7), "g", "v", k=32).collect()
    }
    assert re_got["big"] == got["big"].est_distinct


def test_kmv_distinct_ignores_null_values(spark):
    """NULL contract (round-10 judge queue): NULL values must not burn a
    sketch slot — without the ``isNotNull`` filter a NULL fraction sorts
    NULLS FIRST in Spark's window (vs NULLS LAST in SQL engines), making
    the estimate engine-dependent.  NULLs are excluded like
    ``count(DISTINCT x)`` excludes them; an all-NULL group yields no
    output row."""
    from airflow_etl_minio_to_postgres_spark.functions.sketch import (
        kmv_distinct,
    )

    clean = [("g", v) for v in range(40)]
    dirty = clean + [("g", None)] * 3 + [("only_nulls", None)] * 2
    got_clean = {
        r.g: r
        for r in kmv_distinct(
            spark.createDataFrame(clean, "g string, v string"), "g", "v"
        ).collect()
    }
    got_dirty = {
        r.g: r
        for r in kmv_distinct(
            spark.createDataFrame(dirty, "g string, v string"), "g", "v"
        ).collect()
    }
    assert "only_nulls" not in got_dirty
    assert got_dirty["g"].n_tracked == got_clean["g"].n_tracked == 32
    assert got_dirty["g"].est_distinct == got_clean["g"].est_distinct


def test_kmeans_centroids_beat_stub_cells_for_semantic_dedup(spark):
    """Quality comparison, kmeans vs the first-n-by-id stub: 3 planted
    clusters on orthogonal axes with deterministic sinusoidal noise and
    4 planted near-dup pairs.  The stub's centroids are ids 0-2 — all
    from cluster 0 — so cluster-2 assignment is noise-dominated and the
    (20, 120) pair splits across cells (the paper's recall edge);
    trained centroids keep every pair within one cell.  Fully
    deterministic: no RNG anywhere, assertions are exact."""
    import math

    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        kmeans_centroids,
        semantic_dedup,
    )

    DIM = 8
    rows = []
    for i in range(30):
        axis = i // 10
        v = [0.0] * DIM
        v[axis] = 1.0
        for d in range(DIM):
            v[d] += 0.5 * math.sin(3.7 * i + 1.3 * d)
        rows.append((i, v))
    planted = []
    for s in (4, 15, 20, 25):
        dup = list(rows[s][1])
        if s == 20:
            dup[1] -= 0.04  # flips the stub's noise-dominated argmax
        else:
            dup[(s + 1) % DIM] += 0.05
        rows.append((100 + s, dup))
        planted.append(100 + s)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    stub_ids = {
        r.vec_id
        for r in semantic_dedup(df, threshold=0.995, n_cells=3).collect()
    }
    km = kmeans_centroids(df, n_cells=3, n_iters=3, dim=DIM)
    km_ids = {
        r.vec_id
        for r in semantic_dedup(
            df, threshold=0.995, n_cells=3, centroids=km
        ).collect()
    }
    # trained cells catch every planted dup; the stub misses the
    # boundary-split pair (its dup survives as a false negative)
    assert not set(planted) & km_ids
    assert 120 in stub_ids
    assert not (set(planted) - {120}) & stub_ids
    # neither path drops a non-planted vector at this threshold
    assert {i for i, _ in rows[:30]} <= km_ids
    assert {i for i, _ in rows[:30]} <= stub_ids


def test_kmeans_centroids_bit_identical_across_partitionings(spark):
    """The determinism contract: exact bigint micro-unit mean updates
    make every centroid component bit-identical on any partition layout
    (double addition is not associative; integer addition is)."""
    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        kmeans_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = sorted(
        (r.cid, tuple(r.cvec), r.n_members)
        for r in kmeans_centroids(emb, n_cells=4, n_iters=2).collect()
    )
    b = sorted(
        (r.cid, tuple(r.cvec), r.n_members)
        for r in kmeans_centroids(
            emb.repartition(7), n_cells=4, n_iters=2
        ).collect()
    )
    assert a == b  # exact equality, no tolerance


def test_image_ahash_catches_brightness_shift_misses_distinct(spark):
    """Near-dup-image fixture: a uniformly intensity-shifted copy of a
    payload (every 'pixel' byte +16 — a brightness change / re-encode)
    keeps a near-identical mean-relative aHash and is caught by the
    banded pair join, while content-hash equality misses it and a
    genuinely different payload stays unmatched."""
    from airflow_etl_minio_to_postgres_spark.functions.multimodal import (
        add_image_ahash,
        ahash_near_dup_pairs,
    )

    base = bytes(((i * 37) % 200) for i in range(256))          # "image" A
    shifted = bytes(b + 16 for b in base)                       # A, brighter
    other = bytes(((i * 91) % 251) for i in range(256))         # unrelated B
    df = spark.createDataFrame(
        [(1, base), (2, shifted), (3, other)],
        "doc_id long, payload binary",
    )
    hashed = add_image_ahash(df)
    hs = {r.doc_id: r.ahash for r in hashed.collect()}
    assert len(hs[1]) == 64 and set(hs[1]) <= {"0", "1"}
    # exact content hash differs — byte-level dedup is blind here
    assert base != shifted
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in ahash_near_dup_pairs(hashed, max_hamming=7).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 2
    assert not any(3 in p for p in pairs)
    # degenerate payload contract: all samples equal the mean, and the
    # inclusive >= threshold yields all ones — deterministic, no crash
    empty = add_image_ahash(
        spark.createDataFrame([(9, b"")], "doc_id long, payload binary")
    ).collect()[0]
    assert empty.ahash == "1" * 64


def test_salted_band_sides_bounds_hot_buckets_exactly_once(spark):
    """The shared skew mechanism (functions/dedup.py salted_band_sides):
    a 200-row hot bucket is split into salted sub-groups whose LEFT side
    is bounded (~cap per group), the self-join still produces every
    in-bucket pair EXACTLY once, and cold buckets pass through
    untouched."""
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.dedup import (
        salted_band_sides,
    )

    rows = [(i, "hot") for i in range(200)]
    rows += [(1000 + i, f"cold{i}") for i in range(10)]
    fan = spark.createDataFrame(rows, "doc_id long, band_key string")
    a, b, keys = salted_band_sides(fan, "doc_id", "band_key", 16)
    assert keys == ["band_key", "_salt"]
    # left-side group bound: cap plus hash-unevenness slack
    max_a = (
        a.groupBy(*keys).count().agg(F.max("count")).first()[0]
    )
    assert max_a <= 32
    pairs = (
        a.select(F.col("doc_id").alias("id_a"), *keys)
        .join(b.select(F.col("doc_id").alias("id_b"), *keys), keys)
        .where(F.col("id_a") < F.col("id_b"))
    )
    got = [tuple(r) for r in pairs.select("id_a", "id_b").collect()]
    assert len(got) == len(set(got)) == 200 * 199 // 2  # exactly once

    # identity path: no cap -> untouched fan, bare key
    a0, b0, k0 = salted_band_sides(fan, "doc_id", "band_key", None)
    assert a0 is fan and b0 is fan and k0 == ["band_key"]

    # nonsensical cap fails loudly, not with a zero-salt divide
    import pytest

    with pytest.raises(ValueError, match="max_bucket_size"):
        salted_band_sides(fan, "doc_id", "band_key", 0)


def test_ahash_and_simhash_salted_results_bit_identical(spark):
    """max_bucket_size changes task-level distribution ONLY: on a
    low-entropy fixture (120 identical payloads — every band bucket
    hot) the salted aHash pair join returns the identical pair set,
    including all m(m-1)/2 hamming-0 pairs.  SimHash has no salting
    knob; its pair join is always the unsalted one."""
    from airflow_etl_minio_to_postgres_spark.functions.multimodal import (
        add_image_ahash,
        ahash_near_dup_pairs,
    )

    m = 120
    rows = [(i, b"\x00" * 64) for i in range(m)]
    rows += [
        (1000 + i, bytes(((j * (i + 3) + 7 * i) % 251) for j in range(256)))
        for i in range(5)
    ]
    hashed = add_image_ahash(
        spark.createDataFrame(rows, "doc_id long, payload binary")
    )
    exact = sorted(
        tuple(r) for r in ahash_near_dup_pairs(hashed, max_hamming=7).collect()
    )
    salted = sorted(
        tuple(r)
        for r in ahash_near_dup_pairs(
            hashed, max_hamming=7, max_bucket_size=16
        ).collect()
    )
    assert exact == salted
    assert len([p for p in exact if p[2] == 0]) >= m * (m - 1) // 2


def test_image_ahash_large_payload_no_overflow(spark):
    """A payload past 2^31/(n_cells-1) bytes (~34 MB at 64 cells) must
    hash, not raise: the sample-index arithmetic is long math, so
    `c * length(payload)` can't hit 32-bit ANSI ARITHMETIC_OVERFLOW on
    real image/video-sized binaries (round-9 advisor finding).  Verified
    against the straight Python model, not just for absence of error."""
    from airflow_etl_minio_to_postgres_spark.functions.multimodal import (
        add_image_ahash,
    )

    n = 35_000_000  # > 2^31 / 63 ≈ 34.09 MB — overflows int32 at c=63
    payload = bytes((i % 251) for i in range(997)) * (n // 997 + 1)
    payload = payload[:n]
    df = spark.createDataFrame(
        [(1, payload)], "doc_id long, payload binary"
    )
    got = add_image_ahash(df).collect()[0].ahash
    samples = [payload[c * n // 64] for c in range(64)]
    mean = sum(samples) / 64.0
    want = "".join("1" if s >= mean else "0" for s in samples)
    assert got == want


def test_kmeans_centroids_edge_cases(spark):
    """n_cells larger than the corpus degrades to one centroid per
    vector; dim is inferred when omitted; an empty corpus fails loudly;
    a NULL vector, or one with a NULL element, neither seeds a cell, nor
    sizes the inferred dim, nor counts as a member."""
    import pytest

    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        kmeans_centroids,
    )

    schema = "vec_id long, embedding array<double>"
    df = spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.0, 1.0])], schema)
    got = kmeans_centroids(df, n_cells=5, n_iters=2).collect()
    assert len(got) == 2  # only as many cells as vectors exist
    assert sorted(r.n_members for r in got) == [1, 1]
    assert all(len(r.cvec) == 2 for r in got)  # dim inferred

    empty = spark.createDataFrame([], schema)
    with pytest.raises(ValueError, match="empty corpus"):
        kmeans_centroids(empty, n_cells=2, n_iters=1)

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0]), (3, [1.0, 1.0])], schema
    )
    got = kmeans_centroids(df, n_cells=4, dim=2).collect()
    assert len(got) == 3  # one cell per non-NULL vector
    assert sorted(r.n_members for r in got) == [1, 1, 1]
    assert sorted(tuple(r.cvec) for r in got) == [
        (0.0, 1.0), (1.0, 0.0), (1.0, 1.0)
    ]

    holed = spark.createDataFrame(
        [(0, None), (1, [None, 1.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])], schema
    )
    got = kmeans_centroids(holed, n_cells=4).collect()
    assert sorted(tuple(r.cvec) for r in got) == [(0.0, 1.0), (1.0, 0.0)]
    assert sorted(r.n_members for r in got) == [1, 1]


def test_temperature_mix_matches_python_model_and_flattens(spark):
    """temperature_mix == the straight Python model (exact counts,
    (n_min/n_g)^(1-alpha) rates rounded to 9 decimals, sha-uniform keep
    decision), and the kept mixture is flatter than the raw one: the
    smallest group keeps rate 1.0 while larger groups are damped."""
    import hashlib

    from airflow_etl_minio_to_postgres_spark.functions.text import (
        temperature_mix,
    )

    rows = [(i, "big") for i in range(400)]
    rows += [(1000 + i, "mid") for i in range(100)]
    rows += [(2000 + i, "small") for i in range(25)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    alpha = 0.5
    counts = {"big": 400, "mid": 100, "small": 25}
    nmin = 25
    rates = {
        g: round((nmin / n) ** (1.0 - alpha), 9) for g, n in counts.items()
    }

    def u(i: int) -> float:
        h = hashlib.sha256(f"temp:{i}".encode()).hexdigest()
        return int(h[:8], 16) / 4294967296.0

    expected = {
        (i, g) for (i, g) in rows if u(i) < rates[g]
    }
    got = {
        (r.doc_id, r.source)
        for r in temperature_mix(df, alpha=alpha).collect()
    }
    assert got == expected
    kept = {g: sum(1 for _, gg in got if gg == g) for g in counts}
    assert kept["small"] == 25  # smallest group fully retained
    # flattened: big/small ratio drops from 16x toward ~4x (sqrt)
    assert kept["big"] < 0.5 * counts["big"]


def test_ivf_topk_nprobe_all_cells_equals_brute_force(spark):
    """IVF serving recall contract: probing EVERY cell must recover the
    exact brute-force cosine top-k (banding can only hide candidates,
    never invent them), and nprobe=1 returns a subset drawn from the
    query's own cell."""
    from tests.conftest import SF_SMOKE

    from airflow_etl_minio_to_postgres_spark import queries as registry
    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        ivf_topk,
        topk_cosine,
    )

    e = registry.load_table(spark, "embeddings", SF_SMOKE)
    exact = [r.vec_id for r in topk_cosine(e, query_id=0, k=5).collect()]
    all_cells = [
        r.vec_id
        for r in ivf_topk(e, query_id=0, k=5, n_cells=8, nprobe=8).collect()
    ]
    assert all_cells == exact
    one_cell = ivf_topk(e, query_id=0, k=5, n_cells=8).collect()
    assert 0 < len(one_cell) <= 5


def test_semantic_dedup_nprobe_catches_boundary_pair(spark):
    """The SemDeDup cell-boundary recall edge and its mitigation: a
    near-identical pair whose members assign to DIFFERENT primary cells
    (each hugging one side of the boundary) is invisible at nprobe=1 —
    never compared — but meets in a shared flanking cell at nprobe=2
    and the higher id is dropped.  Survivors always carry their primary
    cell id."""
    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        semantic_dedup,
    )

    rows = [
        (0, [1.0, 0.0]),        # stub centroid of cell 0
        (1, [0.0, 1.0]),        # stub centroid of cell 1
        (10, [0.72, 0.70]),     # boundary pair, primary cell 0
        (11, [0.70, 0.72]),     # boundary pair, primary cell 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    p1 = {
        (r.vec_id, r.cid)
        for r in semantic_dedup(df, threshold=0.95, n_cells=2).collect()
    }
    # nprobe=1: the pair never shares a cell -> both survive
    assert {(10, 0), (11, 1)} <= p1

    p2 = {
        (r.vec_id, r.cid)
        for r in semantic_dedup(
            df, threshold=0.95, n_cells=2, nprobe=2
        ).collect()
    }
    assert (10, 0) in p2          # keeper, PRIMARY cell id
    assert not any(v == 11 for v, _ in p2)  # boundary dup dropped
    # centroids themselves: 0 and 1 are near-orthogonal, both survive
    assert {(0, 0), (1, 1)} <= p2


def test_semantic_dedup_trained_path_on_testdata(spark):
    """Integration guard for semantic_dedup(centroids=kmeans_centroids):
    on the real embeddings table the trained path must run end-to-end,
    keep the (id, cid) contract, cover every vector exactly once, and
    assign cids only from the trained cell set."""
    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        kmeans_centroids,
        semantic_dedup,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    cents = kmeans_centroids(emb, n_cells=4, n_iters=2, dim=64)
    out = semantic_dedup(emb, threshold=0.999, n_cells=4, centroids=cents)
    rows = out.collect()
    # at 0.999 on this corpus nothing is near-identical: all survive
    assert len(rows) == n
    assert len({r.vec_id for r in rows}) == n
    cids = {r.cid for r in cents.collect()}
    assert {r.cid for r in rows} <= cids


def test_ann_recall_at_k_contract(spark):
    """recall@k on hand-built result tables: exact fraction, queries with
    NO approx rows (empty probe cell) report 0.0 — never a dropped row —
    and extra approx rows beyond ground truth can't inflate past 1.0."""
    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        ann_recall_at_k,
    )

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (3, 30)],
        "qid long, vec_id long",
    )
    approx = spark.createDataFrame(
        # q1: 2/3 hit; q2: 0 hits but rows exist; q3: absent entirely
        [(1, 10), (1, 11), (1, 99), (2, 98), (2, 97)],
        "qid long, vec_id long",
    )
    got = {r.qid: r.recall for r in ann_recall_at_k(approx, exact, k=3).collect()}
    assert got == {1: 2 / 3, 2: 0.0, 3: 0.0}
    # |exact| < k: denominator is least(|exact|, k), so full overlap is 1.0
    got3 = {
        r.qid: r.recall
        for r in ann_recall_at_k(exact, exact, k=5).collect()
    }
    assert got3 == {1: 1.0, 2: 1.0, 3: 1.0}
    # duplicate (qid, id) rows in a malformed approx input must not fan
    # out the join and inflate recall — the metric is a SET comparison
    dup_approx = approx.union(approx)
    dup_exact = exact.union(exact)
    got_dup = {
        r.qid: r.recall
        for r in ann_recall_at_k(dup_approx, dup_exact, k=3).collect()
    }
    assert got_dup == {1: 2 / 3, 2: 0.0, 3: 0.0}


def test_bm25_topk_ranks_by_hand_computed_scores(spark):
    """BM25 on a 3-doc corpus against a Python reference: exact scores
    (same ln / same double folds), rank order, tie-break on doc id,
    docs without any query term absent, empty query rejected."""
    import math

    import pytest

    from airflow_etl_minio_to_postgres_spark.functions.text import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "spark spark join"),
            (2, "join window filter sort"),
            (3, "filter sort merge agg"),
        ],
        "doc_id long, text string",
    )
    k1, b = 1.2, 0.75
    docs = {
        1: ["spark", "spark", "join"],
        2: ["join", "window", "filter", "sort"],
        3: ["filter", "sort", "merge", "agg"],
    }
    N = 3
    avgdl = sum(len(w) for w in docs.values()) / N
    terms = ["spark", "join"]
    dfreq = {
        t: sum(1 for w in docs.values() if t in w) for t in terms
    }

    def score(doc_id):
        s = 0.0
        for t in terms:
            tf = docs[doc_id].count(t)
            if tf == 0:
                continue
            idf = math.log(
                1.0 + (N - dfreq[t] + 0.5) / (dfreq[t] + 0.5)
            )
            dl = len(docs[doc_id])
            s += idf * (
                tf * (k1 + 1.0)
                / (tf + k1 * (1.0 - b + b * dl / avgdl))
            )
        return s

    got = [(r.doc_id, r.score) for r in bm25_topk(df, terms, k=10).collect()]
    assert [d for d, _ in got] == [1, 2]  # doc 3 has no query term
    for d, s in got:
        assert s == pytest.approx(score(d), abs=1e-12)
    assert got[0][1] > got[1][1]

    with pytest.raises(ValueError, match="non-empty"):
        bm25_topk(df, [], k=3)


def test_bm25_indexed_matches_direct_and_prunes(spark, tmp_path):
    """Serving BM25 from the inverted index must be bit-identical to
    the direct path over the same corpus, the scan must carry
    term_bucket PartitionFilters (only the query's hash buckets are
    read), and the sidecar makes the index self-describing (n_buckets
    read from _stats, not guessed)."""
    import re

    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.text import (
        bm25_topk,
        bm25_topk_indexed,
        write_inverted_index,
    )

    df = spark.createDataFrame(
        [
            (i, f"spark join window filter doc{i} " + "pad " * (i % 5))
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "inv")
    write_inverted_index(df, path, n_buckets=16)

    terms = ["spark", "doc7"]
    direct = bm25_topk(df, terms, k=5).collect()
    served = bm25_topk_indexed(spark, path, terms, k=5)
    plan = (
        served._jdf.queryExecution().executedPlan().toString()
    )
    assert re.search(r"PartitionFilters: \[.*term_bucket#\d+ IN \(", plan), plan
    assert [tuple(r) for r in served.collect()] == [
        tuple(r) for r in direct
    ]


def test_rrf_fuse_hand_computed(spark):
    """RRF fusion on two hand-built ranked lists: exact 1/(60+rank)
    sums, an id present in only one list contributes 0 for the other,
    ranks break score ties on the id, and the empty-input contract."""
    import pytest

    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        rrf_fuse,
    )

    a = spark.createDataFrame(
        [(1, 9.0), (2, 5.0), (3, 5.0)], "doc_id long, score double"
    )  # ranks: 1->1, 2->2 (tie, smaller id first), 3->3
    b = spark.createDataFrame(
        [(3, 0.9), (4, 0.8)], "doc_id long, cosine double"
    )  # ranks: 3->1, 4->2
    got = {
        r.doc_id: r.rrf
        for r in rrf_fuse([(a, "score"), (b, "cosine")], k=10).collect()
    }
    assert got == {
        1: 1.0 / 61,
        2: 1.0 / 62,
        3: 1.0 / 63 + 1.0 / 61,
        4: 1.0 / 62,
    }
    # top-k cut honors (rrf desc, id): 3 first, then 1, then 2 before 4
    top = [r.doc_id for r in rrf_fuse([(a, "score"), (b, "cosine")], k=3).collect()]
    assert top == [3, 1, 2]

    with pytest.raises(ValueError, match="non-empty"):
        rrf_fuse([])


def test_bm25_batch_matches_indexed_per_query_and_prunes(spark, tmp_path):
    """The batched sparse serve must be bit-identical to
    bm25_topk_indexed run one query at a time (same pruned-df window,
    same sidecar stats, same tie-breaks), its ONE shared postings scan
    must carry term_bucket PartitionFilters for the UNION of all
    queries' buckets, and df must come from the postings BEFORE the
    query join (two queries sharing a term must not double its df)."""
    import re

    import pytest

    from airflow_etl_minio_to_postgres_spark.functions.text import (
        bm25_topk_batch,
        bm25_topk_indexed,
        write_inverted_index,
    )

    df = spark.createDataFrame(
        [
            (i, f"spark join window filter doc{i} " + "pad " * (i % 5))
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "inv_batch")
    write_inverted_index(df, path, n_buckets=16)

    # 'spark' appears in q1 AND q2: a post-join df would count it twice
    qsets = {10: ["spark", "doc7"], 20: ["spark", "filter"], 30: ["doc3"]}
    queries = spark.createDataFrame(
        [(q, ts) for q, ts in qsets.items()],
        "qid long, terms array<string>",
    )
    batch = bm25_topk_batch(spark, path, queries, k=5)
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[.*term_bucket#\d+ IN \(", plan), plan

    got = {
        q: [(r.doc_id, r.score) for r in rows]
        for q, rows in (
            (q, batch.where(batch.qid == q).orderBy(
                batch.score.desc(), "doc_id").collect())
            for q in qsets
        )
    }
    for q, terms in qsets.items():
        solo = [
            (r.doc_id, r.score)
            for r in bm25_topk_indexed(spark, path, terms, k=5).collect()
        ]
        assert got[q] == solo, f"qid={q}"

    with pytest.raises(ValueError, match="no terms"):
        bm25_topk_batch(
            spark,
            path,
            spark.createDataFrame([], "qid long, terms array<string>"),
        )


def test_bm25_batch_drops_null_terms(spark, tmp_path):
    """A NULL term inside a query's terms array is dropped once, before
    the distinct-terms collect (Python's sort cannot order None), so
    both probe paths hash the same terms: a query scores exactly like
    its NULL-free twin, and a table of only NULL terms has no terms."""
    from airflow_etl_minio_to_postgres_spark.functions.text import (
        bm25_topk_batch,
        write_inverted_index,
    )

    df = spark.createDataFrame(
        [(i, f"spark join doc{i}") for i in range(12)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "inv_null")
    write_inverted_index(df, path, n_buckets=8)
    schema = "qid long, terms array<string>"
    queries = spark.createDataFrame(
        [(10, ["spark", None]), (20, [None]), (30, ["spark"])], schema
    )
    got = {}
    for q, doc, score in bm25_topk_batch(spark, path, queries).collect():
        got.setdefault(q, set()).add((doc, score))
    assert set(got) == {10, 30} and got[10] == got[30]
    with pytest.raises(ValueError, match="no terms"):
        bm25_topk_batch(spark, path, spark.createDataFrame([(1, [None])], schema))


def test_rrf_fuse_grouped_matches_single_query_fusion(spark):
    """Per-query grouped fusion must reproduce rrf_fuse applied to each
    query's lists in isolation — including the absent-from-one-list
    zero contribution and the per-query top-k cut."""
    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        rrf_fuse,
        rrf_fuse_grouped,
    )

    a = spark.createDataFrame(
        [(1, 1, 9.0), (1, 2, 5.0), (1, 3, 5.0), (2, 7, 4.0), (2, 8, 6.0)],
        "qid long, doc_id long, score double",
    )
    b = spark.createDataFrame(
        [(1, 3, 0.9), (1, 4, 0.8), (2, 8, 0.1)],
        "qid long, doc_id long, cosine double",
    )
    grouped = rrf_fuse_grouped([(a, "score"), (b, "cosine")], k=3)
    for q in (1, 2):
        solo = rrf_fuse(
            [
                (a.where(a.qid == q).drop("qid"), "score"),
                (b.where(b.qid == q).drop("qid"), "cosine"),
            ],
            k=3,
        ).collect()
        got = (
            grouped.where(grouped.qid == q)
            .orderBy(grouped.rrf.desc(), "doc_id")
            .select("doc_id", "rrf")
            .collect()
        )
        assert [tuple(r) for r in got] == [tuple(r) for r in solo], f"qid={q}"


def test_hybrid_retrieval_health_eval(spark, tmp_path):
    """The hybrid health check a production retrieval pipeline runs on
    a schedule: fused (BM25 + dense) SERVED lists — bm25_topk_batch
    over the inverted index and ivf_topk_batch over the IVF index,
    fused per query with rrf_fuse_grouped — measured by ann_recall_at_k
    against the fused BRUTE-FORCE truth.  At exhaustive settings
    (nprobe = n_cells; the sparse path is exact by construction) the
    served hybrid must reproduce the truth exactly (recall 1.0 per
    query); at nprobe=1 recall stays a valid per-query [0,1] metric."""
    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        ann_recall_at_k,
        ivf_topk_batch,
        rrf_fuse_grouped,
        write_ivf_index,
    )
    from airflow_etl_minio_to_postgres_spark.functions.text import (
        bm25_topk_batch,
        write_inverted_index,
    )

    words = ["spark", "join", "window", "filter", "merge", "agg"]
    corpus = spark.createDataFrame(
        [
            (
                i,
                " ".join(words[j % 6] for j in range(i, i + 3)),
                [float((i * 7 + d * 3) % 11 - 5) for d in range(4)],
            )
            for i in range(30)
        ],
        "doc_id long, text string, embedding array<double>",
    )
    centroids = spark.createDataFrame(
        [(0, [5.0, 0.0, 0.0, 0.0]), (1, [-5.0, 0.0, 0.0, 0.0]),
         (2, [0.0, 5.0, -5.0, 0.0])],
        "cid int, cvec array<double>",
    )
    inv = str(tmp_path / "inv")
    ivf = str(tmp_path / "ivf")
    write_inverted_index(corpus.select("doc_id", "text"), inv, n_buckets=16)
    write_ivf_index(
        corpus.select("doc_id", "embedding"), centroids, ivf,
        id_col="doc_id",
    )

    queries = spark.createDataFrame(
        [
            (100, ["spark", "merge"], [1.0, 2.0, -1.0, 0.5]),
            (200, ["window"], [-2.0, 1.0, 3.0, -0.5]),
        ],
        "qid long, terms array<string>, qvec array<double>",
    )

    def hybrid(nprobe):
        sparse = bm25_topk_batch(
            spark, inv, queries.select("qid", "terms"), k=5
        )
        dense = ivf_topk_batch(
            spark, ivf, centroids, queries.select("qid", "qvec"),
            k=5, nprobe=nprobe, id_col="doc_id",
        )
        return rrf_fuse_grouped(
            [(sparse, "score"), (dense, "cosine")], k=5
        )

    truth = hybrid(nprobe=3)  # 3 cells: provably brute force
    served_exact = hybrid(nprobe=3)
    recall_exact = ann_recall_at_k(
        served_exact, truth, k=5, query_id_col="qid", id_col="doc_id"
    ).collect()
    assert sorted(r.qid for r in recall_exact) == [100, 200]
    assert all(r.recall == 1.0 for r in recall_exact)

    served_fast = hybrid(nprobe=1)
    recall_fast = {
        r.qid: r.recall
        for r in ann_recall_at_k(
            served_fast, truth, k=5, query_id_col="qid", id_col="doc_id"
        ).collect()
    }
    assert sorted(recall_fast) == [100, 200]
    assert all(0.0 <= v <= 1.0 for v in recall_fast.values())


def test_population_stability_index_detects_shift(spark):
    """PSI contract: identical distributions score ~0; a shifted
    current distribution crosses the 0.25 'shifted' rule of thumb; a
    bucket empty on the current side floors at eps instead of
    producing an infinite log; NULL values are excluded."""
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.operators.audit import (
        population_stability_index,
    )

    ref = spark.range(1000).select(
        (F.col("id") % 100).cast("double").alias("v")
    )
    same = population_stability_index(ref, ref, F.col("v"), n_buckets=10)
    rows = same.collect()
    assert [r.bucket for r in rows] == list(range(1, 11))
    assert sum(r.psi_part for r in rows) < 1e-9

    # current: hard shift into the top half of the reference domain
    cur = spark.range(1000).select(
        (F.lit(50) + F.col("id") % 50).cast("double").alias("v")
    )
    shifted = population_stability_index(ref, cur, F.col("v"), n_buckets=10)
    srows = shifted.collect()
    assert sum(r.psi_part for r in srows) > 0.25
    # the emptied low buckets floored at eps, all parts finite
    assert all(abs(r.psi_part) < float("inf") for r in srows)
    low = [r for r in srows if r.bucket <= 5]
    assert all(r.p_cur == 1e-06 for r in low)

    # NULL values on the current side are excluded, not bucketed
    with_null = cur.union(
        spark.range(10).select(F.lit(None).cast("double").alias("v"))
    )
    nrows = population_stability_index(
        ref, with_null, F.col("v"), n_buckets=10
    ).collect()
    assert [
        (r.bucket, r.p_cur) for r in nrows
    ] == [(r.bucket, r.p_cur) for r in srows]


def test_source_quality_gate_drops_whole_groups(spark):
    """The gate judges PUBLISHERS: a low-quality source's individually
    identical doc is dropped while the high-quality source's docs all
    survive; the decision is group-level, never per-doc."""
    from airflow_etl_minio_to_postgres_spark.functions.text import (
        source_quality_gate,
    )

    good = "the and is to of a in that it was the and is to of a in that"
    bad = "#### !!!! $$$$ %%%% @@@@ ^^^^ &&&& **** (((( ))))"
    df = spark.createDataFrame(
        [
            (1, "hi", good + " " + good),
            (2, "hi", good),
            (3, "lo", bad),
            (4, "lo", good),  # one good page cannot rescue a bad source
        ],
        "doc_id long, source string, text string",
    )
    kept = {r.doc_id for r in source_quality_gate(df, threshold=0.4).collect()}
    assert kept == {1, 2}


def test_zorder_value_sql_matches_python_interleave(spark):
    """The generated Morton text equals a bit-for-bit Python reference
    over a corner + random sample of the 2D domain."""
    from airflow_etl_minio_to_postgres_spark.sources.files import (
        zorder_value_sql,
    )
    from pyspark.sql import functions as F

    def morton(x: int, y: int, bits: int = 10) -> int:
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    pts = [(0, 0), (1, 0), (0, 1), (1023, 1023), (512, 1), (37, 911)]
    pts += [((i * 131) % 1024, (i * 517) % 1024) for i in range(50)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", F.expr(zorder_value_sql(["x", "y"], 10)).alias("z")
        ).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == morton(x, y), (x, y)


def test_quantile_buckets_sampled_contract(spark):
    """Buckets are monotone in the score, span 1..n_buckets on uniform
    data, and stay roughly equal-sized (cutpoints from a 20% sample)."""
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.text import (
        quantile_buckets_sampled,
    )

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") / 1000.0).alias("s")
    )
    out = quantile_buckets_sampled(
        df, F.col("s"), n_buckets=10, sample_rate=0.2
    ).collect()
    by_score = sorted(out, key=lambda r: r.s)
    buckets = [r.bucket for r in by_score]
    assert buckets == sorted(buckets)  # monotone in score
    assert set(buckets) == set(range(1, 11))
    from collections import Counter

    sizes = Counter(buckets)
    assert max(sizes.values()) <= 3 * min(sizes.values())  # sample-rough


def test_quantile_buckets_sampled_null_score_buckets_null(spark):
    """The docstring contract: a NULL score has no quantile, so its
    bucket is NULL — not bucket 1, which the naive fold's NULL-false
    `>=` comparisons would silently produce (and which would land
    NULL-scored rows FIRST in curriculum_order)."""
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.text import (
        quantile_buckets_sampled,
    )

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 97, F.col("id") / 100.0).alias("s"),
    )
    out = quantile_buckets_sampled(
        df, F.col("s"), n_buckets=4, sample_rate=0.5
    ).collect()
    null_buckets = [r.bucket for r in out if r.s is None]
    assert len(null_buckets) == 3
    assert all(b is None for b in null_buckets)
    assert all(r.bucket is not None for r in out if r.s is not None)


def test_curriculum_order_positions_dense_and_deterministic(spark):
    """(bucket, pos) is a dense, replayable training coordinate: pos is
    1..|bucket| inside every bucket and two derivations agree exactly."""
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.text import (
        curriculum_order,
    )

    df = spark.range(300).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 / 7.0).alias("s")
    )
    a = curriculum_order(df, F.col("s"), n_buckets=4).collect()
    b = curriculum_order(df, F.col("s"), n_buckets=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    from collections import defaultdict

    per_bucket = defaultdict(list)
    for r in a:
        per_bucket[r.bucket].append(r.pos)
    for bkt, ps in per_bucket.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), bkt


def test_population_stability_index_by_segments(spark):
    """Segmented PSI: per-segment rows are bit-equal to the global
    operator run on each segment's slices (one grouped plan vs N
    slice plans), a segment absent from the reference is not scored,
    and a drift confined to one small segment scores high there while
    the global PSI dilutes it."""
    from airflow_etl_minio_to_postgres_spark.operators.audit import (
        population_stability_index,
        population_stability_index_by,
    )

    ref = spark.createDataFrame(
        [("a", float(i % 100)) for i in range(2000)]
        + [("b", float(i % 100)) for i in range(200)],
        "seg string, v double",
    )
    cur = spark.createDataFrame(
        # segment a: same law; segment b: shifted by 50; c: not in ref
        [("a", float(i % 100)) for i in range(2000)]
        + [("b", float(i % 100) + 50.0) for i in range(200)]
        + [("c", float(i % 10)) for i in range(50)],
        "seg string, v double",
    )
    got = population_stability_index_by(
        ref, cur, F.col("v"), by=["seg"], n_buckets=5
    )
    segs = {r.seg for r in got.select("seg").distinct().collect()}
    assert segs == {"a", "b"}  # c has no reference cutpoints
    for s in ("a", "b"):
        want = sorted(
            (r.bucket, r.p_ref, r.p_cur, r.psi_part)
            for r in population_stability_index(
                ref.where(F.col("seg") == s),
                cur.where(F.col("seg") == s),
                F.col("v"),
                n_buckets=5,
            ).collect()
        )
        have = sorted(
            (r.bucket, r.p_ref, r.p_cur, r.psi_part)
            for r in got.where(got.seg == s).collect()
        )
        assert have == want, f"segment {s}"
    psi = {
        s: sum(r.psi_part for r in got.where(got.seg == s).collect())
        for s in ("a", "b")
    }
    glob = sum(
        r.psi_part
        for r in population_stability_index(
            ref, cur, F.col("v"), n_buckets=5
        ).collect()
    )
    assert psi["b"] > 0.25  # the confined shift is loud per-segment
    assert psi["a"] < 0.01
    assert glob < psi["b"]  # and diluted globally

    import pytest

    with pytest.raises(ValueError, match="non-empty"):
        population_stability_index_by(ref, cur, F.col("v"), by=[])


def test_quantized_serving_recall_is_measurable(spark):
    """The int8 storage path closes its own quality loop: dequantize a
    quantize_int8 corpus, serve exact cosine top-k from it, and measure
    recall@k against full-precision truth with ann_recall_at_k —
    quantization cost becomes a number, not an assumption.
    Reconstruction error respects the scale/2 contract; cosine is
    per-vector-scale invariant so recall on these embeddings stays
    high; a coarsened (3-bit-equivalent) quantization measurably loses
    recall, proving the metric discriminates."""
    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        ann_recall_at_k,
        dequantize_int8,
        ivf_knn_join,
        quantize_int8,
    )
    from airflow_etl_minio_to_postgres_spark.sources.catalog import (
        load_table,
    )
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, "embeddings", SF_SMOKE).limit(200)
    cents = embs.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    queries = embs.where(F.col("vec_id") % 20 == 7).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )

    q = quantize_int8(embs)
    deq = dequantize_int8(q).select("vec_id", "embedding")

    # reconstruction error bounded by scale/2 per coordinate
    errs = (
        dequantize_int8(q, vec_col="_re")
        .join(embs.select("vec_id", "embedding"), "vec_id")
        .select(
            (
                F.array_max(
                    F.zip_with(
                        F.col("_re"),
                        F.col("embedding"),
                        lambda a, b: F.abs(a - b.cast("double")),
                    )
                )
                / F.col("scale")
            ).alias("ratio")
        )
        .agg(F.max("ratio"))
        .collect()[0][0]
    )
    assert errs <= 0.5 + 1e-9

    # nprobe = n_cells: provably brute force on both sides
    truth = ivf_knn_join(queries, embs, cents, k=5, nprobe=3)
    served = ivf_knn_join(queries, deq, cents, k=5, nprobe=3)
    rec = ann_recall_at_k(served, truth, k=5).agg(
        F.avg("recall").alias("r")
    ).collect()[0][0]
    assert 0.9 <= rec <= 1.0, rec

    # a deliberately coarse quantizer (scale x32 ~ 3-bit) loses recall
    coarse = dequantize_int8(
        q.withColumn(
            "qvec",
            F.transform(
                F.col("qvec"),
                lambda v: F.round(v / F.lit(32.0)).cast("int") * 32,
            ),
        )
    ).select("vec_id", "embedding")
    served_c = ivf_knn_join(queries, coarse, cents, k=5, nprobe=3)
    rec_c = ann_recall_at_k(served_c, truth, k=5).agg(
        F.avg("recall").alias("r")
    ).collect()[0][0]
    assert rec_c < rec, (rec_c, rec)


def test_rrf_fuse_three_lists_fold(spark):
    """The N-list fold generality both RRF forms claim: with THREE
    ranked lists, fused scores are the sum of all three reciprocal
    ranks (absentees contributing 0 per list), identically in the
    single-query and grouped forms."""
    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        rrf_fuse,
        rrf_fuse_grouped,
    )

    a = spark.createDataFrame([(1, 9.0), (2, 5.0)], "doc_id long, score double")
    b = spark.createDataFrame([(2, 0.9), (3, 0.8)], "doc_id long, cosine double")
    c = spark.createDataFrame([(3, 7.0), (1, 6.0)], "doc_id long, bm25 double")
    want = {
        1: 1.0 / 61 + 0.0 + 1.0 / 62,
        2: 1.0 / 62 + 1.0 / 61 + 0.0,
        3: 0.0 + 1.0 / 62 + 1.0 / 61,
    }
    got = {
        r.doc_id: r.rrf
        for r in rrf_fuse(
            [(a, "score"), (b, "cosine"), (c, "bm25")], k=10
        ).collect()
    }
    assert got == want

    ga = a.withColumn("qid", F.lit(0))
    gb = b.withColumn("qid", F.lit(0))
    gc = c.withColumn("qid", F.lit(0))
    got_g = {
        r.doc_id: r.rrf
        for r in rrf_fuse_grouped(
            [(ga, "score"), (gb, "cosine"), (gc, "bm25")], k=10
        ).collect()
    }
    assert got_g == want


def test_population_stability_index_empty_side_is_maximal_drift(spark):
    """An entirely EMPTY current frame floors every p_cur at eps
    (try_divide by a 0 total is NULL; greatest skips NULLs), yielding
    a large FINITE PSI — 'all the data vanished' reads as maximal
    drift, deliberately, instead of NULL parts summing to a NULL PSI
    that a monitor would misread as 'no signal' (round-12 advisor
    finding, pinned as documented behavior)."""
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.operators.audit import (
        population_stability_index,
    )

    ref = spark.range(1000).select(
        (F.col("id") % 100).cast("double").alias("v")
    )
    empty = spark.range(0).select(F.col("id").cast("double").alias("v"))
    rows = population_stability_index(
        ref, empty, F.col("v"), n_buckets=10
    ).collect()
    assert len(rows) == 10
    assert all(r.p_cur == 1e-06 for r in rows)
    total = sum(r.psi_part for r in rows)
    assert total > 0.25 and total < float("inf")


def test_bm25_knn_join_matches_batch_and_never_broadcasts_data(
    spark, tmp_path
):
    """The corpus-scale sparse serve (bm25_knn_join): (1) bit-identical
    rows to bm25_topk_batch on the same queries/(k, k1, b) — including
    the shared-term df (computed before the query join on both paths);
    (2) with the auto-broadcast threshold disabled, both data-side
    joins (semi prune + pair join) are shuffle joins — the only
    broadcast is the 1-row stats scalar (rendered as a
    BroadcastNestedLoopJoin); (3) a termless query table is refused
    without collecting a vocabulary."""
    import re

    import pytest

    from airflow_etl_minio_to_postgres_spark.functions.text import (
        bm25_knn_join,
        bm25_topk_batch,
        write_inverted_index,
    )

    df = spark.createDataFrame(
        [
            (i, f"spark join window filter doc{i} " + "pad " * (i % 5))
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "inv_knn")
    write_inverted_index(df, path, n_buckets=16)

    # 'spark' shared by two queries: a post-join df would double it
    qsets = {10: ["spark", "doc7"], 20: ["spark", "filter"], 30: ["doc3"]}
    queries = spark.createDataFrame(
        [(q, ts) for q, ts in qsets.items()],
        "qid long, terms array<string>",
    )
    joined = bm25_knn_join(spark, path, queries, k=5)
    # the semi-join probe reaches the postings scan as DYNAMIC partition
    # pruning — runtime bucket-directory skipping with no driver collect
    dpp_plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in dpp_plan, dpp_plan
    batch = bm25_topk_batch(spark, path, queries, k=5)
    assert sorted(
        (tuple(r) for r in joined.collect()), key=lambda t: (t[0], -t[2], t[1])
    ) == sorted(
        (tuple(r) for r in batch.collect()), key=lambda t: (t[0], -t[2], t[1])
    )

    # the scale contract: no data-side broadcast even at toy scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pinned = bm25_knn_join(spark, path, queries, k=5)
        plan = pinned._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert plan.count("BroadcastExchange") == plan.count(
            "BroadcastNestedLoopJoin"
        ), plan
        assert [tuple(r) for r in pinned.collect()] == [
            tuple(r) for r in joined.collect()
        ]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    with pytest.raises(ValueError, match="no terms"):
        bm25_knn_join(
            spark,
            path,
            spark.createDataFrame([], "qid long, terms array<string>"),
        )


def test_bm25_knn_join_max_df_drops_stopword_candidates(spark, tmp_path):
    """max_df is the in-operator analyzer cut for Zipf-hot terms: a
    term present in every document ('pad'-free docs all contain
    'common') is dropped from scoring when its df exceeds the cap —
    the hot shuffle side never materializes — while rare terms still
    rank; max_df=None keeps the exact contract."""
    from airflow_etl_minio_to_postgres_spark.functions.text import (
        bm25_knn_join,
        write_inverted_index,
    )

    df = spark.createDataFrame(
        [(i, f"common doc{i} extra{i % 3}") for i in range(30)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "inv_maxdf")
    write_inverted_index(df, path, n_buckets=8)
    queries = spark.createDataFrame(
        [(1, ["common", "doc7"])], "qid long, terms array<string>"
    )
    capped = bm25_knn_join(spark, path, queries, k=5, max_df=10)
    got = capped.collect()
    # 'common' (df=30) is cut; only doc7 (df=1) contributes -> 1 hit
    assert [(r.qid, r.doc_id) for r in got] == [(1, 7)]
    uncapped = bm25_knn_join(spark, path, queries, k=5)
    # without the cap every doc is a candidate through 'common'
    assert uncapped.count() == 5


def test_bm25_four_forms_agree_on_empty_and_unrenderable_terms(
    spark, tmp_path
):
    """All four BM25 forms return the same rows, bit for bit, for term
    sets the alphanumeric tests never draw: an empty term over a corpus
    with empty/whitespace-only texts (the direct path drops empty
    tokens like the index, so those docs never rank), and terms with a
    quote or a backslash (one term set holds both), which the bucket
    probe takes as plain values."""
    from airflow_etl_minio_to_postgres_spark.functions.text import (
        bm25_knn_join,
        bm25_topk,
        bm25_topk_batch,
        bm25_topk_indexed,
        write_inverted_index,
    )

    df = spark.createDataFrame(
        [(0, ""), (1, "spark don't stop"), (2, "a\\b path spark"),
         (3, "spark spark join"), (4, "   "), (5, "don't panic a\\b")]
        + [(i, f"spark doc{i}") for i in range(6, 12)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "inv_odd")
    write_inverted_index(df, path, n_buckets=4)
    qsets = {1: ["spark", ""], 2: ["don't", "a\\b"]}
    # one query table: the batched forms serve both term sets
    queries = spark.createDataFrame(
        list(qsets.items()), "qid long, terms array<string>"
    )

    def per_query(frame, qid=None):
        got = {}
        for r in frame.collect():
            got.setdefault(qid or r.qid, []).append(
                (r.doc_id, r.score.hex())
            )
        return {
            q: sorted(v, key=lambda t: (-float.fromhex(t[1]), t[0]))
            for q, v in got.items()
        }

    direct, indexed = {}, {}
    for q, terms in qsets.items():
        direct.update(per_query(bm25_topk(df, terms, k=20), q))
        indexed.update(
            per_query(bm25_topk_indexed(spark, path, terms, k=20), q)
        )
    assert set(direct) == set(qsets)
    # the empty-text (0) and whitespace-only (4) docs never rank
    assert all({0, 4}.isdisjoint(d for d, _ in v) for v in direct.values())
    assert indexed == direct
    assert per_query(bm25_topk_batch(spark, path, queries, k=20)) == direct
    assert per_query(bm25_knn_join(spark, path, queries, k=20)) == direct


def test_blocked_fuzzy_pairs_matches_naive(spark):
    """Blocked + threshold-bounded Levenshtein matching equals the
    naive all-pairs form restricted to the blocks: the length-delta
    prefilter and the bounded DP are exact, never lossy."""
    from airflow_etl_minio_to_postgres_spark.functions.linkage import (
        blocked_fuzzy_pairs,
    )

    rows = [
        (1, "alice", "us"),
        (2, "alicia", "us"),   # dist 2 from alice, same block
        (3, "alice", "de"),    # identical name, OTHER block — no pair
        (4, "bob", "us"),      # far from everything
        (5, "alyce", "us"),    # dist 1 from alice, 3 from alicia
        (6, "al", "us"),       # length delta 3 vs alice — prefiltered
    ]
    df = spark.createDataFrame(rows, "id long, name string, region string")
    got = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in blocked_fuzzy_pairs(
            df, "id", "name", ["region"], max_distance=2
        ).collect()
    }
    assert got == {(1, 2): 2, (1, 5): 1}

    # naive check (unbounded levenshtein within blocks)
    a = df.selectExpr("id id_a", "name na", "region")
    b = df.selectExpr("id id_b", "name nb", "region")
    naive = (
        a.join(b, "region")
        .where("id_a < id_b")
        .selectExpr("id_a", "id_b", "levenshtein(na, nb) d")
        .where("d <= 2")
        .collect()
    )
    assert {(r["id_a"], r["id_b"]): r["d"] for r in naive} == got


def test_blocked_fuzzy_pairs_salted_hot_block_bit_identical(spark):
    """max_block_size — the fuzzy-ER hot-block knob: a 150-record
    dominant block (the realistic Zipf key: one big city) splits
    through the shared salted mechanism into bounded sub-groups, and
    the matched pair set is BIT-IDENTICAL to the unsalted plan —
    salting is a physical re-shape, never a semantics change."""
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.linkage import (
        blocked_fuzzy_pairs,
    )

    # hot block: 150 records in one (city) block, names in 3 fuzzy
    # families plus noise; cold blocks pass through untouched
    rows = [
        (i, ["anna", "annb", "bert", "berta", "carl"][i % 5] + "x" * (i % 3), "metropolis")
        for i in range(150)
    ]
    rows += [(1000 + i, f"zed{i}", f"village{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "id long, name string, city string")

    plain = sorted(
        tuple(r)
        for r in blocked_fuzzy_pairs(
            df, "id", "name", ["city"], max_distance=2
        ).collect()
    )
    salted = sorted(
        tuple(r)
        for r in blocked_fuzzy_pairs(
            df, "id", "name", ["city"], max_distance=2, max_block_size=16
        ).collect()
    )
    assert salted == plain and len(plain) > 100

    # nonsensical knob values fail loudly (shared mechanism contract)
    import pytest

    with pytest.raises(ValueError, match="max_bucket_size"):
        blocked_fuzzy_pairs(
            df, "id", "name", ["city"], max_distance=2, max_block_size=0
        )
    with pytest.raises(ValueError, match="block_cols"):
        blocked_fuzzy_pairs(df, "id", "name", [], max_distance=2)


def test_blocked_fuzzy_pairs_null_blocks_and_null_names_excluded(spark):
    """Documented NULL semantics (round-14 advisor finding): a record
    with NULL in any block column never pairs (SQL equality — no
    block membership), and a NULL name never matches; both still
    label themselves in entity_clusters.  Holds identically on the
    salted path."""
    from airflow_etl_minio_to_postgres_spark.functions.linkage import (
        blocked_fuzzy_pairs,
        entity_clusters,
    )

    rows = [
        (1, "alice", "us"),
        (2, "alicf", "us"),
        (3, "alice", None),   # null block: pairs with nothing
        (4, "alice", None),   # even identical names in the null block
        (5, None, "us"),      # null name: matches nothing
    ]
    df = spark.createDataFrame(rows, "id long, name string, region string")
    for cap in (None, 2):
        pairs = blocked_fuzzy_pairs(
            df, "id", "name", ["region"], max_distance=2,
            max_block_size=cap,
        )
        assert {
            (r["id_a"], r["id_b"]) for r in pairs.collect()
        } == {(1, 2)}, f"cap={cap}"
    got = {
        r["id"]: r["entity_id"]
        for r in entity_clusters(
            df,
            blocked_fuzzy_pairs(df, "id", "name", ["region"], 2),
            id_col="id",
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 3, 4: 4, 5: 5}


def test_blocked_fuzzy_pairs_salted_groups_bounded(spark):
    """The salted probe side's per-(key, salt) group size is bounded
    (~cap with hash-unevenness slack) — the straggler-task guarantee
    the knob exists for — while cold blocks keep a single group."""
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.dedup import (
        salted_band_sides,
    )

    rows = [(i, "metropolis") for i in range(200)]
    rows += [(1000 + i, f"village{i}") for i in range(5)]
    df = spark.createDataFrame(rows, "id long, city string")
    # same fan shape blocked_fuzzy_pairs builds: hashed block key
    fan = df.select("id", F.xxhash64("city").alias("_bk"))
    a, b, keys = salted_band_sides(fan, "id", key="_bk", max_bucket_size=16)
    assert keys == ["_bk", "_salt"]
    max_group = a.groupBy(*keys).count().agg(F.max("count")).first()[0]
    assert max_group <= 32  # cap + pmod unevenness slack


def test_entity_clusters_transitive_chain(spark):
    """A~B, B~C (no A~C edge) forms ONE entity labeled with the min
    id; unmatched records label themselves."""
    from airflow_etl_minio_to_postgres_spark.functions.linkage import (
        blocked_fuzzy_pairs,
        entity_clusters,
    )

    # a chain under distance<=1: aaaa ~ aaab ~ aabb but aaaa!~aabb
    rows = [
        (10, "aaaa", "x"),
        (11, "aaab", "x"),
        (12, "aabb", "x"),
        (20, "zzzz", "x"),
    ]
    df = spark.createDataFrame(rows, "id long, name string, region string")
    pairs = blocked_fuzzy_pairs(df, "id", "name", ["region"], max_distance=1)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {
        (10, 11),
        (11, 12),
    }
    got = {
        r["id"]: r["entity_id"]
        for r in entity_clusters(df, pairs, id_col="id").collect()
    }
    assert got == {10: 10, 11: 10, 12: 10, 20: 20}


def test_blocked_fuzzy_pairs_null_blocks_filtered_before_join(spark):
    """Efficiency pin for the r15 advisor finding: xxhash64 leaves the
    running hash UNCHANGED on null inputs, so null-block rows shared a
    ``_bk`` bucket and m**2-paired in the join before the real-column
    re-check dropped them — a phantom hot block.  They can never pair
    (documented SQL-equality semantics), so the fan now drops them
    PRE-join: the optimized plan pushes ``isnotnull`` on every block
    column into both scan sides."""
    from airflow_etl_minio_to_postgres_spark.functions.linkage import (
        blocked_fuzzy_pairs,
    )

    rows = [
        (1, "alice", "us", "sf"),
        (2, "alicf", "us", "sf"),
        (3, "alice", None, "sf"),
        (4, "alice", "us", None),
    ]
    df = spark.createDataFrame(
        rows, "id long, name string, region string, city string"
    )
    pairs = blocked_fuzzy_pairs(
        df, "id", "name", ["region", "city"], max_distance=2
    )
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(1, 2)}
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "isnotnull(region" in plan and "isnotnull(city" in plan
