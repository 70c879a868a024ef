"""chunk_text / tfidf_top_terms edge cases beyond the oracle corpus:
empty and single-word documents, zero overlap, invalid overlap, and
chunk reconstruction."""

from __future__ import annotations

import pytest

from airflow_etl_minio_to_postgres_spark.functions.text import (
    chunk_text,
    tfidf_top_terms,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_chunk_text_reconstructs_with_zero_overlap(spark):
    words = [f"w{i}" for i in range(10)]
    out = sorted(
        chunk_text(_docs(spark, [" ".join(words)]), 4, overlap=0).collect(),
        key=lambda r: r.chunk_id,
    )
    assert [r.chunk_id for r in out] == [0, 1, 2]
    assert " ".join(r.chunk_text for r in out) == " ".join(words)
    assert [r.n_chunk_tokens for r in out] == [4, 4, 2]


def test_chunk_text_overlap_repeats_boundary_tokens(spark):
    words = [f"w{i}" for i in range(6)]
    out = sorted(
        chunk_text(_docs(spark, [" ".join(words)]), 4, overlap=2).collect(),
        key=lambda r: r.chunk_id,
    )
    # starts 0,2,4: chunks w0-3, w2-5, w4-5
    assert [r.chunk_text for r in out] == ["w0 w1 w2 w3", "w2 w3 w4 w5", "w4 w5"]


def test_chunk_text_empty_and_single_word(spark):
    out = chunk_text(_docs(spark, ["", "   ", "solo"]), 4).collect()
    assert [(r.doc_id, r.chunk_text, r.n_chunk_tokens) for r in out] == [
        (2, "solo", 1)
    ]


def test_chunk_text_rejects_overlap_ge_chunk(spark):
    with pytest.raises(ValueError, match="overlap"):
        chunk_text(_docs(spark, ["a b"]), 4, overlap=4)


def test_tfidf_rare_term_outranks_common(spark):
    docs = _docs(
        spark,
        ["shared shared rareone", "shared shared raretwo", "shared common"],
    )
    top = {
        r.doc_id: r.word
        for r in tfidf_top_terms(docs, k=1).collect()
    }
    # 'shared' appears in every doc (idf floor); each doc's unique term wins
    assert top[0] == "rareone" and top[1] == "raretwo" and top[2] == "common"


def test_unigram_logprob_known_values(spark):
    from math import log

    from airflow_etl_minio_to_postgres_spark.functions.text import (
        unigram_logprob,
    )

    # corpus: 4 tokens total -> p(a)=3/4, p(b)=1/4
    docs = _docs(spark, ["a a", "a b"])
    got = {
        r.doc_id: (r.n_tokens, r.avg_logprob)
        for r in unigram_logprob(docs).collect()
    }
    assert got[0][0] == 2 and got[1][0] == 2
    assert abs(got[0][1] - log(3 / 4)) < 1e-12
    assert abs(got[1][1] - (log(3 / 4) + log(1 / 4)) / 2) < 1e-12
    # gibberish (all-rare tokens) scores strictly lower than common text
    assert got[1][1] < got[0][1]


def test_quantize_int8_roundtrip_and_zero_vector(spark):
    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        quantize_int8,
    )

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r for r in quantize_int8(df).collect()}
    # max|x|=1.0 -> scale=1/127; values quantize exactly
    assert rows[1].qvec == [127, -64, 32]  # round(-63.5)=-64, round(31.75)=32
    assert abs(rows[1].scale - 1.0 / 127) < 1e-15
    # dequantization error bounded by scale/2 per coordinate
    for q, x in zip(rows[1].qvec, [1.0, -0.5, 0.25]):
        assert abs(q * rows[1].scale - x) <= rows[1].scale / 2 + 1e-15
    # zero vector: epsilon scale, all-zero codes (no divide-by-zero)
    assert rows[2].qvec == [0, 0, 0]


def test_assign_splits_deterministic_disjoint_and_stable(spark):
    """assign_splits: every row gets exactly one split; proportions
    track the weights; assignment is a pure function of (id, salt) —
    identical across partition layouts AND unchanged for existing ids
    when new rows arrive (the no-resplit property a training pipeline
    needs); weight validation fails loudly."""
    import pytest
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.text import (
        assign_splits,
    )

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    w = {"train": 8.0, "val": 1.0, "test": 1.0}
    got = assign_splits(df, w).collect()
    by_split = {}
    for r in got:
        by_split.setdefault(r.split, set()).add(r.doc_id)
    assert set(by_split) == {"train", "val", "test"}
    assert sum(len(v) for v in by_split.values()) == 2000
    assert 0.7 < len(by_split["train"]) / 2000 < 0.9
    assert 0.05 < len(by_split["val"]) / 2000 < 0.15

    # partition-layout independence
    re_got = {
        r.doc_id: r.split
        for r in assign_splits(df.repartition(13), w).collect()
    }
    assert re_got == {r.doc_id: r.split for r in got}

    # growing the corpus never moves existing ids
    bigger = spark.range(4000).select(F.col("id").alias("doc_id"))
    grown = {r.doc_id: r.split for r in assign_splits(bigger, w).collect()}
    for r in got:
        assert grown[r.doc_id] == r.split

    with pytest.raises(ValueError, match="positive"):
        assign_splits(df, {"train": 1.0, "val": -1.0})
    with pytest.raises(ValueError, match="non-empty"):
        assign_splits(df, {})
