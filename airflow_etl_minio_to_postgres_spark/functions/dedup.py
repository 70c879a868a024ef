"""Deduplication family — exact, MinHash+LSH near-dup, SimHash.

Scale design (the whole point of these shapes):

* **Exact** dedup is a hash-groupBy: one shuffle on a 16-byte key, never a
  text comparison.  At 100 TB the shuffle payload is (key, doc_id) pairs,
  not documents.
* **MinHash+LSH** never compares all pairs: signatures are narrow per-row
  expressions; banding explodes each doc into ``n_bands`` (band, key) rows;
  candidate pairs come from an equi-join on the band key (shuffle on
  band-key hash, skew-safe under AQE); only candidates pay the exact
  Jaccard verification.  Complexity O(docs x bands + collisions), not
  O(docs^2).
* **SimHash** is one explode + two aggregations — all JVM expressions.

Determinism/oracle note: the per-seed min-hash is the *lexicographic min of
sha256 hex strings* over the shingle set.  A hex-string min is a valid
uniform min-hash and — unlike Murmur3 — is reproducible in any engine with
sha256, which is what makes the DuckDB oracle possible.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce
from operator import and_

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airflow_etl_minio_to_postgres_spark.functions.text import words_expr
from airflow_etl_minio_to_postgres_spark.schemas import HASH_LEN

# Signature tables persisted by near_dup_pairs / simhash_near_dup_pairs.
# The cache outlives the returned plan (Spark's ContextCleaner only collects
# it lazily), so callers looping over many corpora would otherwise
# accumulate MEMORY_AND_DISK blocks — release_caches() frees them eagerly.
_PERSISTED: list[DataFrame] = []


def _persist_tracked(df: DataFrame) -> DataFrame:
    handle = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(handle)
    return handle


def _req_ceil(threshold: float, size_col) -> Column:
    """``ceil(t * n)`` with an epsilon guard.  When ``t * n`` is
    mathematically an integer the double product can round one ulp ABOVE
    it, making the ceil one too large — shortening the PPJoin prefix and
    tightening the length filter, so an exact-boundary qualifying pair
    (similarity == threshold) could be pruned before verification while
    the any-shared-gram oracle keeps it.  Subtracting 1e-9 (far below the
    1/(n·n') rational granularity of any attainable Jaccard/containment
    value at realistic gram counts) restores the mathematical ceil."""
    return F.ceil(F.lit(threshold) * size_col - F.lit(1e-9))


def release_caches() -> int:
    """Eagerly unpersist every signature table cached by the near-dup
    operators in this process; returns how many were released.  Safe at any
    time — an unpersisted plan recomputes, it never breaks."""
    n = 0
    while _PERSISTED:
        handle = _PERSISTED.pop()
        try:
            handle.unpersist()
            n += 1
        except Exception:
            pass  # context already stopped; nothing to free
    return n


# ---------------------------------------------------------------------------
# Exact dedup (reference T11 at scale: dags/dag_etl_minio_to_postgres.py:216-219)
# ---------------------------------------------------------------------------


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct content hash: (text_hash, n_docs, keep_id).

    ``keep_id`` = min id — the deterministic survivor the pipeline keeps;
    dropping dups is then a semi-join of ``df`` against this frame.
    """
    h = F.substring(F.sha2(F.col(text_col), 256), 1, HASH_LEN)
    return (
        df.select(h.alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


def drop_exact_dups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep exactly the ``keep_id`` representative of every duplicate group."""
    keep = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------


def band_keys_expr(minhash: Column, num_bands: int, rows_per_band: int) -> Column:
    """LSH band keys: band b hashes its signature slice into one string key.
    Docs sharing ANY band key become candidate pairs."""
    keys = []
    for b in range(num_bands):
        parts = [
            F.element_at(minhash, b * rows_per_band + r + 1)
            for r in range(rows_per_band)
        ]
        keys.append(F.concat_ws("|", F.lit(str(b)), *parts))
    return F.array(*keys)


def jaccard_expr(a: Column, b: Column) -> Column:
    """Exact set Jaccard over shingle arrays (distinct semantics, as both
    Spark ``array_intersect``/``array_union`` and the oracle's
    ``list_intersect``/``list_distinct`` dedup)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return inter / union


def _minhash_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_k: int,
) -> DataFrame:
    """(id, shingles, minhash) via explode -> ONE aggregate.

    Why explode rather than one array expression per row (``transform``
    over the shingles, ``array_min`` of each seed's hashes)?  Higher-order
    array functions run *interpreted* (no codegen, no common-subexpression
    elimination), and Catalyst's projection collapse inlines the
    shingle-building expression into every seed lambda — the text gets
    re-split O(seeds x shingle-width) times per row.  Exploding instead
    evaluates each expression exactly once per shingle.

    Why one aggregate and not explode(seeds) -> groupBy(_id, seed) ->
    groupBy(_id)?  The per-seed mins are independent aggregate COLUMNS of
    the same shingle row — computing them side by side keeps the row count
    at |shingles| (not |shingles| x seeds), needs a single shuffle keyed on
    the doc id (with map-side partial aggregation carrying ``num_hashes``
    16-byte mins + the shingle set per doc), and the shingle-set/signature
    join disappears because ``collect_set`` rides the same groupBy.
    Measured at sf0.1: 4.2s -> 0.9s for the signature table.
    """
    words = words_expr(F.col(text_col))
    based = df.select(F.col(id_col).alias("_id"), words.alias("w")).where(
        F.size("w") >= shingle_k
    )
    shingled = based.select(
        "_id",
        F.explode(F.sequence(F.lit(0), F.size("w") - shingle_k)).alias("i"),
        "w",
    ).select(
        "_id",
        F.concat_ws(
            " ",
            *[
                F.element_at(F.col("w"), (F.col("i") + j + 1).cast("int"))
                for j in range(shingle_k)
            ],
        ).alias("shingle"),
    )

    def seed_min(seed: int) -> Column:
        return F.min(
            F.substring(
                F.sha2(
                    F.concat_ws(":", F.lit(str(seed)), F.col("shingle")), 256
                ),
                1,
                HASH_LEN,
            )
        ).alias(f"_h{seed}")

    agg = shingled.groupBy("_id").agg(
        F.collect_set("shingle").alias("shingles"),
        *[seed_min(s) for s in range(num_hashes)],
    )
    return agg.select(
        F.col("_id").alias(id_col),
        "shingles",
        F.array(*[F.col(f"_h{s}") for s in range(num_hashes)]).alias("minhash"),
    )


def _attach_sides(
    pairs: DataFrame, table: DataFrame, id_col: str, col: str, prefix: str
) -> DataFrame:
    """Join ``table``'s per-id ``col`` onto ``id_a`` and onto ``id_b``
    as ``<prefix>a`` / ``<prefix>b`` — the two id-keyed joins every
    pair verification reads its sides through."""
    for side in ("a", "b"):
        pairs = pairs.join(
            table.select(
                F.col(id_col).alias(f"id_{side}"),
                F.col(col).alias(prefix + side),
            ),
            f"id_{side}",
        )
    return pairs


def _minhash_pairs(
    sig: DataFrame,
    id_col: str,
    num_bands: int,
    rows_per_band: int,
    threshold: float,
) -> DataFrame:
    """THE MinHash pair path over a signature table ``(id, shingles,
    minhash)`` (:func:`_minhash_table`): band keys, the
    :func:`bucket_pairs` self-join with the first-match rule over the
    per-doc band-key arrays, then exact Jaccard over the attached
    shingle sets.  Returns (id_a, id_b, jaccard), ``id_a < id_b``,
    ``jaccard >= threshold`` — each pair once, so no distinct exchange.
    Shared by :func:`near_dup_pairs` and the streaming intra-batch
    screen, so the two cannot drift."""
    banded = sig.select(
        F.col(id_col),
        band_keys_expr(F.col("minhash"), num_bands, rows_per_band).alias(
            "_bks"
        ),
    ).select(
        F.col(id_col),
        "_bks",
        F.posexplode("_bks").alias("_band", "band_key"),
    )
    pairs = bucket_pairs(
        banded,
        id_col,
        ["_bks"],
        n_bands=num_bands,
        band_differs=lambda b: F.element_at(F.col("_bks_a"), b + 1)
        != F.element_at(F.col("_bks_b"), b + 1),
    ).select("id_a", "id_b")
    return (
        _attach_sides(pairs, sig, id_col, "shingles", "sh_")
        .withColumn("jaccard", jaccard_expr(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    num_bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Banded-LSH candidate generation + exact Jaccard verification.

    Returns (id_a, id_b, jaccard) with ``id_a < id_b`` and
    ``jaccard >= threshold``.  The only shuffles are the minhash
    aggregations, the band-key equi-join and the verification joins —
    never an all-pairs product (candidates are unique by first-matching-
    band construction, so no distinct exchange either).  Docs shorter
    than the shingle width are excluded
    (they have no signature; degenerate all-null band keys would otherwise
    collide with each other).
    """
    if num_bands <= 0 or num_hashes % num_bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into num_bands "
            f"({num_bands}); trailing hashes would be silently ignored"
        )
    # The signature table feeds four plan branches (both band-join sides +
    # both shingle-set joins); persist it so the corpus is shingled and
    # hashed ONCE, not once per branch — at scale this is the difference
    # between one corpus pass and four.  Tracked for release_caches().
    sig = _persist_tracked(
        _minhash_table(df, text_col, id_col, num_hashes, shingle_k)
    )
    return _minhash_pairs(
        sig, id_col, num_bands, num_hashes // num_bands, threshold
    )


# ---------------------------------------------------------------------------
# Character n-gram Jaccard (exact set-similarity join via prefix filtering)
# ---------------------------------------------------------------------------


def char_ngrams(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct character ``n``-grams of the lowercased text, one row per
    (doc, gram).  The gram array is built by ONE generator expression per
    document — ``explode(transform(sequence(...)))`` — so the lowercased
    text is evaluated once per doc, not re-derived per output gram by
    projection collapse (the trap that made the explode-then-project form
    ~2.5x slower); the distinct is a map-side-combinable aggregation."""
    return (
        df.select(F.col(id_col), F.lower(F.col(text_col)).alias("_t"))
        .where(F.length("_t") >= n)
        .select(
            id_col,
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(_t) - {n - 1}),"
                    f" i -> substring(_t, i, {n}))"
                )
            ).alias("gram"),
        )
        .distinct()
    )


def word_ngrams(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct word ``n``-grams (shingles) of the lower/trimmed text.

    Word grams, not characters, are the similarity-join unit of choice for
    natural-language dedup: the gram vocabulary grows with the corpus, so
    document frequency is low and frequency-ordered prefix joins stay
    selective — character 3-grams over a finite alphabet are shared by
    nearly every document pair and reduce prefix filtering to all-pairs.

    Built as one generator expression per document (see
    :func:`char_ngrams` for why): the regex split runs once per doc;
    the ``transform`` lambda only indexes the already-split array.
    """
    words = words_expr(F.col(text_col))
    shingle = ", ".join(f"_w[i+{j}]" for j in range(n))
    return (
        df.select(F.col(id_col), words.alias("_w"))
        .where(F.size("_w") >= n)
        .select(
            id_col,
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(_w) - {n}),"
                    f" i -> concat_ws(' ', {shingle}))"
                )
            ).alias("gram"),
        )
        .distinct()
    )


def _ranked_doc_sets(
    df: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    unit: str,
) -> DataFrame:
    """Per-doc frequency-ranked gram sets for the prefix-filter joins:
    (id_col, _sg sorted array<struct<_df,gram>>, _sz, _gset array<string>),
    persisted (tracked for :func:`release_caches`).

    ONE gram-keyed window computes document frequency (the count rides
    the same shuffle an aggregate+join-back would need twice), then ONE
    doc-keyed aggregate builds the rarest-first-sorted gram set —
    ``sort_array`` over ``struct(_df, gram)`` is exactly the
    ``row_number() OVER (ORDER BY _df, gram)`` order (gram is distinct
    per doc, so the sort key is unique).  The retired shape ran a
    row_number + count window pair over the doc partition AND a separate
    collect_list aggregate for the verification sets: two doc-keyed
    shuffles of the full gram table and a window sort, where one
    aggregate now serves prefix derivation (``slice`` of the sorted
    array) and verification (``_gset``) alike.  Persisting the per-doc
    rollup instead of the raw gram table also caches one row per doc
    instead of one per (doc, gram)."""
    gram_fn = word_ngrams if unit == "word" else char_ngrams
    grams = gram_fn(df, n, text_col, id_col)

    from pyspark.sql import Window

    wdf = Window.partitionBy("gram")
    per_doc = (
        grams.withColumn("_df", F.count(F.lit(1)).over(wdf))
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list(F.struct("_df", "gram"))).alias("_sg")
        )
        .select(
            id_col,
            "_sg",
            F.size("_sg").alias("_sz"),
            F.expr("transform(_sg, x -> x.gram)").alias("_gset"),
        )
    )
    return _persist_tracked(per_doc)


def _prefix_grams(
    per_doc: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Explode each doc's first ``|G| - ceil(t*|G|) + 1`` rarest grams
    (the PPJoin prefix) out of the sorted per-doc set: (id, gram, _sz)."""
    prefix_len = F.col("_sz") - _req_ceil(threshold, F.col("_sz")) + 1
    return per_doc.select(
        F.col(id_col),
        F.explode(
            F.slice(F.col("_gset"), F.lit(1), prefix_len.cast("int"))
        ).alias("gram"),
        "_sz",
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    unit: str = "word",
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join via prefix filtering (the
    PPJoin-family set-similarity join) — returns every (id_a, id_b,
    jaccard) with ``id_a < id_b`` and ``jaccard >= threshold``, with no
    approximation, and never an all-pairs product.

    Scale shape: candidate pairs come from an equi-join on PREFIX grams
    only.  Each doc's gram set is ordered globally by (document frequency,
    gram) and truncated to its first ``|G| - ceil(t*|G|) + 1`` grams — if
    ``J(A,B) >= t`` then ``|A∩B| >= t*max(|A|,|B|)``, so the intersection
    cannot fit entirely inside either suffix and both prefixes must
    contain a shared gram.  Rarest-first ordering makes the join keys the
    LOW-frequency grams: bucket sizes stay small by construction, the
    opposite of joining on stop-grams.  Candidates additionally pass the
    PPJoin length filter (``t*|A| <= |B| <= |A|/t``) before any
    verification work.

    Verification joins each surviving candidate to the two per-doc sorted
    gram ARRAYS and computes ``size(array_intersect(...))`` in a single
    codegen'd expression — the candidate row count never explodes back
    into per-gram rows the way a count-the-intersection join would
    (|cand| x avg_set_size rows through a shuffle).  Stage budget: ONE
    gram-partitioned window for document frequency, ONE doc-keyed
    aggregate building the rarest-first-sorted gram set (prefix slice
    and verification array both read from it — see
    :func:`_ranked_doc_sets`), the bounded prefix self-join, two
    verification joins.  Everything is expression-only.

    ``unit='word'`` (default) shingle-izes on words — see
    :func:`word_ngrams` for why character grams defeat prefix filtering
    on low-alphabet corpora.  The DuckDB oracle for this operator
    deliberately takes the naive candidates-from-ANY-shared-gram path —
    equality against it at test SF proves the prefix filter drops no
    qualifying pair.
    """
    per_doc = _ranked_doc_sets(df, n, text_col, id_col, unit)
    # prefix length: |G| - ceil(t*|G|) + 1 rarest-first grams per doc
    prefix = _prefix_grams(per_doc, id_col, threshold)

    cand = (
        prefix.select(F.col(id_col).alias("id_a"), "gram", F.col("_sz").alias("_sa"))
        .join(
            prefix.select(F.col(id_col).alias("id_b"), "gram", F.col("_sz").alias("_sb")),
            "gram",
        )
        .where(
            (F.col("id_a") < F.col("id_b"))
            # length filter: J(A,B) >= t forces t*|A| <= |B| <= |A|/t
            & (F.col("_sb") >= _req_ceil(threshold, F.col("_sa")))
            & (F.col("_sa") >= _req_ceil(threshold, F.col("_sb")))
        )
        .select("id_a", "id_b")
        # a pair sharing k prefix grams meets k times
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        _attach_sides(cand, per_doc, id_col, "_gset", "_g")
        .withColumn("_c", F.size(F.array_intersect("_ga", "_gb")))
        .withColumn(
            "jaccard",
            F.col("_c").cast("double")
            / (F.size("_ga") + F.size("_gb") - F.col("_c")).cast("double"),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    unit: str = "word",
) -> DataFrame:
    """EXACT n-gram CONTAINMENT join: every directed pair (id_a, id_b,
    containment) with ``id_a != id_b`` and ``|A ∩ B| / |A| >= threshold``
    — doc A's gram set (nearly) inside doc B's.

    Why alongside Jaccard: containment catches near-SUPERSET duplicates
    that symmetric similarity misses by construction — a document quoted
    whole inside a longer page, a truncated crawl of a full article, a
    chapter inside the book — where ``J(A,B) = |A|/|B|`` can be
    arbitrarily small while A is 100% contained.  RefinedWeb/Dolma-style
    pipelines run exactly this screen ("substring contamination") after
    symmetric dedup.

    Scale shape mirrors :func:`ngram_jaccard_pairs` with ONE asymmetry:
    only the CONTAINED side is prefix-filtered.  If ``|A∩B| >= t*|A|``
    the intersection cannot hide in A's suffix, so A's first
    ``|A| - ceil(t*|A|) + 1`` rarest grams must hit B — but B admits no
    prefix truncation (the container may be arbitrarily large), so A's
    prefix joins against B's FULL gram table.  Rarest-first ordering
    keeps those join keys low-frequency; the only length filter is the
    one containment implies, ``|B| >= t*|A|`` (no upper bound — that is
    the point).  Verification reuses the sorted-array
    ``array_intersect`` expression, dividing by ``|A|`` instead of the
    union size.  The persisted per-doc rollup (:func:`_ranked_doc_sets`)
    feeds the prefix side, the exploded full-set container side, and
    verification alike."""
    per_doc = _ranked_doc_sets(df, n, text_col, id_col, unit)
    prefix = _prefix_grams(per_doc, id_col, threshold)
    # container side: the FULL gram set, no prefix truncation
    full = per_doc.select(
        F.col(id_col), F.explode("_gset").alias("gram"), "_sz"
    )

    cand = (
        prefix.select(
            F.col(id_col).alias("id_a"), "gram", F.col("_sz").alias("_sa")
        )
        .join(
            full.select(
                F.col(id_col).alias("id_b"), "gram", F.col("_sz").alias("_sb")
            ),
            "gram",
        )
        .where(
            (F.col("id_a") != F.col("id_b"))
            # containment forces |B| >= t*|A|; no upper bound on |B|
            & (F.col("_sb") >= _req_ceil(threshold, F.col("_sa")))
        )
        .select("id_a", "id_b")
        # a pair sharing k prefix grams meets k times
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        _attach_sides(cand, per_doc, id_col, "_gset", "_g")
        .withColumn(
            "containment",
            F.size(F.array_intersect("_ga", "_gb")).cast("double")
            / F.size("_ga").cast("double"),
        )
        .where(F.col("containment") >= F.lit(threshold))
        .select("id_a", "id_b", "containment")
    )


def contamination_counts(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination screening: for every corpus document, count
    how many of its distinct word ``n``-grams also appear in the benchmark
    set — the decontamination pass every serious pretraining pipeline runs
    (drop or flag training docs that leak eval data).

    Scale shape: the benchmark gram vocabulary is tiny relative to the
    corpus (eval suites are thousands of documents, the corpus is
    billions), so the gram join BROADCASTS the benchmark side — the
    corpus gram stream never shuffles; each task filters its grams
    against the broadcast hash set and only the surviving (doc, gram)
    rows enter the final per-doc count.  Returns (doc_id,
    n_contaminated_grams) for docs with at least one hit; callers
    anti-join or threshold on it.
    """
    corpus_grams = word_ngrams(corpus, n, text_col, id_col)
    bench_grams = (
        word_ngrams(benchmark, n, text_col, id_col).select("gram").distinct()
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )


def repeated_span_stats(
    corpus: DataFrame,
    n: int = 10,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level duplication screen: for every document, how many of its
    distinct word ``n``-gram spans also appear in at least ``min_docs``
    documents (itself included) — the cross-document repeated-substring
    signal behind span-level dedup (long spans shared across many
    documents are boilerplate or templated text that a model memorizes
    verbatim; whole-doc dedup never sees them because the surrounding
    documents differ).

    Scale shape mirrors :func:`tfidf_top_terms`'s document frequency: the
    span's document count is a WINDOW over the already-distinct
    (doc, gram) rows — one shuffle keyed on the gram, no join back to the
    corpus, then one map-side-combining groupBy back to the doc.  Returns
    (doc_id, n_spans, n_shared_spans, shared_frac).
    """
    from pyspark.sql import Window

    grams = word_ngrams(corpus, n, text_col, id_col)
    with_df = grams.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    )
    return (
        with_df.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("_df") >= min_docs).cast("long")).alias(
                "n_shared_spans"
            ),
        )
        .withColumn(
            "shared_frac",
            F.col("n_shared_spans").cast("double") / F.col("n_spans"),
        )
    )


def positional_word_ngrams(
    df: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Every word ``n``-gram occurrence WITH its 0-based start-token
    position: (id, pos, gram) — NOT distinct, one row per occurrence.
    The positional twin of :func:`word_ngrams`, for span-level operators
    that must map grams back onto the token stream."""
    words = words_expr(F.col(text_col))
    shingle = ", ".join(f"_w[i+{j}]" for j in range(n))
    return (
        df.select(F.col(id_col), words.alias("_w"))
        .where(F.size("_w") >= n)
        .select(
            id_col,
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(_w) - {n}), i -> "
                    f"struct(CAST(i AS BIGINT) AS pos,"
                    f" concat_ws(' ', {shingle}) AS gram))"
                )
            ).alias("_pg"),
        )
        .select(id_col, F.col("_pg.pos").alias("pos"), F.col("_pg.gram").alias("gram"))
    )


def cross_doc_spans(
    corpus: DataFrame,
    k: int = 8,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document EXACT-substring dedup, Lee et al. 2022 style
    ("Deduplicating Training Data Makes Language Models Better"): find,
    per document, every maximal token span whose ``k``-token passages
    each occur in >= ``min_docs`` distinct documents corpus-wide — the
    boilerplate/license-paragraph killer that whole-document dedup,
    Jaccard, AND containment joins all miss (two long documents sharing
    ONE paragraph have near-zero set overlap; see the contract test).

    Algorithm: positional ``k``-grams -> corpus-wide gram document
    frequency -> keep gram occurrences whose gram clears ``min_docs`` ->
    merge overlapping/adjacent duplicated gram starts per document into
    maximal spans (gaps-and-islands: a new island starts when
    ``pos > lag(pos) + k``, i.e. the previous gram's token range
    ``[lag, lag+k-1]`` neither overlaps nor touches this one).

    Scale shape: the document frequency is a **groupBy, not a window** —
    unlike :func:`repeated_span_stats`'s per-doc ratios this operator
    only needs the tiny above-threshold gram list back, and boilerplate
    grams are skewed by design (the interesting gram appears in 40k
    docs): a window would sort the full occurrence table inside the hot
    partition, while the groupBy's map-side partial aggregation collapses
    each task's occurrences to one row per gram before the shuffle.  The
    join back is an equi-join on gram where the duplicated-gram side is
    threshold-pruned and small (AQE broadcasts it); the island merge is
    one per-document window over hit positions only (hits << tokens).

    Returns (id, span_start, span_tokens, span_text): 0-based start
    token, span length in tokens, and the lower/whitespace-normalized
    passage text.
    """
    from pyspark.sql import Window

    occ = _persist_tracked(
        positional_word_ngrams(corpus, k, text_col, id_col)
    )
    dup = (
        occ.groupBy("gram")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("gram")
    )
    hits = occ.join(dup, "gram", "left_semi").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    grouped = (
        hits.withColumn(
            "_brk",
            F.when(F.col("pos") > F.lag("pos").over(w) + k, 1).otherwise(0),
        )
        .withColumn(
            "_g",
            F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(id_col, "_g")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).alias("span_tokens"),
        )
    )
    words = words_expr(F.col(text_col))
    toks = corpus.select(F.col(id_col), words.alias("_w"))
    return (
        grouped.join(toks, id_col)
        .select(
            id_col,
            "span_start",
            "span_tokens",
            F.concat_ws(
                " ",
                F.slice(
                    F.col("_w"),
                    F.col("span_start") + 1,
                    F.col("span_tokens"),
                ),
            ).alias("span_text"),
        )
    )


def strip_cross_doc_spans(
    corpus: DataFrame,
    k: int = 8,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove every cross-document duplicated span found by
    :func:`cross_doc_spans` from each document, keeping the surrounding
    text — span-level dedup (strip the boilerplate, keep the document)
    versus document-level dedup (drop one of the pair).

    Output text is token-space: lowercased, whitespace-normalized tokens
    re-joined by single spaces (the same normalization the span
    positions are defined over).  Documents with no duplicated span pass
    through with only that normalization; ``tokens_removed`` counts the
    stripped tokens.

    Scale shape: the span table is the small side (only documents with
    boilerplate, a few spans each) — collected to one array per doc and
    joined back LEFT onto the corpus (AQE broadcast); the strip itself
    is a per-row ``filter`` over the token array, no second pass over
    the corpus.
    """
    spans = (
        cross_doc_spans(corpus, k, min_docs, text_col, id_col)
        .groupBy(id_col)
        .agg(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"),
                    (F.col("span_start") + F.col("span_tokens") - 1).alias(
                        "e"
                    ),
                )
            ).alias("_spans")
        )
    )
    words = words_expr(F.col(text_col))
    return (
        corpus.select(F.col(id_col), words.alias("_w"))
        .join(spans, id_col, "left")
        .select(
            id_col,
            F.expr(
                "concat_ws(' ', transform(filter("
                "  transform(_w, (t, i) -> struct(t AS t, i AS i)),"
                "  x -> _spans IS NULL OR NOT exists("
                "    _spans, sp -> x.i >= sp.s AND x.i <= sp.e)"
                "), x -> x.t))"
            ).alias("clean_text"),
            F.coalesce(
                F.aggregate(
                    "_spans",
                    F.lit(0).cast("long"),
                    lambda acc, sp: acc + sp["e"] - sp["s"] + 1,
                ),
                F.lit(0).cast("long"),
            ).alias("tokens_removed"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop corpus documents that leak at least ``min_hits`` distinct word
    ``n``-grams from the benchmark set — the consuming half of
    :func:`contamination_counts` (which only FLAGS leaks): this is the
    stage a pretraining pipeline actually runs before training.

    Scale shape: the screening join broadcasts the benchmark gram
    vocabulary, so the corpus never shuffles to discover its flagged ids;
    the flagged-id set is then tiny relative to the corpus (leaks are the
    exception, not the rule), so AQE converts the final anti-join to a
    broadcast at runtime and the corpus avoids a shuffle there too.  A
    forced ``F.broadcast`` is deliberately NOT used on the flagged side —
    an adversarially contaminated corpus could flag a large fraction, and
    the runtime decision degrades gracefully where a hint would OOM.
    """
    flagged = (
        contamination_counts(corpus, benchmark, n, text_col, id_col)
        .where(F.col("n_contaminated_grams") >= F.lit(int(min_hits)))
        .select(id_col)
    )
    return corpus.join(flagged, on=id_col, how="left_anti")


def salted_band_sides(
    fan: DataFrame,
    id_col: str,
    key: str = "band_key",
    max_bucket_size: int | None = None,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Self-join sides over a banded signature fan-out, with hot band
    buckets split across salted sub-groups — the shared skew mechanism
    of the banded dedup family (aHash, blocked linkage; any (id,
    band_key) candidate generator).

    A band-key self-join puts a bucket of ``m`` rows into ONE hash-join
    group: ``m^2`` candidate comparisons on a single task.  Low-entropy
    corpora make buckets hot (near-uniform payloads concentrate whole
    bands on one chunk — measured ~15M candidates from 10k payloads at
    sf0.1 for aHash), so one straggler task grinds while the rest of
    the cluster idles.  With ``max_bucket_size`` set, buckets larger
    than the cap are split: the LEFT side is salted into
    ``ceil(m/cap)`` sub-groups by ``pmod(xxhash64(id), n_salt)`` and
    the RIGHT side is replicated into every sub-group, so each join
    group does at most ``cap * m`` comparisons and the hot bucket
    spreads over ``n_salt`` tasks.  EXACT: every (a, b) pair of a
    bucket meets in exactly one sub-group (a's), so candidate
    multiplicity per shared band is unchanged — downstream first-
    matching-band predicates / dropDuplicates behave identically and
    results are bit-identical to the unsalted plan.

    The oversized-bucket directory is a broadcast (an aggregate keyed
    by band_key, filtered to buckets > cap — hot buckets are FEW by
    nature; a corpus where most buckets are hot needs exact dedup run
    first, not a bigger join).  Replication cost is
    ``m * ceil(m/cap)`` rows per hot bucket — quadratic-over-cap, the
    price of exact recall; for degenerate multiplicities (millions of
    identical payloads) run exact dedup upstream, which removes the
    bucket entirely.  ``None`` returns the fan-out untouched with the
    bare band key — the zero-overhead default.
    """
    if max_bucket_size is None:
        return fan, fan, [key]
    cap = int(max_bucket_size)
    if cap < 1:
        raise ValueError("max_bucket_size must be >= 1")
    # Three consumers derive from the fan-out (the hot-bucket directory
    # and both join sides); without a persist boundary the banded
    # explode — the family's most expensive upstream stage on exactly
    # the low-entropy corpora salting targets — recomputes three times.
    # Same _persist_tracked boundary as the signature tables;
    # release_caches() frees it.
    fan = _persist_tracked(fan)
    hot = (
        fan.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_bc"))
        .where(F.col("_bc") > cap)
        .select(
            key,
            F.ceil(F.col("_bc") / F.lit(cap)).cast("int").alias("_ns"),
        )
    )
    with_ns = fan.join(F.broadcast(hot), key, "left").withColumn(
        "_ns", F.coalesce(F.col("_ns"), F.lit(1))
    )
    a_fan = with_ns.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.col(id_col)), F.col("_ns")).cast("int"),
    ).drop("_ns")
    b_fan = with_ns.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.col("_ns") - 1))
    ).drop("_ns")
    return a_fan, b_fan, [key, "_salt"]


def bucket_pairs(
    fan: DataFrame,
    id_col: str,
    carry: list[str],
    *,
    key: str = "band_key",
    max_bucket_size: int | None = None,
    n_bands: int = 0,
    band_differs: Callable[[int], Column] | None = None,
) -> DataFrame:
    """THE candidate self-join of the banded near-duplicate families
    (MinHash, SimHash, aHash, blocked linkage, the streaming intra-batch
    screen): ``(id_a, id_b, <c>_a..., <c>_b...)`` for every pair of
    ``fan`` rows sharing ``key``, with ``id_a < id_b``.  Each caller
    adds its own verification as ordinary Column code over the carried
    ``carry`` columns.

    Hot buckets split through :func:`salted_band_sides` under
    ``max_bucket_size`` (exact: each pair still meets once per shared
    key).  With ``band_differs`` set, ``fan`` is a per-(id, band)
    fan-out with a ``_band`` index and a key that includes it, and a
    pair is emitted ONLY from the lowest band its sides share: band
    ``b`` keeps a row iff every band ``b' < b`` differs
    (``band_differs(b')``, over the carried columns).  One row per
    (id, band) per side and exactly one first-matching band make the
    candidate set unique by construction, so no ``dropDuplicates``
    exchange reshuffles the m^2-per-hot-bucket candidate stream; the
    later-band copies it would discard are never emitted."""
    a_fan, b_fan, keys = salted_band_sides(fan, id_col, key, max_bucket_size)

    def side(f: DataFrame, s: str, *band: str) -> DataFrame:
        return f.select(
            F.col(id_col).alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
            *band,
            *keys,
        )

    band = ["_band"] if band_differs is not None else []
    pairs = (
        side(a_fan, "a", *band)
        .join(side(b_fan, "b"), keys)
        .where(F.col("id_a") < F.col("id_b"))
    )
    if band and n_bands > 1:
        pairs = pairs.where(
            reduce(
                and_,
                [
                    (F.col("_band") <= F.lit(b)) | band_differs(b)
                    for b in range(n_bands - 1)
                ],
            )
        )
    return pairs.select(
        "id_a", "id_b", *[f"{c}_{s}" for s in "ab" for c in carry]
    )


# ---------------------------------------------------------------------------
# SimHash (60-bit, expression-only)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex chars -> fits a signed 64-bit integer
SIMHASH_BANDS = 4  # 15-bit chunks for the banded pair join


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """60-bit SimHash per document: per-token sha256-derived integers vote
    ±1 on each bit position; the sign of each bit's sum sets the bit.

    Shape: explode(tokens) -> ONE aggregate carrying the 60 per-bit vote
    sums as independent aggregate COLUMNS of the same token row (the
    :func:`_minhash_table` pattern).  The retired form exploded every
    token row 60 ways (one row per bit position) and re-collapsed through
    TWO hash aggregates — a 60x row fan-out whose (doc, bit)-keyed
    shuffle and 60x-sized aggregation hash map were the operator's whole
    cost.  Per-bit vote sums are plain conditional sums over token rows,
    so computing them side by side keeps the row count at |tokens|, needs
    a single doc-keyed shuffle with map-side partial aggregation (60
    longs per doc), and the final signature is one arithmetic expression
    over the 60 sums (bit terms are disjoint powers of two, so + is |).
    Each per-bit sum adds the IDENTICAL ±1 integer votes the exploded
    form summed — results are bit-identical.  Returns (id_col, simhash
    long).
    """
    words = words_expr(F.col(text_col))
    tok = (
        df.select(F.col(id_col), F.explode(words).alias("tok"))
        .withColumn(
            "tok_hash",
            F.conv(F.substring(F.sha2(F.col("tok"), 256), 1, 15), 16, 10).cast(
                "long"
            ),
        )
    )
    sums = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.expr(
                    f"CASE WHEN (shiftright(tok_hash, {b}) & 1) = 1 "
                    "THEN 1 ELSE -1 END"
                )
            ).alias(f"_s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig = None
    for b in range(SIMHASH_BITS):
        term = F.when(
            F.col(f"_s{b}") > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate pairs: banded candidate generation + exact
    Hamming verification.

    Pigeonhole banding: with SIMHASH_BANDS chunks, two signatures within
    Hamming distance < SIMHASH_BANDS are GUARANTEED to share an identical
    chunk (distance errors can't touch every chunk); candidates come from
    an equi-join on (band, chunk), never an all-pairs scan.  For
    ``max_hamming >= SIMHASH_BANDS`` recall is best-effort: a pair whose
    differing bits hit every chunk generates no candidate.  Returns
    (id_a, id_b, hamming) with ``id_a < id_b`` and
    ``hamming <= max_hamming``.

    Candidates come from :func:`bucket_pairs` with the first-match
    rule over the shifted ``sig`` chunks.
    """
    chunk_bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << chunk_bits) - 1
    sigs = _persist_tracked(simhash(df, text_col, id_col))
    banded = sigs.select(
        id_col,
        F.col("simhash").alias("sig"),
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        F.expr(
                            f"CAST(shiftright(simhash, {b * chunk_bits})"
                            f" & {mask} AS STRING)"
                        ),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("_band", "band_key"),
    )

    def chunk(col: str, b: int) -> Column:
        return F.expr(f"shiftright({col}, {b * chunk_bits}) & {mask}")

    pairs = bucket_pairs(
        banded,
        id_col,
        ["sig"],
        n_bands=SIMHASH_BANDS,
        band_differs=lambda b: chunk("sig_a", b) != chunk("sig_b", b),
    )
    return (
        pairs.withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
