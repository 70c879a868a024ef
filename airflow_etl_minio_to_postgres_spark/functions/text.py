"""Text analysis over document tables — tokenization, quality scoring,
language id, fingerprints.

All operators are single-pass narrow column expressions (no shuffle, no
Python): at 100 TB each is a map over the ``documents`` scan with the text
column pruned in.  Every expression is chosen to be bit-reproducible in
ANSI SQL (DuckDB oracle): splits/regexes shared by both engines, integer
ratios computed as IEEE double divisions of identical operands, no
transcendentals.

This module extends the reference surface (its scalar functions stop at
lower/trim/concat/sha256 — ``dags/dag_etl_minio_to_postgres.py:60-212``)
with the operations a large-scale LLM training-data pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# BPE-ish token pattern: runs of alphanumerics OR single non-space symbols —
# the same regex works in Java (Spark) and RE2 (DuckDB).
TOKEN_PATTERN = "[a-z0-9]+|[^a-z0-9\\s]"
WHITESPACE = "\\s+"

# Tiny stopword inventories for the language-id heuristic.  Deliberately
# small: the operator's value is its *shape* (vectorized per-language scoring
# + deterministic argmax), not lexicon quality.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den", "mit", "von"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est", "que", "pour"],
}


def words_expr(text: Column) -> Column:
    """Whitespace word split of lower/trimmed text."""
    return F.split(F.lower(F.trim(text)), WHITESPACE)


def tokens_expr(text: Column) -> Column:
    """BPE-ish regex tokenization (alnum runs + individual symbols)."""
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_PATTERN), 0)


def token_count_expr(text: Column) -> Column:
    return F.size(tokens_expr(text))


def word_count_expr(text: Column) -> Column:
    return F.size(words_expr(text))


def stopword_ratio_expr(text: Column, lang: str = "en") -> Column:
    """Fraction of words found in the ``lang`` stopword set (double)."""
    stoplist = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    words = words_expr(text)
    hits = F.size(F.filter(words, lambda w: F.array_contains(stoplist, w)))
    return hits.cast("double") / F.size(words).cast("double")


def punct_ratio_expr(text: Column) -> Column:
    """Fraction of characters that are not ``[a-z0-9 ]`` after lowering."""
    low = F.lower(text)
    stripped = F.regexp_replace(low, "[^a-z0-9 ]", "")
    return (F.length(low) - F.length(stripped)).cast("double") / F.length(
        low
    ).cast("double")


def quality_score_expr(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic: stopword presence + length,
    penalized by symbol density.  Linear clamp only — no transcendentals, so
    the oracle reproduces it exactly."""
    stop = stopword_ratio_expr(text, "en")
    length_term = F.least(
        F.lit(1.0), word_count_expr(text).cast("double") / F.lit(50.0)
    )
    penalty = punct_ratio_expr(text)
    raw = F.lit(0.5) * stop + F.lit(0.5) * length_term - F.lit(0.25) * penalty
    return F.least(F.lit(1.0), F.greatest(F.lit(0.0), raw))


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: stopword_ratio_expr(text, lang) for lang in STOPWORDS}


def lang_id_expr(text: Column) -> Column:
    """Argmax over per-language stopword ratios with a fixed tie-break order
    (en > de > fr).  Scores are identical-operand double divisions, so both
    engines agree bit-for-bit."""
    s = lang_scores(text)
    return (
        F.when((s["en"] >= s["de"]) & (s["en"] >= s["fr"]), F.lit("en"))
        .when(s["de"] >= s["fr"], F.lit("de"))
        .otherwise(F.lit("fr"))
    )


def _stop_ratio_of(ws: Column, lang: str) -> Column:
    """:func:`stopword_ratio_expr` over an ALREADY-BOUND words array —
    identical operands and operations, so identical doubles."""
    stoplist = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(ws, lambda w: F.array_contains(stoplist, w)))
    return hits.cast("double") / F.size(ws).cast("double")


def _punct_ratio_of(low: Column) -> Column:
    """:func:`punct_ratio_expr` over an ALREADY-BOUND lowered text."""
    stripped = F.regexp_replace(low, "[^a-z0-9 ]", "")
    return (F.length(low) - F.length(stripped)).cast("double") / F.length(
        low
    ).cast("double")


def quality_lang_pred_expr(
    text: Column, quality_min: float, lang: str = "en"
) -> Column:
    """The training-funnel admission predicate —
    ``quality_score_expr(text) >= quality_min AND lang_id_expr(text) ==
    lang`` — with every shared subexpression computed ONCE per row.

    Why not just AND the two reference expressions: FilterExec's codegen
    does no common-subexpression elimination, so the combined predicate
    evaluates ``split(lower(trim(text)))`` up to ~15x per row (two per
    stopword ratio x three languages x two references in the lang-id
    when-chain, plus the quality branches) — measured as the largest
    attributable per-row cost left in the docs funnel (r17 "not yet
    optimized"; guide §1.2 step 2, per-task work).  SQL has no let
    binding, but a single-element-array higher-order function is one:
    ``exists(array(struct(words, low)), m -> ...)`` evaluates the struct
    exactly once and binds it to the lambda variable, so every reference
    inside is a variable read.  Two nesting levels: the outer binds the
    split words array and the lowered text, the inner binds the three
    per-language stopword ratios, the word count and the punctuation
    ratio; the final predicate is pure scalar arithmetic over bound
    values.

    Equivalence is by construction — the bound plan computes the SAME
    operand expressions with the SAME operations (same doubles bit for
    bit, same NULL/three-valued-logic behavior: a NULL text yields a
    NULL predicate in both forms, which WHERE treats as false), pinned
    by the adversarial parity test.  The predicate stays a narrow,
    deterministic, single-column filter — it pushes into the scan stage
    exactly like the reference form."""
    bound = F.array(
        F.struct(
            words_expr(text).alias("ws"),
            F.lower(text).alias("low"),
        )
    )

    def _pred(m: Column) -> Column:
        ws, low = m["ws"], m["low"]
        scores = F.array(
            F.struct(
                _stop_ratio_of(ws, "en").alias("en"),
                _stop_ratio_of(ws, "de").alias("de"),
                _stop_ratio_of(ws, "fr").alias("fr"),
                F.size(ws).cast("double").alias("wc"),
                _punct_ratio_of(low).alias("punct"),
            )
        )

        def _final(s: Column) -> Column:
            raw = (
                F.lit(0.5) * s["en"]
                + F.lit(0.5) * F.least(F.lit(1.0), s["wc"] / F.lit(50.0))
                - F.lit(0.25) * s["punct"]
            )
            q = F.least(F.lit(1.0), F.greatest(F.lit(0.0), raw))
            lang_pred = (
                F.when(
                    (s["en"] >= s["de"]) & (s["en"] >= s["fr"]), F.lit("en")
                )
                .when(s["de"] >= s["fr"], F.lit("de"))
                .otherwise(F.lit("fr"))
            )
            return (q >= F.lit(float(quality_min))) & (
                lang_pred == F.lit(lang)
            )

        return F.exists(scores, _final)

    return F.exists(bound, _pred)


def fingerprint_expr(text: Column, hash_len: int = 16) -> Column:
    """Whitespace-canonical sha256 fingerprint: two documents differing only
    in whitespace/case share a fingerprint."""
    normalized = F.regexp_replace(F.lower(F.trim(text)), WHITESPACE, " ")
    return F.substring(F.sha2(normalized, 256), 1, hash_len)


def stratified_cap(
    df: DataFrame,
    group_col: str,
    id_col: str,
    cap: int,
    hash_len: int = 16,
) -> DataFrame:
    """Deterministic stratified downsampling: keep at most ``cap`` rows per
    group, chosen by sha256-of-id order (a seedless, partition-independent
    shuffle).  The training-data mixing primitive — cap an over-represented
    source without RNG state, reproducible on any engine/cluster layout.
    """
    from pyspark.sql import Window

    rank_key = F.substring(
        F.sha2(F.col(id_col).cast("string"), 256), 1, hash_len
    )
    w = Window.partitionBy(group_col).orderBy(rank_key, F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )


def dup_ngram_frac_expr(words_col: str, n: int) -> Column:
    """Fraction of word ``n``-grams that are repeats of an earlier one:
    ``1 - distinct/total`` — the Gopher-report-style repetition signal
    used to filter boilerplate and degenerate (looping) text.  A narrow
    per-row expression over the already-split word array; 0.0 for docs
    shorter than ``n`` words.  ``words_col`` is a column NAME — the gram
    generator is built as one SQL string so the array is indexed in
    place, not re-derived per gram by projection collapse."""
    words = F.col(words_col)
    if n == 1:
        grams = words
    else:
        shingle = ", ".join(f"{words_col}[i+{j}]" for j in range(n))
        grams = F.expr(
            f"transform(sequence(0, size({words_col}) - {n}),"
            f" i -> concat_ws(' ', {shingle}))"
        )
    total = F.size(grams)
    return F.when(
        F.size(words) >= n,
        F.lit(1.0)
        - F.size(F.array_distinct(grams)).cast("double") / total.cast("double"),
    ).otherwise(F.lit(0.0))


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition profile: (id, n_words, top_word_frac,
    dup_2gram_frac, dup_3gram_frac).

    ``top_word_frac`` (share of the single most frequent word) needs a
    per-(doc, word) count — explode + two partial aggregations, both
    map-side combinable, shuffle keyed on the doc id.  The duplicate
    n-gram fractions are pure narrow expressions over the split array and
    ride the same single pass.  The expensive explode path carries only
    (id, word), never the document text.
    """
    words = words_expr(F.col(text_col))
    base = df.select(F.col(id_col), words.alias("_w")).where(F.size("_w") > 0)
    per_word = (
        base.select(id_col, F.explode("_w").alias("_word"))
        .groupBy(id_col, "_word")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    top = per_word.groupBy(id_col).agg(
        F.max("_c").alias("_top"), F.sum("_c").alias("n_words")
    )
    fracs = base.select(
        id_col,
        dup_ngram_frac_expr("_w", 2).alias("dup_2gram_frac"),
        dup_ngram_frac_expr("_w", 3).alias("dup_3gram_frac"),
    )
    return top.join(fracs, on=id_col).select(
        id_col,
        F.col("n_words").cast("long").alias("n_words"),
        (F.col("_top").cast("double") / F.col("n_words").cast("double")).alias(
            "top_word_frac"
        ),
        "dup_2gram_frac",
        "dup_3gram_frac",
    )


def mask_terms(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    mask: str = "[MASKED]",
) -> DataFrame:
    """Blocklist term masking — the PII-redaction / bad-word-filter shape
    used on raw training corpora (the C4 'dirty word' pass, or masking
    emails/phones before pretraining).  Emits the masked text plus the
    per-document hit count so downstream filters can drop documents whose
    hit density is too high instead of merely scrubbing them.

    One ``regexp_replace`` + one ``regexp_count`` over the text column:
    narrow, shuffle-free, whole-stage-codegen'd — at 100 TB this is a map
    over the scan, and the regex alternation is compiled once per task,
    not per row.  The word-boundary anchors keep ``spark`` from matching
    inside ``sparkle``; the same RE2/Java-compatible pattern runs verbatim
    in the DuckDB oracle."""
    pattern = "\\b(" + "|".join(terms) + ")\\b"
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.regexp_replace(t, pattern, mask).alias("masked_text"),
        # python-side F.lit keeps the backslashes out of the SQL-literal
        # escape rules (a '\b' inside an expr() string is a backspace char)
        F.size(F.regexp_extract_all(t, F.lit(pattern), F.lit(0)))
        .cast("long")
        .alias("n_masked"),
    )


def chunk_text(
    df: DataFrame,
    chunk_tokens: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token windows with optional overlap
    — the context-window chunking step between cleaning and tokenization
    in a training/RAG pipeline (chunk N tokens, slide by N - overlap).

    Expression-only fan-out: one ``split`` per document, chunk starts from
    ``sequence(0, n_words-1, step)``, each chunk a ``slice`` of the
    already-split array — no Python, no shuffle; output rows carry
    (doc_id, chunk_id, chunk_text, n_chunk_tokens).  At 100 TB this is a
    narrow map whose output is larger than its input by ~1/(1-overlap
    ratio); the explode happens AFTER Catalyst prunes unused columns, so
    only the word array fans out, not the whole row."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    words = F.split(F.lower(F.trim(F.col(text_col))), WHITESPACE)
    base = df.select(F.col(id_col), words.alias("_w")).where(
        (F.size("_w") > 1) | (F.element_at("_w", 1) != "")
    )
    return (
        base.select(
            id_col,
            F.posexplode(
                F.expr(f"sequence(0, size(_w) - 1, {step})")
            ).alias("chunk_id", "_start"),
            "_w",
        )
        .select(
            id_col,
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.concat_ws(
                " ", F.slice(F.col("_w"), F.col("_start") + 1, chunk_tokens)
            ).alias("chunk_text"),
            F.least(
                F.lit(chunk_tokens), F.size("_w") - F.col("_start")
            )
            .cast("long")
            .alias("n_chunk_tokens"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document: ``(doc_id, word, score)``.

    The classic keyword-extraction / topic-fingerprint pass over a
    training corpus.  Three bounded shuffles, no joins back to the corpus:

    1. term frequency — groupBy (doc, word) with map-side combine, the
       only stage that sees every token;
    2. document frequency — a ``count over (partition by word)`` WINDOW on
       the already-aggregated (doc, word) rows, which reuses that row set
       instead of a separate df aggregate + equi-join back;
    3. per-doc top-k — one row_number window over (doc), input already
       shrunk to distinct (doc, word) pairs.

    The corpus size N enters as a broadcast 1-row cross-join (same
    no-collect pattern as q3's scalar subquery).  idf = ln((N+1)/(df+1))
    — the +1 smoothing keeps corpus-wide words finite.  Ordering ties
    break on the word itself, so the result is deterministic."""
    spark_words = F.split(F.lower(F.trim(F.col(text_col))), WHITESPACE)
    tokens = df.select(
        F.col(id_col), F.explode(spark_words).alias("word")
    ).where(F.col("word") != "")
    tf = tokens.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
    from pyspark.sql import Window

    with_df = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("word"))
    )
    n_docs = F.broadcast(df.agg(F.count(F.lit(1)).alias("_n_docs")))
    scored = with_df.crossJoin(n_docs).withColumn(
        "score",
        F.col("tf")
        * F.log((F.col("_n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
    )
    ranked = scored.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy(
                F.col("score").desc(), F.col("word")
            )
        ),
    )
    return ranked.where(F.col("_rn") <= k).select(id_col, "word", "score")


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` documents for a term query by BM25 — the LEXICAL
    retrieval path, the sparse complement of the embedding family's
    ANN serving (``ivf_topk_*``): production retrieval runs both and
    fuses, so an engine that serves dense top-k needs the sparse twin.

    Scoring is classic Okapi BM25:
    ``idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))`` and
    ``tf_part = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``, summed
    over the query's terms per document.

    Scale shape — the inverted-index access pattern without
    materializing one: the token explode filters to the QUERY'S terms
    immediately (a literal ``isin`` — the broadcast-vocabulary
    pattern), so the only stage that sees every token is a narrow
    scan+filter and everything that shuffles is (matching doc, term)
    sized; df-per-term rides a window over those aggregated rows
    (the tfidf precedent, no self-join); N and avgdl are ONE map-side
    corpus aggregate broadcast as a 1-row cross join (the q3 scalar
    pattern); doc length RIDES THROUGH the explode (it is a function
    of the doc, so ``max`` in the tf aggregate recovers it exactly) —
    no corpus-sized length table ever joins or shuffles.  Top-k is a
    TakeOrdered (orderBy+limit), ties broken on the doc id.  Float
    posture matches ``tfidf_top_terms``/``unigram_logprob``: per-term
    doubles with ``ln``, summed per doc — few terms per query keep the
    sum far from hash-rounding boundaries."""
    if not query_terms:
        raise ValueError("bm25_topk: query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})
    words = F.split(F.lower(F.trim(F.col(text_col))), WHITESPACE)
    d = df.select(F.col(id_col), words.alias("_w"))
    # corpus stats: one map-side-combined aggregate, broadcast back
    stats = F.broadcast(
        d.agg(
            F.count(F.lit(1)).alias("_n_docs"),
            F.avg(F.size(F.col("_w"))).alias("_avgdl"),
        )
    )
    tokens = (
        d.select(
            F.col(id_col),
            F.size(F.col("_w")).alias("_dl"),
            F.explode(F.col("_w")).alias("term"),
        )
        .where(F.col("term").isin(terms))
    )
    tf = tokens.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf"), F.max("_dl").alias("_dl")
    )
    from pyspark.sql import Window

    with_df = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    scored = (
        with_df.crossJoin(stats)
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "_tfp",
            F.col("tf")
            * F.lit(float(k1) + 1.0)
            / (
                F.col("tf")
                + F.lit(float(k1))
                * (
                    F.lit(1.0 - float(b))
                    + F.lit(float(b)) * F.col("_dl") / F.col("_avgdl")
                )
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.sum(F.col("_idf") * F.col("_tfp")).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(int(k))
    )


def write_inverted_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> str:
    """Materialize the BM25 serving layout — the sparse twin of
    ``similarity.write_ivf_index``: postings ``(doc_id, term, tf, dl)``
    written as parquet PARTITIONED BY ``term_bucket =
    pmod(xxhash64(term), n_buckets)``, so a query's terms become a
    partition-pruned scan reading only the probed bucket directories —
    at 100 TB the difference between touching ``|query terms|`` hash
    buckets and re-tokenizing the corpus per query.  A HASH bucket
    rather than the raw term because term cardinality is unbounded and
    Zipf-skewed (the near-dup store's band_bucket reasoning); one
    writer task per bucket.  Doc length is DENORMALIZED into every
    posting (the store-the-shingles trade) and the corpus stats the
    scoring needs — ``(n_docs, avgdl, n_buckets)`` — land in a
    ``_stats`` sidecar under the same root (underscore-prefixed, so
    table readers ignore it), making the index self-describing:
    serving reads ``n_buckets`` from the sidecar, never guesses.
    Empty-string tokens are not indexed.  Re-running overwrites
    (idempotent rebuild).  A corpus with ZERO indexable tokens is
    refused loudly BEFORE the overwrite touches ``path`` (a
    partitioned parquet table with no rows has no footers — every
    later serve would fail far from the cause; worse, refusing only
    AFTER the write would let an accidental rebuild from an empty
    corpus destroy a good serving index first).  The guard rides the
    same one-row stats aggregate the sidecar needs — collected here
    instead of written lazily, so the check costs no extra corpus
    pass.  Returns ``path``."""
    import os as _os

    words = F.split(F.lower(F.trim(F.col(text_col))), WHITESPACE)
    d = df.select(F.col(id_col), words.alias("_w"))
    srow = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(F.col("_w"))).alias("avgdl"),
        F.sum(
            F.size(F.filter(F.col("_w"), lambda w: w != ""))
        ).alias("_n_tokens"),
    ).collect()[0]
    if not srow["_n_tokens"]:
        raise ValueError(
            f"write_inverted_index: corpus for {path!r} produced zero "
            "postings (no non-empty tokens) — an empty index cannot "
            "be served; existing index left untouched"
        )
    spark = df.sparkSession
    stats = spark.createDataFrame(
        [(srow["n_docs"], srow["avgdl"], int(n_buckets))],
        "n_docs bigint, avgdl double, n_buckets int",
    )
    # doc length rides through the explode (a function of the doc, so
    # max in the tf aggregate recovers it exactly) — the posting build
    # never joins or shuffles a corpus-sized length table
    tf = (
        d.select(
            F.col(id_col),
            F.size(F.col("_w")).alias("_dl"),
            F.explode(F.col("_w")).alias("term"),
        )
        .where(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("_dl").alias("dl"))
    )
    postings = (
        tf.withColumn(
            "term_bucket",
            F.pmod(F.xxhash64(F.col("term")), F.lit(int(n_buckets))).cast(
                "int"
            ),
        )
        .repartition(int(n_buckets), "term_bucket")
    )
    (
        postings.write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(path)
    )
    stats.write.mode("overwrite").parquet(_os.path.join(path, "_stats"))
    return path


def bm25_topk_indexed(
    spark: SparkSession,
    path: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """Serve BM25 top-``k`` from a :func:`write_inverted_index` layout
    — the sparse mirror of ``ivf_topk_indexed``: the query's term
    buckets are computed with the ENGINE'S OWN hash over a terms-frame
    (bounded by ``|terms|`` — the IVF probe-collect pattern, and the
    only way the probe agrees bit-for-bit with the writer's bucketing),
    and the scan carries ``term_bucket IN (...)`` so Spark prunes to
    exactly those partition directories (PartitionFilters, pinned in
    tests).  Scoring replays :func:`bm25_topk`'s exact math — df as a
    window over the pruned postings (all postings for a term live in
    its bucket, so the pruned scan sees every one), corpus stats from
    the broadcast sidecar — and is bit-identical to the direct path
    over the same corpus."""
    import os as _os

    if not query_terms:
        raise ValueError("bm25_topk_indexed: query_terms must be non-empty")
    from airflow_etl_minio_to_postgres_spark.sources.manifest import (
        resolve_data_root,
    )

    path = resolve_data_root(spark, path)
    terms = sorted({t.lower() for t in query_terms})
    stats = spark.read.parquet(_os.path.join(path, "_stats"))
    srow = stats.collect()[0]
    n_buckets = int(srow["n_buckets"])
    # Probe buckets via ONE driver-local SQL over a VALUES relation —
    # still the engine's own xxhash64 (bit-agreement with the writer's
    # bucketing by construction), but ConvertToLocalRelation folds the
    # projection so the collect schedules no job (r18, the
    # _bloom_kept_files pattern: the retired createDataFrame probe paid
    # a Python->JVM conversion job of ~0.3-2 s per serve).  Terms a SQL
    # literal cannot render exactly fall back to the frame form.
    from airflow_etl_minio_to_postgres_spark.sources.manifest import (
        sql_cast_literals,
    )

    lits = sql_cast_literals(terms, "string")
    if lits is not None:
        probe = spark.sql(
            f"SELECT DISTINCT pmod(xxhash64(v), {int(n_buckets)}L) AS b "
            f"FROM VALUES {lits} AS t(v)"
        )
    else:
        probe = (
            spark.createDataFrame([(t,) for t in terms], "term string")
            .select(
                F.pmod(F.xxhash64(F.col("term")), F.lit(n_buckets)).alias(
                    "b"
                )
            )
            .distinct()
        )
    buckets = sorted(int(r[0]) for r in probe.collect())
    postings = (
        spark.read.parquet(path)
        .where(F.col("term_bucket").isin(buckets))
        .where(F.col("term").isin(terms))
    )
    from pyspark.sql import Window

    with_df = postings.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    scored = (
        with_df.crossJoin(
            F.broadcast(
                stats.select(
                    F.col("n_docs").alias("_n_docs"),
                    F.col("avgdl").alias("_avgdl"),
                )
            )
        )
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "_tfp",
            F.col("tf")
            * F.lit(float(k1) + 1.0)
            / (
                F.col("tf")
                + F.lit(float(k1))
                * (
                    F.lit(1.0 - float(b))
                    + F.lit(float(b)) * F.col("dl") / F.col("_avgdl")
                )
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.sum(F.col("_idf") * F.col("_tfp")).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(int(k))
    )


def bm25_topk_batch(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    query_id_col: str = "qid",
    terms_col: str = "terms",
) -> DataFrame:
    """Serve BM25 top-``k`` for a TABLE of queries from a
    :func:`write_inverted_index` layout — the sparse twin of
    ``similarity.ivf_topk_batch``, completing the serving symmetry
    (dense and sparse each have direct / indexed / batched forms).
    ``queries`` is ``(query_id_col, terms_col: array<string>)``.

    Shape at scale: the union of all queries' terms drives ONE
    partition-pruned postings scan shared by every query — probe
    buckets are computed with the ENGINE'S OWN hash over the distinct
    terms (bounded by Σ|query terms|, eval-sized — the
    ``ivf_topk_batch`` probe-collect pattern), the scan carries
    ``term_bucket IN (...)`` (PartitionFilters) plus ``term IN (...)``
    so only matching postings survive the scan.  Per-term df is a
    window over the PRUNED postings computed BEFORE the query join
    (postings are one row per (doc, term); joining first would fan a
    term's rows out once per query using it and inflate df).  The
    (query id, term) pairs are then broadcast in — each posting meets
    only the queries that asked for its term — and a per-query top-k
    window finishes (rank by score desc, then doc id).  The broadcast
    (and the driver-side distinct-terms collect that feeds the probe
    buckets) presumes an eval-sized query set, exactly the
    ``ivf_topk_batch`` caveat: for a CORPUS-SCALE query table use
    :func:`bm25_knn_join`, which co-partitions both sides on the term
    with no collect and no data-side broadcast (pinned bit-equal to
    this form at the hand-off).

    Consistency contract (pinned in tests): per-query results are
    bit-identical to :func:`bm25_topk_indexed` run one query at a time
    with the same (k, k1, b) — same pruned-df window, same broadcast
    sidecar stats, same double math, same (score desc, id) ties.
    Returns (query_id_col, id_col, score), ≤ k rows per query.  A
    query whose terms array is NULL or empty contributes NO rows (the
    explode drops it — the batch analogue of the single-query path's
    non-empty-terms requirement, which still applies to the table as
    a whole), and a NULL term inside an array is dropped."""
    import os as _os

    from airflow_etl_minio_to_postgres_spark.sources.manifest import (
        resolve_data_root,
    )

    path = resolve_data_root(spark, path)
    stats = spark.read.parquet(_os.path.join(path, "_stats"))
    n_buckets = int(stats.collect()[0]["n_buckets"])
    pairs = (
        queries.select(
            F.col(query_id_col),
            F.explode(F.col(terms_col)).alias("term"),
        )
        .withColumn("term", F.lower(F.col("term")))
        .where(F.col("term").isNotNull())  # a NULL term matches no posting
        .distinct()
    )
    terms = sorted(r[0] for r in pairs.select("term").distinct().collect())
    if not terms:
        raise ValueError("bm25_topk_batch: queries contain no terms")
    # driver-local VALUES probe — see bm25_topk_indexed (r18)
    from airflow_etl_minio_to_postgres_spark.sources.manifest import (
        sql_cast_literals,
    )

    lits = sql_cast_literals(terms, "string")
    if lits is not None:
        bprobe = spark.sql(
            f"SELECT DISTINCT pmod(xxhash64(v), {int(n_buckets)}L) AS b "
            f"FROM VALUES {lits} AS t(v)"
        )
    else:
        bprobe = (
            spark.createDataFrame([(t,) for t in terms], "term string")
            .select(
                F.pmod(F.xxhash64(F.col("term")), F.lit(n_buckets)).alias(
                    "b"
                )
            )
            .distinct()
        )
    buckets = sorted(int(r[0]) for r in bprobe.collect())
    postings = (
        spark.read.parquet(path)
        .where(F.col("term_bucket").isin(buckets))
        .where(F.col("term").isin(terms))
    )
    from pyspark.sql import Window

    with_df = postings.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    scored = (
        with_df.join(F.broadcast(pairs), "term")
        .crossJoin(
            F.broadcast(
                stats.select(
                    F.col("n_docs").alias("_n_docs"),
                    F.col("avgdl").alias("_avgdl"),
                )
            )
        )
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "_tfp",
            F.col("tf")
            * F.lit(float(k1) + 1.0)
            / (
                F.col("tf")
                + F.lit(float(k1))
                * (
                    F.lit(1.0 - float(b))
                    + F.lit(float(b)) * F.col("dl") / F.col("_avgdl")
                )
            ),
        )
        .groupBy(query_id_col, id_col)
        .agg(F.sum(F.col("_idf") * F.col("_tfp")).alias("score"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(k))
        .drop("_rn")
    )


def bm25_knn_join(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    query_id_col: str = "qid",
    terms_col: str = "terms",
    max_df: int | None = None,
) -> DataFrame:
    """BM25 top-``k`` for a CORPUS-SCALE query table served from a
    :func:`write_inverted_index` layout — the sparse twin of
    ``similarity.ivf_knn_join``, the bucketed-join form the
    :func:`bm25_topk_batch` docstring prescribes when the query table
    outgrows a broadcast (joining a query CORPUS against a document
    corpus: eval-suite x training-corpus contamination sweeps, query
    logs, doc-to-doc lexical similarity).

    Shape at scale — NO driver-side collect of the query vocabulary
    and NO broadcast of either data side (the two bottlenecks the
    broadcast form accepts for eval-sized tables):

    1. the exploded (qid, term) pairs get their ``term_bucket`` from
       the engine's own hash (sidecar ``n_buckets``; the only collect
       is that 1-row sidecar) — a narrow expression pass, no action;
    2. the postings scan is pruned by a LEFT SEMI join against the
       pairs' distinct (term_bucket, term) — keyed on the partition
       column so Spark's dynamic partition pruning can skip bucket
       directories at runtime when the probe side turns out small,
       and a vocabulary-wide query table degrades gracefully to the
       full scan it genuinely needs;
    3. per-term df is a window over the pruned postings partitioned by
       (term_bucket, term) — term determines its bucket, so the groups
       ARE per-term, and the window reuses the semi-join's exchange
       instead of re-shuffling on a new key (df before the query join,
       same as the broadcast form: joining first would fan a term's
       postings out once per query using it and inflate df);
    4. the (qid, term) pairs then meet the scored postings in a SHUFFLE
       equi-join on (term_bucket, term) — each side exchanges once;
       candidate volume is Σ_terms |queries asking t| x df(t), never
       |queries| x |postings|;
    5. per-(query, doc) score sum and a per-query top-k window finish.

    Zipf skew: hot terms (stopwords) concentrate candidates the same
    way hot IVF cells do — the structural answer is the analyzer
    (stopword removal / df-capped vocabularies), not salting, because a
    stopword's candidate set is near-useless for ranking anyway; AQE's
    skew-join split handles the residual imbalance.  ``max_df`` is
    that analyzer knob IN the operator: terms whose document frequency
    exceeds it are dropped AFTER the df window and BEFORE the pair
    join (the hot side of the shuffle never materializes their
    candidates) — the standard Lucene/production-IR stopword cut,
    applied by measured df rather than a hand list.  It changes
    ranking semantics (capped terms score 0), so the default is off
    and the bit-equality contract below holds only at ``max_df=None``.

    Consistency contract (pinned in tests): bit-identical rows to
    :func:`bm25_topk_batch` on the same queries/(k, k1, b) — same
    sidecar stats, same pruned-df value, same double math, same
    (score desc, id) ties.  Returns (query_id_col, id_col, score),
    ≤ k rows per query.  NULL/empty terms arrays contribute no rows;
    a query table with no terms at all is refused loudly (one cheap
    isEmpty on the exploded pairs, not a vocabulary collect)."""
    import os as _os

    from airflow_etl_minio_to_postgres_spark.sources.manifest import (
        resolve_data_root,
    )

    path = resolve_data_root(spark, path)
    stats = spark.read.parquet(_os.path.join(path, "_stats"))
    n_buckets = int(stats.collect()[0]["n_buckets"])
    exploded = queries.select(
        F.col(query_id_col),
        F.explode(F.col(terms_col)).alias("term"),
    ).withColumn("term", F.lower(F.col("term")))
    # emptiness probe on the RAW explode — stops at the first row, no
    # distinct exchange just to validate input
    if exploded.isEmpty():
        raise ValueError("bm25_knn_join: queries contain no terms")
    bucket = F.pmod(F.xxhash64(F.col("term")), F.lit(n_buckets)).cast("int")
    # pairs feeds exactly ONE consumer (the scored join) and the probe
    # is derived from the terms alone — so the (qid, term) distinct
    # exchange runs once and the probe's distinct is over the (smaller)
    # term domain, not a recomputation of the pair distinct
    pairs = exploded.distinct().withColumn("term_bucket", bucket)
    probe = (
        exploded.select("term").distinct().withColumn("term_bucket", bucket)
    ).select("term_bucket", "term")
    pruned = spark.read.parquet(path).join(
        probe, ["term_bucket", "term"], "left_semi"
    )
    from pyspark.sql import Window

    # (term_bucket, term) ≡ term as a grouping (the bucket is a
    # function of the term); keying the window on both lets it reuse
    # the semi-join's hash(term_bucket, term) exchange
    with_df = pruned.withColumn(
        "df",
        F.count(F.lit(1)).over(Window.partitionBy("term_bucket", "term")),
    )
    if max_df is not None:
        with_df = with_df.where(F.col("df") <= F.lit(int(max_df)))
    scored = (
        with_df.join(pairs, ["term_bucket", "term"])
        .crossJoin(
            F.broadcast(
                stats.select(
                    F.col("n_docs").alias("_n_docs"),
                    F.col("avgdl").alias("_avgdl"),
                )
            )
        )
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "_tfp",
            F.col("tf")
            * F.lit(float(k1) + 1.0)
            / (
                F.col("tf")
                + F.lit(float(k1))
                * (
                    F.lit(1.0 - float(b))
                    + F.lit(float(b)) * F.col("dl") / F.col("_avgdl")
                )
            ),
        )
        .groupBy(query_id_col, id_col)
        .agg(F.sum(F.col("_idf") * F.col("_tfp")).alias("score"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(k))
        .drop("_rn")
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    skew_safe: bool = False,
) -> DataFrame:
    """Corpus-unigram language-model scoring: ``(doc_id, n_tokens,
    avg_logprob)`` where avg_logprob is the mean ``ln p(word)`` of the
    document's tokens under the corpus's own unigram distribution — the
    cheap proxy for the KenLM-style perplexity filter every production
    pretraining pipeline runs (low-probability-token-dense docs are
    gibberish, OCR noise, or boilerplate in some other language; filter
    or down-weight them before training).

    Scale shape — three bounded shuffles, the corpus text never joins
    against itself:

    1. per-(doc, word) counts — groupBy with map-side combine, the only
       stage that touches every token;
    2. the vocabulary — a second groupBy of those aggregated rows as a
       WINDOW (sum over partition by word), reusing the (doc, word) row
       set instead of a separate vocab aggregate + equi-join back
       (same trick as :func:`tfidf_top_terms`'s df stage);
    3. per-doc mean — final groupBy on doc_id over rows already shrunk
       to distinct (doc, word) pairs.

    The corpus token total enters as a broadcast 1-row cross join (no
    driver collect).  p(word) = count(word)/total over the SAME corpus,
    so scores are self-contained and the DuckDB oracle reproduces them
    exactly; weighting by tf keeps the mean over TOKENS, not types.

    Known tail at extreme scale: the corpus-frequency window partitions
    by word, and a stop word's partition holds one row per document
    containing it — WindowExec buffers (and spills) that partition
    through a single task.  Spark survives it (external sort), but on a
    multi-billion-document corpus the stop-word partitions become the
    straggler tail; pass ``skew_safe=True`` there to trade one extra
    shuffle for skew safety: ``groupBy("word").sum("tf")`` (map-side
    partial combine flattens the skew) joined back on word under AQE
    skew handling.  Same math, same oracle, identical results."""
    spark_words = F.split(F.lower(F.trim(F.col(text_col))), WHITESPACE)
    tokens = df.select(
        F.col(id_col), F.explode(spark_words).alias("word")
    ).where(F.col("word") != "")
    tf = tokens.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
    if skew_safe:
        vocab = tf.groupBy("word").agg(F.sum("tf").alias("cf"))
        with_cf = tf.join(vocab, "word")
    else:
        from pyspark.sql import Window

        with_cf = tf.withColumn(
            "cf", F.sum("tf").over(Window.partitionBy("word"))
        )
    total = F.broadcast(
        tf.agg(F.sum("tf").cast("double").alias("_total"))
    )
    return (
        with_cf.crossJoin(total)
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            (
                F.sum(F.col("tf") * F.log(F.col("cf") / F.col("_total")))
                / F.sum("tf")
            ).alias("avg_logprob"),
        )
    )


# PII classes for redact_pii.  Patterns are RE2-compatible (no lookaround,
# ASCII \b), so the IDENTICAL string runs in Java regex (Spark) and RE2
# (DuckDB oracle).  Order matters at replacement time: emails first (their
# domain part could otherwise be chewed up by the ipv4 pass), then phones,
# then bare IPv4s.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    "phone": (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
}


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII redaction over a raw text corpus: replace emails, phone
    numbers, and IPv4 addresses with class tokens and emit a per-class
    hit count — the pre-training scrub that runs AFTER quality filtering
    and BEFORE tokenization in a real pipeline (counts let a downstream
    filter drop documents that are mostly contact-dump boilerplate).

    Same 100 TB shape as :func:`mask_terms`: a chain of three
    ``regexp_replace`` calls plus three ``regexp_count``-style
    expressions, all narrow, shuffle-free, and whole-stage-codegen'd —
    one map over the scan, regexes compiled once per task.  Counts are
    taken per class on the ORIGINAL text, so on adversarial input one
    substring can legitimately increment TWO classes (an email whose
    domain is IPv4-shaped, ``a@10.0.0.7``, counts under both n_email and
    n_ipv4) — the counts answer "how much of each pattern appears", not
    "how many replacements happened"; replacement itself is sequential
    (email first), so each character is redacted at most once.  The
    oracle runs the same original-text counting, keeping both engines
    pinned to the same definition."""
    t = F.col(text_col)
    redacted = t
    counts = []
    for cls, (pattern, token) in PII_PATTERNS.items():
        redacted = F.regexp_replace(redacted, pattern, token)
        counts.append(
            F.size(F.regexp_extract_all(t, F.lit(pattern), F.lit(0)))
            .cast("long")
            .alias(f"n_{cls}")
        )
    return df.select(
        F.col(id_col), redacted.alias("redacted_text"), *counts
    )


def hash_uniform_expr(id_col: str, salt: str = "mix") -> Column:
    """Deterministic uniform [0,1) draw per id: the first 8 hex chars of
    ``sha256(salt || ':' || id)`` as an integer over 2^32.  Seedless and
    partition-independent — the same id samples identically on any
    cluster layout, any engine (the oracle reproduces it verbatim), any
    rerun.  That reproducibility is the whole point: training-data
    mixing must be an idempotent function of the corpus, not RNG state.
    """
    bucket = F.conv(
        F.substring(
            F.sha2(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")), 256),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    return bucket.cast("double") / F.lit(4294967296.0)


def rate_sample(
    df: DataFrame, rate: Column, id_col: str = "doc_id", salt: str = "mix"
) -> DataFrame:
    """Keep each row iff its deterministic uniform draw falls below
    ``rate`` (a per-row Column — typically a CASE over the row's domain/
    source).  The data-mixing primitive: up-/down-weight sources by
    sampling rate with zero shuffles — a narrow filter over the scan,
    pushed down by Catalyst like any other predicate."""
    return df.where(hash_uniform_expr(id_col, salt) < rate)


def assign_splits(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/validation/test split assignment: each row
    gets the split whose cumulative-weight interval contains its
    :func:`hash_uniform_expr` draw.  The last pipeline stage before a
    training run, with the property that stage actually needs:
    membership is an idempotent FUNCTION of (id, salt) — the same doc
    lands in the same split on any cluster layout, any engine, any
    rerun, and adding documents later never moves existing ones across
    splits (no global shuffle, no RNG state, no ordering dependence).

    ``weights`` maps split name -> positive weight (normalized
    internally; iteration order fixes the interval order, so pass an
    ordered dict — plain dicts preserve insertion order).  Scale shape:
    ONE narrow expression over the scan — a chained CASE on the hash
    fraction — no shuffle, no join; Catalyst pushes any downstream
    per-split filter into the scan like any other predicate.
    """
    if not weights:
        raise ValueError("assign_splits: weights must be non-empty")
    if any(w <= 0 for w in weights.values()):
        raise ValueError("assign_splits: weights must be positive")
    total = float(sum(weights.values()))
    draw = hash_uniform_expr(id_col, salt)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        branch = F.when(draw < F.lit(acc), F.lit(name))
        expr = branch if expr is None else expr.when(
            draw < F.lit(acc), F.lit(name)
        )
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, out)


def quantile_buckets_sampled(
    df: DataFrame,
    score: Column,
    n_buckets: int = 10,
    sample_rate: float = 0.2,
    id_col: str = "doc_id",
    salt: str = "qbuckets",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Quantile bucketing via SAMPLED cutpoints — the 100 TB form the
    ``docs_quality_deciles`` docstring prescribes: ``ntile`` is a GLOBAL
    sort of the corpus, so at scale the production shape is (1) estimate
    the n-1 bucket cutpoints on a sample, (2) broadcast them back as a
    lookup, (3) bucket every row with a narrow scan-stage expression —
    trading exact bucket boundaries for a sort-free, shuffle-free plan.

    Deterministic end to end: the sample is the seedless sha-uniform
    draw (:func:`hash_uniform_expr` — same rows sampled on any layout,
    rerun, or engine), cutpoints are EXACT percentiles of that sample
    (both engines interpolate the same sorted multiset — the
    ``docs_quality_threshold`` precedent), and bucket id is
    ``1 + |{{cutpoints <= score}}|``.  ``sample_rate`` is the memory
    knob: exact-percentile state is sample-sized, so at 100 TB pick the
    rate that bounds the sample to ~1e6 rows (cutpoint error shrinks as
    1/sqrt(sample), not with the corpus), never a fixed fraction.

    Contract edges: an EMPTY sample (rate too low for the corpus size)
    yields NULL cutpoints and therefore NULL buckets — size the rate to
    the corpus, this function cannot invent cutpoints from nothing; a
    NULL score buckets as NULL (no quantile is defined for it) — filter
    or coalesce upstream if NULL-scored rows should participate.

    Returns ``df`` plus ``bucket_col`` in ``1..n_buckets``."""
    if n_buckets < 2:
        raise ValueError("quantile_buckets_sampled: n_buckets must be >= 2")
    scored = df.withColumn("_score", score)
    sample = scored.where(
        hash_uniform_expr(id_col, salt) < F.lit(float(sample_rate))
    )
    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = sample.agg(
        F.percentile(
            F.col("_score"), F.array(*[F.lit(p) for p in probs])
        ).alias("_cuts")
    )
    # NULL-score guard: the fold's `>=` is false for NULL, which would
    # silently land NULL-scored rows in bucket 1 — the docstring's
    # contract is a NULL bucket (no quantile is defined for them).
    bucket = F.when(
        F.col("_score").isNotNull(),
        F.lit(1)
        + F.aggregate(
            F.col("_cuts"),
            F.lit(0),
            lambda acc, c: acc
            + F.when(F.col("_score") >= c, F.lit(1)).otherwise(F.lit(0)),
        ),
    )
    return (
        scored.crossJoin(F.broadcast(cuts))
        .withColumn(bucket_col, bucket.cast("long"))
        .drop("_score", "_cuts")
    )


def curriculum_order(
    df: DataFrame,
    score: Column,
    n_buckets: int = 10,
    sample_rate: float = 0.2,
    id_col: str = "doc_id",
    salt: str = "curriculum",
) -> DataFrame:
    """Quality-curriculum training order: easy/clean data ordered before
    (or after — the trainer picks the read direction) noisy data, the
    curriculum-learning counterpart of the uniform
    ``docs_training_order`` shuffle.  Each doc gets a quality BUCKET
    (sampled-cutpoint quantiles — :func:`quantile_buckets_sampled`, no
    global sort) and a deterministic sha-shuffled position WITHIN its
    bucket, so (bucket, pos) is a resumable, exactly-replayable
    coordinate exactly like training_order's (shard, pos): the trainer
    consumes buckets in order, positions sequentially, and a restart
    re-derives the identical order from the corpus alone.

    Scale shape: bucket is a broadcast-lookup scan expression; the only
    shuffle is one window per bucket partition (never a global total
    order).  Distinct hash domains keep the cutpoint sample and the
    intra-bucket order statistically independent.  At production scale
    write partitioned-by-bucket with ``write_sorted_parquet`` on the
    order key and the dataloader reads buckets sequentially."""
    b = quantile_buckets_sampled(
        df,
        score,
        n_buckets=n_buckets,
        sample_rate=sample_rate,
        id_col=id_col,
        salt=f"{salt}-cuts",
    )
    order_key = F.substring(
        F.sha2(
            F.concat(
                F.lit(f"{salt}-order:"), F.col(id_col).cast("string")
            ),
            256,
        ),
        1,
        16,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("bucket").orderBy(order_key, id_col)
    return b.withColumn("pos", F.row_number().over(w).cast("long"))


def source_quality_gate(
    df: DataFrame,
    threshold: float = 0.44,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Domain-level quality filtering — the RefinedWeb/C4 "drop bad
    domains wholesale" stage: keep every document whose GROUP (domain,
    source, crawl) clears a mean-quality threshold, because a
    low-quality domain's individually-passable pages are still SEO spam
    in aggregate.  The complement of the per-document
    :func:`quality_score_expr` filter (docs_quality_threshold): that
    judges pages, this judges publishers.

    The gate DECISION is integer-exact: per-doc scores round to bigint
    micro-units, the group sum is exact, and the comparison is
    ``sum_micros >= threshold_micros * n`` — float accumulation order
    can never flip a borderline group between engines, partition
    layouts, or reruns (the stable_sum policy applied to a decision
    rather than an emitted value).

    Scale shape: one map-side-combined aggregate down to |groups| rows,
    passing groups broadcast back as a LEFT SEMI join, the corpus
    touched by one narrow filter — never shuffled.

    Rows with a NULL ``group_col`` are EXCLUDED from the result (the
    semi-join's equi-condition never matches NULL, and no mean is
    defined for an unknown publisher — the ``temperature_mix`` policy);
    ``coalesce`` the group to a sentinel upstream if unattributed rows
    should be judged as their own group."""
    q_micros = F.round(
        quality_score_expr(F.col(text_col)) * F.lit(1e6)
    ).cast("long")
    stats = df.groupBy(group_col).agg(
        F.sum(q_micros).alias("_sq"), F.count(F.lit(1)).alias("_n")
    )
    t_micros = int(round(threshold * 1e6))
    good = stats.where(
        F.col("_sq") >= F.lit(t_micros) * F.col("_n")
    ).select(group_col)
    return df.join(F.broadcast(good), group_col, "left_semi")


def temperature_mix(
    df: DataFrame,
    group_col: str = "source",
    alpha: float = 0.7,
    id_col: str = "doc_id",
    salt: str = "temp",
) -> DataFrame:
    """Temperature-based mixture rebalancing — the multilingual/domain
    sampling policy (p_g proportional to n_g^alpha) pretraining
    pipelines use to keep large sources from drowning small ones:
    group ``g`` is kept at rate ``(n_min / n_g)^(1-alpha)``, the
    closed form that makes EXPECTED kept counts proportional to
    ``n_g^alpha`` while the smallest group keeps everything (maximum
    data retention — no group is upsampled).  ``alpha=1`` keeps the
    raw mixture; ``alpha=0`` flattens to uniform expected counts.
    Unlike :func:`rate_sample` with hand-set rates (docs_domain_mix),
    the rates here are DERIVED from the observed group counts.

    Deterministic end-to-end: counts are exact, the per-group rate is
    rounded to 9 decimals so the engine and the SQL oracle compare the
    same double against the same sha-derived uniform grid
    (:func:`hash_uniform_expr`), and the keep decision is a pure
    function of (id, salt) — identical on any layout, rerun, or
    engine.  Scale shape: one map-side-combined count aggregate to
    |groups| rows, a 1-row global min folded in, rates BROADCAST back,
    and the corpus itself is touched by ONE narrow filter — never
    shuffled.

    Rows with a NULL ``group_col`` are EXCLUDED from the result (no
    mixture weight is defined for an unknown group, and the rate join
    is an equi-join, where NULL matches nothing — the SQL oracle's
    ``USING`` join agrees); ``coalesce`` the group to a sentinel
    upstream if unlabeled rows should participate as their own
    group."""
    from pyspark.sql import Window

    # n_min as a global window over the COUNTS frame (|groups| rows),
    # not a second aggregate branch off `counts`: an unpersisted reuse
    # would make Catalyst re-derive both branches from the scan — TWO
    # full corpus passes to learn counts + min instead of one.
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    rates = counts.withColumn(
        "_nmin", F.min("_n").over(Window.partitionBy())
    ).select(
        group_col,
        F.round(
            F.pow(F.col("_nmin") / F.col("_n"), F.lit(1.0 - alpha)), 9
        ).alias("_rate"),
    )
    return (
        df.join(F.broadcast(rates), group_col)
        .where(hash_uniform_expr(id_col, salt) < F.col("_rate"))
        .drop("_rate")
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    token_col: str | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Assign documents to fixed token-budget packs — the pretraining
    batch-construction primitive (concatenate docs until ~``budget``
    tokens, start the next pack).

    Semantics (chosen to be distributable AND reproducible): docs are
    ordered within each ``group_col`` by the seedless sha256-of-id
    shuffle; each doc joins the pack its cumulative START offset falls
    in — ``pack_id = floor((cumsum - tokens) / budget)``.  A doc whose
    tokens straddle the boundary OVERFLOWS its pack rather than opening
    a new one (training-side truncation/continuation handles the tail).
    Exact greedy first-fit would make every assignment depend on the
    full prefix of decisions — an inherently sequential scan; the
    fixed-boundary rule computes the identical thing a single window
    cumsum can, so the operator is one shuffle keyed on the group.

    Returns (id, group, n_tokens, pack_id, pack_offset) where
    ``pack_offset`` is the doc's start position within its pack.
    """
    from pyspark.sql import Window

    tokens = (
        F.col(token_col)
        if token_col is not None
        else word_count_expr(F.col(text_col))
    )
    rank_key = F.substring(F.sha2(F.col(id_col).cast("string"), 256), 1, 16)
    w = (
        Window.partitionBy(group_col)
        .orderBy(rank_key, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = df.select(
        F.col(id_col), F.col(group_col), tokens.cast("long").alias("n_tokens")
    )
    cum = base.withColumn("_end", F.sum("n_tokens").over(w))
    start = (F.col("_end") - F.col("n_tokens")).cast("long")
    return cum.select(
        id_col,
        group_col,
        "n_tokens",
        F.floor(start / F.lit(budget)).cast("long").alias("pack_id"),
        (start % F.lit(budget)).cast("long").alias("pack_offset"),
    )


def add_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full stats bundle to a documents frame."""
    t = F.col(text_col)
    return df.withColumns(
        {
            "token_count": token_count_expr(t),
            "word_count": word_count_expr(t),
            "char_count": F.length(t),
            "punct_ratio": punct_ratio_expr(t),
            "stopword_ratio": stopword_ratio_expr(t),
            "quality_score": quality_score_expr(t),
            "lang_pred": lang_id_expr(t),
            "fingerprint": fingerprint_expr(t),
        }
    )
