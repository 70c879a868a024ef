"""Multimodal column plumbing — opaque binary payloads with typed metadata,
decoded/feature-extracted via Arrow-batched ``mapInPandas``.

The pattern for image/audio/video at 100 TB: the payload is an opaque
``binary`` column travelling with typed metadata; decode/resize/frame-sample
run as Arrow-batched Python over partition-local batches (``mapInPandas``),
so bytes never round-trip through the driver and the Python boundary is paid
once per batch, not per row.

No media codec is a dependency: every operator here reads the payload
bytes directly.  :func:`extract_payload_features` is a deterministic
feature extractor over those bytes whose outputs the DuckDB oracle can
reproduce (byte length, sha256 prefix, modular fake dimensions).  The
Spark-side plumbing — schema, batch shape, UDF signature, partitioning — is
real and is what this module exists to pin down; a real decoder slots into
the same Arrow batch loop.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime", T.StringType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("payload_sha16", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
    ]
)


def attach_payload(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mime: str = "application/x-fake-image",
) -> DataFrame:
    """Build an opaque binary payload column (UTF-8 bytes of ``text_col``
    standing in for image bytes) + typed metadata — the multimodal table
    shape."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit(mime).alias("mime"),
    )


FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_index", T.LongType()),
        T.StructField("frame_offset_bytes", T.LongType()),
    ]
)


def sample_frame_offsets(df: DataFrame, num_frames: int = 4) -> DataFrame:
    """Frame sampling plumbing for video-like payloads: emit ``num_frames``
    evenly-strided (index, byte offset) rows per payload via the same
    Arrow-batched crossing a real decoder would use.  The offsets are
    deterministic functions of payload length (a real implementation reads
    the container index instead); one input row fans out to N output rows —
    the mapInPandas-as-flatMap shape.
    """

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Vectorized fan-out: repeat/tile over the whole Arrow batch — the
        # only per-row Python is len(bytes), which a real decoder pays
        # anyway when it touches the payload.
        for pdf in batches:
            n_bytes = pdf["payload"].map(len).to_numpy(dtype="int64")
            stride = np.maximum(1, n_bytes // num_frames)
            idx = np.tile(np.arange(num_frames, dtype="int64"), len(pdf))
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(pdf["doc_id"].to_numpy(), num_frames),
                    "frame_index": idx,
                    "frame_offset_bytes": np.minimum(
                        idx * np.repeat(stride, num_frames),
                        np.repeat(n_bytes, num_frames),
                    ),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        _frames, schema=FRAME_SAMPLE_SCHEMA
    )


def sample_frame_offsets_expr(df: DataFrame, num_frames: int = 4) -> DataFrame:
    """JVM-side equivalent of :func:`sample_frame_offsets`:
    ``explode(sequence(...))`` — zero Python, whole-stage codegen.

    Prefer THIS form whenever only the offsets are needed; the mapInPandas
    variant exists to pin the Arrow fan-out shape a real decoder requires
    (it must touch the payload bytes), and the two are asserted equal in
    tests so the demo can never drift from the fast path."""
    return (
        df.select("doc_id", F.octet_length("payload").cast("long").alias("nb"))
        .select(
            "doc_id",
            "nb",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.lit(num_frames - 1).cast("long"))
            ).alias("frame_index"),
        )
        .select(
            "doc_id",
            "frame_index",
            F.least(
                F.col("frame_index")
                * F.greatest(F.lit(1).cast("long"), F.expr(f"nb DIV {num_frames}")),
                F.col("nb"),
            ).alias("frame_offset_bytes"),
        )
    )


def _feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Arrow batch loop: deterministic per-payload features.  Runs on
    executors; one Python crossing per batch."""
    for pdf in batches:
        payloads = pdf["payload"]
        n_bytes = payloads.map(len)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n_bytes.astype("int64"),
                "payload_sha16": payloads.map(
                    lambda b: hashlib.sha256(bytes(b)).hexdigest()[:16]
                ),
                "width": (n_bytes % 640).astype("int64"),
                "height": ((n_bytes * 7) % 480).astype("int64"),
            }
        )


def extract_payload_features(df: DataFrame) -> DataFrame:
    """``mapInPandas`` feature extraction over the payload column.

    Input must have (doc_id, payload); output follows FEATURE_SCHEMA.  The
    fake width/height stand in for decoded image dims — deterministic, so
    the DuckDB oracle checks the full plumbing end-to-end.
    """
    return df.select("doc_id", "payload").mapInPandas(
        _feature_batches, schema=FEATURE_SCHEMA
    )


def add_image_ahash(
    df: DataFrame,
    payload_col: str = "payload",
    out_col: str = "ahash",
    n_cells: int = 64,
) -> DataFrame:
    """Perceptual average-hash (classic aHash: nearest-neighbor
    downsample to a fixed grid, threshold each cell at the global mean)
    over raw payload bytes, emitted as an ``n_cells``-char bitstring —
    the multimodal member of the dedup family.

    Cell ``c`` samples the byte at ``floor(c * n_bytes / n_cells)``
    (nearest-neighbor resize over the byte stream); bit ``c`` is 1 when
    that byte >= the mean of all sampled bytes.  Because the bits are
    RELATIVE to the per-payload mean, a uniform intensity shift of the
    underlying bytes (re-encode, brightness change — here: the
    uppercase byte shift of the fake text payloads) barely moves the
    hash, while content-hash dedup AND shingle dedup both see a
    completely different object.  With real images, a decode ->
    grayscale resize feeds the same thresholding; this byte-domain
    form is the codec-free path that runs everywhere.

    Expression-only — hex + substr + conv in the scan stage, no Python
    crossing, no shuffle; whole-stage codegen keeps all ``n_cells``
    samples in one pass over the row.  Degenerate payloads (empty or
    uniform bytes) hash to all ones — every sample equals the mean, and
    aHash's >= threshold is inclusive.  Pillow-free by construction.
    """
    hexs = F.upper(F.hex(F.col(payload_col)))
    # long math: length() is int, and c * n overflows 32-bit (ANSI
    # ARITHMETIC_OVERFLOW) once the payload reaches ~2^31/(n_cells-1)
    # bytes (~34 MB at 64 cells) — real image/video payloads get there.
    # One cast here widens every c * n product via int->long promotion
    # without growing the 64-sample expression tree per sample.
    n = F.length(F.col(payload_col)).cast("long")
    samples = [
        F.coalesce(
            F.conv(
                F.substr(
                    hexs,
                    ((F.lit(c) * n) / F.lit(n_cells)).cast("long") * 2 + 1,
                    F.lit(2),
                ),
                16,
                10,
            ).cast("long"),
            F.lit(0),
        )
        for c in range(n_cells)
    ]
    tmp = df.withColumn("_ah_s", F.array(*samples)).withColumn(
        "_ah_m",
        F.aggregate(
            "_ah_s", F.lit(0).cast("long"), lambda a, x: a + x
        ).cast("double")
        / F.lit(float(n_cells)),
    )
    bits = F.array_join(
        F.transform(
            "_ah_s",
            lambda x: F.when(
                x.cast("double") >= F.col("_ah_m"), F.lit("1")
            ).otherwise(F.lit("0")),
        ),
        "",
    )
    return tmp.withColumn(out_col, bits).drop("_ah_s", "_ah_m")


def ahash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "ahash",
    max_hamming: int = 7,
    n_bands: int = 8,
    n_cells: int = 64,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Perceptually-near payload pairs: banded equi-join candidates +
    exact Hamming verification over aHash bitstrings — the simhash
    pipeline shape applied to the multimodal column, never an all-pairs
    scan.

    Pigeonhole: with ``n_bands`` chunks, any pair within Hamming
    distance < ``n_bands`` shares an identical chunk, so for
    ``max_hamming < n_bands`` (the default 7 < 8) the result is EXACTLY
    the brute-force truth at that threshold; beyond it recall is
    best-effort.  Returns (id_a, id_b, hamming), ``id_a < id_b``.

    Scale shape — sized for LOW-ENTROPY hashes, where band buckets get
    hot (a near-uniform corpus concentrates whole bands on the all-ones
    chunk; measured ~15M candidate pairs from 10k payloads at sf0.1):
    the bitstring is packed ONCE into two 32-bit longs, so per-candidate
    verification is two xor+bit_counts instead of ``n_cells`` substring
    compares, and multi-band duplicates are eliminated by the FIRST-
    MATCHING-BAND rule of the family's one candidate self-join,
    :func:`...functions.dedup.bucket_pairs` (each band's chunk equality
    recomputed from the packed halves — pure integer expressions),
    rather than a dropDuplicates shuffle of the full candidate set.
    One exchange total (the band-key join); the candidate stream never
    re-shuffles.

    ``max_bucket_size`` bounds hot-band-bucket SKEW via the shared
    :func:`...functions.dedup.salted_band_sides` mechanism: oversized
    buckets are split across salted sub-groups (left side salted, right
    side replicated), so one near-uniform bucket spreads over
    ``ceil(m/cap)`` tasks instead of grinding on one.  EXACT — each
    pair still meets exactly once per shared band, so the first-
    matching-band predicate and the final result are bit-identical to
    the unsalted plan; only task-level distribution changes.
    """
    if n_cells != 64 or n_bands != 8:
        raise ValueError("packed verification expects 64 bits / 8 bands")
    from airflow_etl_minio_to_postgres_spark.functions.dedup import (
        _persist_tracked,
        bucket_pairs,
    )

    band_len = n_cells // n_bands
    # Persist the packed hashes BEFORE fanning out to bands and join
    # sides: without the boundary, Catalyst's projection collapse
    # inlines the full 64-sample hash expression into every reference
    # (two halves + eight band chunks x two join sides — measured 375 s
    # vs ~10 s at sf0.1).  Same signature-table pattern as the MinHash
    # and SimHash pipelines.
    base = _persist_tracked(
        df.select(
            F.col(id_col),
            F.col(hash_col),
            F.conv(F.substring(hash_col, 1, 32), 2, 10)
            .cast("long")
            .alias("_hi"),
            F.conv(F.substring(hash_col, 33, 32), 2, 10)
            .cast("long")
            .alias("_lo"),
        )
    )
    packed = base.select(
        F.col(id_col),
        "_hi",
        "_lo",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        F.substring(hash_col, b * band_len + 1, band_len),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("_band", "band_key"),
    )

    def _chunk(side: str, b: int):
        # band b lives in _hi (b<4) or _lo (b>=4), MSB-first
        src = F.col(("_hi_" if b < 4 else "_lo_") + side)
        return F.shiftright(src, 24 - 8 * (b % 4)).bitwiseAND(F.lit(255))

    cand = bucket_pairs(
        packed,
        id_col,
        ["_hi", "_lo"],
        max_bucket_size=max_bucket_size,
        n_bands=n_bands,
        band_differs=lambda b: _chunk("a", b) != _chunk("b", b),
    )
    ham = F.bit_count(
        F.col("_hi_a").bitwiseXOR(F.col("_hi_b"))
    ) + F.bit_count(F.col("_lo_a").bitwiseXOR(F.col("_lo_b")))
    return (
        cand.withColumn("hamming", ham.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
