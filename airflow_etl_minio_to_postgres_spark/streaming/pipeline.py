"""Structured Streaming over the events table — windowed aggregation with
watermarks and a custom stateful operator.

The reference is strictly batch (``@daily`` schedule,
``dags/dag_etl_minio_to_postgres.py:248``); this module is the extension
surface SURVEY.md §7/M5 describes: the same declarative aggregations,
incrementally maintained by micro-batches.

Design notes for scale:

* File-source streams + ``availableNow`` give exactly-once incremental
  backfill over a growing directory — the pattern for continuously-landing
  training data.  State is bounded by the watermark: late events beyond the
  horizon are dropped instead of growing state forever.
* ``applyInPandasWithState`` holds one small state blob per group key —
  the distributed, fault-tolerant replacement for the reference's global
  mutable ``id_mapping`` dict (``:28``), which only worked single-process.
* Two kinds of sink.  :func:`run_available_now` drains a streaming
  frame into an in-memory table and returns it; the ``streaming_*``
  operators are ``foreachBatch`` sinks started by :func:`_start_sink`.
  Each micro-batch lands replay-safe: as ``_commit_id`` parquet
  partitions (:func:`_write_batch_commit`) or, for the rollup, as a
  committed manifest generation.
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from airflow_etl_minio_to_postgres_spark.sources.catalog import (
    nanos_ts_columns,
    raw_read_schema,
    restore_nanos_timestamps,
)
from airflow_etl_minio_to_postgres_spark.sources.manifest import (
    _committed_schema,
    _current_generation,
    _exists,
    _fs_for,
    _join,
    _read_text,
    commit_parquet_generation,
    read_resolved,
    resolve_data_root,
)

_sink_counter = itertools.count()

# One state partition per this many bytes of backlog awaiting ingest at a
# stateful stream's source.  State-store instances have a fixed per-
# partition setup/commit cost with NO data component (measured: a fresh
# stream-stream join spends ~0.25 s per state partition of pure no-CPU
# provider init — 32 partitions x 4 join stores cost ~8 s wall on a 2 MB
# backlog), so the partition count should follow the data, not the core
# count.  64 MB keeps state partitions in the guide's reduce-partition
# size band; the session's configured shuffle parallelism stays the cap.
_STATE_BYTES_PER_PARTITION = 64 * 1024 * 1024


class scaled_state_partitions:
    """Context manager sizing ``spark.sql.shuffle.partitions`` — which
    pins a FRESH stateful stream's state-partition count for the life of
    its checkpoint — to the bytes actually awaiting ingest at the
    stream's source paths, capped at the session's configured value.

    Scale-adaptive, not local-tuned: a 100 TB backlog keeps the
    session's full parallelism, a megabyte-scale backfill stops paying
    per-partition state-store setup for empty partitions.  Partition
    count never changes WHAT a stateful query emits — aggregation and
    join results are partitioning-independent — it only changes task
    grain.  Only meaningful around the FIRST run of a checkpoint
    (Structured Streaming re-reads the count from the checkpoint on
    restart, as always).

    CONCURRENCY CONTRACT (shared with graph._loop_shuffle_partitions):
    ``spark.sql.shuffle.partitions`` is SESSION-GLOBAL state — this
    scope is safe for the serial caller (the bench/driver shape), and
    for NESTED scopes on one thread (each inner scope caps at and
    restores the enclosing scope's value; exceptions restore too —
    both pytest-pinned).  Concurrent queries on the SAME SparkSession
    from other driver threads would observe the scaled value while the
    scope is open; run concurrent work from ``spark.newSession()``
    clones (separate per-session conf over one SparkContext) if that
    matters."""

    def __init__(self, spark: SparkSession, *source_paths: str):
        self._spark = spark
        self._paths = source_paths
        self._prev: str | None = None

    def _backlog_bytes(self) -> int:
        total = 0
        for p in self._paths:
            jvm, fs = _fs_for(self._spark, p)
            hpath = jvm.org.apache.hadoop.fs.Path(p)
            if fs.exists(hpath):
                total += int(fs.getContentSummary(hpath).getLength())
        return total

    def __enter__(self):
        if not self._paths:  # no listable backlog: keep session sizing
            return self
        self._prev = self._spark.conf.get("spark.sql.shuffle.partitions")
        n = max(1, -(-self._backlog_bytes() // _STATE_BYTES_PER_PARTITION))
        n = min(n, int(self._prev))
        self._spark.conf.set("spark.sql.shuffle.partitions", str(n))
        return self

    def __exit__(self, *exc):
        if self._prev is not None:
            self._spark.conf.set(
                "spark.sql.shuffle.partitions", self._prev
            )
        return False


def _commit_token(checkpoint_path: str) -> str:
    """Deterministic short token identifying a checkpoint lineage.

    Micro-batch ids are only unique WITHIN one checkpoint: a stream
    restarted against a fresh checkpoint restarts at batch 0, so an
    idempotence key of bare ``batch_id`` would collide with (and
    silently clobber or skip) work done under a previous checkpoint.
    Keying every commit on ``(checkpoint token, batch_id)`` makes
    replay detection exact per lineage.  Deleting a checkpoint while
    keeping its outputs remains undefined behavior, as in any
    Structured Streaming pipeline — the token is derived from the
    checkpoint PATH, so a recreated checkpoint at the same path reuses
    ids."""
    import zlib

    return format(zlib.crc32(checkpoint_path.encode("utf-8")), "08x")


def _start_sink(raw_stream: DataFrame, checkpoint_path: str, process, **kw):
    """Start ``raw_stream`` as an ``availableNow`` ``foreachBatch`` sink
    checkpointed at ``checkpoint_path`` — the one starter of every
    ``streaming_*`` sink.  Each micro-batch runs ``process(batch_df,
    batch_id, token=<the checkpoint's commit token>, **kw)``.  Returns
    the started StreamingQuery."""
    token = _commit_token(checkpoint_path)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        process(batch_df, batch_id, token=token, **kw)

    return (
        raw_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def _write_batch_commit(
    df: DataFrame,
    path: str,
    commit_id: str,
    layout: str | None = None,
    tasks: int | None = None,
) -> None:
    """Write one micro-batch as the ``_commit_id=<commit_id>``
    partitions of ``path`` (under ``<layout>=<v>`` when given) with
    dynamic partition overwrite — the streaming sinks' shared replay
    mechanism: a crash-replayed batch rewrites exactly its own
    partitions.  The commit id is stamped BEFORE the writer shuffle,
    which sets the file count: with ``layout``, one repartition on it
    (into ``tasks`` partitions when given), about one file per layout
    value; without, ``tasks`` coalesces to that many files."""
    df = df.withColumn("_commit_id", F.lit(commit_id))
    if layout is not None:
        df = df.repartition(*([int(tasks)] if tasks else []), layout)
    elif tasks is not None:
        df = df.coalesce(int(tasks))
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*([layout] if layout else []), "_commit_id")
        .parquet(path)
    )


def _last_batch(spark: SparkSession, path: str) -> tuple[str, int] | None:
    """The ``(checkpoint token, batch_id)`` recorded by the
    ``_last_batch`` marker a merging sink commits inside the
    generation at ``path`` (read through the path's own filesystem),
    or ``None`` when there is no marker (a first merge or a legacy
    table).  Each caller applies its own lineage policy."""
    text = _read_text(spark, _join(path, "_last_batch"))
    if text is None:
        return None
    token, _, batch_id = text.strip().partition(":")
    return token, int(batch_id)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet directory (schema
    declared — a streaming scan must never infer).  The timestamp
    physical type is footer-sniffed like the batch path, so a nanos or
    micros regeneration of the driver data is equally safe."""
    nanos = nanos_ts_columns(os.path.join(sf_dir, "events.parquet"), "events")
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The file stream source wants a directory; select the events object
    # with a glob filter so the same sf_dir layout works batch and stream.
    raw = (
        spark.readStream.schema(raw_read_schema("events", nanos))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return restore_nanos_timestamps(raw, nanos)


def stream_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the embeddings parquet (schema declared —
    a streaming scan must never infer).  The vector-ingest face of
    :func:`stream_events`: feeds :func:`streaming_ivf_index_upsert` in
    the registry entry so the continuously-maintained ANN index is
    oracle-gated end to end."""
    raw = (
        spark.readStream.schema(raw_read_schema("embeddings"))
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )
    return raw


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (schema declared —
    a streaming scan must never infer).  The text-ingest face of
    :func:`stream_events`: feeds :func:`streaming_inverted_index_upsert`
    so the continuously-maintained BM25 index is oracle-gated end to
    end."""
    return (
        spark.readStream.schema(raw_read_schema("documents"))
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def hourly_agg_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window aggregation: (hour, event_type) ->
    count + sum(value).  The watermark bounds state; output schema is
    flattened so batch and stream results are directly comparable.

    The value sum is carried through state as EXACT bigint micro-units
    (2-dp data) and converted once on emission: double accumulation in
    streaming state is micro-batch-arrival-order dependent, so the
    emitted sum would otherwise wobble between a backfill and a live
    run of the same data — the streaming face of the stable_sum
    policy."""
    micros = F.round(F.col("value") * F.lit(1e6)).cast("long")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(micros).alias("_sv_micros"),
        )
        .select(
            F.col("w.start").alias("hour"),
            "event_type",
            "n_events",
            (F.col("_sv_micros").cast("double") / F.lit(1e6)).alias(
                "sum_value"
            ),
        )
    )


def run_available_now(
    sdf: DataFrame,
    output_mode: str = "complete",
    source_paths: tuple[str, ...] = (),
) -> DataFrame:
    """Run a streaming frame to completion over all currently-available
    input (micro-batch backfill) and return the materialized result.

    ``source_paths`` (the stream's input files/dirs, when the caller
    knows them) sizes the fresh checkpoint's state-partition count to
    the actual backlog via :class:`scaled_state_partitions` — omit it
    for sources without a listable backlog and the session's configured
    parallelism applies unchanged."""
    name = f"stream_result_{next(_sink_counter)}"
    spark = sdf.sparkSession
    with scaled_state_partitions(spark, *source_paths):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def stream_static_enrichment(
    events: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
    segment_col: str,
) -> DataFrame:
    """Stream-static enrichment: join each micro-batch of the event
    stream against a BATCH dimension table, then aggregate per
    (segment, event_type).  The production lookup-table shape — enrich
    clicks with the account's segment as they arrive.

    Scale shape: the static side is broadcast (dimension-sized), so no
    stream-side shuffle for the join; Spark re-plans the static side
    per micro-batch, which is what makes slowly-changing dimension
    refreshes pick up automatically on the next trigger.  The aggregate
    runs in complete mode with state bounded by the GROUP-BY domain
    (segments x event types — metadata-sized), not by the stream; a
    time-windowed variant would add a watermark instead.  LEFT join:
    an event with no dimension row degrades to segment='unknown',
    never drops (same dirty-data policy as try_cast/try_divide
    elsewhere).  sum(value) goes through exact integer micro-units so
    the emitted double is independent of micro-batch arrival order.
    """
    joined = events.join(
        F.broadcast(dim),
        events[stream_key] == dim[dim_key],
        "left",
    )
    return (
        joined.groupBy(
            F.coalesce(F.col(segment_col), F.lit("unknown")).alias("segment"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.round(F.col("value") * F.lit(1e6)).cast("long")
            ).alias("_sv_micros"),
        )
        .select(
            "segment",
            "event_type",
            "n_events",
            (F.col("_sv_micros").cast("double") / F.lit(1e6)).alias(
                "sum_value"
            ),
        )
    )


STATE_SCHEMA = T.StructType([T.StructField("n", T.LongType())])
USER_COUNT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _count_events(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Stateful per-user running count (custom streaming operator shape:
    per-key state blob updated per micro-batch, cumulative emission)."""
    n = state.get[0] if state.exists else 0
    for pdf in batches:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """``applyInPandasWithState`` running event count per user — emits the
    cumulative count each micro-batch; the latest emission per user is the
    final count."""
    return events.groupBy("user_id").applyInPandasWithState(
        _count_events,
        outputStructType=USER_COUNT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(events: DataFrame, subset: list[str]) -> DataFrame:
    """Streaming exact deduplication: emit the first occurrence of each
    distinct ``subset`` key — the streaming counterpart of the batch
    ``dropDuplicates`` dedup kernel (T11), and the shape a continuously-
    landing training-data feed needs (dedup-on-arrival instead of periodic
    batch sweeps).

    This demo keeps ALL keys in state so the emitted set equals the batch
    ``SELECT DISTINCT`` exactly (the oracle contract).  Production bounds
    state with ``withWatermark(ts, h) .dropDuplicatesWithinWatermark``,
    trading exactness across >h-apart duplicates for bounded state — with
    a monotone source the results coincide.
    """
    return events.select(*subset).dropDuplicates(subset)


def stream_stream_attribution(
    events: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval self-join: every purchase joined
    to the same user's clicks in the preceding ``attribution_window`` —
    the real-time counterpart of the batch range join
    (operators/temporal.py ``range_join`` / `events_attribution_windows`).

    Scale/state shape: both sides carry a watermark and the join condition
    bounds event-time distance, so Spark derives a state-eviction horizon
    for BOTH join buffers — without the time bound a stream-stream join
    buffers forever.  Inner interval joins emit eagerly (the watermark
    only evicts state, it never delays inner-join output), so an
    ``availableNow`` backfill yields exactly the batch join's pairs.
    Per-side projection happens BEFORE the join so only three narrow
    columns enter the state store, not the wide props JSON.

    ORDERING ASSUMPTION for batch-equality: a row arriving more than
    ``watermark`` behind the stream's max event time has its match state
    already evicted, so its inner-join pairs are silently dropped
    relative to the batch oracle.  Equality therefore requires the
    source's event-time disorder to stay within ``watermark`` — true for
    a single availableNow file batch (everything arrives "at once",
    before any watermark advances) and for landing files written in
    rough time order; for an out-of-order production feed, size
    ``watermark`` from the feed's measured max disorder plus the
    attribution window.
    """
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {attribution_window}")
        ),
        "inner",
    ).select("user_id", "purchase_id", "click_id")


def migrate_legacy_silver(spark: SparkSession, out_path: str) -> int:
    """One-shot migration of a FLAT silver table (plain appended
    part-files) to the ``_commit_id``-partitioned replay-safe layout,
    where each micro-batch owns one ``_commit_id`` partition.
    Pre-migration rows carry commit id ``legacy-0`` (their batch
    lineage is unknowable).  The
    migrated table is the table's first committed generation
    (``manifest.commit_parquet_generation``); the sink and readers
    resolve it (``manifest.read_resolved``).  Idempotent: an
    already-partitioned table is left untouched, and a restart after
    any crash point converges to the no-crash result.  Returns the
    number of rows migrated (0 when already migrated)."""
    df = read_resolved(spark, out_path)
    if "_commit_id" in df.columns:
        return 0
    commit_parquet_generation(
        spark,
        df.withColumn("_commit_id", F.lit("legacy-0")),
        out_path,
        partition_by=("_commit_id",),
    )
    return read_resolved(spark, out_path).count()


def streaming_rollup_upsert(
    raw_stream: DataFrame, out_path: str, checkpoint_path: str
):
    """Continuous-aggregate maintenance (the hypertable rollup pattern):
    each micro-batch aggregates to (hour, event_type) PARTIALS, then
    merge-sums them into the materialized rollup parquet — so the serving
    table is always a complete hourly aggregate of everything ingested,
    without ever re-scanning history.

    The merge re-aggregates existing + partial on the rollup key: count
    and sum are decomposable, so merged state is exactly the batch
    aggregate over all arrived data.  The read-merge-rewrite is
    dimension-scale work (the ROLLUP is small even when the stream is
    not — that is the point of a rollup).

    Replay safety: a merge is NOT idempotent (re-merging a batch's
    partials double-counts), so the sink records the last-merged
    ``(checkpoint token, batch_id)`` in a ``_last_batch`` marker file
    written INSIDE the staged generation before the manifest publish
    (``manifest.commit_parquet_generation``) — marker and data commit
    atomically together, on any Hadoop FileSystem.  A batch whose id
    is already covered by the marker (crash landed between the commit
    and the checkpoint commit) is a no-op on replay.  A legacy table
    without a marker merges normally and gains one.  Readers resolve
    the rollup (``manifest.read_resolved``).  Returns the started
    StreamingQuery.
    """
    return _start_sink(
        raw_stream, checkpoint_path, _rollup_process_batch, out_path=out_path
    )


def _rollup_process_batch(
    batch_df: DataFrame, batch_id: int, out_path: str, token: str
) -> None:
    """One :func:`streaming_rollup_upsert` micro-batch — module-level so
    the replay contract (an already-merged batch is a no-op) is directly
    testable."""
    spark = batch_df.sparkSession
    # the served generation holds the totals AND their marker; a crash
    # before a publish leaves the previous pair served
    data_root, payload = _current_generation(spark, out_path)
    last = _last_batch(spark, data_root)
    if last is not None and last[0] == token and batch_id <= last[1]:
        return  # crash-replayed batch: already merged, no-op
    # The materialized rollup stores the value sum as EXACT bigint
    # micro-units: merge-summing double partials across restarts and
    # micro-batch splits would accumulate order-dependent float
    # error in the serving table itself; integer partials merge
    # associatively forever.  Readers convert on the way out.
    partial = batch_df.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.round(F.col("value") * F.lit(1e6)).cast("long")
        ).alias("sum_value_micros"),
    )
    if _exists(spark, data_root):
        # Guard the storage contract BEFORE merging: reading with
        # ``schema(partial.schema)`` would silently surface NULL for
        # any renamed/missing on-disk column (e.g. a table written
        # with a double ``sum_value``), corrupting merged totals
        # forever.  Fail loudly instead; a sink never improvises a
        # conversion mid-stream.  The committed schema comes from the
        # manifest's type record (no footer read).
        on_disk = {
            f.name: f.dataType
            for f in _committed_schema(spark, data_root, payload) or ()
        }
        expected = {f.name: f.dataType for f in partial.schema}
        if on_disk != expected:
            raise ValueError(
                f"rollup at {out_path!r} has schema {sorted(on_disk)} "
                f"but this writer stores {sorted(expected)} (value "
                "sums as exact bigint micro-units); rebuild the rollup "
                "into a fresh path"
            )
        existing = spark.read.schema(partial.schema).parquet(data_root)
        merged = (
            existing.unionByName(partial)
            .groupBy("hour", "event_type")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value_micros").alias("sum_value_micros"),
            )
        )
    else:
        merged = partial
    commit_parquet_generation(
        spark, merged, out_path,
        extra_files={"_last_batch": f"{token}:{batch_id}"},
    )


def streaming_near_dup_dedup(
    raw_stream: DataFrame,
    out_path: str,
    store_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 8,
    num_bands: int = 4,
    shingle_k: int = 3,
    store_partitions: int = 64,
):
    """Cross-batch NEAR-duplicate dedup — accept-on-first-sight MinHash
    LSH over a continuously ingested corpus: each micro-batch drops
    documents that near-duplicate an already-ACCEPTED document (from
    the persistent signature store) or a smaller-id document in the
    same batch, writes the survivors' rows to ``out_path`` and their
    signatures to the store.  The streaming member of the dedup family:
    ``streaming_dedup`` is its exact-key sibling; this one catches the
    boilerplate-shifted and lightly-edited copies exact keys miss.

    Policies, chosen to match the batch operators so the composition is
    oracle-checkable: intra-batch uses near_dup_pairs' pairwise greedy
    (drop the higher id of every qualifying pair); cross-batch, the
    store always wins (an accepted document can never be retroactively
    dropped — the append-only property a downstream training run
    needs).  Documents shorter than the shingle width carry no
    signature and always survive (near_dup_pairs' documented
    exclusion).

    Store layout (the 100 TB shape): one row per ACCEPTED doc per LSH
    band — (band_key, doc shingles) — written as parquet PARTITIONED BY
    ``band_bucket`` (``xxhash64(band_key) mod store_partitions``) so
    the per-batch cross-batch screen reads ONLY the partitions that can
    contain the batch's band keys: the batch's bucket set is collected
    driver-side (bounded by ``store_partitions`` — metadata-sized, the
    ``ivf_topk_indexed`` probe pattern) and the scan carries
    ``band_bucket IN (...)`` as PartitionFilters (plan-pinned in
    tests).  A hash bucket, not a raw band-key prefix, because raw
    minhash-value prefixes have unbounded cardinality and skew.  The
    store grows by ``num_bands`` rows per accepted doc — the DEDUPED
    corpus, not the raw stream — so it stores each survivor's shingle
    set ``num_bands`` times: the deliberate price of co-locating the
    exact-verify payload with the band row (the storage-lean
    alternative — a separate unduplicated signature table joined by
    stored-doc id — would make the verify step a full scan of that
    table every batch, the exact cost this layout removes).  Per-batch
    writes create ``store_partitions`` directories (one writer task
    per bucket); :func:`compact_near_dup_store` folds the per-batch
    files between cleanly-terminated runs.  ``store_partitions``
    trades per-batch fixed overhead (directory listing + job commit,
    ~2-3 s across a whole toy-scale run, amortized to noise at real
    batch sizes) against read-pruning granularity and writer
    parallelism at scale — size it like a bucket count, roughly
    cluster-core order.

    Replay safety: every write is keyed by a ``_commit_id`` partition
    (checkpoint token + batch id) and uses dynamic partition overwrite,
    and the store read EXCLUDES the current commit id — so a batch
    replayed after a crash between the appends and the checkpoint
    commit recomputes the identical drop set (its own half-committed
    rows are invisible to it) and rewrites exactly its own partitions:
    a no-op, not a duplication.

    Batch-split sensitivity is inherent to streaming greedy dedup (a
    doc dropped intra-batch never enters the store, so A~B, B~C chains
    can resolve differently under different splits); with deterministic
    batches the result is exactly reproducible, which is what the
    oracle entry pins.  Scale shape per batch: ONE signature pass over
    the batch (_minhash_table's explode->aggregate), band equi-joins
    batch-vs-batch and batch-vs-pruned-store (never all-pairs), exact
    Jaccard verify against stored shingle sets.  Returns the started
    StreamingQuery."""
    return _start_sink(
        raw_stream,
        checkpoint_path,
        _near_dup_process_batch,
        out_path=out_path,
        store_path=store_path,
        text_col=text_col,
        id_col=id_col,
        threshold=threshold,
        num_hashes=num_hashes,
        num_bands=num_bands,
        shingle_k=shingle_k,
        store_partitions=store_partitions,
    )


def near_dup_store_scan(
    spark: SparkSession,
    store_path: str,
    buckets: list[int] | None = None,
    exclude_commit: str | None = None,
) -> DataFrame:
    """Scan of the persistent near-dup signature store, pruned to the
    band buckets that can match (``band_bucket IN (...)`` — a partition
    filter, so unprobed directories are never listed or read) and
    excluding a replaying batch's own half-committed partition.  Raises
    loudly on any other layout (e.g. flat ``(doc_id, minhash,
    shingles)`` rows) — reading it as absent would silently skip the
    cross-batch screen.  Manifest-aware: after a
    :func:`compact_near_dup_store` commit the store lives under the
    current generation (one ``listStatus`` to resolve; a
    never-compacted store reads as before)."""
    store = spark.read.parquet(resolve_data_root(spark, store_path))
    required = {"band_key", "band_bucket", "_commit_id"}
    if not required <= set(store.columns):
        raise ValueError(
            f"near-dup store at {store_path!r} has columns "
            f"{sorted(store.columns)} but this reader needs "
            f"{sorted(required)} (the band_bucket/_commit_id "
            "partitioned layout); rebuild the store into a fresh path"
        )
    if exclude_commit is not None:
        store = store.where(F.col("_commit_id") != F.lit(exclude_commit))
    if buckets is not None:
        store = store.where(
            F.col("band_bucket").isin([int(b) for b in buckets])
        )
    return store


def _band_bucket(store_partitions: int) -> Column:
    """THE near-dup store's bucket rule over ``band_key``, as the int
    ``band_bucket`` partition value: ``pmod(xxhash64(band_key),
    store_partitions)``.  The sink writes by it and the store screen
    probes by it, so they agree by construction."""
    return F.pmod(
        F.xxhash64(F.col("band_key")), F.lit(int(store_partitions))
    ).cast("int")


def _near_dup_drops(
    sig: DataFrame,
    store_path: str,
    *,
    id_col: str,
    num_hashes: int,
    num_bands: int,
    threshold: float,
    store_partitions: int,
    exclude_commit: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """THE near-dup screen over a signature table ``sig``:
    ``(banded, sets, dropped)`` — the banded fan-out ``(id, band_key)``,
    the shingle sets ``(id, shingles)`` and the distinct ids to drop.
    :func:`near_dup_against_store` and the streaming sink both screen
    through it, so the two paths cannot drift.

    Two drop sets, united: the intra-batch pair path
    (``functions/dedup.py _minhash_pairs``, drop the higher id of each
    qualifying pair), and — when the store exists — the batch docs that
    near-duplicate an already-accepted stored doc (store always wins).
    For the latter the batch's bucket set is collected driver-side
    (bounded by ``store_partitions`` — metadata-sized, the
    ``ivf_topk_indexed`` probe pattern) and the store scan is pruned to
    those partitions, minus a replaying batch's own ``exclude_commit``."""
    from airflow_etl_minio_to_postgres_spark.functions.dedup import (
        _minhash_pairs,
        band_keys_expr,
        jaccard_expr,
    )

    spark = sig.sparkSession
    rows_per_band = num_hashes // num_bands
    banded = sig.select(
        F.col(id_col),
        F.explode(
            band_keys_expr(F.col("minhash"), num_bands, rows_per_band)
        ).alias("band_key"),
    )
    sets = sig.select(id_col, "shingles")
    dropped = _minhash_pairs(
        sig, id_col, num_bands, rows_per_band, threshold
    ).select(F.col("id_b").alias(id_col))
    if not _exists(spark, store_path):
        return banded, sets, dropped.distinct()
    buckets = sorted(
        r[0]
        for r in banded.select(_band_bucket(store_partitions).alias("b"))
        .distinct()
        .collect()
    )
    store_banded = near_dup_store_scan(
        spark, store_path, buckets, exclude_commit=exclude_commit
    ).select(
        F.col(id_col).alias("_sid"),
        "band_key",
        F.col("shingles").alias("sh_s"),
    )
    cross = (
        banded.join(store_banded, ["band_key"])
        # each store row carries one band key, so first-match cannot
        # apply: a (batch doc, stored doc) pair meets once per shared
        # band (sh_s is a function of _sid, so keeping one is exact)
        .dropDuplicates([id_col, "_sid"])
        .join(sets, id_col)
        .where(
            jaccard_expr(F.col("shingles"), F.col("sh_s"))
            >= F.lit(threshold)
        )
        .select(id_col)
    )
    return banded, sets, dropped.unionByName(cross).distinct()


def near_dup_against_store(
    df: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 8,
    num_bands: int = 4,
    shingle_k: int = 3,
    store_partitions: int = 64,
) -> DataFrame:
    """BATCH face of :func:`streaming_near_dup_dedup`'s screen: dedup a
    new delivery against the accepted corpus (and within itself)
    WITHOUT a streaming query — the backfill/ad-hoc shape ("does this
    vendor drop add anything?").  Same policies as the sink, through
    the SAME shared helpers so the two paths cannot drift: intra-batch
    pairwise greedy (drop the higher id of each qualifying pair), then
    store-always-wins against the band-bucket-partitioned signature
    store (scan pruned to the delivery's buckets).

    READ-ONLY by design: survivors are returned as a lazy DataFrame;
    nothing is appended to the store — growing it is the streaming
    sink's job (whose commit-id machinery makes appends replay-safe),
    or a deliberate compact operation.  A missing or foreign-layout
    store raises loudly (a silently-skipped screen is the failure mode
    this family refuses); ``num_hashes``/``num_bands``/``shingle_k``
    MUST match the parameters the store was built with — signatures
    from mismatched parameters never collide correctly.

    The signature table is persisted via the dedup family's tracked
    cache (multiple consumers: banding, shingle verify) — call
    ``functions.dedup.release_caches()`` when done, as after any batch
    dedup operator."""
    from airflow_etl_minio_to_postgres_spark.functions.dedup import (
        _minhash_table,
        _persist_tracked,
    )

    if not _exists(df.sparkSession, store_path):
        raise ValueError(
            f"near-dup store at {store_path!r} does not exist; "
            "near_dup_against_store screens against an EXISTING store "
            "(build one with streaming_near_dup_dedup)"
        )
    sig = _persist_tracked(
        _minhash_table(df, text_col, id_col, num_hashes, shingle_k)
    )
    _, _, dropped = _near_dup_drops(
        sig,
        store_path,
        id_col=id_col,
        num_hashes=num_hashes,
        num_bands=num_bands,
        threshold=threshold,
        store_partitions=store_partitions,
    )
    return df.join(dropped, id_col, "left_anti")


def _near_dup_process_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    out_path: str,
    store_path: str,
    token: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 8,
    num_bands: int = 4,
    shingle_k: int = 3,
    store_partitions: int = 64,
) -> None:
    """One :func:`streaming_near_dup_dedup` micro-batch — module-level
    so the replay contract (same batch twice == once) is directly
    testable without killing a live stream.

    The INTRA-batch screen is :func:`near_dup_pairs`' own pair path
    (``functions/dedup.py _minhash_pairs``: the ``bucket_pairs``
    self-join with the first-match rule) over the batch signature
    table."""
    from airflow_etl_minio_to_postgres_spark.functions.dedup import (
        _minhash_table,
    )

    # post-compaction the store lives under the current generation; the
    # batch's accepted signatures must land there too
    store_path = resolve_data_root(batch_df.sparkSession, store_path)
    commit_id = f"{token}-{batch_id}"
    sig = _minhash_table(
        batch_df, text_col, id_col, num_hashes, shingle_k
    ).persist()
    banded, sets, dropped = _near_dup_drops(
        sig,
        store_path,
        id_col=id_col,
        num_hashes=num_hashes,
        num_bands=num_bands,
        threshold=threshold,
        store_partitions=store_partitions,
        exclude_commit=commit_id,
    )
    # Materialize the drop set BEFORE any write: its plan reads the
    # store, and the store write below must not race a pending store
    # scan (file listings are snapshotted at DataFrame creation, but an
    # eager boundary makes the ordering explicit rather than
    # incidental).  The drop set is id-only.
    dropped_ids = dropped.persist()
    dropped_ids.count()
    _write_batch_commit(
        batch_df.join(dropped_ids, id_col, "left_anti"), out_path, commit_id
    )
    # One writer task per band bucket: without the writer's shuffle
    # every upstream task writes a sliver into every bucket directory —
    # up to (shuffle partitions x store_partitions) tiny files PER
    # BATCH (measured 2x the whole sink's wall-clock at sf0.1).  The
    # shuffled rows are the batch's accepted signatures only.
    _write_batch_commit(
        banded.join(dropped_ids, id_col, "left_anti")
        .join(sets, id_col)
        .withColumn("band_bucket", _band_bucket(store_partitions)),
        store_path,
        commit_id,
        layout="band_bucket",
        tasks=store_partitions,
    )
    dropped_ids.unpersist()
    sig.unpersist()


def streaming_ivf_index_upsert(
    raw_stream: DataFrame,
    centroids: DataFrame,
    index_path: str,
    checkpoint_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Continuously maintain a :func:`...functions.similarity.write_ivf_index`
    serving layout from a stream of embeddings — the ANN-index face of
    the continuous-aggregate pattern: new vectors land in their cell
    partitions as they arrive, and :func:`ivf_topk_indexed` /
    :func:`ivf_topk_batch` serve from the same path with the same
    partition-pruned scans, no rebuild.

    Per batch: ONE assignment pass against the broadcast centroid
    table (``ivf_assign`` — the index's cell contract, identical
    tie-breaks to the batch builder), one shuffle keyed on the cell id
    so each cell gets about one file per batch, one
    dynamic-partition-overwrite write into ``cid=<c>/_commit_id=<k>``
    directories.  Crash-replay safe by the shared commit-id mechanism:
    a replayed batch rewrites exactly its own ``(cid, _commit_id)``
    partitions.  Centroids are FROZEN for the life of the stream —
    reassigning cells would move existing vectors, which an append-only
    maintainer must not do; retrain + rebuild (``write_ivf_index``) is
    the deliberate operation for centroid drift.  Per-cell file
    fragmentation grows one file per batch; fold it with
    :func:`compact_ivf_index` (or rebuild) between cleanly-terminated
    runs.
    Returns the started StreamingQuery."""
    return _start_sink(
        raw_stream,
        checkpoint_path,
        _ivf_index_process_batch,
        index_path=index_path,
        centroids=centroids.select("cid", "cvec"),
        id_col=id_col,
        vec_col=vec_col,
    )


def _ivf_index_process_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    token: str,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One :func:`streaming_ivf_index_upsert` micro-batch — module-level
    so the replay contract (same batch twice == once) is directly
    testable, like the other foreachBatch sinks."""
    from airflow_etl_minio_to_postgres_spark.functions.similarity import (
        ivf_assign,
    )

    assigned = ivf_assign(batch_df, centroids, id_col, vec_col)
    _write_batch_commit(
        batch_df.join(assigned, id_col),
        # batches land in the index's CURRENT generation: after a
        # manifest-based compaction the root holds only the manifest
        # and generation prefixes, and serving resolves the same way
        resolve_data_root(batch_df.sparkSession, index_path),
        f"{token}-{batch_id}",
        layout="cid",
    )


def streaming_inverted_index_upsert(
    raw_stream: DataFrame,
    index_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
):
    """Continuously maintain a
    :func:`...functions.text.write_inverted_index` BM25 serving layout
    from a stream of documents — the SPARSE twin of
    :func:`streaming_ivf_index_upsert`, completing the symmetry:
    build / stream-maintain / serve for both retrieval paths.

    Per batch: one tokenize + tf pass, postings repartitioned on the
    term-hash bucket (about one file per touched bucket per batch),
    one dynamic-partition-overwrite write into
    ``term_bucket=<b>/_commit_id=<k>`` directories — a replayed batch
    rewrites exactly its own partitions.  The ``_stats`` sidecar the
    serving path needs (n_docs, avgdl, n_buckets) is NOT
    batch-decomposable by overwrite, so it merges EXACT integer
    partials — ``(n_docs, n_dl, sum_dl)`` from ``text._corpus_stats``,
    the rollup's micro-unit policy — and ``avgdl = sum_dl / n_dl`` is
    derived by one division at write time (the batch writer's own
    rule, so streamed and one-shot sidecars agree bit-for-bit, NULL
    texts included).  The sidecar is its own committed table at
    ``<data root>/_stats`` (``manifest.commit_parquet_generation``), so
    a batch commits the stats without rewriting the postings.  Replay
    safety for the merge is the rollup's marker mechanism verbatim:
    the last-merged ``(token, batch_id)`` rides a ``_last_batch`` file
    committed in the SAME generation as the stats it describes.  The
    marker is ALSO the lineage guard: pointing a NEW checkpoint at an
    existing index raises before any write (a foreign token would
    double-count both postings and stats — the drift monitor's
    changed-reference stance); resume the original checkpoint or
    rebuild.

    Like the IVF maintainer, append-only: a document re-delivered in a
    LATER batch duplicates its postings and inflates the stats — dedup
    upstream (exact_dedup / the near-dup screen); rebuild
    (``write_inverted_index``) is the documented re-base operation.
    Returns the started StreamingQuery."""
    return _start_sink(
        raw_stream,
        checkpoint_path,
        _inv_index_process_batch,
        index_path=index_path,
        text_col=text_col,
        id_col=id_col,
        n_buckets=n_buckets,
    )


def _inv_index_process_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    token: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> None:
    """One :func:`streaming_inverted_index_upsert` micro-batch —
    module-level so both replay contracts (postings: same batch twice
    == once; stats: an already-merged batch is a no-op) are directly
    testable."""
    from airflow_etl_minio_to_postgres_spark.functions.text import (
        _avgdl,
        _corpus_stats,
        _postings,
        _term_bucket,
    )

    spark = batch_df.sparkSession
    # after a manifest-based compaction the postings AND the _stats
    # sidecar live under the current generation — resolve once per
    # batch (one listStatus; a never-compacted index resolves to root).
    # The streamed _stats is its own committed root; a batch-built flat
    # one resolves to itself.
    index_path = resolve_data_root(spark, index_path)
    stats_root = _join(index_path, "_stats")
    stats_path = resolve_data_root(spark, stats_root)
    # Every guard runs BEFORE any write.  Lineage: the marker only
    # disambiguates replays within ONE checkpoint lineage.  A NEW
    # checkpoint pointed at an existing index would silently
    # double-count BOTH the postings (old _commit_id partitions are
    # never overwritten by the new token's commit ids) and the sidecar
    # stats partials — refuse loudly instead, the drift monitor's
    # changed-reference stance.
    last_token, last_id_merged = _last_batch(spark, stats_path) or (token, -1)
    if last_token != token:
        raise ValueError(
            f"inverted index at {index_path!r} was maintained under "
            f"a different checkpoint lineage (marker token "
            f"{last_token!r}, this stream's token {token!r}) — "
            "merging would double-count postings and sidecar "
            "stats.  Resume the original checkpoint, or rebuild "
            "with write_inverted_index and a fresh checkpoint."
        )
    if batch_id <= last_id_merged:
        # crash-replayed batch: the marker is committed WITH the
        # stats, only after the postings commit — so both the postings
        # and the stats for this batch are already on disk
        return
    sums = ["n_docs", "n_dl", "sum_dl"]
    on_disk = None
    if _exists(spark, stats_path):
        # the merge needs exact integer partials; a sidecar without
        # them is refused before this batch's postings land
        on_disk = spark.read.parquet(stats_path)
        if "sum_dl" not in on_disk.columns:
            raise ValueError(
                f"stats sidecar at {stats_path!r} has no exact sum_dl "
                "column (a one-shot write_inverted_index sidecar?) — "
                "rebuild the index with the streaming maintainer or "
                "keep serving the batch-built layout"
            )
        if "n_dl" not in on_disk.columns:
            raise ValueError(
                f"stats sidecar at {stats_path!r} has no n_dl column "
                "(written before NULL texts left avgdl) — its avgdl "
                "cannot be merged exactly; rebuild the index from a "
                "fresh checkpoint, or serve a write_inverted_index "
                "rebuild"
            )
    # the batch builder's posting build and bucket rule, verbatim
    d, postings = _postings(batch_df, text_col, id_col)
    _write_batch_commit(
        postings.withColumn("term_bucket", _term_bucket(n_buckets)),
        index_path,
        f"{token}-{batch_id}",
        layout="term_bucket",
        tasks=n_buckets,
    )
    merged = _corpus_stats(d).select(*sums)
    if on_disk is not None:
        merged = on_disk.select(*sums).unionByName(merged).agg(
            *[F.sum(c).cast("long").alias(c) for c in sums]
        )
    stats = merged.select(
        *sums, _avgdl(), F.lit(int(n_buckets)).alias("n_buckets")
    )
    commit_parquet_generation(
        spark, stats, stats_root,
        extra_files={"_last_batch": f"{token}:{batch_id}"},
    )


def _fold_commits(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    layout: str | None,
    compact_seq: int,
    keep_last: int,
    sidecar: str | None = None,
) -> int:
    """The compactors' shared fold: rewrite ``df`` (the current
    generation of ``root``) with its per-batch ``_commit_id``
    partitions folded into ONE ``compact-<seq>`` commit, one writer
    task (about one file) per ``layout`` partition — one file in all
    when there is no layout column — and commit it as the next
    generation through :func:`commit_parquet_generation`, carrying
    ``sidecar`` into it.  A frame without ``_commit_id`` (a
    batch-built layout) is simply refragmented.  Returns the compacted
    row count."""
    keys = [layout] if layout else []
    compacted = df.select(
        *[c for c in df.columns if c not in (*keys, "_commit_id")], *keys
    )
    part_cols = list(keys)
    if "_commit_id" in df.columns:
        compacted = compacted.withColumn(
            "_commit_id", F.lit(f"compact-{int(compact_seq)}")
        )
        part_cols.append("_commit_id")
    compacted = (
        compacted.repartition(layout) if layout else compacted.coalesce(1)
    )
    seq = commit_parquet_generation(
        spark,
        compacted,
        root,
        keep_last=keep_last,
        partition_by=tuple(part_cols),
        legacy_sidecars=(sidecar,) if sidecar else (),
    )
    return spark.read.parquet(_join(root, f"_gen-{seq:06d}")).count()


def compact_ivf_index(
    spark: SparkSession,
    index_path: str,
    compact_seq: int = 0,
    keep_last: int = 1,
) -> int:
    """Housekeeping for a streamed :func:`streaming_ivf_index_upsert`
    index: fold the per-batch ``_commit_id`` partitions into ONE
    ``compact-<seq>`` commit per cell, rewriting each cell's
    one-file-per-batch fragmentation into (about) one file — the
    per-cell folding the maintainer's docstring prescribes.  The
    ``cid`` partition level is PRESERVED (a flat rewrite of the
    index root would destroy the directory layout
    :func:`...functions.similarity.ivf_topk_indexed` /
    ``ivf_topk_batch`` prune on), so serving reads the identical
    partition-filtered plan before and after — bit-equal results,
    fewer file opens.

    Same run-window contract as :func:`compact_near_dup_store`: only
    between CLEANLY-terminated stream runs — compaction folds a
    half-committed replay partition into the compact commit, which the
    replaying batch's dynamic overwrite would then duplicate rather
    than replace.  ``availableNow`` runs terminate cleanly by
    construction.  Also accepts a batch :func:`write_ivf_index` layout
    (no ``_commit_id``) and simply refragments it per cell.

    OBJECT-STORE CAPABLE — the compacted layout is committed with
    :func:`...sources.manifest.commit_parquet_generation` (``file://``
    URIs, HDFS and s3a alike): it lands in a NEW immutable
    ``_gen-<seq>`` prefix, a versioned manifest is atomically
    published, and unreferenced generations are GC'd strictly after
    the publish.  A crash at ANY point leaves a servable index:
    pre-publish, readers resolve the old generation (the orphan prefix
    is collected next run); post-publish/pre-GC, readers already
    resolve the new one.  The serving paths (``ivf_topk_indexed`` /
    ``ivf_topk_batch``) and the streaming maintainer resolve the
    manifest on every call; an index that never compacted has no
    manifest and reads exactly as before.  ``keep_last`` is the GC
    grace window (retain the N most recent published generations for
    long-running readers; default 1).  Idempotent in content.  Returns
    the index row count."""
    df = spark.read.parquet(resolve_data_root(spark, index_path))
    if "cid" not in df.columns:
        raise ValueError(
            f"index at {index_path!r} has columns {sorted(df.columns)} — "
            "not an IVF serving layout (no cid partition column)"
        )
    return _fold_commits(spark, index_path, df, "cid", compact_seq, keep_last)


def compact_inverted_index(
    spark: SparkSession,
    index_path: str,
    compact_seq: int = 0,
    keep_last: int = 1,
) -> int:
    """Housekeeping for a streamed
    :func:`streaming_inverted_index_upsert` index — the sparse face of
    :func:`compact_ivf_index`: fold the per-batch ``_commit_id``
    posting partitions into ONE ``compact-<seq>`` commit per term
    bucket, preserving the ``term_bucket`` partition level the serving
    path prunes on.  Same run-window contract as the other compactors:
    only between cleanly-terminated runs.  Also accepts a batch
    :func:`...functions.text.write_inverted_index` layout (no
    ``_commit_id``) and simply refragments it per bucket.

    OBJECT-STORE CAPABLE, committed like :func:`compact_ivf_index`.
    This index is SELF-DESCRIBING via its ``_stats`` sidecar (merged
    corpus stats + the maintainer's replay/lineage marker), so the
    commit carries the sidecar INTO the new ``_gen-<seq>`` prefix
    before the manifest publish (``legacy_sidecars``) — one pointer
    flip commits postings and stats together, and the serving and
    maintainer paths find both under the resolved generation.  GC then
    also collects the superseded root-level ``_stats`` left behind by
    the first commit.  ``keep_last`` is the GC grace window (retain
    the N most recent published generations for long-running readers;
    default 1).  Idempotent in content.  Returns the postings row
    count."""
    df = spark.read.parquet(resolve_data_root(spark, index_path))
    if "term_bucket" not in df.columns:
        raise ValueError(
            f"index at {index_path!r} has columns {sorted(df.columns)} — "
            "not an inverted-index layout (no term_bucket partition "
            "column)"
        )
    return _fold_commits(
        spark, index_path, df, "term_bucket", compact_seq, keep_last,
        sidecar="_stats",
    )


def compact_near_dup_store(
    spark: SparkSession,
    store_path: str,
    compact_seq: int = 0,
    keep_last: int = 1,
) -> int:
    """Housekeeping for the band-partitioned near-dup signature store:
    merge the per-batch ``_commit_id`` partitions into ONE
    ``compact-<seq>`` commit per band bucket, rewriting each bucket's
    many per-batch files into (about) one — the standing fragmentation
    of every streaming append sink (one file per batch per partition),
    paid back as per-file open + footer costs on every cross-batch
    screen.

    MUST run only between CLEANLY-terminated stream runs: the store
    read during a crash-replayed batch excludes that batch's own
    ``_commit_id`` partition, and compaction folds every partition —
    including a half-committed one — into the compact commit, where the
    replaying batch would see its own first-attempt survivors and drop
    everything as self-duplicates.  A crashed run must be restarted
    (and allowed to finish, which makes the replay a no-op) BEFORE
    compacting.  ``availableNow`` runs terminate cleanly by
    construction, so the natural slot is between scheduled backfills.

    OBJECT-STORE CAPABLE, committed like :func:`compact_ivf_index`:
    the compacted store lands in a new ``_gen-<seq>`` prefix
    PRESERVING the ``band_bucket`` partition level the screen prunes
    on, the versioned manifest is the atomic publish, and GC runs
    strictly after (``keep_last`` = grace window).  The store scan and
    the streaming sink resolve the current generation per call; a
    never-compacted store has no manifest and reads as before.
    Idempotent in content: re-compacting a compacted store rewrites
    the same rows.  Returns the store row count."""
    df = spark.read.parquet(resolve_data_root(spark, store_path))
    if not {"band_key", "band_bucket", "_commit_id"} <= set(df.columns):
        raise ValueError(
            f"store at {store_path!r} has columns {sorted(df.columns)}, "
            "not the band_bucket/_commit_id partitioned layout "
            "(band_key, band_bucket, _commit_id); rebuild the store "
            "into a fresh path"
        )
    return _fold_commits(
        spark, store_path, df, "band_bucket", compact_seq, keep_last
    )


def run_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream -> stateful counts -> final value per user (max of cumulative
    emissions, robust to multi-batch splits of the input).

    The explicit ``select("user_id")`` matters: Catalyst cannot prune
    columns through the opaque ``applyInPandasWithState`` operator, so
    without it every column (including the wide ``props`` JSON string)
    crosses the Arrow boundary per micro-batch — ~5x slower at sf0.1.
    """
    # Deliberately NOT backlog-sized (no source_paths): this operator
    # crosses to Python per group (applyInPandasWithState), so collapsing
    # state partitions serializes real per-group work — measured 1.8 s at
    # the session's parallelism vs 3.6 s at the backlog-derived single
    # partition.  Backlog sizing pays only where state-store setup
    # dominates compute (pure-JVM stateful aggregations and joins).
    out = run_available_now(
        stateful_user_counts(stream_events(spark, sf_dir).select("user_id")),
        output_mode="update",
    )
    return out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


def streaming_drift_monitor(
    raw_stream: DataFrame,
    ref: DataFrame,
    value_col: str,
    out_path: str,
    checkpoint_path: str,
    n_buckets: int = 10,
    by: list[str] | None = None,
):
    """Continuously monitor a stream's value distribution against a
    FROZEN reference — the streaming face of
    :func:`...operators.audit.population_stability_index`: production
    drift monitoring runs per ingest micro-batch, not as a nightly
    batch diff, so the PSI operator needs a maintainer the way the IVF
    and inverted indexes have one.

    At monitor start the reference is folded ONCE into its equal-mass
    cutpoints and per-bucket counts (``psi_ref_cuts`` /
    ``psi_bucket_counts`` — the SAME shared helpers the batch operator
    calls, so frozen state and batch math cannot drift) and lands in a
    ``_ref`` sidecar under ``out_path`` (cuts + counts + n_buckets:
    self-describing, the inverted index's ``_stats`` pattern).  The
    reference is frozen for the monitor's life — the IVF
    centroid-freeze contract: re-basing the reference is a new monitor
    (or a rebuilt sidecar), never an in-place mutation, because
    per-batch rows scored against shifting cutpoints are incomparable
    — and ENFORCED: a restart recomputes the sidecar from the passed
    reference and refuses loudly if it differs from the frozen one
    (both are bucket-count-sized, so the equality check is free).

    Per batch: ONE fold of the batch's values into ≤ n_buckets count
    rows (map-side combined; the only stage that sees the batch's
    rows), written to ``out_path`` partitioned by ``_commit_id`` with
    dynamic partition overwrite — a crash-replayed batch rewrites
    exactly its own partition (the shared replay mechanism; no marker
    needed because counts are partition-decomposable, unlike the
    inverted index's stats merge).  The monitor log is
    bucket-count-sized per batch regardless of batch volume.  Read it
    with :func:`drift_report`, whose per-batch PSI is bit-equal to the
    batch operator run on the same slice (pinned in tests).

    ``by`` turns the monitor SEGMENTED — the streaming face of
    :func:`...operators.audit.population_stability_index_by`,
    completing the drift story's symmetry the way ``rrf_fuse_grouped``
    completed retrieval's: each segment freezes its OWN cutpoints in
    the ``_ref`` sidecar (one grouped percentile aggregate), every
    batch folds to ≤ |segments| x n_buckets count rows keyed on the
    segment columns, and :func:`drift_report` discovers the
    segmentation from the sidecar's columns (self-describing — no
    ``by`` re-stated at read time) and reports per (batch, segment,
    bucket), per-segment bit-equal to the batch segmented operator on
    the same slice (pinned in tests).  Segment cardinality must be
    dimension-sized (the batch operator's contract); batch rows whose
    segment has no frozen cutpoints drop out of the fold — a NEW
    segment appearing mid-stream is a re-base event (new monitor),
    exactly like a changed reference.  NULL segment keys are not
    scored (equi-join), NULL values are excluded, matching the batch
    operator.  Returns the started StreamingQuery."""
    from airflow_etl_minio_to_postgres_spark.operators.audit import (
        psi_bucket_counts,
        psi_ref_cuts,
    )

    gcols = list(by or [])
    # manifest-aware (and scheme-agnostic — the whole monitor family
    # goes through Spark/Hadoop IO): after a compact_drift_log commit
    # the _ref sidecar and the count log live under the current
    # generation; a never-compacted monitor resolves to the root
    out_local = resolve_data_root(ref.sparkSession, out_path)
    r = ref.select(*gcols, F.col(value_col).alias("_v")).where(
        F.col("_v").isNotNull()
    )
    cuts = psi_ref_cuts(r, n_buckets, group_cols=gcols or None)
    counts = psi_bucket_counts(r, cuts, "_rc", group_cols=gcols or None)
    if gcols:
        sidecar = counts.join(F.broadcast(cuts), gcols)
    else:
        sidecar = counts.crossJoin(F.broadcast(cuts))
    sidecar = sidecar.withColumn("n_buckets", F.lit(int(n_buckets)))
    spark = ref.sparkSession
    ref_path = os.path.join(out_local, "_ref")
    if _exists(spark, ref_path):
        # a restart must present the SAME frozen reference: silently
        # re-basing cutpoints makes every already-logged batch
        # incomparable with every future one (the layout guards'
        # posture — fail loudly, never re-base in place).  The
        # sidecar is bucket-count-sized (x |segments| when segmented,
        # dimension-sized by contract), so the full compare is free.
        old = sorted(
            tuple(t) for t in spark.read.parquet(ref_path).collect()
        )
        new = sorted(tuple(t) for t in sidecar.collect())
        if old != new:
            raise ValueError(
                f"streaming_drift_monitor: the reference sidecar at "
                f"{ref_path!r} was frozen from a DIFFERENT reference "
                "than the one passed now — per-batch PSI rows scored "
                "against shifting cutpoints are incomparable.  Pass "
                "the original reference, or re-base deliberately with "
                "a fresh out_path (a new monitor)"
            )
    else:
        sidecar.coalesce(1).write.mode("overwrite").parquet(ref_path)
    return _start_sink(
        raw_stream,
        checkpoint_path,
        _drift_process_batch,
        out_path=out_local,
        value_col=value_col,
        by=gcols,
    )


def _drift_process_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    token: str,
    value_col: str,
    by: list[str] | None = None,
) -> None:
    """One :func:`streaming_drift_monitor` micro-batch — module-level so
    the replay contract (same batch twice == once) is directly
    testable, like the other foreachBatch sinks.  With ``by`` the
    batch folds per (segment, bucket) against each segment's own
    frozen cutpoints (one grouped fold, still ≤ |segments| x n_buckets
    rows out)."""
    from airflow_etl_minio_to_postgres_spark.operators.audit import (
        psi_bucket_counts,
    )

    gcols = list(by or [])
    spark = batch_df.sparkSession
    # identity for a pre-resolved generation path; resolves the current
    # generation when handed the monitor root (the replay tests do)
    out_path = resolve_data_root(spark, out_path)
    ref = spark.read.parquet(os.path.join(out_path, "_ref"))
    if gcols:
        cuts = ref.select(*gcols, "_cuts").dropDuplicates(gcols)
    else:
        cuts = ref.select("_cuts").limit(1)
    c = batch_df.select(*gcols, F.col(value_col).alias("_v")).where(
        F.col("_v").isNotNull()
    )
    counts = psi_bucket_counts(
        c, cuts, "_cc", group_cols=gcols or None
    ).withColumn("_batch_id", F.lit(int(batch_id)))
    _write_batch_commit(counts, out_path, f"{token}-{batch_id}", tasks=1)


def compact_drift_log(
    spark: SparkSession,
    out_path: str,
    compact_seq: int = 0,
    keep_last: int = 1,
) -> int:
    """Housekeeping for a :func:`streaming_drift_monitor` log: fold the
    one-tiny-file-per-batch ``_commit_id`` partitions into ONE
    ``compact-<seq>`` commit — the drift-log face of
    :func:`compact_ivf_index`.  Every row keeps its ``_batch_id``
    DATA column, so :func:`drift_report` is bit-equal before and after
    (pinned in tests); the ``_ref`` sidecar rides INTO the published
    generation (a generic flat rewrite of the root would flatten the
    ``_commit_id`` layout AND drop the sidecar — this is why the log
    has its own compactor).  Same run-window contract as
    the other compactors: only between cleanly-terminated runs,
    because a pending replay's dynamic overwrite would duplicate
    rather than replace rows folded into the compact commit.

    OBJECT-STORE CAPABLE, committed like :func:`compact_inverted_index`
    (``_ref`` is carried into the ``_gen-<seq>`` prefix before the
    publish, and GC collects the superseded root sidecar).  The
    monitor, the per-batch sink, and :func:`drift_report` all resolve
    the current generation per call; ``keep_last`` is the GC grace
    window.  Idempotent in content.  Returns the log row count."""
    df = spark.read.parquet(resolve_data_root(spark, out_path))
    if "_batch_id" not in df.columns or "_commit_id" not in df.columns:
        raise ValueError(
            f"compact_drift_log: {out_path!r} has columns "
            f"{sorted(df.columns)} — not a streaming_drift_monitor log"
        )
    return _fold_commits(
        spark, out_path, df, None, compact_seq, keep_last, sidecar="_ref"
    )


def drift_report(
    spark: SparkSession, out_path: str, cumulative: bool = False
) -> DataFrame:
    """Per-batch PSI report over a :func:`streaming_drift_monitor` log:
    one row per (batch, bucket) with the exact
    :func:`...operators.audit.psi_parts` columns plus ``_batch_id`` —
    sum ``psi_part`` within a batch for its total PSI.  Bit-equal to
    running the batch operator on each batch's slice (the sidecar holds
    the frozen reference counts; ``psi_parts`` is shared verbatim).
    Cost: the log and sidecar are bucket-count-sized — |batches| x
    n_buckets rows, metadata-scale at any corpus size.

    ``cumulative=True`` answers the companion question — "has
    EVERYTHING ingested so far drifted?" — by prefix-summing the
    logged counts per bucket over the batch order (counts are
    additive, so batch b's row is exactly the batch operator run on
    the union of slices 0..b; pinned in tests).  One running-sum
    window over the bucket-count-sized log, same cost class.

    A SEGMENTED monitor's log (``streaming_drift_monitor(by=...)``) is
    detected from the sidecar's columns — the report needs no ``by``
    restated: rows come back per (batch, segment, bucket), bit-equal
    per segment to ``population_stability_index_by`` on the same slice
    (pinned in tests), and the cumulative window runs per (segment,
    bucket) cell."""
    from airflow_etl_minio_to_postgres_spark.operators.audit import (
        psi_parts,
    )

    out_local = resolve_data_root(spark, out_path)
    glob = os.path.join(out_local, "_commit_id=*", "*")
    jvm, fs = _fs_for(spark, glob)
    matches = fs.globStatus(jvm.org.apache.hadoop.fs.Path(glob))
    if matches is None or len(matches) == 0:
        # a sidecar-only directory would otherwise fail schema
        # inference with an error pointing nowhere near the cause
        raise ValueError(
            f"drift_report: no batches logged at {out_path!r} yet "
            "(only the _ref sidecar exists) — run the monitor over "
            "at least one non-empty micro-batch first"
        )
    ref = spark.read.parquet(os.path.join(out_local, "_ref"))
    gcols = [
        c
        for c in ref.columns
        if c not in ("bucket", "_rc", "_cuts", "n_buckets")
    ]
    rc = ref.select(*gcols, "bucket", "_rc")
    log = spark.read.parquet(out_local).select(
        "_batch_id", *gcols, "bucket", "_cc"
    )
    batches = log.select("_batch_id").distinct()
    cell_keys = gcols + ["bucket"]
    if cumulative:
        from pyspark.sql import Window

        # densify to the (batch x logged-cell) grid so the running
        # sum carries a cell forward through batches that missed it,
        # then keep only rows whose prefix sum is non-zero — exactly
        # the row set the batch operator produces on the union slice
        cells = log.select(*cell_keys).distinct()
        dense = (
            batches.crossJoin(cells)
            .join(log, ["_batch_id", *cell_keys], "left")
            .select(
                "_batch_id",
                *cell_keys,
                F.coalesce(F.col("_cc"), F.lit(0)).alias("_cc"),
            )
        )
        w = (
            Window.partitionBy(*cell_keys)
            .orderBy("_batch_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        log = dense.select(
            "_batch_id",
            *cell_keys,
            F.sum("_cc").over(w).alias("_cc"),
        ).where(F.col("_cc") > 0)
    # the frozen reference counts, replicated per observed batch —
    # ONE grouped psi_parts plan regardless of how many batches the
    # monitor has logged (both frames are |batches| x |segments| x
    # n_buckets rows)
    rc_per_batch = batches.crossJoin(F.broadcast(rc))
    return psi_parts(
        rc_per_batch, log, eps=1e-6, group_cols=["_batch_id", *gcols]
    )
