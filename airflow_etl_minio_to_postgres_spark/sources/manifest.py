"""Manifest-published table generations — the ONE commit protocol of
every in-place writer (upserts, compactions, Z-order reclusters, legacy
migrations, the streaming merges and their replay markers).

Object stores have no atomic directory rename (S3 "rename" is
copy+delete, not atomic, and not cheap at index scale), so a rewrite
never replaces a directory.  The 100 TB shape is the Iceberg/Delta
commit on plain parquet, reduced to its minimum here:

1. **Write a NEW immutable generation prefix** next to the old one
   (``<root>/_gen-000002/...``) — never mutate data in place.
2. **Atomically publish** a tiny versioned manifest object
   (``<root>/_manifests/manifest-000002.json``) naming that
   generation.  Publishing is the CREATION of a new object — a single
   PUT, atomic on every store — never an overwrite or a rename, so
   there is no window where a reader can observe a half-published
   pointer (the Delta ``_delta_log/<version>.json`` shape).  Readers
   resolve the highest-numbered manifest; no manifest at all means the
   root IS the data (the pre-manifest legacy layout, so adoption is
   incremental per index).
3. **GC unreferenced generations** strictly AFTER the publish.  A crash
   anywhere leaves a servable index: before the publish, readers still
   resolve the old generation (the orphan new prefix is invisible and
   is collected by the next maintenance run); after the publish but
   before GC, readers already resolve the new generation and the stale
   one is just unreferenced storage for the next run to collect.

Single-maintainer contract: like every compactor in this package,
commits run between cleanly-terminated maintenance runs — the versioned
manifest makes a lost-update visible (two racing maintainers would try
to create the same manifest name) but this module does not arbitrate
races.  GC grace: a reader that resolved generation N and is still
scanning it while a LATER maintenance run collects N can fail mid-read
— ``gc_generations(keep_last=N)`` is the Iceberg ``expire_snapshots``
grace window for exactly that reader; the default keeps only the
current generation, right where no reader outlives a maintenance run.

Generation prefixes are underscore-named (``_gen-``) ON PURPOSE:
Spark's partition discovery ignores ``_``-prefixed directories, so an
orphan generation from a crashed first commit can never shadow or
conflict with a legacy flat layout still being read at the root (found
by the crash-model property test — a visible ``gen-`` dir next to
``cid=*`` dirs makes every root read fail with conflicting directory
structures).

Everything goes through the Hadoop FileSystem API of the path's own
scheme — no ``os.*`` calls — so the same code serves ``file://`` URIs,
HDFS, and s3a without a local-filesystem downgrade.
"""

from __future__ import annotations

import json
import re

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from airflow_etl_minio_to_postgres_spark.session import local_relation

MANIFEST_DIR = "_manifests"
ZONE_MAP_DIR = "_zonemap"
BLOOM_DIR = "_bloom"
# Largest probe set the bloom containment test plans as expressions
# (|values| x k aggregate columns); larger probe sets degrade to the
# full filtered scan — see _bloom_kept_files.
BLOOM_PROBE_CAP = 256
# \d{6,}: names are formatted {:06d} but parse wider, so seq 1,000,000+
# still resolves (a fullmatch on exactly six digits would silently stop
# matching the NEWEST manifest and readers would fall back to a stale
# generation with no error).  Numeric sort handles the width.
_MANIFEST_RE = re.compile(r"manifest-(\d{6,})\.json$")
_GEN_RE = re.compile(r"_gen-(\d{6,})$")


def _join(root: str, *parts: str) -> str:
    return "/".join([root.rstrip("/"), *parts])


def _fs_for(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return jvm, fs


def _exists(spark: SparkSession, path: str) -> bool:
    """Existence probe on the filesystem SPARK writes to (Hadoop
    FileSystem API of the path's own scheme), never the driver's local
    one: ``os.path.exists`` on a URI path (``s3a://``, even
    ``file://``) returns False forever, and a broad read-and-catch
    treats ANY ``AnalysisException`` (schema corruption, a momentarily
    unreadable dir, a misconfigured path) as "absent" — the silent-skip
    failure mode a dedup screen or an fsck must not have.  This asks
    the exact question: does the path exist on the session's
    filesystem for that scheme."""
    jvm, fs = _fs_for(spark, path)
    return bool(fs.exists(jvm.org.apache.hadoop.fs.Path(path)))


def _list_names(spark: SparkSession, path: str) -> list[str]:
    jvm, fs = _fs_for(spark, path)
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def _read_text(spark: SparkSession, path: str) -> str | None:
    """A small text object (manifest, replay marker) read through the
    path's own filesystem; ``None`` when it does not exist.  Any other
    I/O failure propagates."""
    jvm, fs = _fs_for(spark, path)
    try:
        stream = fs.open(jvm.org.apache.hadoop.fs.Path(path))
        try:
            return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
    except Exception as exc:
        if "FileNotFoundException" in str(exc):
            return None
        raise


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create (or overwrite) a small text object through the path's own
    filesystem."""
    jvm, fs = _fs_for(spark, path)
    out = fs.create(jvm.org.apache.hadoop.fs.Path(path), True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _manifest_seqs(spark: SparkSession, root: str) -> list[int]:
    """Every manifest sequence number VISIBLE BY NAME, parseable or not,
    ascending.  Name-based on purpose: ``next_seq`` must never reuse the
    number of a crash-stranded partial manifest."""
    return sorted(
        int(m.group(1))
        for n in _list_names(spark, _join(root, MANIFEST_DIR))
        if (m := _MANIFEST_RE.fullmatch(n)) is not None
    )


def _read_manifest(spark: SparkSession, root: str, seq: int) -> dict | None:
    """Read + parse one manifest; ``None`` only when the object is
    GONE (deleted between list and read) or UNPARSEABLE (a crash
    between create and close on visible-before-bytes schemes leaves a
    0-byte/partial object — see ``latest_manifest``).

    TRANSIENT I/O failures (object-store throttling, network blips)
    PROPAGATE: classifying them as "corrupt" would make
    ``latest_manifest`` silently serve a stale generation and — worse —
    make ``gc_generations``' parseable-published arithmetic exclude a
    perfectly healthy manifest from the grace window and collect a
    generation a live reader resolved.  Fail the maintenance run loudly
    instead; retries are the scheduler's job."""
    text = _read_text(
        spark, _join(root, MANIFEST_DIR, f"manifest-{seq:06d}.json")
    )
    if text is None:
        return None  # listed, then deleted — treat as absent
    try:
        payload = json.loads(text)
    except (ValueError, UnicodeDecodeError):
        return None  # complete read, broken content — genuinely corrupt
    return payload if isinstance(payload, dict) else None


def latest_manifest(
    spark: SparkSession, root: str
) -> tuple[int, dict] | None:
    """The highest-numbered PARSEABLE published manifest as
    ``(seq, payload)``, or ``None`` for a legacy (never-committed)
    layout.  One metadata ``listStatus`` of the manifest directory —
    the whole read-side cost of the protocol.

    Unparseable manifests are SKIPPED, falling back to the next-highest
    seq: ``publish_generation`` stages+renames so a crash should never
    leave a partial object under the published name, but on schemes
    where even that guarantee is weaker (or for indexes published by a
    pre-rename version of this module) a stranded 0-byte/partial
    manifest must degrade to serving the previous generation — never to
    an unservable index that every reader and every maintenance run
    dies on until a human deletes a file."""
    for seq in reversed(_manifest_seqs(spark, root)):
        payload = _read_manifest(spark, root, seq)
        if payload is not None:
            return seq, payload
    return None


def _current_generation(
    spark: SparkSession, root: str
) -> tuple[str, dict | None]:
    """``(data_root, manifest payload)`` of ``root``'s current
    generation: the generation the latest manifest names with that
    manifest, or ``(root, None)`` when no manifest was ever published
    (legacy layout — zero behavior change for indexes that never ran a
    manifest-based maintenance op)."""
    got = latest_manifest(spark, root)
    if got is None:
        return root, None
    return _join(root, str(got[1]["generation"])), got[1]


def resolve_data_root(spark: SparkSession, root: str) -> str:
    """Where an index's CURRENT data actually lives
    (:func:`_current_generation`'s data root)."""
    return _current_generation(spark, root)[0]


def _committed_schema(
    spark: SparkSession, data_root: str, payload: dict | None
) -> StructType | None:
    """The schema the current generation was committed with: the
    types its manifest ``payload`` recorded at publish (no footer
    read, no job), else — a legacy flat table, or a manifest published
    before types were recorded — the generation's own footers.
    ``None`` for a schema-less prefix (a crash between write and
    publish).  The commit's drop-column guard and the streaming
    rollup's type guard both read it."""
    if payload is not None and "schema" in payload:
        return StructType.fromJson(payload["schema"])
    try:
        return spark.read.parquet(data_root).schema
    except AnalysisException:
        # the EXPECTED degradation only: a schema-less prefix.
        # Anything else — a storage hiccup, a permission error —
        # PROPAGATES: a blanket except here would silently disable the
        # guards and admit the exact recommit they exist to refuse.
        return None


def snapshots(spark: SparkSession, root: str) -> list[dict]:
    """Every READABLE committed snapshot, ascending — the Delta
    ``DESCRIBE HISTORY`` / Iceberg snapshots-table shape, reduced to
    what the protocol records: ``{"seq", "generation", "exists"}``
    per parseable manifest (``exists`` = the named generation is still
    on disk, i.e. inside the GC grace window and servable).  One
    manifest-dir listing plus one existence probe per retained
    manifest — metadata-sized.  Corrupt (crash-stranded) manifests are
    not snapshots; ``fsck_index`` reports those."""
    out = []
    for seq in _manifest_seqs(spark, root):
        payload = _read_manifest(spark, root, seq)
        if payload is None:
            continue
        gen = str(payload["generation"])
        out.append(
            {
                "seq": seq,
                "generation": gen,
                "exists": _exists(spark, _join(root, gen)),
            }
        )
    return out


def read_snapshot(spark: SparkSession, root: str, seq: int):
    """TIME TRAVEL: the table AS OF committed snapshot ``seq`` — the
    Delta ``VERSION AS OF`` read on this protocol.  Generations are
    immutable and the GC grace window (``keep_last``) retains the N
    most recent published ones, so every snapshot still inside the
    window is byte-identical to the moment it was committed:
    reproducing yesterday's training mix, diffing a suspect compaction
    against its predecessor, or re-running an eval against the exact
    index a result was measured on is one call.  Raises ``KeyError``
    for a seq with no readable manifest — which is the NORMAL outcome
    for a snapshot that aged out of the grace window, since
    ``gc_generations`` deletes the superseded manifest together with
    its generation; when the requested seq is below the oldest
    retained manifest the message names retention as the cause.  A
    loud ``FileNotFoundError`` covers the anomalous
    manifest-retained/generation-deleted state (out-of-band deletion,
    a partial GC crash).  Never a silent fallback to a different
    version.  One targeted manifest read + one existence probe — not
    a scan of the whole history (``snapshots`` is the listing tool)."""
    seq = int(seq)
    payload = _read_manifest(spark, root, seq)
    if payload is None:
        known = _manifest_seqs(spark, root)
        hint = ""
        if known and seq < min(known):
            hint = (
                " — seqs below the oldest retained manifest have been "
                "GC'd (outside the keep_last grace window); raise "
                "keep_last on the maintenance op to retain more history"
            )
        raise KeyError(
            f"no committed snapshot with seq {seq} under {root!r}; "
            f"known seqs: {known}{hint}"
        )
    gen = str(payload["generation"])
    if not _exists(spark, _join(root, gen)):
        raise FileNotFoundError(
            f"snapshot seq {seq} of {root!r} was published but its "
            f"generation {gen!r} has been GC'd (outside the keep_last "
            "grace window) — raise keep_last on the maintenance op to "
            "retain more history"
        )
    return spark.read.parquet(_join(root, gen))


def restore_snapshot(
    spark: SparkSession,
    root: str,
    seq: int,
    keep_last: int = 1,
    partition_by: tuple[str, ...] = (),
    zone_map_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] = (),
    allow_column_drop: bool = False,
) -> int:
    """The Delta ``RESTORE`` shape: re-commit retained snapshot
    ``seq`` as the NEWEST generation, so readers (resolving views,
    ``read_resolved``) flip back to yesterday's table through the
    normal atomic publish — the undo for a bad compaction or a
    poisoned ingest, one call after ``snapshot_diff`` confirmed the
    damage.

    A DATA COPY, not a metadata re-point, on purpose: a new manifest
    naming an OLD generation would be collected out from under itself
    by the GC arithmetic (retention keeps the generations of the last
    ``keep_last`` PUBLISHED seqs — an old generation re-pointed by a
    new seq is outside that set), and the copy keeps every generation
    immutable-once-published, which the crash model relies on.

    Sidecars do NOT travel with the copy — pass ``zone_map_cols`` /
    ``bloom_cols`` to rebuild them for the restored generation (a
    restore of a zone-mapped table without them degrades skipping
    reads to full scans; ``fsck_index`` surfaces that as the
    dropped-sidecar warning).  The copy happens BEFORE the commit's
    GC, so a tight ``keep_last`` may age the SOURCE snapshot out in
    the same call — safe (the data is already copied), but auditing
    the restore with ``snapshot_diff`` against its source requires
    retention that still covers it.  The commit-side schema guard
    applies:
    restoring PAST a widening commit drops the added columns — state
    it with ``allow_column_drop=True``.  Raises ``KeyError`` /
    ``FileNotFoundError`` for an unknown or GC'd ``seq`` exactly like
    :func:`read_snapshot`.  Returns the NEW committed sequence
    number."""
    return commit_parquet_generation(
        spark,
        read_snapshot(spark, root, seq),
        root,
        keep_last=keep_last,
        partition_by=tuple(partition_by),
        zone_map_cols=tuple(zone_map_cols),
        bloom_cols=tuple(bloom_cols),
        allow_column_drop=allow_column_drop,
    )


def read_resolved(
    spark: SparkSession,
    root: str,
    ranges: dict | None = None,
    keys: dict | None = None,
):
    """The thin RESOLVING READER for generic-consumer tables: one
    metadata ``listStatus`` to find the current generation, then a
    plain parquet scan of it — how a table whose consumers are
    ordinary ``spark.read.parquet`` users adopts manifest commits
    (``commit_parquet_generation``) without its readers learning the
    protocol: they switch one call, everything downstream (pushdown,
    pruning, schema) is the untouched parquet scan.  A never-committed
    table resolves to ``root`` itself, so the switch is safe BEFORE
    the writer migrates.

    ``ranges`` / ``keys`` opt a PREDICATE-BEARING consumer into the
    file-skipping planner without learning a second entry point: the
    call becomes :func:`skipping_scan` verbatim (zone-map ∩ bloom
    survivor intersection, full predicate re-applied — equal to the
    plain scan plus ``where`` by construction), and degrades per
    missing sidecar down to exactly that plain filtered scan.  At
    object-store scale this is the difference between ~k file opens
    and one GET per footer of the generation (r15 verdict item 4 —
    previously only the explicit ``skipping_scan`` call got pruning,
    so every generic reader paid the full inventory)."""
    if ranges or keys:
        return skipping_scan(spark, root, ranges=ranges, keys=keys)
    return spark.read.parquet(resolve_data_root(spark, root))


def rebuild_sidecars(
    spark: SparkSession,
    root: str,
    zone_map_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] = (),
    bloom_bits: int = 1 << 20,
    bloom_k: int = 5,
) -> str:
    """(Re)build the ``_zonemap`` / ``_bloom`` sidecars for the CURRENT
    generation of ``root`` in place — how a generation that landed
    WITHOUT stats (a compactor that didn't pass ``zone_map_cols``, a
    table adopted mid-life, a restore that skipped the rebuild) gains
    file-skipping reads after the fact.

    Additive METADATA only: the generation's data files are untouched
    (the immutability the crash model relies on is about data, and
    sidecar writes land under ``_``-prefixed names Spark's scans never
    read as rows), the write is a full idempotent overwrite of each
    sidecar (stats recompute from the live inventory — never a merge
    with stale stats), and a crash mid-rebuild leaves at worst a
    partial sidecar that ``fsck_index`` reports and a re-run repairs.
    One scan of the generation per sidecar family, output file count
    scales with the inventory.  Returns the generation path."""
    gen = resolve_data_root(spark, root)
    if zone_map_cols:
        write_zone_maps(spark, gen, tuple(zone_map_cols))
    if bloom_cols:
        write_bloom_filters(
            spark, gen, tuple(bloom_cols), bits=bloom_bits, k=bloom_k
        )
    return gen


def create_resolving_view(spark: SparkSession, name: str, root: str) -> str:
    """Register the resolved generation as a TEMP VIEW so SQL-only /
    catalog consumers (``spark.table(name)``, JDBC-over-Thrift, BI
    tools) serve from manifest-committed tables without knowing the
    protocol.  The view binds the generation CURRENT AT CREATION —
    re-run this (one listStatus) as the last step of every maintenance
    cycle, the same slot that runs ``fsck_index``; a reader mid-query
    on the previous generation is exactly what the GC grace window
    (``keep_last``) protects.  Returns ``name``.

    The view binds the generation's FULL file inventory — SQL
    predicates against it get parquet footer pushdown but NOT the
    zone-map/bloom sidecar pruning (a temp view cannot re-plan its
    file list per query).  A predicate-bearing consumer that needs
    file skipping at object-store scale should call
    ``read_resolved(root, ranges=…, keys=…)`` (or register the
    PRUNED frame it returns as its own view for a known predicate);
    ``maintenance_cycle(zone_map_cols=…, bloom_cols=…)`` keeps the
    sidecars those reads plan with current across compactions."""
    read_resolved(spark, root).createOrReplaceTempView(name)
    return name


def _data_files(spark: SparkSession, path: str) -> set[str]:
    """Every data file under ``path``, as paths RELATIVE to it —
    one recursive ``listFiles`` (metadata-sized); sidecars, markers,
    and staging temps are excluded by SPARK'S OWN visibility rule
    (verified empirically against the local file index): a path
    component is hidden when it is ``.``-prefixed, ``_``-prefixed
    without ``=``, or a mid-copy ``*._COPYING_`` temp.  The ``=``
    exemption matters: an underscore-prefixed PARTITION COLUMN (the
    repo's own ``_commit_id`` layout) must list as data here or
    every inventory consumer — the empty-commit re-land, GC, fsck,
    sidecar builders — misreads a populated generation as empty.

    ONE DELIBERATE divergence from ``shouldFilterOutPathName``:
    Spark exempts parquet SUMMARY files (``_metadata``/
    ``_common_metadata`` prefixes) from hiding so the parquet layer
    can discover them — but (verified empirically) its row scan
    never reads rows FROM them (the parquet layer skips summary
    files by name), so they are visible-but-rowless to Spark.  This
    inventory keeps them HIDDEN, which is ROW-CONSISTENT with
    Spark's scan (identical row counts for every consumer —
    emptiness, GC arithmetic, sidecar losslessness) while keeping
    them out of the places Spark's name-based skip does not protect:
    sidecar builders computing per-file stats and pruned scans
    passing explicit read paths, where a summary file would be read
    as row data.  Nothing in-repo or in any modern Spark writer
    emits summary files (disabled since Spark 2.0), and generation
    GC removes whole ``_gen-*`` prefixes recursively, so a stray one
    can never be orphaned by being hidden here."""
    jvm, fs = _fs_for(spark, path)
    qualified = fs.makeQualified(
        jvm.org.apache.hadoop.fs.Path(path)
    ).toString()

    def _hidden(seg: str) -> bool:
        return (
            seg.startswith(".")
            or (seg.startswith("_") and "=" not in seg)
            or seg.endswith("._COPYING_")
        )

    out = set()
    it = fs.listFiles(jvm.org.apache.hadoop.fs.Path(path), True)
    while it.hasNext():
        p = it.next().getPath().toString()
        rel = p[len(qualified) + 1 :]
        if any(_hidden(seg) for seg in rel.split("/")):
            continue
        out.add(rel)
    return out


def _file_col(gen_path: str):
    """The sidecars' ``file`` column: each row's data file, RELATIVE to
    the generation root, from the scan's hidden file-path metadata.
    Greedy prefix: the LAST occurrence of the generation dir bounds the
    relative path (a root that itself contains the same segment
    upstream must not shift the boundary; nothing INSIDE a generation
    can collide — hive dirs carry '=', sidecars are '_'-prefixed)."""
    from pyspark.sql import functions as F

    gen_name = gen_path.rstrip("/").rsplit("/", 1)[-1]
    return F.regexp_extract(
        F.col("_metadata.file_path"),
        ".*" + re.escape("/" + gen_name + "/") + "(.*)$",
        1,
    ).alias("file")


def write_zone_maps(
    spark: SparkSession, gen_path: str, zone_map_cols: tuple[str, ...]
) -> str:
    """Per-FILE min/max statistics for ``zone_map_cols``, written as a
    tiny ``_zonemap`` parquet sidecar INSIDE the generation prefix —
    the Delta/Iceberg add-file-stats half of the data-skipping story.

    Parquet footers already carry row-group min/max, and Spark's scan
    uses them — but only AFTER the scan has listed and OPENED every
    file: at 100 TB / ~10⁵ files that is 10⁵ object-store GETs per
    query just to discover that most files are irrelevant.  Delta
    solved this by hoisting the per-file stats into the commit log so
    planning reads ONE object; this is that shape on plain parquet.
    :func:`zone_map_scan` reads the sidecar (one small parquet), keeps
    only the files whose [min, max] intervals overlap the query's
    ranges, and hands Spark the pruned file list — the footer pruning
    then still applies WITHIN the kept files.  Skipping is only as
    good as the layout is tight: commit through
    ``recluster_zorder_committed``/``repartitionByRange`` so each
    file covers a small hyper-rectangle of the value space (see
    ``sources/files.py`` z-order docs).

    Stats are collected with one column-pruned aggregate over the
    just-written generation (``_metadata.file_path`` → min/max per
    file) — distributed, any scheme, page-cache-warm right after the
    write; an engine with footer access could read row-group stats
    instead, but the commit already paid a full write of this data so
    one pruned scan of only the stat columns is a bounded add-on.
    Hive partition columns may be listed too (their per-file min=max
    subsumes directory pruning inside the same mechanism).

    Written BEFORE the manifest publish by
    :func:`commit_parquet_generation`, so the sidecar rides the
    atomic flip: readers either see generation+stats or neither.
    ``_``-prefixed, so plain ``spark.read.parquet`` of the generation
    never sees it.  Min/max ignore NULLs (an all-null file carries
    null stats and is conservatively never skipped).  File paths are
    stored RELATIVE to the generation root, so the sidecar stays
    valid wherever the root is mounted.  Returns the sidecar path."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(gen_path)
    aggs = []
    for c in zone_map_cols:
        aggs.append(F.min(c).alias(f"{c}__min"))
        aggs.append(F.max(c).alias(f"{c}__max"))
    stats = (
        df.select(_file_col(gen_path), *[F.col(c) for c in zone_map_cols])
        .groupBy("file")
        .agg(*aggs)
    )
    # the row-derived aggregate cannot see 0-ROW files (Spark writes
    # partition 0's file even when empty, to carry the schema) — pad
    # the inventory from the actual file listing so the sidecar is
    # complete BY CONSTRUCTION: empty files ride with null stats
    # (conservatively never skipped, harmlessly — they have no rows)
    # and fsck's inventory check stays exact, never a false positive.
    # The file list enters as a local relation (a generation with zero
    # data files pads nothing) and the pad is a left-anti join.
    names = sorted(_data_files(spark, gen_path))
    all_files = local_relation(spark, [(n,) for n in names], "file string")
    null_stats = [
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in stats.schema.fields
        if f.name != "file"
    ]
    pad = all_files.join(stats, "file", "left_anti").select(
        "file", *null_stats
    )
    stats = stats.unionByName(pad)
    zm_path = _join(gen_path, ZONE_MAP_DIR)
    # one row per data file — a single small file is the right shape
    stats.coalesce(1).write.mode("overwrite").parquet(zm_path)
    return zm_path


def zone_map_scan(
    spark: SparkSession,
    root: str,
    ranges: dict,
):
    """File-skipping read of a manifest-committed table by RANGES —
    :func:`skipping_scan` with only the ``_zonemap`` predicate family:
    resolve the current generation, prune its file list by the
    ``_zonemap`` sidecar, scan only the surviving files — the
    query-side half of :func:`write_zone_maps`.

    ``ranges`` maps column → ``(lo, hi)`` (either side ``None`` for a
    one-sided bound).  A file survives when every bounded column's
    [min, max] interval OVERLAPS the requested range; null stats
    (all-null file) survive conservatively.  The same range predicate
    is RE-APPLIED to the scanned rows — zone maps are a pruning hint,
    never the filter itself, so the result is exactly
    ``read_resolved(...).where(predicate)`` by construction, just
    touching fewer files.

    The kept file list is collected driver-side: it is the PLANNING
    metadata every log-structured table format collects (Delta's
    add-file replay), sized by file count, never by rows.  A
    generation without a sidecar falls back to the full scan with the
    filter applied (legacy / not-yet-stats-committed tables — zero
    behavior change); a valid table column the sidecar carries NO
    stats for prunes nothing on that column (zone maps are a hint —
    the re-applied predicate still filters), while a column absent
    from the TABLE raises a clear ``ValueError``.  An empty survivor
    set returns an empty DataFrame with the table's schema without
    touching any data file.  ``basePath`` keeps hive partition columns
    intact when the generation is partitioned."""
    return skipping_scan(spark, root, ranges=ranges)


def _zone_kept_files(
    spark: SparkSession, data_root: str, ranges: dict, dtypes: dict
):
    """Survivor set of the ``_zonemap`` overlap test — ``None`` when
    the generation has no sidecar (no pruning information: the caller
    falls back to the full scan), else the set of relative file paths
    whose [min, max] intervals overlap every bounded range — the range
    half of :func:`skipping_scan`'s planning."""
    from pyspark.sql import functions as F

    zm_path = _join(data_root, ZONE_MAP_DIR)
    if not _exists(spark, zm_path):
        return None
    zm = spark.read.parquet(zm_path)
    zm_cols = set(zm.columns)
    keep = F.lit(True)
    for c, (lo, hi) in ranges.items():
        if f"{c}__min" not in zm_cols:
            # a valid table column the sidecar carries no stats for:
            # zone maps are a pruning HINT — no stats means no pruning
            # on this column; the re-applied predicate still filters
            continue
        mn, mx = F.col(f"{c}__min"), F.col(f"{c}__max")
        if lo is not None:
            keep = keep & (mx.isNull() | (mx >= F.lit(lo).cast(dtypes[c])))
        if hi is not None:
            keep = keep & (mn.isNull() | (mn <= F.lit(hi).cast(dtypes[c])))
    return {r["file"] for r in zm.where(keep).select("file").collect()}


def write_bloom_filters(
    spark: SparkSession,
    gen_path: str,
    bloom_cols: tuple[str, ...],
    bits: int = 1 << 20,
    k: int = 5,
) -> str:
    """Per-FILE Bloom filters for ``bloom_cols``, written as a
    ``_bloom`` parquet sidecar inside the generation — the
    Delta/Iceberg bloom-index half of POINT-LOOKUP file skipping,
    complementing :func:`write_zone_maps`: zone maps answer "may this
    file overlap the RANGE?", which is useless for an equality probe
    on a high-cardinality key over a hash-distributed layout (every
    file's [min, max] spans the domain); a Bloom filter answers "may
    this file CONTAIN the value?" with a bounded false-positive rate
    and zero false negatives — fetch-these-records-by-key over 10^5
    files touches only the files whose filters claim the key.

    Representation: SPARSE bitmap words.  Each row of a file sets
    ``k`` bits (:func:`_bloom_positions` — the engine's own JVM hash,
    one Column builder the probe shares, so it recomputes identical
    positions), and the sidecar stores one row per (file, col,
    word_idx) with the OR of the 64-bit words — size is bounded by
    set bits (≤ k·rows-per-file words), never by ``bits``, so the
    default 2^20-bit domain costs nothing on small files.  NULLs set
    no bits (an equality probe never matches null).  Two sentinel row
    shapes ride the same schema: ``file=''`` meta rows record
    (bits, k) per column for the probe, and ``col=''`` inventory
    rows (word_idx -1) name every data file so fsck's completeness
    check stays exact — a non-empty file silently missing from the
    sidecar would be wrongly skipped by every probe, the worst
    failure class.  The explode/groupBy build is one map-side-combined
    aggregate over the just-written generation (k·rows shuffled —
    commit-time index-build cost, the z-order class, not a serving
    cost); the sentinel rows enter as one local relation.  Written
    BEFORE the manifest publish by :func:`commit_parquet_generation`,
    so the sidecar rides the atomic flip.  Size ``bits`` to the per-file row count (fpp ~
    (1 - e^(-k·n/bits))^k); the default holds ~1% fpp at 10^5 rows
    per file.  Returns the sidecar path."""
    from pyspark.sql import functions as F

    if not bloom_cols:
        raise ValueError("write_bloom_filters: bloom_cols must be non-empty")
    bits, k = int(bits), int(k)
    if bits < 64 or k < 1:
        raise ValueError("write_bloom_filters: need bits >= 64 and k >= 1")
    df = spark.read.parquet(gen_path)
    missing = [c for c in bloom_cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"write_bloom_filters: column(s) {missing} not in generation "
            f"schema {sorted(df.columns)}"
        )
    rel = _file_col(gen_path)
    parts = []
    for c in bloom_cols:
        pos = F.explode(_bloom_positions(c, bits, k))
        parts.append(
            df.select(rel, F.col(c))
            .where(F.col(c).isNotNull())
            .select("file", pos.alias("pos"))
            .select(
                "file",
                F.lit(c).alias("col"),
                F.expr("shiftright(pos, 6)").alias("word_idx"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))"
                ).alias("bit"),
            )
            .groupBy("file", "col", "word_idx")
            .agg(F.bit_or("bit").alias("word"))
        )
    words = parts[0]
    for p in parts[1:]:
        words = words.unionByName(p)
    names = sorted(_data_files(spark, gen_path))
    sentinels = local_relation(
        spark,
        [("", c, bits, k) for c in bloom_cols]
        + [(n, "", -1, 0) for n in names],
        "file string, col string, word_idx bigint, word bigint",
    )
    bl_path = _join(gen_path, BLOOM_DIR)
    # sidecar size is words-per-file x files (unlike _zonemap's one
    # row per file), so a single coalesced task would bottleneck a
    # 10^5-file commit: scale the output file count with the
    # inventory (~512 data files' words per sidecar file keeps each
    # output in the tens of MB) — probes filter on word_idx, which
    # pushes down regardless of the file count
    n_out = max(1, len(names) // 512)
    words.unionByName(sentinels).coalesce(n_out).write.mode(
        "overwrite"
    ).parquet(bl_path)
    return bl_path


def _bloom_positions(name: str, bits: int, k: int):
    """THE Bloom bit-position rule over column ``name``: the array
    ``[pmod(xxhash64(value, i), bits) for int i in 0..k-1]`` — the
    engine's own hash, one Column for :func:`write_bloom_filters` and
    the probe, so a probed value's positions are the writer's by
    construction.  It is one SQL expression, so building it is one
    py4j call; k separate position Columns cost ~4k calls on every
    probe.  The lambda variable is ``<name>_i``, never the column's own
    name, so it cannot shadow the column."""
    from pyspark.sql import functions as F

    col, i = (f"`{n.replace('`', '``')}`" for n in (name, f"{name}_i"))
    return F.expr(
        f"transform(sequence(0, {int(k) - 1}), "
        f"{i} -> pmod(xxhash64({col}, {i}), {int(bits)}))"
    )


def _probe_values(
    spark: SparkSession, values: list, dtype: str, cols: list
) -> list:
    """Collect ``cols`` (Columns over a column ``v`` of type ``dtype``)
    evaluated for each of ``values`` — the driver-local hash probe the
    Bloom pruning and the BM25 term-bucket probe share.  The values
    enter as a ``session.local_relation`` in their own Python types
    and the engine CASTs them to ``dtype``, so the hash columns — the
    writer's own builders — see the value the writer hashed, at the
    column's native type.  The projection
    folds into the local relation, so the collect schedules no job,
    whatever the values hold (quotes and backslashes included)."""
    from pyspark.sql import functions as F

    return (
        local_relation(spark, [(v,) for v in values], ["v"])
        .select(F.col("v").cast(dtype).alias("v"))
        .select(*cols)
        .collect()
    )


def bloom_point_scan(
    spark: SparkSession,
    root: str,
    column: str,
    values: list,
):
    """Point-lookup read of a manifest-committed table through its
    ``_bloom`` sidecar — :func:`skipping_scan` with one key column:
    resolve the current generation, keep only the
    files whose Bloom filter claims AT LEAST ONE of ``values``, scan
    those, and RE-APPLY the ``isin`` predicate — the filter is a
    pruning hint with false positives, never the filter itself, so
    the result equals ``read_resolved(...).where(col.isin(values))``
    by construction (zero false negatives: a Bloom filter never
    claims absence wrongly), just touching ~k files per value instead
    of all of them.

    Planning cost: one sidecar read filtered to the probed word
    indexes (pushed to the parquet scan), one file-count-sized
    collect, positions recomputed by the writer's own Column builder
    (:func:`_bloom_positions`) over the values cast to the column's
    native type in a job-free local probe (:func:`_probe_values`) —
    hash identity with the writer is by construction, not
    convention.  The survivor list is collected driver-side
    (file-count-sized planning metadata, the Delta add-file-replay
    shape).  Fallbacks are
    :func:`skipping_scan`'s: no sidecar, or no filter for ``column``
    (it wasn't in ``bloom_cols``) → full scan with the predicate; a
    column absent from the TABLE raises; ``None`` values are dropped
    (an equality probe never matches null — SQL semantics, and the
    writer set no bits for nulls); an empty ``values`` list or an
    empty survivor set returns an empty frame with the table's
    schema without touching data.  ``values`` sizes the literal
    condition set (k conditions per value) — batches of key lookups
    are the use case, not semi-joins; join against the table for
    row-set-sized probes."""
    return skipping_scan(spark, root, keys={column: values})


def _bloom_kept_files(
    spark: SparkSession,
    data_root: str,
    column: str,
    values: list,
    dtypes: dict,
):
    """Survivor set of the ``_bloom`` containment test — ``None`` when
    the generation has no sidecar, the sidecar carries no filter for
    ``column`` (no pruning information), or the probe set exceeds
    ``BLOOM_PROBE_CAP`` — the containment test builds ``|values| x k``
    aggregate columns plus an O(|values| x k) boolean tree, so a
    row-set-sized probe list would blow up the DRIVER PLAN, not the
    executors; above the cap the caller falls back to the full
    filtered scan (and row-set-sized lookups should be a join against
    the table, per the ``bloom_point_scan`` docs).  Else the set of
    relative file paths whose filters claim at least one of ``values``
    (non-null, non-empty — :func:`skipping_scan` pre-cleans): the key
    half of its planning."""
    from pyspark.sql import functions as F

    if len(values) > BLOOM_PROBE_CAP:
        return None

    bl_path = _join(data_root, BLOOM_DIR)
    if not _exists(spark, bl_path):
        return None
    bl = spark.read.parquet(bl_path)
    meta = {
        r["col"]: (int(r["word_idx"]), int(r["word"]))
        for r in bl.where(F.col("file") == "").collect()
    }
    if column not in meta:
        # committed without a bloom on this column: a hint, not a
        # contract — the re-applied predicate still filters
        return None
    bits, k = meta[column]
    # Probe positions: the writer's position builder over the values
    # cast to the column's native type, through the one driver-local
    # probe — |values| x k positions, metadata-sized
    pos_rows = [
        [int(p) for p in r[0]]
        for r in _probe_values(
            spark,
            values,
            dtypes[column],
            [_bloom_positions("v", bits, k)],
        )
    ]

    all_widx = sorted({p >> 6 for ps in pos_rows for p in ps})
    # Containment test DRIVER-SIDE over the pruned sidecar words: one
    # pushdown-filtered collect of (file, word_idx, word) for the
    # probed indexes — |files| x |distinct probed words| rows, the
    # same planning-metadata size class as the survivor list itself —
    # then pure-Python bit tests.  The retired form built |values| x k
    # aggregate COLUMNS whose py4j construction plus codegen cost
    # ~2.5 s per probe at 8 files / 3 keys (r18, guide §1.2 step 2);
    # the word values are identical either way, so the survivor set is
    # identical by construction.
    rows = (
        bl.where(
            (F.col("col") == column) & F.col("word_idx").isin(all_widx)
        )
        .select("file", "word_idx", "word")
        .collect()
    )
    words: dict[str, dict[int, int]] = {}
    for r in rows:
        words.setdefault(r["file"], {})[int(r["word_idx"])] = int(r["word"])

    def _claims(wmap: dict[int, int], ps: list[int]) -> bool:
        # words are stored as SIGNED 64-bit ORs; Python's two's-
        # complement semantics make the mask test exact for bit 63 too
        return all(wmap.get(p >> 6, 0) & (1 << (p & 63)) for p in ps)

    return {
        f
        for f, wmap in words.items()
        if any(_claims(wmap, ps) for ps in pos_rows)
    }


def skipping_scan(
    spark: SparkSession,
    root: str,
    ranges: dict | None = None,
    keys: dict | None = None,
):
    """THE file-skipping read — the real query shape: range
    predicates AND key lookups in one pruned scan ("these users'
    events in this date window"); :func:`zone_map_scan` (ranges only)
    and :func:`bloom_point_scan` (one key column) are this call with
    one predicate family.  ``ranges`` maps column →
    ``(lo, hi)`` (the ``_zonemap`` test), ``keys`` maps column →
    list-of-values (the ``_bloom`` test, AND across columns, OR
    within a column's values); the survivor set is the INTERSECTION
    of every available sidecar's survivors — each sidecar can only
    remove files the predicate proves empty, so intersecting is
    exact — and the full conjunctive predicate is re-applied to the
    scanned rows, making the result equal to
    ``read_resolved(...).where(pred)`` by construction.

    Degrades per sidecar, never wholesale: a missing ``_zonemap``
    leaves pruning to the blooms and vice versa; neither present is
    the plain filtered scan.  Column-absent-from-table raises;
    ``None`` probe values are dropped (equality never matches null);
    an empty values list for any key column makes the predicate
    unsatisfiable — an empty frame with the table's schema, no data
    touched."""
    from pyspark.sql import functions as F

    ranges = dict(ranges or {})
    keys = {c: [v for v in vs if v is not None] for c, vs in (keys or {}).items()}
    data_root = resolve_data_root(spark, root)
    full = spark.read.option("basePath", data_root).parquet(data_root)
    dtypes = dict(full.dtypes)
    unknown = [c for c in (*ranges, *keys) if c not in dtypes]
    if unknown:
        raise ValueError(
            f"skipping_scan: column(s) {unknown} not in table schema "
            f"{sorted(dtypes)}"
        )
    pred = F.lit(True)
    for c, (lo, hi) in ranges.items():
        if lo is not None:
            pred = pred & (F.col(c) >= F.lit(lo).cast(dtypes[c]))
        if hi is not None:
            pred = pred & (F.col(c) <= F.lit(hi).cast(dtypes[c]))
    for c, vs in keys.items():
        pred = pred & (F.col(c).isin(vs) if vs else F.lit(False))
    if any(not vs for vs in keys.values()):
        return full.where(F.lit(False))
    kept = None  # None = no pruning information yet
    if ranges:
        zk = _zone_kept_files(spark, data_root, ranges, dtypes)
        if zk is not None:
            kept = zk
    for c, vs in keys.items():
        bk = _bloom_kept_files(spark, data_root, c, vs, dtypes)
        if bk is not None:
            kept = bk if kept is None else (kept & bk)
    if kept is None:
        return full.where(pred)
    if not kept:
        return full.where(F.lit(False))
    return (
        spark.read.option("basePath", data_root)
        .parquet(*[_join(data_root, f) for f in sorted(kept)])
        .where(pred)
    )


def lookup_join(
    spark: SparkSession,
    root: str,
    probes,
    on: str,
    how: str = "semi",
):
    """Point-lookup a committed table with a PROBE DATAFRAME — the
    planner decision the ``bloom_point_scan`` docs tell users to make
    by hand ("row-set-sized lookups should be a join"), made first
    class.  When the probe side has at most ``BLOOM_PROBE_CAP``
    distinct keys (one bounded distinct-limit aggregation to find
    out — the planning cost), the keys collect and the read is the
    bloom-pruned :func:`bloom_point_scan` (touches ~k files instead
    of the generation's inventory); above the cap the read is the
    plain resolved scan and the lookup is the join Spark's own
    planner sizes (broadcast below the threshold, shuffle above —
    the correct shape when the probe side is itself fact-sized).

    ``how='semi'``: rows of the table whose ``on`` matches any probe
    key (probe duplicates and extra columns never affect the result).
    ``how='inner'``: the table joined to ``probes`` carrying the
    probe side's columns (probe duplicates multiply, as inner join
    semantics say they must).  NULL probe keys never match (SQL
    equality), on both paths.

    On the below-cap inner path the probe frame is evaluated twice
    (the key collect, then the join) — the probe side there is
    additionally pinned to the COLLECTED keyset (``isin``), so a
    non-deterministic probe frame can never smuggle keys into the
    join that the bloom pruning excluded from the scan: the collected
    keyset IS the lookup.  Probe ROWS for those keys still come from
    the second evaluation — like any Spark plan that reads a source
    twice, an unstable probe source should be persisted by the caller
    if row-level reproducibility matters."""
    from pyspark.sql import functions as F

    if how not in ("semi", "inner"):
        raise ValueError(
            f"lookup_join: how={how!r} not supported — 'semi' or 'inner'"
        )
    head = (
        probes.select(on).distinct().limit(BLOOM_PROBE_CAP + 1).collect()
    )
    if len(head) <= BLOOM_PROBE_CAP:
        vals = [r[0] for r in head if r[0] is not None]
        base = bloom_point_scan(spark, root, on, vals)
        if how == "semi":
            return base  # the re-applied isin IS the semi predicate
        # Pin the probe side to the collected keyset: base is already
        # pruned to vals, so a probe re-evaluation producing OTHER
        # keys would otherwise drop those matches silently.
        return base.join(probes.filter(F.col(on).isin(vals)), on, "inner")
    base = read_resolved(spark, root)
    if how == "semi":
        return base.join(probes.select(on), on, "left_semi")
    return base.join(probes, on, "inner")


def commit_parquet_generation(
    spark: SparkSession,
    df,
    root: str,
    keep_last: int = 1,
    partition_by: tuple[str, ...] = (),
    legacy_sidecars: tuple[str, ...] = (),
    zone_map_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] = (),
    bloom_bits: int = 1 << 20,
    bloom_k: int = 5,
    allow_column_drop: bool = False,
    pre_publish_validate=None,
    extra_files: dict[str, str] | None = None,
) -> int:
    """Write ANY DataFrame as the next manifest-committed generation
    of ``root`` — the one commit path of every in-place writer
    (upserts, compactions, z-order reclusters, legacy migrations,
    medallion gold, the streaming merges): the
    frame lands in a new immutable ``_gen-<seq>`` prefix, the
    versioned manifest is published (staged PUT + rename — atomic
    commit point), and retention-aware GC runs strictly after.  A
    crash at any point leaves the previous generation servable.
    Readers use :func:`read_resolved` / :func:`create_resolving_view`
    (or ``resolve_data_root`` directly).  The FIRST commit of a legacy
    flat table leaves the old root files in place until GC's
    ``drop_flat`` arithmetic says every grace-window reader is done
    with them.  ``zone_map_cols`` additionally writes the per-file
    min/max ``_zonemap`` sidecar (:func:`write_zone_maps`) into the
    generation BEFORE the publish, so file-skipping reads
    (:func:`zone_map_scan`) flip atomically with the data;
    ``bloom_cols`` does the same for the per-file ``_bloom``
    point-lookup filters (:func:`write_bloom_filters` /
    :func:`bloom_point_scan`, sized by ``bloom_bits``/``bloom_k``).
    ``legacy_sidecars`` names directories of a self-describing table
    (an inverted index's ``_stats``, a drift log's ``_ref``): each is
    copied from the current data root into the staged generation
    after the data and skip-index sidecars are written and before the
    QA hook and the publish (:func:`copy_tree`; an absent one is
    skipped), so one pointer flip publishes the whole table, and GC
    drops the superseded root copy once the flat payload leaves the
    grace window.  This is how the streamed-index compactors
    (``streaming/pipeline.py compact_*``) commit.
    ``extra_files`` (name -> text) are written into the staged
    generation next, so they become visible atomically with the data
    they describe — how the streaming merges commit their
    ``_last_batch`` replay marker.  Names must start with ``_`` or
    ``.`` (Spark's parquet reader ignores such files; anything else
    would corrupt the table); a bad name is refused before any write.

    SCHEMA GUARD: a recommit whose frame DROPS columns the current
    generation carries (:func:`_committed_schema`) breaks every
    downstream reader silently (the resolving view narrows, selects
    fail far from the cause) — the
    usual cause is a compaction bug, not intent, so the commit
    REFUSES before writing anything unless ``allow_column_drop=True``
    states the migration is deliberate.  Additions and type changes
    pass (widening is the normal evolution direction; type drift is
    ``snapshot_diff``'s report, and a serving-layout loss is
    ``fsck_index``'s kind-regression issue).

    ``pre_publish_validate`` is the QA GATE the atomic flip makes
    possible: it runs AFTER the staged generation (and its sidecars)
    are fully written but BEFORE the manifest publish and GC.  If it
    raises, the staged prefix is deleted, the exception propagates,
    and NOTHING changed from a reader's point of view — the previous
    snapshot keeps serving and retention never ran, so a
    below-quality run can neither become the serving table nor
    collect its predecessor.  The hook is called with the STAGED
    GENERATION PATH, enabling output-aware validation — count or
    constraint-check what was actually written (parquet counts are
    footer-metadata jobs) rather than re-deriving it from the frame
    (``recluster_zorder_committed``'s row-count guard;
    ``files.recluster_zorder_partitions`` uses the path to carry the
    partition directories its write did not stage).  Because any
    observation attached to the frame (``observe_quality``) resolves
    during the staged write's scan, a hook may also ignore the path
    and gate on observed metrics with zero extra passes (this is
    ``write_medallion``'s ``min_rows`` path).  Returns the committed
    sequence number."""
    for name in extra_files or {}:
        if not name.startswith(("_", ".")):
            raise ValueError(
                f"extra file {name!r} must start with '_' or '.' so the "
                "parquet reader ignores it"
            )
    data_root, payload = _current_generation(spark, root)
    prev_cols: set = set()
    # a predecessor prefix that is gone (GC'd out from under a stale
    # manifest) has nothing left to guard
    if payload is not None and _exists(spark, data_root):
        prev = _committed_schema(spark, data_root, payload)
        prev_cols = set(prev.names) if prev is not None else set()
    dropped = sorted(prev_cols - set(df.columns))
    if dropped and not allow_column_drop:
        raise ValueError(
            f"commit_parquet_generation: frame drops column(s) "
            f"{dropped} that the current generation of {root!r} "
            "carries — every reader of the resolving view would "
            "break; pass allow_column_drop=True if this migration "
            "is deliberate"
        )
    seq = next_seq(spark, root)
    gen = f"_gen-{seq:06d}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(_join(root, gen))
    if partition_by and not _data_files(spark, _join(root, gen)):
        # an EMPTY partitioned write emits no data file at all (only
        # _SUCCESS) — the generation would be unreadable (no schema to
        # infer) and every read_resolved/time-travel read of this
        # snapshot would die far from the cause.  Re-land the empty
        # frame FLAT: one zero-row part file carrying the FULL schema
        # (partition columns included, since nothing is partitionBy'd
        # out of the data), so readers see the right schema and zero
        # rows.  An empty commit is legitimate (a compaction that
        # filtered everything, an empty CDC batch) — it must produce a
        # servable snapshot, not a wedge.  GUARD first: the listing is
        # a PROXY for emptiness, and overwriting on a wrong proxy is
        # silent data loss published as the new snapshot — so confirm
        # against the WRITTEN OUTPUT (Spark's own read of the staged
        # prefix; one limit(1) job, only on this rare path), never by
        # re-running the frame's lineage, which for a
        # non-deterministic frame (rand/sample/unstable source) can
        # disagree with what the write actually landed.  A read that
        # cannot even infer a schema IS the genuinely-file-less case
        # the re-land exists for.
        try:
            written_nonempty = (
                spark.read.parquet(_join(root, gen)).limit(1).count() > 0
            )
        except AnalysisException:
            written_nonempty = False
        if written_nonempty:
            raise RuntimeError(
                "commit_parquet_generation: the partitioned write of "
                f"{_join(root, gen)!r} listed NO data files but "
                "Spark's own read of it returns rows — refusing to "
                "re-land an empty snapshot over data; the listing "
                "rule and the layout disagree (report this: it means "
                "_data_files cannot see files Spark just wrote)"
            )
        df.limit(0).write.mode("overwrite").parquet(_join(root, gen))
    if zone_map_cols:
        write_zone_maps(spark, _join(root, gen), tuple(zone_map_cols))
    if bloom_cols:
        write_bloom_filters(
            spark,
            _join(root, gen),
            tuple(bloom_cols),
            bits=bloom_bits,
            k=bloom_k,
        )
    for name in legacy_sidecars:
        copy_tree(spark, _join(data_root, name), _join(root, gen, name))
    for name, text in (extra_files or {}).items():
        _write_text(spark, _join(root, gen, name), text)
    if pre_publish_validate is not None:
        try:
            pre_publish_validate(_join(root, gen))
        except BaseException:
            # Validation refused the staged generation: delete it so a
            # deliberate rejection leaves no orphan debt (a CRASH here
            # would leave one, which GC/fsck already handle), then let
            # the failure propagate.  The manifest was never touched —
            # the previous snapshot is still serving and GC never ran.
            # The cleanup must never REPLACE the validation error: a
            # storage hiccup during the delete just strands the orphan
            # (the already-handled crash case) while the caller still
            # sees WHY the publish was refused.
            try:
                jvm, fs = _fs_for(spark, root)
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(_join(root, gen)), True
                )
            except Exception:
                pass
            raise
    publish_generation(spark, root, seq, gen, columns=df.schema)
    gc_generations(
        spark,
        root,
        seq,
        gen,
        legacy_sidecars=tuple(legacy_sidecars),
        keep_last=keep_last,
    )
    return seq


def maintenance_cycle(
    spark: SparkSession,
    root: str,
    compactor,
    keep_last: int = 1,
    view_name: str | None = None,
    fsck_sample: int = 1000,
    zone_map_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] = (),
) -> dict:
    """One SCHEDULED-MAINTENANCE cycle for a manifest-committed serving
    index, in the order the invariants require: run the ``compactor``
    (any ``compact_*`` callable taking ``(spark, path)`` — it commits a
    new generation, publishes, and GCs under its own ``keep_last``),
    then :func:`fsck_index` the result with the SAME retention (so the
    grace-window retainees don't read as debt), then — only if fsck
    found no issues — refresh the optional resolving view so SQL
    consumers flip to the new generation.  Raises ``RuntimeError`` on
    fsck issues BEFORE touching the view: a wedged index keeps serving
    its previous generation to view readers rather than publishing a
    broken pointer into the catalog.  Returns the fsck report.

    This is the cron body RUNBOOK §5b prescribes next to the recall
    health evals; the end-to-end composition is driver-gated by
    ``docs_index_fsck``.

    ``zone_map_cols`` / ``bloom_cols`` keep the file-skipping sidecars
    CURRENT across compactions of generic committed tables: a
    compactor that lands its generation without stats silently
    degrades every ``skipping_scan`` / ``read_resolved(ranges=…)``
    consumer to full scans (fsck reports it only as the
    dropped-sidecar warning) — naming the columns here rebuilds both
    sidecars on the fresh generation (:func:`rebuild_sidecars`)
    BEFORE fsck runs, so the same cycle that would have surfaced the
    warning validates the rebuilt inventories instead.

    The call shape is decided by INSPECTING the compactor's signature,
    never by catching ``TypeError`` — a catch would swallow a
    TypeError raised INSIDE the compactor body (possibly after its
    publish) and re-run the whole compaction; and a compactor that
    cannot take ``keep_last`` at all is REFUSED rather than silently
    run at its own default retention, which would GC the grace-window
    generation the caller asked to keep out from under a mid-scan
    reader."""
    import inspect

    params = inspect.signature(compactor).parameters
    if "keep_last" not in params and not any(
        p.kind is inspect.Parameter.VAR_KEYWORD for p in params.values()
    ):
        raise TypeError(
            f"maintenance_cycle: compactor {compactor!r} does not accept "
            "keep_last — running it at its own default retention would "
            "violate the caller's grace window; wrap it or add the "
            "parameter"
        )
    compactor(spark, root, keep_last=keep_last)
    if zone_map_cols or bloom_cols:
        rebuild_sidecars(
            spark,
            root,
            zone_map_cols=tuple(zone_map_cols),
            bloom_cols=tuple(bloom_cols),
        )
    report = fsck_index(spark, root, sample=fsck_sample, keep_last=keep_last)
    if report["issues"]:
        raise RuntimeError(
            f"maintenance_cycle: fsck found issues on {root!r} after "
            f"compaction — view NOT refreshed, previous generation "
            f"keeps serving: {report['issues']}"
        )
    if view_name is not None:
        create_resolving_view(spark, view_name, root)
        report["view_refreshed"] = view_name
    return report


def snapshot_diff(spark: SparkSession, root: str, seq_a: int, seq_b: int):
    """Row-level diff between two retained snapshots: what a commit
    actually CHANGED — the review tool next to time travel (audit a
    suspect compaction, confirm an idempotent rewrite was value-equal,
    quantify an upsert).  Returns a DataFrame of the symmetric
    difference tagged ``_change`` = ``added`` (in ``seq_b`` only) /
    ``removed`` (in ``seq_a`` only); an empty result PROVES the two
    snapshots value-equal.  Multiset semantics (``exceptAll``):
    duplicate rows diff by count, not presence.  Cost: one scan of
    each snapshot through two anti-join-shaped exchanges — data-sized,
    run it where you'd run the compaction itself, not on the serving
    path.  Both snapshots must still be inside the GC grace window
    (:func:`read_snapshot` raises otherwise); schemas must match by
    COLUMN SET and types — column ORDER is layout, not schema, so a
    pure-reorder rewrite diffs normally (columns are aligned by name
    before ``exceptAll``), while a missing/extra column or a
    same-name/different-type drift is caught here with an error that
    names the divergence rather than a cast surprise downstream."""
    from pyspark.sql import functions as F

    a = read_snapshot(spark, root, seq_a)
    b = read_snapshot(spark, root, seq_b)
    cols = sorted(a.columns)
    if cols != sorted(b.columns):
        only_a = sorted(set(a.columns) - set(b.columns))
        only_b = sorted(set(b.columns) - set(a.columns))
        raise ValueError(
            f"snapshot_diff: column sets differ between seq {seq_a} "
            f"and seq {seq_b} — only in {seq_a}: {only_a}, only in "
            f"{seq_b}: {only_b}; diff the column sets first"
        )
    a = a.select(cols)
    b = b.select(cols)
    ta, tb = dict(a.dtypes), dict(b.dtypes)
    drift = [(c, ta[c], tb[c]) for c in cols if ta[c] != tb[c]]
    if drift:
        raise ValueError(
            f"snapshot_diff: column types drifted between seq {seq_a} "
            f"and seq {seq_b}: "
            + ", ".join(f"{c} ({x} -> {y})" for c, x, y in drift)
            + " — a schema-evolving commit changed types; cast one "
            "side explicitly before diffing"
        )
    added = b.exceptAll(a).withColumn("_change", F.lit("added"))
    removed = a.exceptAll(b).withColumn("_change", F.lit("removed"))
    return added.unionByName(removed)


def next_seq(spark: SparkSession, root: str) -> int:
    """The next commit sequence number: one past everything visible —
    published manifests AND orphan generation prefixes (a crashed
    run's generation that never got its manifest must not be reused
    for a different payload; the overwrite-mode write makes reuse safe
    anyway, but a fresh number keeps every prefix immutable-once-
    published).  Counts manifests BY NAME — a crash-stranded
    unparseable manifest still claims its number, so the next commit
    supersedes rather than collides with it."""
    seqs = [0, *_manifest_seqs(spark, root)]
    for n in _list_names(spark, root):
        m = _GEN_RE.fullmatch(n)
        if m is not None:
            seqs.append(int(m.group(1)))
    return max(seqs) + 1


def publish_generation(
    spark: SparkSession,
    root: str,
    seq: int,
    generation: str,
    columns: StructType | None = None,
) -> None:
    """Step 2 — the commit point: make ``_manifests/manifest-<seq>.json``
    visible naming ``generation`` (and, when given, the ``columns`` it
    was committed with: their names, and their types next to them, which
    :func:`_committed_schema` reads instead of the generation's
    footers).

    On object stores a single PUT is atomic, but on file:// and HDFS
    ``fs.create`` makes the path VISIBLE before any bytes are written —
    a crash between create and close would strand a partial object
    under the published name.  So the manifest is staged under a
    dot-prefixed temp name (never matches ``_MANIFEST_RE``; invisible
    to readers and to ``next_seq``) and RENAMED into place: atomic on
    rename-capable schemes, and on s3a the rename's copy-PUT still
    creates the destination object atomically with full content.
    ``latest_manifest`` additionally tolerates partial manifests as
    defense in depth.

    The destination existing already means a racing maintainer (out of
    contract, but cheap to catch) — fail loudly instead of silently
    replacing a published commit."""
    jvm, fs = _fs_for(spark, root)
    final = _join(root, MANIFEST_DIR, f"manifest-{seq:06d}.json")
    tmp = _join(root, MANIFEST_DIR, f".manifest-{seq:06d}.json.inprogress")
    fpath = jvm.org.apache.hadoop.fs.Path(final)
    tpath = jvm.org.apache.hadoop.fs.Path(tmp)
    if fs.exists(fpath):
        raise FileExistsError(
            f"manifest seq {seq} already published at {final} — "
            "a second maintainer committed concurrently"
        )
    payload = {"generation": generation}
    if columns is not None:
        payload["columns"] = columns.names
        payload["schema"] = columns.jsonValue()
    _write_text(spark, tmp, json.dumps(payload))
    if not fs.rename(tpath, fpath):
        raise FileExistsError(
            f"could not rename staged manifest into {final} — "
            "destination appeared concurrently (racing maintainer?)"
        )


def copy_tree(spark: SparkSession, src: str, dst: str) -> bool:
    """Recursive copy through the paths' own filesystems (works across
    schemes) — how ``commit_parquet_generation`` carries a
    self-describing index's sidecar (``_stats`` with its replay
    marker, ``_ref``) INTO a new generation so the manifest flip
    publishes the WHOLE index atomically.  Returns False if ``src``
    does not exist (nothing to carry)."""
    jvm, fs_src = _fs_for(spark, src)
    _, fs_dst = _fs_for(spark, dst)
    spath = jvm.org.apache.hadoop.fs.Path(src)
    if not fs_src.exists(spath):
        return False
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    jvm.org.apache.hadoop.fs.FileUtil.copy(
        fs_src, spath, fs_dst, jvm.org.apache.hadoop.fs.Path(dst),
        False, True, conf,
    )
    return True


def _gc_candidates(
    spark: SparkSession,
    root: str,
    keep_seq: int,
    keep_generation: str,
    parsed: list[int],
    keep_last: int = 1,
    legacy_sidecars: tuple[str, ...] = (),
) -> tuple[list[str], set[str]]:
    """THE retention rule — the one classifier :func:`gc_generations`
    deletes by and :func:`fsck_index` reports GC debt by, so the two
    can never disagree about the grace window.  Classifies the root
    listing and the manifest listing against the commit ``keep_seq``
    (naming ``keep_generation``) under retention ``keep_last``;
    ``parsed`` is the ascending list of PARSEABLE manifest seqs (at
    least every one at or below ``keep_seq``) — each caller reads its
    manifests once and hands the result in.

    Returns ``(names, held)``: ``names`` is everything the retention
    policy does not keep, in listing order, root names first, then
    manifest-dir names prefixed ``_manifests/``; ``held`` is the subset
    of ``_gen-*`` prefixes numbered ABOVE ``keep_seq`` — a later
    maintainer's in-flight or published commit, never ours to delete
    (deleting its data while its manifest stays would manufacture the
    dangling-pointer unservable state), but storage debt all the
    same."""
    keep_last = max(1, int(keep_last))
    # the grace window counts PARSEABLE manifests only: a reader can
    # only be mid-scan on a generation it resolved, and corrupt
    # (crash-stranded) manifests were never resolvable — their
    # generations are orphans and their manifests superseded residue
    published = [s for s in parsed if s <= keep_seq]
    kept_seqs = set(published[-keep_last:]) | {keep_seq}
    # our writers name generations _gen-<seq>; a payload using another
    # convention keeps only the current generation (the safe floor)
    kept_gens = {f"_gen-{s:06d}" for s in kept_seqs} | {keep_generation}
    # the pre-manifest payload (flat part files, hive partition dirs,
    # root copies of legacy sidecars) counts as the OLDEST generation
    drop_flat = len(published) >= keep_last
    names: list[str] = []
    held: set[str] = set()
    for n in _list_names(spark, root):
        m = _GEN_RE.fullmatch(n)
        if m is not None:
            if int(m.group(1)) > keep_seq:
                held.add(n)
            # orphans (never published) are always collected
            drop = n not in kept_gens or int(m.group(1)) not in kept_seqs
        else:
            drop = drop_flat and (
                "=" in n
                or n.startswith("part-")
                or n == "_SUCCESS"
                or n in legacy_sidecars
            )
        if drop:
            names.append(n)
    for n in _list_names(spark, _join(root, MANIFEST_DIR)):
        m = _MANIFEST_RE.fullmatch(n)
        # a named manifest at or below our commit that the grace window
        # does not keep is superseded (this also collects corrupt
        # crash-stranded manifests, which are never in kept_seqs);
        # names ABOVE keep_seq are never touched.  Stranded .inprogress
        # temps are a crashed publish's staging residue (our own temp
        # was renamed away before GC runs).
        superseded = (
            m is not None
            and int(m.group(1)) <= keep_seq
            and int(m.group(1)) not in kept_seqs
        )
        stranded_tmp = n.startswith(".manifest-") and n.endswith(
            ".inprogress"
        )
        if superseded or stranded_tmp:
            names.append(f"{MANIFEST_DIR}/{n}")
    return names, held


def gc_generations(
    spark: SparkSession,
    root: str,
    keep_seq: int,
    keep_generation: str,
    legacy_sidecars: tuple[str, ...] = (),
    keep_last: int = 1,
) -> list[str]:
    """Step 3 — collect everything the retention policy does not keep:
    older/orphan ``_gen-*`` prefixes, superseded manifests, the
    pre-manifest flat payload (hive partition directories, part files)
    at the root left behind by the FIRST manifest-based commit, and any
    named ``legacy_sidecars`` at the root (their live copies travel
    inside each generation: ``commit_parquet_generation`` copies them
    in before the publish).  Runs strictly after the publish; a crash
    here costs storage, never correctness.  What to collect is decided
    by :func:`_gc_candidates`, the same rule ``fsck_index`` reports
    as GC debt; generations numbered above ``keep_seq`` are left alone.

    ``keep_last`` is the GC GRACE WINDOW (Iceberg's
    ``expire_snapshots`` shape): retain the ``keep_last`` most recent
    PUBLISHED generations (and their manifests), so a long-running
    reader that resolved generation N-1 before the new publish can
    finish scanning it.  The default 1 keeps only the current
    generation — right for the test corpus, where no reader outlives a
    maintenance run; production deployments size it to their longest
    query.  Orphan prefixes (a crashed run's generation that never got
    a manifest) are always collected — no reader can have resolved
    them.  The pre-manifest flat payload counts as the oldest
    generation: it survives while fewer than ``keep_last`` generations
    have been published.  Returns deleted names."""
    jvm, fs = _fs_for(spark, root)
    parsed = [
        s
        for s in _manifest_seqs(spark, root)
        if s <= keep_seq and _read_manifest(spark, root, s) is not None
    ]
    names, held = _gc_candidates(
        spark,
        root,
        keep_seq,
        keep_generation,
        parsed,
        keep_last,
        legacy_sidecars,
    )
    deleted = [n for n in names if n not in held]
    for n in deleted:
        # root entries are trees; manifests are single objects
        recursive = not n.startswith(f"{MANIFEST_DIR}/")
        fs.delete(jvm.org.apache.hadoop.fs.Path(_join(root, n)), recursive)
    return deleted


def _layout_kind(cols: set) -> str | None:
    """The maintained SERVING layout a column set identifies, or
    ``None`` when it is none of the four — the single source of truth
    for ``fsck_index``'s kind detection AND its kind-REGRESSION check
    (the current and the previous generation must be classified by the
    same rule or the comparison is meaningless)."""
    if "cid" in cols:
        return "ivf"
    if "term_bucket" in cols:
        return "inverted"
    if "band_bucket" in cols:
        return "near_dup_store"
    if {"_batch_id", "bucket"} <= cols:
        return "drift_log"
    return None


# per sidecar: the reads it prunes, its reader, its builder — the words
# fsck's inventory issues name
_SIDECAR_ROLES = {
    ZONE_MAP_DIR: ("skipping reads", "zone_map_scan", "write_zone_maps"),
    BLOOM_DIR: (
        "point-lookup reads", "bloom_point_scan", "write_bloom_filters"
    ),
}


def _check_sidecar_inventory(
    spark: SparkSession,
    data_root: str,
    name: str,
    actual: set[str],
    issues: list[str],
) -> int | None:
    """``fsck_index``'s completeness check of one skip-index sidecar
    (``_zonemap`` or ``_bloom``): its ``file`` inventory must equal the
    generation's data files ``actual``.  A data file MISSING from the
    sidecar is silently skipped by every pruned read (wrong results,
    not an error — the worst failure class); a sidecar row naming a
    gone file fails every skipping read far from the cause; an
    unreadable sidecar is reported, never raised (an out-of-band
    corruption is exactly the class this check exists for).  The
    ``_bloom`` sidecar must also carry its (bits, k) meta rows
    (``file=''`` sentinels, left out of its inventory).  Appends to
    ``issues``; returns the number of files listed, ``None`` when the
    sidecar is unreadable."""
    from pyspark.sql import functions as F

    reads, scan, builder = _SIDECAR_ROLES[name]
    try:
        side = spark.read.parquet(_join(data_root, name))
        files, n_meta = side.select("file"), None
        if name == BLOOM_DIR:
            files = files.where(F.col("file") != "").distinct()
            n_meta = side.where(F.col("file") == "").count()
        listed = {r["file"] for r in files.collect()}
    except Exception as exc:
        issues.append(
            f"{name} sidecar unreadable: {exc} — {reads} fall back to the "
            "full scan only when the sidecar is ABSENT; rebuild it "
            f"({builder}) or recommit"
        )
        return None
    if n_meta == 0:
        issues.append(
            "_bloom sidecar has no meta rows (bits/k) — every "
            "probe falls back to a full scan; rebuild the sidecar"
        )
    unmapped, gone = sorted(actual - listed), sorted(listed - actual)
    if unmapped:
        issues.append(
            f"{len(unmapped)} data file(s) absent from {name} "
            f"(e.g. {unmapped[:3]}) — every {scan} silently SKIPS them "
            "(wrong results, not an error); rebuild the sidecar "
            f"({builder}) or recommit the generation"
        )
    if gone:
        issues.append(
            f"{name} lists {len(gone)} file(s) that do not exist "
            f"(e.g. {gone[:3]}) — {reads} fail far from the cause; "
            "rebuild the sidecar or recommit the generation"
        )
    return len(listed)


def fsck_index(
    spark: SparkSession, root: str, sample: int = 1000, keep_last: int = 1
) -> dict:
    """Integrity + housekeeping report for a serving index — the ops
    "fsck" a production deployment runs on a schedule next to the
    health evals: where recall evals answer "is the index still
    GOOD?", this answers "is the index still WELL-FORMED, and does it
    need maintenance?".  Works on the four maintained serving layouts
    (IVF ``cid``, inverted ``term_bucket``, near-dup store
    ``band_bucket``, drift log) whether legacy-flat or
    manifest-committed, and on GENERIC manifest-committed tables
    (z-order outputs, medallion/rollup serving, zone-mapped fact
    tables — kind ``generic``, a legitimate maintained table, not a
    finding).

    Checks, all metadata-sized except the bounded consistency sample:

    * **manifest chain** — the latest manifest parses and names an
      existing generation (a dangling pointer is the one state the
      protocol cannot serve from; reported as an ISSUE), unparseable
      manifests (a crashed mid-write publish) are listed and flagged
      when they hide a NEWER commit than the one being served, and the
      GC debt is counted (orphan/stale generations + superseded
      manifests awaiting the next run's collection — storage, not
      corruption) by the classifier ``gc_generations`` deletes by,
      plus generations above the served seq, which GC leaves alone.
      ``keep_last`` is ``gc_generations``' grace
      window: generations/manifests a retention-``keep_last``
      deployment deliberately keeps are NOT debt — without it a
      healthy grace-window deployment is perpetually reported dirty;
    * **layout** — the partition kind is detected from the columns and
      reported; an unrecognized layout is an issue, and so is a kind
      REGRESSION: a committed generation that detects as a WEAKER kind
      than the previous retained generation (a serving layout whose
      compaction dropped its layout column now reads as ``generic``,
      or flipped to a different serving layout) — without this check a
      broken compaction fscks clean and ``maintenance_cycle`` refreshes
      the view over a broken index;
    * **sidecar** — an inverted index must carry a readable ``_stats``
      (n_docs/avgdl/n_buckets; a streamed one is its own committed
      root and is resolved first), a drift log its ``_ref``; their
      ABSENCE where the layout requires one is an issue (every serve
      would fail far from the cause);
    * **fragmentation** — distinct ``_commit_id`` values and data-file
      count; ``needs_compaction`` flags more than ``frag_threshold``
      commits (the compactors' documented signal);
    * **bucket-hash consistency** (inverted index) — a bounded sample
      of postings re-hashed with the engine's own
      ``pmod(xxhash64(term), n_buckets)`` must land in its own
      ``term_bucket``: catches the real failure mode where ``_stats``
      says one ``n_buckets`` and the postings were built with another
      (every serve would silently prune to the WRONG buckets and
      return bogus scores, not an error);
    * **zone-map completeness** — when the generation carries a
      ``_zonemap`` sidecar, its file inventory must equal the actual
      data files (one recursive ``listFiles``, metadata-sized): a data
      file MISSING from the sidecar would be silently skipped by every
      ``zone_map_scan`` (wrong results, not an error — the worst
      failure class), a sidecar row naming a gone file fails every
      skipping read far from the cause.  Within the commit protocol
      neither can happen (the sidecar is derived from the written
      generation before the publish); this catches out-of-band edits;
    * **bloom completeness** — the same inventory check for the
      ``_bloom`` point-lookup sidecar (a data file missing from it is
      silently skipped by every ``bloom_point_scan``), plus the
      presence of the (bits, k) meta rows the probe needs.

    Returns a plain dict report (``issues`` empty == healthy;
    ``warnings`` carries safe-but-degraded states — e.g. a recommit
    that dropped ``zone_map_cols`` — which ``maintenance_cycle``
    deliberately does NOT treat as a wedge).  A diagnostic, never a
    mutation — safe against a live index."""
    from pyspark.sql import functions as F

    from airflow_etl_minio_to_postgres_spark.functions.text import (
        _term_bucket,
    )

    report: dict = {
        "root": root,
        "issues": [],
        "warnings": [],
        "gc_debt": [],
    }
    # every listed manifest read ONCE; the served seq (latest_manifest's
    # rule), the corrupt list, the grace window and the previous
    # generation all derive from this map
    payloads = {
        s: _read_manifest(spark, root, s) for s in _manifest_seqs(spark, root)
    }
    parsed = [s for s, p in payloads.items() if p is not None]
    corrupt = [s for s, p in payloads.items() if p is None]
    got = (parsed[-1], payloads[parsed[-1]]) if parsed else None
    report["corrupt_manifests"] = corrupt
    prev_seq = prev_root = None
    if got is None:
        report["manifest_seq"] = None
        data_root = root
        if corrupt:
            report["issues"].append(
                f"all {len(corrupt)} manifests are unparseable (seqs "
                f"{corrupt}) — serving falls back to the legacy flat "
                "layout; republish or delete the corrupt manifests"
            )
    else:
        seq, payload = got
        report["manifest_seq"] = seq
        gen = payload.get("generation")
        data_root = _join(root, str(gen))
        if any(c > seq for c in corrupt):
            report["issues"].append(
                f"unparseable manifest(s) {[c for c in corrupt if c > seq]} "
                f"are NEWER than the served seq {seq} — a publish crashed "
                "mid-write and its generation is not being served; re-run "
                "the maintenance op (next commit supersedes the residue)"
            )
        if not _exists(spark, data_root):
            report["issues"].append(
                f"latest manifest (seq {seq}) names generation {gen!r} "
                "which does not exist — the index cannot be served; "
                "restore the generation or publish a valid manifest"
            )
            return report
        # GC debt: what a completed gc_generations(keep_last=keep_last)
        # would collect, by the same classifier — plus the generations
        # above the served seq, which GC leaves alone
        report["gc_debt"], _ = _gc_candidates(
            spark, root, seq, str(gen), parsed, keep_last
        )
        # the PREVIOUS retained generation, for the dropped-sidecar
        # warning and the kind-regression check below
        if len(parsed) > 1:
            prev_seq = parsed[-2]
            prev_root = _join(root, str(payloads[prev_seq]["generation"]))
    report["data_root"] = data_root

    try:
        df = spark.read.parquet(data_root)
    except Exception as exc:  # unreadable payload IS the finding
        report["issues"].append(f"payload unreadable: {exc}")
        return report

    # sidecar completeness: each sidecar's inventory == the data files
    sidecars = [
        n
        for n in (ZONE_MAP_DIR, BLOOM_DIR)
        if _exists(spark, _join(data_root, n))
    ]
    actual = _data_files(spark, data_root) if sidecars else set()
    if ZONE_MAP_DIR in sidecars:
        n_listed = _check_sidecar_inventory(
            spark, data_root, ZONE_MAP_DIR, actual, report["issues"]
        )
        report["zone_map_files"] = -1 if n_listed is None else n_listed
    elif prev_root is not None and _exists(
        spark, _join(prev_root, ZONE_MAP_DIR)
    ):
        # silent-degradation advisory: the PREVIOUS retained generation
        # carried zone maps and the current one doesn't — a maintenance
        # op recommitted without zone_map_cols and skipping reads fell
        # back to full scans (correct, just slower); a WARNING, not an
        # issue, so maintenance_cycle still publishes
        report["warnings"].append(
            f"generation at seq {prev_seq} carried a _zonemap but the "
            "current one does not — a recommit dropped zone_map_cols; "
            "skipping reads silently degraded to full scans (correct, "
            "slower).  Pass zone_map_cols on the maintenance op to "
            "restore file skipping"
        )
    if BLOOM_DIR in sidecars:
        _check_sidecar_inventory(
            spark, data_root, BLOOM_DIR, actual, report["issues"]
        )

    cols = set(df.columns)
    serving = _layout_kind(cols)
    # a manifest-committed table that is none of the four serving
    # layouts is a GENERIC adopter (z-order recluster output,
    # medallion/rollup serving, zone-mapped fact table) — a
    # legitimate maintained table, not an integrity finding
    kind = serving or ("generic" if got is not None else "unknown")
    report["kind"] = kind
    if kind == "unknown":
        report["issues"].append(
            f"unrecognized layout (columns {sorted(cols)}) — neither a "
            "maintained serving index nor a manifest-committed table"
        )
        return report

    # kind REGRESSION: a serving index whose broken compaction dropped
    # its layout column (e.g. an inverted index losing term_bucket)
    # classifies as a clean 'generic' above — compare against the
    # PREVIOUS retained generation's detected kind so the regression
    # is an ISSUE (maintenance_cycle aborts before the view refresh)
    # instead of fscking clean over a broken index.  Schema-only read
    # of the previous generation (one footer), skipped when it is
    # already GC'd or unreadable — a diagnostic must not crash.
    prev_kind = None
    if prev_root is not None and _exists(spark, prev_root):
        try:
            prev_kind = _layout_kind(
                set(spark.read.parquet(prev_root).columns)
            )
        except Exception:
            prev_kind = None  # unreadable predecessor: skip
    if prev_kind is not None and prev_kind != kind:
        report["issues"].append(
            f"layout regressed from {prev_kind!r} (seq {prev_seq}) to "
            f"{kind!r}: the current generation no longer carries the "
            f"{prev_kind!r} layout column(s) — a compaction published a "
            "broken index; roll back to the previous generation or "
            "rebuild before refreshing views"
        )

    if "_commit_id" in cols:
        commits = df.select("_commit_id").distinct().count()
        report["n_commits"] = commits
    else:
        report["n_commits"] = 0

    ref_path = _join(data_root, "_ref")
    if kind == "inverted":
        # a streamed _stats is its own committed root; a batch-built
        # flat one resolves to itself
        stats_path = resolve_data_root(spark, _join(data_root, "_stats"))
        if not _exists(spark, stats_path):
            report["issues"].append(
                "inverted index has no _stats sidecar — bm25 serving "
                "reads n_docs/avgdl/n_buckets from it and will fail"
            )
        else:
            srow = spark.read.parquet(stats_path).collect()[0]
            missing = [
                k
                for k in ("n_docs", "avgdl", "n_buckets")
                if k not in srow.asDict()
            ]
            if missing:
                report["issues"].append(
                    f"_stats sidecar missing fields {missing}"
                )
            else:
                n_buckets = int(srow["n_buckets"])
                report["n_buckets"] = n_buckets
                # bounded consistency sample: every posting must sit in
                # the bucket the ENGINE's hash assigns its term
                bad = (
                    df.select("term", "term_bucket")
                    .limit(int(sample))
                    .where(_term_bucket(n_buckets) != F.col("term_bucket"))
                    .count()
                )
                if bad:
                    report["issues"].append(
                        f"{bad}/{sample} sampled postings sit in the "
                        "WRONG term_bucket for _stats.n_buckets="
                        f"{n_buckets} — postings and sidecar were "
                        "built with different bucket counts; every "
                        "serve prunes to wrong buckets.  Rebuild."
                    )
    if kind == "drift_log" and not _exists(spark, ref_path):
        report["issues"].append(
            "drift log has no _ref sidecar — drift_report needs the "
            "frozen reference counts"
        )
    return report
