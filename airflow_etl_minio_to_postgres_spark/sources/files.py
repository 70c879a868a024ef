"""File sources/sinks — CSV, Excel, parquet, with extension dispatch.

Reference surface (``dags/dag_etl_minio_to_postgres.py``):

* S1 ``read_files_minio`` CSV branch (``:44-45``): whole-object
  ``pd.read_csv`` — here a partitioned, schema-declared ``spark.read.csv``
  that splits large files across executors and never pays an inference scan
  when a schema is supplied.
* S2 Excel branch (``:42-43``): ``pd.read_excel``.  Excel is a binary,
  non-splittable format confined to metadata-sized files (SURVEY.md §7);
  the shim parses on the driver with pandas and ships the rows out via
  ``createDataFrame``.  Gated behind an import-try — openpyxl may be absent.
* S3 extension dispatch (``:35-36,42-47``): route by suffix, raise on
  unsupported.
* S4 ``write_files_minio`` (``:53-68``): CSV sink with overwrite semantics
  and bucket bootstrap.  ``df.write.csv`` handles both the local FS and
  ``s3a://`` URIs (object stores need no mkdir — keys imply their "folders";
  MinIO bucket creation itself is a one-time deployment step, not an engine
  concern).  The sink keeps one file per partition, the only layout that
  scales, where the reference wrote one object per table.

Paths may be local, ``file://``, or ``s3a://`` — the s3a endpoint for MinIO
is configured on the session (``session.ObjectStoreConfig``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airflow_etl_minio_to_postgres_spark.naming import normalize_filename
from airflow_etl_minio_to_postgres_spark.sources.manifest import (
    _join,
    _list_names,
    commit_parquet_generation,
    copy_tree,
    resolve_data_root,
)

CSV_EXTENSIONS = {".csv"}
EXCEL_EXTENSIONS = {".xlsx", ".xls"}
PARQUET_EXTENSIONS = {".parquet"}
JSONL_EXTENSIONS = {".jsonl", ".json", ".ndjson"}
ORC_EXTENSIONS = {".orc"}
# Where read_jsonl lands each malformed line.
CORRUPT_COL = "_corrupt_record"


def _extension(path: str) -> str:
    return os.path.splitext(path)[1].lower()


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Partitioned scan of a CSV with a header row (S1).  Prefer an
    explicit ``schema``; without one, schema inference costs a full extra
    pass over the data at scale."""
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def _read_xlsx_minimal(path: str) -> tuple[list[str], list[list]]:
    """Dependency-free xlsx parse (header row + data rows).

    An .xlsx is a zip of XML parts; this reads ``xl/sharedStrings.xml`` and
    the first worksheet, resolving shared-string cells and plain numbers —
    sufficient for metadata-sized workbooks like the 66-row field config.
    Driver-side by design: Excel is binary and non-splittable (SURVEY.md §7
    hard-part 6), so it must never sit on a data path.
    """
    import re
    import xml.etree.ElementTree as ET
    import zipfile

    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    with zipfile.ZipFile(path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root.findall("m:si", ns):
                shared.append("".join(t.text or "" for t in si.iter(
                    "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}t"
                )))
        sheet_names = sorted(
            n for n in z.namelist()
            if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)
        )
        if not sheet_names:
            raise ValueError(f"no worksheet found in {path!r}")
        root = ET.fromstring(z.read(sheet_names[0]))

        def col_index(ref: str | None, fallback: int) -> int:
            # "B7" -> 1; blank cells are OMITTED from the XML, so the r=
            # reference (not list position) decides the column.
            if not ref:
                return fallback
            letters = "".join(ch for ch in ref if ch.isalpha())
            idx = 0
            for ch in letters:
                idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
            return idx - 1 if idx else fallback

        rows: list[list] = []
        for row in root.iter(
            "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}row"
        ):
            values: list = []
            for pos, cell in enumerate(row.findall("m:c", ns)):
                i = col_index(cell.get("r"), pos)
                while len(values) <= i:
                    values.append(None)
                v = cell.find("m:v", ns)
                if v is None or v.text is None:
                    values[i] = None
                elif cell.get("t") == "s":
                    values[i] = shared[int(v.text)]
                elif cell.get("t") == "str":
                    values[i] = v.text
                else:
                    num = float(v.text)
                    values[i] = int(num) if num.is_integer() else num
            rows.append(values)
    if not rows:
        raise ValueError(f"empty worksheet in {path!r}")
    header = [str(h) for h in rows[0]]
    width = len(header)
    data = [
        (r + [None] * (width - len(r)))[:width] for r in rows[1:]
    ]
    return header, data


def read_excel(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Driver-side parse of a workbook's first sheet -> DataFrame (S2).
    Metadata-sized files only (the field-config workbook is 66 rows).
    Uses pandas+openpyxl when available, else a dependency-free minimal
    xlsx parser."""
    try:
        import openpyxl  # noqa: F401 — pandas' xlsx engine
        has_engine = True
    except ImportError:
        has_engine = False

    if has_engine:
        import pandas as pd

        pdf = pd.read_excel(path)
        if schema is not None:
            return spark.createDataFrame(pdf, schema=schema)
        return spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None))

    header, data = _read_xlsx_minimal(path)
    if schema is not None:
        return spark.createDataFrame(data, schema=schema)
    if not data:
        # Header-only workbook: typed empty frame, workbook column order.
        empty = T.StructType([T.StructField(h, T.StringType()) for h in header])
        return spark.createDataFrame([], schema=empty)
    # Pass names (not dicts) so workbook column order survives inference.
    return spark.createDataFrame(data, schema=header)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Line-delimited JSON scan — THE interchange format of training-data
    pipelines (one document per line splits cleanly across executors).

    Always pass ``schema`` on a data path: without one Spark pays a full
    inference pre-scan of every file.  Malformed lines do not kill the
    job (PERMISSIVE mode): the raw offending line lands in a
    ``_corrupt_record`` column, appended to a given ``schema``, to
    triage bad records.  Multi-line (pretty-printed array) JSON is
    deliberately unsupported — it is non-splittable and has no place at
    scale.
    """
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", CORRUPT_COL
    )
    if schema is not None:
        if CORRUPT_COL not in schema.fieldNames():
            schema = T.StructType(
                [*schema.fields, T.StructField(CORRUPT_COL, T.StringType())]
            )
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> str:
    """JSONL sink (one object per partition).  NULL fields are omitted per
    line (JSON convention) — lossless only under a declared read schema,
    which :func:`read_jsonl` demands anyway."""
    df.write.mode(mode).json(path)
    return path


def read_file(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Extension dispatch (S3): CSV / Excel / parquet / JSONL / ORC, raise
    on unsupported (reference raises at ``:46-47``)."""
    ext = _extension(path)
    if ext in CSV_EXTENSIONS:
        return read_csv(spark, path, schema=schema)
    if ext in EXCEL_EXTENSIONS:
        return read_excel(spark, path, schema=schema)
    if ext in JSONL_EXTENSIONS:
        return read_jsonl(spark, path, schema=schema)
    if ext in PARQUET_EXTENSIONS or ext in ORC_EXTENSIONS:
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        fmt = "parquet" if ext in PARQUET_EXTENSIONS else "orc"
        return reader.format(fmt).load(path)
    raise ValueError(f"unsupported file type {ext!r} for {path!r}")


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> str:
    """CSV sink with a header row and overwrite semantics (S4), one file
    per partition."""
    df.write.mode(mode).option("header", "true").csv(path)
    return path


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> str:
    """ORC columnar sink — parquet's sibling for warehouses standardized on
    ORC (Hive/Trino estates); same Spark-native vectorized reader."""
    df.write.mode(mode).orc(path)
    return path


def zorder_value_sql(cols: list[str], bits: int = 10) -> str:
    """Morton (Z-order) curve value over ``cols`` as ONE SQL text —
    interleave bit ``i`` of column ``j`` into position ``i*len(cols)+j``
    of the output.  Generated once and shared VERBATIM between the
    engine (``F.expr``) and the DuckDB oracle (both engines parse the
    same ``>>``/``&`` integer operators), so the curve value is
    identical by construction — the determinism policy every layout
    operator in this repo follows.

    Inputs must be NON-NEGATIVE integers already bucketed into
    ``[0, 2**bits)``: the curve reads only the low ``bits`` bits, so an
    out-of-range value aliases onto an unrelated curve position and
    breaks locality (bucket upstream with ``%`` or a range rank).
    ``bits * len(cols)`` must stay < 63 to fit the bigint."""
    if not cols:
        raise ValueError("zorder_value_sql: cols must be non-empty")
    if bits * len(cols) >= 63:
        raise ValueError("zorder_value_sql: bits*len(cols) must fit a bigint")
    terms = []
    for i in range(bits):
        for j, c in enumerate(cols):
            shift = i * len(cols) + j
            terms.append(f"((({c}) >> {i}) & 1) * {1 << shift}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _zorder_staged(
    df: DataFrame,
    zorder_cols: list[str],
    bits: int,
    n_files: int | None,
    lead: str | None = None,
) -> DataFrame:
    """The shared Z-order plan (one sampled range exchange on the
    curve value, in-partition sort, the curve column dropped) —
    identical for the flat and the per-partition re-cluster, so they
    are value-equal by construction.  ``zorder_cols`` must be
    pre-bucketed non-negative ints (see :func:`zorder_value_sql`).
    ``lead`` puts a partition column in front of the curve value in
    both the range and the sort keys."""
    zdf = df.withColumn("_zval", F.expr(zorder_value_sql(zorder_cols, bits)))
    keys = [lead, "_zval"] if lead else ["_zval"]
    if n_files is not None:
        ranged = zdf.repartitionByRange(int(n_files), *map(F.col, keys))
    else:
        ranged = zdf.repartitionByRange(*map(F.col, keys))
    return ranged.sortWithinPartitions(*keys).drop("_zval")


def recluster_zorder_committed(
    spark: SparkSession,
    root: str,
    zorder_cols: list[str],
    bits: int = 10,
    n_files: int | None = None,
    keep_last: int = 1,
    zone_map_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] = (),
) -> int:
    """Re-cluster an EXISTING parquet table onto the Z-order curve —
    the OPTIMIZE-after-ingest half of the data-skipping story (Delta's
    ``OPTIMIZE ... ZORDER BY`` run on a schedule): streaming or
    incremental appends land one curve-oblivious file per batch, so
    per-file min/max spans widen back toward the full domain as
    batches accumulate; this housekeeping pass restores tight
    hyper-rectangles, folding the per-batch fragmentation in the same
    rewrite.

    Interleaving the columns' bits onto one space-filling curve gives
    every output file a small HYPER-RECTANGLE of the value space
    instead of a slab, so each file's min/max stats are tight on EVERY
    interleaved column at once and a predicate on any of them prunes
    files (a single-column sort leaves every other column's per-file
    range at the full domain).  ``zorder_cols`` must be pre-bucketed
    non-negative ints (see :func:`zorder_value_sql`).

    The plan is :func:`_zorder_staged` (one sampled range exchange on
    the curve value, in-partition sort, the curve column dropped),
    committed as the next generation of ``root``
    through ``sources/manifest.commit_parquet_generation``: local
    paths, ``file://`` URIs, HDFS and s3a alike, a crash at any point
    leaves the previous generation servable, and ``keep_last`` is the
    usual GC grace window.  Readers resolve —
    ``manifest.read_resolved(spark, root)`` (one extra listStatus,
    then the identical parquet scan) or a
    ``manifest.create_resolving_view`` refreshed per maintenance
    cycle (RUNBOOK §5).  A hive-partitioned location is REFUSED: a
    flat rewrite would silently demote the partition columns to data
    columns and break every reader that relies on directory pruning —
    use :func:`recluster_zorder_partitions`, which re-sorts per
    partition and preserves the layout.  ``zone_map_cols`` writes
    the per-file min/max ``_zonemap`` sidecar into the new generation
    before the publish (``manifest.write_zone_maps``) — the natural
    pairing: the z-order layout makes every file a tight
    hyper-rectangle, the sidecar lets ``manifest.zone_map_scan`` skip
    non-overlapping files at PLANNING time (one sidecar read instead
    of a footer GET per file).  ``bloom_cols`` likewise writes the
    per-file ``_bloom`` point-lookup sidecar
    (``manifest.write_bloom_filters``) in the same commit — range
    skipping from the layout, key skipping from the filters, one
    atomic flip.

    Row-count guard: a re-cluster is row-preserving BY DEFINITION, so
    the commit validates the STAGED generation's row count against
    the source generation's before the publish
    (``pre_publish_validate`` with the staged path — two
    footer-metadata count jobs, no data read) and refuses to serve a
    row-dropping rewrite: the compaction-bug class where an OPTIMIZE
    silently loses rows is caught while yesterday's generation is
    still the snapshot, instead of by a later ``snapshot_diff``
    audit after the damage served.  Returns the committed sequence
    number."""
    data_root = resolve_data_root(spark, root)
    hive_dirs = [
        n
        for n in _list_names(spark, data_root)
        if "=" in n and not n.startswith(("_", "."))
    ]
    if hive_dirs:
        shown = sorted(hive_dirs)[:3]
        more = "..." if len(hive_dirs) > 3 else ""
        raise ValueError(
            f"recluster_zorder_committed: {root!r} is hive-partitioned "
            f"(found {shown}{more}) — a flat committed rewrite would "
            "demote the partition columns and break directory pruning; "
            "use recluster_zorder_partitions to re-sort within the "
            "partition layout"
        )
    # a missing path falls through to the parquet read, whose
    # AnalysisException is the canonical missing-input error
    df = spark.read.parquet(data_root)
    staged = _zorder_staged(df, zorder_cols, bits, n_files)
    expected = df.count()  # footer-metadata job over the source gen

    def guard(staged_path: str) -> None:
        got = spark.read.parquet(staged_path).count()
        if got != expected:
            raise RuntimeError(
                f"recluster_zorder_committed: staged generation at "
                f"{staged_path!r} holds {got} rows but the source "
                f"generation holds {expected} — a re-cluster is "
                "row-preserving by definition; refusing to publish "
                "(previous generation keeps serving)"
            )

    return commit_parquet_generation(
        spark, staged, root, keep_last=keep_last,
        zone_map_cols=tuple(zone_map_cols),
        bloom_cols=tuple(bloom_cols),
        pre_publish_validate=guard,
    )


class _NothingStaged(Exception):
    """No row of the selected partitions: the re-cluster commits
    nothing."""


def recluster_zorder_partitions(
    spark: SparkSession,
    path: str,
    zorder_cols: list[str],
    partition_col: str,
    partitions: list | None = None,
    bits: int = 10,
    n_files: int | None = None,
) -> list[str]:
    """PARTITION-SCOPED Z-order re-cluster of a hive-partitioned table
    — the true Delta ``OPTIMIZE ... WHERE`` shape:
    :func:`recluster_zorder_committed` rewrites the whole table, but a
    100 TB fact table partitioned by day only ever fragments in the
    partitions the last ingest touched, so this pass re-sorts ONLY the
    named ``partitions`` (or every partition when ``None``) and never
    re-encodes the rest — rewrite cost proportional to the touched
    data, not the table.

    One job reads the selected partitions through a partition-pruned
    scan, range-exchanges on (partition, curve value), sorts within
    tasks, and writes the result hive-partitioned as the next
    generation of ``path`` (``manifest.commit_parquet_generation``).
    Before the publish, every partition directory of the current
    generation that the write did not stage is carried into the new
    generation with ``manifest.copy_tree`` — byte copies, never
    re-encoded — so one pointer flip publishes the whole table, and a
    crash at any point leaves the previous generation servable.
    Readers resolve (``manifest.read_resolved``).  Works on any Hadoop
    FileSystem (local paths, ``file://``, HDFS, s3a).  Selected
    partitions without rows commit nothing.  Returns the list of
    partition directory names rewritten."""
    data_root = resolve_data_root(spark, path)
    df = spark.read.parquet(data_root)
    if partitions is not None:
        df = df.where(F.col(partition_col).isin(list(partitions)))
    # explicit task count pins the file fan-out per touched partition
    # (without it AQE coalesces a small rewrite into one file, undoing
    # the multi-file hyper-rectangle layout the pass exists to restore)
    staged = _zorder_staged(
        df, zorder_cols, bits, n_files, lead=partition_col
    )
    prefix = f"{partition_col}="
    rewritten: list[str] = []

    def carry_untouched(gen: str) -> None:
        rewritten.extend(
            sorted(n for n in _list_names(spark, gen) if n.startswith(prefix))
        )
        if not rewritten:
            raise _NothingStaged()
        for n in _list_names(spark, data_root):
            if n.startswith(prefix) and n not in rewritten:
                copy_tree(spark, _join(data_root, n), _join(gen, n))

    try:
        commit_parquet_generation(
            spark, staged, path, partition_by=(partition_col,),
            pre_publish_validate=carry_untouched,
        )
    except _NothingStaged:
        return []
    return rewritten


def bronze_path(base: str, file_name: str) -> str:
    """Normalized bronze object path (S4/S5: reference lowers + de-spaces the
    object key at ``:60``)."""
    return os.path.join(base, "bronze-files", normalize_filename(file_name))


def ingest_bronze(
    spark: SparkSession,
    raw_path: str,
    bronze_base: str,
    schema: T.StructType | None = None,
) -> tuple[DataFrame, str]:
    """O1 bronze stage: read raw CSV/Excel, land as CSV under the bronze
    prefix (reference ``:253-265``), return (frame, bronze path).  The
    returned frame is the *read* lineage — downstream stages compose on it
    lazily instead of re-reading bronze (collapses the reference's double
    read, ``:277,287``)."""
    df = read_file(spark, raw_path, schema=schema)
    name = os.path.splitext(os.path.basename(raw_path))[0] + ".csv"
    out = bronze_path(bronze_base, name)
    write_csv(df, out)
    return df, out
