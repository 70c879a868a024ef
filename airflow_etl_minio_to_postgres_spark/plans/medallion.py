"""The medallion pipeline (bronze -> silver -> gold) as one lazy Spark plan.

Reference orchestration (``dags/dag_etl_minio_to_postgres.py``):

* ``bronze`` (``:253-265``): format-normalize raw CSV/XLSX from MinIO to
  bronze CSV.  In the engine this is a read + optional materialization — the
  double-read of bronze by silver (``:277,287``) collapses into one lineage.
* ``silver`` (``:268-362``): standardize column names, trim/lower strings,
  ``''->null``, typed null fill; persist wide table + field config.
* ``gold`` (``:365-597``): add natural/hash keys, split by field config,
  dedup dims, assign property surrogate ids, resolve satellite keys to ids.

Everything below is DataFrame-lazy: calling ``build_gold`` constructs six
projections of ONE cleaned-and-keyed plan; Catalyst computes the keys once
per output action and prunes each table's scan to its own columns.  Stage
materialization (parquet/JDBC) is the caller's choice via ``sinks``.

Rerun safety: the engine writes with ``mode("overwrite")`` everywhere —
unlike the reference, whose gold ``CREATE TABLE`` without ``IF NOT EXISTS``
(``:414,423,431``) + append-only inserts is not idempotent (SURVEY.md §7).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from airflow_etl_minio_to_postgres_spark.naming import standardize_columns
from airflow_etl_minio_to_postgres_spark.operators.cleaning import clean
from airflow_etl_minio_to_postgres_spark.operators.keys import (
    add_hash_key,
    add_natural_key,
    assign_surrogate_ids,
    dedup_rows,
    resolve_key_to_id,
)
from airflow_etl_minio_to_postgres_spark.operators.normalize import split_by_field_config
from airflow_etl_minio_to_postgres_spark.schemas import (
    GOLD_RENAMES,
    HASH_KEY_DEFS,
    NATURAL_KEY_COLS,
)


@dataclass
class MedallionResult:
    silver: DataFrame
    field_config: DataFrame
    gold: dict[str, DataFrame] = field(default_factory=dict)
    property_ids: DataFrame | None = None
    # Filled by write_medallion: table -> observed metrics (n_rows,
    # n_null_<col>...) collected DURING each write's single scan.
    audits: dict[str, dict] = field(default_factory=dict)


def build_silver(raw: DataFrame) -> DataFrame:
    """Standardize names + full cleaning pass (reference ``:268-362``)."""
    return clean(standardize_columns(raw))


def build_gold(
    silver: DataFrame,
    field_config: DataFrame,
    main_table: str = "property",
    natural_key_cols: list[str] | None = None,
    hash_key_defs: dict[str, list[str]] | None = None,
    renames: dict[str, dict[str, str]] | None = None,
    dim_keys: dict[str, str] | None = None,
    targets: set[str] | None = None,
) -> MedallionResult:
    """Normalize the wide silver table into the star schema
    (reference gold task ``:365-597``).

    Dimension classification defaults to deriving from ``hash_key_defs``:
    every hash key other than the main table's is assumed to be owned by the
    target named ``<key>`` minus the ``_key`` suffix (``hoa_key`` -> ``hoa``),
    matching the reference's key-owning dims (``:172-177``); pass ``dim_keys``
    explicitly to override.

    ``targets`` restricts which gold tables are built (None = all): a
    dims-only build skips the surrogate-id assignment entirely — ids carry
    an eager per-partition count job that dim consumers shouldn't pay.
    """
    natural_key_cols = natural_key_cols or NATURAL_KEY_COLS
    hash_key_defs = hash_key_defs or HASH_KEY_DEFS
    renames = GOLD_RENAMES if renames is None else renames
    main_key = f"{main_table}_key"
    id_col = f"{main_table}_id"
    if dim_keys is None:
        dim_keys = {
            k.removesuffix("_key"): k for k in hash_key_defs if k != main_key
        }

    keyed = add_natural_key(silver, natural_key_cols)
    for key_name, cols in hash_key_defs.items():
        keyed = add_hash_key(keyed, cols, key_name)

    splits = split_by_field_config(keyed, field_config, include_keys=True,
                                   main_table=main_table, dim_keys=dim_keys)

    def wanted(t: str) -> bool:
        return targets is None or t in targets

    gold: dict[str, DataFrame] = {}

    # Dimensions: dedup by content-hash key (reference :410-411).
    for dim in dim_keys:
        if dim in splits and wanted(dim):
            gold[dim] = dedup_rows(splits[dim])

    satellites = [
        t for t in splits if t != main_table and t not in dim_keys and wanted(t)
    ]
    property_ids: DataFrame | None = None
    if wanted(main_table) or satellites:
        # Deterministic surrogate ids per distinct main key (reference
        # SERIAL + RETURNING id, :134-136; SURVEY.md §7 hard-part 1).
        main_df = splits[main_table]
        property_ids = assign_surrogate_ids(main_df, main_key, id_col)

    if wanted(main_table):
        # The main table carries its id (reference `id SERIAL PRIMARY KEY`,
        # :432) AND keeps its key columns (:166-170) — satellites'
        # property_id foreign keys must resolve into this table.
        gold[main_table] = resolve_key_to_id(
            splits[main_table], property_ids, main_key, id_col, drop_key=False
        )

    # Satellites: key -> id join (AQE-decided strategy — the id map is
    # fact-sized at scale, so no forced broadcast), id first
    # (reference :490-496).
    for target in satellites:
        resolved = resolve_key_to_id(
            splits[target], property_ids, main_key, id_col
        )
        for old, new in renames.get(target, {}).items():
            resolved = resolved.withColumnRenamed(old, new)
        gold[target] = resolved

    return MedallionResult(
        silver=silver, field_config=field_config, gold=gold, property_ids=property_ids
    )


def run_medallion(
    raw: DataFrame,
    field_config_raw: DataFrame,
    targets: set[str] | None = None,
    **gold_kwargs,
) -> MedallionResult:
    """bronze->silver->gold over in-memory/lake DataFrames.

    ``field_config_raw`` arrives with raw headers/values (the workbook); its
    ``column_name`` values are standardized inside
    :func:`split_by_field_config` so metadata matches data
    (reference ``:291-292``).  ``targets`` restricts which gold tables are
    built (see :func:`build_gold`); an empty set builds silver only.
    """
    silver = build_silver(raw)
    fc = standardize_columns(field_config_raw)
    if targets is not None and not targets:
        return MedallionResult(silver=silver, field_config=fc)
    return build_gold(silver, fc, targets=targets, **gold_kwargs)


def write_medallion(
    result: MedallionResult,
    base_path: str,
    mode: str = "overwrite",
    min_rows: int = 1,
    audit_null_cols: dict[str, list[str]] | None = None,
    commit_keep_last: int | None = None,
) -> dict[str, str]:
    """Materialize silver + every built gold table as parquet under
    ``base_path/{silver,gold/<table>}``, with an inline QA audit riding
    every write.

    ``mode='overwrite'`` makes reruns idempotent — the engine's fix for the
    reference's append-only inserts + CREATE TABLE without IF NOT EXISTS
    (``:414,423,431``; SURVEY.md §7 hard-part 4).  Swap in
    ``sources.jdbc.write_table`` per table to serve from Postgres instead.

    Auditing (the reference's silent-failure mode — a column gone all-null
    or a collapsed feed flowing straight into gold, SURVEY.md §5 — caught
    at the write): each table is wrapped in ``observe_quality`` so row
    counts and null counts for ``audit_null_cols[table]`` are collected
    during the write's single scan (zero extra passes — at 100 TB a
    separate count/null job would double the I/O).  After each write the
    run FAILS via ``assert_min_rows`` if the table came out below
    ``min_rows`` (set 0 to monitor without gating).  All observed metrics
    land in ``result.audits[table]``.

    ``commit_keep_last`` routes every table through the MANIFEST
    PROTOCOL (``sources.manifest.commit_parquet_generation``,
    retention = the given ``keep_last``) instead of the plain
    overwrite: each run lands as an immutable ``_gen-<seq>`` behind an
    atomic publish, so the reference's own gold outputs gain time
    travel (``read_snapshot``), rerun auditing (``snapshot_diff`` — an
    idempotent rerun PROVES itself value-equal with an empty diff),
    and crash safety (a failed run leaves yesterday's gold serving) —
    the same upgrade ``customers_cdc_lakehouse`` gave the CDC path.
    Readers switch to ``read_resolved`` / ``create_resolving_view``;
    ``mode`` is ignored on this path (generations never overwrite).
    The QA audit rides unchanged — observed metrics collect during the
    committed write's single scan — and ``min_rows`` gates BEFORE the
    publish (``pre_publish_validate``): a below-``min_rows`` run
    leaves its staged generation deleted, the manifest untouched, and
    GC un-run, so yesterday's gold keeps serving even at
    ``commit_keep_last=1`` (on the plain-overwrite path the gate can
    only fail AFTER the overwrite — that path has no crash-safety
    story, which is exactly why the committed path exists).
    """
    from airflow_etl_minio_to_postgres_spark.operators.audit import (
        assert_min_rows,
        observe_quality,
    )
    from airflow_etl_minio_to_postgres_spark.sources.files import write_parquet

    audit_null_cols = audit_null_cols or {}
    paths: dict[str, str] = {}

    def _write(name: str, df: DataFrame, path: str) -> str:
        audited, obs = observe_quality(
            df, f"{name}_audit", audit_null_cols.get(name)
        )
        def _gate(_written: str) -> None:
            # The one QA gate for both paths.  On the committed path
            # it runs as pre_publish_validate — after the staged write
            # (obs has resolved) but before the manifest publish + GC,
            # so a below-min_rows run can neither become the serving
            # snapshot nor collect yesterday's good generation.  On
            # the plain path it runs right after the overwrite.
            result.audits[name] = dict(obs.get)
            assert_min_rows(obs, min_rows, f"{name}_audit")

        if commit_keep_last is not None:
            from airflow_etl_minio_to_postgres_spark.sources.manifest import (
                commit_parquet_generation,
            )

            commit_parquet_generation(
                audited.sparkSession,
                audited,
                path,
                keep_last=commit_keep_last,
                pre_publish_validate=_gate,
            )
            return path
        out = write_parquet(audited, path, mode)
        _gate(out)
        return out

    paths["silver"] = _write("silver", result.silver, f"{base_path}/silver")
    for name, df in result.gold.items():
        paths[name] = _write(name, df, f"{base_path}/gold/{name}")
    return paths
