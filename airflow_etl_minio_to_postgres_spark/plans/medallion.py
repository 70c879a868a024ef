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
materialization (parquet/JDBC) is the caller's choice: :func:`write_medallion`
or ``sources.jdbc.write_table``.

Rerun safety: :func:`write_medallion` commits every table as a new
manifest generation (``sources.manifest.commit_parquet_generation``), so a
rerun publishes a value-equal generation and a failed run leaves the last
one serving — unlike the reference, whose gold ``CREATE TABLE`` without
``IF NOT EXISTS`` (``:414,423,431``) + append-only inserts is not
idempotent (SURVEY.md §7).
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
    DIM_KEYS,
    GOLD_RENAMES,
    HASH_KEY_DEFS,
    MAIN_KEY,
    MAIN_TABLE,
    NATURAL_KEY_COLS,
)


@dataclass
class MedallionResult:
    silver: DataFrame
    field_config: DataFrame
    gold: dict[str, DataFrame] = field(default_factory=dict)
    # Filled by write_medallion: table -> observed metrics (n_rows,
    # n_null_<col>...) collected DURING each write's single scan.
    audits: dict[str, dict] = field(default_factory=dict)


def build_silver(raw: DataFrame) -> DataFrame:
    """Standardize names + full cleaning pass (reference ``:268-362``)."""
    return clean(standardize_columns(raw))


def build_gold(silver: DataFrame, field_config: DataFrame) -> MedallionResult:
    """Normalize the wide silver table into the star schema
    (reference gold task ``:365-597``) laid out by the ``schemas`` key
    declaration: the main table, its key-owning dimensions and the
    satellites."""
    keyed = add_natural_key(silver, NATURAL_KEY_COLS)
    for key_name, cols in HASH_KEY_DEFS.items():
        keyed = add_hash_key(keyed, cols, key_name)

    splits = split_by_field_config(keyed, field_config)
    gold: dict[str, DataFrame] = {}

    # Dimensions: dedup by content-hash key (reference :410-411).
    for dim in DIM_KEYS:
        if dim in splits:
            gold[dim] = dedup_rows(splits[dim])

    # Deterministic surrogate ids per distinct main key (reference
    # SERIAL + RETURNING id, :134-136; SURVEY.md §7 hard-part 1).
    id_col = f"{MAIN_TABLE}_id"
    property_ids = assign_surrogate_ids(splits[MAIN_TABLE], MAIN_KEY, id_col)

    # The main table carries its id (reference `id SERIAL PRIMARY KEY`,
    # :432) AND keeps its key columns (:166-170) — satellites'
    # property_id foreign keys must resolve into this table.
    gold[MAIN_TABLE] = resolve_key_to_id(
        splits[MAIN_TABLE], property_ids, MAIN_KEY, id_col, drop_key=False
    )

    # Satellites: key -> id join (AQE-decided strategy — the id map is
    # fact-sized at scale, so no forced broadcast), id first
    # (reference :490-496).
    for target in splits:
        if target == MAIN_TABLE or target in DIM_KEYS:
            continue
        resolved = resolve_key_to_id(
            splits[target], property_ids, MAIN_KEY, id_col
        )
        for old, new in GOLD_RENAMES.get(target, {}).items():
            resolved = resolved.withColumnRenamed(old, new)
        gold[target] = resolved

    return MedallionResult(silver=silver, field_config=field_config, gold=gold)


def run_medallion(raw: DataFrame, field_config_raw: DataFrame) -> MedallionResult:
    """bronze->silver->gold over in-memory/lake DataFrames.

    ``field_config_raw`` arrives with raw headers/values (the workbook); its
    ``column_name`` values are standardized inside
    :func:`split_by_field_config` so metadata matches data
    (reference ``:291-292``).
    """
    silver = build_silver(raw)
    return build_gold(silver, standardize_columns(field_config_raw))


def write_medallion(
    result: MedallionResult,
    base_path: str,
    min_rows: int = 1,
    audit_null_cols: dict[str, list[str]] | None = None,
    commit_keep_last: int = 1,
) -> dict[str, str]:
    """Commit silver + every built gold table as parquet generations
    under ``base_path/{silver,gold/<table>}``, with an inline QA audit
    riding every write.

    Every table goes through the MANIFEST PROTOCOL
    (``sources.manifest.commit_parquet_generation``, retention =
    ``commit_keep_last``): each run lands as an immutable ``_gen-<seq>``
    behind an atomic publish, so the reference's own gold outputs gain
    time travel (``read_snapshot``), rerun auditing (``snapshot_diff`` —
    an idempotent rerun PROVES itself value-equal with an empty diff),
    and crash safety (a failed run leaves yesterday's gold serving) —
    the engine's fix for the reference's append-only inserts + CREATE
    TABLE without IF NOT EXISTS (``:414,423,431``; SURVEY.md §7
    hard-part 4).  Readers resolve through ``read_resolved`` /
    ``create_resolving_view``.  Swap in ``sources.jdbc.write_table`` per
    table to serve from Postgres instead.

    Auditing (the reference's silent-failure mode — a column gone all-null
    or a collapsed feed flowing straight into gold, SURVEY.md §5 — caught
    at the write): each table is wrapped in ``observe_quality`` so row
    counts and null counts for ``audit_null_cols[table]`` are collected
    during the write's single scan (zero extra passes — at 100 TB a
    separate count/null job would double the I/O).  All observed metrics
    land in ``result.audits[table]``.  ``min_rows`` gates BEFORE the
    publish (``pre_publish_validate``): a table below ``min_rows`` (set 0
    to monitor without gating) fails the run via ``assert_min_rows``,
    its staged generation is deleted, the manifest untouched and GC
    un-run, so yesterday's gold keeps serving even at
    ``commit_keep_last=1``.
    """
    from airflow_etl_minio_to_postgres_spark.operators.audit import (
        assert_min_rows,
        observe_quality,
    )
    from airflow_etl_minio_to_postgres_spark.sources.manifest import (
        commit_parquet_generation,
    )

    audit_null_cols = audit_null_cols or {}
    paths: dict[str, str] = {}

    def _write(name: str, df: DataFrame, path: str) -> str:
        audited, obs = observe_quality(
            df, f"{name}_audit", audit_null_cols.get(name)
        )

        def _gate(_staged: str) -> None:
            # Runs after the staged write (obs has resolved) but before
            # the manifest publish + GC, so a below-min_rows run can
            # neither become the serving snapshot nor collect
            # yesterday's good generation.
            result.audits[name] = dict(obs.get)
            assert_min_rows(obs, min_rows, f"{name}_audit")

        commit_parquet_generation(
            audited.sparkSession,
            audited,
            path,
            keep_last=commit_keep_last,
            pre_publish_validate=_gate,
        )
        return path

    paths["silver"] = _write("silver", result.silver, f"{base_path}/silver")
    for name, df in result.gold.items():
        paths[name] = _write(name, df, f"{base_path}/gold/{name}")
    return paths
