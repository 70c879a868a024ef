"""I/O layer tests: CSV/Excel/parquet dispatch, JDBC options + DDL emission.

JDBC correctness runs without a database: the option builders and DDL
emitters are pure functions, and ``execute_ddl`` takes an injected DB-API
connection factory (here a recorder).
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from airflow_etl_minio_to_postgres_spark.sources.files import (
    bronze_path,
    ingest_bronze,
    read_csv,
    read_file,
    write_csv,
)
from airflow_etl_minio_to_postgres_spark.sources.jdbc import (
    JdbcConfig,
    create_schema_sql,
    create_table_sql,
    execute_ddl,
    pg_type,
    read_options,
    write_options,
)
from airflow_etl_minio_to_postgres_spark.sources.manifest import (
    commit_parquet_generation,
    read_resolved,
)

CFG = JdbcConfig(url="jdbc:postgresql://db:5432/gold", user="u", password="p")


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b,c"), (3, None)], ["k", "v"])
    path = write_csv(df, str(tmp_path / "t"), mode="overwrite")
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    back = read_csv(spark, path, schema=schema)
    assert sorted((r["k"], r["v"]) for r in back.collect()) == [
        (1, "a"),
        (2, "b,c"),
        (3, None),
    ]


def test_parquet_roundtrip_partitioned(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "part"])
    path = str(tmp_path / "p")
    commit_parquet_generation(spark, df, path, partition_by=("part",))
    back = read_resolved(spark, path)
    assert back.count() == 2
    assert set(back.columns) == {"k", "part"}


def test_read_file_dispatch_unsupported(spark):
    # .json/.jsonl/.orc now dispatch; .avro needs the external spark-avro
    # package and stays unsupported here
    with pytest.raises(ValueError, match="unsupported file type"):
        read_file(spark, "/tmp/data.avro")


def test_read_file_csv_dispatch(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], ["k", "v"])
    write_csv(df, str(tmp_path / "d.csv"))
    assert read_file(spark, str(tmp_path / "d.csv")).count() == 1


def _make_minimal_xlsx(path: str) -> None:
    """Handcraft a tiny valid-enough xlsx (zip of sheet + shared strings)."""
    import zipfile

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    shared = (
        f'<?xml version="1.0"?><sst {ns} count="4" uniqueCount="4">'
        "<si><t>Column Name</t></si><si><t>Target Table</t></si>"
        "<si><t>Property_Title</t></si><si><t>property</t></si></sst>"
    )
    sheet = (
        f'<?xml version="1.0"?><worksheet {ns}><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2" t="s"><v>3</v></c></row>'
        '<row r="3"><c r="A3" t="str"><v>Zip</v></c><c r="B3"><v>42</v></c></row>'
        "</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/sharedStrings.xml", shared)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def test_minimal_xlsx_parser(tmp_path):
    from airflow_etl_minio_to_postgres_spark.sources.files import (
        _read_xlsx_minimal,
    )

    p = str(tmp_path / "config.xlsx")
    _make_minimal_xlsx(p)
    header, rows = _read_xlsx_minimal(p)
    assert header == ["Column Name", "Target Table"]
    assert rows == [["Property_Title", "property"], ["Zip", 42]]


def test_read_excel_fallback(spark, tmp_path):
    try:
        import openpyxl  # noqa: F401

        pytest.skip("openpyxl present: fallback parser not exercised")
    except ImportError:
        pass
    from airflow_etl_minio_to_postgres_spark.sources.files import read_excel

    p = str(tmp_path / "Field Config.xlsx")
    _make_minimal_xlsx(p)
    df = read_excel(spark, p)
    assert sorted(df.columns) == ["Column Name", "Target Table"]
    assert df.count() == 2


def test_read_excel_pandas_path(spark, tmp_path):
    """The primary (pandas/openpyxl) Excel path — skip-marked for this
    sandbox (openpyxl absent), runs wherever the dependency exists and
    must agree with the fallback parser's contract."""
    pytest.importorskip("openpyxl")
    from airflow_etl_minio_to_postgres_spark.sources.files import read_excel

    p = str(tmp_path / "Field Config.xlsx")
    _make_minimal_xlsx(p)
    df = read_excel(spark, p)
    assert sorted(df.columns) == ["Column Name", "Target Table"]
    assert df.count() == 2


def test_read_file_dispatches_xlsx(spark, tmp_path):
    from airflow_etl_minio_to_postgres_spark.sources.files import read_file

    p = str(tmp_path / "c.xlsx")
    _make_minimal_xlsx(p)
    assert read_file(spark, p).count() == 2


def test_ingest_bronze(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    write_csv(df, str(tmp_path / "Raw File.csv"))
    out_df, out_path = ingest_bronze(
        spark, str(tmp_path / "Raw File.csv"), str(tmp_path / "bronze")
    )
    assert out_path.endswith("bronze-files/raw_file.csv")
    assert out_df.count() == 2
    assert spark.read.option("header", "true").csv(out_path).count() == 2


def test_bronze_path_normalizes():
    assert bronze_path("b", "Fake Data.csv") == "b/bronze-files/fake_data.csv"


def test_bronze_to_gold_from_real_inputs(spark, tmp_path):
    """The reference's actual input path: raw CSV + Excel field config ->
    bronze -> medallion gold (reference O1-O3 end to end)."""
    from airflow_etl_minio_to_postgres_spark.plans.medallion import run_medallion

    # the raw frame carries every column the schemas key layout hashes
    raw_schema = T.StructType(
        [
            T.StructField("Property_Title", T.StringType()),
            T.StructField("Zip", T.StringType()),
            T.StructField("HOA", T.LongType()),
            T.StructField("HOA_Flag", T.StringType()),
            T.StructField("Taxes", T.LongType()),
        ]
    )
    spark.createDataFrame(
        [("House A", "11111", 100, "yes", 5), ("House B", "22222", 0, "no", 7)],
        raw_schema,
    ).coalesce(1).write.option("header", True).csv(str(tmp_path / "Fake Data.csv"))
    _make_minimal_xlsx(str(tmp_path / "Field Config.xlsx"))

    raw_df, bronze = ingest_bronze(
        spark, str(tmp_path / "Fake Data.csv"), str(tmp_path / "bronze"),
        schema=raw_schema,
    )
    fc_df = read_file(spark, str(tmp_path / "Field Config.xlsx"))
    fc_df = fc_df.select(
        fc_df["Column Name"].alias("column_name"),
        fc_df["Target Table"].cast("string").alias("target_table"),
    ).where(fc_df["Target Table"].cast("string") == "property")

    result = run_medallion(raw_df, fc_df)
    prop = result.gold["property"]
    assert prop.count() == 2
    assert "property_id" in prop.columns


def test_read_options_plain():
    opts = read_options(CFG, "silver.property")
    assert opts["dbtable"] == "silver.property"
    assert opts["driver"] == "org.postgresql.Driver"
    assert "partitionColumn" not in opts


def test_read_options_partitioned_validation():
    with pytest.raises(ValueError, match="partitioned JDBC read"):
        read_options(CFG, "t", partition_column="id")
    opts = read_options(
        CFG, "t", partition_column="id", lower_bound=0, upper_bound=100,
        num_partitions=8,
    )
    assert opts["numPartitions"] == "8"
    assert opts["lowerBound"] == "0"


def test_write_options_batched():
    opts = write_options(CFG, "gold.property", batchsize=5000)
    assert opts["batchsize"] == "5000"
    assert "reWriteBatchedInserts=true" in opts["url"]


def test_pg_type_mapping():
    assert pg_type(T.DecimalType(10, 2)) == "NUMERIC(10,2)"
    assert pg_type(T.StringType()) == "TEXT"
    assert pg_type(T.LongType()) == "BIGINT"
    with pytest.raises(ValueError):
        pg_type(T.ArrayType(T.FloatType()))


def test_create_table_sql_gold_hoa():
    # Mirrors reference gold.hoa DDL (dags/dag_etl_minio_to_postgres.py:413-420)
    struct = T.StructType(
        [
            T.StructField("hoa_key", T.StringType()),
            T.StructField("hoa", T.LongType()),
            T.StructField("hoa_flag", T.StringType()),
        ]
    )
    sql = create_table_sql(
        struct, "hoa", schema_name="gold", serial_id="id", unique=["hoa_key"]
    )
    assert '"id" SERIAL PRIMARY KEY' in sql
    assert '"hoa_key" TEXT UNIQUE' in sql
    assert 'CREATE TABLE IF NOT EXISTS "gold"."hoa"' in sql


def test_create_table_sql_foreign_key():
    struct = T.StructType([T.StructField("property_id", T.LongType())])
    sql = create_table_sql(
        struct, "leads", schema_name="gold",
        foreign_keys={"property_id": 'gold."property" (id)'},
    )
    assert 'FOREIGN KEY ("property_id") REFERENCES gold."property" (id)' in sql


def test_execute_ddl_single_txn():
    executed, committed, closed = [], [], []

    class FakeCursor:
        def execute(self, stmt):
            executed.append(stmt)

    class FakeConn:
        def cursor(self):
            return FakeCursor()

        def commit(self):
            committed.append(True)

        def close(self):
            closed.append(True)

    execute_ddl(FakeConn, [create_schema_sql("gold"), "CREATE TABLE t (x INT)"])
    assert executed == ['CREATE SCHEMA IF NOT EXISTS "gold"', "CREATE TABLE t (x INT)"]
    assert committed == [True] and closed == [True]


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], ["v", "kind"]
    )
    path = str(tmp_path / "p")
    commit_parquet_generation(spark, df, path, partition_by=("kind",))
    scan = read_resolved(spark, path).where("kind = 'a'")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(kind" in plan
    assert scan.count() == 2


def test_rewrite_leaves_no_sibling_dirs(spark, tmp_path):
    """Crash-safe rewrite: each committed generation lands inside the
    table directory and leaves nothing beside it, and the data is
    intact."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    commit_parquet_generation(spark, df, path)
    commit_parquet_generation(
        spark, spark.createDataFrame([(1, "a"), (2, "B")], ["k", "v"]), path
    )
    got = {tuple(r) for r in read_resolved(spark, path).collect()}
    assert got == {(1, "a"), (2, "B")}
    siblings = sorted(p.name for p in tmp_path.iterdir())
    assert siblings == ["t"]


def test_release_caches_unpersists_signature_tables(spark):
    from airflow_etl_minio_to_postgres_spark.functions.dedup import (
        near_dup_pairs,
        release_caches,
        simhash_near_dup_pairs,
    )

    release_caches()  # drop anything earlier tests left behind
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g")], ["doc_id", "text"]
    )
    near_dup_pairs(docs).collect()
    simhash_near_dup_pairs(docs).collect()
    assert release_caches() == 2
    assert release_caches() == 0


def test_jsonl_roundtrip_and_corrupt_quarantine(spark, tmp_path):
    """Well-formed lines round-trip under a declared schema; a malformed
    line lands in _corrupt_record instead of failing the scan."""
    from pyspark.sql import types as T
    from airflow_etl_minio_to_postgres_spark.sources.files import (
        read_jsonl,
        write_jsonl,
    )

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("t", T.StringType())]
    )
    df = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    out = str(tmp_path / "docs")
    write_jsonl(df, out)
    back = read_jsonl(spark, out, schema=schema)
    assert sorted((r["id"], r["t"]) for r in back.collect()) == [(1, "a"), (2, "b")]
    assert "_corrupt_record" in back.columns

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-0.jsonl").write_text('{"id": 3, "t": "c"}\n{oops not json\n')
    got = read_jsonl(spark, str(bad), schema=schema).collect()
    good = [r for r in got if r["id"] == 3]
    corrupt = [r for r in got if r["_corrupt_record"] is not None]
    assert len(good) == 1 and len(corrupt) == 1
    assert corrupt[0]["_corrupt_record"].startswith("{oops")


def test_read_file_dispatches_jsonl_and_orc(spark, tmp_path):
    from pyspark.sql import types as T
    from airflow_etl_minio_to_postgres_spark.sources.files import (
        read_file,
        write_jsonl,
        write_orc,
    )

    schema = T.StructType([T.StructField("id", T.LongType())])
    df = spark.createDataFrame([(7,)], schema)
    jl = str(tmp_path / "x.jsonl")
    write_jsonl(df, jl)
    assert read_file(spark, jl, schema=schema).drop(
        "_corrupt_record"
    ).collect()[0]["id"] == 7
    oc = str(tmp_path / "y.orc")
    write_orc(df, oc)
    assert read_file(spark, oc, schema=schema).collect()[0]["id"] == 7

