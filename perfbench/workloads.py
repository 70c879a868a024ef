"""The benchmark's workloads: inputs, set-up, one timed cycle, and checks.

A workload runs as one closed-loop client: it issues the calls of one
cycle in order, each after the previous one returned.  ``prepare`` and
``oracle`` need no Spark session, so the runner starts the session while
DuckDB computes the expected figures.  Every call into
the package is wrapped in a span named ``<module>.<function>``; each
workload declares those names in ``LAYERS``.  Each op of a cycle is
checked after the cycle, outside the timed region, against figures that
set-up computed independently in DuckDB.

With ``corrupt=True`` every workload drops one row of one output before
it is checked or published; the self-check uses it to prove that a wrong
output is counted as a failed op.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from decimal import Decimal

import gen

# Sizes per scale: raw rows for the medallion workloads, (documents,
# vectors) for the corpus.  ``tiny`` is the self-check size.
SIZES = {
    "full": {"medallion": 4000, "corpus": (400, 200)},
    "tiny": {"medallion": 2000, "corpus": (300, 150)},
}
LOOKUPS_PER_CYCLE = 4     # point lookups per medallion cycle
PROBE_KEYS = 20           # property ids per lookup
PROBE_SETS = 16           # distinct seeded probe sets, used in turn


class CheckFailed(AssertionError):
    """An op returned a result that differs from the expected one."""


# ---------------------------------------------------------------- digests


def _canon(v):
    if isinstance(v, float):
        return repr(round(v, 6) + 0.0)
    if isinstance(v, Decimal):
        return str(v)
    return repr(v)


def rows_digest(columns, rows) -> tuple[int, int]:
    """Order-independent (row count, content hash) of Python rows; floats
    are compared at six decimals."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        key = "|".join(f"{columns[i]}={_canon(r[i])}" for i in order)
        total += int.from_bytes(hashlib.md5(key.encode()).digest()[:8], "big")
    return len(rows), total % (1 << 64)


def frame_digest(df) -> tuple[int, int]:
    return rows_digest(df.columns, [tuple(r) for r in df.collect()])


def _row_hash_sql(columns, cast) -> str:
    parts = ", ".join(f"coalesce({cast(c)}, '\\N')" for c in sorted(columns))
    return f"concat_ws('|', {parts})"


def spark_table_digest(df) -> tuple[int, int]:
    """(rows, sum of per-row md5 prefixes) computed inside Spark, so a
    wide table is digested without collecting it."""
    from pyspark.sql import functions as F

    row = F.expr(_row_hash_sql(df.columns, lambda c: f"CAST(`{c}` AS STRING)"))
    h = F.conv(F.substring(F.md5(row), 1, 8), 16, 10).cast("long")
    n, s = df.agg(F.count(F.lit(1)), F.sum(h)).first()
    return int(n), int(s or 0)


def duck_table_digest(con, table: str) -> tuple[int, int]:
    cols = [r[0] for r in con.execute(f"DESCRIBE {table}").fetchall()]
    row = _row_hash_sql(cols, lambda c: f'CAST("{c}" AS VARCHAR)')
    n, s = con.execute(
        f"SELECT count(*), sum(('0x' || substr(md5({row}), 1, 8))::BIGINT) FROM {table}"
    ).fetchone()
    return int(n), int(s or 0)


def expect(name: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{name}: got {got}, expected {want}")


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )


# ---------------------------------------------------------------- medallion


class MedallionDaily:
    """The paper's daily DAG, then the reads a gold consumer makes.

    Each cycle is one daily DAG run over the raw file into a lake that
    keeps two generations, then a second commit of the same result, as an
    idempotent rerun writes it.  Then it makes ``LOOKUPS_PER_CYCLE`` point
    lookups of seeded property ids, three star-join aggregates over
    ``read_resolved`` gold tables, and the audit diff of the two property
    generations, which must be empty.
    Uses files, cleaning, keys, normalize, audit and the manifest layer
    (commit, GC and reads), and none of ``functions.*``.
    """

    name = "medallion_daily"
    LAYERS = (
        "sources.files.ingest_bronze",
        "plans.medallion.run_medallion",
        "plans.medallion.write_medallion",
        "sources.manifest.lookup_join",
        "sources.manifest.read_resolved",
        "sources.manifest.snapshot_diff",
    )
    TABLES = ("silver", "property", "hoa", "taxes", "leads", "rehab", "valuation")

    def __init__(self, seed, scale, cache_root, work_root, corrupt=False):
        self.seed, self.corrupt = seed, corrupt
        self.spark = self.tracer = None   # set once the session is up
        self.rows = SIZES[scale]["medallion"]
        self.cache_root = cache_root
        self.lake = os.path.join(work_root, "lake")

    def prepare(self) -> None:
        """Generate or reuse the raw inputs."""
        self.lookups_done = 0
        self.daily_walls = []
        self.src = gen.cached(
            self.cache_root, "property_raw", self.seed, (self.rows,),
            lambda d: gen.write_property_raw(d, self.seed, self.rows),
        )
        self.raw_path = os.path.join(self.src, "property_raw.csv")
        self.raw_bytes = os.path.getsize(self.raw_path)

    def daily_run(self) -> dict:
        """One daily DAG run: raw CSV -> bronze -> silver -> six gold
        tables, committed through the manifest protocol with two
        generations kept; then the idempotent rerun of the write, a second
        commit of the same result.  Returns the audits of the written
        tables."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from airflow_etl_minio_to_postgres_spark.plans.medallion import (
            run_medallion, write_medallion,
        )
        from airflow_etl_minio_to_postgres_spark.schemas import PROPERTY_RAW_COLUMNS
        from airflow_etl_minio_to_postgres_spark.sources.files import ingest_bronze, read_csv

        spark, tr, lake = self.spark, self.tracer, self.lake
        schema = T.StructType([
            T.StructField(h, t) for h, (_, t, _) in zip(gen.RAW_HEADERS, PROPERTY_RAW_COLUMNS)
        ])
        start = time.time()
        with tr.span("sources.files.ingest_bronze"):
            raw, _ = ingest_bronze(spark, self.raw_path, os.path.join(lake, "bronze"), schema=schema)
        with tr.span("plans.medallion.run_medallion"):
            fc = read_csv(spark, os.path.join(self.src, "field_config.csv"))
            result = run_medallion(raw, fc)
        if self.corrupt:
            result.gold["property"] = result.gold["property"].where(F.col("property_id") != 1)
        with tr.span("plans.medallion.write_medallion"):
            write_medallion(result, lake, commit_keep_last=2)
        self.daily_walls.append(time.time() - start)
        with tr.span("plans.medallion.write_medallion"):
            write_medallion(result, lake, commit_keep_last=2)
        return result.audits

    def oracle(self) -> None:
        """Reference gold semantics over the same raw CSV, in DuckDB:
        trim/lower/'' -> NULL -> typed fill, sha256 keys, dense
        ``property_id`` by key rank, hoa/taxes deduplicated; then the
        expected lookups and star aggregates over those tables."""
        import duckdb
        import numpy as np
        from pyspark.sql import types as T

        from airflow_etl_minio_to_postgres_spark.naming import standardize
        from airflow_etl_minio_to_postgres_spark.schemas import PROPERTY_RAW_COLUMNS

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW raw AS SELECT * FROM read_csv('{self.raw_path}', "
            "header=true, all_varchar=true)"
        )
        sel, by_target = [], {}
        for header, (col, dtype, target) in zip(gen.RAW_HEADERS, PROPERTY_RAW_COLUMNS):
            assert standardize(header) == col
            if isinstance(dtype, T.StringType):
                sel.append(f"coalesce(nullif(lower(trim(\"{header}\")), ''), 'unknown') AS {col}")
            elif isinstance(dtype, T.LongType):
                sel.append(f"coalesce(CAST(\"{header}\" AS BIGINT), -1) AS {col}")
            else:
                sel.append(f"CAST(\"{header}\" AS DECIMAL({dtype.precision},{dtype.scale})) AS {col}")
            by_target.setdefault(target, []).append(col)
        con.execute(f"CREATE TABLE silver AS SELECT {', '.join(sel)} FROM raw")
        con.execute("""
            CREATE TABLE keyed AS SELECT *,
              concat_ws('|', property_title, zip) AS natural_key,
              substr(sha256(concat(property_title, zip)), 1, 16) AS property_key,
              substr(sha256(concat(CAST(hoa AS VARCHAR), hoa_flag)), 1, 16) AS hoa_key,
              substr(sha256(CAST(taxes AS VARCHAR)), 1, 16) AS taxes_key
            FROM silver""")
        con.execute("""
            CREATE TABLE ids AS SELECT property_key,
              row_number() OVER (ORDER BY property_key) AS property_id
            FROM (SELECT DISTINCT property_key FROM keyed)""")

        def cols(t, rename=None):
            return ", ".join(f"{c} AS {(rename or {}).get(c, c)}" for c in by_target[t])

        con.execute(f"""CREATE TABLE property AS SELECT i.property_id, natural_key,
            k.property_key, hoa_key, taxes_key, {cols('property')}
            FROM keyed k JOIN ids i USING (property_key)""")
        con.execute(f"CREATE TABLE hoa AS SELECT DISTINCT hoa_key, {cols('hoa')} FROM keyed")
        con.execute(f"CREATE TABLE taxes AS SELECT DISTINCT taxes_key, {cols('taxes')} FROM keyed")
        for t in ("leads", "rehab", "valuation"):
            rename = {"source": "lead_source"} if t == "leads" else None
            con.execute(f"""CREATE TABLE {t} AS SELECT i.property_id, {cols(t, rename)}
                FROM keyed k JOIN ids i USING (property_key)""")
        self.expected = {t: duck_table_digest(con, t) for t in self.TABLES}
        n_ids = con.execute("SELECT count(*) FROM ids").fetchone()[0]
        rng = np.random.default_rng(self.seed + 1)
        self.probe_sets = [
            sorted(int(x) for x in rng.choice(np.arange(1, n_ids + 1), PROBE_KEYS, replace=False))
            for _ in range(PROBE_SETS)
        ]
        self.expected_lookup = []
        for ids in self.probe_sets:
            cur = con.execute(
                f"SELECT * FROM property WHERE property_id IN ({', '.join(map(str, ids))})")
            self.expected_lookup.append(
                rows_digest([d[0] for d in cur.description], cur.fetchall()))
        self.expected_star = []
        for sql in STAR_SQL:
            cur = con.execute(sql)
            self.expected_star.append(
                rows_digest([d[0] for d in cur.description], cur.fetchall()))
        con.close()

    def check_tables(self, audits: dict):
        """One op per written table: its audited row count, and the row
        count and content hash of what a reader now resolves."""
        from airflow_etl_minio_to_postgres_spark.sources.manifest import read_resolved

        def check(t):
            expect(f"{t} audit rows", audits[t]["n_rows"], self.expected[t][0])
            path = f"{self.lake}/silver" if t == "silver" else f"{self.lake}/gold/{t}"
            expect(f"{t} digest", spark_table_digest(read_resolved(self.spark, path)),
                   self.expected[t])

        return [(f"table.{t}", lambda t=t: check(t)) for t in self.TABLES]

    def cycle(self):
        from airflow_etl_minio_to_postgres_spark.sources.manifest import (
            lookup_join, read_resolved, snapshot_diff, snapshots,
        )

        spark, tr, lake = self.spark, self.tracer, self.lake
        ops = self.check_tables(self.daily_run())

        for _ in range(LOOKUPS_PER_CYCLE):
            k = self.lookups_done % len(self.probe_sets)
            self.lookups_done += 1
            with tr.span("sources.manifest.lookup_join"):
                probes = spark.createDataFrame([(i,) for i in self.probe_sets[k]], "property_id long")
                got = frame_digest(lookup_join(spark, f"{lake}/gold/property", probes, on="property_id"))
            ops.append(("lookup", lambda got=got, k=k: expect(
                "lookup", got, self.expected_lookup[k])))

        for i, query in enumerate(STAR_QUERIES):
            with tr.span("sources.manifest.read_resolved"):
                g = {t: read_resolved(spark, f"{lake}/gold/{t}") for t in query.tables}
                got = frame_digest(query(g))
            ops.append(("star", lambda got=got, i=i: expect(
                "star", got, self.expected_star[i])))

        with tr.span("sources.manifest.snapshot_diff"):
            root = f"{lake}/gold/property"
            seqs = sorted(s["seq"] for s in snapshots(spark, root) if s["exists"])
            diff_rows = snapshot_diff(spark, root, seqs[-2], seqs[-1]).count()
        ops.append(("audit", lambda: expect("audit diff rows", diff_rows, 0)))
        return ops

    def figures(self, walls, calls) -> dict:
        def of(layer):
            return [w for n, w in calls if n == layer]

        lookup = _deciles(of("sources.manifest.lookup_join"))
        return {
            "daily_run_s": statistics.median(self.daily_walls),
            "lake_bytes_per_raw_byte": dir_bytes(self.lake) / self.raw_bytes,
            "lookup_p50_ms": lookup[4] * 1e3,
            "lookup_p90_ms": lookup[8] * 1e3,
            "star_p50_ms": statistics.median(of("sources.manifest.read_resolved")) * 1e3,
            "audit_s": statistics.median(of("sources.manifest.snapshot_diff")),
        }


def _deciles(values) -> list:
    """p10..p90 of ``values`` (index 4 is p50, index 8 is p90)."""
    values = list(values)
    if len(values) < 2:
        return values * 9
    return statistics.quantiles(values, n=10, method="inclusive")


def _star(tables):
    def wrap(f):
        f.tables = tables
        return f
    return wrap


@_star(("property", "valuation"))
def _star_property_valuation(g):
    from pyspark.sql import functions as F
    return (g["property"].join(g["valuation"], "property_id").groupBy("market")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("list_price").alias("list_price")))


@_star(("property", "leads", "hoa"))
def _star_property_leads_hoa(g):
    from pyspark.sql import functions as F
    return (g["property"].join(g["leads"], "property_id")
            .join(g["hoa"].select("hoa_key", "hoa_flag"), "hoa_key")
            .groupBy("lead_source", "hoa_flag").agg(F.count(F.lit(1)).alias("n")))


@_star(("property", "taxes"))
def _star_property_taxes(g):
    from pyspark.sql import functions as F
    return (g["property"].join(g["taxes"], "taxes_key").groupBy("state")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("taxes").alias("taxes")))


STAR_QUERIES = (_star_property_valuation, _star_property_leads_hoa, _star_property_taxes)
STAR_SQL = (
    """SELECT p.market, count(*) AS n, sum(v.list_price) AS list_price
       FROM property p JOIN valuation v USING (property_id) GROUP BY p.market""",
    """SELECT l.lead_source, h.hoa_flag, count(*) AS n
       FROM property p JOIN leads l USING (property_id)
       JOIN hoa h USING (hoa_key) GROUP BY l.lead_source, h.hoa_flag""",
    """SELECT p.state, count(*) AS n, sum(t.taxes) AS taxes
       FROM property p JOIN taxes t USING (taxes_key) GROUP BY p.state""",
)


# ---------------------------------------------------------------- corpus


class CorpusDedup:
    """The LLM-data family over a generated documents/embeddings corpus,
    with inputs built exactly as the registry entries build them
    (``docs_training_prep``, ``docs_canonical_per_cluster``,
    ``emb_knn_join``, ``emb_semantic_dedup``), so the registry's DuckDB
    oracle SQL applies to the same files.  Covers every ``functions.*``
    module and the Python boundary, and none of the medallion layers."""

    name = "corpus_dedup"
    LAYERS = (
        "plans.training_prep.prepare_training_corpus",
        "functions.dedup.near_dup_pairs",
        "functions.graph.assign_clusters",
        "functions.graph.pagerank",
        "client.canonical_pick",
        "functions.similarity.knn_join",
        "functions.similarity.semantic_dedup",
    )

    def __init__(self, seed, scale, cache_root, work_root, corrupt=False):
        self.seed, self.corrupt = seed, corrupt
        self.spark = self.tracer = None   # set once the session is up
        self.docs, self.vecs = SIZES[scale]["corpus"]
        self.cache_root = cache_root

    def prepare(self) -> None:
        self.sf_dir = gen.cached(
            self.cache_root, "corpus", self.seed, (self.docs, self.vecs),
            lambda d: gen.write_corpus(d, self.seed, self.docs, self.vecs),
        )

    def oracle(self) -> None:
        """Expected digests from the registry's oracle SQL.  Clusters come
        from a union-find over the oracle's near-duplicate pairs (the
        registry's recursive-CTE oracle for them is far slower), and the
        canonical pick is then taken in Python by the registry's rule."""
        import duckdb

        from airflow_etl_minio_to_postgres_spark import queries as registry

        sql = registry._ORACLES
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")

        def digest(q):
            cur = con.execute(q)
            return rows_digest([d[0] for d in cur.description], cur.fetchall())

        cur = con.execute(sql["docs_near_dup_pairs"])
        pair_columns, pairs = [d[0] for d in cur.description], cur.fetchall()
        self.expected = {
            "training_prep": digest(sql["docs_training_prep"]),
            "near_dup_pairs": rows_digest(pair_columns, pairs),
            "knn_join": digest(sql["emb_knn_join"]),
            "semantic_dedup": digest(sql["emb_semantic_dedup"]),
        }
        ranks = dict(con.execute(sql["docs_pagerank"]).fetchall())
        con.close()
        parent = {n: n for n in ranks}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b, _ in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        best = {}
        for doc in sorted(ranks):
            cid, pr = find(doc), round(ranks[doc], 9)
            if cid not in best or pr > best[cid][1]:
                best[cid] = (doc, pr)
        self.expected["canonical"] = rows_digest(
            ["cluster_id", "canonical_doc_id", "pagerank"],
            [(c, d, pr) for c, (d, pr) in best.items()],
        )

    def cycle(self):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from airflow_etl_minio_to_postgres_spark import queries as registry
        from airflow_etl_minio_to_postgres_spark.functions.dedup import near_dup_pairs
        from airflow_etl_minio_to_postgres_spark.functions.graph import assign_clusters, pagerank
        from airflow_etl_minio_to_postgres_spark.functions.similarity import knn_join, semantic_dedup
        from airflow_etl_minio_to_postgres_spark.plans.training_prep import prepare_training_corpus
        from airflow_etl_minio_to_postgres_spark.sources.catalog import load_table

        spark, tr, sf = self.spark, self.tracer, self.sf_dir
        got = {}

        with tr.span("plans.training_prep.prepare_training_corpus"):
            docs = load_table(spark, "documents", sf).select("doc_id", "source", "lang", "text")
            out = prepare_training_corpus(docs)
            if self.corrupt:
                out = out.exceptAll(out.limit(1))
            got["training_prep"] = frame_digest(out)

        # docs_canonical_per_cluster, one call per span.
        with tr.span("functions.dedup.near_dup_pairs"):
            corpus = registry._near_dup_input(spark, sf)
            pairs = near_dup_pairs(corpus).localCheckpoint(eager=True)
        got["near_dup_pairs"] = lambda: frame_digest(pairs)  # checkpointed: cheap
        with tr.span("functions.graph.assign_clusters"):
            clusters = assign_clusters(corpus, pairs)
        with tr.span("functions.graph.pagerank"):
            edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).unionByName(
                pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
            ranks = pagerank(corpus.select("doc_id"), edges, iterations=3)
        with tr.span("client.canonical_pick"):
            w = Window.partitionBy("cluster_id").orderBy(F.col("pr").desc(), F.col("doc_id"))
            canonical = (
                clusters.join(ranks, clusters["doc_id"] == ranks["node"])
                .select("cluster_id", "doc_id", F.round("pagerank", 9).alias("pr"))
                .withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
                .select("cluster_id", F.col("doc_id").alias("canonical_doc_id"),
                        F.col("pr").alias("pagerank"))
            )
            got["canonical"] = frame_digest(canonical)

        with tr.span("functions.similarity.knn_join"):
            e = load_table(spark, "embeddings", sf).select(
                "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding"))
            got["knn_join"] = frame_digest(knn_join(
                e, dim=registry._EMB_DIM, k=3, n_bands=registry._EMB_BANDS,
                bits_per_band=registry._EMB_BITS_PER_BAND, seed=registry._EMB_SEED))
        with tr.span("functions.similarity.semantic_dedup"):
            got["semantic_dedup"] = frame_digest(semantic_dedup(
                registry._emb_perturbed_input(spark, sf), threshold=0.95, n_cells=8))

        def check(op):
            value = got[op]() if callable(got[op]) else got[op]
            expect(op, value, self.expected[op])

        return [(op, lambda op=op: check(op)) for op in got]

    def figures(self, walls, calls) -> dict:
        return {"corpus_run_s": statistics.median(walls)}


WORKLOADS = {w.name: w for w in (MedallionDaily, CorpusDedup)}
