"""Crash-point model of the one commit protocol
(``sources/manifest.commit_parquet_generation``).

Every in-place writer commits a manifest generation, and each step of a
commit runs through a ``manifest`` function: ``next_seq`` opens it (the
data write follows), ``copy_tree`` carries a sidecar or an untouched
partition, ``_write_text`` writes a replay marker (and the staged
manifest), ``publish_generation`` is the commit point and
``gc_generations`` collects what the new generation supersedes.
Wrapping those functions sees every step boundary.  A crash before the
k-th call leaves the files exactly as they were when that call began, so
each case runs the operation once and copies the working directory
before every call (one Spark run instead of one per crash point).  Each
distinct copy is then restored, read through ``manifest.read_resolved``
(no reader may see a staged or superseded generation's rows), and
restarted by running the operation again; the restart must end at the
no-crash result.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F

from airflow_etl_minio_to_postgres_spark.sources import files as sf
from airflow_etl_minio_to_postgres_spark.sources import manifest as mf
from airflow_etl_minio_to_postgres_spark.sources.manifest import (
    read_resolved,
    resolve_data_root,
)

# the commit's step boundaries, in the order a commit calls them
_STEPS = (
    "next_seq",
    "copy_tree",
    "_write_text",
    "publish_generation",
    "gc_generations",
)


class _Crash(Exception):
    pass


def _before_each_call(m, before) -> None:
    """Run ``before(k)`` ahead of the k-th call of a commit step, in
    ``manifest`` and in the modules that import the steps by name."""
    calls = [0]

    def counted(fn):
        def inner(*args, **kwargs):
            calls[0] += 1
            before(calls[0])
            return fn(*args, **kwargs)

        return inner

    for name in _STEPS:
        wrapped = counted(getattr(mf, name))
        for module in (mf, sf):
            if hasattr(module, name):
                m.setattr(module, name, wrapped)


def _tree(root: str) -> tuple:
    """Everything a restart can see under ``root``: paths and file bytes."""
    out = []
    for d, _, files in os.walk(root):
        rel = os.path.relpath(d, root)
        out.append((rel, b""))
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out.append((os.path.join(rel, f), fh.read()))
    return tuple(sorted(out))


def _every_crash_point(monkeypatch, work, op, check, between=None) -> int:
    """``work`` holds the starting files.  Runs ``op`` once, copying
    ``work`` before each counted call, and ``check``s the result.  Then,
    for each copy whose files differ from the start and from every other
    copy (equal files restart equally): restore it, call ``between``,
    restart ``op`` and ``check`` again.  Returns the number of distinct
    crash states."""
    snaps = work.rstrip("/") + "__crash_states"
    seen, states = {_tree(work)}, []

    def snapshot(k):
        tree = _tree(work)
        if tree not in seen:
            seen.add(tree)
            states.append(os.path.join(snaps, str(k)))
            shutil.copytree(work, states[-1])

    with monkeypatch.context() as m:
        _before_each_call(m, snapshot)
        op()
    check()
    for state in states:
        shutil.rmtree(work)
        shutil.copytree(state, work)
        if between is not None:
            between()
        op()
        check()
    shutil.rmtree(snaps, ignore_errors=True)
    return len(states)


def _rows(spark, path):
    return sorted(tuple(r) for r in read_resolved(spark, path).collect())


def test_upsert_restart_after_any_crash_keeps_every_row(
    spark, monkeypatch, tmp_path
):
    """A keyed upsert (served rows anti-joined on the incoming keys,
    unioned with the incoming rows) committed as the next generation:
    the restarted upsert re-reads whichever generation the crash left
    served, so it never treats the table as missing and loses rows."""
    work = str(tmp_path / "w")
    path = os.path.join(work, "t")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    ).write.parquet(path)
    update = spark.createDataFrame([(2, "B")], "k int, v string")

    def check():
        assert _rows(spark, path) == [(1, "a"), (2, "B"), (3, "c")]
        assert os.listdir(work) == ["t"]

    def op():
        served = spark.read.schema(update.schema).parquet(
            resolve_data_root(spark, path)
        )
        merged = served.join(
            update.select("k"), on="k", how="left_anti"
        ).unionByName(update)
        mf.commit_parquet_generation(spark, merged, path)

    n = _every_crash_point(monkeypatch, work, op, check)
    assert n == 2  # generation staged; published, not yet collected


def test_rollup_restart_after_any_crash_keeps_totals_and_marker(
    spark, monkeypatch, tmp_path
):
    """The replayed batch merges exactly once whichever step the crash
    hit: the earlier totals and the replay marker are never lost."""
    from airflow_etl_minio_to_postgres_spark.streaming.pipeline import (
        _rollup_process_batch,
    )

    work = str(tmp_path / "w")
    out = os.path.join(work, "rollup")
    b0 = spark.createDataFrame(
        [
            ("2024-01-01 10:05:00", "view", 1.5),
            ("2024-01-01 11:00:00", "buy", 2.0),
        ],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b1 = b0.where(F.col("event_type") == "view")
    _rollup_process_batch(b0, 0, out, "tok")

    def check():
        # view merged from both batches, buy from batch 0 only
        assert [r[1:] for r in _rows(spark, out)] == [
            ("view", 2, 3_000_000),
            ("buy", 1, 2_000_000),
        ]
        marker = os.path.join(resolve_data_root(spark, out), "_last_batch")
        with open(marker, encoding="utf-8") as f:
            assert f.read() == "tok:1"
        assert os.listdir(work) == ["rollup"]

    def op():
        _rollup_process_batch(b1, 1, out, "tok")

    n = _every_crash_point(monkeypatch, work, op, check)
    assert n == 3  # data staged; marker staged; published


def test_migrate_legacy_silver_restart_after_any_crash(
    spark, monkeypatch, tmp_path
):
    from airflow_etl_minio_to_postgres_spark.streaming.pipeline import (
        migrate_legacy_silver,
    )

    work = str(tmp_path / "w")
    out = os.path.join(work, "silver")
    spark.createDataFrame(
        [("house a", "11111", 5), ("house b", "22222", 7)],
        "property_title string, zip string, hoa int",
    ).write.parquet(out)

    def check():
        assert _rows(spark, out) == [
            ("house a", "11111", 5, "legacy-0"),
            ("house b", "22222", 7, "legacy-0"),
        ]
        assert os.listdir(work) == ["silver"]

    n = _every_crash_point(
        monkeypatch, work, lambda: migrate_legacy_silver(spark, out), check
    )
    assert n == 2  # generation staged; published, not yet collected


_KIND_ROWS = [(1, 10, "a"), (2, 20, "a"), (3, 30, "b")]


@pytest.fixture(scope="module")
def kind_table(spark, tmp_path_factory):
    """The two-partition table, written once per module; each test
    copies it."""
    path = str(tmp_path_factory.mktemp("kind") / "t")
    spark.createDataFrame(
        _KIND_ROWS, "x int, y int, kind string"
    ).write.partitionBy("kind").parquet(path)
    return path


def _recluster_a(spark, path):
    return sf.recluster_zorder_partitions(
        spark, path, ["x", "y"], "kind", partitions=["a"], bits=4
    )


def test_recluster_partitions_crash_after_promote_hides_aside(
    spark, monkeypatch, tmp_path, kind_table
):
    """A crash after the publish leaves the superseded partition
    directories inside the table until the next GC.  They must not read
    as partitions: the table still reads the no-crash row count."""
    path = str(tmp_path / "t")
    shutil.copytree(kind_table, path)

    def crash_on_gc(*args, **kwargs):
        raise _Crash()

    with monkeypatch.context() as m:
        m.setattr(mf, "gc_generations", crash_on_gc)
        with pytest.raises(_Crash):
            _recluster_a(spark, path)
    assert read_resolved(spark, path).count() == len(_KIND_ROWS)


def test_recluster_partitions_restart_after_any_crash(
    spark, monkeypatch, tmp_path, kind_table
):
    work = str(tmp_path / "w")
    path = os.path.join(work, "t")
    shutil.copytree(kind_table, path)

    def between():
        # a crash may hide a partition until the restart, never add rows
        assert not Counter(_rows(spark, path)) - Counter(_KIND_ROWS)

    def check():
        assert _rows(spark, path) == _KIND_ROWS
        assert os.listdir(work) == ["t"]
        # nothing staged or superseded is left beside the served one
        served = os.path.basename(resolve_data_root(spark, path))
        assert sorted(
            n for n in os.listdir(path) if not n.startswith(".")
        ) == sorted([served, mf.MANIFEST_DIR])

    n = _every_crash_point(
        monkeypatch, work, lambda: _recluster_a(spark, path), check, between
    )
    assert n == 3  # touched partition staged; untouched carried; published
