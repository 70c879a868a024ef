"""Crash-point model of the local directory swap (``sources/files.swap_dir``).

Every ``os.replace`` of the package, and every ``shutil.rmtree`` of the
in-place rewrites, runs inside ``sources/files.py``, so wrapping that
module's two calls sees every step of a rewrite.  A crash before the k-th
call leaves the files exactly as they were when that call began:

* the filesystem-only test makes the k-th call raise, for every k;
* the Spark cases run the operation once and copy the working directory
  before every call (one Spark run instead of one per crash point).  Each
  distinct copy is then restored, read (no reader may see an aside's
  rows), and restarted by running the operation again; the restart must
  end at the no-crash result.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F

from airflow_etl_minio_to_postgres_spark.sources import files as sf


class _Crash(Exception):
    pass


class _Proxy:
    """A module stand-in whose ``name`` attribute is ``fn``."""

    def __init__(self, module, name, fn):
        self._module, self._name, self._fn = module, name, fn

    def __getattr__(self, attr):
        return self._fn if attr == self._name else getattr(self._module, attr)


def _before_each_call(m, before) -> None:
    """Run ``before(k)`` ahead of the k-th ``os.replace`` or
    ``shutil.rmtree`` call made by the swap module."""
    calls = [0]

    def counted(fn):
        def inner(*args, **kwargs):
            calls[0] += 1
            before(calls[0])
            return fn(*args, **kwargs)

        return inner

    m.setattr(sf, "os", _Proxy(os, "replace", counted(os.replace)))
    m.setattr(
        sf,
        "shutil",
        _Proxy(shutil, "rmtree", counted(shutil.rmtree)),
        raising=False,
    )


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


def test_swap_dir_converges_at_every_crash_point(monkeypatch, tmp_path):
    """Filesystem only, the k-th call raising: once recovered the target
    always holds a complete copy, and a rerun ends at the staged one."""
    target, staged = tmp_path / "t", tmp_path / "t_staged"

    def op():
        if not staged.exists():  # a rerun restages, as a rewrite would
            staged.mkdir()
            (staged / "v").write_text("new")
        sf.swap_dir(str(staged), str(target))

    def crash_at(k):
        def before(i):
            if i == k:
                raise _Crash(k)

        return before

    for k in range(1, 5):
        for d in tmp_path.iterdir():
            shutil.rmtree(d)
        target.mkdir()
        (target / "v").write_text("old")
        with monkeypatch.context() as m:
            _before_each_call(m, crash_at(k))
            if k == 4:  # three calls: aside, promote, delete the aside
                op()
            else:
                with pytest.raises(_Crash):
                    op()
        if k < 4:
            sf._recover_swap(str(target))
            assert (target / "v").read_text() in ("old", "new"), k
            assert os.listdir(tmp_path) in (["t"], ["t", "t_staged"],
                                            ["t_staged", "t"]), k
            op()
        assert (target / "v").read_text() == "new", k
        assert sorted(os.listdir(tmp_path)) == ["t"], k


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def test_upsert_restart_after_any_crash_keeps_every_row(
    spark, monkeypatch, tmp_path
):
    """A crash between moving the table aside and promoting the staged
    copy used to make the restarted upsert treat the table as missing,
    write only the incoming rows and delete the aside."""
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
        sf.upsert_parquet(update, path, ["k"])

    n = _every_crash_point(monkeypatch, work, op, check)
    assert n == 3  # staged; table aside; staged copy promoted


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
        with open(os.path.join(out, "_last_batch"), encoding="utf-8") as f:
            assert f.read() == "tok:1"
        assert os.listdir(work) == ["rollup"]

    def op():
        _rollup_process_batch(b1, 1, out, "tok")

    n = _every_crash_point(monkeypatch, work, op, check)
    assert n == 3


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
    assert n == 3


_KIND_ROWS = [(1, 10, "a"), (2, 20, "a"), (3, 30, "b")]


def _recluster_a(spark, path):
    return sf.recluster_zorder_partitions(
        spark, path, ["x", "y"], "kind", partitions=["a"], bits=4
    )


def _kind_table(spark, path):
    spark.createDataFrame(
        _KIND_ROWS, "x int, y int, kind string"
    ).write.partitionBy("kind").parquet(path)


def test_recluster_partitions_crash_after_promote_hides_aside(
    spark, monkeypatch, tmp_path
):
    """A crash after a partition's promote leaves its previous contents
    in an aside inside the table.  The aside must not read as a
    partition: the table still reads the no-crash row count."""
    path = str(tmp_path / "t")
    _kind_table(spark, path)
    real_rmtree = shutil.rmtree

    def crash_on_aside(p, *args, **kwargs):
        if os.path.dirname(str(p).rstrip("/")) == path and os.path.exists(p):
            raise _Crash(p)
        return real_rmtree(p, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(shutil, "rmtree", crash_on_aside)
        with pytest.raises(_Crash):
            _recluster_a(spark, path)
    assert spark.read.parquet(path).count() == len(_KIND_ROWS)


def test_recluster_partitions_restart_after_any_crash(
    spark, monkeypatch, tmp_path
):
    work = str(tmp_path / "w")
    path = os.path.join(work, "t")
    _kind_table(spark, path)

    def between():
        # a crash may hide a partition until the restart, never add rows
        assert not Counter(_rows(spark, path)) - Counter(_KIND_ROWS)

    def check():
        assert _rows(spark, path) == _KIND_ROWS
        assert os.listdir(work) == ["t"]
        assert not [n for n in os.listdir(path) if n.endswith(sf._ASIDE)]

    n = _every_crash_point(
        monkeypatch, work, lambda: _recluster_a(spark, path), check, between
    )
    assert n == 4  # staged; partition aside; promoted; staging left over
