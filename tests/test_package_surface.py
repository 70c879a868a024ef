"""The package's surface is its called surface.

Two static checks over the package source (no Spark session):

* every top-level ``def`` / ``class`` of the package, public or
  private, has a code caller outside ``tests/`` — in the package
  itself, the benchmark (``perfbench/``, ``bench.py``), ``scripts/`` or
  the driver contract (``__spark_entry__.py``).  A definition only
  tests run is test-only code; it belongs in ``tests/`` or nowhere.
  The few exceptions are listed, each with its reason, in ``UNCALLED``;
* the package computes no numpy dot product outside ``_fold``: no
  matmul operator, ``np.dot``, ``np.einsum`` or ``np.linalg``.  Their
  summation order is unspecified, so one of them would break the
  bit-identity every cosine kernel is pinned to (``tests/oracle.py``).
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "airflow_etl_minio_to_postgres_spark"

_REFERENCE_DDL = (
    "mirrors the reference's S6 postgres_table_creation "
    "(dags/dag_etl_minio_to_postgres.py:110-121)"
)

# Definitions kept without a code caller: ``<module path>:<name>`` ->
# why.  Each must still be a definition without a caller.
UNCALLED = {
    "operators/normalize.py:reorder_first": "mirrors the reference's re_order_df",
    "operators/normalize.py:unique_targets": (
        "mirrors the reference's target-table dedup"
    ),
    "sources/jdbc.py:dbapi_over_jvm": (
        "mirrors the reference's DB-API (psycopg2-style) JDBC sink"
    ),
    "sources/jdbc.py:create_schema_sql": _REFERENCE_DDL,
    "sources/jdbc.py:create_table_sql": _REFERENCE_DDL,
    "sources/jdbc.py:execute_ddl": _REFERENCE_DDL,
    "streaming/pipeline.py:compact_near_dup_store": (
        "RUNBOOK section 5: the one maintenance step of the "
        "streaming_near_dup_dedup sink"
    ),
    "streaming/pipeline.py:compact_drift_log": (
        "RUNBOOK section 5: the one maintenance step of the "
        "streaming_drift_monitor sink"
    ),
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _sources(root: Path) -> list[Path]:
    return sorted(
        p
        for p in root.rglob("*.py")
        if not {"tests", "_cache", "_out", "_work"} & set(p.parts)
    )


def _caller_files() -> list[Path]:
    return [
        *_sources(PACKAGE),
        *_sources(ROOT / "perfbench"),
        *_sources(ROOT / "scripts"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]


def _loaded_names(node: ast.AST) -> set[str]:
    """Names a statement reads as code: ``name`` and ``x.name`` loads.
    Docstrings, messages, ``__all__`` strings and imports are not
    loads, so they do not count."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
            out.add(n.attr)
    return out


def _registered(node: ast.AST) -> bool:
    """Decorated with ``@register``: the registry the driver runs calls
    it."""
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if isinstance(f, ast.Name) and f.id == "register":
            return True
    return False


def _uncalled_definitions() -> list[str]:
    """``<module path>:<name>`` of every top-level package definition
    with no load outside its own body and no registering decorator."""
    sites = defaultdict(set)  # name -> {(file, top-level statement index)}
    defs = []
    for path in _caller_files():
        for i, stmt in enumerate(ast.parse(path.read_text()).body):
            for name in _loaded_names(stmt):
                sites[name].add((path, i))
            if path.is_relative_to(PACKAGE) and isinstance(stmt, _DEFS):
                defs.append((path, i, stmt))
    return sorted(
        f"{path.relative_to(PACKAGE)}:{stmt.name}"
        for path, i, stmt in defs
        if not _registered(stmt) and not sites[stmt.name] - {(path, i)}
    )


def test_every_public_definition_is_referenced_outside_tests():
    """Public and private definitions alike: a reference is a code load
    of the name outside the definition's own body."""
    uncalled = _uncalled_definitions()
    orphans = [d for d in uncalled if d not in UNCALLED]
    assert not orphans, "no code caller outside tests/:\n" + "\n".join(
        orphans
    )
    # every exception is still a definition without a caller
    stale = sorted(set(UNCALLED) - set(uncalled))
    assert not stale, "listed in UNCALLED but called:\n" + "\n".join(stale)


def _numpy_dot_sites(tree: ast.Module) -> list[int]:
    """Lines that compute a dot product outside ``_fold``: the matmul
    operator (``a @ b`` / ``a @= b``; decorators are not operators),
    ``np.dot``, ``np.einsum`` and anything under ``np.linalg``."""
    lines = []
    for n in ast.walk(tree):
        if isinstance(n, (ast.BinOp, ast.AugAssign)) and isinstance(
            n.op, ast.MatMult
        ):
            lines.append(n.lineno)
        elif (
            isinstance(n, ast.Attribute)
            and n.attr in {"dot", "einsum", "linalg"}
            and isinstance(n.value, ast.Name)
            and n.value.id in {"np", "numpy"}
        ):
            lines.append(n.lineno)
        elif isinstance(n, ast.ImportFrom) and (
            (n.module or "").startswith("numpy.linalg")
            or (
                n.module == "numpy"
                and {a.name for a in n.names} & {"dot", "einsum", "linalg"}
            )
        ):
            lines.append(n.lineno)
    return lines


def test_fold_is_the_only_numpy_dot_product():
    hits = [
        f"{path.relative_to(ROOT)}:{line}"
        for path in _sources(PACKAGE)
        for line in _numpy_dot_sites(ast.parse(path.read_text()))
    ]
    assert hits == [], hits
