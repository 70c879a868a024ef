"""The package's surface is its called surface.

Three static checks over the package source (no Spark session):

* every top-level ``def`` / ``class`` of the package, public or
  private, has a code caller outside ``tests/`` — in the package
  itself, the benchmark (``perfbench/``, ``bench.py``), ``scripts/`` or
  the driver contract (``__spark_entry__.py``).  A definition only
  tests run is test-only code; it belongs in ``tests/`` or nowhere.
  The few exceptions are listed, each with its reason, in ``UNCALLED``;
* every option of a package function outside ``queries.py`` — a
  parameter with a ``True`` / ``False`` default, or a ``**kwargs``
  catch-all — is set by some call outside ``tests/``: a call passes the
  flag a value other than its default, or passes the catch-all a
  keyword.  An option only tests set is a test-only code path.  The
  exceptions are listed, each with its reason, in ``UNSET_OPTIONS``;
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

# Options kept although no call outside tests sets them:
# ``<module path>:<function>.<parameter>`` -> why.  Each must still be
# unset.
UNSET_OPTIONS = {
    "sources/jdbc.py:write_options.rewrite_batched_inserts": (
        "JDBC sink setting of a deployment, not of the engine"
    ),
    "sources/jdbc.py:write_options.truncate": (
        "JDBC sink setting of a deployment, not of the engine"
    ),
    "sources/jdbc.py:create_table_sql.if_not_exists": _REFERENCE_DDL,
    "sources/manifest.py:restore_snapshot.allow_column_drop": (
        "the one escape from restore's drop-column safety guard"
    ),
}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
_DEFS = (*_FUNCS, ast.ClassDef)


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


def _calls_by_name() -> dict[str, list[ast.Call]]:
    """Every call outside ``tests/``, keyed by the called bare name
    (``f(...)`` and ``x.f(...)`` alike)."""
    calls = defaultdict(list)
    for path in _caller_files():
        for n in ast.walk(ast.parse(path.read_text())):
            if isinstance(n, ast.Call):
                f = n.func
                if isinstance(f, ast.Name):
                    calls[f.id].append(n)
                elif isinstance(f, ast.Attribute):
                    calls[f.attr].append(n)
    return calls


def _sets(call: ast.Call, name: str, index: int | None, default) -> bool:
    """``call`` passes parameter ``name`` (by keyword, or at positional
    ``index``) something other than the literal ``default``."""
    given = [k.value for k in call.keywords if k.arg == name]
    if index is not None and len(call.args) > index:
        given.append(call.args[index])
    return any(
        not (isinstance(v, ast.Constant) and v.value is default)
        for v in given
    )


def _unset_options() -> list[str]:
    """``<module path>:<function>.<parameter>`` of every bool-default
    parameter no call outside tests sets to another value, and
    ``...:<function>.**<name>`` of every ``**kwargs`` no such call
    passes a keyword, over the package's functions outside
    ``queries.py``."""
    calls = _calls_by_name()
    unset = []
    for path in _sources(PACKAGE):
        if path.name == "queries.py":
            continue
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, _FUNCS):
                continue
            where = f"{path.relative_to(PACKAGE)}:{fn.name}"
            a = fn.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            defaults = [
                (p.arg, i, d)
                for i, (p, d) in enumerate(
                    zip(pos[first:], a.defaults), first
                )
            ] + [
                (p.arg, None, d)
                for p, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None
            ]
            for name, index, d in defaults:
                if not isinstance(getattr(d, "value", None), bool):
                    continue
                if not any(
                    _sets(c, name, index, d.value) for c in calls[fn.name]
                ):
                    unset.append(f"{where}.{name}")
            if a.kwarg is not None:
                named = {p.arg for p in (*pos, *a.kwonlyargs)}
                if not any(
                    k.arg is not None and k.arg not in named
                    for c in calls[fn.name]
                    for k in c.keywords
                ):
                    unset.append(f"{where}.**{a.kwarg.arg}")
    return sorted(unset)


def test_every_option_is_set_outside_tests():
    """A flag only tests flip, or a catch-all only tests fill, selects a
    code path no caller runs: a constant with a fork, not an option."""
    unset = _unset_options()
    orphans = [o for o in unset if o not in UNSET_OPTIONS]
    assert not orphans, "set by no call outside tests/:\n" + "\n".join(
        orphans
    )
    stale = sorted(set(UNSET_OPTIONS) - set(unset))
    assert not stale, "listed in UNSET_OPTIONS but set:\n" + "\n".join(stale)


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
