"""The package's surface is its used surface.

Two static checks over the package source (no Spark session):

* every public top-level ``def`` / ``class`` of the package is
  referenced outside ``tests/`` — in the package itself, the benchmark
  (``perfbench/``, ``bench.py``), ``scripts/`` or the driver contract
  (``__spark_entry__.py``).  A function only tests use is test-only
  code; it belongs in ``tests/`` or nowhere.  The one exception is the
  reference pipeline's own surface, kept for parity with it;
* the package computes no numpy dot product outside ``_fold``: no
  matmul operator, ``np.dot``, ``np.einsum`` or ``np.linalg``.  Their
  summation order is unspecified, so one of them would break the
  bit-identity every cosine kernel is pinned to (``tests/oracle.py``).
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "airflow_etl_minio_to_postgres_spark"

# Public functions kept without a caller because they mirror the
# reference ETL's surface: its ``re_order_df``, its target-table dedup
# and its DB-API (psycopg2-style) JDBC sink.
REFERENCE_SURFACE = frozenset(
    {"reorder_first", "unique_targets", "dbapi_over_jvm"}
)


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


def _public_defs() -> dict[str, Path]:
    defs = {}
    for path in _sources(PACKAGE):
        for node in ast.parse(path.read_text()).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("_"):
                defs[node.name] = path
    return defs


def test_every_public_definition_is_referenced_outside_tests():
    """A reference is the name as a whole word anywhere in a caller file
    except on its own ``def`` / ``class`` line: a call, an import, a
    registry entry's name, or a cross-reference in another definition's
    docs or messages."""
    defs = _public_defs()
    words = re.compile(r"\b(" + "|".join(map(re.escape, defs)) + r")\b")
    own = re.compile(r"^\s*(?:async\s+)?(?:def|class)\s+(\w+)")
    refs = set()
    for path in _caller_files():
        for line in path.read_text().splitlines():
            found = set(words.findall(line))
            m = own.match(line)
            if m is not None:
                found.discard(m.group(1))
            refs |= found
    orphans = sorted(
        f"{path.relative_to(ROOT)}:{name}"
        for name, path in defs.items()
        if name not in refs and name not in REFERENCE_SURFACE
    )
    assert orphans == [], orphans
    # every exception is still a real package definition
    assert REFERENCE_SURFACE <= set(defs)


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
