#!/usr/bin/env python
"""Capture ``explain("formatted")`` for registry entries and audit each
plan for Python UDFs that run more than once per row.

Usage:
    python scripts/explain_entries.py OUT_DIR SUFFIX [entry ...]

Writes ``OUT_DIR/<entry>_<SUFFIX>.txt`` for each named entry, or for
every registry entry when none is named.  Run with PYTHONPATH pointing
at the tree whose plans you want (e.g. a ``git archive`` copy of the
pre-optimization commit for the ``before`` files).  Plan shape, not
timing: sf dir defaults to sf0.01 and can be overridden with
$SPARK_GRAFT_SF_DIR.

Audit: one application of a Python UDF carries one result id
(``_keys(...)#317``).  When Catalyst copies it into a second
ArrowEvalPython or BatchEvalPython node on the same rows' path — e.g.
an inferred ``size(arr) > 0`` filter under a ``posexplode`` of the
UDF's array — every task computes and ships it twice.  Each such UDF
is printed with its entry, and the script exits 1.
"""

from __future__ import annotations

import os
import re
import sys

_EVAL_NODE = re.compile(r"^\((\d+)\) (ArrowEvalPython|BatchEvalPython)\b")
_RESULT_ID = re.compile(r"^(\w+)\(.*\)#(\d+)L?$", re.S)
_TREE_NODE = re.compile(r"^([\s:+-]*)\S.*? \((\d+)\)\s*$")


def _top_level_items(text: str) -> list[str]:
    """The comma-separated items of the first bracketed list in
    ``text``, split only at bracket depth 1."""
    items, depth, start = [], 0, None
    for i, ch in enumerate(text):
        if ch in "[(":
            depth += 1
            if depth == 1:
                start = i + 1
        elif ch in "])":
            depth -= 1
            if depth == 0:
                items.append(text[start:i].strip())
                return [s for s in items if s]
        elif ch == "," and depth == 1:
            items.append(text[start:i].strip())
            start = i + 1
    return []


def _ancestors(plan: str) -> dict[str, set[str]]:
    """Operator id -> the ids of every operator above it, read from
    the indentation of the formatted plan's tree (a node printed more
    than once, like a cached relation's plan, unions its paths)."""
    up: dict[str, set[str]] = {}
    stack: list[tuple[int, str]] = []
    for line in plan.split("\n\n", 1)[0].splitlines():
        m = _TREE_NODE.match(line)
        if not m:
            continue
        col, node = len(m.group(1)), m.group(2)
        while stack and stack[-1][0] >= col:
            stack.pop()
        up.setdefault(node, set()).update(n for _, n in stack)
        stack.append((col, node))
    return up


def duplicated_udfs(plan: str) -> dict[str, list[str]]:
    """``{"<udf name>#<result id>": [node ids]}`` for every UDF
    application evaluated in two ArrowEvalPython / BatchEvalPython
    nodes of a formatted plan where one node sits above the other —
    the same rows pass through both.  Copies in sibling branches (a
    UDF pushed into each side of a Union, or a subtree the planner
    repeats and the exchange reuse shares) each see other rows, or run
    once, and are not reported."""
    nodes: dict[str, list[str]] = {}
    lines = plan.splitlines()
    seen = set()
    for n, line in enumerate(lines):
        m = _EVAL_NODE.match(line)
        if not m or m.group(1) in seen:
            continue
        seen.add(m.group(1))
        for detail in lines[n + 1 :]:
            if not detail.strip():
                break
            if detail.startswith("Arguments: "):
                for udf in _top_level_items(detail[len("Arguments: ") :]):
                    r = _RESULT_ID.match(udf)
                    key = f"{r.group(1)}#{r.group(2)}" if r else udf
                    nodes.setdefault(key, []).append(m.group(1))
                break
    up = _ancestors(plan)
    return {
        k: v
        for k, v in nodes.items()
        if any(a in up.get(b, ()) for a in v for b in v)
    }


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    os.makedirs(out_dir, exist_ok=True)

    from airflow_etl_minio_to_postgres_spark import queries as registry
    from airflow_etl_minio_to_postgres_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name=f"explain-{suffix}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    names = sys.argv[3:] or sorted(qs)
    jvm = spark._sc._jvm
    python_plans, repeats = 0, []
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            text = jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 - capture, keep going
            text = f"EXPLAIN FAILED: {type(exc).__name__}: {exc}\n"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path}")
        python_plans += bool(re.search(r"(Arrow|Batch)EvalPython", text))
        for udf, node_ids in duplicated_udfs(text).items():
            repeats.append(f"{name}: {udf} in nodes {', '.join(node_ids)}")
    spark.stop()
    print(
        f"audit: {len(names)} plans, {python_plans} with an ArrowEvalPython"
        f" or BatchEvalPython node, {len(repeats)} UDFs evaluated twice"
    )
    for line in repeats:
        print(f"  {line}")
    sys.exit(1 if repeats else 0)


if __name__ == "__main__":
    main()
