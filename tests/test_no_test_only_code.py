"""Gate: no package definition is reached only by tests.

An AST reachability scan (no Spark). A name counts as referenced when it
appears as a ``Name`` id, an ``Attribute`` attr, an import alias, or a string
constant that is an identifier. The roots are the names in

- the module-level statements of ``vptstools_spark/`` other than
  ``def``/``class``, where imports count only in ``__init__.py`` files (as
  re-exports);
- all of ``bench.py``, ``__spark_entry__.py``, ``tools/`` and ``perfbench/``.

A top-level ``def``/``class`` is reachable when a root or the body of a
reachable definition names it. Dunder hooks (a module's ``__getattr__``) are
called by the interpreter and count as reached. Names are matched as plain
names, which is conservative: a name defined in two modules is kept if either
is referenced. The allow-list entries are kept, so what they call is kept too.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

#: kept although only tests reach them, keyed ``module path:name``
ALLOWED = {
    # test probes and references for kept code
    "sources/odim.py:profiles_from_records": "builds profile-row inputs for the VPTS tests without HDF5 bytes",
    "operators/pipeline.py:read_daily_csv_string_preserving": "re-reads published daily CSVs as strings to compare them",
    "operators/vpts.py:validate_vpts_order": "counts sort-order inversions in VPTS frames that tests sort or re-read",
    "plans/hints.py:plan_string": "plan text probe for hint tests",
    "plans/asserts.py:python_eval_nodes": "plan gate: Python-eval node count",
    "plans/asserts.py:unbounded_global_windows": "plan gate: global windows without a bound",
    "operators/dedup.py:jaccard_pairs": "quadratic reference for the routed pair core",
    "operators/simjoin.py:token_sets": "input builder for the prefix_ranked/prefix_candidates tests",
}


def _names(nodes, with_imports: bool = True) -> set[str]:
    out: set[str] = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias) and with_imports:
                out.update(n.name.split("."))
                if n.asname:
                    out.add(n.asname)
            elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
                out.add(n.value)
    return out


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def unreachable(keep=()) -> set[str]:
    """``module path:name`` of every top-level package def/class that neither
    a root nor a ``keep`` entry (``module path:name``) reaches."""
    package = REPO / "vptstools_spark"
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        is_init = path.name == "__init__.py"
        for stmt in _parse(path).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(stmt.name, []).append((rel, stmt))
            elif is_init or not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                roots |= _names([stmt], with_imports=is_init)
    entry = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    for d in ("tools", "perfbench"):
        entry += sorted((REPO / d).rglob("*.py"))
    for path in entry:
        roots |= _names([_parse(path)])

    roots |= {n for n in defs if n.startswith("__") and n.endswith("__")}
    roots |= {k.split(":")[1] for k in keep}
    reached: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        body = _names([node for _, node in defs[name]])
        todo.extend(n for n in body if n in defs and n not in reached)
    return {f"{rel}:{name}" for name, sites in defs.items() if name not in reached for rel, _ in sites}


def test_no_definition_is_reached_only_by_tests():
    stray = sorted(unreachable(keep=ALLOWED) - ALLOWED.keys())
    assert not stray, "package definitions no query, CLI, bench or tool reaches:\n" + "\n".join(stray)


def test_allow_list_entries_are_still_test_only():
    # an entry that gained a non-test caller, or was deleted, leaves the list
    stale = sorted(ALLOWED.keys() - unreachable())
    assert not stale, "allow-list entries that are reached or gone:\n" + "\n".join(stale)
