"""Every module-level import in the program files is used by its module.

Walks the `ast` of bento_spark/, jobs/, tools/ and __spark_entry__.py
without importing them. A name counts as used when the module reads it
anywhere (annotations, quoted ones included). Skipped: `__init__.py`
re-exports, names listed in `__all__`, `from __future__` and lines marked
`# noqa: F401`."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _program_files():
    yield os.path.join(ROOT, "__spark_entry__.py")
    for top in ("bento_spark", "jobs", "tools"):
        for base, _, files in os.walk(os.path.join(ROOT, top)):
            for f in sorted(files):
                if f.endswith(".py") and f != "__init__.py":
                    yield os.path.join(base, f)


def _annotations(tree: ast.Module):
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            yield node.returns
            for arg in [*a.posonlyargs, *a.args, *a.kwonlyargs, a.vararg, a.kwarg]:
                yield arg and arg.annotation
        elif isinstance(node, ast.AnnAssign):
            yield node.annotation


def _used_names(tree: ast.Module) -> set[str]:
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    # a quoted annotation ("SparkSession") reads the names it holds
    for ann in filter(None, _annotations(tree)):
        for n in ast.walk(ann):
            if isinstance(n, ast.Constant) and isinstance(n.value, str):
                used.update(m.id for m in ast.walk(ast.parse(n.value, mode="eval"))
                            if isinstance(m, ast.Name))
    return used


def _dunder_all(tree: ast.Module) -> set[str]:
    for node in tree.body:
        if (isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)):
            return {e.value for e in node.value.elts if isinstance(e, ast.Constant)}
    return set()


def unused_imports(path: str) -> list[str]:
    src = open(path, encoding="utf-8").read()
    lines = src.splitlines()
    tree = ast.parse(src)
    used = _used_names(tree) | _dunder_all(tree)
    out = []
    for node in tree.body:
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if "noqa: F401" in lines[node.lineno - 1]:
            continue
        for alias in node.names:
            bound = alias.asname or alias.name.split(".")[0]
            if alias.name != "*" and bound not in used:
                out.append(f"{os.path.relpath(path, ROOT)}:{node.lineno}: {bound}")
    return out


def test_no_module_level_import_is_unused():
    found = [u for path in _program_files() for u in unused_imports(path)]
    assert found == []
