"""Every package module is reached by static imports from a product surface:
the catalog entry, the CLI, the pipeline API, perfbench, bench.py or tools.
Every top-level function and class is referenced by name from reachable code."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "sales_data_pipeline_spark"
SURFACES = ["__spark_entry__.py", f"{PKG}/__main__.py", f"{PKG}/pipeline/__init__.py",
            "bench.py", "tools/scaling.py", "tools/skew.py",
            *(p.relative_to(ROOT).as_posix() for p in (ROOT / "perfbench").glob("*.py"))]


def _resolve(name: str) -> list[Path]:
    # importing a.b.c runs a/__init__.py and a/b/__init__.py before a/b/c.py
    base, out = ROOT, []
    for part in name.split("."):
        base = base / part
        out += [f for f in (base / "__init__.py", base.with_suffix(".py")) if f.is_file()]
    return out


def _imports(path: Path) -> list[str]:
    mod = path.relative_to(ROOT).with_suffix("").parts
    pkg = mod if path.name == "__init__.py" else mod[:-1]
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            out += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            parts = list(pkg[: len(pkg) - node.level + 1]) if node.level else []
            src = ".".join(parts + ([node.module] if node.module else []))
            out += [src] + [f"{src}.{a.name}" for a in node.names]
    return out


def test_every_package_module_is_reached_from_a_product_surface():
    seen, todo = set(), [ROOT / s for s in SURFACES]
    while todo:
        path = todo.pop()
        if path not in seen:
            seen.add(path)
            todo += [f for name in _imports(path) for f in _resolve(name)]
    unreached = sorted(str(p.relative_to(ROOT)) for p in (ROOT / PKG).rglob("*.py")
                       if p not in seen)
    assert not unreached, "unreached:\n" + "\n".join(unreached)


# Reached only from tests, and kept on purpose.
KEPT = {
    "zorder_key": "reference the q254 interleave is tested against",
    "_attribution_keyonly": "key-only twin the attribution tests compare against",
    "_repeat_purchases_keyonly": "key-only twin the repeat-purchase tests compare against",
    "embedding_neardup_pairs": "exact oracle q52's LSH recall is measured against",
    "debounce_batch": "pandas reference q286's debounce_codegen is tested against",
    "_fold": "the fold debounce_batch runs, property-tested on its own",
    "release_caches": "documented API that frees the dedup persists",
    "load_tables": "documented API that registers the catalog's tables",
    "configure_pipeline_logging": "documented API for the pipeline's log format",
}


def _names(node: ast.AST):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name


def test_every_package_function_is_reached_from_a_product_surface():
    defs, roots = {}, [ast.parse((ROOT / s).read_text()) for s in SURFACES]
    for path in (ROOT / PKG).rglob("*.py"):
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)) or any(
                    isinstance(d, ast.Call) and getattr(d.func, "id", "") == "query"
                    for d in node.decorator_list):
                roots.append(node)
            else:
                defs.setdefault(node.name, []).append((path, node))
    seen, todo = set(), roots + [n for k in KEPT for _, n in defs.get(k, [])]
    while todo:
        for name in set(_names(todo.pop())) - seen:
            seen.add(name)
            todo += [n for _, n in defs.get(name, [])]
    unreached = sorted(f"{p.relative_to(ROOT)}::{k}" for k, v in defs.items()
                       if k not in seen | set(KEPT) for p, _ in v)
    assert not unreached, "unreached:\n" + "\n".join(unreached)
