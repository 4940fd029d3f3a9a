"""Every package module is reached by static imports from a product surface:
the catalog entry, the CLI, the pipeline API, perfbench, bench.py or tools."""

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
