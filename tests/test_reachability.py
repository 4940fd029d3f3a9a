"""Every package module is reached by static imports from a product surface:
the catalog entry, the CLI, the pipeline API, perfbench, bench.py or tools.
Every top-level function, class and UPPER_CASE constant is referenced by name
from reachable code, and every defaulted parameter is set by some caller."""

from __future__ import annotations

import ast
import re
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
    "CUSTOMER_DIM": "dimension contract the seed dims and perfbench's generated dims follow",
    "STORE_DIM": "dimension contract the seed dims and perfbench's generated dims follow",
    "SALES_TEAM_DIM": "dimension contract the seed dims and perfbench's generated dims follow",
}


def _names(node: ast.AST):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name


def _is_query(node: ast.AST) -> bool:
    return any(isinstance(d, ast.Call) and getattr(d.func, "id", "") == "query"
               for d in getattr(node, "decorator_list", []))


def _defined(node: ast.stmt) -> str | None:
    """The name a top-level def, class or UPPER_CASE constant binds."""
    if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
        return node.name
    targets = node.targets if isinstance(node, ast.Assign) else (
        [node.target] if isinstance(node, ast.AnnAssign) else [])
    if len(targets) == 1 and re.fullmatch(r"_?[A-Z][A-Z0-9_]*", getattr(targets[0], "id", "")):
        return targets[0].id
    return None


def test_every_package_function_is_reached_from_a_product_surface():
    defs, roots = {}, [ast.parse((ROOT / s).read_text()) for s in SURFACES]
    for path in (ROOT / PKG).rglob("*.py"):
        reexports = path.name == "__init__.py" and path.relative_to(ROOT).as_posix() not in SURFACES
        for node in ast.parse(path.read_text()).body:
            name = _defined(node)
            if name and not _is_query(node):
                defs.setdefault(name, []).append((path, node))
            elif not (reexports and isinstance(node, ast.ImportFrom)):
                roots.append(node)
    seen, todo = set(), roots + [n for k in KEPT for _, n in defs.get(k, [])]
    while todo:
        for name in set(_names(todo.pop())) - seen:
            seen.add(name)
            todo += [n for _, n in defs.get(name, [])]
    unreached = sorted(f"{p.relative_to(ROOT)}::{k}" for k, v in defs.items()
                       if k not in seen | set(KEPT) for p, _ in v)
    assert not unreached, "unreached:\n" + "\n".join(unreached)


COLUMN_PARAMS = {"col", "src", "dst", "corpus_id", "bench_id"}

# Defaulted parameters that no product caller sets, kept on purpose; some are
# set only by tests.
KEPT_PARAMS = {
    "ngram_jaccard_pairs(persist)": "opt-out of the dedup persist for callers that reuse the pairs once",
    "ngram_jaccard_pairs(max_candidates)": "the candidate budget guard; None lifts it",
    "minhash_lsh_pairs(persist)": "opt-out of the dedup persist for callers that reuse the pairs once",
    "fuzzy_contamination_pairs(persist)": "opt-out of the dedup persist for callers that reuse the pairs once",
    "pagerank(checkpoint_dir)": "reliable checkpoints for long lineage on a cluster",
    "bfs_hops(checkpoint_dir)": "reliable checkpoints for long lineage on a cluster",
    "label_propagation(checkpoint_dir)": "reliable checkpoints for long lineage on a cluster",
    "k_core(checkpoint_dir)": "reliable checkpoints for long lineage on a cluster",
    "pagerank(damping)": "SKEW.json's pagerank6 row stamps a hash of this body; edit it when re-measuring",
    "k_core(max_iter)": "SKEW.json's kcore2 row stamps a hash of this body; edit it when re-measuring",
    "configure_pipeline_logging(level)": "documented API for the pipeline's log level",
    "configure_pipeline_logging(fmt)": "documented API for the pipeline's log format",
    "full_name(alias)": "the output column's name, which the marts and perfbench's checks read",
}


def _calls(paths) -> dict[str, list[ast.Call]]:
    out: dict[str, list[ast.Call]] = {}
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                name = getattr(node.func, "id", getattr(node.func, "attr", None))
                out.setdefault(name, []).append(node)
    return out


def _sets(call: ast.Call, index: int | None, param: str) -> bool:
    return (any(k.arg in (param, None) for k in call.keywords)
            or any(isinstance(a, ast.Starred) for a in call.args)
            or (index is not None and len(call.args) > index))


def _defaulted(fn: ast.FunctionDef):
    """(positional index or None, name) of each parameter with a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    yield from ((i, p.arg) for i, p in enumerate(pos) if i >= len(pos) - len(a.defaults))
    yield from ((None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)


def test_every_defaulted_parameter_is_set_by_some_caller():
    """A default no call overrides is a value nobody chose: make it a constant."""
    pkg = list((ROOT / PKG).rglob("*.py"))
    calls = _calls({*pkg, *(ROOT / s for s in SURFACES), *(ROOT / "tests").glob("*.py")})
    unset = []
    for path in pkg:
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, ast.FunctionDef) or _is_query(fn):
                continue
            for index, param in _defaulted(fn):
                if (param.endswith(("_col", "_cols")) or param in COLUMN_PARAMS
                        or f"{fn.name}({param})" in KEPT_PARAMS):
                    continue
                if not any(_sets(c, index, param) for c in calls.get(fn.name, [])):
                    unset.append(f"{path.relative_to(ROOT)}::{fn.name}({param})")
    assert not unset, "set by no caller:\n" + "\n".join(sorted(unset))
