"""Layering: the query plans (``plans/``) sit on top of the engine
(operators, sources, streaming, ...), so no engine module may import
from ``plans`` — shared helpers live in the engine and plans import them."""

import ast
import os

PKG = "bbc_news_data_pipeline_spark"
ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), PKG)
PLANS = f"{PKG}.plans"


def _imported_modules(path, module):
    """Absolute names of every module (or module.member) imported by the
    source file at ``path``, whose own dotted name is ``module``."""
    tree = ast.parse(open(path).read(), path)
    package = module if path.endswith("__init__.py") else module.rpartition(".")[0]
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = package
            for _ in range(node.level - 1):
                base = base.rpartition(".")[0]
            if node.level:
                base = f"{base}.{node.module}" if node.module else base
            else:
                base = node.module
            yield base
            yield from (f"{base}.{a.name}" for a in node.names)


def test_engine_modules_do_not_import_plans():
    offenders = []
    for dirpath, _dirs, files in os.walk(ROOT):
        rel = os.path.relpath(dirpath, ROOT)
        if rel.split(os.sep)[0] in ("plans", "__pycache__"):
            continue
        for f in files:
            if not f.endswith(".py"):
                continue
            parts = [PKG] + ([] if rel == "." else rel.split(os.sep))
            if f != "__init__.py":
                parts.append(f[:-3])
            path = os.path.join(dirpath, f)
            for name in _imported_modules(path, ".".join(parts)):
                if name == PLANS or name.startswith(PLANS + "."):
                    offenders.append(f"{os.path.relpath(path, ROOT)}: {name}")
    assert not offenders, offenders
