"""Package layering: the query modules sit on top of the operator, source,
sink and streaming layers, so no module below them may import them.  The
command-line front end (``cli.py``, ``__main__.py``) lists and runs queries
and sits above them."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "projeto_de_etl_com_api_do_meta_spark"
FRONT_ENDS = {("cli.py",), ("__main__.py",)}


def _imported_modules(path: pathlib.Path):
    """(line, dotted module path inside the package) of every import."""
    package = path.relative_to(PKG).parts[:-1]
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[: len(package) - (node.level - 1)]
                target = base + tuple(node.module.split(".") if node.module else ())
            elif node.module and node.module.startswith(PKG.name):
                target = tuple(node.module.split(".")[1:])
            else:
                continue
            if target:
                yield node.lineno, target
            else:  # `from .. import x`: each name is a module of the package
                for alias in node.names:
                    yield node.lineno, (alias.name,)
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(PKG.name + "."):
                    yield node.lineno, tuple(alias.name.split(".")[1:])


def test_no_module_below_the_query_layer_imports_it():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).parts
        if rel[0] == "queries" or rel in FRONT_ENDS:
            continue
        offenders += [
            f"{'/'.join(rel)}:{line} imports {'.'.join(target)}"
            for line, target in _imported_modules(path)
            if target[0] == "queries"
        ]
    assert not offenders, offenders
