"""The extraction engine stands alone: no module of the
``pdf_to_xls_vision_spark`` package, nor the driver entry point, imports
the operator zoo."""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _imported_modules(path):
    tree = ast.parse(open(path, encoding="utf-8").read(), filename=path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            yield node.module


def test_engine_does_not_import_operator_zoo():
    paths = [os.path.join(REPO, "__spark_entry__.py")]
    for root, _dirs, files in os.walk(os.path.join(REPO, "pdf_to_xls_vision_spark")):
        paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    offenders = [
        (os.path.relpath(p, REPO), m)
        for p in paths
        for m in _imported_modules(p)
        if m.split(".")[0] == "operator_zoo"
    ]
    assert offenders == []
