"""The extraction engine stands alone: no module of the
``pdf_to_xls_vision_spark`` package, nor the driver entry point, imports
the operator zoo; it has one commit protocol, in
``sink/checkpoint.py``; and its grid kernels have no pandas-frame
twins."""

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


def _engine_modules():
    for root, _dirs, files in os.walk(os.path.join(REPO, "pdf_to_xls_vision_spark")):
        yield from (os.path.join(root, f) for f in files if f.endswith(".py"))


def test_engine_does_not_import_operator_zoo():
    paths = [os.path.join(REPO, "__spark_entry__.py"), *_engine_modules()]
    offenders = [
        (os.path.relpath(p, REPO), m)
        for p in paths
        for m in _imported_modules(p)
        if m.split(".")[0] == "operator_zoo"
    ]
    assert offenders == []


def test_only_the_commit_protocol_overwrites_partitions():
    """Every partition-overwriting write goes through
    ``sink/checkpoint.py``, so batch, stream and compaction commits
    cannot fork their own write protocol again."""
    writers = sorted(
        os.path.relpath(p, os.path.join(REPO, "pdf_to_xls_vision_spark"))
        for p in _engine_modules()
        if "partitionOverwriteMode" in open(p, encoding="utf-8").read()
    )
    assert writers == [os.path.join("sink", "checkpoint.py")]


def test_grid_kernels_do_not_import_pandas():
    """Layout, merge, quality and number kernels run on ``(header,
    rows)`` grids only; a pandas import there means a frame twin (a
    second implementation to keep in step) has come back."""
    core = os.path.join(REPO, "pdf_to_xls_vision_spark", "core")
    offenders = [
        (name, m)
        for name in ("layout.py", "merge.py", "quality.py", "numbers.py")
        for m in _imported_modules(os.path.join(core, name))
        if m.split(".")[0] == "pandas"
    ]
    assert offenders == []
