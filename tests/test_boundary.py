"""The extraction engine stands alone: no module of the
``pdf_to_xls_vision_spark`` package, nor the driver entry point, imports
the operator zoo; it has one commit protocol, in
``sink/checkpoint.py``, which alone reaches the output's filesystem; and its grid kernels have no pandas-frame
twins. Its tools measure through one instrument: only ``perfbench/``
talks to Spark's REST API, and ``bench.py`` and ``scripts/`` import
only public engine and perfbench names."""

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


def _py_files(top):
    for root, _dirs, files in os.walk(os.path.join(REPO, top)):
        yield from (os.path.join(root, f) for f in files if f.endswith(".py"))


def _engine_modules():
    yield from _py_files("pdf_to_xls_vision_spark")


def _tools():
    yield os.path.join(REPO, "bench.py")
    yield from _py_files("scripts")


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


def test_only_the_commit_protocol_reaches_the_output_filesystem():
    """Every wipe, existence probe and listing of the output goes
    through ``sink/checkpoint.py``'s one Hadoop FileSystem lookup, so it
    sees the filesystem Spark writes to (HDFS, S3A, a ``file://`` URI),
    never the driver's local disk by assumption."""
    engine = os.path.join(REPO, "pdf_to_xls_vision_spark")
    callers = sorted(
        os.path.relpath(p, engine)
        for p in _engine_modules()
        if "getFileSystem" in open(p, encoding="utf-8").read()
    )
    assert callers == [os.path.join("sink", "checkpoint.py")]
    local_disk = [
        os.path.relpath(p, engine)
        for p in _engine_modules()
        if "shutil" in (m.split(".")[0] for m in _imported_modules(p))
    ]
    assert local_disk == []


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


def test_one_spark_rest_client():
    """Spark's REST API is read through ``perfbench/sparkstats.Rest``
    only, not through URLs rebuilt in each tool."""
    # split so that a text search for the route does not match this file
    route = "api/v1/" + "applications"
    offenders = sorted(
        os.path.relpath(p, REPO)
        for p in [*_tools(), *_engine_modules()]
        if route in open(p, encoding="utf-8").read()
    )
    assert offenders == []
    assert route in open(
        os.path.join(REPO, "perfbench", "sparkstats.py"), encoding="utf-8"
    ).read()


def _module_names(module):
    """Top-level names a repo module defines (its functions, classes,
    assignments and imports), plus its submodules if it is a package."""
    base = os.path.join(REPO, *module.split("."))
    if os.path.isdir(base):
        path = os.path.join(base, "__init__.py")
        names = {
            f[:-3] if f.endswith(".py") else f
            for f in os.listdir(base)
            if f.endswith(".py") or os.path.isdir(os.path.join(base, f))
        }
    else:
        path, names = base + ".py", set()
    tree = ast.parse(open(path, encoding="utf-8").read(), filename=path)
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(
                n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)
            )
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
    return names


def test_tools_import_public_names():
    """``bench.py`` and the scripts use the engine and perfbench through
    names that exist and are public, never a private helper that can
    change under them."""
    offenders = []
    for path in _tools():
        tree = ast.parse(open(path, encoding="utf-8").read(), filename=path)
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.ImportFrom)
                and node.module
                and node.module.split(".")[0]
                in ("pdf_to_xls_vision_spark", "perfbench")
            ):
                continue
            defined = _module_names(node.module)
            offenders.extend(
                (os.path.relpath(path, REPO), node.module, a.name)
                for a in node.names
                if a.name.startswith("_") or a.name not in defined
            )
    assert offenders == []
