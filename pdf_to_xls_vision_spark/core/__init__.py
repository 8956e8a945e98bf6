"""Per-page and per-document kernels.

These functions run *inside* the engine's ``mapInPandas`` UDFs (one
Arrow batch of pages, or one doc-keyed partition of documents, at a
time) over ``(header, rows)`` grids of ``str | None`` cells, one
implementation per kernel. A pandas frame is built only for a vision
response that falls back to the ``read_csv`` ladder. They carry the
reference's documented cell-level semantics (cited per function) and
import no Spark, so they are unit-testable standalone.
``tests/oracle.py`` re-implements them independently and shares only
the vision stub.
"""
