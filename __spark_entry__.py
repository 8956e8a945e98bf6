"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline (classify ->
page-level mapInPandas extraction -> retry -> merge+serialize) on the
deterministic interleaved-span corpus and returns the exploded span
relation. ``queries()`` exposes the 15 SURVEY.md §2 stage queries
(routing, quality heuristics, validation, the M1 window, rollup scan,
sheet naming and the extraction pipeline itself); ``oracle_sql()``
carries their DuckDB equivalents (names and aliases match
column-for-column).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction of the deterministic span corpus,
    returned as exploded (doc_id, kind, text, media_ref, ord) rows.

    The extraction pipeline's input is the north-rule span-document
    shape (BASELINE.json input_hint: ``doc_id, spans array<struct<
    kind,text,media_ref,offset>>``), which the driver's TPC-H-ish
    tables do not carry — per the brief it is synthesised
    deterministically (corpus.py, seed 42) rather than read from
    sf0.001. The sf-dir-driven queries live in ``queries()``, each
    with a DuckDB oracle (``QUERIES`` and ``ORACLES`` share their
    keys).
    """
    from pdf_to_xls_vision_spark.plans.queries import q_extraction_spans

    return q_extraction_spans(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from pdf_to_xls_vision_spark.plans.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from pdf_to_xls_vision_spark.plans.queries import ORACLES

    return dict(ORACLES)
