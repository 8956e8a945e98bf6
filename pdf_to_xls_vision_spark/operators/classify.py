"""Document classification / routing — pure column expressions (S2, S4, R1).

The reference's routing predicates probe only the first 3 pages
(pdf_detection.py:18,38 — a LIMIT-3 sampling pushdown); here they are
higher-order array functions over the nested ``spans`` column, so
Catalyst evaluates them JVM-side during the scan projection — no UDF,
no shuffle, and column pruning still reaches the parquet reader.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: pdf_detection.py:18,38 — both probes look at the first 3 pages only.
PROBE_PAGES = 3


def all_image_expr(spans: str = "spans") -> Column:
    """True when every span is an image — the reference's "image file"
    input class (converter.py:17-27 via extension; here via content)."""
    return F.forall(F.col(spans), lambda s: s["kind"] == F.lit("image"))


def is_image_based_expr(spans: str = "spans") -> Column:
    """``pdf_is_image_based`` (pdf_detection.py:27-49): any embedded
    image among the first 3 pages. This — not ``pdf_has_text`` — is the
    routing predicate (converter.py:94)."""
    return F.exists(
        F.slice(F.col(spans), 1, PROBE_PAGES),
        lambda s: s["kind"] == F.lit("image"),
    )


def route_expr(force_vision: bool = False, spans: str = "spans") -> Column:
    """Extraction dispatch (converter.py:78-114): image docs and
    image-based PDFs go to the vision stage; everything else to the
    text-layout parser (with a later quality-retry hop, R2)."""
    vision = all_image_expr(spans) | is_image_based_expr(spans)
    if force_vision:
        vision = vision | F.lit(True)
    return F.when(vision, F.lit("vision")).otherwise(F.lit("text"))
