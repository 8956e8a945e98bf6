"""Document classification / routing — one column expression (S2, S4, R1).

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

#: Extraction dispatch (converter.py:78-114): image docs (every span an
#: image — the reference's "image file" input class, converter.py:17-27
#: via extension; here via content) and image-based PDFs
#: (``pdf_is_image_based``, pdf_detection.py:27-49: an embedded image
#: among the first 3 pages — this, not ``pdf_has_text``, is the routing
#: predicate, converter.py:94) go to the vision stage; everything else
#: to the text-layout parser (with a later quality-retry hop, R2). One
#: SQL string, so building it is one JVM round trip.
_ROUTE_SQL = (
    "CASE WHEN forall(spans, s -> s.kind = 'image') "
    f"OR exists(slice(spans, 1, {PROBE_PAGES}), s -> s.kind = 'image') "
    "THEN 'vision' ELSE 'text' END"
)


def route_expr(force_vision: bool = False) -> Column:
    """A document's route, ``'vision'`` or ``'text'``, from its
    ``spans``; every document is ``'vision'`` under ``force_vision``."""
    return F.lit("vision") if force_vision else F.expr(_ROUTE_SQL)
