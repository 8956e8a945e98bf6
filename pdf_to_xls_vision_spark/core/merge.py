"""Continuation-table merge (M1) and table-record model.

Reference contract: ``merge_continuation_tables`` (excel_writer.py:9-113).
A greedy forward scan over page-ordered table records opens a run at
table i and absorbs table j while ALL of:

1. consecutive pages: ``page_j == page_i + (j - i)`` (excel_writer.py:51),
2. same column count (excel_writer.py:52),
3. the continuation's first row has ``Row_Type == 'DETAIL'``
   (excel_writer.py:54-58),
4. at least one non-Row_Type/Category header matches ``Col<digits>`` or
   ``Column<digits>`` (excel_writer.py:60-71).

Merging renames continuation columns to the first page's and
concatenates all rows (excel_writer.py:84-96).

In the engine this runs per document inside the merge ``mapInPandas``
over the doc-keyed repartition (``operators/pipeline.py``): every page
of a document is already co-located there, so the merge adds no extra
exchange (SURVEY.md §4.3 fusion).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class GridRecord:
    """One extracted table: the reference's ``{'dataframe','page','table'}``
    dict (table_extraction.py:184-188) with ``header``/``rows`` of
    ``str | None`` cells in place of the frame, plus engine-side
    provenance. The page stage already carries each page's tables in
    this shape across the Arrow boundary (one row per page, its grids
    as one JSON list), and per-table pandas construction dominated the
    merge stage's profile, so the merge stays on grids
    (``pipeline._merge_doc_arrays`` numbers a page's tables from 1 in
    list order)."""

    header: list
    rows: list
    page: int
    table_id: int
    media_ref: str = ""  # source page's media ref for vision tables


def _grid_starts_with_detail(rec: GridRecord) -> bool:
    if rec.rows and "Row_Type" in rec.header:
        v = rec.rows[0][rec.header.index("Row_Type")]
        return str(v).strip().upper() == "DETAIL"
    return False


def _grid_has_generic_headers(header: list) -> bool:
    for col in (str(c) for c in header):
        if col in ("Row_Type", "Category"):
            continue
        if (col.startswith("Col") and col[3:].isdigit()) or (
            col.startswith("Column") and col[6:].isdigit()
        ):
            return True
    return False


def merge_grid_continuations(tables: list[GridRecord]) -> list[GridRecord]:
    """Greedy forward merge of page-spanning tables (excel_writer.py:28-113):
    the four-condition scan above; "rename continuation columns then
    concat" reduces to concatenating rows under the head's header."""
    if len(tables) <= 1:
        return tables

    merged: list[GridRecord] = []
    i = 0
    while i < len(tables):
        head = tables[i]
        run = [head]
        j = i + 1
        while j < len(tables):
            nxt = tables[j]
            if (
                nxt.page == head.page + (j - i)
                and len(nxt.header) == len(head.header)
                and _grid_starts_with_detail(nxt)
                and _grid_has_generic_headers(nxt.header)
            ):
                run.append(nxt)
                j += 1
            else:
                break

        if len(run) > 1:
            rows = list(run[0].rows)
            for cont in run[1:]:
                rows.extend(cont.rows)
            merged.append(
                GridRecord(
                    header=head.header,
                    rows=rows,
                    page=head.page,
                    table_id=head.table_id,
                    media_ref=head.media_ref,
                )
            )
            i = j
        else:
            merged.append(head)
            i += 1
    return merged

