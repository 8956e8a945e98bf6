"""Span serialization (W1 semantics) + rollup/notes analysis (A1/A3).

The reference's sink writes one Excel sheet per table record in list
order, cells row-major with the header first (excel_writer.py:305-371,
write loop :352-354), then a trailing Notes sheet collecting HEADER-row
notes (:358-366). Per the north rule this becomes an ordered span
sequence per document (FIXTURES.md §4):

    table_start  "{page}:{table_id}:{n_rows}x{n_cols}"   media_ref of source page ('' for text)
    header_cell  column name, left->right                same media_ref
    cell         cell value, row-major                   same media_ref
    table_end    ''                                      same media_ref
    note         note text (HEADER-row Notes col)        ''

``order`` is a running 0-based counter per document.
"""

from __future__ import annotations

ROLLUP_FALLBACK_MARKERS = (
    "total", "gross", "effective", "net operating income", "noi",
)  # excel_writer.py:125


def grid_rollup_rows(header: list, rows: list) -> int:
    """A1 (excel_writer.py:116-156): ``Row_Type == 'ROLLUP'`` rows, or —
    when no Row_Type column exists — rows whose first-column value
    contains a rollup marker. Used as a per-partition metric only (the
    reference just logs the count, excel_writer.py:329-331). Cells are
    ``str | None``, so the reference's ``pd.notna`` is ``is not None``."""
    if not rows or not header:
        return 0
    if "Row_Type" in header:
        j = header.index("Row_Type")
        return sum(
            1
            for r in rows
            if r[j] is not None and str(r[j]).strip().upper() == "ROLLUP"
        )
    return sum(
        1
        for r in rows
        if r[0] is not None
        and any(m in str(r[0]).lower().strip() for m in ROLLUP_FALLBACK_MARKERS)
    )


def grid_notes(header: list, rows: list) -> list[str]:
    """A3 (excel_writer.py:237-259): Notes-column values on HEADER rows."""
    if "Notes" not in header or "Row_Type" not in header:
        return []
    jn, jr = header.index("Notes"), header.index("Row_Type")
    return [
        r[jn]
        for r in rows
        if r[jn] is not None
        and r[jr] is not None
        and str(r[jr]).strip().upper() == "HEADER"
    ]


def serialize_grid_spans(tables) -> list[dict]:
    """Emit the document's ordered output span sequence (FIXTURES.md §4)
    over ``GridRecord`` values: per table its start, header cells,
    row-major cells and end, then the trailing notes.

    Grid cells are ``str | None`` (the :func:`encode_tables` contract);
    a null cell renders as ``''``, as the Excel writer emits an empty
    cell for NaN, and the test oracle's ``_txt`` does the same.

    Hot path: one dict literal per span built in extend() generators,
    with the global ``order`` counter assigned in a single enumerate
    pass — the per-span closure this replaces was the largest single
    cost in the merge-stage kernel profile (~16% of merge CPU at 600k
    spans/2k docs)."""
    spans: list[dict] = []
    append = spans.append
    extend = spans.extend
    all_notes: list[str] = []
    for rec in tables:
        ref = rec.media_ref or ""
        header, rows = rec.header, rec.rows
        all_notes.extend(grid_notes(header, rows))
        append(
            {
                "kind": "table_start",
                "text": f"{rec.page}:{rec.table_id}:{len(rows)}x{len(header)}",
                "media_ref": ref,
                "order": 0,
            }
        )
        extend(
            {
                "kind": "header_cell",
                "text": "" if c is None else c,
                "media_ref": ref,
                "order": 0,
            }
            for c in header
        )
        extend(
            {
                "kind": "cell",
                "text": "" if v is None else v,
                "media_ref": ref,
                "order": 0,
            }
            for row in rows
            for v in row
        )
        append({"kind": "table_end", "text": "", "media_ref": ref, "order": 0})

    extend(
        {"kind": "note", "text": n, "media_ref": "", "order": 0}
        for n in all_notes
    )
    for i, s in enumerate(spans):
        s["order"] = i
    return spans

