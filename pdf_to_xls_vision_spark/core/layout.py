"""Text-path layout parsing: word boxes -> table grid (T1-T3).

The reference extracts tables from text PDFs with pdfplumber's
text-based strategy (table_extraction.py:402-474; settings at :424-432:
``vertical_strategy="text", horizontal_strategy="text",
snap_tolerance=3, join_tolerance=3, edge_min_length=3,
min_words_vertical=3, min_words_horizontal=1``). pdfplumber is not
available in this environment, so the algorithm is rebuilt from those
documented settings over span-encoded word boxes (FIXTURES.md §2):

1. **Row banding** — words sorted by (top, x0, text); a new row band
   starts when a word's ``top`` is more than ``SNAP_TOLERANCE`` below
   the band's anchor (the band's first ``top``).
2. **Column detection** — word left edges (``x0``) greedily clustered
   with the same tolerance; a cluster is a real column seam only if at
   least ``MIN_WORDS_VERTICAL`` (3) words align on it. This is what
   excludes free-flowing prose from the grid.
3. **Cell assembly** — each word joins the column whose anchor is
   within tolerance of its ``x0``; unaligned words are dropped; words
   sharing a (row, column) cell are joined left-to-right with spaces
   (``join_tolerance`` analogue). Rows with no aligned word are
   dropped.
4. **Header promotion + null pruning** — first grid row becomes the
   header, then all-null rows and all-null columns are pruned
   (table_extraction.py:438-439).

Everything is integer/lexicographic-deterministic: stable sorts with
explicit tie-breaks, greedy anchor clustering — no float accumulation,
so the distributed run and the sequential oracle agree bit-for-bit.
"""

from __future__ import annotations

from bisect import bisect_right

SNAP_TOLERANCE = 3.0
MIN_WORDS_VERTICAL = 3
MIN_TABLE_ROWS = 2  # header + at least one data row


def parse_page_words(words: list[dict]) -> list[list[list[str | None]]]:
    """Parse one page's word boxes into raw tables.

    Returns a list of tables, each ``list[list[str|None]]`` with the
    first row being the header (pdfplumber ``extract_tables`` shape,
    consumed at table_extraction.py:435-438). At most one table per
    page is emitted — the synthetic corpus lays out one grid per page,
    matching the reference prompt's "extract the largest/main table".

    Fused hot path (the most-executed kernel in the engine — once per
    text page): one tuple sort replaces the dict-key sorts, banding and
    cell assembly run in the same sweep, and column lookup is a bisect
    over the ascending anchors instead of a linear scan. The steps are
    the module docstring's 1-3, as the sequential oracle
    (``tests/oracle._parse_words``, compared in
    tests/test_grid_kernels.py) runs them one after another:
    consecutive surviving anchors differ by more than SNAP_TOLERANCE
    (the greedy cluster rule), so at most the two anchors flanking
    ``x0`` can match, and the lower index — the oracle's first match —
    is checked first.
    """
    if not words:
        return []
    # (top, x0, text) tuples sort in C with the exact spec tie-breaks
    tw = sorted((w["top"], w["x0"], w["t"]) for w in words)

    # column anchors: greedy cluster over ascending x0, keep >= 3 aligned
    xs = sorted(t[1] for t in tw)
    anchors: list[float] = []
    counts: list[int] = []
    cur = None
    for x in xs:
        if cur is None or x - cur > SNAP_TOLERANCE:
            anchors.append(x)
            counts.append(1)
            cur = x
        else:
            counts[-1] += 1
    anchors = [a for a, c in zip(anchors, counts) if c >= MIN_WORDS_VERTICAL]
    if not anchors:
        return []
    n_anchors = len(anchors)

    rows: list[list[str | None]] = []
    band_anchor: float | None = None
    cells: list[list[str]] | None = None
    any_aligned = False
    for top, x0, text in tw:
        if band_anchor is None or top - band_anchor > SNAP_TOLERANCE:
            if any_aligned:
                rows.append([" ".join(c) if c else None for c in cells])
            band_anchor = top
            cells = [[] for _ in range(n_anchors)]
            any_aligned = False
        i = bisect_right(anchors, x0)
        if i and x0 - anchors[i - 1] <= SNAP_TOLERANCE:
            cells[i - 1].append(text)
            any_aligned = True
        elif i < n_anchors and anchors[i] - x0 <= SNAP_TOLERANCE:
            cells[i].append(text)
            any_aligned = True
    if any_aligned:
        rows.append([" ".join(c) if c else None for c in cells])

    if len(rows) < MIN_TABLE_ROWS:
        return []
    return [rows]


def prune_grid(
    table: list[list[str | None]],
) -> tuple[list[str | None], list[list[str | None]]] | None:
    """Header promotion + all-null row/column pruning over plain lists
    (table_extraction.py:438-439: first row -> header, then
    ``dropna(how='all')`` on rows, then on columns over the remaining
    rows). Both extraction UDFs call it: the text path on parsed grids,
    the vision path on stringified CSV grids. No pandas DataFrame is
    built: on the text path's millions of small tables, frame
    construction + reductions were 95% of CPU (3-12-cell frames).
    """
    if not table:
        return None
    header, data = table[0], table[1:]
    rows = [r for r in data if r.count(None) != len(r)]
    if not rows:
        return None
    keep = [j for j in range(len(header)) if any(r[j] is not None for r in rows)]
    if not keep:
        return None
    if len(keep) == len(header):
        return header, rows
    return (
        [header[j] for j in keep],
        [[r[j] for j in keep] for r in rows],
    )


def parse_words_to_grids(
    words: list[dict],
) -> list[tuple[list[str | None], list[list[str | None]]]]:
    """Parse already-decoded word boxes to pruned (header, rows) grids
    — lets the extraction UDF decode each page's JSON payload exactly
    once and share the words with the page-text/number pass."""
    grids = []
    for table in parse_page_words(words):
        g = prune_grid(table)
        if g is not None:
            grids.append(g)
    return grids
