"""Page-level extraction stages (T1-T4, V1-V7, C1-C3, Q1-Q6).

Both stages are iterator-of-pandas ``mapInPandas`` UDFs over *pages*,
not documents. That choice is the engine's skew answer: a 1000-page
document is 1000 independent rows of work spread round-robin across the
cluster (the reference burns 15-25 minutes on such a file sequentially,
README.md:327), and no ``groupBy`` happens until after extraction when
per-page results are small.

Both emit the page relation ``PAGE_SCHEMA``, exactly one row per input
page::

    doc_id, page, media_ref, tables: string, has_issue: boolean,
    rotation_corrected: int, page_numbers: array<string>, is_vision: boolean

``tables`` holds the page's ``(header, rows)`` grids in table order
(``encode_tables``; ``[]`` for a page with none), so a table's number is
its 1-based place in that list. ``has_issue`` is true when any of a
text page's tables has a quality issue, the one bit the R2 decision
reads. A vision row carries the ref it was inferred from; a text row
carries the page's source ``media_ref`` and validation numbers, which
is all the merge needs to re-run that page through the vision stage
(R2).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

import json

from pdf_to_xls_vision_spark.core.cleaning import (
    clean_vision_grid_rows,
    grid_cleanable,
)
from pdf_to_xls_vision_spark.core.layout import parse_words_to_grids, prune_grid
from pdf_to_xls_vision_spark.core.numbers import extract_numbers
from pdf_to_xls_vision_spark.core.quality import grid_quality_issues
from pdf_to_xls_vision_spark.core.vision import (
    VisionBackend,
    correct_rotation,
    parse_vision_csv,
    parse_vision_grid_fast,
    VISION_FALLBACK,
    stub_pixels,
)

#: The tables travel as ONE compact JSON string column instead of
#: nested array<string> / array<array<string>> columns: a measured A/B
#: on the doc_id exchange + applyInPandas hop put the nested-array form
#: at ~3x the executor cost of the single string (Arrow/pandas build one
#: Python object per cell for nested arrays; a string column is one
#: buffer). json round-trips str|None cells exactly, and the merge side
#: decodes once per page.
PAGE_SCHEMA = (
    "doc_id string, page int, media_ref string, tables string, "
    "has_issue boolean, rotation_corrected int, "
    "page_numbers array<string>, is_vision boolean"
)

PAGE_COLS = [col.split()[0] for col in PAGE_SCHEMA.split(", ")]


def encode_tables(grids: list) -> str:
    """A page's ``(header, rows)`` grids, in table order, as one JSON list."""
    return json.dumps(grids, ensure_ascii=False, separators=(",", ":"))


def decode_tables(tables: str) -> list:
    return json.loads(tables)


def _stringify(v) -> str | None:
    """Null-preserving cell textualization: None stays None (so NaN
    semantics — notna checks in merge/notes — survive the Arrow hop),
    everything else becomes ``str(v)``. The str fast path first: most
    cells are strings and a str is never NA."""
    if isinstance(v, str):
        return v
    if v is None or (isinstance(v, float) and v != v):
        return None
    if pd.isna(v):
        return None
    return str(v)


def _frame_payload(df: pd.DataFrame) -> tuple[list, list]:
    # to_numpy(object).tolist() is one consolidated C conversion;
    # itertuples slices every column via .iloc per frame, which on the
    # thousands of tiny read_csv frames of a vision batch was ~17% of
    # the kernel profile. Row order and cell values are identical.
    header = [_stringify(c) for c in df.columns]
    rows = [
        [_stringify(v) for v in row]
        for row in df.to_numpy(dtype=object).tolist()
    ]
    return header, rows


def _page_words(kind: str, text: str) -> list:
    """Decode a text span's JSON payload (FIXTURES.md §2,
    ``{"page": int, "words": [{"t","x0","x1","top","bottom"}]}``) to
    its word boxes. Image pages have no text layer, and a malformed
    payload yields no words (per-page fault isolation,
    converter.py:233-255)."""
    if kind != "text" or not text:
        return []
    try:
        return json.loads(text).get("words", [])
    except Exception:
        return []


def _page_text(words: list) -> str:
    """Source text of a page for validation (X2): the word tokens in
    payload order — the analog of pdfplumber ``page.extract_text()``
    (validation.py:50-54)."""
    return " ".join(w.get("t", "") for w in words)


def extract_text_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Text-path layout parse per page (table_extraction.py:402-474).

    Quality heuristics run per table here (T4) and reduce to the page's
    ``has_issue`` bit; the document-level retry decision is made in the
    doc-keyed merge. Non-text spans inside a text-routed document yield
    no tables — a scanned page gives pdfplumber nothing, matching
    reference behavior.
    """
    for batch in batches:
        out = []
        for doc_id, page, kind, text, media_ref in zip(
            batch["doc_id"], batch["page"], batch["kind"], batch["text"],
            batch["media_ref"],
        ):
            # decode the payload ONCE per page; the word list feeds both
            # the validation text/number pass and the layout parse (the
            # double json.loads was ~18% of this kernel's profile).
            # list-form kernels: the grid is already str|None cells, so
            # no pandas frame is built on this (the hot) path — see
            # core/layout.prune_grid for the measured rationale.
            words = _page_words(kind, text)
            grids = parse_words_to_grids(words) if words else []
            out.append([
                doc_id, int(page), media_ref, encode_tables(grids),
                any(grid_quality_issues(h, r) for h, r in grids), 0,
                extract_numbers(_page_text(words)), False,
            ])
        yield pd.DataFrame(out, columns=PAGE_COLS)


def _vision_grid(csv: str) -> tuple[list, list] | None:
    """One vision response to the page's cleaned grid, or ``None`` when
    it holds no table.

    Grid fast path first (csv.reader + proven dtype-inference mimicry,
    tests/test_vision_fastpath.py); content outside its grammar runs
    the spec pandas ladder, which stays the semantic definition.
    Stringify once, then prune + clean on the grid: _stringify maps
    exactly the isna set to None, so the list-form prune_grid
    (rows-then-columns) reproduces dropna(how='all') twice at a
    fraction of the pandas frame cost; cleaning rules are identity on
    digit-only strings, so stringify-then-clean matches clean-then-
    stringify; uncleanable frames pass dirty, mirroring the reference's
    exception swallow."""
    grid = parse_vision_grid_fast(csv)
    if grid is VISION_FALLBACK:
        df = parse_vision_csv(csv)
        grid = None if df is None else _frame_payload(df)
    if grid is None:
        return None
    header, rows = grid
    pruned = prune_grid([header, *rows])
    if pruned is None:
        return None
    header, rows = pruned
    if grid_cleanable(header):
        rows = clean_vision_grid_rows(header, rows)
    return (header, rows) if rows else None


def make_vision_extractor(backend: VisionBackend | None = None):
    """Build the vision-stage ``mapInPandas`` function.

    One ``infer_batch`` call per Arrow batch — the batched-inference
    shape the north star requires (the reference makes one HTTPS call
    per page, table_extraction.py:46; a production backend would fan
    the batch out to an endpoint). Rotation detection + gated
    correction (image_processing.py:140-148,205-215) precedes
    inference; response parsing and cleaning follow
    table_extraction.py:136-182 exactly. Rows come out in input order,
    one per page.
    """
    backend = backend or VisionBackend()

    def extract_vision_pages(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for batch in batches:
            refs = [
                mr if mr else f"img://{d}/{p}"
                for d, p, mr in zip(batch["doc_id"], batch["page"], batch["media_ref"])
            ]
            rotations = [
                int(correct_rotation(stub_pixels(ref)[0])[1] != 0) for ref in refs
            ]
            responses = backend.infer_batch(refs)
            out = []
            for doc_id, page, ref, rot, csv, kind, text in zip(
                batch["doc_id"], batch["page"], refs, rotations, responses,
                batch["kind"], batch["text"],
            ):
                grid = _vision_grid(csv)
                out.append([
                    doc_id, int(page), ref,
                    encode_tables([] if grid is None else [grid]), False, rot,
                    extract_numbers(_page_text(_page_words(kind, text))), True,
                ])
            yield pd.DataFrame(out, columns=PAGE_COLS)

    return extract_vision_pages
