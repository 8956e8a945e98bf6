"""Page-level extraction stages (T1-T4, V1-V7, C1-C3, Q1-Q6).

Both stages are iterator-of-pandas ``mapInPandas`` UDFs over *pages*,
not documents. That choice is the engine's skew answer: a 1000-page
document is 1000 independent rows of work spread round-robin across the
cluster (the reference burns 15-25 minutes on such a file sequentially,
README.md:327), and no ``groupBy`` happens until after extraction when
per-page results are small.

Output is a uniform "extraction row" relation::

    doc_id, page, table_id, media_ref,
    header: array<string>, rows: array<array<string>>,
    quality: array<string>, rotation_corrected: int, is_table: boolean

with one sentinel row per page (``is_table=false``) so page-level
metrics (pages_parsed, rotation_corrections) survive pages that yield
no table, plus one row per extracted table. A text page's sentinel also
carries the page's source ``media_ref`` and validation numbers, which is
all the merge needs to re-run that page through the vision stage (R2).
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

#: The table payload travels as ONE compact JSON string column
#: (``grid`` = {"h": header, "r": rows}) instead of nested
#: array<string> / array<array<string>> columns: a measured A/B on the
#: doc_id exchange + applyInPandas hop put the nested-array form at
#: ~3x the executor cost of the single string (Arrow/pandas build one
#: Python object per cell for nested arrays; a string column is one
#: buffer). json round-trips str|None cells exactly, and the merge
#: side decodes once per table row.
EXTRACTION_SCHEMA = (
    "doc_id string, page int, table_id int, media_ref string, "
    "grid string, "
    "quality array<string>, rotation_corrected int, is_table boolean, "
    "page_numbers array<string>"
)

_COLS = [
    "doc_id", "page", "table_id", "media_ref",
    "grid", "quality", "rotation_corrected", "is_table",
    "page_numbers",
]


def encode_grid(header: list, rows: list) -> str:
    return json.dumps(
        {"h": header, "r": rows}, ensure_ascii=False, separators=(",", ":")
    )


def decode_grid(grid: str) -> tuple[list, list]:
    d = json.loads(grid)
    return d["h"], d["r"]


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


def _sentinel(
    doc_id: str, page: int, rot: int, page_numbers: list[str], media_ref: str = ""
) -> list:
    return [doc_id, page, 0, media_ref, None, [], rot, False, page_numbers]


def extract_text_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Text-path layout parse per page (table_extraction.py:402-474).

    Quality heuristics run per table here (T4); the document-level
    retry decision is made in the doc-keyed merge. Non-text spans inside a
    text-routed document yield no tables — a scanned page gives
    pdfplumber nothing, matching reference behavior.
    """
    for batch in batches:
        out = []
        for doc_id, page, kind, text, media_ref in zip(
            batch["doc_id"], batch["page"], batch["kind"], batch["text"],
            batch["media_ref"],
        ):
            page = int(page)
            # decode the payload ONCE per page; the word list feeds both
            # the validation text/number pass and the layout parse (the
            # double json.loads was ~18% of this kernel's profile)
            words = _page_words(kind, text)
            out.append(
                _sentinel(
                    doc_id, page, 0, extract_numbers(_page_text(words)), media_ref
                )
            )
            if not words:
                continue
            # list-form kernels: the grid is already str|None cells, so
            # no pandas frame is built on this (the hot) path — see
            # core/layout.prune_grid for the measured rationale.
            for t_idx, (header, rows) in enumerate(
                parse_words_to_grids(words), start=1
            ):
                issues = grid_quality_issues(header, rows)
                out.append(
                    [doc_id, page, t_idx, "", encode_grid(header, rows),
                     issues, 0, True, []]
                )
        yield pd.DataFrame(out, columns=_COLS)


def make_vision_extractor(backend: VisionBackend | None = None):
    """Build the vision-stage ``mapInPandas`` function.

    One ``infer_batch`` call per Arrow batch — the batched-inference
    shape the north star requires (the reference makes one HTTPS call
    per page, table_extraction.py:46; a production backend would fan
    the batch out to an endpoint). Rotation detection + gated
    correction (image_processing.py:140-148,205-215) precedes
    inference; response parsing and cleaning follow
    table_extraction.py:136-182 exactly.
    """
    backend = backend or VisionBackend()

    def extract_vision_pages(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for batch in batches:
            doc_ids = list(batch["doc_id"])
            pages = [int(p) for p in batch["page"]]
            refs = [
                mr if mr else f"img://{d}/{p}"
                for d, p, mr in zip(doc_ids, pages, batch["media_ref"])
            ]
            rotations = []
            for ref in refs:
                pixels, _expected = stub_pixels(ref)
                _img, applied = correct_rotation(pixels)
                rotations.append(1 if applied != 0 else 0)
            responses = backend.infer_batch(refs)
            page_texts = [
                _page_text(_page_words(k, t))
                for k, t in zip(batch["kind"], batch["text"])
            ]

            out = []
            for doc_id, page, ref, rot, csv, ptext in zip(
                doc_ids, pages, refs, rotations, responses, page_texts
            ):
                out.append(_sentinel(doc_id, page, rot, extract_numbers(ptext)))
                # grid fast path first (csv.reader + proven dtype-
                # inference mimicry, tests/test_vision_fastpath.py);
                # content outside its grammar runs the spec pandas
                # ladder, which stays the semantic definition
                grid = parse_vision_grid_fast(csv)
                if grid is VISION_FALLBACK:
                    df = parse_vision_csv(csv)
                    grid = None if df is None else _frame_payload(df)
                if grid is None:
                    continue
                # stringify once, then prune + clean on the grid:
                # _stringify maps exactly the isna set to None, so the
                # list-form prune_grid (rows-then-columns) reproduces
                # dropna(how='all') twice at a fraction of the pandas
                # frame cost; cleaning rules are identity on digit-only
                # strings, so stringify-then-clean matches clean-then-
                # stringify; uncleanable frames pass dirty, mirroring
                # the reference's exception swallow
                header, rows = grid
                pruned = prune_grid([header, *rows])
                if pruned is None:
                    continue
                header, rows = pruned
                if grid_cleanable(header):
                    rows = clean_vision_grid_rows(header, rows)
                if not rows:
                    continue
                out.append(
                    [doc_id, page, 1, ref, encode_grid(header, rows),
                     [], 0, True, []]
                )
            yield pd.DataFrame(out, columns=_COLS)

    return extract_vision_pages
