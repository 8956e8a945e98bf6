"""Deterministic synthetic corpus generator (FIXTURES.md §1-3).

Produces the north-rule input table
``(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)``:
one span per page; ``kind='text'`` spans carry a JSON page payload of
pdfplumber-style word boxes (FIXTURES.md §2), ``kind='image'`` spans
carry ``media_ref='img://{doc_id}/{page}'`` resolved by the
deterministic vision stub (core/vision.py).

Everything is seeded (numpy ``default_rng([seed, doc_index])``) — no
wall clock, no network — so the Spark pipeline, the sequential oracle,
and re-runs on any cluster size see byte-identical input. Page-count
skew mirrors the 1000-page-vs-1-pager problem the north rule targets.

Pinned edge-case documents (always present) exercise every behavioral
branch of the reference: the four continuation-merge conditions
(excel_writer.py:51-73) individually toggled, each quality trap Q1-Q6
(quality_check.py:46-125), the zero-table path (converter.py:134-136),
the cascading-parentheses cleaner (data_cleaning.py:79-81), rotation
detection + its confidence gate (image_processing.py:141,206), and the
HEADER-row Notes collection (excel_writer.py:237-259).
"""

from __future__ import annotations

import json

import numpy as np

from pdf_to_xls_vision_spark.core.vision import stub_csv, stub_pixels

SEED = 42

# layout grid constants (FIXTURES.md §2): rows >=10pt apart vs snap
# tolerance 3; columns >=25pt apart; +-1pt jitter keeps banding honest.
_ROW_PITCH = 14.0
_COL_PITCH = 85.0
_X0 = 36.0
_Y0 = 72.0

_CATS = [
    "GrossRental", "Parking", "UtilityReimb", "LateFees", "Salaries",
    "Electricity", "Water", "Insurance", "Repairs", "Landscaping",
    "Admin", "Marketing",
]
_HDRS = ["REVENUES", "EXPENSES", "OPERATING"]
_ROLLS = ["TotalRevenues", "TotalExpenses", "NOI"]
_PROSE = [
    "prepared", "statement", "unaudited", "fiscal", "report", "schedule",
    "property", "management", "summary", "period", "ending", "annual",
]


def _word(t: str, x0: float, top: float) -> dict:
    return {
        "t": t,
        "x0": round(x0, 2),
        "x1": round(x0 + 6.0 * max(len(t), 1), 2),
        "top": round(top, 2),
        "bottom": round(top + 9.0, 2),
    }


def _jit(rng: np.random.Generator) -> float:
    return float(rng.uniform(-1.0, 1.0))


def _num_token(rng: np.random.Generator) -> str:
    n = int(rng.integers(1, 999_999))
    s = f"{n:,}"
    if rng.random() < 0.2:
        s = f"({s})"
    return s


def _table_words(
    rng: np.random.Generator,
    header: list[str],
    rows: list[list[str | None]],
) -> list[dict]:
    """Lay a grid of single-token cells onto the synthetic page."""
    words: list[dict] = []
    for j, h in enumerate(header):
        words.append(_word(h, _X0 + j * _COL_PITCH + _jit(rng), _Y0 + _jit(rng)))
    for i, row in enumerate(rows):
        top = _Y0 + (i + 1) * _ROW_PITCH + _jit(rng)
        for j, cell in enumerate(row):
            if cell is not None:
                words.append(_word(cell, _X0 + j * _COL_PITCH + _jit(rng), top))
    return words


def _prose_words(rng: np.random.Generator, n: int, y_start: float) -> list[dict]:
    """Free-flowing words to the right of / below the grid: x positions
    are uniform (so no 3-word column seam forms) and the min-words
    threshold drops them from the table (table_extraction.py:430-431)."""
    words = []
    for i in range(n):
        t = str(rng.choice(_PROSE))
        x = float(rng.uniform(460.0, 560.0))
        words.append(_word(t, x, y_start + i * 11.0 + _jit(rng)))
    return words


def _std_header(rng: np.random.Generator, n_num_cols: int) -> list[str]:
    return ["Row_Type", "Category"] + [str(2024 - j) for j in range(n_num_cols)]


def _cont_header(n_num_cols: int, style: str = "Col") -> list[str]:
    return ["Row_Type", "Category"] + [
        f"{style}{j + 1}" for j in range(n_num_cols)
    ]


def _std_rows(
    rng: np.random.Generator, n_rows: int, n_num_cols: int, first_detail: bool = False
) -> list[list[str | None]]:
    rows = []
    for i in range(n_rows):
        r = rng.random()
        if first_detail and i == 0:
            rt, cat = "DETAIL", str(rng.choice(_CATS))
        elif r < 0.15:
            rt, cat = "HEADER", str(rng.choice(_HDRS))
        elif r < 0.85:
            rt, cat = "DETAIL", str(rng.choice(_CATS))
        else:
            rt, cat = "ROLLUP", str(rng.choice(_ROLLS))
        rows.append([rt, cat] + [_num_token(rng) for _ in range(n_num_cols)])
    return rows


def _text_span(doc_id: str, page: int, words: list[dict]) -> dict:
    payload = json.dumps({"page": page, "words": words}, separators=(",", ":"))
    return {"kind": "text", "text": payload, "media_ref": "", "offset": page - 1}


def _image_span(doc_id: str, page: int) -> dict:
    return {
        "kind": "image",
        "text": "",
        "media_ref": f"img://{doc_id}/{page}",
        "offset": page - 1,
    }


def _sample_page_count(rng: np.random.Generator) -> int:
    r = rng.random()
    if r < 0.85:
        return int(rng.integers(1, 4))
    if r < 0.98:
        return int(rng.integers(4, 31))
    if r < 0.998:
        return int(rng.integers(31, 201))
    return int(rng.integers(600, 1001))


def _random_doc(
    doc_id: str,
    rng: np.random.Generator,
    col_range: tuple[int, int] | None = None,
) -> list[dict]:
    """``col_range`` overrides the numeric-column draw (default 2–5)
    — the wide-table variant (e.g. ``(28, 48)`` → 30–50 total columns
    with the two label columns) exercises the per-CELL Arrow-hop cost
    the grid/spans JSON contracts target. Wide pages skip the trailing
    prose words: their fixed 460–560pt x-band would sit INSIDE a
    >6-column grid's x-extent instead of right of it, silently turning
    prose into table cells."""
    n_pages = _sample_page_count(rng)
    kind_roll = rng.random()
    spans: list[dict] = []

    if kind_roll < 0.25:  # all-image document
        return [_image_span(doc_id, p) for p in range(1, n_pages + 1)]

    mixed = kind_roll < 0.40  # image among first 3 pages -> vision route
    image_page = int(rng.integers(1, min(3, n_pages) + 1)) if mixed else -1

    prev_cols = 0
    prev_had_table = False
    for p in range(1, n_pages + 1):
        if p == image_page or (mixed and rng.random() < 0.2):
            spans.append(_image_span(doc_id, p))
            prev_had_table = False
            continue
        if rng.random() < 0.08:  # prose-only page, no table
            spans.append(
                _text_span(doc_id, p, _prose_words(rng, int(rng.integers(4, 10)), _Y0))
            )
            prev_had_table = False
            continue
        cont = prev_had_table and rng.random() < 0.30
        if cont:
            n_num = prev_cols
            header = _cont_header(n_num, "Col" if rng.random() < 0.7 else "Column")
            rows = _std_rows(rng, int(rng.integers(3, 10)), n_num, first_detail=True)
        else:
            n_num = (
                int(rng.integers(col_range[0], col_range[1] + 1))
                if col_range
                else int(rng.integers(2, 6))
            )
            header = _std_header(rng, n_num)
            rows = _std_rows(rng, int(rng.integers(3, 12)), n_num)
        words = _table_words(rng, header, rows)
        if col_range is None and rng.random() < 0.5:
            words += _prose_words(
                rng, int(rng.integers(2, 6)), _Y0 + (len(rows) + 3) * _ROW_PITCH
            )
        spans.append(_text_span(doc_id, p, words))
        prev_cols = n_num
        prev_had_table = True
    return spans


# ---------------------------------------------------------------------------
# pinned edge-case documents
# ---------------------------------------------------------------------------

def _search_ref_suffix(base: str, pred) -> str:
    """Find the first doc id ``{base}-{k}`` whose page-1 stub satisfies
    ``pred`` — a deterministic search shared by generator and oracle, so
    hash-keyed stub behavior can be pinned without biasing the stub."""
    for k in range(10_000):
        doc_id = f"{base}-{k}"
        if pred(doc_id):
            return doc_id
    raise RuntimeError(f"no stub match for {base}")


def _pinned_docs() -> list[tuple[str, list[dict]]]:
    docs: list[tuple[str, list[dict]]] = []
    rng = np.random.default_rng([SEED, 10**9])

    def table_page(doc_id, page, header, rows, prose=0):
        words = _table_words(rng, header, rows)
        if prose:
            words += _prose_words(rng, prose, _Y0 + (len(rows) + 3) * _ROW_PITCH)
        return _text_span(doc_id, page, words)

    # --- continuation merge: all four conditions satisfied across 3 pages
    did = "doc-pin-continuation"
    h = _std_header(rng, 3)
    docs.append(
        (
            did,
            [
                table_page(did, 1, h, _std_rows(rng, 5, 3)),
                table_page(did, 2, _cont_header(3), _std_rows(rng, 4, 3, True)),
                table_page(did, 3, _cont_header(3), _std_rows(rng, 4, 3, True)),
            ],
        )
    )

    # --- near-miss continuations: exactly one condition broken each
    did = "doc-pin-nearmiss-gap"  # page 2 has no table -> pages 1,3 not consecutive
    docs.append(
        (
            did,
            [
                table_page(did, 1, _std_header(rng, 3), _std_rows(rng, 5, 3)),
                _text_span(did, 2, _prose_words(rng, 6, _Y0)),
                table_page(did, 3, _cont_header(3), _std_rows(rng, 4, 3, True)),
            ],
        )
    )
    did = "doc-pin-nearmiss-width"  # column counts differ
    docs.append(
        (
            did,
            [
                table_page(did, 1, _std_header(rng, 3), _std_rows(rng, 5, 3)),
                table_page(did, 2, _cont_header(4), _std_rows(rng, 4, 4, True)),
            ],
        )
    )
    did = "doc-pin-nearmiss-detail"  # first continuation row is HEADER
    rows = _std_rows(rng, 4, 3)
    rows[0][0] = "HEADER"
    docs.append(
        (
            did,
            [
                table_page(did, 1, _std_header(rng, 3), _std_rows(rng, 5, 3)),
                table_page(did, 2, _cont_header(3), rows),
            ],
        )
    )
    did = "doc-pin-nearmiss-generic"  # real headers repeat: no ColN columns
    docs.append(
        (
            did,
            [
                table_page(did, 1, _std_header(rng, 3), _std_rows(rng, 5, 3)),
                table_page(did, 2, _std_header(rng, 3), _std_rows(rng, 4, 3, True)),
            ],
        )
    )

    # --- quality traps Q1-Q6 (single text page each; all trigger the
    #     vision retry, converter.py:117-132)
    did = "doc-pin-q1"  # single column, >3 rows
    docs.append(
        (did, [table_page(did, 1, ["Items"], [[str(rng.choice(_CATS))] for _ in range(5)])])
    )
    did = "doc-pin-q2"  # >70 rows
    docs.append(
        (did, [table_page(did, 1, _std_header(rng, 2), _std_rows(rng, 75, 2))])
    )
    did = "doc-pin-q3"  # >30% of rows off the modal non-null count
    rows = _std_rows(rng, 10, 4)
    for i in range(4):
        rows[i][2] = None
        rows[i][3] = None
    docs.append((did, [table_page(did, 1, _std_header(rng, 4), rows)]))
    did = "doc-pin-q4"  # mostly-empty wide table
    rows = []
    for i in range(10):
        r: list[str | None] = ["DETAIL", str(rng.choice(_CATS))] + [None] * 6
        if i % 3 == 0:
            r[2] = _num_token(rng)
        rows.append(r)
    docs.append((did, [table_page(did, 1, _std_header(rng, 6), rows)]))
    did = "doc-pin-q5"  # duplicate rows
    base_row = ["DETAIL", "Repairs", "1,111", "2,222"]
    rows = [list(base_row) for _ in range(6)] + _std_rows(rng, 2, 2)
    docs.append((did, [table_page(did, 1, _std_header(rng, 2), rows)]))
    did = "doc-pin-q6"  # garbled cells
    rows = [["DETAIL", "€€€€€", "日本語テキスト", "∆∆∆∑∑∑"] for _ in range(4)]
    docs.append((did, [table_page(did, 1, _std_header(rng, 2), rows)]))

    # --- zero-table document: prose-only text page whose retry-vision
    #     stub also returns no table -> empty span sequence
    did = _search_ref_suffix(
        "doc-pin-empty", lambda d: stub_csv(f"img://{d}/1") is None
    )
    docs.append((did, [_text_span(did, 1, _prose_words(rng, 5, _Y0))]))

    # --- cascade-parens vision doc: stub response contains the ")(" cascade
    did = _search_ref_suffix(
        "doc-pin-cascade",
        lambda d: (lambda c: c is not None and ")(" in c)(stub_csv(f"img://{d}/1")),
    )
    docs.append((did, [_image_span(did, 1)]))

    # --- notes vision doc: stub response carries a HEADER-row note
    def _has_note(d: str) -> bool:
        c = stub_csv(f"img://{d}/1")
        if not c or "Notes" not in c.split("\n")[0 if not c.startswith("```") else 1]:
            return False
        lines = [ln for ln in c.strip("`\n").split("\n") if ln.startswith("HEADER")]
        return any(ln.rstrip().rsplit(",", 1)[-1] not in ("", "HEADER") for ln in lines)

    did = _search_ref_suffix("doc-pin-notes", _has_note)
    docs.append((did, [_image_span(did, 1)]))

    # --- rotation pins
    did = _search_ref_suffix(
        "doc-pin-rotated", lambda d: stub_pixels(f"img://{d}/1")[1] != 0
    )
    docs.append((did, [_image_span(did, 1)]))
    did = _search_ref_suffix(
        "doc-pin-ambiguous",
        lambda d: (lambda pr: pr[1] == 0 and int(pr[0].min()) == int(pr[0].max()))(
            stub_pixels(f"img://{d}/1")
        ),
    )
    docs.append((did, [_image_span(did, 1)]))

    # --- mixed doc: image at page 2 of 4 -> 3-page probe routes to vision
    did = "doc-pin-mixed"
    docs.append(
        (
            did,
            [
                table_page(did, 1, _std_header(rng, 3), _std_rows(rng, 4, 3)),
                _image_span(did, 2),
                table_page(did, 3, _std_header(rng, 3), _std_rows(rng, 4, 3)),
                _image_span(did, 4),
            ],
        )
    )

    # --- single-image doc (the reference's "image file" case, page=1)
    did = "doc-pin-image"
    docs.append((did, [_image_span(did, 1)]))

    # --- scaled-down monster doc for tests (bench corpus samples real
    #     600-1000 pagers from the Zipf tail)
    did = "doc-pin-monster"
    spans = []
    for p in range(1, 41):
        spans.append(table_page(did, p, _std_header(rng, 3), _std_rows(rng, 6, 3)))
    docs.append((did, spans))

    return docs


def generate_corpus(
    n_docs: int,
    seed: int = SEED,
    include_pinned: bool = True,
    col_range: tuple[int, int] | None = None,
) -> list[tuple[str, list[dict]]]:
    """The full deterministic corpus: pinned edge docs + ``n_docs``
    randomly-shaped documents. ``col_range`` selects the wide-table
    variant (see :func:`_random_doc`)."""
    docs: list[tuple[str, list[dict]]] = _pinned_docs() if include_pinned else []
    for i in range(n_docs):
        doc_id = f"doc-{i:08d}"
        rng = np.random.default_rng([seed, i])
        docs.append((doc_id, _random_doc(doc_id, rng, col_range=col_range)))
    return docs


def corpus_to_arrow(docs: list[tuple[str, list[dict]]]):
    """Arrow table in the north-rule schema (nested struct list)."""
    import pyarrow as pa

    span_type = pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
    return pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.string()),
            "spans": pa.array([s for _, s in docs], pa.list_(span_type)),
        }
    )


def write_corpus_parquet(path: str, n_docs: int, seed: int = SEED) -> str:
    """Materialize the corpus as parquet (Spark-readable, oracle-readable)."""
    import pyarrow.parquet as pq

    table = corpus_to_arrow(generate_corpus(n_docs, seed))
    pq.write_table(table, path, compression="zstd")
    return path
