"""Grid-kernel parity: the engine's list-form kernels (the Spark hot
path) must agree cell-for-cell with the sequential oracle's own
pandas-frame functions (``tests/oracle.py``) on every text page of the
deterministic corpus, on the stub vision responses, and on targeted
threshold/edge cases. The oracle's quality check returns only the
routing bool, so quality parity compares ``bool(issues)``."""

from __future__ import annotations

import pandas as pd

from pdf_to_xls_vision_spark.core.layout import parse_words_to_grids
from pdf_to_xls_vision_spark.core.merge import (
    GridRecord,
    merge_grid_continuations,
)
from pdf_to_xls_vision_spark.core.numbers import extract_numbers_from_grid
from pdf_to_xls_vision_spark.core.quality import grid_quality_issues
from pdf_to_xls_vision_spark.core.spans import (
    grid_notes,
    grid_rollup_rows,
    serialize_grid_spans,
)
from pdf_to_xls_vision_spark.operators.extract import (
    _page_words,
    decode_tables,
    make_vision_extractor,
)
from tests.oracle import (
    _doc_spans,
    _has_quality_issues,
    _merge,
    _table_notes_m,
    _table_numbers_m,
    _table_rollup_rows_m,
    _text_page_tables,
    _vision_page_table,
)


def _frame_to_grid(df: pd.DataFrame) -> tuple[list, list]:
    header = [None if pd.isna(c) else str(c) for c in df.columns]
    rows = [
        [None if pd.isna(v) else str(v) for v in row]
        for row in df.itertuples(index=False, name=None)
    ]
    return header, rows


def test_corpus_wide_parity(tiny_corpus):
    """Every text page of the corpus: parse + prune + quality agree."""
    pages = 0
    for _doc_id, spans in tiny_corpus:
        for s in spans:
            if s["kind"] != "text":
                continue
            pages += 1
            oracle = [
                (*_frame_to_grid(df), _has_quality_issues(df))
                for df in _text_page_tables(s["text"])
            ]
            engine = [
                (h, r, bool(grid_quality_issues(h, r)))
                for h, r in parse_words_to_grids(_page_words("text", s["text"]))
            ]
            assert oracle == engine
    assert pages > 100  # the corpus actually exercised the kernels


def _records(kind, tables):
    """Build paired oracle/grid records from (page, header, rows) specs."""
    if kind == "oracle":
        return [
            {
                "dataframe": pd.DataFrame(rows, columns=header),
                "page": p,
                "table": 1,
                "media_ref": "",
            }
            for p, header, rows in tables
        ]
    return [
        GridRecord(header=list(header), rows=[list(r) for r in rows], page=p, table_id=1)
        for p, header, rows in tables
    ]


CONT_TABLES = [
    (1, ["Row_Type", "Category", "Jan"], [["DETAIL", "Rent", "100"], ["ROLLUP", "Total", "100"]]),
    (2, ["Row_Type", "Category", "Col1"], [["DETAIL", "Util", "50"], ["DETAIL", "Gas", "25"]]),
    (3, ["Row_Type", "Category", "Column1"], [["DETAIL", "Tax", "10"]]),
    (5, ["Row_Type", "Category", "Col1"], [["DETAIL", "Late", "5"]]),  # gap: no merge
]


def test_merge_parity_and_span_parity():
    merged_o = _merge(_records("oracle", CONT_TABLES))
    merged_g = merge_grid_continuations(_records("grid", CONT_TABLES))
    assert len(merged_o) == len(merged_g) == 2
    assert _doc_spans(merged_o) == serialize_grid_spans(merged_g)


def test_rollup_notes_numbers_parity():
    header = ["Row_Type", "Category", "Amt", "Notes"]
    rows = [
        ["HEADER", "REVENUES", None, "unaudited $1,200"],
        ["DETAIL", "Rent", "(1,500)", None],
        ["ROLLUP", "Total", "1,500", "see 50%"],
        [None, "total gross", "7", None],
    ]
    df = pd.DataFrame(rows, columns=header)
    assert grid_rollup_rows(header, rows) == _table_rollup_rows_m(df)
    assert len(grid_notes(header, rows)) == _table_notes_m(df)
    assert extract_numbers_from_grid(header, rows) == _table_numbers_m(df)
    # the note texts themselves: the trailing note spans
    rec = GridRecord(header=header, rows=rows, page=1, table_id=1)
    oracle = {"dataframe": df, "page": 1, "table": 1, "media_ref": ""}
    assert serialize_grid_spans([rec]) == _doc_spans([oracle])
    # fallback marker path: no Row_Type column
    h2, r2 = ["Category", "Amt"], [["Total assets", "9"], ["rent", "1"]]
    assert grid_rollup_rows(h2, r2) == _table_rollup_rows_m(pd.DataFrame(r2, columns=h2))


def test_quality_thresholds_parity():
    # Q1/Q2/Q3/Q4/Q5 boundary grids, compared against the oracle
    cases = [
        (["A"], [["x"]] * 4),                                   # Q1 fires
        (["A"], [["x"]] * 3),                                   # Q1 holds
        (["A", "B"], [["x", "y"]] * 71),                        # Q2 fires
        (["A", "B"], [["x", None]] * 10 + [["x", "y"]] * 4),    # Q3 ratio
        (["A", "B"], [[None, None] if i % 3 else ["x", None] for i in range(12)]),  # Q4
        (["A", "B"], [["d", "d"]] * 5 + [["u%d" % i, "v"] for i in range(3)]),      # Q5
        (["A"], [["\x01\x02\x03zzz"]] * 2 + [["clean"]] * 2),   # Q6 garbled
    ]
    for header, rows in cases:
        df = pd.DataFrame(rows, columns=header)
        assert bool(grid_quality_issues(header, rows)) == _has_quality_issues(df), (
            header,
            rows[:3],
        )


def test_vision_cleaning_parity():
    """The engine's vision stage (grid fast path or CSV ladder, prune,
    stringify-then-clean) must equal the oracle's clean-then-stringify
    page table on the stub responses (incl. fence/malformed/cascade
    variants)."""
    refs = [f"img://doc-{i:08d}/{p}" for i in range(150) for p in (1, 2)]
    batch = pd.DataFrame(
        {
            "doc_id": [r.split("/")[2] for r in refs],
            "page": [int(r.rsplit("/", 1)[1]) for r in refs],
            "kind": "image",
            "text": "",
            "media_ref": refs,
        }
    )
    (out,) = make_vision_extractor()(iter([batch]))
    assert list(out["media_ref"]) == refs
    engine = {
        ref: tuple(grid)
        for ref, tables in zip(out["media_ref"], out["tables"])
        for grid in decode_tables(tables)
    }
    oracle = {}
    for ref in refs:
        df = _vision_page_table(ref)
        if df is not None:
            oracle[ref] = _frame_to_grid(df)
    assert engine == oracle
    assert len(engine) > 100


# ---------------------------------------------------------------------------
# adversarial parity (hypothesis): random grids, not just corpus shapes
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_cell = st.one_of(
    st.none(),
    st.text(alphabet="ab1,.()% $\x01é", max_size=8),
)


@st.composite
def _grids(draw):
    n_cols = draw(st.integers(1, 5))
    n_rows = draw(st.integers(1, 24))
    header = [
        draw(st.sampled_from(["Row_Type", "Category", "Notes", "A", "B", "C1"]))
        + str(j)
        for j in range(n_cols)
    ]
    rows = [
        [draw(_cell) for _ in range(n_cols)] for _ in range(n_rows)
    ]
    return header, rows


@settings(max_examples=120, deadline=None)
@given(_grids())
def test_quality_parity_random_grids(grid):
    header, rows = grid
    df = pd.DataFrame(rows, columns=header)
    assert bool(grid_quality_issues(header, rows)) == _has_quality_issues(df)


@settings(max_examples=120, deadline=None)
@given(_grids())
def test_rollup_numbers_parity_random_grids(grid):
    header, rows = grid
    df = pd.DataFrame(rows, columns=header)
    assert grid_rollup_rows(header, rows) == _table_rollup_rows_m(df)
    assert extract_numbers_from_grid(header, rows) == _table_numbers_m(df)
