"""The page stage's route dispatch, without Spark: each batch is split
by ``route``, its output equals the text parse and the vision stage run
separately on their own rows, and every input page comes out as
exactly one ``PAGE_SCHEMA`` row."""

from __future__ import annotations

import json

import pandas as pd
import pytest

from pdf_to_xls_vision_spark.core.layout import parse_words_to_grids
from pdf_to_xls_vision_spark.core.quality import grid_quality_issues
from pdf_to_xls_vision_spark.operators import extract
from pdf_to_xls_vision_spark.operators.extract import (
    PAGE_COLS,
    decode_tables,
    extract_text_pages,
    make_vision_extractor,
)
from pdf_to_xls_vision_spark.operators.pipeline import (
    _merge_doc_arrays,
    make_page_dispatch,
)

_INPUT_COLS = ["doc_id", "route", "page", "kind", "text", "media_ref"]


@pytest.fixture(scope="module")
def routed(tiny_corpus) -> dict:
    """Page rows by case: text pages with and without a quality issue,
    a prose-only text page with no table, vision pages, and an image
    page whose stub response yields no table."""
    def pinned(prefix: str) -> tuple:
        return next((d, s) for d, s in tiny_corpus if d.startswith(prefix))

    def rows(route: str, doc_id: str, spans: list) -> list:
        return [
            [doc_id, route, s["offset"] + 1, s["kind"], s["text"], s["media_ref"]]
            for s in spans
        ]

    empty_id, empty_spans = pinned("doc-pin-empty")
    image_of_empty = [
        {"kind": "image", "text": "", "media_ref": f"img://{empty_id}/1", "offset": 0}
    ]
    return {
        "text": rows("text", *pinned("doc-pin-q1"))
        + rows("text", *pinned("doc-pin-continuation"))
        + rows("text", empty_id, empty_spans),
        "vision": rows("vision", *pinned("doc-pin-mixed"))
        + rows("vision", *pinned("doc-pin-rotated"))
        + rows("vision", empty_id, image_of_empty),
    }


def _frame(rows: list) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=_INPUT_COLS)


def _separately(rows: list, kernel) -> list:
    if not rows:
        return []
    out = pd.concat(kernel(iter([_frame(rows)])), ignore_index=True)
    return [tuple(r) for r in out.itertuples(index=False)]


def _plain(v):
    if isinstance(v, list):
        return tuple(v)
    return v.item() if hasattr(v, "item") else v


def _sorted(rows) -> list:
    return sorted((tuple(_plain(v) for v in r) for r in rows), key=repr)


def _dispatched(batches: list) -> list:
    dispatch = make_page_dispatch(extract_text_pages, make_vision_extractor())
    rows = []
    for out in dispatch(iter([_frame(b) for b in batches])):
        assert list(out.columns) == PAGE_COLS
        rows += [tuple(r) for r in out.itertuples(index=False)]
    return rows


@pytest.mark.parametrize(
    "case",
    [("text", "vision"), ("text",), ("vision",), ()],
    ids=["mixed", "all_text", "all_vision", "empty"],
)
def test_dispatch_equals_each_kernel_on_its_rows(routed, case):
    text = routed["text"] if "text" in case else []
    vision = routed["vision"] if "vision" in case else []
    # interleave the routes, so each batch's split has to pick rows out
    batch = [r for pair in zip(text, vision) for r in pair]
    batch += text[len(vision):] + vision[len(text):]

    got = _dispatched([batch])
    want = _separately(text, extract_text_pages) + _separately(
        vision, make_vision_extractor()
    )
    assert _sorted(got) == _sorted(want)
    if case == ("text", "vision"):
        assert any(r[4] for r in got), "a text table with a quality issue"
        assert not any(r[4] for r in got if r[-1])
        empty_id = routed["vision"][-1][0]
        assert [r[3] for r in got if r[0] == empty_id and r[-1]] == ["[]"]


def test_dispatch_runs_batch_by_batch(routed):
    """Several batches in one partition: one output frame per non-empty
    batch, none for an empty one."""
    batches = [routed["text"], [], routed["vision"], routed["text"][:1]]
    got = _dispatched(batches)
    want = (
        _separately(routed["text"], extract_text_pages)
        + _separately(routed["vision"], make_vision_extractor())
        + _separately(routed["text"][:1], extract_text_pages)
    )
    assert _sorted(got) == _sorted(want)
    dispatch = make_page_dispatch(extract_text_pages, make_vision_extractor())
    assert len(list(dispatch(iter([_frame(b) for b in batches])))) == 3


def test_one_row_per_input_page(routed):
    """Each batch gives exactly one output row per input page, with the
    same ``(doc_id, page)`` pairs, whether the page has tables or not."""
    batches = [routed["text"], routed["vision"], routed["text"] + routed["vision"]]
    dispatch = make_page_dispatch(extract_text_pages, make_vision_extractor())
    outs = list(dispatch(iter([_frame(b) for b in batches])))
    assert len(outs) == len(batches)
    for batch, out in zip(batches, outs):
        assert len(out) == len(batch)
        pairs = sorted(zip(out["doc_id"], out["page"].astype(int)))
        assert pairs == sorted((r[0], r[2]) for r in batch)
    tables = [t for out in outs for t in out["tables"]]
    assert "[]" in tables, "a page with no table still has its row"
    assert any(len(decode_tables(t)) == 1 for t in tables)


def _words(top: float, grid: list) -> list:
    """Word boxes laying ``grid`` out row by row from ``top``, one
    column every 100 points."""
    return [
        {"t": cell, "x0": 100.0 * j, "x1": 100.0 * j + 40, "top": top + 12 * i,
         "bottom": top + 12 * i + 10}
        for i, row in enumerate(grid)
        for j, cell in enumerate(row)
    ]


def test_two_tables_on_one_page(monkeypatch):
    """A text page with two tables: ``tables`` holds both grids in
    layout order, ``has_issue`` is set by the second table alone, and
    the merge opens them as tables 1 and 2 of the page. The layout
    parse finds at most one table per page, so it is run here on each
    half of the page: above and below ``top`` 300."""
    upper = [["Item", "Qty", "Cost"], ["bolts", "4", "1.20"], ["nuts", "9", "0.80"]]
    lower = [["Line"], ["a"], ["b"], ["c"], ["d"]]  # single column: Q1 issue

    def by_block(words):
        return [
            grid
            for block in (
                [w for w in words if w["top"] < 300],
                [w for w in words if w["top"] >= 300],
            )
            for grid in parse_words_to_grids(block)
        ]

    monkeypatch.setattr(extract, "parse_words_to_grids", by_block)
    words = _words(400, lower) + _words(100, upper)
    page = _frame(
        [["doc-two", "text", 3, "text", json.dumps({"page": 3, "words": words}), ""]]
    )
    (out,) = extract_text_pages(iter([page]))
    assert len(out) == 1
    assert decode_tables(out["tables"][0]) == [
        [upper[0], upper[1:]],
        [lower[0], lower[1:]],
    ]
    assert not grid_quality_issues(upper[0], upper[1:])
    assert grid_quality_issues(lower[0], lower[1:])
    assert bool(out["has_issue"][0])

    merged = _merge_doc_arrays({c: out[c].to_numpy() for c in PAGE_COLS}, 0, 1)
    spans = json.loads(merged["spans_json"])
    starts = [(s["text"], s["media_ref"]) for s in spans if s["kind"] == "table_start"]
    assert starts == [("3:1:2x3", ""), ("3:2:4x1", "")]
    assert merged["n_tables"] == 2 and merged["pages_parsed"] == 1
