"""The page stage's route dispatch, without Spark: each batch is split
by ``route``, and its output equals the text parse and the vision
stage run separately on their own rows."""

from __future__ import annotations

import pandas as pd
import pytest

from pdf_to_xls_vision_spark.operators.extract import (
    extract_text_pages,
    make_vision_extractor,
)
from pdf_to_xls_vision_spark.operators.pipeline import (
    _MERGE_COLS,
    make_page_dispatch,
)

_PAGE_COLS = ["doc_id", "route", "page", "kind", "text", "media_ref"]


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
    return pd.DataFrame(rows, columns=_PAGE_COLS)


def _separately(rows: list, kernel, is_vision: bool) -> list:
    if not rows:
        return []
    out = pd.concat(kernel(iter([_frame(rows)])), ignore_index=True)
    return [
        (*r, len(q) > 0, is_vision)
        for r, q in zip(out[_MERGE_COLS].itertuples(index=False), out["quality"])
    ]


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
        assert list(out.columns) == [*_MERGE_COLS, "has_issue", "is_vision"]
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
    want = _separately(text, extract_text_pages, False) + _separately(
        vision, make_vision_extractor(), True
    )
    assert _sorted(got) == _sorted(want)
    if case == ("text", "vision"):
        assert any(r[-2] for r in got), "a text table with a quality issue"
        assert not any(r[-2] for r in got if r[-1])
        empty_id = routed["vision"][-1][0]
        assert [r[6] for r in got if r[0] == empty_id and r[-1]] == [False]


def test_dispatch_runs_batch_by_batch(routed):
    """Several batches in one partition: one output frame per non-empty
    batch, none for an empty one."""
    batches = [routed["text"], [], routed["vision"], routed["text"][:1]]
    got = _dispatched(batches)
    want = (
        _separately(routed["text"], extract_text_pages, False)
        + _separately(routed["vision"], make_vision_extractor(), True)
        + _separately(routed["text"][:1], extract_text_pages, False)
    )
    assert _sorted(got) == _sorted(want)
    dispatch = make_page_dispatch(extract_text_pages, make_vision_extractor())
    assert len(list(dispatch(iter([_frame(b) for b in batches])))) == 3
