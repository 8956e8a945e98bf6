"""Text-layout parser (T1-T3): banding, column seams, prose exclusion."""

import json

from pdf_to_xls_vision_spark.core.layout import (
    parse_page_words,
    parse_words_to_grids,
    prune_grid,
)
from pdf_to_xls_vision_spark.operators.extract import _page_words


def _w(t, x0, top):
    return {"t": t, "x0": x0, "x1": x0 + 6 * len(t), "top": top, "bottom": top + 9}


def _grid_words(header, rows, x_pitch=85.0, y_pitch=14.0):
    words = []
    for j, h in enumerate(header):
        words.append(_w(h, 36 + j * x_pitch, 72))
    for i, row in enumerate(rows):
        for j, c in enumerate(row):
            if c is not None:
                words.append(_w(c, 36 + j * x_pitch, 72 + (i + 1) * y_pitch))
    return words


def test_simple_grid():
    words = _grid_words(["A", "B"], [["1", "2"], ["3", "4"]])
    tables = parse_page_words(words)
    assert len(tables) == 1
    assert tables[0] == [["A", "B"], ["1", "2"], ["3", "4"]]


def test_jitter_within_snap_tolerance():
    words = _grid_words(["A", "B"], [["1", "2"], ["3", "4"]])
    for k, w in enumerate(words):
        w["top"] += (-1) ** k * 1.0
        w["x0"] += (-1) ** k * 0.9
    tables = parse_page_words(words)
    assert tables and tables[0][0] == ["A", "B"]


def test_column_needs_three_aligned_words():
    # only 2 words align at x=300 -> no seam there
    words = _grid_words(["A", "B"], [["1", "2"], ["3", "4"]])
    words += [_w("stray", 300, 72), _w("stray2", 300, 86)]
    assert parse_page_words(words) == [[["A", "B"], ["1", "2"], ["3", "4"]]]


def test_prose_dropped():
    words = _grid_words(["A", "B"], [["1", "2"], ["3", "4"], ["5", "6"]])
    words += [_w("prose", 470.3, 300), _w("words", 492.8, 311), _w("here", 515.1, 322)]
    tables = parse_page_words(words)
    assert len(tables[0][0]) == 2  # still two columns


def test_missing_cells_are_none():
    words = _grid_words(["A", "B", "C"], [["1", None, "3"], ["4", "5", "6"], ["7", "8", "9"]])
    t = parse_page_words(words)[0]
    assert t[1] == ["1", None, "3"]


def test_empty_rows_dropped_via_frame():
    grid = [["A", "B"], [None, None], ["1", "2"]]
    _header, rows = prune_grid(grid)
    assert len(rows) == 1


def test_all_null_column_pruned():
    grid = [["A", "B"], ["1", None], ["2", None]]
    header, _rows = prune_grid(grid)
    assert header == ["A"]


def test_single_band_no_table():
    words = [_w("only", 36, 72), _w("one", 121, 72), _w("row", 206, 72)]
    assert parse_page_words(words) == []


def test_payload_roundtrip():
    words = _grid_words(["H1", "H2"], [["a", "b"], ["c", "d"]])
    payload = json.dumps({"page": 1, "words": words})
    grids = parse_words_to_grids(_page_words("text", payload))
    assert len(grids) == 1 and grids[0][0] == ["H1", "H2"]


def test_malformed_payload_isolated():
    assert _page_words("text", "{not json") == []
    assert _page_words("text", json.dumps({"page": 1})) == []


def test_band_rows_tie_breaks_stable():
    # words of one band join in (x0, text) order, whatever their input order
    words = _grid_words(["H1", "H2"], [["1", "2"], ["3", "4"]])
    words += [_w("b", 38, 72.0), _w("a", 38, 72.0), _w("c", 37, 72.0)]
    assert parse_page_words(words)[0][0] == ["H1 c a b", "H2"]
