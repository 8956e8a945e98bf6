"""Unit goldens for the parenthesis cleaners (C1-C3) — examples taken
from the reference's own docstrings and comments."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_to_xls_vision_spark.core.cleaning import (
    cascade_row,
    clean_vision_grid_rows,
    repair_cell,
)


# data_cleaning.py:9-14 documented repairs
@pytest.mark.parametrize(
    "raw,fixed",
    [
        ("( 297)", "(297)"),
        ("(123 )", "(123)"),
        ("((123)", "(123)"),
        ("( 4410", "(4410)"),
        ("123)", "(123)"),
        ("  12,3 ", "12,3"),
        ("(abc", "(abc"),  # no numeric tail -> unclosed
        ("abc)", "abc)"),  # not numeric -> stays
        (42, 42),  # non-strings untouched
        ("plain", "plain"),
    ],
)
def test_repair_cell_goldens(raw, fixed):
    assert repair_cell(raw) == fixed


def test_cascade_documented_example():
    # data_cleaning.py:79-81
    row = ["10,947 (", "3,094)(", "578)(", "173"]
    assert cascade_row(row) == ["10,947", "(3,094)", "(578)", "(173"]


def test_cascade_orphan_close_open():
    # ")(" with no incoming "(": ) closes the left cell
    row = ["500", "1,234)("]
    assert cascade_row(row) == ["500)", "(1,234)("]


def test_cascade_empty_next():
    row = ["99 (", None]
    assert cascade_row(row) == ["99", "("]


def test_pct_artifact_strip():
    out = clean_vision_grid_rows(["a", "b"], [["-3.34% (", "x"]])
    assert out[0][0] == "-3.34%"


def test_vision_clean_order_cascade_then_repair():
    # cascade leaves "(173"; repair then closes it to "(173)"
    out = clean_vision_grid_rows(
        list("abcd"), [["10,947 (", "3,094)(", "578)(", "173"]]
    )
    assert out[0] == ["10,947", "(3,094)", "(578)", "(173)"]


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.text(alphabet="0123456789(),.-% $", max_size=10),
        ),
        min_size=2,
        max_size=6,
    )
)
def test_cascade_idempotent(cells):
    once = cascade_row(list(cells))
    assert cascade_row(list(once)) == once


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="0123456789(),.-% $ab", max_size=12))
def test_repair_idempotent(s):
    assert repair_cell(repair_cell(s)) == repair_cell(s)
