"""X1 number extraction/normalization goldens (validation.py:10-34)."""

from pdf_to_xls_vision_spark.core.numbers import (
    extract_numbers,
    extract_numbers_from_grid,
    number_key,
)


def test_pattern_examples():
    # validation.py:21-22 examples
    assert extract_numbers("$1,234.56") == ["1234.56"]
    assert extract_numbers("(123.45)") == ["-123.45"]
    assert extract_numbers("50%") == ["50"]
    assert extract_numbers("$1,234") == ["1234"]


def test_mixed_text():
    text = "Revenue $458,963 vs (3,094) loss, margin 12.5%"
    assert extract_numbers(text) == ["458963", "-3094", "12.5"]


def test_unbalanced_parens_not_negative():
    # only balanced (x) flips sign; unbalanced tokens keep their parens
    # (validation.py:30-32 requires startswith AND endswith)
    assert extract_numbers("(123") == ["(123"]
    assert extract_numbers("123)") == ["123)"]


def test_frame_skips_label_columns():
    header = ["Row_Type", "Category", "Notes", "2024"]
    rows = [["DETAIL 9", "Item 42", "see 7", "1,000"]]
    assert extract_numbers_from_grid(header, rows) == ["1000"]


def test_number_key_folds_floats():
    assert number_key("1000") == number_key("1000.0")
    assert number_key("not-a-number") == "not-a-number"
    assert number_key("-3094") == repr(-3094.0)
