"""M1 continuation-merge conditions, individually toggled
(excel_writer.py:51-73)."""

from pdf_to_xls_vision_spark.core.merge import GridRecord, merge_grid_continuations


def _head(page=1):
    return GridRecord(
        header=["Row_Type", "Category", "2024", "2023"],
        rows=[["DETAIL", "Rent", "1", "2"], ["ROLLUP", "Total", "3", "4"]],
        page=page,
        table_id=1,
    )


def _cont(page, first_type="DETAIL", cols=("Col1", "Col2"), width=4):
    data = [[first_type, "Rent"] + ["9"] * (width - 2), ["DETAIL", "Fees"] + ["8"] * (width - 2)]
    columns = ["Row_Type", "Category"] + list(cols)[: width - 2]
    return GridRecord(header=columns, rows=data, page=page, table_id=1)


def test_merges_when_all_conditions_hold():
    out = merge_grid_continuations([_head(1), _cont(2), _cont(3)])
    assert len(out) == 1
    assert len(out[0].rows) == 2 + 2 + 2
    assert out[0].header == ["Row_Type", "Category", "2024", "2023"]
    assert out[0].page == 1


def test_column_style_variant():
    out = merge_grid_continuations([_head(1), _cont(2, cols=("Column1", "Column2"))])
    assert len(out) == 1


def test_no_merge_nonconsecutive_page():
    out = merge_grid_continuations([_head(1), _cont(3)])
    assert len(out) == 2


def test_no_merge_different_width():
    cont = GridRecord(
        header=["Row_Type", "Category", "Col1"],
        rows=[["DETAIL", "Rent", "9"]],
        page=2,
        table_id=1,
    )
    out = merge_grid_continuations([_head(1), cont])
    assert len(out) == 2


def test_no_merge_first_row_not_detail():
    out = merge_grid_continuations([_head(1), _cont(2, first_type="HEADER")])
    assert len(out) == 2


def test_no_merge_without_generic_headers():
    cont = GridRecord(
        header=["Row_Type", "Category", "2024", "2023"],
        rows=[["DETAIL", "Rent", "9", "8"]],
        page=2,
        table_id=1,
    )
    out = merge_grid_continuations([_head(1), cont])
    assert len(out) == 2


def test_colx_requires_digits():
    # "Colour1"? "Col" + "our1" is not a digit run -> not generic
    cont = GridRecord(
        header=["Row_Type", "Category", "Colour", "ColA"],
        rows=[["DETAIL", "Rent", "9", "8"]],
        page=2,
        table_id=1,
    )
    assert len(merge_grid_continuations([_head(1), cont])) == 2


def test_merge_never_reorders_rows():
    out = merge_grid_continuations([_head(1), _cont(2)])
    vals = [r[1] for r in out[0].rows]
    assert vals == ["Rent", "Total", "Rent", "Fees"]


def test_run_restarts_after_break():
    # head, cont, gap, head, cont -> two merged tables
    out = merge_grid_continuations([_head(1), _cont(2), _head(4), _cont(5)])
    assert len(out) == 2
    assert all(len(t.rows) == 4 for t in out)
