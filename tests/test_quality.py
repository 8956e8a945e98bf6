"""Threshold-boundary tests for Q1-Q6 (quality_check.py:46-125)."""

from pdf_to_xls_vision_spark.core.quality import grid_quality_issues


def _issues(header, rows):
    return grid_quality_issues(header, rows)


def test_q1_single_column_boundary():
    assert not _issues(["a"], [["1"], ["2"], ["3"]])  # 3 rows: ok
    assert any("Single column" in i for i in _issues(["a"], [[c] for c in "1234"]))


def test_q2_row_explosion():
    header = ["a", "b", "c0", "c1", "c2"]
    assert not any(
        "Excessive" in i for i in _issues(header, [["x", "y", "1", "1", "1"]] * 70)
    )  # 70 rows: ok
    rows71 = [["x", str(i)] for i in range(71)]
    assert any("Excessive row count" in i for i in _issues(["a", "b"], rows71))


def test_q2_medium_rows_needs_wide():
    header = [f"c{i}" for i in range(12)]
    rows = [[str(j)] * 12 for j in range(60)]
    assert not any("Excessive" in i for i in _issues(header, rows))  # 12 cols: ok
    rows13 = [[str(j)] * 13 for j in range(60)]
    assert any("many columns" in i for i in _issues(header + ["c12"], rows13))


def test_q3_inconsistent_column_counts():
    rows = [["a", "b", "c"]] * 6 + [["a", None, None]] * 4
    assert any("Inconsistent" in i for i in _issues(["x", "y", "z"], rows))
    rows_ok = [["a", "b", "c"]] * 8 + [["a", None, None]] * 2
    assert not any("Inconsistent" in i for i in _issues(["x", "y", "z"], rows_ok))


def test_q4_empty_ratio_thresholds():
    # small table: > 0.6 flags
    assert any(
        "empty cell" in i for i in _issues(["a", "b", "c"], [[None, None, "v"]] * 5)
    )
    assert not any(
        "empty cell" in i for i in _issues(["a", "b", "c"], [["u", None, "v"]] * 5)
    )


def test_q5_duplicates():
    rows = [["a", "1"]] * 3 + [[str(i), str(i)] for i in range(5)]
    assert any("duplicate" in i for i in _issues(["x", "y"], rows))
    assert not any(
        "duplicate" in i
        for i in _issues(["x", "y"], [[str(i), "1"] for i in range(8)])
    )


def test_q6_garbled():
    assert any("Garbled" in i for i in _issues(["a"], [["日本語テキスト"]] * 5))
    clean = [[f"word{i}"] for i in range(5)]
    assert not any("Garbled" in i for i in _issues(["a"], clean))
    # currency symbols live in an allowed block (U+20A0-U+20CF) and
    # short cells dodge the special-char rule (len > 5 required)
    assert not any("Garbled" in i for i in _issues(["a"], [["€€€€"]] * 5))


def test_empty_frame_no_issues():
    assert _issues([], []) == []
