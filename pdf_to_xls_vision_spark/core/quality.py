"""Extraction-quality heuristics Q1-Q6.

Reference contract: ``detect_quality_issues`` (quality_check.py:7-127).
Each heuristic is a scalar reduction over one extracted table; they run
inside the page-extraction pandas UDF and their presence (any issue on
any page, or zero tables for the whole document) triggers the
document-level vision retry (converter.py:117-132).

Issue strings are kept reference-shaped so metrics/debug output reads
the same; only the boolean "any issues?" affects routing.
"""

from __future__ import annotations

import re

# Q6 patterns (quality_check.py:113,116): runs of non-printable /
# out-of-alphabet chars, and runs of special chars in longer cells.
_GARBLED_NONPRINT = re.compile(r"[^\x20-\x7E\u00A0-\u024F\u20A0-\u20CF]{3,}")
_GARBLED_SPECIAL = re.compile(r"[^\w\s$,.%()\-'/]{3,}")

#: Q6 samples at most this many cells, first 20 per column
#: (quality_check.py:104,108).
_GARBLED_SAMPLE_CAP = 100
_GARBLED_PER_COLUMN = 20


def grid_quality_issues(
    header: list[str | None], rows: list[list[str | None]]
) -> list[str]:
    """Return the list of quality-issue descriptions for one table, a
    (header, rows) grid of ``str | None`` cells.

    Semantics per heuristic (quality_check.py:46-125):

    Q1 single-column trap, Q2 row explosion (>70 always; >50 with >12
    cols), Q3 per-row non-null-count mode inconsistency >30%, Q4 empty
    ratio >0.6 (<20 rows) else >0.5, Q5 stringified duplicate rows >20%
    (only when >5 rows), Q6 garbled-text sample >10%. The reference
    computes them over a pandas frame; the grid form builds none, since
    per-table frame construction dominated the text-parse profile.
    """
    issues: list[str] = []
    if not rows or not header:
        return issues

    n_rows = len(rows)
    n_cols = len(header)

    # Q1
    if n_cols == 1 and n_rows > 3:
        issues.append(
            f"Single column table with {n_rows} rows (likely parsing error)"
        )

    # Q2
    if n_rows > 70:
        issues.append(
            f"Excessive row count ({n_rows} rows, likely incorrect parsing)"
        )
    elif n_rows > 50 and n_cols > 12:
        issues.append(
            f"Excessive row count ({n_rows} rows) with many columns ({n_cols}), "
            "likely incorrect parsing"
        )

    # Q3 — mode of per-row non-null counts; pandas Series.mode() sorts
    # ascending so ties resolve to the SMALLEST most-frequent value.
    # (list.count(None) is a C-speed identity/equality scan; str cells
    # never compare equal to None.)
    null_counts = [r.count(None) for r in rows]
    freq: dict[int, int] = {}
    for c in null_counts:
        nn_c = n_cols - c
        freq[nn_c] = freq.get(nn_c, 0) + 1
    top = max(freq.values())
    common = min(k for k, v in freq.items() if v == top)
    common_nulls = n_cols - common
    ratio = sum(1 for c in null_counts if c != common_nulls) / n_rows
    if ratio > 0.3:
        issues.append(f"Inconsistent column counts ({ratio:.1%} of rows differ)")

    # Q4
    total_cells = n_rows * n_cols
    empty_ratio = sum(null_counts) / total_cells if total_cells else 0.0
    threshold = 0.6 if n_rows < 20 else 0.5
    if empty_ratio > threshold:
        issues.append(f"High empty cell ratio ({empty_ratio:.1%} empty cells)")

    # Q5 — string-compared duplicates (None -> 'None', matching
    # astype(str); cells here are already str | None, so the only
    # mapping needed is None -> 'None', which makes a literal "None"
    # string cell collide exactly as astype(str) does)
    if n_rows > 5:
        seen: set[tuple] = set()
        dup = 0
        for r in rows:
            key = (
                tuple(r)
                if r.count(None) == 0
                else tuple("None" if v is None else v for v in r)
            )
            if key in seen:
                dup += 1
            else:
                seen.add(key)
        dup_ratio = dup / n_rows
        if dup_ratio > 0.2:
            issues.append(
                f"High duplicate row ratio ({dup_ratio:.1%} of rows are "
                f"duplicates, {dup}/{n_rows} rows)"
            )

    # Q6 — first 20 values per column, column-major, cap min(100, cells)
    garbled = 0
    checked = 0
    cap = min(_GARBLED_SAMPLE_CAP, total_cells)
    for j in range(n_cols):
        for r in rows[:_GARBLED_PER_COLUMN]:
            val = r[j]
            if val is not None:
                checked += 1
                if _GARBLED_NONPRINT.search(val):
                    garbled += 1
                elif len(val) > 5 and _GARBLED_SPECIAL.search(val):
                    garbled += 1
            if checked >= cap:
                break
        if checked >= cap:
            break
    if checked > 0 and garbled / checked > 0.1:
        issues.append(f"Garbled text detected ({garbled}/{checked} cells)")

    return issues

