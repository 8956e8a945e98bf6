"""Parenthesis-repair kernels (vision-path cell cleaning).

Behavioral contract (reference semantics, re-implemented):

- per-cell repairs  -> reference ``_fix_cell_parens``
  (data_cleaning.py:7-48)
- whole-frame per-cell pass -> ``clean_malformed_parentheses``
  (data_cleaning.py:51-69)
- row-wise cascading-typewriter fixpoint -> ``clean_dataframe_parentheses``
  (data_cleaning.py:72-173), including the documented cascade
  ["10,947 (", "3,094)(", "578)(", "173"] -> ["10,947", "(3,094)", "(578)", "(173"]
  (data_cleaning.py:79-81) and the trailing "% (" strip
  (data_cleaning.py:165-171).

Applied on the vision extraction paths only, in the order: cascade
fixpoint first, then per-cell repairs (table_extraction.py:172,179 and
:365,373). The text path never cleans.
"""

from __future__ import annotations

import re

_OPEN_SPACE = re.compile(r"\(\s+")
_SPACE_CLOSE = re.compile(r"\s+\)")
_OPEN_RUN = re.compile(r"\(+")
_NUMERIC_TAIL = re.compile(r"[\d,.-]+$")
_NUMERIC_CLOSED = re.compile(r"^[\d,.-]+\)$")
_NUM_CLOSE_OPEN = re.compile(r"^([\d,.-]+)\)\($")
_PCT_TRAILING_OPEN = re.compile(r"(%)\s*\($")


def repair_cell(value):
    """Repair malformed parentheses inside one cell.

    Non-strings pass through untouched. Mirrors data_cleaning.py:7-48:
    drop spaces after '(' / before ')', collapse runs of '(', close an
    unclosed numeric '(x', and open an orphaned numeric 'x)'.
    """
    if not isinstance(value, str):
        return value
    v = value.strip()
    if "(" not in v and ")" not in v:
        # every sub/rule below keys on a paren; bare cells (the vast
        # majority) only get the strip
        return v
    v = _OPEN_SPACE.sub("(", v)
    v = _SPACE_CLOSE.sub(")", v)
    v = _OPEN_RUN.sub("(", v)
    if v.startswith("(") and not v.endswith(")") and _NUMERIC_TAIL.search(v):
        v += ")"
    if v.endswith(")") and not v.startswith("(") and _NUMERIC_CLOSED.match(v):
        v = "(" + v
    return v


def _cascade_pass(cells: list) -> bool:
    """One left-to-right sweep of the cascade rules over a row's cells.

    Returns True if anything changed. Mirrors the pair-wise scan of
    data_cleaning.py:102-163: for each adjacent (curr, next) pair the
    values are captured once, then two rules run against those captured
    values (the reference reads ``curr_val``/``next_val`` before either
    rule fires, so rule 2 sees the *pre-rule-1* snapshot). Cells are
    ``str | None``, so the reference's ``pd.notna`` is ``is not None``.
    """
    changed = False
    n = len(cells)
    for i in range(n - 1):
        curr_val = cells[i]
        next_val = cells[i + 1]

        # Rule 1: current cell ends with '(' — that paren belongs to the
        # next cell (data_cleaning.py:109-146).
        if curr_val is not None:
            curr_str = str(curr_val).strip()
            if curr_str.endswith("("):
                donor = curr_str[:-1].strip()
                if next_val is not None:
                    next_str = str(next_val).strip()
                    m = _NUM_CLOSE_OPEN.match(next_str)
                    if m:
                        # next looks like "123)(" → wrap the number, keep
                        # a trailing '(' to cascade further right.
                        cells[i] = donor if donor else None
                        cells[i + 1] = f"({m.group(1)})("
                    elif next_str.endswith(")") and not next_str.startswith("("):
                        cells[i] = donor if donor else None
                        cells[i + 1] = f"({next_str}"
                    else:
                        cells[i] = donor if donor else None
                        cells[i + 1] = "(" + next_str
                else:
                    cells[i] = donor if donor else None
                    cells[i + 1] = "("
                changed = True

        # Rule 2: next cell is "123)(" with no incoming '(' — the ')'
        # closes the *previous* cell (data_cleaning.py:148-163). Uses the
        # captured snapshot, so it is skipped whenever rule 1 just fired
        # (the stale curr still ends with '(').
        if next_val is not None:
            next_str = str(next_val).strip()
            m = _NUM_CLOSE_OPEN.match(next_str)
            if m:
                curr_str = str(curr_val).strip() if curr_val is not None else ""
                if not curr_str.endswith("("):
                    cells[i] = (curr_str + ")") if curr_str else ")"
                    cells[i + 1] = f"({m.group(1)})("
                    changed = True
    return changed


#: Safety bound on fixpoint sweeps (the reference loops unbounded,
#: data_cleaning.py:98-99; real inputs converge in a handful of passes —
#: the cap only guards a distributed job against pathological cells).
MAX_CASCADE_PASSES = 1000


def cascade_row(cells: list) -> list:
    """Run the cascade fixpoint over one row's cell list (in place)."""
    for _ in range(MAX_CASCADE_PASSES):
        if not _cascade_pass(cells):
            break
    return cells


def _strip_pct_artifact(x):
    if isinstance(x, str):
        return _PCT_TRAILING_OPEN.sub(r"\1", x.strip())
    return x


def grid_cleanable(header: list) -> bool:
    """Tables the cleaners may touch. The reference cleans via
    ``df.at`` scalar access, which pandas rejects on duplicated or
    multi-level axes; those failures are swallowed and the table kept
    dirty (table_extraction.py:171-182). A CSV frame always has a
    unique RangeIndex and single-level axes, so the only live condition
    is column-name uniqueness (read_csv mangles duplicates, but a
    malformed fallback parse can still produce them)."""
    return len(set(header)) == len(header)


def clean_vision_grid_rows(header: list, rows: list) -> list:
    """Full vision-path cleaning over stringified cells.

    Safe to run post-stringification: every cleaning rule keys on
    parenthesis/percent patterns that digit-only strings (the
    stringified numeric cells read_csv inferred) can never match, so
    stringify-then-clean == clean-then-stringify cell-for-cell. Order
    fixed by the reference: cascade fixpoint, '%(' strip, per-cell
    repair (table_extraction.py:172-179; data_cleaning.py:165-171).
    """
    if len(header) >= 2:
        for r in rows:
            # both cascade rules key on '(' (rule 1 on a trailing '(',
            # rule 2 on a "123)(" next cell) — a row with no '(' in any
            # cell is a guaranteed fixpoint already
            if any(c is not None and "(" in c for c in r):
                cascade_row(r)
    out = []
    for r in rows:
        out.append(
            [
                # no-paren fast path == strip: _strip_pct_artifact
                # without a match is x.strip(), and repair_cell's rules
                # all key on parens (its own fast path)
                (
                    v.strip()
                    if "(" not in v and ")" not in v
                    else repair_cell(_strip_pct_artifact(v))
                )
                if v is not None
                else None
                for v in r
            ]
        )
    return out

