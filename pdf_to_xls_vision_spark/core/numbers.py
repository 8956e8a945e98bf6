"""Number-multiset extraction & normalization (X1-X3 kernels).

Reference contract: ``extract_numbers_from_text`` (validation.py:10-34)
with the exact pattern at validation.py:21, and the dataframe walk of
``extract_numbers_from_dataframe`` (validation.py:63-86) which skips the
``Row_Type``/``Category``/``Notes`` columns.

The engine's per-document fold (X4-X6) runs on these kernels inside the
merge UDF (``pipeline._doc_validation``). ``NUMBER_PATTERN`` also feeds
the JVM-side ``regexp_extract_all`` of
:mod:`pdf_to_xls_vision_spark.operators.validation` and the
driver-contract queries.
"""

from __future__ import annotations

import re
from functools import lru_cache

#: validation.py:21 — numbers with optional $, parens, thousands commas,
#: decimals, and %.
NUMBER_PATTERN = r"\$?\(?\d{1,3}(?:,\d{3})*(?:\.\d+)?\)?%?"
_NUMBER_RE = re.compile(NUMBER_PATTERN)

#: Columns excluded from table-side number extraction (validation.py:75-76).
NON_NUMERIC_COLUMNS = ("Row_Type", "Category", "Notes")


_STRIP_DOLLAR_COMMA_PCT = str.maketrans("", "", "$,%")


def normalize_number_token(token: str) -> str:
    """Strip ``$ , %`` and map ``(x)`` -> ``-x`` (validation.py:26-32).
    One translate pass == the reference's three replace passes."""
    cleaned = token.translate(_STRIP_DOLLAR_COMMA_PCT)
    if cleaned.startswith("(") and cleaned.endswith(")"):
        cleaned = "-" + cleaned[1:-1]
    return cleaned


def extract_numbers(text: str) -> list[str]:
    """All normalized number tokens in ``text``, in match order."""
    return [normalize_number_token(t) for t in _NUMBER_RE.findall(text)]


@lru_cache(maxsize=1 << 16)
def _cell_numbers(text: str) -> tuple[str, ...]:
    """Memoized per-cell extraction: table cells repeat heavily within
    and across documents (labels, rounded amounts), so the regex +
    normalization pass runs once per distinct cell string. Returns a
    tuple so cached values are immutable."""
    return tuple(
        normalize_number_token(t) for t in _NUMBER_RE.findall(text)
    )


def extract_numbers_from_grid(header: list, rows: list) -> list[str]:
    """Number tokens from every non-null cell outside the label columns,
    column-major in the reference's walk order (validation.py:74-86),
    over ``str | None`` cells."""
    out: list[str] = []
    for j, col in enumerate(header):
        if col in NON_NUMERIC_COLUMNS:
            continue
        for r in rows:
            v = r[j]
            if v is not None:
                out.extend(_cell_numbers(v if type(v) is str else str(v)))
    return out


@lru_cache(maxsize=1 << 16)
def number_key(token: str) -> str:
    """Canonical multiset key: the float value when the token parses,
    else the raw token (validation.py:164-180 folds both into one
    Counter; floats and their string forms must collide). Memoized —
    normalized tokens repeat heavily and ``repr(float(...))`` plus the
    exception probe dominated the validation fold in the merge-kernel
    profile."""
    try:
        return repr(float(token))
    except ValueError:
        return token
