"""Vision-path kernels: deterministic inference stub, CSV response
parsing, projection-profile rotation detection, API-size resize plan.

Reference behaviors re-expressed (see SURVEY.md §2.4):

- V5 vision call (table_extraction.py:46-133) — in-sandbox the network
  call is replaced by :func:`stub_csv`, a deterministic CSV generator
  keyed by ``media_ref`` (FIXTURES.md §3). The real API client stays
  injectable via :class:`VisionBackend`.
- V6 response parse (table_extraction.py:136-160) — markdown fence
  strip + the exact 3-level ``read_csv`` fallback ladder.
- V2/V3 rotation (image_processing.py:86-148) — Tesseract OSD replaced
  by projection-profile scoring over the stubbed pixel payloads;
  correction gate kept: ``rotation != 0 and confidence > 1.0``
  (image_processing.py:141,206).
- V4 resize-for-API (image_processing.py:15-83) — the 5 MB ladder is a
  pure plan function here (initial scale ``0.9/sqrt(ratio)``, then
  x0.85, floor 100 px, <=10 attempts); PNG codecs are not in this
  container so encoding is stubbed behind the same interface.
"""

from __future__ import annotations

import csv
import hashlib
import math
import re
from io import StringIO

import numpy as np
import pandas as pd
from pandas._libs.parsers import STR_NA_VALUES

MAX_IMAGE_B64_BYTES = 5 * 1024 * 1024  # image_processing.py:12
ROTATION_CONFIDENCE_GATE = 1.0  # image_processing.py:141,206

_STUB_SIZE = 32  # synthetic page raster (square so rot90 keeps shape)


def _rng_for(media_ref: str, salt: str = "") -> np.random.Generator:
    digest = hashlib.sha256((salt + media_ref).encode("utf-8")).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "big"))


# ---------------------------------------------------------------------------
# V5 stub — deterministic "vision model" keyed by media_ref
# ---------------------------------------------------------------------------

_CATEGORIES = [
    "GrossRentalIncome", "ParkingIncome", "UtilityReimb", "LateFees",
    "ManagerSalary", "Electricity", "Water", "Insurance", "Repairs",
    "Landscaping", "Administrative", "Marketing", "Janitorial",
]
_HEADERS = ["REVENUES", "EXPENSES", "AdministrativeExpenses", "UtilityExpenses"]
_ROLLUPS = ["TotalRevenues", "TotalExpenses", "NetOperatingIncome"]
_NOTES = [
    "Assumes 5% vacancy", "Audited figures", "Preliminary estimate",
    "Excludes capital reserve", "Per management report",
]


def _fmt_number(rng: np.random.Generator) -> str:
    n = int(rng.integers(1, 999_999))
    s = f"{n:,}"
    if rng.random() < 0.18:
        s = f"({s})"  # accounting negatives (table_extraction.py:106 rule 4)
    if rng.random() < 0.08:
        s = f"${s}"
    if rng.random() < 0.06:
        s = f"{int(rng.integers(1, 99))}.{int(rng.integers(0, 99)):02d}%"
    return s


def _csv_quote(v: str) -> str:
    return f'"{v}"' if ("," in v) else v


def stub_csv(media_ref: str) -> str | None:
    """Deterministic vision-model response for one page image.

    Emits CSV in the reference prompt's output contract
    (Row_Type, Category, numeric columns, optional trailing Notes —
    table_extraction.py:85-118). A seeded fraction of responses
    exercises each defensive path of the reference parser:

    - ``None`` (~3%): page with no table (table_extraction.py:193-195),
    - markdown fences (~20%): fence stripper (table_extraction.py:139-141),
    - a malformed extra-field line (~8%): the ``on_bad_lines='skip'``
      fallback (table_extraction.py:151-153),
    - "( 297)"-style per-cell artifacts (~15%): repair_cell targets
      (data_cleaning.py:7-48),
    - ")("-cascade rows (~10%): cascade fixpoint targets
      (data_cleaning.py:72-163).
    """
    rng = _rng_for(media_ref, salt="csv:")
    if rng.random() < 0.03:
        return None

    n_year_cols = int(rng.integers(2, 6))
    years = [str(2024 - j) for j in range(n_year_cols)]
    with_notes = rng.random() < 0.30
    cols = ["Row_Type", "Category"] + years + (["Notes"] if with_notes else [])

    n_rows = int(rng.integers(3, 13))
    lines = [",".join(cols)]
    cascade_row_at = int(rng.integers(0, n_rows)) if rng.random() < 0.10 else -1
    artifact_p = 0.15 if rng.random() < 0.5 else 0.0
    for i in range(n_rows):
        roll = rng.random()
        if roll < 0.15:
            row_type, cat = "HEADER", str(rng.choice(_HEADERS))
        elif roll < 0.85:
            row_type, cat = "DETAIL", str(rng.choice(_CATEGORIES))
        else:
            row_type, cat = "ROLLUP", str(rng.choice(_ROLLUPS))
        nums = [_fmt_number(rng) for _ in years]
        if i == cascade_row_at and len(nums) >= 3:
            # plant the documented typewriter cascade (data_cleaning.py:79-81)
            base = [n.strip("()$%") for n in nums]
            nums[0] = f"{base[0]} ("
            for j in range(1, len(nums) - 1):
                nums[j] = f"{base[j]})("
            nums[-1] = f"{base[-1]})"
        elif artifact_p and rng.random() < artifact_p:
            j = int(rng.integers(0, len(nums)))
            bare = nums[j].strip("()$%")
            style = rng.random()
            if style < 0.4:
                nums[j] = f"( {bare})"
            elif style < 0.7:
                nums[j] = f"( {bare}"
            else:
                nums[j] = f"(({bare})"
        fields = [row_type, cat] + [_csv_quote(n) for n in nums]
        if with_notes:
            note = (
                str(rng.choice(_NOTES))
                if (row_type == "HEADER" and rng.random() < 0.6)
                else ""
            )
            fields.append(note)
        lines.append(",".join(fields))

    if rng.random() < 0.08 and n_rows > 2:
        # malformed line with stray extra fields -> read_csv ladder level 2.
        # Never the first data row: extra fields there trigger pandas
        # index inference instead of a parse error, producing a
        # MultiIndex frame the reference's cleaners choke on (and skip
        # via their try/except, table_extraction.py:171-182).
        k = int(rng.integers(2, n_rows))
        lines[k] = lines[k] + ",999,999"

    body = "\n".join(lines)
    if rng.random() < 0.20:
        body = "```csv\n" + body + "\n```"
    return body


def _unfenced(csv_content: str | None) -> str | None:
    """The stripped response with a markdown code fence (its first and
    last line) removed, or ``None`` when it is empty."""
    if not csv_content or not csv_content.strip():
        return None
    content = csv_content.strip()
    if content.startswith("```"):
        lines = content.split("\n")
        if len(lines) > 2:
            content = "\n".join(lines[1:-1])
    return content


def parse_vision_csv(csv_content: str | None) -> pd.DataFrame | None:
    """Fence strip + 3-level read_csv fallback ladder
    (table_extraction.py:136-160). Returns None when unparseable or
    empty — the caller skips the page and continues."""
    content = _unfenced(csv_content)
    if content is None:
        return None
    df = None
    try:
        df = pd.read_csv(StringIO(content))
    except Exception:
        try:
            df = pd.read_csv(StringIO(content), on_bad_lines="skip")
        except Exception:
            try:
                df = pd.read_csv(StringIO(content), sep=None, engine="python")
            except Exception:
                return None
    if df is None or df.empty or df.shape[0] == 0 or df.shape[1] == 0:
        return None
    return df


# ---------------------------------------------------------------------------
# V6 fast path — grid parser that bypasses pandas for the common case
# ---------------------------------------------------------------------------

class VISION_FALLBACK:  # noqa: N801 - sentinel, never instantiated
    """Sentinel: the content leaves the proven fast-path grammar; the
    caller must run the spec ``parse_vision_csv`` ladder instead. A
    class (not ``object()``) so cloudpickle ships it by module
    reference and ``is`` identity survives the executor-side
    closure unpickling."""

# pandas' own default NA token set, so the fast path can't drift
_NA_TOKENS = frozenset(STR_NA_VALUES)

# ASCII-only digit classes: Python's \d (and int()) accept Unicode
# digits like '٣', which pandas' C parser leaves as strings
_INT_RE = re.compile(r"-?[0-9]+")
_FLOATISH_RE = re.compile(
    r"[+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?"
    r"|[+-]?[iI][nN][fF](?:[iI][nN][iI][tT][yY])?"
)
_BOOL_TOKENS = frozenset({"TRUE", "True", "FALSE", "False"})
# a line containing '"' must be standard-CSV-quoted exactly (quotes only
# at field boundaries, '""' escapes) or the fast path refuses it
_QUOTED_LINE_RE = re.compile(
    r'(?:[^",]*|"(?:[^"]|"")*")(?:,(?:[^",]*|"(?:[^"]|"")*"))*'
)
_INT64_MIN, _INT64_MAX = -(2**63), 2**63 - 1


def _fast_column(cells: list[str]) -> list[str | None] | object:
    """Stringified cells of one column under pandas read_csv dtype
    inference, restricted to the cases where the result is provably
    identical to ``str()`` over the inferred frame:

    - any-NA tokens -> None (pandas default na_values, exact match);
    - all-int column -> int64 (``"007"`` -> ``"7"``), or float64 when
      NAs are present (``"123"`` -> ``"123.0"``);
    - everything else stays the raw string (object column).

    Returns :data:`VISION_FALLBACK` whenever inference could diverge:
    genuine float columns (strtod formatting), bool tokens (pandas
    converts them even in object columns next to NAs), numeric-or-NA
    tokens wearing surrounding whitespace (pandas strips before
    converting), or ints outside int64.
    """
    na = [c in _NA_TOKENS for c in cells]
    nonna = []
    for c, m in zip(cells, na):
        if m:
            continue
        s = c.strip()
        if s in _BOOL_TOKENS:
            return VISION_FALLBACK
        if s != c and (
            s in _NA_TOKENS or _FLOATISH_RE.fullmatch(s)
        ):
            return VISION_FALLBACK
        nonna.append(c)
    if not nonna:  # all-NA column -> float64 of NaN
        return [None] * len(cells)
    if all(_INT_RE.fullmatch(c) for c in nonna):
        vals = [int(c) for c in nonna]
        if any(v < _INT64_MIN or v > _INT64_MAX for v in vals):
            return VISION_FALLBACK  # pandas int64-overflow edge
        if any(na):  # int64 cannot hold NaN -> pandas widens to float64
            return [
                None if m else str(float(int(c))) for c, m in zip(cells, na)
            ]
        return [str(int(c)) for c in cells]
    if all(_FLOATISH_RE.fullmatch(c) for c in nonna):
        return VISION_FALLBACK  # true float column -> spec ladder decides
    return [None if m else c for c, m in zip(cells, na)]


def parse_vision_grid_fast(
    csv_content: str | None,
) -> tuple[list, list] | None | object:
    """Fast-path equivalent of ``_frame_payload(parse_vision_csv(c))``.

    Returns ``(header, rows)`` as ``str | None`` cells, ``None`` for
    no-table content, or :data:`VISION_FALLBACK` when the content
    leaves the grammar this parser is proven on — the caller then runs
    the spec pandas ladder. Proven identical to the spec composition by
    ``tests/test_vision_fastpath.py`` (stub-corpus sweep + adversarial
    cases); anything unproven falls back rather than guessing.

    Why: ``pd.read_csv`` was 52% of the vision-kernel profile at ~2 ms
    per tiny page frame; this parser is csv.reader + per-column regex
    classification, and the downstream consumer only ever sees the
    stringified grid (operators/extract._frame_payload), so dtype
    inference matters exactly as far as it changes ``str()`` output.
    """
    content = _unfenced(csv_content)
    if content is None:
        return None
    if "\r" in content:
        return VISION_FALLBACK
    lines = [ln for ln in content.split("\n") if ln != ""]
    if len(lines) < 2:  # header-only / empty -> spec ladder decides
        return VISION_FALLBACK
    for ln in lines:
        if '"' in ln and not _QUOTED_LINE_RE.fullmatch(ln):
            return VISION_FALLBACK
    try:
        parsed = list(csv.reader(lines))
    except Exception:
        return VISION_FALLBACK
    header = parsed[0]
    width = len(header)
    if width == 0:
        return VISION_FALLBACK
    seen: set[str] = set()
    for hcell in header:
        # duplicate names mangle ('.1'), empties become 'Unnamed: N',
        # NA-ish or padded names have their own rules -> spec ladder
        if (
            hcell in seen
            or hcell != hcell.strip()
            or hcell in _NA_TOKENS
            or '"' in hcell
        ):
            return VISION_FALLBACK
        seen.add(hcell)
    rows = parsed[1:]
    for row in rows:
        # width mismatch = index inference / NaN padding / bad-lines
        # ladder territory; embedded quotes = tokenizer edge cases
        if len(row) != width or any('"' in c for c in row):
            return VISION_FALLBACK
    cols: list[list[str | None]] = []
    for j in range(width):
        col = _fast_column([row[j] for row in rows])
        if col is VISION_FALLBACK:
            return VISION_FALLBACK
        cols.append(col)
    return list(header), [
        [cols[j][i] for j in range(width)] for i in range(len(rows))
    ]


# ---------------------------------------------------------------------------
# V2/V3 — pixels stub + projection-profile rotation detection
# ---------------------------------------------------------------------------

def _canonical_page_raster(rng: np.random.Generator) -> np.ndarray:
    """A synthetic upright page: dark header band at the top and a dark
    left margin rail, over faint text rows. Ink = darkness in [0,255],
    uint8, asymmetric on both axes so all four rotations score apart."""
    img = np.zeros((_STUB_SIZE, _STUB_SIZE), dtype=np.uint8)
    img[2:6, :] = 220  # header band (top-heavy)
    img[:, 2:5] = 180  # margin rail (left-heavy)
    for r in range(10, _STUB_SIZE - 2, 4):  # text lines
        img[r, 6:-2] = 90
    noise = rng.integers(0, 20, size=img.shape, dtype=np.uint8)
    return img | noise


def rotate_cw(img: np.ndarray, degrees: int) -> np.ndarray:
    """Rotate a square raster clockwise by a multiple of 90 degrees."""
    return np.rot90(img, k=(4 - (degrees // 90)) % 4)


def stub_pixels(media_ref: str) -> tuple[np.ndarray, int]:
    """Deterministic pixel payload for ``media_ref``.

    Returns ``(raster, expected_correction)`` where the correction is
    the clockwise angle that restores upright orientation (the
    Tesseract-OSD ``Rotate:`` convention, image_processing.py:104-106).
    ~5% of pages are near-uniform "ambiguous" rasters whose detection
    confidence fails the >1.0 gate, exercising the no-correction path.
    """
    rng = _rng_for(media_ref, salt="pix:")
    if rng.random() < 0.05:
        flat = np.full((_STUB_SIZE, _STUB_SIZE), 40, dtype=np.uint8)
        return flat, 0
    correction = int(rng.choice([0, 0, 0, 0, 0, 0, 0, 90, 180, 270]))
    canonical = _canonical_page_raster(rng)
    displayed = rotate_cw(canonical, (360 - correction) % 360)
    return displayed, correction


def _uprightness(img: np.ndarray) -> int:
    """Integer asymmetry score: ink mass pulled to the top and the left,
    the signature of :func:`_canonical_page_raster`. Integer sums keep
    the argmax bit-identical everywhere."""
    h, w = img.shape
    q_h, q_w = h // 4, w // 4
    a = img.astype(np.int64)
    return int(
        a[:q_h].sum() - a[h - q_h:].sum() + a[:, :q_w].sum() - a[:, w - q_w:].sum()
    )


def detect_rotation(img: np.ndarray) -> tuple[int, float]:
    """Projection-profile rotation detection.

    Scores the four clockwise candidate corrections and returns
    ``(best_angle, confidence)`` where confidence is the margin between
    the best and runner-up scores scaled to the raster area — analogous
    to OSD's orientation confidence. Ambiguous rasters give margin 0,
    failing the reference's ``confidence > 1.0`` gate.
    """
    scores = [(_uprightness(rotate_cw(img, d)), -d) for d in (0, 90, 180, 270)]
    ranked = sorted(scores, reverse=True)
    best_score, neg_best_angle = ranked[0]
    margin = best_score - ranked[1][0]
    confidence = margin / float(img.size)
    return -neg_best_angle, confidence


def correct_rotation(img: np.ndarray) -> tuple[np.ndarray, int]:
    """Detect + conditionally apply rotation correction.

    Returns ``(corrected, applied_angle)``; applies only when
    ``angle != 0 and confidence > 1.0`` (image_processing.py:141,206).
    """
    angle, confidence = detect_rotation(img)
    if angle != 0 and confidence > ROTATION_CONFIDENCE_GATE:
        return rotate_cw(img, angle), angle
    return img, 0


# ---------------------------------------------------------------------------
# V4 — API-size resize plan (pure math; codecs stubbed out of container)
# ---------------------------------------------------------------------------

def resize_plan(
    width: int,
    height: int,
    encoded_size: int,
    max_size: int = MAX_IMAGE_B64_BYTES,
) -> list[tuple[int, int]]:
    """Dimension ladder the resizer would attempt (image_processing.py:41-79):
    first scale ``0.9 / sqrt(size_ratio)``, then multiply by 0.85 per
    retry, minimum 100x100, at most 10 attempts. Byte size at each step
    is estimated proportionally to pixel count (the reference re-encodes
    to measure; the container has no PNG codec, so the proportional
    model stands in — clearly a stub, same control flow)."""
    if encoded_size <= max_size:
        return []
    scale = (1.0 / math.sqrt(encoded_size / max_size)) * 0.9
    steps: list[tuple[int, int]] = []
    size = encoded_size
    for _ in range(10):
        if size <= max_size:
            break
        new_w = max(int(width * scale), 100)
        new_h = max(int(height * scale), 100)
        steps.append((new_w, new_h))
        size = int(encoded_size * (new_w * new_h) / (width * height))
        scale *= 0.85
    return steps


# ---------------------------------------------------------------------------
# Injectable backend — the production seam for a real vision model
# ---------------------------------------------------------------------------

class VisionBackend:
    """Interface of the vision-inference stage.

    ``infer_batch`` receives a list of media refs (one per page image)
    and returns one CSV string (or None) per ref. The default
    implementation is the deterministic stub; a production deployment
    plugs an API client here — the Spark plan (batched ``mapInPandas``
    stage) is identical either way.
    """

    def infer_batch(self, media_refs: list[str]) -> list[str | None]:
        return [stub_csv(ref) for ref in media_refs]
