"""Manifest-vs-spans consistency, shared by the batch and stream sink
tests: every manifest row equals the sums over its partition's
committed span rows."""

from collections import Counter, defaultdict

import pytest

#: manifest column -> extraction-result column it sums (None: row count)
_SUMS = {
    "docs": None,
    "pages_parsed": "pages_parsed",
    "tables_found": "n_tables",
    "rotation_corrections": "rotation_corrections",
    "quality_retries": "quality_retried",
}


def assert_manifest_matches_spans(manifest_rows, span_rows, keys):
    """Each partition (the values of ``keys``) has one manifest row
    whose ``docs`` and metric sums equal the sums over its committed
    span rows and whose ``accuracy_pct`` is the mean over its
    ``completed`` docs (null without one). Returns the partitions whose
    manifest row has no span rows."""
    sums = defaultdict(Counter)
    accuracy = defaultdict(list)
    for r in span_rows:
        part = tuple(r[k] for k in keys)
        sums[part].update(
            {name: 1 if src is None else r[src] for name, src in _SUMS.items()}
        )
        if r.validation_status == "completed":
            accuracy[part].append(r.accuracy_pct)
    rows = {tuple(r[k] for k in keys): r for r in manifest_rows}
    assert len(rows) == len(manifest_rows), "more than one row per partition"
    assert set(sums) <= set(rows), set(sums) - set(rows)
    for part, row in rows.items():
        for col in _SUMS:
            assert row[col] == sums.get(part, Counter())[col], (part, col)
        acc = accuracy.get(part)
        if acc:
            assert row.accuracy_pct == pytest.approx(sum(acc) / len(acc), abs=0.006)
        else:
            assert row.accuracy_pct is None, part
    return set(rows) - set(sums)
