"""Oracle gate: committed output read back and compared with golden spans.

A document fails when its committed span sequence is missing,
duplicated or differs from the oracle's, or when its bucket's manifest
row disagrees with the bucket's committed span rows.
"""

from __future__ import annotations

from collections import Counter, defaultdict

_SUMS = (
    ("docs", None),
    ("pages_parsed", "pages_parsed"),
    ("tables_found", "n_tables"),
    ("rotation_corrections", "rotation_corrections"),
    ("quality_retries", "quality_retried"),
)


def check(committed_rows, manifest_rows, gold: dict, key=("bucket",)) -> dict:
    """``committed_rows``: Rows of the committed relation (``doc_id``,
    ``spans``, the metric columns and the partition ``key`` columns);
    ``manifest_rows``: Rows of the manifest. Returns the failed doc ids
    and their reasons."""
    seen = Counter(r.doc_id for r in committed_rows)
    reasons: dict[str, str] = {}
    part_docs = defaultdict(list)
    part_sums = defaultdict(Counter)
    for r in committed_rows:
        part = tuple(r[k] for k in key)
        part_docs[part].append(r.doc_id)
        sums = part_sums[part]
        for m_col, r_col in _SUMS:
            sums[m_col] += 1 if r_col is None else int(r[r_col] or 0)
        want = gold.get(r.doc_id)
        if want is None:
            reasons.setdefault(r.doc_id, "not in input")
            continue
        got = [[s.kind, s.text, s.media_ref, s.order] for s in (r.spans or [])]
        if got != want["spans"]:
            reasons.setdefault(r.doc_id, "spans differ from oracle")
    for doc_id, n in seen.items():
        if n > 1:
            reasons[doc_id] = f"committed {n} times"
    for doc_id in gold:
        if doc_id not in seen:
            reasons[doc_id] = "missing"

    manifest = defaultdict(Counter)
    for m in manifest_rows:
        part = tuple(m[k] for k in key)
        for m_col, _ in _SUMS:
            manifest[part][m_col] += int(m[m_col] or 0)
    for part, docs in part_docs.items():
        if part not in manifest:
            bad = "bucket has no manifest row"
        elif manifest[part] != part_sums[part]:
            bad = "manifest row disagrees with span rows"
        else:
            continue
        for doc_id in docs:
            reasons.setdefault(doc_id, bad)
    failed = {d: why for d, why in reasons.items() if d in gold}
    return {
        "attempted": len(gold),
        "failed": len(failed),
        "reasons": failed,
        "committed": len(seen),
        "retried": len({r.doc_id for r in committed_rows if r.quality_retried}),
    }


def read_batch(spark, out_dir: str):
    from pdf_to_xls_vision_spark.sink.checkpoint import read_committed, read_manifest

    return read_committed(spark, out_dir).collect(), read_manifest(spark, out_dir).collect()


def read_stream(spark, out_dir: str):
    from pdf_to_xls_vision_spark.streaming.ingest import read_stream_committed

    manifest = spark.read.parquet(f"{out_dir}/manifest")
    return read_stream_committed(spark, out_dir).collect(), manifest.collect()
