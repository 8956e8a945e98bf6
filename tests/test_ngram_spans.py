"""duplicate_ngram_spans (functions/dedup.py): exact substring dedup
at word n-gram granularity, checked against an in-Python brute model
(independent shape: dict-of-gram occurrence lists + linear interval
merge vs the engine's hash-agg + window islands)."""

from __future__ import annotations

import pytest

from operator_zoo.functions.dedup import duplicate_ngram_spans


def _model(rows: list[tuple[int, str]], n: int) -> set[tuple[int, int, int, int]]:
    """Brute reference: gram -> ordered occurrence list, every
    non-first occurrence marks [pos, pos+n-1]; merge touching/overlap
    intervals per doc with a linear sweep."""
    occs: dict[str, list[tuple[int, int]]] = {}
    toks = {d: [t for t in text.split(" ") if t] for d, text in rows}
    for d in sorted(toks):
        ts = toks[d]
        for p in range(len(ts) - n + 1):
            occs.setdefault(" ".join(ts[p : p + n]), []).append((d, p))
    marks: dict[int, list[tuple[int, int]]] = {}
    for lst in occs.values():
        for d, p in sorted(lst)[1:]:
            marks.setdefault(d, []).append((p, p + n - 1))
    out = set()
    for d, ivs in marks.items():
        ivs.sort()
        cur_s, cur_e = ivs[0]
        for s, e in ivs[1:]:
            if s <= cur_e + 1:
                cur_e = max(cur_e, e)
            else:
                out.add((d, cur_s, cur_e, cur_e - cur_s + 1))
                cur_s, cur_e = s, e
        out.add((d, cur_s, cur_e, cur_e - cur_s + 1))
    return out


def _run(spark, rows, n):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_words)
        for r in duplicate_ngram_spans(df, n=n).collect()
    }
    assert got == _model(rows, n)
    return got


def test_cross_doc_spans_and_first_writer_canonical(spark):
    rows = [
        (1, "a b c x y z p q r"),  # all grams canonical (first writer)
        (2, "m a b c k x y z"),  # two disjoint duplicated regions
        (3, "a b c x y z w"),  # chained dup grams merge into one span
    ]
    got = _run(spark, rows, n=3)
    assert (2, 1, 3, 3) in got and (2, 5, 7, 3) in got
    assert (3, 0, 5, 6) in got
    assert not any(d == 1 for d, *_ in got)  # doc1 is canonical everywhere


def test_self_repetition_marks_all_but_first(spark):
    rows = [(4, "u v w u v w u v w")]
    assert _run(spark, rows, n=3) == {(4, 3, 8, 6)}


def test_short_docs_and_no_dups_yield_nothing(spark):
    rows = [(1, "a b"), (2, "c d e f"), (3, "g h i j")]
    assert _run(spark, rows, n=3) == set()


def test_validation(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="n must be"):
        duplicate_ngram_spans(df, n=1)
