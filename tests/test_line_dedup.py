"""corpus_line_dedup (functions/dedup.py) vs an independent sequential
model — dict-counting over explicit word windows, a different shape
from the explode/anti-join plan. Registry parity covers the DuckDB
replay (`dedup_corpus_lines`).
"""

from __future__ import annotations

import pytest

from operator_zoo.functions.dedup import corpus_line_dedup


def _model(docs, lw=5, min_total=3, min_docs=2):
    lines = {}  # doc_id -> [line, ...]
    for doc_id, text in docs:
        ws = text.split(" ")
        n = (len(ws) + lw - 1) // lw
        lines[doc_id] = [" ".join(ws[i * lw : i * lw + lw]) for i in range(n)]
    total, owners = {}, {}
    for doc_id, ls in lines.items():
        for l in ls:
            total[l] = total.get(l, 0) + 1
            owners.setdefault(l, set()).add(doc_id)
    dup = {
        l
        for l in total
        if total[l] >= min_total and len(owners[l]) >= min_docs
    }
    out = {}
    for doc_id, ls in lines.items():
        kept = [l for l in ls if l not in dup]
        out[doc_id] = (" ".join(kept), len(ls), len(ls) - len(kept))
    return out


def _run(spark, docs, **kw):
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    return {
        r["doc_id"]: (r["clean_text"], r["n_lines"], r["n_removed"])
        for r in corpus_line_dedup(df, **kw).collect()
    }


BOILER = "click here to accept cookies"  # 5 words -> one aligned line
DOCS = [
    (1, BOILER + " alpha beta gamma delta eps unique tail one"),
    (2, BOILER + " zeta eta theta iota kappa unique tail two"),
    (3, BOILER + " the only doc three body"),
    (4, "no boilerplate here at all just original text runs"),
]


def test_line_dedup_matches_model(spark):
    assert _run(spark, DOCS) == _model(DOCS)
    # the boilerplate line really was removed from every carrier
    got = _run(spark, DOCS)
    for d in (1, 2, 3):
        assert BOILER not in got[d][0] and got[d][2] == 1
    assert got[4][2] == 0


def test_line_dedup_identity_when_no_dups(spark):
    docs = [(1, "a b c d e f g"), (2, "h i j k l m n")]
    got = _run(spark, docs)
    assert got == _model(docs)
    for doc_id, text in docs:
        assert got[doc_id][0] == text  # reassembly is lossless


def test_line_dedup_thresholds(spark):
    # two docs x one shared line: total=2 < min_total=3 -> kept;
    # min_total=2 -> removed; min_docs=3 protects it again
    docs = [(1, BOILER), (2, BOILER)]
    assert _run(spark, docs)[1][2] == 0
    assert _run(spark, docs, min_total=2)[1][2] == 1
    assert _run(spark, docs, min_total=2, min_docs=3)[1][2] == 0


def test_line_dedup_all_lines_removed(spark):
    docs = [(i, BOILER) for i in range(1, 4)]
    got = _run(spark, docs)
    assert got == _model(docs)
    assert got[1] == ("", 1, 1)


def test_line_dedup_rejects_bad_width(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    with pytest.raises(ValueError):
        corpus_line_dedup(df, line_words=0)
