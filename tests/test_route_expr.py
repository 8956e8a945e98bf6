"""``route_expr`` routes every document the way ``tests/oracle.py``'s
first pass does, with and without ``force_vision``."""

import pytest

from pdf_to_xls_vision_spark.corpus import generate_corpus
from pdf_to_xls_vision_spark.operators.classify import route_expr
from pdf_to_xls_vision_spark.sources.span_docs import SPAN_DOC_SCHEMA


def _oracle_route(spans, force_vision):
    """The first-pass route of ``oracle.oracle_document``: vision when
    every page is an image, an image is among the first 3 pages, or
    ``force_vision``."""
    pages = sorted(spans, key=lambda s: s["offset"])
    kinds = [s["kind"] for s in pages]
    all_image = all(k == "image" for k in kinds)
    image_based = any(k == "image" for k in kinds[:3])
    return "vision" if all_image or image_based or force_vision else "text"


def _span(kind, offset):
    return {"kind": kind, "text": "", "media_ref": "", "offset": offset}


_EDGE = [
    ("empty", []),
    ("null-kind", [_span(None, 0)]),
    ("null-then-image", [_span(None, 0), _span("image", 1)]),
    ("text-then-null", [_span("text", 0), _span(None, 1)]),
    ("image-at-offset-2", [_span("text", i) for i in (0, 1)] + [_span("image", 2)]),
    (
        "image-at-offset-3",
        [_span("text", i) for i in (0, 1, 2)] + [_span("image", 3)],
    ),
    ("all-image", [_span("image", i) for i in range(5)]),
    ("all-text", [_span("text", i) for i in range(5)]),
]


@pytest.mark.parametrize("force_vision", [False, True])
def test_route_matches_the_oracle(spark, force_vision):
    docs = generate_corpus(0) + _EDGE
    df = spark.createDataFrame(docs, SPAN_DOC_SCHEMA)
    got = {
        r.doc_id: r.route
        for r in df.select("doc_id", route_expr(force_vision).alias("route")).collect()
    }
    want = {d: _oracle_route(spans, force_vision) for d, spans in docs}
    assert got == want
    # the edge documents take the routes they are here for
    if not force_vision:
        assert {d: got[d] for d, _ in _EDGE} == {
            "empty": "vision",
            "null-kind": "text",
            "null-then-image": "vision",
            "text-then-null": "text",
            "image-at-offset-2": "vision",
            "image-at-offset-3": "text",
            "all-image": "vision",
            "all-text": "text",
        }
