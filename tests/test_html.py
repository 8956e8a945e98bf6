"""HTML boilerplate strip / main-content extraction (north-rule
parenthetical). Golden equality on the deterministic HTML corpus and
kernel edge cases."""

from __future__ import annotations

import re

from operator_zoo.functions.html import (
    main_content_of,
    strip_tags_expr,
    synthesize_html,
)


def test_main_content_golden_corpus():
    docs = synthesize_html(100)
    for d in docs:
        assert main_content_of(d["html"]) == d["golden_main"], d["doc_id"]


def test_main_content_drops_boilerplate_kinds():
    nav = '<nav><a href="/a">AAAA BBBB CCCC DDDD EEEE FFFF GGGG HHHH</a></nav>'
    ad = '<div><a href="/x">buy buy buy buy buy buy buy buy buy buy buy</a></div>'
    para = "<p>" + "content word " * 20 + "</p>"
    short = "<p>too short</p>"
    script = "<script>var boilerplate = 'content content content';</script>"
    html = f"<body>{nav}{ad}{para}{short}{script}</body>"
    out = main_content_of(html)
    assert "content word" in out
    assert "buy" not in out          # link-density kill
    assert "AAAA" not in out         # nav is pure anchors
    assert "too short" not in out    # min length
    assert "boilerplate" not in out  # script stripped


def test_main_content_empty_and_plain():
    assert main_content_of("") == ""
    assert main_content_of(None or "") == ""
    # plain text with no markup: one big block, zero markup chars ->
    # max(markup,1) keeps density finite and the text survives
    plain = "word " * 30
    assert main_content_of(plain).startswith("word word")


def test_strip_tags_expr_spark(spark):
    df = spark.createDataFrame(
        [
            (
                "<html><style>.x{}</style><body><p>A &amp; B</p>"
                "<script>no()</script><!-- c -->&nbsp;tail</body></html>",
            ),
            ("no markup at all",),
            ("<a href='/x'>link&#39;s</a> text",),
        ],
        "html string",
    )
    got = [r.out for r in df.select(strip_tags_expr("html").alias("out")).collect()]
    assert got == ["A & B tail", "no markup at all", "link's text"]


def test_block_thresholds_are_documented_values():
    # pin the public-heuristic constants the corpus generator relies on
    from operator_zoo.functions import html as H

    assert (H.MIN_BLOCK_CHARS, H.MAX_LINK_DENSITY, H.MIN_TEXT_DENSITY) == (
        40,
        0.33,
        2.0,
    )
    # regression: anchors contribute their text to the block but their
    # markup pushes text density down; a paragraph with one inline link
    # still survives
    para = (
        "<p>"
        + "lots of prose here " * 10
        + '<a href="/ref">see the schedule</a> and more prose follows here'
        + "</p>"
    )
    assert "see the schedule" in main_content_of(f"<body>{para}</body>")
