"""One pass per UDF: every text page enters the layout parse once per
plan execution, and a retried document's text pages enter the vision
stage once, inside the doc-keyed merge that makes the R2 decision.

The two stages are wrapped under the names ``operators.pipeline``
resolves them by when it builds the plan, with accumulators counting
the rows that go in."""

from __future__ import annotations

import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pdf_to_xls_vision_spark.corpus import corpus_to_arrow
from pdf_to_xls_vision_spark.operators import pipeline
from pdf_to_xls_vision_spark.operators.pipeline import explode_pages, run_extraction
from pdf_to_xls_vision_spark.sink.checkpoint import (
    ManifestFold,
    run_checkpointed_extraction,
)
from tests.oracle import oracle_corpus, oracle_document_metrics

_ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.fixture
def counters(spark, monkeypatch):
    """Row counters on the text parse and on the vision stage, split by
    route (``route="text"`` rows entering vision are R2 retries)."""
    sc = spark.sparkContext
    counts = {k: sc.accumulator(0) for k in ("text", "vision", "retry")}
    orig_text = pipeline.extract_text_pages
    orig_make = pipeline.make_vision_extractor

    def extract_text_pages(batches):
        def counted():
            for b in batches:
                counts["text"].add(len(b))
                yield b

        return orig_text(counted())

    def make_vision_extractor(backend=None):
        inner = orig_make(backend)

        def extract_vision_pages(batches):
            def counted():
                for b in batches:
                    n_retry = int((b["route"] == "text").sum())
                    counts["retry"].add(n_retry)
                    counts["vision"].add(len(b) - n_retry)
                    yield b

            return inner(counted())

        return extract_vision_pages

    monkeypatch.setattr(pipeline, "extract_text_pages", extract_text_pages)
    monkeypatch.setattr(pipeline, "make_vision_extractor", make_vision_extractor)
    return counts


def _pages_by_route(docs, force_vision=False) -> dict:
    rows = explode_pages(docs, force_vision).groupBy("route").count().collect()
    return {r.route: r["count"] for r in rows}


def test_each_page_parsed_once_and_retried_once(
    spark, tiny_corpus_path, tiny_corpus, counters
):
    docs = spark.read.parquet(tiny_corpus_path)
    res = run_extraction(docs).collect()
    pages = _pages_by_route(docs)
    retried = {
        doc_id: len(spans)
        for doc_id, spans in tiny_corpus
        if oracle_document_metrics(doc_id, spans)["quality_retried"]
    }
    assert retried, "the tiny corpus must exercise R2"
    assert {r.doc_id for r in res if r.quality_retried} == set(retried)

    assert counters["text"].value == pages["text"]
    assert counters["retry"].value == sum(retried.values())
    assert counters["vision"].value == pages["vision"]


def test_force_vision_parses_nothing(spark, tiny_corpus_path, counters):
    docs = spark.read.parquet(tiny_corpus_path)
    res = run_extraction(docs, force_vision=True)
    assert res.filter(F.col("quality_retried") == 1).count() == 0
    assert counters["text"].value == 0
    assert counters["retry"].value == 0
    assert counters["vision"].value == _pages_by_route(docs, True)["vision"]


def test_checkpointed_commit_runs_the_plan_twice(
    spark, tiny_corpus_path, tiny_corpus, counters, tmp_path
):
    """The CLI path commits a group with one plan execution: the spans
    write, whose merge tasks also fold the manifest metrics, so each
    UDF sees each of its pages once, as in plain ``run_extraction``.
    (The name is kept from when the manifest aggregate ran the plan a
    second time.)"""
    docs = spark.read.parquet(tiny_corpus_path)
    run_checkpointed_extraction(docs, str(tmp_path / "out"), n_buckets=4)
    pages = _pages_by_route(docs)
    retried = sum(
        len(spans)
        for doc_id, spans in tiny_corpus
        if oracle_document_metrics(doc_id, spans)["quality_retried"]
    )
    assert counters["text"].value == pages["text"]
    assert counters["vision"].value == pages["vision"]
    assert counters["retry"].value == retried


def _exchange_above_merge(node, above=False) -> list:
    """For each merge ``MapInPandas`` (the one reading a ``Sort``) under
    the physical plan ``node``: whether an ``Exchange`` sits between it
    and the root."""
    name = node.nodeName()
    children = [node.children().apply(i) for i in range(node.children().size())]
    if name == "MapInPandas" and any(c.nodeName() == "Sort" for c in children):
        return [above]
    above = above or "Exchange" in name
    return [hit for c in children for hit in _exchange_above_merge(c, above)]


def test_fold_merge_runs_in_the_writes_result_stage(spark, tiny_corpus_path):
    """The manifest fold is exactly-once only because the merge UDF runs
    in the stage that writes the spans: Spark applies a result task's
    accumulator update once, from the attempt whose output it keeps. So
    no exchange may sit above the merge in the written relation, the
    stream's ``ingest_batch`` projection included."""
    docs = spark.read.parquet(tiny_corpus_path)
    result = run_extraction(docs, fold=ManifestFold(spark, 8))
    assert result.columns[-1] == "bucket"
    for written in (result, result.withColumn("ingest_batch", F.lit(3))):
        plan = written._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.inputPlan()
        assert _exchange_above_merge(plan) == [False]


def _merge_sort_keys(node) -> list:
    """For each merge ``MapInPandas`` (the one reading a ``Sort``) under
    the physical plan ``node``: the columns that ``Sort`` orders by."""
    children = [node.children().apply(i) for i in range(node.children().size())]
    sorts = [c for c in children if c.nodeName() == "Sort"]
    if node.nodeName() == "MapInPandas" and sorts:
        order = sorts[0].sortOrder()
        return [[order.apply(i).child().name() for i in range(order.size())]]
    return [keys for c in children for keys in _merge_sort_keys(c)]


@pytest.mark.parametrize("with_fold", [False, True], ids=["plain", "fold"])
def test_merge_reads_each_document_in_page_order(
    spark, tiny_corpus, tmp_path, with_fold
):
    """The merge builds a document's table records in the order its
    rows arrive, so the doc-keyed exchange's in-partition sort must put
    them in page order: by ``doc_id``, then ``page``. The corpus gets
    its own path, so no relation another test cached stands in for the
    plan."""
    path = str(tmp_path / "order.parquet")
    pq.write_table(corpus_to_arrow(tiny_corpus), path)
    docs = spark.read.parquet(path)
    fold = ManifestFold(spark, 8) if with_fold else None
    plan = run_extraction(docs, fold=fold)._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    assert _merge_sort_keys(plan) == [["doc_id", "page"]]


def _plan_nodes(node) -> list[str]:
    """``simpleString`` of every node under the physical plan ``node``."""
    children = [node.children().apply(i) for i in range(node.children().size())]
    return [node.simpleString(100), *(s for c in children for s in _plan_nodes(c))]


@pytest.mark.parametrize("with_fold", [False, True], ids=["plain", "fold"])
def test_one_scan_one_page_exchange_one_page_stage(
    spark, tiny_corpus, tmp_path, with_fold
):
    """The page stage dispatches by route inside one ``mapInPandas``:
    the input is scanned once and shuffled through one round-robin
    exchange, with no per-route branch and no ``Union``. A ``route``
    filter per branch would be pushed below the repartition and scan
    the input once per branch. The corpus gets its own path, so no
    relation another test cached stands in for the plan."""
    path = str(tmp_path / "plan.parquet")
    pq.write_table(corpus_to_arrow(tiny_corpus), path)
    docs = spark.read.parquet(path)
    fold = ManifestFold(spark, 8) if with_fold else None
    plan = run_extraction(docs, fold=fold)._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    nodes = _plan_nodes(plan)

    def count(prefix: str, needle: str = "") -> int:
        return sum(1 for n in nodes if n.startswith(prefix) and needle in n)

    assert count("FileScan") == 1, nodes
    assert count("Exchange", "RoundRobinPartitioning") == 1, nodes
    assert count("Union") == 0, nodes
    assert count("MapInPandas") == 2, nodes


def test_page_explode_carries_no_span_array(spark, tiny_corpus_path):
    """The route is computed once per document, before the explode, so
    the exploded page rows do not carry the document's span array.
    Computed in the explode's own select, the route ran once per page
    over the whole array that each page row then carried, and the warm
    4,000-doc job took 1.7x as long."""
    docs = spark.read.parquet(tiny_corpus_path)
    plan = explode_pages(docs)._jdf.queryExecution().executedPlan()
    generates = [n for n in _plan_nodes(plan) if n.startswith("Generate")]
    assert len(generates) == 1, generates
    carried = re.match(r"Generate explode\(spans#\d+\), \[([^\]]*)\]", generates[0])
    assert carried, generates[0]
    assert "spans" not in [a.split("#")[0] for a in carried.group(1).split(", ")]


def _multi_page(doc_id: str, *pages: dict) -> tuple:
    return (
        doc_id,
        [{**span, "offset": i} for i, span in enumerate(pages)],
    )


def test_merge_stitching_with_one_row_arrow_batches(spark, tiny_corpus, tmp_path):
    """With one row per Arrow batch every multi-row document straddles
    batch boundaries in the merge, so the held-back trailing group must
    be stitched whole before R2 is decided and the retry runs. Two
    multi-page retried documents are added to the tiny corpus: a
    zero-table one and one whose first page has a quality issue."""
    by_id = dict(tiny_corpus)
    empty = next(s for d, s in tiny_corpus if d.startswith("doc-pin-empty"))
    docs = tiny_corpus + [
        _multi_page("doc-stitch-empty", *empty * 3),
        _multi_page(
            "doc-stitch-q1", *by_id["doc-pin-q1"], *by_id["doc-pin-continuation"]
        ),
    ]
    path = str(tmp_path / "stitch.parquet")
    pq.write_table(corpus_to_arrow(docs), path)

    old = spark.conf.get(_ARROW_BATCH)
    spark.conf.set(_ARROW_BATCH, "1")
    try:
        rows = {r.doc_id: r for r in run_extraction(spark.read.parquet(path)).collect()}
    finally:
        spark.conf.set(_ARROW_BATCH, old)

    want = oracle_corpus(docs)
    got = {
        doc_id: [
            {"kind": s.kind, "text": s.text, "media_ref": s.media_ref, "order": s.order}
            for s in row.spans
        ]
        for doc_id, row in rows.items()
    }
    assert got == want

    pinned = [
        (d, s)
        for d, s in docs
        if d.startswith(("doc-pin-empty", "doc-pin-q", "doc-stitch-"))
    ]
    assert len(pinned) == 9
    for doc_id, spans in pinned:
        exp = oracle_document_metrics(doc_id, spans)
        row = rows[doc_id]
        assert row.quality_retried == 1, doc_id
        for k in (
            "n_tables", "pages_parsed", "rotation_corrections",
            "validation_status", "accuracy_pct",
        ):
            assert row[k] == exp[k], (doc_id, k)
