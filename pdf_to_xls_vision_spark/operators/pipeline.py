"""End-to-end extraction plan assembly (EP2/EP3 as one DataFrame DAG).

Shape (SURVEY.md §4.3)::

    scan(docs)
      -> route = classifier exprs (no UDF)
      -> explode(spans) -> pages                    (pages are the work unit)
      -> repartition(pages)                         (skew leveler: round-robin)
      -> mapInPandas(route dispatch)                one page stage:
           route=text   -> layout parse             T1-T4, Q1-Q6
           route=vision -> vision stage             V1-V7, C1-C3
      -> repartition(doc_id) + sortWithinPartitions(doc_id, page)
      -> mapInPandas(R2 decision, inline vision retry, merge + serialize)
                                    R2 (converter.py:117-132), M1, A1/A3, W1
      -> from_json(spans_json)

The R2 retry decision, the retry itself and the merge all run inside
the per-document group the one doc-keyed shuffle already created, so
each text page is parsed once per plan execution and R2/M1 cost no
extra exchange, aggregate or join.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import numpy as np
import pandas as pd

from pdf_to_xls_vision_spark.core.merge import GridRecord, merge_grid_continuations
from pdf_to_xls_vision_spark.core.spans import (
    grid_notes,
    grid_rollup_rows,
    serialize_grid_spans,
)
from pdf_to_xls_vision_spark.operators.classify import route_expr
from pdf_to_xls_vision_spark.operators.extract import (
    PAGE_SCHEMA,
    decode_tables,
    encode_tables,
    extract_text_pages,
    make_vision_extractor,
)
from pdf_to_xls_vision_spark.core.vision import VisionBackend
from pdf_to_xls_vision_spark.sink.checkpoint import ManifestFold, require_positive

_SPANS_TYPE = (
    "array<struct<kind string, text string, media_ref string, order int>>"
)
#: the per-document metric columns, in result order: declared once for
#: the public schema, the merge UDF's raw schema and the select between
_METRICS = (
    "n_tables int, pages_parsed long, rotation_corrections long, "
    "quality_retried int, rollup_rows long, n_notes long, "
    "validation_status string, pdf_numbers long, table_numbers long, "
    "matched_numbers long, accuracy_pct double, n_missing int, n_extra int"
)
RESULT_SCHEMA = f"doc_id string, spans {_SPANS_TYPE}, {_METRICS}"
#: what the merge UDF actually emits: the span sequence travels the
#: Python->JVM Arrow boundary as ONE compact JSON string per document
#: and is decoded JVM-side with from_json (same physics as the `tables`
#: input column, operators/extract.PAGE_SCHEMA: Arrow/pandas
#: materialize one Python object per nested element, a string column
#: is one buffer; measured ~3x on the input hop at 600k cells/2k docs)
_RAW_RESULT_SCHEMA = f"doc_id string, spans_json string, {_METRICS}"


def _finish_result(raw: DataFrame, *passthrough: str) -> DataFrame:
    """JVM-side restore of the public result schema from the raw merge
    output: parse spans_json into the typed span array (Jackson parse
    inside whole-stage codegen) and re-project the column order.

    Placement matters at scale: from_json allocates heavily (Jackson
    tokens -> UnsafeArrayData per span), and a stage of pure-JVM tasks
    all parsing concurrently allocation-storms the heap — measured at
    32k docs as ~2,200 core-s with ~1,000 GC-s when the parse ran in a
    dense cache-scan stage, vs ~650 core-s fused into the
    Python-throttled merge stage (the merge UDF's Arrow batching caps
    how fast parse input arrives, so allocation stays inside the young
    gen). Callers should keep this select in the same stage as the
    merge UDF, never in a cache-scan/union-only stage. ``passthrough``
    columns follow the result columns unchanged."""
    return raw.selectExpr(
        "doc_id",
        f"from_json(spans_json, '{_SPANS_TYPE}') AS spans",
        *(col.split()[0] for col in _METRICS.split(", ")),
        *passthrough,
    )


def _doc_validation(page_number_lists, grids) -> dict:
    """X4-X6 per document (validation.py:151-229): fold both number
    multisets on the float-or-raw key, compare counts over the key
    union, count matches = sum(min), accuracy = matches/pdf_total*100.

    Documents with no text layer report status 'skipped'
    (validation.py:108-149 — scanned PDFs cannot be validated).
    """
    from collections import Counter

    from pdf_to_xls_vision_spark.core.numbers import (
        extract_numbers_from_grid,
        number_key,
    )

    pdf_tokens = [t for lst in page_number_lists for t in lst]
    if not pdf_tokens:
        return {
            "validation_status": "skipped",
            "pdf_numbers": 0,
            "table_numbers": 0,
            "matched_numbers": 0,
            "accuracy_pct": 0.0,
            "n_missing": 0,
            "n_extra": 0,
        }
    pdf_counts = Counter(number_key(t) for t in pdf_tokens)
    table_counts: Counter = Counter()
    for header, rows in grids:
        table_counts.update(
            number_key(t) for t in extract_numbers_from_grid(header, rows)
        )

    keys = set(pdf_counts) | set(table_counts)
    matches = sum(min(pdf_counts[k], table_counts[k]) for k in keys)
    missing = sum(1 for k in keys if table_counts[k] < pdf_counts[k])
    extra = sum(1 for k in keys if table_counts[k] > pdf_counts[k])
    total_pdf = sum(pdf_counts.values())
    accuracy = (matches / total_pdf * 100) if total_pdf > 0 else 0.0
    return {
        "validation_status": "completed",
        "pdf_numbers": total_pdf,
        "table_numbers": sum(table_counts.values()),
        "matched_numbers": matches,
        "accuracy_pct": round(accuracy, 2),
        "n_missing": missing,
        "n_extra": extra,
    }


def make_page_dispatch(text_parse, vision_extract):
    """Build the page stage's ``mapInPandas`` function: split each
    batch by ``route``, run the text rows through ``text_parse`` and
    the vision rows through ``vision_extract`` (each called once per
    non-empty part), and emit their ``PAGE_SCHEMA`` rows, the text
    part's rows first."""

    def extract_pages(batches):
        for batch in batches:
            text = (batch["route"] == "text").to_numpy()
            parts = [
                out
                for kernel, mask in ((text_parse, text), (vision_extract, ~text))
                if mask.any()
                for out in kernel(iter([batch[mask].reset_index(drop=True)]))
            ]
            if parts:
                yield pd.concat(parts, ignore_index=True)

    return extract_pages


def _merge_doc_arrays(cols: dict, s: int, e: int, quality_retried: int = 0) -> dict:
    """Per-document reduce over the page rows [s:e), which arrive in
    page order: rebuild the table records (a page's tables numbered
    from 1 in list order), M1-merge, serialize the ordered span
    sequence, and compute per-doc metrics. A table's span carries its
    page's ``media_ref`` on vision rows and ``""`` on text rows."""
    records = [
        GridRecord(
            header=header,
            rows=rows,
            page=int(cols["page"][i]),
            table_id=t_id,
            media_ref=cols["media_ref"][i] if cols["is_vision"][i] else "",
        )
        for i in range(s, e)
        for t_id, (header, rows) in enumerate(
            decode_tables(cols["tables"][i]), start=1
        )
    ]
    merged = merge_grid_continuations(records)
    spans = serialize_grid_spans(merged)
    rollups = sum(grid_rollup_rows(r.header, r.rows) for r in merged)
    notes = sum(len(grid_notes(r.header, r.rows)) for r in merged)
    validation = _doc_validation(
        [list(p) for p in cols["page_numbers"][s:e]],
        [(r.header, r.rows) for r in merged],
    )
    return {
        "doc_id": cols["doc_id"][s],
        "spans_json": json.dumps(
            spans, ensure_ascii=False, separators=(",", ":")
        ),
        "n_tables": len(merged),
        "pages_parsed": e - s,
        "rotation_corrections": int(cols["rotation_corrected"][s:e].sum()),
        "quality_retried": quality_retried,
        "rollup_rows": int(rollups),
        "n_notes": int(notes),
        **validation,
    }


_NO_TABLES = encode_tables([])


def _merge_doc(cols: dict, s: int, e: int, vision_extractor) -> dict:
    """R2 (converter.py:117-132) from the document's own rows, then the
    merge. A text-routed document goes back through vision when any
    table has a quality issue or when it yields no table at all: its
    text pages run through ``vision_extractor`` as one batch, and that
    output is merged instead of the parse's.

    Each text page row brings the page's source ``media_ref`` (the
    vision stage's input) and its validation numbers. The page text
    itself does not cross the exchange: the vision stage would derive
    the same numbers from the same word tokens, so the text rows'
    ``page_numbers`` replace the vision rows' (one row per page, in
    input order)."""
    if cols["is_vision"][s] or not (
        cols["has_issue"][s:e].any()
        or all(t == _NO_TABLES for t in cols["tables"][s:e])
    ):
        return _merge_doc_arrays(cols, s, e)
    batch = pd.DataFrame(
        {
            "doc_id": cols["doc_id"][s:e],
            "route": "text",
            "page": cols["page"][s:e],
            "kind": None,
            "text": None,
            "media_ref": cols["media_ref"][s:e],
        }
    )
    out = pd.concat(vision_extractor(iter([batch])), ignore_index=True)
    retried = {c: out[c].to_numpy() for c in out.columns}
    retried["page_numbers"] = cols["page_numbers"][s:e]
    return _merge_doc_arrays(retried, 0, len(out), quality_retried=1)


def make_merge(vision_extractor, fold=None):
    """Build the merge stage's ``mapInPandas`` function. Rows arrive
    hash-partitioned by doc_id and sorted by (doc_id, page) within the
    partition, so each document is a contiguous run in page order. Arrow
    batches don't respect those runs: each batch's document boundaries
    are found once, its complete documents are merged (``_merge_doc``),
    and its last, possibly incomplete, document is held back and
    stitched onto the next batch; a 3000-row document simply
    accumulates across batches until its run ends. This replaces a
    groupBy().applyInPandas whose pandas-frame-per-group overhead
    (~13ms/doc x one frame per document) dominated the merge stage's
    executor time. With ``fold``, each output frame gets its
    documents' ``bucket`` and is added to ``fold``."""

    def merged(cols: dict, starts: list, ends: list) -> pd.DataFrame:
        out = pd.DataFrame(
            [_merge_doc(cols, s, e, vision_extractor) for s, e in zip(starts, ends)]
        )
        if fold is not None:
            out["bucket"] = cols["bucket"][starts]
            fold.add(out)
        return out

    def merge_partition(batches):
        pending = None
        for b in batches:
            if pending is not None:
                b = pd.concat([pending, b], ignore_index=True)
            cols = {c: b[c].to_numpy() for c in b.columns}
            ids = cols["doc_id"]
            starts = [0, *(np.flatnonzero(ids[1:] != ids[:-1]) + 1).tolist()]
            pending = b.iloc[starts[-1]:]
            if len(starts) > 1:
                yield merged(cols, starts[:-1], starts[1:])
        if pending is not None and len(pending):
            cols = {c: pending[c].to_numpy() for c in pending.columns}
            yield merged(cols, [0], [len(pending)])

    return merge_partition


def explode_pages(docs: DataFrame, force_vision: bool = False) -> DataFrame:
    """Classify docs (column exprs only) and explode to the page relation."""
    # the route is projected before the explode: in the explode's own
    # select it would be evaluated once per page over the whole span
    # array, which every page row would then carry (1.7x the wall time
    # of a warm 4,000-doc job at local[4])
    return (
        docs.withColumn("route", route_expr(force_vision))
        .select("doc_id", "route", F.explode("spans").alias("span"))
        .selectExpr(
            "doc_id",
            "route",
            "span.offset + 1 AS page",
            "span.kind AS kind",
            "span.text AS text",
            "span.media_ref AS media_ref",
        )
    )


def run_extraction(
    docs: DataFrame,
    force_vision: bool = False,
    backend: VisionBackend | None = None,
    page_partitions: int | None = None,
    fold: ManifestFold | None = None,
) -> DataFrame:
    """The full extraction pipeline; returns the result relation
    ``(doc_id, spans, …metrics)``.

    A commit passes ``fold`` (``sink/checkpoint.ManifestFold``): each
    row then carries its ``bucket`` (``fold.bucket``, evaluated in the
    JVM before the doc-keyed exchange) through the merge into the
    result's last column, and the merge UDF adds every document's
    manifest metrics to ``fold``. Without it the plan is unchanged.

    One linear DAG: one page stage parses the text-route pages and runs
    the vision-route pages through the vision stage, dispatching each
    Arrow batch by ``route`` (``make_page_dispatch``), and the merge
    UDF makes the R2 retry decision from each document's own rows. A
    retried document's text pages run through the vision stage inside
    its merge task, once. So every UDF runs once per input row per plan
    execution, with no aggregate, join or cache on the side.

    **Why one page stage**: with one ``mapInPandas`` per route over a
    ``route`` filter, Catalyst pushed each filter below the round-robin
    ``repartition``. The input was scanned twice, each branch had its own
    page exchange, and each plan execution ran two sets of ``n_parts``
    Python tasks, plus a ``Union``. The dispatching stage reads one scan
    through one page exchange in ``n_parts`` tasks; a Python task's
    fixed cost, not its kernel, dominates small jobs.

    **Why every page shuffles** (SURVEY.md §4.2 — AQE cannot see UDF
    compute skew, so the leveling is ours): the round-robin
    ``repartition`` does two jobs at once. (1) Skew: a 1000-page doc
    spreads over the cluster instead of pinning one task. (2)
    Parallelism decoupling: the parse stage is CPU-bound, so a
    byte-sized input split (128 MB of compressed payloads = tens of
    thousands of pages) is far too coarse a unit of work. A selective
    variant that shuffled only heavy-tail docs (``size(spans) >
    skew_threshold``) and parsed small docs in their scan partitions
    was measured 25-50% SLOWER on the skewed corpus: the no-shuffle
    branch collapsed onto the input's few byte-balanced splits and ran
    the parse near-serial.

    **The skew trade-off of the inline retry**: the vision pages of a
    retried document are not levelled — they run in the one merge task
    that owns the document. Retried documents are few, so this costs
    less than the second pass over every text page that a separate
    retry decision needs. Measured with one 800-page retried document
    in a 220-document corpus at local[4]: the longest merge task went
    from 0.7-1.0 s to 1.2-1.7 s while the job's wall time fell. A
    corpus dominated by long retried documents would want those pages
    salted back through the page shuffle.

    **Why the merge partitions explicitly**: ``repartition(n, doc_id)``
    + in-partition sort + ``mapInPandas`` with cross-batch group
    stitching keeps the Python-bound merge at full parallelism. AQE's
    byte-based coalescing shrank a ``groupBy().applyInPandas`` exchange
    to 23 partitions on the 8000-doc corpus (33 MB looks tiny to AQE,
    but the stage cost is Python compute, not bytes).
    """
    require_positive(page_partitions=page_partitions)
    spark = docs.sparkSession
    n_parts = page_partitions or spark.sparkContext.defaultParallelism * 2
    # resolved through this module's names at plan-build time, so a
    # caller can wrap either stage here (probes, tests)
    vision_extractor = make_vision_extractor(backend)
    extracted = (
        explode_pages(docs, force_vision)
        .repartition(n_parts)
        .mapInPandas(
            make_page_dispatch(extract_text_pages, vision_extractor),
            PAGE_SCHEMA,
        )
    )
    schema, passthrough = _RAW_RESULT_SCHEMA, ()
    if fold is not None:
        extracted = extracted.withColumn("bucket", fold.bucket)
        schema, passthrough = f"{schema}, bucket int", ("bucket",)
    merged = (
        extracted.repartition(n_parts, "doc_id")
        .sortWithinPartitions("doc_id", "page")
        .mapInPandas(make_merge(vision_extractor, fold), schema)
    )
    return _finish_result(merged, *passthrough)
