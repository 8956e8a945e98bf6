"""Benchmark inputs: seeded corpora, the streaming backlog and golden spans.

Every input is a pure function of the ``--seed`` argument. The program
under test only ever sees the parquet files written here.

Corpus volume is held steady across seeds. The generator's page-count
draw is heavy-tailed (one 600-1,000-page document swings a small
corpus's work by several times), so the corpus seed is the first
candidate derived from ``--seed`` whose text-routed and vision-routed
page totals land within ``PAGE_BAND`` of the size's targets and whose
largest random document stays at or under ``MAX_DOC_PAGES``. Seeds then
vary document content, table shapes and retry decisions, not the
amount of work.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np

from pdf_to_xls_vision_spark.corpus import (
    _sample_page_count,
    corpus_to_arrow,
    generate_corpus,
    write_corpus_parquet,
)

#: random documents per corpus (the 19 pinned edge documents come on top):
#: ``bench`` for the CLI workloads, ``stream`` for the backlog, ``tiny``
#: for the self-tests
SIZES = {"tiny": 8, "stream": 24, "bench": 32}
#: (text-routed pages, vision-routed pages) targets over the random
#: documents: the medians over 2,000 seeds of the capped distribution
PAGE_TARGETS = {"tiny": (15, 8), "stream": (62, 41), "bench": (87, 56)}
PAGE_BAND = 0.10
MAX_DOC_PAGES = 200
#: files in the streaming backlog, one micro-batch each: the first
#: (cold) trigger and one warm one; each more adds ~7 s to a run
STREAM_FILES = 2
#: mtime of the first backlog file; file k gets BASE_MTIME + k seconds
BASE_MTIME = 1_700_000_000


@dataclass(frozen=True)
class Corpus:
    path: str
    seed: int
    docs: list  # [(doc_id, spans)] exactly as written: pinned, then random
    n_random: int

    @property
    def n_docs(self) -> int:
        return len(self.docs)


def _route_pages(seed: int, n_docs: int) -> tuple[int, int, int]:
    """(text pages, vision pages, largest doc) of the random documents,
    from the generator's first two draws per document: the page count,
    then the kind roll (< 0.40 puts an image among the first 3 pages,
    which routes the document to vision)."""
    text = vision = largest = 0
    for i in range(n_docs):
        rng = np.random.default_rng([seed, i])
        pages = _sample_page_count(rng)
        largest = max(largest, pages)
        if rng.random() < 0.40:
            vision += pages
        else:
            text += pages
    return text, vision, largest


def corpus_seed(seed: int, size: str) -> int:
    """First candidate ``seed * 1000 + k`` whose page totals fit the band."""
    n = SIZES[size]
    t_target, v_target = PAGE_TARGETS[size]
    for k in range(1000):
        cand = seed * 1000 + k
        text, vision, largest = _route_pages(cand, n)
        if (
            largest <= MAX_DOC_PAGES
            and abs(text - t_target) <= PAGE_BAND * t_target
            and abs(vision - v_target) <= PAGE_BAND * v_target
        ):
            return cand
    raise RuntimeError(f"no corpus seed in range for seed={seed} size={size}")


def make_corpus(work: str, seed: int, size: str) -> Corpus:
    cs = corpus_seed(seed, size)
    path = os.path.join(work, "inputs", f"corpus-{size}-{cs}.parquet")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        write_corpus_parquet(tmp, SIZES[size], seed=cs)
        os.replace(tmp, path)
    return Corpus(path, cs, generate_corpus(SIZES[size], seed=cs), SIZES[size])


def make_backlog(work: str, corpus: Corpus, n_files: int) -> str:
    """Write the corpus as ``n_files`` parquet files with strictly
    increasing, pinned mtimes, so the file source's mtime ordering (and
    with one file per trigger, every micro-batch's content) is the same
    on every run. The first file holds the pinned edge documents; the
    random documents are spread over the others with balanced page
    counts, so no seed piles its work into one micro-batch."""
    import pyarrow.parquet as pq

    d = os.path.join(work, "inputs", f"backlog-{corpus.seed}-{n_files}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        os.makedirs(tmp, exist_ok=True)
        n_pinned = corpus.n_docs - corpus.n_random
        files = [corpus.docs[:n_pinned]] + [[] for _ in range(n_files - 1)]
        for doc in sorted(corpus.docs[n_pinned:], key=lambda d: (-len(d[1]), d[0])):
            min(files[1:], key=lambda f: sum(len(s) for _, s in f)).append(doc)
        for k, docs in enumerate(files):
            p = os.path.join(tmp, f"part-{k:04d}.parquet")
            pq.write_table(corpus_to_arrow(sorted(docs, key=lambda d: d[0])), p)
        os.rename(tmp, d)
    for k, name in enumerate(sorted(os.listdir(d))):
        os.utime(os.path.join(d, name), (BASE_MTIME + k, BASE_MTIME + k))
    return d


def route_of(spans: list, force_vision: bool) -> str:
    """The reference routing rule: image-only documents and documents
    with an image among their first 3 pages go to vision."""
    kinds = [s["kind"] for s in sorted(spans, key=lambda s: s["offset"])]
    if force_vision or all(k == "image" for k in kinds) or "image" in kinds[:3]:
        return "vision"
    return "text"


def golden(work: str, corpus: Corpus, force_vision: bool) -> dict:
    """Oracle spans and retry flags per document, computed once per
    (corpus seed, size, force_vision) and cached as JSON.

    ``{doc_id: {"spans": [[kind, text, media_ref, order], ...],
    "route": "text"|"vision", "retried": 0|1, "pages": n}}``"""
    from tests.oracle import oracle_document, oracle_document_metrics

    path = os.path.join(
        work, "golden", f"{os.path.basename(corpus.path)}-fv{int(force_vision)}.json"
    )
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    out = {}
    for doc_id, spans in corpus.docs:
        gold = oracle_document(doc_id, spans, force_vision)
        metrics = oracle_document_metrics(doc_id, spans, force_vision)
        out[doc_id] = {
            "spans": [[s["kind"], s["text"], s["media_ref"], s["order"]] for s in gold],
            "route": route_of(spans, force_vision),
            "retried": int(metrics["quality_retried"]),
            "pages": len(spans),
        }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out
