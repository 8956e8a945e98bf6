"""Trace probes: counters wrapped around the engine's public UDF entry points.

Installed only for ``--trace 1`` runs, so the untimed-metric runs pay
nothing. Two probes, both from outside the engine:

- ``extract_text_pages`` is replaced under the name
  ``operators.pipeline`` imports it by, counting every page row that
  enters the text-parse UDF (each re-execution of the parse counts
  again, which is what ``text_parse.runs_per_page`` exposes);
- ``make_vision_extractor`` is replaced the same way so that every
  vision stage runs a :class:`CountingBackend`, and the rows entering
  the vision UDF are counted by route (``text`` rows are R2 retries).
  The streaming workload passes the same backend through the public
  ``backend=`` parameter of ``stream_extraction``.

Counters are Spark accumulators, summed on the driver as tasks finish.
"""

from __future__ import annotations

from pdf_to_xls_vision_spark.core.vision import VisionBackend
from pdf_to_xls_vision_spark.operators import pipeline


class CountingBackend(VisionBackend):
    """The deterministic stub backend, counting the page refs inferred."""

    def __init__(self, calls):
        self.calls = calls

    def infer_batch(self, media_refs):
        self.calls.add(len(media_refs))
        return super().infer_batch(media_refs)


class Probes:
    def __init__(self, sc):
        self.text_rows = sc.accumulator(0)
        self.vision_rows = sc.accumulator(0)
        self.retry_rows = sc.accumulator(0)
        self.vision_calls = sc.accumulator(0)
        self.backend = CountingBackend(self.vision_calls)
        self._saved = None

    def install(self) -> None:
        orig_text = pipeline.extract_text_pages
        orig_make = pipeline.make_vision_extractor
        text_rows, vision_rows, retry_rows = (
            self.text_rows, self.vision_rows, self.retry_rows
        )
        backend = self.backend

        def extract_text_pages(batches):
            def counted():
                for b in batches:
                    text_rows.add(len(b))
                    yield b

            return orig_text(counted())

        def make_vision_extractor(_backend=None):
            inner = orig_make(_backend or backend)

            def extract_vision_pages(batches):
                def counted():
                    for b in batches:
                        n_retry = int((b["route"] == "text").sum())
                        retry_rows.add(n_retry)
                        vision_rows.add(len(b) - n_retry)
                        yield b

                return inner(counted())

            return extract_vision_pages

        self._saved = (orig_text, orig_make)
        pipeline.extract_text_pages = extract_text_pages
        pipeline.make_vision_extractor = make_vision_extractor

    def uninstall(self) -> None:
        if self._saved is not None:
            pipeline.extract_text_pages, pipeline.make_vision_extractor = self._saved
            self._saved = None

    def snapshot(self) -> dict:
        return {
            "text_rows": self.text_rows.value,
            "vision_rows": self.vision_rows.value,
            "retry_rows": self.retry_rows.value,
            "vision_calls": self.vision_calls.value,
        }
