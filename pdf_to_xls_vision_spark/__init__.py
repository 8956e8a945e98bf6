"""pdf_to_xls_vision_spark — a brand-new PySpark-native extraction engine.

Re-expresses the capabilities of ``zenithventure/pdf-to-xls-vision``
(reference at /root/reference, MIT) as a distributed Spark dataflow over
tables of interleaved text+media document spans:

    (doc_id: string,
     spans: array<struct<kind:string, text:string, media_ref:string, offset:int>>)

The engine is Spark-first: classification is higher-order column
expressions, extraction is page-level ``mapInPandas`` (vectorized Arrow
batches, skew-proof because pages — not documents — are the unit of
work), the R2 retry decision, number validation, continuation-merge +
span serialization run per-document in one ``mapInPandas`` over a
doc-keyed ``repartition``, and batch, streaming and compaction commit
through one protocol (``sink/checkpoint.py``): an idempotent,
resumable, partition-committed parquet/Iceberg writer with
per-partition lineage and metrics.

Nothing is ported from the reference's single-threaded Python; the
per-cell *semantics* (cleaning, quality heuristics, merge conditions,
number normalization) are re-implemented from its documented behavior
with file:line citations in each docstring.
"""

__version__ = "0.1.0"

from pdf_to_xls_vision_spark.session import get_spark  # noqa: F401
