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

import os
import sys


def drop_jar_importers(path: list | None = None, cache: dict | None = None) -> None:
    """Take every ``.jar`` entry off the import path ``path``
    (``sys.path``) and drop the importers cached for it and under it
    from ``cache`` (``sys.path_importer_cache``).

    Spark puts its core jar on every Python worker's ``PYTHONPATH``
    (``PythonUtils.sparkPythonPath``), and the worker calls
    ``importlib.invalidate_caches()`` at the start of every task
    (``pyspark/worker_util.py``, ``setup_spark_files``). CPython 3.11's
    ``zipimporter.invalidate_caches`` (``zipimport.py:329``) re-reads the
    whole directory of its archive, so each cached importer over the jar
    (its root, and ``…jar/org`` once the worker has looked up the ``org``
    namespace package) re-reads the jar's 5,359 entries in every task
    (0.04-0.09 core-s a task on a 4-core host). None of those entries is
    Python, so no import can need the jar.

    Runs when the package is imported: on a Python worker, while it
    unpickles its first engine UDF; on the driver, where no jar is on
    the path, it changes nothing. Calling it again changes nothing."""
    path = sys.path if path is None else path
    cache = sys.path_importer_cache if cache is None else cache
    jars = [entry for entry in path if entry.endswith(".jar")]
    if not jars:
        return
    path[:] = [entry for entry in path if entry not in jars]
    under = tuple(jar + os.sep for jar in jars)
    for key in [k for k in cache if k in jars or k.startswith(under)]:
        del cache[key]


drop_jar_importers()

from pdf_to_xls_vision_spark.session import get_spark  # noqa: E402, F401
