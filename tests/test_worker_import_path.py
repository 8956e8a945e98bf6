"""The engine takes Spark's jars off a Python worker's import path.

The worker calls ``importlib.invalidate_caches()`` before every task,
which makes each cached ``zipimporter`` re-read its whole archive; an
importer over Spark's core jar re-reads 5,359 entries that hold no
Python. Importing the engine drops the jar entries and their importers
(``pdf_to_xls_vision_spark.drop_jar_importers``).
"""

import json
import os

from pdf_to_xls_vision_spark import drop_jar_importers


def test_engine_import_takes_jars_off_the_worker_import_path(spark):
    def report(batches):
        import sys

        import pandas as pd

        import pdf_to_xls_vision_spark  # noqa: F401

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "path": [json.dumps(sys.path)],
                "cache": [json.dumps([str(k) for k in sys.path_importer_cache])],
            }
        )

    rows = (
        spark.range(0, 8, 1, 4)
        .mapInPandas(report, "path string, cache string")
        .collect()
    )
    assert len(rows) == 4
    for row in rows:
        assert [p for p in json.loads(row.path) if ".jar" in p] == []
        assert [k for k in json.loads(row.cache) if ".jar" in k] == []


def test_drop_jar_importers_keeps_everything_else_in_order():
    jar = os.path.join(os.sep, "spark", "jars", "spark-core.jar")
    other_jar = os.path.join(os.sep, "extra", "lib.jar")
    zip_ = os.path.join(os.sep, "spark", "python", "lib", "pyspark.zip")
    path = [
        os.path.join(os.sep, "work"),
        jar,
        zip_,
        other_jar,
        os.path.join(os.sep, "site-packages"),
        os.path.join(os.sep, "spark", "jars"),
    ]
    cache = {
        jar: "jar root",
        os.path.join(jar, "org"): "jar org",
        other_jar: None,
        zip_: "zip root",
        os.path.join(zip_, "pyspark"): "zip pkg",
        os.path.join(os.sep, "spark", "jars"): "jar dir",
        jar + "s": "a sibling whose name only starts like the jar",
    }

    drop_jar_importers(path, cache)

    assert path == [
        os.path.join(os.sep, "work"),
        zip_,
        os.path.join(os.sep, "site-packages"),
        os.path.join(os.sep, "spark", "jars"),
    ]
    assert cache == {
        zip_: "zip root",
        os.path.join(zip_, "pyspark"): "zip pkg",
        os.path.join(os.sep, "spark", "jars"): "jar dir",
        jar + "s": "a sibling whose name only starts like the jar",
    }

    before = (list(path), dict(cache))
    drop_jar_importers(path, cache)
    assert (path, cache) == before


def test_drop_jar_importers_without_a_jar_changes_nothing():
    path = ["/work", "/site-packages"]
    cache = {"/work": "w", "/site-packages": None}
    drop_jar_importers(path, cache)
    assert path == ["/work", "/site-packages"]
    assert cache == {"/work": "w", "/site-packages": None}
