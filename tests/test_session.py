"""``get_spark`` sets the Spark master only when asked to, so the
master given to ``spark-submit --master`` is the one the job runs on
(a master set in code would outrank it)."""

import pytest
from pyspark.sql import SparkSession

from pdf_to_xls_vision_spark.session import get_spark


@pytest.fixture()
def built_options(monkeypatch):
    """``get_spark`` returns the collected session options instead of
    starting a session."""
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)


def test_launcher_master_wins_by_default(built_options):
    assert "spark.master" not in get_spark()


def test_master_argument_or_env_sets_the_master(built_options, monkeypatch):
    assert get_spark(master="local[2]")["spark.master"] == "local[2]"
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "local[3]")
    assert get_spark()["spark.master"] == "local[3]"
    assert get_spark(master="local[2]")["spark.master"] == "local[2]"
