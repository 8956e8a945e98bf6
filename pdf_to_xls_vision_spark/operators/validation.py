"""DataFrame-native validation operators (X1, X4-X6).

The reference's relational core — regex number extraction
(validation.py:10-34), Counter multisets (:164-180), key-union
discrepancy detection (:182-204), and the accuracy metric (:206-214) —
re-expressed as JVM-side built-ins: ``regexp_extract_all`` + ``explode``
for X1, hash aggregates for X4, one full outer equi-join for X5, and a
``least``-sum for X6. No Python crosses the hot path; Catalyst prunes
and pushes everything.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_to_xls_vision_spark.core.numbers import NUMBER_PATTERN


def number_tokens_expr(text_col: str | Column) -> Column:
    """X1 over a string column: every match of the reference pattern
    (validation.py:21), normalized ($ , % stripped; (x) -> -x)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    tokens = F.regexp_extract_all(col, F.lit(NUMBER_PATTERN), F.lit(0))
    return F.transform(
        tokens,
        lambda t: F.when(
            t.rlike(r"^\(.*\)$"),  # only balanced (x) flips sign
            F.concat(F.lit("-"), F.translate(t, "$,%()", "")),
        ).otherwise(F.translate(t, "$,%", "")),
    )


def number_key_expr(token: str | Column) -> Column:
    """X4 multiset key: the double value when castable else the raw
    token (validation.py:164-180 folds 1,000 and 1000.0 together)."""
    col = F.col(token) if isinstance(token, str) else token
    return F.coalesce(col.try_cast("double").cast("string"), col)


def multiset_counts(
    df: DataFrame, text_col: str, group_cols: list[str] | None = None
) -> DataFrame:
    """X4: explode number tokens out of ``text_col`` and hash-aggregate
    counts per normalized key (per optional group columns)."""
    group_cols = group_cols or []
    exploded = df.select(
        *group_cols,
        F.explode(number_tokens_expr(text_col)).alias("token"),
    ).select(*group_cols, number_key_expr("token").alias("number_key"))
    return exploded.groupBy(*group_cols, "number_key").agg(
        F.count("*").alias("cnt")
    )


def discrepancies(
    source_counts: DataFrame,
    extracted_counts: DataFrame,
    keys: list[str] | None = None,
) -> DataFrame:
    """X5: full outer equi-join of the two count relations over the key
    union (validation.py:182-212); per key emits both counts and the
    difference sign. Input schemas: ``(*keys, number_key, cnt)``."""
    keys = (keys or []) + ["number_key"]
    src = source_counts.withColumnRenamed("cnt", "pdf_count")
    ext = extracted_counts.withColumnRenamed("cnt", "table_count")
    joined = src.join(ext, on=keys, how="full_outer").select(
        *keys,
        F.coalesce("pdf_count", F.lit(0)).alias("pdf_count"),
        F.coalesce("table_count", F.lit(0)).alias("table_count"),
    )
    return joined.withColumn(
        "status",
        F.when(F.col("table_count") < F.col("pdf_count"), F.lit("missing_in_tables"))
        .when(F.col("table_count") > F.col("pdf_count"), F.lit("extra_in_tables"))
        .otherwise(F.lit("matched")),
    )


def accuracy(disc: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """X6 over the X5 relation: matches = sum(least(pdf, table));
    accuracy = matches / total_pdf * 100, 0 when no source numbers
    (validation.py:206-214)."""
    group_cols = group_cols or []
    agg = disc.groupBy(*group_cols).agg(
        F.sum("pdf_count").alias("total_pdf_numbers"),
        F.sum("table_count").alias("total_table_numbers"),
        F.sum(F.least("pdf_count", "table_count")).alias("matches"),
        F.sum(F.when(F.col("status") == "missing_in_tables", 1).otherwise(0)).alias(
            "n_missing"
        ),
        F.sum(F.when(F.col("status") == "extra_in_tables", 1).otherwise(0)).alias(
            "n_extra"
        ),
    )
    return agg.withColumn(
        "accuracy_percent",
        F.round(
            F.when(
                F.col("total_pdf_numbers") > 0,
                F.col("matches") / F.col("total_pdf_numbers") * 100.0,
            ).otherwise(F.lit(0.0)),
            2,
        ),
    )

