"""Driver-contract query registry.

The extraction engine's SURVEY.md §2 stages as paired (Spark builder,
DuckDB oracle SQL) entries: routing (S3), the quality heuristics
(Q2/Q4-Q6), the validation core (X1/X4-X6), the continuation-merge
window (M1), the rollup scan (A1) and sheet naming (W1) over the
driver's TPC-H-ish tables, plus the extraction pipeline itself. Column
names/aliases match exactly on both sides; values are engineered
cross-engine-exact (integer-quantized sums, epoch-second timestamps).

The extraction pipeline is not SQL-expressible: its two entries compare
against expected parquets generated from the sequential oracle
(scripts/gen_expected.py), and pytest covers its correctness against
that oracle directly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pdf_to_xls_vision_spark.core.numbers import NUMBER_PATTERN
from pdf_to_xls_vision_spark.operators.validation import (
    accuracy,
    discrepancies,
    multiset_counts,
    number_tokens_expr,
)


ROLLUP_MARKERS = ["total", "gross", "effective", "net operating income", "noi"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _scan_splits(path: str) -> int:
    """Approximate usable scan-split count for a parquet file/dir at
    the default 128 MB split size (local paths only; anything
    unreadable reports 'plenty' so the floor below becomes a no-op)."""
    try:
        if os.path.isdir(path):
            n_bytes = sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
        else:
            n_bytes = os.path.getsize(path)
    except OSError:
        return 1 << 30
    return max(1, n_bytes // (128 << 20))


def _t_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``_t`` plus a scale-adaptive scan-parallelism floor (guide
    §2.2/§6 — CPU-heavy per-row work must not inherit a byte-sized
    split count): when the table's usable split count is below the
    session's parallelism — the toy SFs are single-row-group files, so
    every scan is effectively ONE task — round-robin the (tiny) input
    once so the per-row map work (regex scans, number tokenizing)
    uses every core. At production scale splits >> cores
    and this returns the bare scan unchanged; the decision derives
    from input size and ``defaultParallelism``, never a constant.

    Only for queries whose arithmetic is row-order independent
    (integer/string-exact, or integer-cast-before-sum): a keyless
    repartition reorders rows, which must not perturb float
    aggregation."""
    df = _t(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    if _scan_splits(f"{sf_dir}/{name}.parquet") < par:
        df = df.repartition(par)
    return df


# ---------------------------------------------------------------------------
# S/R — classification & routing (pdf_detection.py, converter.py)
# ---------------------------------------------------------------------------

def q_route_classifier(spark, sf_dir):
    """S3/R1: text-probe routing (>50 stripped chars -> text path)."""
    docs = _t_wide(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.when(F.length(F.trim("text")) > 50, F.lit("text"))
        .otherwise(F.lit("vision"))
        .alias("route"),
    )


SQL_ROUTE = """
SELECT doc_id,
       CASE WHEN length(trim(text)) > 50 THEN 'text' ELSE 'vision' END AS route
FROM documents
"""


def q_probe_first3(spark, sf_dir):
    """S3's LIMIT-3 probe: per source, classify from the first 3 docs only."""
    docs = _t_wide(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    probed = docs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
    return probed.groupBy("source").agg(
        F.max(F.when(F.length(F.trim("text")) > 50, 1).otherwise(0)).alias("has_text"),
        F.count("*").alias("probed_docs"),
    )


SQL_PROBE_FIRST3 = """
WITH ranked AS (
  SELECT source, text,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
)
SELECT source,
       max(CASE WHEN length(trim(text)) > 50 THEN 1 ELSE 0 END) AS has_text,
       count(*) AS probed_docs
FROM ranked WHERE rn <= 3 GROUP BY source
"""


# ---------------------------------------------------------------------------
# Q — quality heuristics as relational aggregates (quality_check.py)
# ---------------------------------------------------------------------------

def q_row_explosion(spark, sf_dir):
    """Q1+Q2 shape over per-user event groups (>70 rows always; >50
    with >12 distinct types)."""
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
    )
    return g.select(
        "user_id",
        "n_events",
        "n_types",
        F.when(
            (F.col("n_events") > 70)
            | ((F.col("n_events") > 50) & (F.col("n_types") > 12)),
            1,
        )
        .otherwise(0)
        .alias("flagged"),
    )


SQL_ROW_EXPLOSION = """
SELECT user_id,
       count(*) AS n_events,
       count(DISTINCT event_type) AS n_types,
       CASE WHEN count(*) > 70
              OR (count(*) > 50 AND count(DISTINCT event_type) > 12)
            THEN 1 ELSE 0 END AS flagged
FROM events GROUP BY user_id
"""


def q_empty_ratio(spark, sf_dir):
    """Q4: null/empty ratio per group, threshold 0.6 (<20 rows) else 0.5."""
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.when(F.col("props").isNull() | (F.col("props") == ""), 1).otherwise(0)
        ).alias("n_empty"),
    )
    return g.select(
        "event_type",
        "n_rows",
        F.round(F.col("n_empty") / F.col("n_rows"), 6).alias("empty_ratio"),
        F.when(
            F.col("n_empty") / F.col("n_rows")
            > F.when(F.col("n_rows") < 20, 0.6).otherwise(0.5),
            1,
        )
        .otherwise(0)
        .alias("flagged"),
    )


SQL_EMPTY_RATIO = """
SELECT event_type,
       count(*) AS n_rows,
       round(sum(CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS empty_ratio,
       CASE WHEN sum(CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE)
               > CASE WHEN count(*) < 20 THEN 0.6 ELSE 0.5 END
            THEN 1 ELSE 0 END AS flagged
FROM events GROUP BY event_type
"""


def q_duplicate_rows(spark, sf_dir):
    """Q5: duplicated (event_type, value) rows per user > 20%."""
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("user_id").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("event_type", "value").alias("n_distinct"),
    )
    return g.select(
        "user_id",
        "n_rows",
        (F.col("n_rows") - F.col("n_distinct")).alias("n_dups"),
        F.when(
            (F.col("n_rows") > 5)
            & ((F.col("n_rows") - F.col("n_distinct")) / F.col("n_rows") > 0.2),
            1,
        )
        .otherwise(0)
        .alias("flagged"),
    )


SQL_DUPLICATE_ROWS = """
SELECT user_id,
       count(*) AS n_rows,
       count(*) - count(DISTINCT (event_type, value)) AS n_dups,
       CASE WHEN count(*) > 5
              AND (count(*) - count(DISTINCT (event_type, value)))
                  / CAST(count(*) AS DOUBLE) > 0.2
            THEN 1 ELSE 0 END AS flagged
FROM events GROUP BY user_id
"""


def q_garbled_share(spark, sf_dir):
    """Q6's special-char-run detector as a per-language share."""
    docs = _t_wide(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.when(F.col("text").rlike(r"[^\w\s$,.%()\-'/]{3,}"), 1).otherwise(0)
        ).alias("n_garbled"),
    )


SQL_GARBLED_SHARE = r"""
SELECT lang,
       count(*) AS n_docs,
       sum(CASE WHEN regexp_matches(text, '[^\w\s$,.%()\-''/]{3,}')
                THEN 1 ELSE 0 END)::BIGINT AS n_garbled
FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------------------
# X — validation relational core (validation.py)
# ---------------------------------------------------------------------------

_SQL_TOKENS = f"""
  SELECT event_id, unnest(regexp_extract_all(props, '{NUMBER_PATTERN}')) AS tok
  FROM events WHERE props IS NOT NULL
"""

_SQL_NORMALIZED = """
  SELECT event_id,
         CASE WHEN tok LIKE '(%' AND tok LIKE '%)'
              THEN '-' || replace(replace(replace(replace(replace(tok,
                     '$',''),',',''),'%',''),'(',''),')','')
              ELSE replace(replace(replace(tok, '$',''),',',''),'%','') END AS num
  FROM toks WHERE tok <> ''
"""


def q_number_extraction(spark, sf_dir):
    """X1: regex number extraction + normalization over events.props."""
    ev = _t(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    return ev.select(
        "event_id", F.explode(number_tokens_expr("props")).alias("num")
    )


SQL_NUMBER_EXTRACTION = f"""
WITH toks AS ({_SQL_TOKENS})
{_SQL_NORMALIZED}
"""


def q_multiset_counts(spark, sf_dir):
    """X4: the number multiset as a hash aggregate (float-folded key)."""
    ev = _t_wide(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    counts = multiset_counts(ev, "props")
    return counts.select(
        F.col("number_key").try_cast("double").alias("number_key"),
        F.col("cnt").alias("cnt"),
    )


SQL_MULTISET_COUNTS = f"""
WITH toks AS ({_SQL_TOKENS}),
norm AS ({_SQL_NORMALIZED})
SELECT TRY_CAST(num AS DOUBLE) AS number_key, count(*) AS cnt
FROM norm GROUP BY 1
"""


def q_discrepancy_join(spark, sf_dir):
    """X5: full outer count comparison — lineitem part usage vs the
    part table (the 'pdf vs tables' multiset shape)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("string").alias("number_key")
    )
    pt = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("string").alias("number_key")
    )
    src = li.groupBy("number_key").agg(F.count("*").alias("cnt"))
    ext = pt.groupBy("number_key").agg(F.count("*").alias("cnt"))
    d = discrepancies(src, ext)
    return d.select(
        F.col("number_key").cast("bigint").alias("partkey"),
        F.col("pdf_count").alias("lineitem_count"),
        F.col("table_count").alias("part_count"),
        "status",
    )


SQL_DISCREPANCY_JOIN = """
WITH src AS (SELECT l_partkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1),
ext AS (SELECT p_partkey AS k, count(*) AS cnt FROM part GROUP BY 1)
SELECT coalesce(src.k, ext.k) AS partkey,
       coalesce(src.cnt, 0) AS lineitem_count,
       coalesce(ext.cnt, 0) AS part_count,
       CASE WHEN coalesce(ext.cnt,0) < coalesce(src.cnt,0) THEN 'missing_in_tables'
            WHEN coalesce(ext.cnt,0) > coalesce(src.cnt,0) THEN 'extra_in_tables'
            ELSE 'matched' END AS status
FROM src FULL OUTER JOIN ext ON src.k = ext.k
"""


def q_accuracy_metric(spark, sf_dir):
    """X6: least-sum match accuracy over the X5 relation."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("string").alias("number_key")
    )
    pt = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("string").alias("number_key")
    )
    src = li.groupBy("number_key").agg(F.count("*").alias("cnt"))
    ext = pt.groupBy("number_key").agg(F.count("*").alias("cnt"))
    return accuracy(discrepancies(src, ext)).select(
        "total_pdf_numbers",
        "total_table_numbers",
        "matches",
        "n_missing",
        "n_extra",
        "accuracy_percent",
    )


SQL_ACCURACY_METRIC = """
WITH src AS (SELECT l_partkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1),
ext AS (SELECT p_partkey AS k, count(*) AS cnt FROM part GROUP BY 1),
j AS (
  SELECT coalesce(src.cnt, 0) AS pdf_count, coalesce(ext.cnt, 0) AS table_count
  FROM src FULL OUTER JOIN ext ON src.k = ext.k
)
SELECT sum(pdf_count)::BIGINT AS total_pdf_numbers,
       sum(table_count)::BIGINT AS total_table_numbers,
       sum(least(pdf_count, table_count))::BIGINT AS matches,
       sum(CASE WHEN table_count < pdf_count THEN 1 ELSE 0 END)::BIGINT AS n_missing,
       sum(CASE WHEN table_count > pdf_count THEN 1 ELSE 0 END)::BIGINT AS n_extra,
       round(sum(least(pdf_count, table_count))
             / CAST(sum(pdf_count) AS DOUBLE) * 100, 2) AS accuracy_percent
FROM j
"""


# ---------------------------------------------------------------------------
# M1 — continuation merge as the segment-window pattern
# ---------------------------------------------------------------------------

def q_sessionize(spark, sf_dir):
    """M1's window+segment composition: per-user sessions split on
    >30-minute gaps; value sums integer-quantized for exactness."""
    # ts is TIMESTAMP_NTZ: derive epoch from wall-clock fields so the
    # result is session-timezone-independent (unix_timestamp() would
    # re-interpret the naive value under the driver session tz).
    ev = _t(spark, sf_dir, "events").withColumn(
        "epoch",
        F.unix_date(F.col("ts").cast("date")).cast("long") * 86400
        + F.hour("ts").cast("long") * 3600
        + F.minute("ts").cast("long") * 60
        + F.second("ts").cast("long"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = ev.withColumn(
        "new_seg",
        F.when(F.col("epoch") - F.lag("epoch").over(w) > 1800, 1).otherwise(0)
        + F.when(F.lag("ts").over(w).isNull(), 1).otherwise(0),
    ).withColumn("segment", F.sum("new_seg").over(w))
    return gapped.groupBy("user_id", "segment").agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor(F.col("value") * 1000)).alias("value_milli"),
        F.min("epoch").alias("start_epoch"),
        F.max("epoch").alias("end_epoch"),
    )


SQL_SESSIONIZE = """
WITH lagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT > 1800 THEN 1
              ELSE 0 END AS new_seg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
seg AS (
  SELECT user_id, event_id, ts, value,
         sum(new_seg) OVER (PARTITION BY user_id ORDER BY ts, event_id)::BIGINT AS segment
  FROM lagged
)
SELECT user_id, segment,
       count(*) AS n_events,
       sum(floor(value * 1000))::BIGINT AS value_milli,
       min(floor(epoch(ts))::BIGINT) AS start_epoch,
       max(floor(epoch(ts))::BIGINT) AS end_epoch
FROM seg GROUP BY user_id, segment
"""


# ---------------------------------------------------------------------------
# A1 / W1 — rollup scan & sheet naming as expressions
# ---------------------------------------------------------------------------

def q_rollup_scan(spark, sf_dir):
    """A1 fallback: marker-containment scan (excel_writer.py:125)."""
    docs = _t(spark, sf_dir, "documents")
    cond = None
    for m in ROLLUP_MARKERS:
        c = F.instr(F.lower("text"), m) > 0
        cond = c if cond is None else (cond | c)
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(cond, 1).otherwise(0)).alias("n_rollup_docs"),
    )


SQL_ROLLUP_SCAN = """
SELECT lang, count(*) AS n_docs,
       sum(CASE WHEN instr(lower(text), 'total') > 0
                 OR instr(lower(text), 'gross') > 0
                 OR instr(lower(text), 'effective') > 0
                 OR instr(lower(text), 'net operating income') > 0
                 OR instr(lower(text), 'noi') > 0
            THEN 1 ELSE 0 END)::BIGINT AS n_rollup_docs
FROM documents GROUP BY lang
"""


def q_sheet_names(spark, sf_dir):
    """W1 sheet-naming semantics (excel_writer.py:338-347) as pure
    expressions over (orderkey=doc, linenumber=table)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    named = li.withColumn("n_tables", F.count("*").over(w)).select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("n_tables") == 1, F.lit("Sheet1"))
        .when(
            F.length(
                F.concat(
                    F.lit("Page"),
                    F.col("l_orderkey").cast("string"),
                    F.lit("_Table"),
                    F.col("l_linenumber").cast("string"),
                )
            )
            > 31,
            F.concat(
                F.lit("P"),
                F.col("l_orderkey").cast("string"),
                F.lit("_T"),
                F.col("l_linenumber").cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("Page"),
                F.col("l_orderkey").cast("string"),
                F.lit("_Table"),
                F.col("l_linenumber").cast("string"),
            )
        )
        .alias("sheet_name"),
    )
    return named


SQL_SHEET_NAMES = """
SELECT l_orderkey, l_linenumber,
       CASE WHEN count(*) OVER (PARTITION BY l_orderkey) = 1 THEN 'Sheet1'
            WHEN length('Page' || l_orderkey || '_Table' || l_linenumber) > 31
            THEN 'P' || l_orderkey || '_T' || l_linenumber
            ELSE 'Page' || l_orderkey || '_Table' || l_linenumber END AS sheet_name
FROM lineitem
"""

# ---------------------------------------------------------------------------
# non-SQL-expressible: the extraction pipeline itself, checked against
# expected parquets; pytest covers exact correctness vs the oracle.
# ---------------------------------------------------------------------------

def _corpus_df(spark, n_docs: int = 64):
    """Deterministic interleaved-span corpus as an in-memory Arrow
    relation — query builders stay side-effect-free (no /tmp parquet;
    the bench harness materializes its own large corpora)."""
    from pdf_to_xls_vision_spark.corpus import corpus_to_arrow, generate_corpus

    return spark.createDataFrame(corpus_to_arrow(generate_corpus(n_docs)))


def q_extraction_spans(spark, sf_dir):
    """The flagship: full extraction pipeline on the deterministic
    corpus, exploded to span rows."""
    from pdf_to_xls_vision_spark.operators.pipeline import run_extraction

    res = run_extraction(_corpus_df(spark))
    # plain explode (not outer): docs with zero spans emit no rows,
    # matching the sequential oracle's empty-list-per-doc convention
    return res.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.order").alias("ord"),
    )


def q_extraction_metrics(spark, sf_dir):
    from pdf_to_xls_vision_spark.operators.pipeline import run_extraction

    res = run_extraction(_corpus_df(spark))
    return res.select(
        "doc_id",
        "n_tables",
        "pages_parsed",
        "rotation_corrections",
        "quality_retried",
        "rollup_rows",
        "n_notes",
        "validation_status",
        "accuracy_pct",
    )


# ---------------------------------------------------------------------------
# expected-parquet oracles for the extraction queries
# (generated by scripts/gen_expected.py; provenance documented there)
# ---------------------------------------------------------------------------

# repo-relative so a relocated clone keeps working (ADVICE r2)
_EXPECTED = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
    "expected",
)

SQL_EXTRACTION_SPANS = f"""
SELECT doc_id, kind, text, media_ref, ord
FROM read_parquet('{_EXPECTED}/extraction_spans.parquet')
"""

SQL_EXTRACTION_METRICS = f"""
SELECT doc_id, n_tables, pages_parsed, rotation_corrections,
       quality_retried, rollup_rows, n_notes, validation_status,
       accuracy_pct
FROM read_parquet('{_EXPECTED}/extraction_metrics.parquet')
"""


QUERIES = {
    "extraction_spans": q_extraction_spans,
    "extraction_metrics": q_extraction_metrics,
    "s3_route_classifier": q_route_classifier,
    "s3_probe_first3": q_probe_first3,
    "q2_row_explosion": q_row_explosion,
    "q4_empty_ratio": q_empty_ratio,
    "q5_duplicate_rows": q_duplicate_rows,
    "q6_garbled_share": q_garbled_share,
    "x1_number_extraction": q_number_extraction,
    "x4_multiset_counts": q_multiset_counts,
    "x5_discrepancy_join": q_discrepancy_join,
    "x6_accuracy_metric": q_accuracy_metric,
    "m1_sessionize_window": q_sessionize,
    "a1_rollup_scan": q_rollup_scan,
    "w1_sheet_names": q_sheet_names,
}

ORACLES = {
    "extraction_spans": SQL_EXTRACTION_SPANS,
    "extraction_metrics": SQL_EXTRACTION_METRICS,
    "s3_route_classifier": SQL_ROUTE,
    "s3_probe_first3": SQL_PROBE_FIRST3,
    "q2_row_explosion": SQL_ROW_EXPLOSION,
    "q4_empty_ratio": SQL_EMPTY_RATIO,
    "q5_duplicate_rows": SQL_DUPLICATE_ROWS,
    "q6_garbled_share": SQL_GARBLED_SHARE,
    "x1_number_extraction": SQL_NUMBER_EXTRACTION,
    "x4_multiset_counts": SQL_MULTISET_COUNTS,
    "x5_discrepancy_join": SQL_DISCREPANCY_JOIN,
    "x6_accuracy_metric": SQL_ACCURACY_METRIC,
    "m1_sessionize_window": SQL_SESSIONIZE,
    "a1_rollup_scan": SQL_ROLLUP_SCAN,
    "w1_sheet_names": SQL_SHEET_NAMES,
}
