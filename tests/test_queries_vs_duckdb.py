"""Driver-contract mirror: every queries()/oracle_sql() pair must match
DuckDB on row count, column names, and order-insensitive values —
exactly what the round driver records in CORRECTNESS_r{N}.json. The
operator zoo's registry (operator_zoo/queries.py) is held to the same
check."""

import math

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_canon(r[i]) for i in order) for r in rows
    )


def _registry():
    """The engine's registry plus the zoo's: (builders, oracles)."""
    from operator_zoo import queries as zoo
    from pdf_to_xls_vision_spark.plans import queries as engine

    assert not set(engine.QUERIES) & set(zoo.QUERIES)
    return {**engine.QUERIES, **zoo.QUERIES}, {**engine.ORACLES, **zoo.ORACLES}


@pytest.mark.parametrize("name", sorted(_registry()[1]))
def test_query_matches_duckdb(name, spark, ddb):
    QUERIES, ORACLES = _registry()

    sdf = QUERIES[name](spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    for c in getattr(sdf, "_ptxv_persisted", []):
        c.unpersist()

    cur = ddb.execute(ORACLES[name])
    d_cols = [c[0] for c in cur.description]
    d_rows = cur.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column names differ"
    assert len(s_rows) == len(d_rows), f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    s_set = _rowset(s_cols, s_rows)
    d_set = _rowset(d_cols, d_rows)
    if s_set != d_set:
        diffs = [
            (a, b) for a, b in zip(s_set, d_set) if a != b
        ][:3]
        raise AssertionError(f"{name}: value mismatch, first diffs {diffs}")


def test_every_query_has_an_oracle():
    """The driver contract pairs each ``queries()`` entry with an
    ``oracle_sql()`` entry of the same name."""
    import __spark_entry__

    assert set(__spark_entry__.queries()) == set(__spark_entry__.oracle_sql())


def test_rows_only_queries_run(spark):
    """Entries without an oracle still execute and return stable schemas."""
    QUERIES, ORACLES = _registry()

    for name in sorted(set(QUERIES) - set(ORACLES)):
        df = QUERIES[name](spark, SF_DIR)
        assert df.columns, name
        assert df.count() >= 0, name


def test_sessionize_timezone_independent(spark, ddb):
    """m1_sessionize_window must not depend on the driver session tz:
    epoch is derived from the NTZ wall-clock fields, not unix_timestamp.
    Re-run the full DuckDB comparison under America/New_York."""
    from pdf_to_xls_vision_spark.plans.queries import ORACLES, QUERIES

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        sdf = QUERIES["m1_sessionize_window"](spark, SF_DIR)
        s_rows = [tuple(r) for r in sdf.collect()]
        cur = ddb.execute(ORACLES["m1_sessionize_window"])
        d_rows = cur.fetchall()
        assert _rowset(sdf.columns, s_rows) == _rowset(
            [c[0] for c in cur.description], d_rows
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_lang_id_multilingual_fixture(spark):
    """Broadened lang-ID over hand-built sentences in all 11 supported
    languages plus an undetermined string."""
    from operator_zoo.functions.text import lang_id_expr

    samples = {
        "de": "der hund ist nicht mit der katze und das haus",
        "en": "the cat sat on the mat and the dog is in that house",
        "es": "el perro y la casa de los vecinos que una vez",
        "fr": "le chien et la maison dans les champs des une est",
        "it": "il cane che non sono per con di casa e via",
        "nl": "ik heb een huis en het is niet van dat hout te",
        "pl": "nie wiem czy to jest dobre i co z tym na",
        "pt": "o cachorro de que um do da casa em dia",
        "sv": "och det som en katt att den av huset till",
        "tr": "bir ev ve bu da ne gibi kadar daha var",
        "zh": "这是一个中文句子没有空格",
        "und": "zzz qqq xxx 123",
    }
    df = spark.createDataFrame(
        [(lang, text) for lang, text in samples.items()], "expected string, text string"
    )
    got = {r.expected: r.pred for r in df.select(
        "expected", lang_id_expr("text").alias("pred")
    ).collect()}
    assert got == {lang: lang for lang in samples}
