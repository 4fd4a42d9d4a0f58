"""Cross-engine primitive parity: the functions/text.py Spark expressions
that the text operators are built from (h64, tokens, marker_score,
stopword_count) must agree value-for-value with their DuckDB twins.

The twins, defined below, are written independently of the oracles in
__spark_entry__.py, which carry their own SQL text. So this pins the
product's expressions on edge inputs the gate corpora may lack (empty
text, tabs, padding), without tying any oracle to the code it checks."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F  # noqa: N812

from pdf_document_extractor_spark.functions.text import (
    EN_STOPWORDS,
    LANG_MARKERS,
    h64,
    h64_sql,
    marker_score,
    stopword_count,
    tokens,
)


def h64_duck(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


TOKENS_DUCK = "regexp_split_to_array(trim({expr}), '\\s+')"


def _list_lit_duck(words: list[str]) -> str:
    inner = ", ".join("'" + w.replace("'", "''") + "'" for w in words)
    return f"[{inner}]"


def marker_score_duck(tokens_expr: str, lang: str) -> str:
    markers = _list_lit_duck(LANG_MARKERS[lang])
    return f"len(list_intersect(list_distinct({tokens_expr}), {markers}))"


def stopword_count_duck(tokens_expr: str) -> str:
    stops = _list_lit_duck(EN_STOPWORDS)
    return f"len(list_filter({tokens_expr}, t -> list_contains({stops}, t)))"


SAMPLES = [
    "the quick brown fox",
    "der la of zai you is it",
    "",
    "  padded   whitespace\tand tabs  ",
    "punct! mixed-case? 123 digits",
]


def _duck_vals(sql: str) -> list:
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                + ", ".join(f"({i}, '{s}')" for i, s in enumerate(SAMPLES))
                + ") v(i, s)")
    return [r[0] for r in con.execute(
        f"SELECT {sql} FROM t ORDER BY i").fetchall()]


def test_h64_parity(spark):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(SAMPLES)], "i long, s string"
    )
    got = [
        r.h for r in df.select(h64(F.col("s")).alias("h"))
        .orderBy("i").collect()
    ]
    assert got == _duck_vals(h64_duck("s"))
    as_sql = df.selectExpr(f"{h64_sql('s')} AS h").orderBy("i").collect()
    assert [r.h for r in as_sql] == got


def test_marker_and_stopword_parity(spark):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(SAMPLES)], "i long, s string"
    ).select("i", tokens(F.col("s")).alias("toks"))
    toks_duck = TOKENS_DUCK.format(expr="s")
    for lang in ("en", "de", "zh"):
        got = [
            r.m
            for r in df.select(marker_score("toks", lang).alias("m"), "i")
            .orderBy("i")
            .collect()
        ]
        assert got == _duck_vals(marker_score_duck(toks_duck, lang)), lang
    got = [
        r.c
        for r in df.select(stopword_count("toks").alias("c"), "i")
        .orderBy("i")
        .collect()
    ]
    assert got == _duck_vals(stopword_count_duck(toks_duck))
