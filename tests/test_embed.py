"""Embedding parity: python spec == pandas UDF, token hash == DuckDB."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from c99_vectordb_spark import hashing
from c99_vectordb_spark.functions import embed

DIM = 64


def test_python_spec_basics():
    assert hashing.tokenize("Hello, Wor_ld 9x!") == ["hello", "wor_ld", "9x"]
    v = hashing.embed_text_int("hello hello", dim=DIM)
    assert sum(abs(x) for x in v) == 2  # same token twice, one bucket
    n = hashing.embed_text("hello world", dim=DIM)
    assert abs(sum(x * x for x in n) - 1.0) < 1e-9


def test_token_hash_matches_duckdb():
    toks = ["abc", "hello", "wor_ld", "9x", "a", "zzzzzzzzzz", "1234567890"]
    expected = [hashing.token_hash(t) for t in toks]
    got = [
        duckdb.sql(
            f"select {hashing.duckdb_token_hash_sql('tok')} from (values ('{t}')) v(tok)"
        ).fetchone()[0]
        for t in toks
    ]
    assert got == expected


@pytest.fixture(scope="module")
def sample(spark, documents):
    return documents.limit(30).select("doc_id", "text")


def test_udf_matches_python(spark, sample):
    rows = (
        sample.withColumn("vec", embed.embed_pandas_udf(DIM)(F.col("text")))
        .select("doc_id", "text", "vec")
        .collect()
    )
    assert rows
    for r in rows:
        assert list(r.vec) == hashing.embed_text_int(r.text, dim=DIM)


def test_normalized_unit_norm(spark, sample):
    # note: the UDF column must be materialized in its own projection —
    # Spark can't nest a Python UDF syntactically inside a HOF lambda
    rows = (
        sample.withColumn("vec", embed.embed_pandas_udf(DIM)(F.col("text")))
        .select(embed.normalized(F.col("vec")).alias("n"))
        .collect()
    )
    for r in rows:
        norm2 = sum(x * x for x in r.n)
        assert abs(norm2 - 1.0) < 1e-9


def test_blank_bodies_skipped(spark):
    df = spark.createDataFrame(
        [(0, "real body"), (1, "   "), (2, ""), (3, None)], ["id", "body"]
    )
    out = embed.build_embeddings(df, dim=DIM).collect()
    assert [r.id for r in out] == [0]
