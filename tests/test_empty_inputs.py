"""Degenerate-input hardening: every registry entry must run (not crash) on
an empty corpus with the production schemas. Iterative operators must
terminate (zero-edge CC, empty k-means sample), blocked kernels must handle
zero blocks, and eager builders must not divide by zero on counts."""

from __future__ import annotations

import os

import pytest

from flink_streaming_etl_spark import api
from flink_streaming_etl_spark.catalog import load_tables


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    src = load_tables(spark, "/root/testdata/sf0.001", register=False)
    tmp = tmp_path_factory.mktemp("empty_sf")
    for name, df in src.items():
        df.limit(0).write.mode("overwrite").parquet(str(tmp / f"{name}.parquet"))
    return str(tmp)


def test_every_query_survives_empty_corpus(spark, empty_sf_dir):
    failures = {}
    for name, fn in api.queries().items():
        try:
            fn(spark, empty_sf_dir).collect()
        except Exception as e:  # noqa: BLE001 — collecting the full report
            failures[name] = str(e).splitlines()[0][:120]
    assert not failures, failures


def test_token_less_documents_score_and_stay_in_filter_stack(spark):
    """Documents with no a-z token ("12345") or no text at all ("") take
    the empty-array path of the LM scorers: ``jm_fluency`` must not throw
    (Spark 4's ANSI ``element_at(w, -1)`` does on an empty array), must
    equal its DuckDB twin, and ``filter_stack`` must keep every doc_id."""
    import duckdb

    from flink_streaming_etl_spark.operators import text as tx
    from tests.oracle import compare

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "en", "s0"),
            (2, "12345", "en", "s0"),
            (3, "", "en", "s1"),
            (4, "the dog sat on the log", "en", "s1"),
            (5, "cat", "en", "s0"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    ok, msg = compare(tx.jm_fluency(docs), con, tx.jm_fluency_sql())
    assert ok, msg

    stack = tx.filter_stack(docs).select("doc_id").collect()
    assert sorted(r["doc_id"] for r in stack) == [1, 2, 3, 4, 5]
