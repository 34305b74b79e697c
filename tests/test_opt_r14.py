"""Round-14 optimization: focused pins for operator internals that were
restructured for performance. Each test proves the rewritten internal
produces bit-identical relations / decisions to the pre-optimization
definition (the definitions are re-stated inline as the reference)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_streaming_etl_spark.catalog import load_tables

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def tables(spark):
    return load_tables(spark, SF_DIR)


def test_lm_bigram_tf2_equals_zipwith_reference(spark, tables):
    """The position-explode bigram relation (r14: one tokenization per row
    instead of four interpreted ones) must reproduce the original
    zip_with(slice, slice) construction row-for-row."""
    from flink_streaming_etl_spark.operators.text import _lm_bigram_tf2

    docs = tables["documents"]
    w = F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != "")
    ref = (
        docs.select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
                    F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("g"),
        )
        .select("doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    new = _lm_bigram_tf2(docs)
    assert new.exceptAll(ref).count() == 0
    assert ref.exceptAll(new).count() == 0


def test_lsh_fused_signatures_bit_identical(spark, tables):
    """The fused one-md5-pass signature relation inside minhash_lsh_pairs
    derives the 32-bit permutation input as the top 32 bits of the 60-bit
    md5 prefix (first 8 hex chars == h60 >> 28). Signatures must equal
    minhash_signatures' md5(8-hex) path bit-for-bit, and the fused hash
    sets must equal the standalone sorted-distinct-hash relation."""
    from flink_streaming_etl_spark.operators.dedup import (
        _hash_array_rel,
        _sig_aggs,
        _word_shingle_rows,
        minhash_signatures,
    )

    docs = tables["documents"]
    rows = _word_shingle_rows(docs).withColumn(
        "h60", F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
    )
    fused = rows.groupBy("doc_id").agg(
        *_sig_aggs(F.shiftright(F.col("h60"), 28)),
        F.array_sort(F.collect_set("h60")).alias("sh"),
    )
    sigs_ref = minhash_signatures(docs)
    sig_cols = ["doc_id"] + [f"m{i}" for i in range(8)]
    assert fused.select(*sig_cols).exceptAll(sigs_ref).count() == 0
    assert sigs_ref.exceptAll(fused.select(*sig_cols)).count() == 0
    arrays_ref = _hash_array_rel(docs).withColumnRenamed("hashes", "sh")
    assert fused.select("doc_id", "sh").exceptAll(arrays_ref).count() == 0
    assert arrays_ref.exceptAll(fused.select("doc_id", "sh")).count() == 0


def test_label_propagation_convergence_skip_returns_fixpoint(spark):
    """The r14 loop breaks BEFORE checkpointing when the monotone label SUM
    is unchanged (new labels provably identical); the returned relation must
    still be the exact connected-components labeling."""
    from flink_streaming_etl_spark.operators.dedup import _label_propagation_loop

    # two components {1,2,3,7} (chain) and {5,6}, plus isolated via self-pair
    pairs = [(1, 2), (2, 3), (3, 7), (5, 6)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "a_id long, b_id long"
    )
    out = {
        (r["node"], r["label"])
        for r in _label_propagation_loop(edges, max_iter=30).collect()
    }
    assert out == {(1, 1), (2, 1), (3, 1), (7, 1), (5, 5), (6, 5)}


def test_label_propagation_empty_edges(spark):
    from flink_streaming_etl_spark.operators.dedup import _label_propagation_loop

    edges = spark.createDataFrame([], "a_id long, b_id long")
    assert _label_propagation_loop(edges, max_iter=5).count() == 0


def test_substring_shingles_memoized_per_session(spark, tables):
    """_substring_shingles is memo_persist'd: repeat calls on the same input
    return the SAME cached DataFrame (one materialization serves the cut
    stage's three consumers)."""
    from flink_streaming_etl_spark.operators._cache import (
        cache_stats,
        clear_operator_caches,
    )
    from flink_streaming_etl_spark.operators.text import _substring_shingles

    clear_operator_caches()
    docs = tables["documents"]
    a = _substring_shingles(docs, 8)
    b = _substring_shingles(docs, 8)
    assert a is b
    assert cache_stats().get("substr_sh") == 1
    clear_operator_caches()


def test_greedy_walk_still_closes_chains(spark):
    """The sorted per-key walk must return exactly the greedy chain from
    each key's first node: a node starting inside the last taken span is
    skipped, a taken node with a NULL end stops the walk, and a NULL key
    is a group of its own. Rows arrive out of order."""
    from flink_streaming_etl_spark.operators.cep import _greedy_walk

    # (user_id, node id, start, end)
    # user 1: chain 1 -> 2 -> 3 -> 4; nodes 5 and 6 start inside a taken span
    # user 2: chain 10 -> 11; 11 is pending (NULL end), so 12 is never taken
    # NULL key: chain 20 -> 22; 21 starts inside 20's span
    nodes = spark.createDataFrame(
        [
            (1, 4, 6, 7), (2, 12, 5, 6), (1, 1, 0, 2), (None, 22, 3, 4),
            (1, 5, 2, 3), (2, 11, 2, None), (1, 2, 3, 4), (None, 20, 0, 2),
            (1, 6, 4, 9), (2, 10, 0, 1), (1, 3, 5, 5), (None, 21, 1, 1),
        ],
        "user_id long, rn long, s long, e long",
    )
    walked = _greedy_walk(nodes, F.col("s"), F.col("e"), ["rn"])
    assert walked.columns == ["user_id", "rn"]
    got = {(r["user_id"], r["rn"]) for r in walked.collect()}
    assert got == {
        (1, 1), (1, 2), (1, 3), (1, 4), (2, 10), (2, 11), (None, 20), (None, 22)
    }
