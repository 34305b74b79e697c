"""The shared durable-fold commit (state_store.DurableFold), checked on
every relation-side accumulator: a durable save that fails during a fold
leaves the batch uncommitted, a same-epoch retry folds it exactly once,
and a fresh instance on the same store restores the clean run's state."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

_H = 3600 * 1_000_000
_T0 = 1_700_000_000 * 1_000_000

_TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "a stitch in time saves nine said the tailor",
    "the quick brown fox jumps over the lazy cat",
    "all that glitters is not gold nor silver",
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _doc_batches(spark):
    return [
        _docs(spark, [(1, _TEXTS[0]), (2, _TEXTS[1]), (3, _TEXTS[0])]),
        _docs(spark, [(4, _TEXTS[0]), (5, _TEXTS[2]), (6, _TEXTS[3])]),
    ]


def _emb_batches(spark):
    def emb(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label string"
        )

    return [
        emb([(1, [1.0, 0.0], "l"), (2, [0.0, 1.0], "l"), (3, [0.99, 0.05], "l")]),
        emb([(4, [0.98, 0.1], "l"), (5, [-1.0, 0.0], "l")]),
    ]


def _event_batches(spark):
    def ev(rows):
        return spark.createDataFrame(
            rows, "event_id long, user_id long, us long, event_type string"
        ).select(
            "event_id",
            F.timestamp_micros(F.col("us")).alias("ts"),
            "user_id",
            "event_type",
        )

    return [
        ev([
            (1, 1, _T0, "view"),
            (2, 1, _T0 + 1, "click"),
            (3, 2, _T0, "click"),
            (4, 2, _T0 + _H, "view"),
        ]),
        ev([
            (5, 1, _T0 + 2, "click"),
            (6, 2, _T0 + 2 * _H, "click"),
            (7, 3, _T0 + 3 * _H, "view"),
        ]),
    ]


def _families():
    from flink_streaming_etl_spark.streaming.cep import CepAccumulator
    from flink_streaming_etl_spark.streaming.embedding_dedup import (
        EmbeddingNearDupAccumulator,
    )
    from flink_streaming_etl_spark.streaming.media_dedup import (
        MediaChunkDedupAccumulator,
    )
    from flink_streaming_etl_spark.streaming.neardup import (
        MinHashNearDupAccumulator,
    )
    from flink_streaming_etl_spark.streaming.paths import EventPathAccumulator
    from flink_streaming_etl_spark.streaming.text_dedup import (
        BloomTextDedupAccumulator,
    )
    from flink_streaming_etl_spark.streaming.transitions import (
        EventTransitionAccumulator,
    )

    return {
        "text_dedup": (BloomTextDedupAccumulator, _doc_batches, ("owner", "kept")),
        "media_dedup": (
            lambda **kw: MediaChunkDedupAccumulator(chunk_bytes=8, min_shared=1, **kw),
            _doc_batches,
            ("owner", "pairs"),
        ),
        "neardup": (
            lambda **kw: MinHashNearDupAccumulator(threshold=0.5, **kw),
            _doc_batches,
            ("band", "sh", "kept"),
        ),
        "embedding_dedup": (
            lambda **kw: EmbeddingNearDupAccumulator(threshold=0.9, **kw),
            _emb_batches,
            ("vec", "kept"),
        ),
        "paths": (EventPathAccumulator, _event_batches, ("open", "counts")),
        "transitions": (EventTransitionAccumulator, _event_batches, ("last",)),
        "cep": (CepAccumulator, _event_batches, ("tails",)),
    }


def _state(acc, names):
    out = {}
    for name in names:
        rel = getattr(acc, f"{name}_rel")
        out[name] = [] if rel is None else sorted(str(tuple(r)) for r in rel.collect())
    if hasattr(acc, "counts") and isinstance(acc.counts, dict):
        out["counts_matrix"] = sorted(acc.counts.items())
    return out


class _SaveFailed(RuntimeError):
    pass


@pytest.mark.parametrize("family", sorted(_families()))
def test_failed_save_commits_nothing_and_retry_folds_once(spark, tmp_path, family):
    make, batches, names = _families()[family]
    b0, b1 = batches(spark)

    clean = make()
    clean.add_batch(b0, batch_id=0)
    clean.add_batch(b1, batch_id=1)
    want = _state(clean, names)

    root = str(tmp_path / family)
    acc = make(store_root=root, spark=spark)
    acc.add_batch(b0, batch_id=0)
    after_first = _state(acc, names)

    real_save = acc.store.save
    calls = []

    def fail_once(*args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise _SaveFailed("disk full")
        return real_save(*args, **kwargs)

    acc.store.save = fail_once
    with pytest.raises(_SaveFailed):
        acc.add_batch(b1, batch_id=1)
    # nothing of the failed fold is committed
    assert acc.last_batch_id == 0
    assert acc.n_batches == 1
    assert _state(acc, names) == after_first

    # the same-epoch retry is not a replay, and folds exactly once
    acc.add_batch(b1, batch_id=1)
    acc.add_batch(b1, batch_id=1)
    assert len(calls) == 2
    assert acc.last_batch_id == 1
    assert acc.n_batches == 2
    assert _state(acc, names) == want

    fresh = make(store_root=root, spark=spark)
    assert fresh.last_batch_id == 1
    assert fresh.n_batches == 2
    assert _state(fresh, names) == want
