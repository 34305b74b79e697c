"""The shared durable-fold commit (state_store.DurableFold), checked on
every accumulator with a store: a durable save that fails during a fold
leaves the batch uncommitted (state, retention stamps and clock), a
same-epoch retry folds it exactly once, and a fresh instance on the same
store restores the clean run's state."""

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


def _cdc_batches(spark):
    from flink_streaming_etl_spark.sources.cdc import CdcSource
    from tests.test_cdc import ORDER_SCHEMA, env, order, raw_df

    src = CdcSource("orders", ORDER_SCHEMA, "id")
    return [
        src.parse(raw_df(spark, [
            env("c", order("o1", "u1", 10.0, "payed"), ts=1),
            env("c", order("o2", "u2", 20.0, "payed"), ts=2),
            env("c", order("o3", "u3", 30.0, "created"), ts=3),
        ])),
        # touches 'payed' only: with retention_batches=1, 'created' is
        # evicted in this fold
        src.parse(raw_df(spark, [
            env("c", order("o4", "u4", 40.0, "payed"), ts=4),
            env("d", before=order("o1", "u1", 10.0, "payed"), ts=5),
        ])),
    ]


def _join_batches(spark):
    from pyspark.sql.types import StringType, StructField, StructType

    from flink_streaming_etl_spark.sources.cdc import CdcSource
    from tests.test_cdc import ORDER_SCHEMA, env, order, raw_df

    cust = StructType([StructField(c, StringType()) for c in ("id", "name", "area")])
    orders = CdcSource("orders", ORDER_SCHEMA, "id")
    customers = CdcSource("customers", cust, "id")

    def c(cid, name, area):
        return {"id": cid, "name": name, "area": area}

    return [
        (
            orders.parse(raw_df(spark, [
                env("c", order("o1", "u1", 10.0, "payed"), ts=1),
                env("c", order("o2", "u2", 20.0, "payed"), ts=2),
            ])),
            customers.parse(raw_df(spark, [
                env("c", c("u1", "ann", "EU"), ts=1),
                env("c", c("u2", "bob", "US"), ts=2),
            ])),
        ),
        (
            orders.parse(raw_df(spark, [
                env("u", order("o1", "u1", 15.0, "payed"),
                    before=order("o1", "u1", 10.0, "payed"), ts=3),
                env("d", before=order("o2", "u2", 20.0, "payed"), ts=4),
            ])),
            customers.parse(raw_df(spark, [
                env("u", c("u1", "ann", "APAC"), before=c("u1", "ann", "EU"), ts=5),
            ])),
        ),
    ]


def _order_batches(spark):
    def orders(rows):
        return spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_totalprice double, "
            "o_orderdate string, o_orderstatus string",
        )

    return [
        orders([(1, 1, 10.0, "1995-01-01", "O"), (2, 3, 20.0, "1995-01-02", "F"),
                (2, 1, -1.0, "1995-01-03", "X")]),
        orders([(3, None, 5.0, "2009-01-01", "O"), (1, 2, 7.0, "1995-01-04", "P")]),
    ]


def _state_dir(factory):
    """Adapt a ``state_dir`` accumulator to the ``store_root``/``spark``
    construction the contract uses (restore when ``spark`` is given)."""

    def make(store_root=None, spark=None):
        acc = factory(store_root)
        if spark is not None:
            acc.restore(spark)
        return acc

    return make


def _join(state_dir=None):
    from flink_streaming_etl_spark.streaming.incremental_join import IncrementalJoin

    return IncrementalJoin(
        left_pk="id", right_pk="id", left_key="user_id", right_key="id",
        state_dir=state_dir,
    )


def _families():
    from flink_streaming_etl_spark.streaming.cep import CepAccumulator
    from flink_streaming_etl_spark.streaming.collect import IncrementalCollect
    from flink_streaming_etl_spark.streaming.data_quality import (
        DataQualityAccumulator,
    )
    from flink_streaming_etl_spark.streaming.embedding_dedup import (
        EmbeddingNearDupAccumulator,
    )
    from flink_streaming_etl_spark.streaming.incremental import (
        IncrementalDistinctCount,
    )
    from flink_streaming_etl_spark.streaming.incremental_join import (
        IncrementalJoinAgg,
        IncrementalJoinCollect,
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
    from flink_streaming_etl_spark.streaming.topk import IncrementalTopK
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
        "topk_retention": (
            _state_dir(lambda d: IncrementalTopK(
                pk="id", group_cols=["status"], order_col="amount", k=2,
                state_dir=d, retention_batches=1,
            )),
            _cdc_batches,
            ("state", "topk", "retention_touch"),
        ),
        "collect_retention": (
            _state_dir(lambda d: IncrementalCollect(
                pk="id", group_cols=["status"], value_cols=["id"],
                state_dir=d, retention_batches=1,
            )),
            _cdc_batches,
            ("state", "agg", "retention_touch"),
        ),
        "distinct_count_retention": (
            _state_dir(lambda d: IncrementalDistinctCount(
                key_exprs=lambda img: [img["status"]],
                value=lambda img: img["user_id"],
                state_dir=d, retention_batches=1,
            )),
            _cdc_batches,
            ("ref_state", "count_state", "retention_touch"),
        ),
        "data_quality": (
            _state_dir(lambda d: DataQualityAccumulator(dim_keys={1, 2}, state_dir=d)),
            _order_batches,
            ("seen",),
        ),
        "join": (
            _state_dir(_join), _join_batches, ("left_state", "right_state", "join_state"),
        ),
        "join_agg": (
            _state_dir(lambda d: IncrementalJoinAgg(
                _join(),
                group_cols={"user_id": "user_id", "cday": F.substring("ctime", 1, 10)},
                amount=F.col("amount"),
                state_dir=d,
            )),
            _join_batches,
            ("state", "join_left_state", "join_right_state", "join_join_state"),
        ),
        "join_collect": (
            _state_dir(lambda d: IncrementalJoinCollect(
                _join(), group_cols=["area"], value_cols=["id"], state_dir=d,
            )),
            _join_batches,
            ("agg", "join_left_state", "join_right_state", "join_join_state"),
        ),
    }


def _fold(acc, batch, batch_id):
    if isinstance(batch, tuple):  # (left, right) changelog chunks
        return acc.apply(*batch, batch_id=batch_id)
    if hasattr(acc, "apply"):
        return acc.apply(batch, batch_id=batch_id)
    return acc.add_batch(batch, batch_id=batch_id)


def _state(acc, names):
    out = {}
    for name in names:
        rel = getattr(acc, acc._ATTR.format(name))
        out[name] = [] if rel is None else sorted(str(tuple(r)) for r in rel.collect())
    if hasattr(acc, "counts") and isinstance(acc.counts, dict):
        out["counts_matrix"] = sorted(acc.counts.items())
    if hasattr(acc, "violations"):
        out["counters"] = (acc.n_rows, sorted(acc.violations.items()))
    return out


class _SaveFailed(RuntimeError):
    pass


@pytest.mark.parametrize("family", sorted(_families()))
def test_failed_save_commits_nothing_and_retry_folds_once(spark, tmp_path, family):
    make, batches, names = _families()[family]
    b0, b1 = batches(spark)

    clean = make()
    _fold(clean, b0, 0)
    _fold(clean, b1, 1)
    want = _state(clean, names)
    if clean.retention_batches is not None:
        assert "created" not in str(want)  # the idle group was evicted

    root = str(tmp_path / family)
    acc = make(store_root=root, spark=spark)
    _fold(acc, b0, 0)
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
        _fold(acc, b1, 1)
    # nothing of the failed fold is committed: no state, and neither the
    # retention stamps (in ``names``) nor the clock tick
    assert acc.last_batch_id == 0
    assert acc.n_batches == 1
    assert _state(acc, names) == after_first
    if acc._retention is not None:
        assert acc._retention.n_batches == 1

    # the same-epoch retry is not a replay, and folds exactly once
    _fold(acc, b1, 1)
    _fold(acc, b1, 1)
    assert len(calls) == 2
    assert acc.last_batch_id == 1
    assert acc.n_batches == 2
    assert _state(acc, names) == want

    fresh = make(store_root=root, spark=spark)
    assert fresh.last_batch_id == 1
    assert fresh.n_batches == 2
    assert _state(fresh, names) == want


def test_unreadable_meta_is_logged_with_its_path(tmp_path, caplog):
    """A store handle on a root whose meta.json cannot be parsed starts
    from a fresh bucket map — and says so, naming the file."""
    import logging

    from flink_streaming_etl_spark.streaming.state_store import (
        AccumulatorStateStore,
    )

    root = tmp_path / "st"
    root.mkdir()
    (root / "meta.json").write_text("{not json")
    with caplog.at_level(logging.WARNING):
        store = AccumulatorStateStore(str(root))
    assert str(root / "meta.json") in caplog.text
    assert store._bucket_map == {}
