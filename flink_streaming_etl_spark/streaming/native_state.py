"""Native executor-resident state for the ±delta accumulators — the r14
pilot (r13 verdict #7): ``IncrementalDistinctCount``'s reference-count
semantics re-hosted on Spark's own keyed streaming state, so the engine
owns state placement, incremental checkpointing, and idle-key TTL
instead of the hand-built BucketedState relations.

The host is :class:`NativeDistinctCount` — ``applyInPandasWithState``
(the distinct count's live-pair relation is the largest state that
grows with the corpus): per-GROUP GroupState holds the (value →
refcount) map as two parallel arrays plus the folded distinct count.
Engine-checkpointed (restart-proven), idle groups expire through
``GroupStateTimeout.ProcessingTimeTimeout`` (Flink state-TTL semantics:
a reappearing group starts fresh). The granularity trade vs the
hand-built twin: state updates are per-group (the whole array struct
rewrites when any of the group's values change), where
``IncrementalDistinctCount``'s bucketed save rewrites per touched hash
bucket — still O(touched groups) per batch, never O(|state|).

Delivery contract matches the foreachBatch twin: per-key exactly-once
in-order changelog with faithful before-images (S6). Equality,
restart, and retention pins: tests/test_round14.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_streaming_etl_spark.streaming.incremental import changelog_deltas


def _dc_fold(key_names: list[str], retention_ms: int | None):
    """Build the per-group GroupState fold: merge the batch's signed
    (value, ±1) deltas into the refcount arrays, fold 0-crossings into
    the distinct count, emit the group's updated count (0 on eviction —
    the downstream removal signal, mirroring the twin's ``cnt > 0``
    filter)."""

    def fold(key, pdf_iter, state):
        import pandas as pd

        def emit(n):
            return pd.DataFrame(
                [tuple(key) + (n,)], columns=[*key_names, "distinct_cnt"]
            )

        if state.hasTimedOut:
            # idle past the TTL: Flink state-TTL semantics — the group's
            # refcounts vanish; a reappearing group starts fresh
            state.remove()
            yield emit(0)
            return
        agg: dict = {}
        for pdf in pdf_iter:
            for v, s in zip(pdf["v"].tolist(), pdf["sign"].tolist()):
                agg[v] = agg.get(v, 0) + int(s)
        if state.exists:
            vs, cnts, n = state.get
            refs = dict(zip(vs, cnts))
            n = int(n)
        else:
            refs, n = {}, 0
        for v, d in agg.items():
            if d == 0:
                continue
            old = int(refs.get(v, 0))
            new = old + d
            if old <= 0 < new:
                n += 1
            elif old > 0 >= new:
                n -= 1
            if new == 0:
                refs.pop(v, None)
            else:
                refs[v] = new
        if refs:
            state.update((list(refs.keys()), list(refs.values()), n))
            if retention_ms is not None:
                state.setTimeoutDuration(retention_ms)
        else:
            state.remove()
        yield emit(n)

    return fold


class NativeDistinctCount:
    """Engine-keyed-state twin of
    :class:`~flink_streaming_etl_spark.streaming.incremental
    .IncrementalDistinctCount`: exact retractable COUNT(DISTINCT value)
    GROUP BY keys over a changelog stream, state resident on the
    executors and checkpointed by Structured Streaming."""

    def __init__(
        self,
        key_exprs: Callable[[Column], list[Column]],
        value: Callable[[Column], Column],
        predicate: Callable[[Column], Column] | None = None,
        retention_ms: int | None = None,
    ):
        self.key_exprs = key_exprs
        self.value = value
        self.predicate = predicate
        #: idle-group TTL (T5) via GroupStateTimeout — wall-clock, the
        #: engine's retention clock (the foreachBatch twin counts folds).
        #: NOTE: a live query with processing-time timeouts triggers
        #: continuous (possibly empty) batches so expiries can fire —
        #: inherent engine behavior; timeout timestamps persist in the
        #: checkpoint and also fire on a resumed query's first batch.
        self.retention_ms = retention_ms

    def _prepared(self, changelog_stream: DataFrame) -> DataFrame:
        img = F.col("img")
        deltas = changelog_deltas(changelog_stream, self.predicate)
        keys = self.key_exprs(img)
        key_names = [f"k{i}" for i in range(len(keys))]
        return deltas.select(
            *[k.alias(n) for k, n in zip(keys, key_names)],
            # COUNT(DISTINCT) ignores NULL values; so must the ref tier.
            # Values ride as strings in the array state — distinctness
            # is preserved for the scalar types the twin supports.
            self.value(img).cast("string").alias("v"),
            F.col("sign").cast("long").alias("sign"),
        ).filter(F.col("v").isNotNull())

    def transform(self, changelog_stream: DataFrame) -> DataFrame:
        """Parsed changelog stream (op/before/after) → per-batch updated
        (keys..., distinct_cnt) rows for every touched group; a 0 row
        signals group removal (all refcounts gone or TTL eviction)."""
        from pyspark.sql.streaming.state import GroupStateTimeout

        prepared = self._prepared(changelog_stream)
        key_fields = [
            f for f in prepared.schema.fields if f.name.startswith("k")
        ]
        key_names = [f.name for f in key_fields]
        out_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in key_fields
        ) + ", distinct_cnt long"
        timeout = (
            GroupStateTimeout.ProcessingTimeTimeout
            if self.retention_ms is not None
            else GroupStateTimeout.NoTimeout
        )
        return prepared.groupBy(*key_names).applyInPandasWithState(
            _dc_fold(key_names, self.retention_ms),
            outputStructType=out_schema,
            stateStructType="vs array<string>, cnts array<long>, n long",
            outputMode="update",
            timeoutConf=timeout,
        )

    def attach(
        self, changelog_stream: DataFrame, on_counts_df=None, **start_kwargs
    ):
        """Start the stateful query; each batch's updated-count
        DataFrame goes to ``on_counts_df`` (distributed sink; None →
        discard distributed)."""
        from flink_streaming_etl_spark.streaming.stateful import (
            discard_distributed,
        )

        updates = self.transform(changelog_stream)
        sink = on_counts_df if on_counts_df is not None else discard_distributed
        return (
            updates.writeStream.outputMode("update")
            .foreachBatch(lambda batch, bid: sink(batch))
            .start(**start_kwargs)
        )

