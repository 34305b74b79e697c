"""Streaming event-transition matrix: the Markov (from, to) counts of
:func:`~flink_streaming_etl_spark.operators.analytics
.event_transition_report` maintained across micro-batches.

Since round 13 the per-user last-event state is a DISTRIBUTED relation
``(user_id, ts, event_id, event_type, _last_fold)`` (r12 verdict #1 —
the driver ``last_event``/``last_active`` dicts grew with the corpus's
distinct users). Per micro-batch:

- WITHIN-batch transitions: the same lead() over (user_id, ts,
  event_id) window as the batch operator, pre-aggregated to (from, to)
  counts — a |event_types|²-bounded collect (O(results), not O(state)).
- BOUNDARY transitions: the batch's per-user FIRST event joins the
  last-event relation ON THE EXECUTORS and folds to (from, to) counts —
  another |types|²-bounded collect. The old per-returning-user driver
  loop is gone; no user row ever visits the driver.
- state fold: the batch's per-user LAST events replace their rows via
  broadcast anti ∪ union (the ``streaming/cep.py`` discipline), with
  idle retention (T5) decided relation-side on the carried
  ``_last_fold`` stamp.

The count matrix itself stays a driver dict — it is |types|²-bounded by
construction, the same bound that makes the two collects safe; it is
saved in the store's meta ``extra``. Durability, replay guard and
fold-then-commit (T6) follow
:class:`~flink_streaming_etl_spark.streaming.state_store.DurableFold`.

Ordering contract: per-user events must arrive batch-monotonically (the
PK-keyed Kafka guarantee, S6).

Equality pin (tests/test_round9.py): fed any batch-monotone split of
the events table, ``result()`` equals the batch operator's full-table
output.

The ``applyInPandasWithState`` twin lives in
:class:`StatefulEventTransitions` below — the native executor-resident
state path (Spark's GroupState) pinned equal to this foreachBatch
accumulator; at cluster scale that twin is the idiomatic home for the
per-user tuple, with Spark itself owning state placement, checkpointing
and timeout eviction.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_streaming_etl_spark.ckpt import eager_checkpoint
from flink_streaming_etl_spark.streaming.state_store import DurableFold


class EventTransitionAccumulator(DurableFold):
    """Incremental per-user transition counting, state relation-side."""

    #: ``last_rel``: per-user last event as a DISTRIBUTED relation
    #: (never a dict)
    _STATE = {"last": ["user_id"]}

    def __init__(
        self,
        retention_batches: int | None = None,
        store_root: str | None = None,
        spark: SparkSession | None = None,
    ):
        self.retention_batches = retention_batches
        #: (from, to) → n — |event_types|²-bounded, hence driver-safe
        self.counts: dict[tuple[str, str], int] = defaultdict(int)
        super().__init__(store_root, spark)

    def _on_restore(self, spark: SparkSession, extra: dict) -> None:
        self.counts = defaultdict(int)
        for f, t, c in extra.get("counts", []):
            self.counts[(f, t)] = int(c)

    # -- streaming side -----------------------------------------------------

    def add_batch(self, batch_events: DataFrame, batch_id: int | None = None) -> None:
        spark = batch_events.sparkSession
        if self._replayed(spark, batch_id):
            return
        n = self.n_batches + 1
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        base = batch_events.select("user_id", "ts", "event_id", "event_type")
        within = (
            base.withColumn("to_type", F.lead("event_type").over(w))
            .filter(F.col("to_type").isNotNull())
            .groupBy(F.col("event_type").alias("f"), F.col("to_type").alias("t"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # |event_types|²-bounded — O(results)
        )
        key = F.struct("ts", "event_id", "event_type")
        bounds = (
            base.groupBy("user_id")
            .agg(F.min(key).alias("first"), F.max(key).alias("last"))
            .localCheckpoint(eager=True)  # reused: boundary join + state fold
        )

        # boundary transitions — relation-side join of stored last events
        # with the batch's first events; only the (from, to) matrix
        # crosses to the driver
        boundary = []
        if self.last_rel is not None:
            boundary = (
                bounds.join(
                    self.last_rel.select(
                        "user_id", F.col("event_type").alias("_prev_type")
                    ),
                    "user_id",
                )
                .groupBy(
                    F.col("_prev_type").alias("f"),
                    F.col("first.event_type").alias("t"),
                )
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()  # |event_types|²-bounded — O(results)
            )

        # fold into LOCALS; self.* commits only after the durable save
        counts = defaultdict(int, self.counts)
        for r in within:
            counts[(r["f"], r["t"])] += r["n"]
        for r in boundary:
            counts[(r["f"], r["t"])] += r["n"]

        users_df = bounds.select("user_id")
        stamped = bounds.select(
            "user_id",
            F.col("last.ts").alias("ts"),
            F.col("last.event_id").alias("event_id"),
            F.col("last.event_type").alias("event_type"),
        ).withColumn("_last_fold", F.lit(n).cast("long"))
        if self.last_rel is not None:
            new_last = (
                self.last_rel.join(F.broadcast(users_df), "user_id", "anti")
                .unionByName(stamped)
            )
        else:
            new_last = stamped
        # idle retention (T5) decided relation-side
        if self.retention_batches is not None:
            horizon = n - self.retention_batches
            if horizon > 0:
                new_last = new_last.filter(F.col("_last_fold") > horizon)
        new_last = eager_checkpoint(new_last.coalesce(width))

        self._commit(
            batch_id,
            {"last": new_last},
            {"last": users_df},
            extra={"counts": [[f, t, int(c)] for (f, t), c in counts.items()]},
        )
        self.counts = counts

    # -- query side ---------------------------------------------------------

    @property
    def last_event(self) -> dict:
        """Diagnostic/test accessor: {user_id: (ts, event_id, type)} —
        COLLECTS the state relation; never part of the fold path."""
        if self.last_rel is None:
            return {}
        return {
            r["user_id"]: (r["ts"], r["event_id"], r["event_type"])
            for r in self.last_rel.collect()
        }

    def result(self, spark: SparkSession) -> DataFrame:
        """Accumulated transition matrix, identical schema (and, under the
        ordering contract, identical rows) to the batch operator."""
        import math

        by_from: dict[str, int] = defaultdict(int)
        for (f, _), n in self.counts.items():
            by_from[f] += n
        rows = [
            (f, t, int(n), math.floor(n / by_from[f] * 1000000.0) / 1000000.0)
            for (f, t), n in sorted(self.counts.items())
        ]
        return spark.createDataFrame(
            rows,
            "from_type string, to_type string, n_transitions long, "
            "p_transition double",
        )


# ---------------------------------------------------------------------------
# Native executor-resident state: the applyInPandasWithState twin (r12
# verdict task #6 — establish the idiomatic Spark stateful path).


#: GroupState layout: the user's last event (the exact tuple the
#: foreachBatch twin keeps per user in its state relation)
_GS_STATE = "us long, event_id long, event_type string"
#: emission: per-group (from, to) transition count deltas for the batch
_GS_OUTPUT = (
    "user_id long, from_type string, to_type string, n long"
)


def _transition_fold(key, pdf_iter, state):
    """Per-user GroupState fold: chain the stored last event to the
    batch's first, count within-batch transitions, store the new last.
    Pure pandas inside — executes ON THE EXECUTOR holding the group."""
    import pandas as pd

    rows = pd.concat(list(pdf_iter), ignore_index=True)
    rows = rows.sort_values(["us", "event_id"], kind="mergesort")
    types = rows["event_type"].tolist()
    out: dict[tuple[str, str], int] = {}
    if state.exists:
        prev_us, prev_eid, prev_type = state.get
        if types:
            out[(prev_type, types[0])] = out.get((prev_type, types[0]), 0) + 1
    for a, b in zip(types, types[1:]):
        out[(a, b)] = out.get((a, b), 0) + 1
    if len(rows):
        last = rows.iloc[-1]
        state.update((int(last["us"]), int(last["event_id"]),
                      str(last["event_type"])))
    (uid,) = key
    yield pd.DataFrame(
        [
            {"user_id": uid, "from_type": f, "to_type": t, "n": n}
            for (f, t), n in out.items()
        ],
        columns=["user_id", "from_type", "to_type", "n"],
    )


class StatefulEventTransitions:
    """``applyInPandasWithState`` twin of :class:`EventTransitionAccumulator`
    — per-user last-event state lives in Spark's GroupState on the
    executors (checkpointed by the engine, no accumulator relation),
    and the stream emits per-batch (from, to) count DELTAS which any
    additive downstream (here: a driver matrix fed via foreachBatch of
    the OUTPUT stream) folds. Equality with the foreachBatch twin is
    pinned in tests/test_round13.py."""

    def __init__(self):
        self.counts: dict[tuple[str, str], int] = defaultdict(int)

    def transform(self, stream_events: DataFrame) -> DataFrame:
        """The stateful transform: streaming events → per-batch per-user
        transition deltas (the stateful operator itself — composable
        with any downstream aggregation or sink)."""
        from pyspark.sql.streaming.state import GroupStateTimeout

        prepared = stream_events.select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            "event_id",
            "event_type",
        )
        return prepared.groupBy("user_id").applyInPandasWithState(
            _transition_fold,
            outputStructType=_GS_OUTPUT,
            stateStructType=_GS_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    def attach(self, stream_events: DataFrame, **start_kwargs):
        """Run the stateful transform and fold its delta stream into the
        driver matrix (the deltas are |types|²-bounded per batch)."""
        deltas = self.transform(stream_events)

        def _fold(batch: DataFrame, bid: int) -> None:
            for r in (
                batch.groupBy("from_type", "to_type")
                .agg(F.sum("n").alias("n"))
                .collect()
            ):
                self.counts[(r["from_type"], r["to_type"])] += int(r["n"])

        return (
            deltas.writeStream.outputMode("append")
            .foreachBatch(_fold)
            .start(**start_kwargs)
        )

    def result(self, spark: SparkSession) -> DataFrame:
        import math

        by_from: dict[str, int] = defaultdict(int)
        for (f, _), n in self.counts.items():
            by_from[f] += n
        rows = [
            (f, t, int(n), math.floor(n / by_from[f] * 1000000.0) / 1000000.0)
            for (f, t), n in sorted(self.counts.items())
        ]
        return spark.createDataFrame(
            rows,
            "from_type string, to_type string, n_transitions long, "
            "p_transition double",
        )
