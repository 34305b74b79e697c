"""Streaming session-path analysis: the path-frequency head of
:func:`~flink_streaming_etl_spark.operators.analytics.top_event_paths`
maintained across micro-batches — the third member of the behavioral
streaming trio (transitions.py gives the Markov edges, windows.py the
session envelopes, this the full-path distribution).

Since round 13 the open-session state is a DISTRIBUTED relation
``(user_id, types array ≤ max_steps, last_us, _last_fold)`` (r12
verdict #1 — the driver ``open``/``last_active`` dicts grew with the
corpus's active users). Per micro-batch:

- the batch sessionizes with the SAME lag+running-sum recipe as the
  batch operator, folding to per-session (user_id, session_idx, types,
  first_us, last_us) rows — a RELATION, never collected;
- boundary stitching is decided by ONE join of the batch's first
  sessions against the open relation: an open session within the gap
  absorbs the first batch session (arrays concatenate, still capped);
  otherwise it closes. Every non-final batch session closes by
  construction. All relation-side — the old per-user driver loop is
  gone.
- closed sessions fold into a DISTRIBUTED (path, n_sessions) counts
  relation (r13 verdict #2: the Σ|types|^k path bound, k ≤ max_steps,
  is not small for a high-cardinality event-type alphabet, so counts
  are data, not driver memory). NOTHING crosses to the driver in the
  fold — collection happens only in the diagnostic ``counts``
  accessor and ``top_paths(k)`` (k rows).
- idle retention (T5): users idle past ``retention_batches`` have
  their open session CLOSED into the counts (a session timeout is
  semantics, not approximation) and their rows dropped — both decided
  relation-side.

Durability, replay guard and fold-then-commit (T6) follow
:class:`~flink_streaming_etl_spark.streaming.state_store.DurableFold` —
pinned by tests/test_round12.py's failure-at-the-last-step retry test.

Equality pin (tests/test_round10.py): fed any batch-monotone split,
``result()`` (closed + still-open paths) equals the batch operator's
full-table path frequencies.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from flink_streaming_etl_spark.ckpt import eager_checkpoint
from flink_streaming_etl_spark.operators.analytics import (
    PATH_GAP_MINUTES,
    PATH_MAX_STEPS,
)
from flink_streaming_etl_spark.streaming.state_store import DurableFold


_COUNTS_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("n_sessions", LongType()),
    ]
)


class EventPathAccumulator(DurableFold):
    """Incremental gap-session path counting, state relation-side."""

    #: ``open_rel``: OPEN sessions as a DISTRIBUTED relation (never a
    #: driver dict); ``counts_rel``: closed-path frequencies (path,
    #: n_sessions), DISTRIBUTED too (r14, r13 verdict #2 — |types|^k is
    #: driver-unsafe for large alphabets), collected only by the
    #: diagnostic ``counts`` accessor and ``top_paths(k)``. A save
    #: rewrites only the buckets of paths the batch closed.
    _STATE = {
        "open": ["user_id"],
        "counts": ["path"],
    }

    def __init__(
        self,
        gap_minutes: int = PATH_GAP_MINUTES,
        max_steps: int = PATH_MAX_STEPS,
        retention_batches: int | None = None,
        store_root: str | None = None,
        spark: SparkSession | None = None,
    ):
        self.gap_us = gap_minutes * 60 * 1_000_000
        self.max_steps = max_steps
        self.retention_batches = retention_batches
        super().__init__(store_root, spark)

    def _on_restore(self, spark: SparkSession, extra: dict) -> None:
        if self.counts_rel is None and extra.get("counts"):
            # pre-r14 stores carried the counts dict in extra — rebuild
            # the relation once on restore (one-way migration)
            self.counts_rel = spark.createDataFrame(
                [(p, int(n)) for p, n in extra["counts"].items()],
                _COUNTS_SCHEMA,
            ).localCheckpoint(eager=True)

    # -- streaming side -----------------------------------------------------

    def add_batch(self, batch_events: DataFrame, batch_id: int | None = None) -> None:
        spark = batch_events.sparkSession
        if self._replayed(spark, batch_id):
            return
        n_batches = self.n_batches + 1
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))

        us = F.unix_micros(F.col("ts").cast("timestamp"))
        w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
        prev_us = F.lag(us).over(w)
        is_new = F.when(
            prev_us.isNull() | ((us - prev_us) > self.gap_us), 1
        ).otherwise(0)
        wu = Window.partitionBy("user_id")
        sess = (
            batch_events.withColumn(
                "session_idx",
                F.sum(is_new).over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
            )
            .groupBy("user_id", "session_idx")
            .agg(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                us.alias("us"),
                                F.col("event_id").alias("eid"),
                                F.col("event_type").alias("t"),
                            )
                        )
                    ),
                    lambda s: s["t"],
                ).alias("types"),
                F.min(us).alias("first_us"),
                F.max(us).alias("last_us"),
            )
            .withColumn("_k", F.max("session_idx").over(wu))
            .localCheckpoint(eager=True)  # reused: stitch, close, open fold
        )

        open_cols = (
            self.open_rel.select(
                "user_id",
                F.col("types").alias("_open_types"),
                F.col("last_us").alias("_open_last_us"),
            )
            if self.open_rel is not None
            else None
        )
        cap = self.max_steps
        path_of = lambda c: F.concat_ws(">", F.slice(c, 1, cap))  # noqa: E731

        if open_cols is not None:
            first = sess.filter(F.col("session_idx") == 1).join(
                open_cols, "user_id", "left"
            )
            stitched = F.col("_open_types").isNotNull() & (
                (F.col("first_us") - F.col("_open_last_us")) <= self.gap_us
            )
            # stored open sessions that do NOT stitch close now
            closed_from_open = first.filter(
                F.col("_open_types").isNotNull() & ~stitched
            ).select(path_of(F.col("_open_types")).alias("path"))
            merged_types = F.when(
                stitched,
                F.slice(
                    F.concat(F.col("_open_types"), F.col("types")), 1, cap
                ),
            ).otherwise(F.slice(F.col("types"), 1, cap))
            first = first.select(
                "user_id",
                F.col("session_idx"),
                merged_types.alias("types"),
                "first_us",
                "last_us",
                "_k",
            )
            rest = sess.filter(F.col("session_idx") > 1).select(
                "user_id", "session_idx",
                F.slice(F.col("types"), 1, cap).alias("types"),
                "first_us", "last_us", "_k",
            )
            resolved = first.unionByName(rest)
        else:
            closed_from_open = None
            resolved = sess.select(
                "user_id", "session_idx",
                F.slice(F.col("types"), 1, cap).alias("types"),
                "first_us", "last_us", "_k",
            )
        resolved = resolved.localCheckpoint(eager=True)  # reused 2×

        # every non-final batch session closes by construction
        closed_batch = resolved.filter(
            F.col("session_idx") < F.col("_k")
        ).select(path_of(F.col("types")).alias("path"))
        closed = (
            closed_batch
            if closed_from_open is None
            else closed_batch.unionByName(closed_from_open)
        )

        # the final batch session per user stays (or becomes) open
        stamped = resolved.filter(F.col("session_idx") == F.col("_k")).select(
            "user_id",
            "types",
            F.col("last_us").cast("long").alias("last_us"),
            F.lit(n_batches).cast("long").alias("_last_fold"),
        )
        users_df = sess.select("user_id").distinct()
        if self.open_rel is not None:
            untouched = self.open_rel.join(
                F.broadcast(users_df), "user_id", "anti"
            )
        else:
            untouched = None

        # idle retention (T5): a session timeout CLOSES the session —
        # decided relation-side on the carried fold stamp
        evicted_paths = None
        if (
            self.retention_batches is not None
            and untouched is not None
        ):
            horizon = n_batches - self.retention_batches
            if horizon > 0:
                idle = F.col("_last_fold") <= horizon
                evicted_paths = untouched.filter(idle).select(
                    path_of(F.col("types")).alias("path")
                )
                untouched = untouched.filter(~idle)
        if evicted_paths is not None:
            closed = closed.unionByName(evicted_paths)

        new_open = (
            stamped
            if untouched is None
            else untouched.unionByName(stamped)
        )
        new_open = eager_checkpoint(new_open.coalesce(width))

        # counts fold stays RELATION-SIDE (r14): the batch's closed-path
        # aggregate merges into the counts relation via union + groupBy
        # (untouched paths pass through; per-fold driver transfer is the
        # eager_checkpoint scalars only — collect-spy pinned)
        closed_agg = (
            closed.groupBy("path")
            .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
            .localCheckpoint(eager=True)  # reused: fold + touched save
        )
        if self.counts_rel is not None:
            new_counts = (
                self.counts_rel.unionByName(closed_agg)
                .groupBy("path")
                .agg(F.sum("n_sessions").cast("long").alias("n_sessions"))
            )
        else:
            new_counts = closed_agg
        new_counts = eager_checkpoint(new_counts.coalesce(width))
        self._evict()
        self._commit(
            batch_id,
            {"open": new_open, "counts": new_counts},
            {"open": users_df, "counts": closed_agg.select("path")},
        )

    def _evict(self) -> None:
        """Eviction is decided relation-side inside :meth:`add_batch`;
        this hook marks the end of the fold's Spark phases and exists as
        the pre-commit failure-injection point the T6 retry tests pin."""

    # -- query side -----------------------------------------------------------

    @property
    def open(self) -> dict:
        """Diagnostic/test accessor: {user_id: (types tuple, last_us)} —
        COLLECTS the open-session relation; never part of the fold."""
        if self.open_rel is None:
            return {}
        return {
            r["user_id"]: (tuple(r["types"]), r["last_us"])
            for r in self.open_rel.collect()
        }

    @property
    def counts(self) -> dict:
        """Diagnostic/test accessor: {path: n closed sessions} —
        COLLECTS the counts relation; never part of the fold (the
        operational state is :attr:`counts_rel`)."""
        if self.counts_rel is None:
            return {}
        return {
            r["path"]: int(r["n_sessions"]) for r in self.counts_rel.collect()
        }

    def top_paths(self, spark: SparkSession, k: int = 10) -> list[tuple]:
        """The top-k report — the ONLY sanctioned driver materialization
        of path counts (r13 verdict #2): a distributed TopK over the
        counts relation, k rows back."""
        if self.counts_rel is None:
            return []
        return [
            (r["path"], int(r["n_sessions"]))
            for r in self.counts_rel.orderBy(
                F.desc("n_sessions"), F.asc("path")
            ).limit(int(k)).collect()
        ]

    def result(self, spark: SparkSession, include_open: bool = True) -> DataFrame:
        """Path frequencies (path, n_sessions); ``include_open`` folds the
        still-open sessions in, matching the batch operator on a full
        replay (the batch view has no notion of 'open')."""
        closed = (
            self.counts_rel
            if self.counts_rel is not None
            else spark.createDataFrame([], _COUNTS_SCHEMA)
        )
        if not include_open or self.open_rel is None:
            return closed
        open_paths = self.open_rel.select(
            F.concat_ws(">", F.slice(F.col("types"), 1, self.max_steps)).alias(
                "path"
            )
        ).groupBy("path").agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        return (
            closed.unionByName(open_paths)
            .groupBy("path")
            .agg(F.sum("n_sessions").cast("long").alias("n_sessions"))
        )


# ---------------------------------------------------------------------------
# Native executor-resident state (round 13, the second template after
# transitions.StatefulEventTransitions): gap-session path counting on
# ``applyInPandasWithState`` — the canonical GroupState use case (open
# session per key, engine-owned state placement and checkpointing).


#: GroupState layout: the user's OPEN session (types capped at max_steps,
#: last event micro-time) — exactly the tuple the foreachBatch twin keeps
#: per user in its open-session relation
_GS_STATE = "types array<string>, last_us long"
#: emission: per-batch CLOSED-session path deltas
_GS_OUTPUT = "user_id long, path string, n long"


def _path_fold(gap_us: int, max_steps: int):
    """Build the per-user GroupState fold (closure over the knobs)."""

    def fold(key, pdf_iter, state):
        import pandas as pd

        rows = pd.concat(list(pdf_iter), ignore_index=True)
        rows = rows.sort_values(["us", "event_id"], kind="mergesort")
        if state.exists:
            types, last_us = state.get
            types = list(types)
        else:
            types, last_us = [], None
        closed: dict[str, int] = {}
        for us, t in zip(rows["us"].tolist(), rows["event_type"].tolist()):
            if last_us is not None and us - last_us > gap_us:
                p = ">".join(types[:max_steps])
                closed[p] = closed.get(p, 0) + 1
                types = []
            if len(types) < max_steps:
                types.append(str(t))
            last_us = int(us)
        if last_us is not None:
            state.update((types[:max_steps], last_us))
        (uid,) = key
        yield pd.DataFrame(
            [{"user_id": uid, "path": p, "n": n} for p, n in closed.items()],
            columns=["user_id", "path", "n"],
        )

    return fold


class StatefulEventPaths:
    """``applyInPandasWithState`` twin of :class:`EventPathAccumulator`
    for the CLOSED-path counts — the open session lives in Spark's
    GroupState on the executors and closes through the same gap rule as
    events arrive (the still-open tail is engine state, not a report
    row). Pinned equal to the foreachBatch twin's closed counts in
    tests/test_round13.py."""

    def __init__(
        self,
        gap_minutes: int = PATH_GAP_MINUTES,
        max_steps: int = PATH_MAX_STEPS,
    ):
        self.gap_us = gap_minutes * 60 * 1_000_000
        self.max_steps = max_steps
        self.counts: dict[str, int] = defaultdict(int)

    def transform(self, stream_events: DataFrame) -> DataFrame:
        """Streaming events → per-batch closed-session (path, n) deltas."""
        from pyspark.sql.streaming.state import GroupStateTimeout

        prepared = stream_events.select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            "event_id",
            "event_type",
        )
        return prepared.groupBy("user_id").applyInPandasWithState(
            _path_fold(self.gap_us, self.max_steps),
            outputStructType=_GS_OUTPUT,
            stateStructType=_GS_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    def attach(self, stream_events: DataFrame, **start_kwargs):
        """Run the stateful transform and fold its path-bounded delta
        stream into the driver counts."""
        deltas = self.transform(stream_events)

        def _fold(batch: DataFrame, bid: int) -> None:
            for r in (
                batch.groupBy("path").agg(F.sum("n").alias("n")).collect()
            ):
                self.counts[r["path"]] += int(r["n"])

        return (
            deltas.writeStream.outputMode("append")
            .foreachBatch(_fold)
            .start(**start_kwargs)
        )

    def result(self, spark: SparkSession) -> DataFrame:
        """CLOSED-session path frequencies accumulated so far."""
        return spark.createDataFrame(
            [(p, n) for p, n in self.counts.items()],
            "path string, n_sessions long",
        )
