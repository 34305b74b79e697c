"""Incremental per-group Top-K maintenance over a changelog — the Spark
twin of Flink's retractable TopN (``ORDER BY x DESC LIMIT k`` per group
over an upsert/retract stream, the rank pattern Flink documents as
"Top-N" and implements in RetractableTopNFunction).

Why it is hard: an INSERT can only improve a group's top-k, but a
retraction of a row *currently inside* the buffer must pull in the
(k+1)-th row — which a buffer-only operator no longer has. Flink's
retractable rank therefore keeps the group's FULL sorted multiset as
state and re-emits the head after each change; this class keeps the same
honest contract with Spark relations:

- **state** is the PK-keyed latest-rows table (exactly the pipeline.py
  materialization — O(live rows), group-partitioned on a cluster so each
  group's rows co-locate);
- **per-batch WORK is touched-group-bounded, never state-bounded**: the
  batch's signed images name the groups whose rank can change (old and
  new images both — an update can move a row across groups); only state
  rows of those groups are re-ranked (a batch-bounded semi join probes
  the group-partitioned state, then the rank window sorts those groups
  only), and only those groups' top-k rows are re-emitted. A batch that
  touches g groups costs O(Σ|state(g)| log |state(g)|) regardless of how
  many other groups exist — the difference between an incremental rank
  and a full recompute at 100 TB of accumulated state.

Replays are idempotent by batch id (T6 discipline, same as
IncrementalJoin); the equality pin (tests/test_round10.py) checks
result() == recompute() after every changelog prefix, including
buffer-eviction retractions (a delete of a current top-k row) and
cross-group moves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_streaming_etl_spark.sources.cdc import apply_changelog
from flink_streaming_etl_spark.streaming.incremental import changelog_deltas
from flink_streaming_etl_spark.streaming.retention import (
    GroupRetention,
    evict,
    group_match,
)


class IncrementalTopK:
    """Maintain per-group top-k rows (ORDER BY order_col DESC, pk ASC)
    over a changelog-maintained table.

    ``pk`` keys the latest-state table; ``group_cols`` partition the
    rank; ``order_col`` is the ranking measure. Ties break on pk so the
    buffer is deterministic.
    """

    def __init__(
        self,
        pk: str,
        group_cols: list[str],
        order_col: str,
        k: int = 3,
        state_dir: str | None = None,
        retention_batches: int | None = None,
    ):
        self.pk = pk
        self.group_cols = list(group_cols)
        self.order_col = order_col
        self.k = k
        self.state: DataFrame | None = None
        self.topk: DataFrame | None = None
        self.last_batch_id: int | None = None
        #: idle-state retention (T5, streaming/retention.py): a group
        #: untouched for this many batches is evicted from state AND
        #: buffer together (result()==recompute() holds on retained
        #: groups; a reappearing group starts fresh — Flink TTL semantics)
        self._retention = None
        if retention_batches is not None:
            self._retention = GroupRetention(self.group_cols, retention_batches)
        #: durable state (see streaming/state_store.py): REQUIRED when
        #: attach() uses a persistent checkpointLocation — a restarted
        #: stream skips committed batches, so the accumulator must come
        #: back with the state those batches built.
        self._store = None
        if state_dir is not None:
            from flink_streaming_etl_spark.streaming.state_store import (
                AccumulatorStateStore,
            )

            self._store = AccumulatorStateStore(state_dir)

    def restore(self, spark) -> bool:
        """Load the last saved state (True if something was restored)."""
        if self._store is None:
            return False
        loaded = self._store.load(spark)
        if loaded is None:
            return False
        self.last_batch_id, rels, extra = loaded
        self.state = rels.get("state")
        self.topk = rels.get("topk")
        if self._retention is not None:
            self._retention.restore(rels, extra)
        return True

    # -- rank kernel (shared by the incremental path and the recompute pin)

    def _rank(self, rows: DataFrame) -> DataFrame:
        w = Window.partitionBy(*self.group_cols).orderBy(
            F.desc(self.order_col), F.asc(self.pk)
        )
        return (
            rows.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= self.k)
        )

    def _touched_groups(self, chunk: DataFrame) -> DataFrame:
        """Distinct group keys named by either image of the batch —
        batch-bounded by construction (≤ 2 rows per envelope). NULL
        group keys are kept (ADVICE r10): changelog_deltas already
        dropped the empty envelope sides, so a remaining NULL is a real
        NULL-keyed group whose rank slice must refresh like any other."""
        img = changelog_deltas(chunk, None).select("img.*")
        return img.select(*self.group_cols).distinct()

    def apply(self, chunk: DataFrame, batch_id: int | None = None) -> DataFrame | None:
        """Fold one micro-batch; return the refreshed top-k rows of the
        touched groups (None on replay). A touched group that ends with
        no rows simply vanishes from the maintained relation."""
        # Transactional fold ordering (T6, the streaming/cep.py
        # discipline): replay guard CHECKED here, batch id and state
        # references COMMITTED only after fold + durable save succeed —
        # a mid-fold failure retried under the same epoch id re-folds
        # cleanly. The retention clock is the one best-effort exception
        # (a retried batch may tick it twice).
        if batch_id is not None:
            if self.last_batch_id is not None and batch_id <= self.last_batch_id:
                return None

        touched = self._touched_groups(chunk).localCheckpoint(eager=True)
        new_state = apply_changelog(self.state, chunk, self.pk).localCheckpoint(
            eager=True
        )
        # Probe ONLY the touched groups' state slice. The broadcast is
        # batch-bounded (the micro-batch's own group keys), never state.
        # Expression joins (null-safe) keep the left side's column order,
        # so result() matches recompute() column-for-column.
        slice_ = new_state.join(
            F.broadcast(touched),
            group_match(new_state, touched, self.group_cols),
            "semi",
        )
        refreshed = self._rank(slice_).localCheckpoint(eager=True)
        if self.topk is None:
            new_topk = refreshed
        else:
            kept = self.topk.join(
                F.broadcast(touched),
                group_match(self.topk, touched, self.group_cols),
                "anti",
            )
            new_topk = kept.unionByName(refreshed).localCheckpoint(eager=True)
        if self._retention is not None:
            idle = self._retention.tick(touched)
            if idle is not None:
                new_state = evict(new_state, idle, self.group_cols)
                new_topk = evict(new_topk, idle, self.group_cols)
        if self._store is not None and batch_id is not None:
            rels = {"state": new_state, "topk": new_topk}
            extra = None
            if self._retention is not None:
                rels.update(self._retention.relations())
                extra = self._retention.extra()
            self._store.save(batch_id, rels, extra=extra)
        # durable save succeeded — commit memory + batch id
        self.state = new_state
        self.topk = new_topk
        if batch_id is not None:
            self.last_batch_id = int(batch_id)
        return refreshed

    def attach(self, stream: DataFrame, checkpoint_root: str | None = None, **kw):
        """Run this maintainer over a changelog stream (see
        streaming.incremental.attach_changelog_stream)."""
        from flink_streaming_etl_spark.streaming.incremental import (
            attach_changelog_stream,
        )

        return attach_changelog_stream(self, stream, checkpoint_root, **kw)

    def result(self) -> DataFrame | None:
        return self.topk

    def recompute(self) -> DataFrame | None:
        """Full rank over the latest state — the always-correct twin the
        equality pin compares against."""
        if self.state is None:
            return None
        return self._rank(self.state)
