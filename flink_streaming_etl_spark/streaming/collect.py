"""Incremental LISTAGG / COLLECT maintenance over a changelog — the
±delta twin of the batch ``listagg_items`` / ``collect_items_flat``
aggregates (reference: flink-ddl.sql:124-132 — LISTAGG(product_id, ',')
and COLLECT(ROW(...)) per order), closing the last reference aggregates
that had no retractable form (SUM/COUNT, COUNT DISTINCT and TopN all
have accumulators already).

Why it is hard: LISTAGG/COLLECT emit the group's FULL value multiset,
so retracting a MID-LIST element cannot be folded from the emitted
string — the operator must keep the multiset. This is exactly Flink's
retractable-rank trade (streaming/topk.py) with k = ∞ and a concat
emit, and the state answer is the same:

- **state** is the PK-keyed latest-rows table (apply_changelog —
  O(live rows), group-partitioned on a cluster);
- **per-batch WORK is touched-group-bounded**: the batch's signed
  images name the groups whose list can change; only those groups'
  state rows re-aggregate (batch-bounded broadcast semi join probes
  the state), and only their rows are re-emitted into the maintained
  relation. Untouched groups cost nothing.

Group keys are matched NULL-SAFELY end to end (touched-group discovery
keeps NULL keys; the semi/anti probes use eqNullSafe) — a changelog row
with a NULL group key maintains the NULL group like any other (ADVICE
r10 on topk.py's na.drop shape).

Replays are idempotent by batch id (T6); with ``state_dir`` the state
survives restart under a persistent checkpoint (state_store.py).
Equality pin (tests/test_round11.py): result() == recompute() after
every changelog prefix, including retraction of a mid-list element.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_streaming_etl_spark.sources.cdc import apply_changelog
from flink_streaming_etl_spark.streaming.incremental import changelog_deltas
from flink_streaming_etl_spark.streaming.retention import (
    GroupRetention,
    evict,
    group_match,
)


class IncrementalCollect:
    """Maintain per-group sorted LISTAGG over a changelog-maintained
    table: (group_cols..., items, n_items) where ``items`` is the
    group's values (cast to string, ':'-joined across value_cols when
    several) sorted and joined by ``sep`` — byte-identical to the batch
    ``listagg_items`` kernel for value_cols=["l_partkey"], sep=",".
    """

    def __init__(
        self,
        pk: str,
        group_cols: list[str],
        value_cols: list[str],
        sep: str = ",",
        state_dir: str | None = None,
        retention_batches: int | None = None,
        state_buckets: int = 64,
    ):
        self.pk = pk
        self.group_cols = list(group_cols)
        self.value_cols = list(value_cols)
        self.sep = sep
        #: bucket count for the durable state/agg relations — both grow
        #: with the corpus, so saves rewrite only the buckets the batch
        #: touched (state: the chunk's PKs; agg: the touched groups)
        self.state_buckets = int(state_buckets)
        self.state: DataFrame | None = None
        self.agg: DataFrame | None = None
        self.last_batch_id: int | None = None
        #: idle-state retention (T5, streaming/retention.py) — see topk.py
        self._retention = None
        if retention_batches is not None:
            self._retention = GroupRetention(self.group_cols, retention_batches)
        self._store = None
        if state_dir is not None:
            from flink_streaming_etl_spark.streaming.state_store import (
                AccumulatorStateStore,
            )

            self._store = AccumulatorStateStore(state_dir)

    def restore(self, spark) -> bool:
        if self._store is None:
            return False
        loaded = self._store.load(spark)
        if loaded is None:
            return False
        self.last_batch_id, rels, extra = loaded
        self.state = rels.get("state")
        self.agg = rels.get("agg")
        if self._retention is not None:
            self._retention.restore(rels, extra)
        return True

    # -- aggregation kernel (shared by the incremental path and the pin)

    def _value(self):
        cols = [F.col(c).cast("string") for c in self.value_cols]
        return cols[0] if len(cols) == 1 else F.concat_ws(":", *cols)

    def _aggregate(self, rows: DataFrame) -> DataFrame:
        return rows.groupBy(*self.group_cols).agg(
            F.array_join(
                F.sort_array(F.collect_list(self._value())), self.sep
            ).alias("items"),
            F.count(F.lit(1)).alias("n_items"),
        )

    def _touched_groups(self, chunk: DataFrame) -> DataFrame:
        """Distinct group keys named by either image of the batch —
        batch-bounded (≤ 2 rows per envelope). NULL group keys are kept:
        changelog_deltas already dropped the empty envelope sides, so a
        remaining NULL is a real NULL-keyed group."""
        img = changelog_deltas(chunk, None).select("img.*")
        return img.select(*self.group_cols).distinct()

    def apply(self, chunk: DataFrame, batch_id: int | None = None) -> DataFrame | None:
        """Fold one micro-batch; return the refreshed lists of the
        touched groups (None on replay). A touched group left with no
        rows vanishes from the maintained relation."""
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
        slice_ = new_state.join(
            F.broadcast(touched),
            group_match(new_state, touched, self.group_cols),
            "semi",
        )
        refreshed = self._aggregate(slice_).localCheckpoint(eager=True)
        if self.agg is None:
            new_agg = refreshed
        else:
            kept = self.agg.join(
                F.broadcast(touched),
                group_match(self.agg, touched, self.group_cols),
                "anti",
            )
            new_agg = kept.unionByName(refreshed).localCheckpoint(eager=True)
        idle_groups = None
        evicted_pks = None
        if self._retention is not None:
            idle = self._retention.tick(touched)
            if idle is not None:
                # capture the evicted rows' PKs BEFORE eviction: their
                # buckets must be rewritten in this save, else a restore
                # resurrects evicted state from stale bucket files
                idle_groups = idle
                evicted_pks = (
                    new_state.join(
                        F.broadcast(idle),
                        group_match(new_state, idle, self.group_cols),
                        "semi",
                    )
                    .select(self.pk)
                    .localCheckpoint(eager=True)
                )
                new_state = evict(new_state, idle, self.group_cols)
                new_agg = evict(new_agg, idle, self.group_cols)
        if self._store is not None and batch_id is not None:
            from flink_streaming_etl_spark.streaming.state_store import (
                BucketedState,
            )

            extra = None
            rels = {}
            if self._retention is not None:
                rels.update(self._retention.relations())
                extra = self._retention.extra()
            # both relations grow with the corpus — incremental saves:
            # state is PK-keyed (touched = the chunk's image PKs plus any
            # evicted rows' PKs), agg is group-keyed (touched = the
            # batch's groups plus any idle groups)
            img_pks = (
                changelog_deltas(chunk, None)
                .select(F.col(f"img.{self.pk}").alias(self.pk))
                .distinct()
            )
            touched_pks = (
                img_pks
                if evicted_pks is None
                else img_pks.unionByName(evicted_pks)
            )
            touched_groups = (
                touched
                if idle_groups is None
                else touched.unionByName(idle_groups)
            )
            self._store.save(
                batch_id,
                rels,
                extra=extra,
                bucketed={
                    "state": BucketedState(
                        new_state,
                        key_cols=[self.pk],
                        n_buckets=self.state_buckets,
                        touched=touched_pks,
                    ),
                    "agg": BucketedState(
                        new_agg,
                        key_cols=self.group_cols,
                        n_buckets=self.state_buckets,
                        touched=touched_groups,
                    ),
                },
            )
        # durable save succeeded — commit memory + batch id
        self.state = new_state
        self.agg = new_agg
        if batch_id is not None:
            self.last_batch_id = int(batch_id)
        return refreshed

    def attach(self, stream: DataFrame, checkpoint_root: str | None = None, **kw):
        from flink_streaming_etl_spark.streaming.incremental import (
            attach_changelog_stream,
        )

        return attach_changelog_stream(self, stream, checkpoint_root, **kw)

    def result(self) -> DataFrame | None:
        return self.agg

    def recompute(self) -> DataFrame | None:
        """Full re-aggregation over the latest state — the
        always-correct twin the equality pin compares against."""
        if self.state is None:
            return None
        return self._aggregate(self.state)
