"""Incremental maintenance of an inner equi-join over two changelogs —
the join twin of :class:`~flink_streaming_etl_spark.streaming.incremental
.IncrementalSumCount` (SURVEY.md §2.2 P3/P5: the reference's order⋈customer
join updates when EITHER side's CDC stream changes).

The materialize-then-recompute loop (pipeline.py) re-joins the full latest
states every micro-batch — always correct, cost grows with state. This is
the exact ±delta form instead, the algebra inside Flink's streaming join
operator: with L' = L + ΔL and R' = R + ΔR (signed multisets, retractions
carrying sign −1),

    J' − J  =  ΔL ⋈ R  ∪  L ⋈ ΔR  ∪  ΔL ⋈ ΔR

so each micro-batch emits a SIGNED join-delta relation built from three
joins whose left inputs are batch-sized (ΔL against the old right state,
the old left state against ΔR, ΔL against ΔR). Per-batch shuffle cost is
the deltas plus one key-partitioned probe of each state table — on a real
cluster the state sides live pre-partitioned on the join key (bucketed
state store / Delta table), so only the deltas move. This is the
difference between a bounded streaming join and an unbounded recompute at
100 TB of accumulated state.

Contract (same as IncrementalSumCount): per-key exactly-once, in-order
delivery with faithful before-images — Debezium topics keyed by PK (S6).
The equality pin (tests/test_round9.py::test_incremental_join_*): the
signed deltas, net-accumulated, equal the batch inner join of the two
latest-state tables after every prefix of the changelog.

Reference parity: flink-ddl.sql's `insert into order_view select ... from
orders o join customers c on o.customer_id = c.id` is exactly this
operator with left_key="customer_id", right_key="id" (cited for semantics,
re-expressed Spark-first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_streaming_etl_spark.sources.cdc import apply_changelog
from flink_streaming_etl_spark.streaming.incremental import changelog_deltas
from flink_streaming_etl_spark.streaming.retention import group_match


def _signed_images(chunk: DataFrame) -> DataFrame:
    """Envelope chunk → flattened signed row images (img.*, _sign)."""
    return changelog_deltas(chunk, None).select("img.*", F.col("sign").alias("_sign"))


class IncrementalJoin:
    """Exact incremental INNER equi-join of two changelog-maintained tables.

    ``left_key`` / ``right_key`` name the equi-join columns; ``left_pk`` /
    ``right_pk`` the primary keys that key each side's latest state.
    Output columns are the union of both sides' columns (names must be
    disjoint apart from the join columns, which are emitted once under the
    left name — the reference's views follow the same discipline)."""

    def __init__(
        self,
        left_pk: str,
        right_pk: str,
        left_key: str,
        right_key: str,
        left_project: dict[str, str] | None = None,
        right_project: dict[str, str] | None = None,
        state_dir: str | None = None,
        state_buckets: int = 64,
    ):
        #: bucket count for the three durable state relations — all grow
        #: with the corpus, so saves rewrite only the touched buckets
        #: (left/right: the batch's image PKs; join: the delta rows)
        self.state_buckets = int(state_buckets)
        self.left_pk = left_pk
        self.right_pk = right_pk
        self.left_key = left_key
        self.right_key = right_key
        #: optional out_name -> source_column renames applied to each side
        #: before the join (disambiguates clashing names, e.g. the
        #: reference's orders.ctime vs users.ctime). The join columns must
        #: survive under their own names; PK-keyed state stays full-schema.
        self.left_project = left_project
        self.right_project = right_project
        if left_project is not None:
            assert left_project.get(left_key) == left_key, (
                "left_project must keep the join key under its own name"
            )
        if right_project is not None:
            assert right_project.get(right_key) == right_key, (
                "right_project must keep the join key under its own name"
            )
        self.left_state: DataFrame | None = None
        self.right_state: DataFrame | None = None
        self.join_state: DataFrame | None = None
        self.last_batch_id: int | None = None
        #: durable state (streaming/state_store.py) — required when
        #: attach() uses a persistent checkpointLocation: a restarted
        #: stream skips committed batches, so the join must come back
        #: with the three state tables those batches built (and the
        #: per-side replay guards).
        self._store = None
        self._version = 0
        if state_dir is not None:
            from flink_streaming_etl_spark.streaming.state_store import (
                AccumulatorStateStore,
            )

            self._store = AccumulatorStateStore(state_dir)

    @staticmethod
    def _touched_pks(chunk, state, pk):
        """Touched-key relation for a PK-keyed state save: the chunk's
        image PKs (both sides of every envelope — the rows apply_changelog
        can upsert or delete); an untouched side contributes an EMPTY
        relation (zero buckets rewritten); None (= full snapshot) only
        when there is no state at all."""
        if chunk is not None:
            return (
                changelog_deltas(chunk, None)
                .select(F.col(f"img.{pk}").alias(pk))
                .distinct()
            )
        if state is not None:
            return state.limit(0).select(pk)
        return None

    def _bucketed_states(
        self,
        left_chunk: DataFrame | None,
        right_chunk: DataFrame | None,
        deltas: DataFrame | None,
        new_left: DataFrame | None,
        new_right: DataFrame | None,
        new_join: DataFrame | None,
        prefix: str = "",
    ) -> dict:
        """BucketedState specs for the three state relations — shared by
        the standalone save and the composed JoinAgg/JoinCollect saves
        (which store them under 'join_'-prefixed names)."""
        from flink_streaming_etl_spark.streaming.state_store import (
            BucketedState,
        )

        join_cols = (
            [c for c in new_join.columns if c != "_mult"]
            if new_join is not None
            else None
        )
        touched_join = (
            deltas.select(*join_cols).distinct()
            if deltas is not None
            else (new_join.limit(0).select(*join_cols)
                  if new_join is not None else None)
        )
        n = self.state_buckets
        return {
            f"{prefix}left_state": BucketedState(
                new_left, key_cols=[self.left_pk], n_buckets=n,
                touched=self._touched_pks(left_chunk, new_left, self.left_pk),
            ),
            f"{prefix}right_state": BucketedState(
                new_right, key_cols=[self.right_pk], n_buckets=n,
                touched=self._touched_pks(right_chunk, new_right, self.right_pk),
            ),
            f"{prefix}join_state": BucketedState(
                new_join,
                key_cols=join_cols if join_cols is not None else ["_none"],
                n_buckets=n,
                touched=touched_join,
            ),
        }

    def _persist(
        self,
        left_state: DataFrame | None,
        right_state: DataFrame | None,
        join_state: DataFrame | None,
        last_batch_id: int | None,
        left_chunk: DataFrame | None = None,
        right_chunk: DataFrame | None = None,
        deltas: DataFrame | None = None,
    ) -> None:
        """Durable save from the (not-yet-committed) new state — part of
        the fold-then-commit ordering: the version counter advances only
        after the save succeeds, so a failed save retries under the same
        version. All three relations grow with the corpus, so they save
        incrementally: files rewritten ∝ the buckets the batch touched."""
        if self._store is None:
            return
        version = self._version + 1
        self._store.save(
            version,
            {},
            extra={
                "last_batch_id": last_batch_id,
                "side_seen": getattr(self, "_side_seen", None),
                "version": version,
            },
            bucketed=self._bucketed_states(
                left_chunk, right_chunk, deltas,
                left_state, right_state, join_state,
            ),
        )
        self._version = version

    def restore(self, spark) -> bool:
        """Load the last saved state (True if something was restored)."""
        if self._store is None:
            return False
        loaded = self._store.load(spark)
        if loaded is None:
            return False
        self._version, rels, extra = loaded
        self.left_state = rels.get("left_state")
        self.right_state = rels.get("right_state")
        self.join_state = rels.get("join_state")
        self.last_batch_id = extra.get("last_batch_id")
        if extra.get("side_seen") is not None:
            self._side_seen = {k: int(v) for k, v in extra["side_seen"].items()}
        return True

    @staticmethod
    def _proj(df: DataFrame, proj: dict[str, str] | None) -> DataFrame:
        if df is None or proj is None:
            return df
        cols = [F.col(src).alias(out) for out, src in proj.items()]
        if "_sign" in df.columns:
            cols.append(F.col("_sign"))
        return df.select(*cols)

    # -- delta algebra ------------------------------------------------------

    def _join_delta(self, dl: DataFrame | None, dr: DataFrame | None) -> DataFrame | None:
        """ΔJ = ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR as one signed relation."""
        lk, rk = self.left_key, self.right_key
        parts: list[DataFrame] = []

        def emit(left: DataFrame, right: DataFrame, sign_expr) -> DataFrame:
            right_cols = [c for c in right.columns if c not in ("_sign", rk)]
            left_cols = [c for c in left.columns if c != "_sign"]
            clash = set(left_cols) & set(right_cols)
            if clash:
                raise ValueError(
                    f"join sides share column names {sorted(clash)} beyond the "
                    f"join key — disambiguate with left_project/right_project"
                )
            return (
                left.join(right, left[lk] == right[rk])
                .select(*[left[c] for c in left_cols],
                        *[right[c] for c in right_cols],
                        sign_expr.alias("_sign"))
            )

        dl = self._proj(dl, self.left_project)
        dr = self._proj(dr, self.right_project)
        rs = (
            self._proj(self.right_state, self.right_project)
            if self.right_state is not None
            else None
        )
        ls = (
            self._proj(self.left_state, self.left_project)
            if self.left_state is not None
            else None
        )
        if dl is not None and rs is not None:
            parts.append(emit(dl, rs.withColumn("_sign", F.lit(1)), dl["_sign"]))
        if dr is not None and ls is not None:
            parts.append(emit(ls.withColumn("_sign", F.lit(1)), dr, dr["_sign"]))
        if dl is not None and dr is not None:
            parts.append(emit(dl, dr, dl["_sign"] * dr["_sign"]))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- per-batch hook -----------------------------------------------------

    def apply(
        self,
        left_chunk: DataFrame | None = None,
        right_chunk: DataFrame | None = None,
        batch_id: int | None = None,
    ) -> DataFrame | None:
        """Fold one micro-batch (either or both sides) into state and
        return this batch's SIGNED join deltas (output columns + _sign;
        None when the batch produces no join change). Replays by batch id
        are no-ops (effectively-once, T6). Transactional fold ordering
        (the streaming/cep.py discipline): the fold computes into locals,
        the durable save runs from them, and only then do the state
        references and the batch id commit — a mid-fold failure retried
        under the same epoch id re-folds cleanly instead of being
        misclassified as a replay."""
        if batch_id is not None:
            if self.last_batch_id is not None and batch_id <= self.last_batch_id:
                return None

        deltas, new_left, new_right, new_join = self._fold(left_chunk, right_chunk)
        new_bid = int(batch_id) if batch_id is not None else self.last_batch_id
        self._persist(
            new_left, new_right, new_join, new_bid,
            left_chunk=left_chunk, right_chunk=right_chunk, deltas=deltas,
        )
        self._commit(new_left, new_right, new_join, new_bid)
        return deltas

    def _fold(
        self,
        left_chunk: DataFrame | None,
        right_chunk: DataFrame | None,
    ) -> tuple[DataFrame | None, DataFrame | None, DataFrame | None, DataFrame | None]:
        """Pure fold: compute (deltas, new_left, new_right, new_join)
        from the CURRENT states without mutating anything — the composed
        accumulators (JoinAgg/JoinCollect) call this directly so their
        own fold can fail without half-committing the join."""
        dl = _signed_images(left_chunk) if left_chunk is not None else None
        dr = _signed_images(right_chunk) if right_chunk is not None else None
        deltas = self._join_delta(dl, dr)

        # advance the two latest-state tables AFTER the delta join (the
        # algebra needs the OLD states on the mixed terms)
        new_left = self.left_state
        new_right = self.right_state
        if left_chunk is not None:
            new_left = apply_changelog(
                self.left_state, left_chunk, self.left_pk
            ).localCheckpoint(eager=True)
        if right_chunk is not None:
            new_right = apply_changelog(
                self.right_state, right_chunk, self.right_pk
            ).localCheckpoint(eager=True)

        new_join = self.join_state
        if deltas is not None:
            deltas = deltas.localCheckpoint(eager=True)
            new_join = self._net_fold(self.join_state, deltas)
        return deltas, new_left, new_right, new_join

    def _commit(
        self,
        new_left: DataFrame | None,
        new_right: DataFrame | None,
        new_join: DataFrame | None,
        new_batch_id: int | None,
    ) -> None:
        """Commit a completed fold: state references + replay guard."""
        self.left_state = new_left
        self.right_state = new_right
        self.join_state = new_join
        if new_batch_id is not None:
            self.last_batch_id = int(new_batch_id)

    @staticmethod
    def _net_fold(join_state: DataFrame | None, deltas: DataFrame) -> DataFrame:
        """Net-accumulate signed deltas into the maintained join result.

        The stored relation carries an explicit ``_mult`` multiplicity
        column (net signed count per distinct output row, always > 0) —
        NOT one physical row per logical row. This makes the fold exact
        under ANY projection (r9 verdict #2): if ``left_project`` /
        ``right_project`` drop a primary key, two distinct state rows can
        legitimately produce IDENTICAL output rows; a multiplicity-less
        fold would collapse them to one stored row, and a later single
        retraction would then delete both logical rows. With ``_mult``
        the pair is stored as one row with _mult = 2, and the retraction
        nets it to 1."""
        deltas = deltas.withColumn("_sign", F.col("_sign").cast("long"))
        state_signed = (
            None
            if join_state is None
            else join_state.withColumnRenamed("_mult", "_sign")
        )
        signed = (
            deltas if state_signed is None else state_signed.unionByName(deltas)
        )
        cols = [c for c in signed.columns if c != "_sign"]
        return (
            signed.groupBy(*cols)
            .agg(F.sum("_sign").alias("_mult"))
            .filter(F.col("_mult") > 0)
            .localCheckpoint(eager=True)
        )

    # -- query side ---------------------------------------------------------

    @staticmethod
    def _expand(join_state: DataFrame | None) -> DataFrame | None:
        """Expand stored multiplicities back into plain join rows."""
        if join_state is None:
            return None
        cols = [c for c in join_state.columns if c != "_mult"]
        return (
            join_state.select(
                *cols,
                F.explode(
                    F.sequence(F.lit(1), F.col("_mult").cast("int"))
                ).alias("_i"),
            ).drop("_i")
        )

    def result(self) -> DataFrame | None:
        """The maintained join table (must equal, AS A MULTISET, the
        batch inner join of the two latest states after any changelog
        prefix) — stored multiplicities are expanded back into rows, so
        the caller sees plain join output."""
        return self._expand(self.join_state)

    def recompute(self) -> DataFrame | None:
        """The recompute twin: batch inner join of the current latest
        states — the equality oracle for tests."""
        if self.left_state is None or self.right_state is None:
            return None
        ls = self._proj(self.left_state, self.left_project)
        r = self._proj(self.right_state, self.right_project)
        right_cols = [c for c in r.columns if c != self.right_key]
        return ls.join(r, ls[self.left_key] == r[self.right_key]).select(
            *[ls[c] for c in ls.columns],
            *[r[c] for c in right_cols],
        )


class IncrementalJoinAgg:
    """Join-feeding-an-aggregate in TRUE ±delta mode — the composition the
    reference runs as `user_order_stats` (flink-ddl.sql:197-211 aggregates
    per user/day over the orders stream, whose enriched twin is the
    order⋈user join of flink-ddl.sql:179-190; cited for semantics,
    re-expressed Spark-first). Until round 10 this last reference shape was
    only available as materialize-then-recompute; here the chain is exact
    delta algebra end-to-end:

        ΔG  =  γ_{keys; Σ sign·amount, Σ sign}(σ_pred(ΔJ))

    — each micro-batch's SIGNED join deltas (from :class:`IncrementalJoin`)
    become signed aggregate deltas merged into a keyed SUM/COUNT state.
    Per-batch cost ∝ the join deltas plus one full-outer merge on the
    touched keys; neither the join state nor the aggregate state is ever
    re-scanned. Groups whose net count reaches 0 vanish (retraction
    semantics, A3), and the filter applies per signed row, exactly like a
    predicate over a retract stream (the reference's `status <> 'closed'`).

    ``group_cols`` maps output column name → expression over the JOIN's
    output columns (strings are taken as column names), so reference
    expressions like ``date_format(ctime, 'yyyy-MM-dd')`` compose directly.
    """

    def __init__(
        self,
        join: IncrementalJoin,
        group_cols: dict,
        amount,
        predicate=None,
        state_dir: str | None = None,
    ):
        def as_col(c):
            return F.col(c) if isinstance(c, str) else c

        self.join = join
        self.group_cols = {k: as_col(v) for k, v in group_cols.items()}
        self.amount = as_col(amount)
        self.predicate = predicate
        self.state: DataFrame | None = None
        #: durable COMPOSED state: one save covers the agg state AND the
        #: inner join's three relations plus the per-side replay guards,
        #: behind a SINGLE meta flip (ADVICE r10: two separate stores can
        #: crash between the join's save and the agg's, leaving join state
        #: at batch N but agg at N−1 — the replayed batch then folds into
        #: the join, emits no deltas, and the agg silently undercounts
        #: forever). Give state_dir to the AGG only; the inner join needs
        #: no store of its own when composed.
        self._store = None
        self._version = 0
        if state_dir is not None:
            from flink_streaming_etl_spark.streaming.state_store import (
                AccumulatorStateStore,
            )

            self._store = AccumulatorStateStore(state_dir)

    def restore(self, spark) -> bool:
        """Load the last saved composed state (True if restored): the agg
        relation, the inner join's three state tables, its batch-id guard
        and the per-side replay guards all come back from the ONE store —
        a separate ``join.restore`` is unnecessary (and harmless)."""
        if self._store is None:
            return False
        loaded = self._store.load(spark)
        if loaded is None:
            return False
        self._version, rels, extra = loaded
        self.state = rels.get("state")
        # a composed save may carry any subset of the join relations
        # (None relations are skipped by the store) — restore whichever
        # are present; extra's join_last_batch_id marks a composed save
        if any(k.startswith("join_") for k in rels) or (
            extra.get("join_last_batch_id") is not None
        ):
            self.join.left_state = rels.get("join_left_state")
            self.join.right_state = rels.get("join_right_state")
            self.join.join_state = rels.get("join_join_state")
        if extra.get("join_last_batch_id") is not None:
            self.join.last_batch_id = int(extra["join_last_batch_id"])
        if extra.get("side_seen") is not None:
            #: restored BEFORE attach(): foreachBatch replays of batches
            #: folded into this saved state must be no-ops (T6)
            self._side_seen = {k: int(v) for k, v in extra["side_seen"].items()}
        return True

    _DEC = "decimal(18,2)"

    def _signed_group_deltas(self, deltas: DataFrame) -> DataFrame:
        if self.predicate is not None:
            deltas = deltas.filter(self.predicate)
        names = list(self.group_cols)
        return (
            deltas.select(
                *[e.alias(n) for n, e in self.group_cols.items()],
                (F.col("_sign").cast("long").cast(self._DEC)
                 * self.amount.cast(self._DEC)).alias("_amt"),
                F.col("_sign").cast("long").alias("_cnt"),
            )
            .groupBy(*names)
            .agg(F.sum("_amt").alias("d_amount"), F.sum("_cnt").alias("d_cnt"))
        )

    def apply(
        self,
        left_chunk: DataFrame | None = None,
        right_chunk: DataFrame | None = None,
        batch_id: int | None = None,
    ) -> DataFrame | None:
        """Fold one micro-batch through the join AND the aggregate;
        returns the refreshed aggregate state (None before any data).

        Transactional fold ordering across the WHOLE composition (the
        streaming/cep.py discipline): the join folds into locals via
        ``_fold`` (no self-commit), the aggregate folds into a local,
        ONE composed save runs from the locals, and only then do the
        join's state + batch id and the aggregate state commit together
        — a failure anywhere mid-fold (including inside the agg merge,
        AFTER the join fold succeeded) leaves both layers untouched, so
        a same-epoch retry re-folds the batch instead of hitting the
        join's replay guard and silently dropping the aggregate deltas."""
        if (
            batch_id is not None
            and self.join.last_batch_id is not None
            and batch_id <= self.join.last_batch_id
        ):
            return self.state  # replay of a COMMITTED batch
        deltas, new_left, new_right, new_join = self.join._fold(
            left_chunk, right_chunk
        )
        new_state = self.state
        if deltas is not None:
            names = list(self.group_cols)
            batch = self._signed_group_deltas(deltas)
            if self.state is None:
                merged = batch.select(
                    *names,
                    F.col("d_amount").alias("amount"),
                    F.col("d_cnt").alias("cnt"),
                )
            else:
                zero = F.lit(0).cast(self._DEC)
                merged = self.state.join(batch, on=names, how="full_outer").select(
                    *names,
                    (F.coalesce(F.col("amount"), zero)
                     + F.coalesce(F.col("d_amount"), zero)).alias("amount"),
                    (F.coalesce(F.col("cnt"), F.lit(0))
                     + F.coalesce(F.col("d_cnt"), F.lit(0))).alias("cnt"),
                )
            new_state = (
                merged.filter(F.col("cnt") > 0).localCheckpoint(eager=True)
            )
        # Save on every genuinely folded batch — INCLUDING one whose join
        # deltas are empty (the join's latest-state tables still advanced,
        # so the composed snapshot must too). One save, one meta flip:
        # there is no window where join state and agg state disagree.
        new_bid = (
            int(batch_id) if batch_id is not None else self.join.last_batch_id
        )
        if self._store is not None:
            version = self._version + 1
            # agg state is group-bounded (small) — plain rewrite; the
            # join's three corpus-scale relations save incrementally
            # (files rewritten ∝ touched buckets), same one-meta-flip
            self._store.save(
                version,
                {"state": new_state},
                extra={
                    "join_last_batch_id": new_bid,
                    "side_seen": getattr(self, "_side_seen", None),
                },
                bucketed=self.join._bucketed_states(
                    left_chunk, right_chunk, deltas,
                    new_left, new_right, new_join, prefix="join_",
                ),
            )
            self._version = version
        # a join that carries its OWN store (standalone use composed
        # later) persists too — still before the joint commit
        self.join._persist(
            new_left, new_right, new_join, new_bid,
            left_chunk=left_chunk, right_chunk=right_chunk, deltas=deltas,
        )
        self.join._commit(new_left, new_right, new_join, new_bid)
        self.state = new_state
        return new_state

    def result(self) -> DataFrame | None:
        return self.state

    def recompute(self) -> DataFrame | None:
        """Equality oracle: the same aggregate over the join recompute."""
        j = self.join.recompute()
        if j is None:
            return None
        if self.predicate is not None:
            j = j.filter(self.predicate)
        names = list(self.group_cols)
        return (
            j.select(
                *[e.alias(n) for n, e in self.group_cols.items()],
                self.amount.cast(self._DEC).alias("_amt"),
            )
            .groupBy(*names)
            .agg(
                F.sum("_amt").alias("amount"),
                F.count(F.lit(1)).cast("long").alias("cnt"),
            )
        )

    def attach(
        self,
        left_stream: DataFrame | None = None,
        right_stream: DataFrame | None = None,
        checkpoint_root: str | None = None,
        **start_kwargs,
    ):
        """Wire one or both changelog streams via foreachBatch and start.

        Each side runs as its own streaming query (the reference consumes
        one Kafka topic per table); micro-batches are serialized by a lock
        (single-writer state discipline) and guarded per-side by batch id
        — foreachBatch is at-least-once, so a restart replay of an
        already-folded batch must be a no-op (T6). The guards are durable:
        apply() saves ``_side_seen`` inside the same atomic store version
        as the state it protects, and restore() brings them back before
        re-attach (ADVICE r10 — an in-memory-only guard re-folds the last
        committed batch after a crash between state save and streaming-
        checkpoint commit)."""
        import threading

        lock = getattr(self, "_lock", None) or threading.Lock()
        self._lock = lock
        self._side_seen = getattr(self, "_side_seen", {"l": -1, "r": -1})
        queries = []

        def start(stream, side):
            def process(batch_df: DataFrame, batch_id: int) -> None:
                with lock:
                    if batch_id <= self._side_seen[side]:
                        return
                    # stage the new guard so apply()'s composed durable
                    # save carries it, but roll it back if the fold
                    # fails — a same-epoch foreachBatch retry must
                    # re-fold, not be skipped (fold-then-commit, T6)
                    prev = int(self._side_seen[side])
                    self._side_seen[side] = int(batch_id)
                    try:
                        self.apply(
                            left_chunk=batch_df if side == "l" else None,
                            right_chunk=batch_df if side == "r" else None,
                        )
                    except BaseException:
                        self._side_seen[side] = prev
                        raise

            w = stream.writeStream.foreachBatch(process)
            if checkpoint_root is not None:
                w = w.option(
                    "checkpointLocation", f"{checkpoint_root}/{side}"
                )
            return w.trigger(availableNow=True).start(**start_kwargs)

        if left_stream is not None:
            queries.append(start(left_stream, "l"))
        if right_stream is not None:
            queries.append(start(right_stream, "r"))
        return queries


class IncrementalJoinCollect:
    """Join-feeding-a-LISTAGG in ±delta mode — completes the composition
    matrix the reference implies (flink-ddl.sql:179-190 joins order⋈user;
    flink-ddl.sql:124-127 LISTAGGs per group; Flink runs either behind
    the other transparently, so the Spark twin needs join→COLLECT as well
    as round 10's join→SUM/COUNT). The join half is exact delta algebra
    (:class:`IncrementalJoin`); the collect half cannot fold signed
    deltas into an emitted string (retracting a mid-list element needs
    the multiset), so it rides the join's OWN multiset state:

    - the batch's signed join deltas name the TOUCHED groups (both signs
      — an update can move rows across groups);
    - only those groups' slice of the maintained join multiset
      (``join_state`` expanded by ``_mult``) re-aggregates, and only
      their rows are re-emitted into the maintained listagg relation.

    Per-batch cost ∝ join deltas + the touched groups' state slices —
    the same touched-group bound as streaming/collect.py, with the join
    multiset replacing the PK-keyed table as the ground truth (exact
    under ANY projection, the _mult discipline). Group keys match
    null-safely. Durable state composes through the ONE-store discipline
    of :class:`IncrementalJoinAgg` (single meta flip; per-side replay
    guards durable)."""

    def __init__(
        self,
        join: IncrementalJoin,
        group_cols: list[str],
        value_cols: list[str],
        sep: str = ",",
        predicate=None,
        state_dir: str | None = None,
    ):
        self.join = join
        self.group_cols = list(group_cols)
        self.value_cols = list(value_cols)
        self.sep = sep
        self.predicate = predicate
        self.agg: DataFrame | None = None
        self._store = None
        self._version = 0
        if state_dir is not None:
            from flink_streaming_etl_spark.streaming.state_store import (
                AccumulatorStateStore,
            )

            self._store = AccumulatorStateStore(state_dir)

    def restore(self, spark) -> bool:
        """One store restores the whole composition (agg relation, the
        join's three state tables, batch-id + per-side replay guards)."""
        if self._store is None:
            return False
        loaded = self._store.load(spark)
        if loaded is None:
            return False
        self._version, rels, extra = loaded
        self.agg = rels.get("agg")
        if any(k.startswith("join_") for k in rels) or (
            extra.get("join_last_batch_id") is not None
        ):
            self.join.left_state = rels.get("join_left_state")
            self.join.right_state = rels.get("join_right_state")
            self.join.join_state = rels.get("join_join_state")
        if extra.get("join_last_batch_id") is not None:
            self.join.last_batch_id = int(extra["join_last_batch_id"])
        if extra.get("side_seen") is not None:
            self._side_seen = {k: int(v) for k, v in extra["side_seen"].items()}
        return True

    # -- aggregation kernel (identical to streaming/collect.py's emit)

    def _value(self):
        cols = [F.col(c).cast("string") for c in self.value_cols]
        return cols[0] if len(cols) == 1 else F.concat_ws(":", *cols)

    def _aggregate(self, rows: DataFrame) -> DataFrame:
        if self.predicate is not None:
            rows = rows.filter(self.predicate)
        return rows.groupBy(*self.group_cols).agg(
            F.array_join(
                F.sort_array(F.collect_list(self._value())), self.sep
            ).alias("items"),
            F.count(F.lit(1)).alias("n_items"),
        )

    def apply(
        self,
        left_chunk: DataFrame | None = None,
        right_chunk: DataFrame | None = None,
        batch_id: int | None = None,
    ) -> DataFrame | None:
        """Fold one micro-batch through the join AND the listagg; returns
        the refreshed maintained relation (None before any data).

        Same whole-composition transactional ordering as
        :meth:`IncrementalJoinAgg.apply`: join folds into locals, the
        listagg folds into a local over the NEW join multiset, ONE
        composed save, then a joint commit — a same-epoch retry after
        any mid-fold failure re-folds instead of being replay-skipped."""
        if (
            batch_id is not None
            and self.join.last_batch_id is not None
            and batch_id <= self.join.last_batch_id
        ):
            return self.agg  # replay of a COMMITTED batch
        deltas, new_left, new_right, new_join = self.join._fold(
            left_chunk, right_chunk
        )
        new_agg = self.agg
        if deltas is not None:
            touched = (
                deltas.select(*self.group_cols).distinct()
                .localCheckpoint(eager=True)
            )
            # multiset-expanded output of the NEW (uncommitted) join state
            result = self.join._expand(new_join)
            slice_ = result.join(
                F.broadcast(touched),
                group_match(result, touched, self.group_cols),
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
        new_bid = (
            int(batch_id) if batch_id is not None else self.join.last_batch_id
        )
        if self._store is not None:
            version = self._version + 1
            # listagg state is group-bounded — plain rewrite; the join's
            # three corpus-scale relations save incrementally
            self._store.save(
                version,
                {"agg": new_agg},
                extra={
                    "join_last_batch_id": new_bid,
                    "side_seen": getattr(self, "_side_seen", None),
                },
                bucketed=self.join._bucketed_states(
                    left_chunk, right_chunk, deltas,
                    new_left, new_right, new_join, prefix="join_",
                ),
            )
            self._version = version
        # a join that carries its OWN store (standalone use composed
        # later) persists too — still before the joint commit
        self.join._persist(
            new_left, new_right, new_join, new_bid,
            left_chunk=left_chunk, right_chunk=right_chunk, deltas=deltas,
        )
        self.join._commit(new_left, new_right, new_join, new_bid)
        self.agg = new_agg
        return new_agg

    def result(self) -> DataFrame | None:
        return self.agg

    def recompute(self) -> DataFrame | None:
        """Equality oracle: the same listagg over the join recompute."""
        j = self.join.recompute()
        if j is None:
            return None
        return self._aggregate(j)

    def attach(
        self,
        left_stream: DataFrame | None = None,
        right_stream: DataFrame | None = None,
        checkpoint_root: str | None = None,
        **start_kwargs,
    ):
        """Same two-query foreachBatch wiring as IncrementalJoinAgg —
        durable per-side guards, single-writer lock."""
        import threading

        lock = getattr(self, "_lock", None) or threading.Lock()
        self._lock = lock
        self._side_seen = getattr(self, "_side_seen", {"l": -1, "r": -1})
        queries = []

        def start(stream, side):
            def process(batch_df: DataFrame, batch_id: int) -> None:
                with lock:
                    if batch_id <= self._side_seen[side]:
                        return
                    # stage the new guard so apply()'s composed durable
                    # save carries it, but roll it back if the fold
                    # fails — a same-epoch foreachBatch retry must
                    # re-fold, not be skipped (fold-then-commit, T6)
                    prev = int(self._side_seen[side])
                    self._side_seen[side] = int(batch_id)
                    try:
                        self.apply(
                            left_chunk=batch_df if side == "l" else None,
                            right_chunk=batch_df if side == "r" else None,
                        )
                    except BaseException:
                        self._side_seen[side] = prev
                        raise

            w = stream.writeStream.foreachBatch(process)
            if checkpoint_root is not None:
                w = w.option("checkpointLocation", f"{checkpoint_root}/{side}")
            return w.trigger(availableNow=True).start(**start_kwargs)

        if left_stream is not None:
            queries.append(start(left_stream, "l"))
        if right_stream is not None:
            queries.append(start(right_stream, "r"))
        return queries
