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

Durability (the one durable-fold protocol of
:class:`~flink_streaming_etl_spark.streaming.state_store.DurableFold`):
the three state tables save bucketed (left/right on their PKs, the join
multiset on its output row), only the buckets a batch touched rewritten.
A composition (:class:`IncrementalJoinAgg`, :class:`IncrementalJoinCollect`)
keeps ONE store: its own relation plus the join's three under
``join_``-prefixed names, the join's guard and the per-side foreachBatch
guards, behind a single meta flip.

Reference parity: flink-ddl.sql's `insert into order_view select ... from
orders o join customers c on o.customer_id = c.id` is exactly this
operator with left_key="customer_id", right_key="id" (cited for semantics,
re-expressed Spark-first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_etl_spark.sources.cdc import apply_changelog
from flink_streaming_etl_spark.streaming.collect import listagg
from flink_streaming_etl_spark.streaming.incremental import (
    DEC,
    changelog_deltas,
    image_keys,
    merge_sum_count,
    refresh_groups,
    sum_count_deltas,
)
from flink_streaming_etl_spark.streaming.state_store import DurableFold, all_but


def _signed_images(chunk: DataFrame) -> DataFrame:
    """Envelope chunk → flattened signed row images (img.*, _sign)."""
    return changelog_deltas(chunk, None).select("img.*", F.col("sign").alias("_sign"))


class _TwoSided(DurableFold):
    """A durable fold fed by two changelog streams through
    ``apply(left_chunk, right_chunk, batch_id)``."""

    _ATTR = "{}"
    #: foreachBatch per-side replay guards {"l": id, "r": id}, saved in
    #: the same store version as the state they protect
    _side_seen: dict | None = None

    def _on_restore(self, spark: SparkSession, extra: dict) -> None:
        if extra.get("side_seen") is not None:
            self._side_seen = {k: int(v) for k, v in extra["side_seen"].items()}

    def _fold_commit(self, batch_id, state, touched) -> None:
        self._commit(batch_id, state, touched, extra={"side_seen": self._side_seen})

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
        if self._side_seen is None:
            self._side_seen = {"l": -1, "r": -1}
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


class IncrementalJoin(_TwoSided):
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
    ):
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
        #: left/right latest states on their PKs; the join multiset on
        #: its output row (every column but ``_mult``)
        self._STATE = {
            "left_state": [left_pk],
            "right_state": [right_pk],
            "join_state": all_but("_mult"),
        }
        super().__init__(state_dir)

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
        are no-ops (effectively-once, T6)."""
        if self._replayed(SparkSession.active(), batch_id):
            return None
        deltas, state, touched = self._fold(left_chunk, right_chunk)
        self._fold_commit(batch_id, state, touched)
        return deltas

    def _fold(
        self,
        left_chunk: DataFrame | None,
        right_chunk: DataFrame | None,
    ) -> tuple[DataFrame | None, dict, dict]:
        """Pure fold: compute (deltas, new state relations, touched keys)
        from the CURRENT states without mutating anything — the composed
        accumulators call this directly so their own fold can fail
        without half-committing the join. An untouched side's relation
        keeps its saved buckets."""
        dl = _signed_images(left_chunk) if left_chunk is not None else None
        dr = _signed_images(right_chunk) if right_chunk is not None else None
        deltas = self._join_delta(dl, dr)

        # advance the two latest-state tables AFTER the delta join (the
        # algebra needs the OLD states on the mixed terms)
        state = {
            "left_state": self.left_state,
            "right_state": self.right_state,
            "join_state": self.join_state,
        }
        touched = {}
        for name, chunk, pk in (
            ("left_state", left_chunk, self.left_pk),
            ("right_state", right_chunk, self.right_pk),
        ):
            if chunk is not None:
                state[name] = apply_changelog(state[name], chunk, pk).localCheckpoint(
                    eager=True
                )
                touched[name] = image_keys(chunk, [pk])
        if deltas is not None:
            deltas = deltas.localCheckpoint(eager=True)
            state["join_state"] = self._net_fold(self.join_state, deltas)
            touched["join_state"] = deltas.drop("_sign").distinct()
        return deltas, state, touched

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


class _OnJoin:
    """A composition's attribute that lives on its inner join."""

    def __init__(self, attr: str):
        self.attr = attr

    def __get__(self, obj, owner=None):
        return self if obj is None else getattr(obj.join, self.attr)

    def __set__(self, obj, value) -> None:
        setattr(obj.join, self.attr, value)


class _JoinComposition(_TwoSided):
    """An :class:`IncrementalJoin` feeding a downstream relation, in ONE
    store: the relation, the join's three state tables (``join_``-
    prefixed), the join's batch-id guard and clock, and the per-side
    guards all save behind a single meta flip (ADVICE r10: two separate
    stores can crash between the join's save and the downstream one,
    leaving join state at batch N but the downstream at N−1 — the
    replayed batch then folds into the join, emits no deltas, and the
    downstream silently undercounts forever). Give ``state_dir`` to the
    composition only; a join that carries its own store (standalone use,
    composed later) saves too, still before the joint commit.

    Transactional fold ordering across the WHOLE composition: the join
    folds into locals via ``_fold`` (no self-commit), the downstream
    folds into locals, ONE composed save runs, and only then do the
    join's state and guard and the downstream relation commit together —
    a failure anywhere mid-fold (including in the downstream fold, AFTER
    the join fold succeeded) leaves both layers untouched, so a
    same-epoch retry re-folds the batch instead of hitting the join's
    replay guard and silently dropping the downstream deltas."""

    last_batch_id = _OnJoin("last_batch_id")
    n_batches = _OnJoin("n_batches")
    join_left_state = _OnJoin("left_state")
    join_right_state = _OnJoin("right_state")
    join_join_state = _OnJoin("join_state")
    _RESULT: str

    def __init__(self, join: IncrementalJoin, keys: list[str], state_dir: str | None):
        self.join = join
        self._STATE = {
            self._RESULT: keys,
            **{f"join_{k}": v for k, v in join._STATE.items()},
        }
        super().__init__(state_dir)

    def _fold_deltas(self, deltas: DataFrame, new_join: DataFrame) -> tuple[dict, dict]:
        """Fold the batch's signed join deltas (given the new join
        multiset) into the downstream relation: (state, touched)."""
        raise NotImplementedError  # pragma: no cover

    def apply(
        self,
        left_chunk: DataFrame | None = None,
        right_chunk: DataFrame | None = None,
        batch_id: int | None = None,
    ) -> DataFrame | None:
        """Fold one micro-batch through the join AND the downstream
        relation; returns the refreshed relation (None before any data).
        Every genuinely folded batch saves — INCLUDING one whose join
        deltas are empty (the join's latest-state tables still advanced,
        so the composed snapshot must too)."""
        if self._replayed(SparkSession.active(), batch_id):
            return self.result()  # replay of a COMMITTED batch
        deltas, jstate, jtouched = self.join._fold(left_chunk, right_chunk)
        state, touched = ({}, {}) if deltas is None else self._fold_deltas(
            deltas, jstate["join_state"]
        )
        self._fold_commit(
            batch_id,
            {**state, **{f"join_{k}": v for k, v in jstate.items()}},
            {**touched, **{f"join_{k}": v for k, v in jtouched.items()}},
        )
        return self.result()

    def _save_state(self, last_bid, n_batches, state, touched, extra=None) -> None:
        super()._save_state(last_bid, n_batches, state, touched, extra)

        def unprefixed(rels: dict) -> dict:
            return {k[5:]: v for k, v in rels.items() if k.startswith("join_")}

        self.join._save_state(
            last_bid,
            n_batches,
            unprefixed(state),
            unprefixed(touched),
            {"side_seen": self.join._side_seen},
        )

    def result(self) -> DataFrame | None:
        return getattr(self, self._RESULT)


class IncrementalJoinAgg(_JoinComposition):
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

    _RESULT = "state"

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

        self.group_cols = {k: as_col(v) for k, v in group_cols.items()}
        self.amount = as_col(amount)
        self.predicate = predicate
        super().__init__(join, list(self.group_cols), state_dir)

    def _signed_group_deltas(self, deltas: DataFrame) -> DataFrame:
        if self.predicate is not None:
            deltas = deltas.filter(self.predicate)
        return sum_count_deltas(
            deltas, self.group_cols, F.col("_sign").cast("long"), self.amount
        )

    def _fold_deltas(self, deltas: DataFrame, new_join: DataFrame) -> tuple[dict, dict]:
        names = list(self.group_cols)
        batch = self._signed_group_deltas(deltas)
        return (
            {"state": merge_sum_count(self.state, batch, names)},
            {"state": batch.select(*names)},
        )

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
                self.amount.cast(DEC).alias("_amt"),
            )
            .groupBy(*names)
            .agg(
                F.sum("_amt").alias("amount"),
                F.count(F.lit(1)).cast("long").alias("cnt"),
            )
        )


class IncrementalJoinCollect(_JoinComposition):
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

    _RESULT = "agg"

    def __init__(
        self,
        join: IncrementalJoin,
        group_cols: list[str],
        value_cols: list[str],
        sep: str = ",",
        predicate=None,
        state_dir: str | None = None,
    ):
        self.group_cols = list(group_cols)
        self.value_cols = list(value_cols)
        self.sep = sep
        self.predicate = predicate
        super().__init__(join, self.group_cols, state_dir)

    def _aggregate(self, rows: DataFrame) -> DataFrame:
        if self.predicate is not None:
            rows = rows.filter(self.predicate)
        return listagg(rows, self.group_cols, self.value_cols, self.sep)

    def _fold_deltas(self, deltas: DataFrame, new_join: DataFrame) -> tuple[dict, dict]:
        touched = (
            deltas.select(*self.group_cols).distinct().localCheckpoint(eager=True)
        )
        # multiset-expanded output of the NEW (uncommitted) join state
        _, new_agg = refresh_groups(
            self.join._expand(new_join), self.agg, touched, self.group_cols,
            self._aggregate,
        )
        return {"agg": new_agg}, {"agg": touched}

    def recompute(self) -> DataFrame | None:
        """Equality oracle: the same listagg over the join recompute."""
        j = self.join.recompute()
        if j is None:
            return None
        return self._aggregate(j)
