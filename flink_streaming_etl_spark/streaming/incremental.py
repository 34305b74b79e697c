"""Incremental maintenance of decomposable aggregates over a changelog.

The materialize-then-recompute loop (pipeline.py) recomputes downstream
aggregates from the full state each micro-batch — always correct, but the
per-batch cost grows with state size. For SUM/COUNT-style decomposable
aggregates there is a cheaper exact path, the ±delta form of Flink's
retract-stream aggregation (SURVEY.md §2.3 A3):

    op c/r  →  +after        op d  →  -before        op u  →  -before +after

Each micro-batch shuffles ONLY its own deltas (grouped to one row per
touched key) and merges them into the aggregate state with a keyed outer
join — per-batch cost proportional to batch size, not state size. At 100 TB
of accumulated state this is the difference between a bounded streaming job
and an unbounded recompute.

Contract: requires per-key exactly-once, in-order delivery with faithful
before-images — exactly what Debezium provides when topics are keyed by
primary key (S6; the Kafka message key IS the PK struct). Under
at-least-once redelivery use the recompute loop instead (its merge is
idempotent); tests/test_incremental.py proves delta ≡ recompute on the
reference's cancellable-orders scenario.

Money sums accumulate in DECIMAL so +x followed by -x cancels exactly
(float deltas would drift); counts are exact longs that reach 0 and drop
the key.

The durable changelog folds here and in topk.py / collect.py
(:class:`ChangelogFold`) follow the one durable-fold protocol of
:class:`~flink_streaming_etl_spark.streaming.state_store.DurableFold`:
``state_dir`` store, batch-id replay guard, idle retention, bucketed
fold-then-commit saves (T6), ``attach`` onto a changelog stream.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_streaming_etl_spark.sources.cdc import apply_changelog
from flink_streaming_etl_spark.streaming.state_store import (
    DurableFold,
    all_but,
    group_match,
)

DEC = "decimal(18,2)"


def changelog_deltas(chunk: DataFrame, predicate: Callable[[Column], Column] | None) -> DataFrame:
    """Envelopes → signed row images: (+1 after) for c/r, (-1 before) for d,
    both for u. ``predicate`` (e.g. status <> 'closed') applies to each
    image independently — an update into the filtered-out region emits only
    its retraction, exactly like a retract stream crossing a filter."""
    signed = chunk.select(
        F.explode(
            F.array(
                F.struct(F.col("before").alias("img"), F.lit(-1).alias("sign")),
                F.struct(F.col("after").alias("img"), F.lit(1).alias("sign")),
            )
        ).alias("e"),
        "op",
    ).select(F.col("e.img").alias("img"), F.col("e.sign").alias("sign"), "op")
    keep = (
        ((F.col("op").isin("c", "r")) & (F.col("sign") == 1))
        | ((F.col("op") == "d") & (F.col("sign") == -1))
        | (F.col("op") == "u")
    )
    out = signed.filter(keep & F.col("img").isNotNull())
    if predicate is not None:
        out = out.filter(predicate(F.col("img")))
    return out


def image_keys(chunk: DataFrame, cols: list[str]) -> DataFrame:
    """Distinct ``cols`` of either row image of a changelog chunk —
    batch-bounded (≤ 2 rows per envelope). NULL keys are kept:
    changelog_deltas already dropped the empty envelope sides, so a
    remaining NULL is a real NULL key (ADVICE r10)."""
    return (
        changelog_deltas(chunk, None)
        .select(*[F.col(f"img.{c}").alias(c) for c in cols])
        .distinct()
    )


def sum_count_deltas(
    rows: DataFrame, keys: dict[str, Column], sign: Column, amount: Column
) -> DataFrame:
    """Signed rows → per-key (d_amount, d_cnt) deltas: Σ sign·amount in
    DECIMAL, Σ sign as a long."""
    return (
        rows.select(
            *[e.alias(n) for n, e in keys.items()],
            (sign.cast(DEC) * amount.cast(DEC)).alias("_amt"),
            sign.cast("long").alias("_cnt"),
        )
        .groupBy(*keys)
        .agg(F.sum("_amt").alias("d_amount"), F.sum("_cnt").alias("d_cnt"))
    )


def merge_sum_count(
    state: DataFrame | None, deltas: DataFrame, keys: list[str]
) -> DataFrame:
    """Merge per-key deltas into the (keys, amount, cnt) state with one
    keyed full-outer join; a key whose count reaches 0 drops."""
    if state is None:
        merged = deltas.select(
            *keys, F.col("d_amount").alias("amount"), F.col("d_cnt").alias("cnt")
        )
    else:
        zero = F.lit(0).cast(DEC)
        merged = state.join(deltas, on=keys, how="full_outer").select(
            *keys,
            (F.coalesce(F.col("amount"), zero)
             + F.coalesce(F.col("d_amount"), zero)).alias("amount"),
            (F.coalesce(F.col("cnt"), F.lit(0))
             + F.coalesce(F.col("d_cnt"), F.lit(0))).alias("cnt"),
        )
    # Cut lineage: state is the running accumulator across batches.
    return merged.filter(F.col("cnt") > 0).localCheckpoint(eager=True)


def refresh_groups(
    rows: DataFrame,
    old: DataFrame | None,
    touched: DataFrame,
    cols: list[str],
    kernel: Callable[[DataFrame], DataFrame],
) -> tuple[DataFrame, DataFrame]:
    """Touched-group refresh: ``kernel`` over the touched groups' slice
    of ``rows`` (a broadcast semi join on the batch-bounded group keys,
    null-safe), spliced into the maintained ``old`` relation by
    anti∪union. Returns (refreshed, new). Expression joins keep the left
    side's column order, so the result matches a full recompute
    column-for-column."""
    slice_ = rows.join(
        F.broadcast(touched), group_match(rows, touched, cols), "semi"
    )
    refreshed = kernel(slice_).localCheckpoint(eager=True)
    if old is None:
        return refreshed, refreshed
    kept = old.join(F.broadcast(touched), group_match(old, touched, cols), "anti")
    return refreshed, kept.unionByName(refreshed).localCheckpoint(eager=True)


class ChangelogFold(DurableFold):
    """A durable fold over ONE changelog stream (``apply(chunk,
    batch_id)``), stored under ``state_dir`` with batch-id versions;
    ``retention_batches`` adds the ``retention_touch`` stamps to the
    state (T5 — a group idle that many folds leaves state and result
    together; a reappearing group starts fresh, Flink TTL semantics)."""

    _ATTR = "{}"
    _BATCH_VERSIONS = True
    _AVAILABLE_NOW = True

    def __init__(
        self,
        state: dict,
        state_dir: str | None,
        retention_batches: int | None = None,
    ):
        self.retention_batches = retention_batches
        if retention_batches is not None:
            state = {**state, "retention_touch": all_but("_last_batch")}
        self._STATE = state
        super().__init__(state_dir)

    def _foreach_batch(self, batch: DataFrame, batch_id: int) -> None:
        self.apply(batch, batch_id=int(batch_id))


class GroupRefreshFold(ChangelogFold):
    """A PK-keyed latest-state table (``state``, apply_changelog —
    O(live rows), group-partitioned on a cluster) plus a per-group
    relation ``_RESULT`` that ``_kernel`` derives from it.

    Per-batch WORK is touched-group-bounded, never state-bounded: the
    batch's images (old and new — an update can move a row across
    groups) name the groups whose result can change, only those groups'
    state rows re-run the kernel, and only their rows are re-emitted. A
    touched group left with no rows vanishes from the result. Saves
    rewrite the buckets of the chunk's PKs and of the touched groups."""

    _RESULT: str

    def __init__(
        self,
        pk: str,
        group_cols: list[str],
        state_dir: str | None,
        retention_batches: int | None,
    ):
        self.pk = pk
        self.group_cols = list(group_cols)
        super().__init__(
            {"state": [pk], self._RESULT: self.group_cols},
            state_dir,
            retention_batches,
        )

    def _kernel(self, rows: DataFrame) -> DataFrame:  # pragma: no cover
        raise NotImplementedError

    def apply(self, chunk: DataFrame, batch_id: int | None = None) -> DataFrame | None:
        """Fold one micro-batch; return the refreshed rows of the touched
        groups (None on replay)."""
        if self._replayed(chunk.sparkSession, batch_id):
            return None
        touched = image_keys(chunk, self.group_cols).localCheckpoint(eager=True)
        new_state = apply_changelog(self.state, chunk, self.pk).localCheckpoint(
            eager=True
        )
        refreshed, new_result = refresh_groups(
            new_state, self.result(), touched, self.group_cols, self._kernel
        )
        self._commit(
            batch_id,
            {"state": new_state, self._RESULT: new_result},
            {"state": image_keys(chunk, [self.pk]), self._RESULT: touched},
            groups=touched,
        )
        return refreshed

    def result(self) -> DataFrame | None:
        return getattr(self, self._RESULT)

    def recompute(self) -> DataFrame | None:
        """The kernel over the whole latest state — the always-correct
        twin the equality pin compares against."""
        if self.state is None:
            return None
        return self._kernel(self.state)


class IncrementalSumCount:
    """Exact incremental SUM(amount)/COUNT(*) GROUP BY key_exprs over a
    changelog — the delta-maintained twin of a recompute aggregate.

    ``key_exprs`` maps an image struct column to the grouping columns;
    ``amount`` extracts the summed measure. State is a small keyed table
    (one row per live group), merged per batch."""

    def __init__(
        self,
        key_exprs: Callable[[Column], list[Column]],
        amount: Callable[[Column], Column],
        predicate: Callable[[Column], Column] | None = None,
    ):
        self.key_exprs = key_exprs
        self.amount = amount
        self.predicate = predicate
        self.state: DataFrame | None = None

    def apply(self, chunk: DataFrame) -> DataFrame:
        img = F.col("img")
        keys = {f"k{i}": k for i, k in enumerate(self.key_exprs(img))}
        batch = sum_count_deltas(
            changelog_deltas(chunk, self.predicate),
            keys,
            F.col("sign"),
            self.amount(img),
        )
        self.state = merge_sum_count(self.state, batch, list(keys))
        return self.state

    def result(self) -> DataFrame | None:
        return self.state


class IncrementalDistinctCount(ChangelogFold):
    """Exact incremental COUNT(DISTINCT value) GROUP BY key over a
    changelog — the retraction aggregate Flink singles out as the hard
    case (a plain count can fold ±1s; a DISTINCT count changes only when
    a value's multiplicity crosses 0, so the operator must keep per-
    (group, value) reference counts as state — Flink's
    DistinctAccumulator does exactly this map).

    Two-tier state, both relations keyed for cluster partitioning:

    - ``ref_state`` (group, value, cnt>0): the reference counts. Per
      batch, only the batch's own (group, value) deltas shuffle (one
      row per touched pair after a map-side combine), then a keyed
      outer-join merge — cost ∝ batch, never state.
    - ``count_state`` (group, distinct_cnt): maintained from the SIGNED
      CROSSINGS the merge emits (+1 when a pair's cnt goes 0→positive,
      −1 when positive→0). The distinct count is a plain SUM of
      crossings, so the second tier is an ordinary IncrementalSumCount-
      style fold — bounded by touched pairs too.

    Same delivery contract as the siblings (per-key exactly-once with
    faithful before-images); durable, replay-idempotent and retention-
    bounded through :class:`ChangelogFold` (saves rewrite only the
    buckets of the batch's pairs and groups); pinned equal to a full
    recompute after every changelog prefix in tests/test_round10.py.
    """

    def __init__(
        self,
        key_exprs: Callable[[Column], list[Column]],
        value: Callable[[Column], Column],
        predicate: Callable[[Column], Column] | None = None,
        state_dir: str | None = None,
        retention_batches: int | None = None,
    ):
        self.key_exprs = key_exprs
        self.value = value
        self.predicate = predicate
        #: ``ref_state``: (k0..kn, v, cnt) reference counts, cnt > 0;
        #: ``count_state``: (k0..kn, distinct_cnt), distinct_cnt > 0
        super().__init__(
            {"ref_state": all_but("cnt"), "count_state": all_but("distinct_cnt")},
            state_dir,
            retention_batches,
        )

    def apply(self, chunk: DataFrame, batch_id: int | None = None) -> DataFrame | None:
        if self._replayed(chunk.sparkSession, batch_id):
            return None
        img = F.col("img")
        deltas = changelog_deltas(chunk, self.predicate)
        keys = self.key_exprs(img)
        key_names = [f"k{i}" for i in range(len(keys))]
        pair_names = [*key_names, "v"]
        batch = (
            deltas.select(
                *[k.alias(n) for k, n in zip(keys, key_names)],
                self.value(img).alias("v"),
                F.col("sign").cast("long").alias("_d"),
            )
            # COUNT(DISTINCT) ignores NULL values; so must the ref tier
            .filter(F.col("v").isNotNull())
            .groupBy(*pair_names)
            .agg(F.sum("_d").alias("d_cnt"))
            .filter(F.col("d_cnt") != 0)
            # batch-bounded; materialized once, reused by the merge, the
            # crossings AND the touched-bucket save below
            .localCheckpoint(eager=True)
        )

        # merge into reference counts, emitting the 0-crossings
        if self.ref_state is None:
            merged = batch.select(*pair_names, F.col("d_cnt").alias("cnt"))
            old_cnt = F.lit(0)
        else:
            merged = (
                self.ref_state.withColumnRenamed("cnt", "_old")
                .join(batch, on=pair_names, how="full_outer")
                .select(
                    *pair_names,
                    F.coalesce(F.col("_old"), F.lit(0)).alias("_old"),
                    (
                        F.coalesce(F.col("_old"), F.lit(0))
                        + F.coalesce(F.col("d_cnt"), F.lit(0))
                    ).alias("cnt"),
                )
            )
            old_cnt = F.col("_old")
        crossings = (
            merged.select(
                *key_names,
                (
                    F.when((old_cnt <= 0) & (F.col("cnt") > 0), 1)
                    .when((old_cnt > 0) & (F.col("cnt") <= 0), -1)
                    .otherwise(0)
                ).alias("_x"),
            )
            .groupBy(*key_names)
            .agg(F.sum("_x").alias("d_distinct"))
            .filter(F.col("d_distinct") != 0)
        )
        new_ref = (
            merged.filter(F.col("cnt") > 0)
            .select(*pair_names, "cnt")
            .localCheckpoint(eager=True)
        )

        # fold crossings into the per-group distinct count
        if self.count_state is None:
            counts = crossings.select(
                *key_names, F.col("d_distinct").alias("distinct_cnt")
            )
        else:
            counts = (
                self.count_state.join(crossings, on=key_names, how="full_outer")
                .select(
                    *key_names,
                    (
                        F.coalesce(F.col("distinct_cnt"), F.lit(0))
                        + F.coalesce(F.col("d_distinct"), F.lit(0))
                    ).alias("distinct_cnt"),
                )
            )
        new_count = (
            counts.filter(F.col("distinct_cnt") > 0).localCheckpoint(eager=True)
        )
        self._commit(
            batch_id,
            {"ref_state": new_ref, "count_state": new_count},
            {
                "ref_state": batch.select(*pair_names),
                "count_state": batch.select(*key_names),
            },
            groups=batch.select(*key_names).distinct(),
        )
        return self.count_state

    def result(self) -> DataFrame | None:
        return self.count_state

    def recompute(self) -> DataFrame | None:
        """COUNT(DISTINCT) over the reference counts — the always-correct
        twin for the equality pin (ref_state is itself delta-maintained,
        so the pin also exercises the first tier)."""
        if self.ref_state is None:
            return None
        key_names = [c for c in self.ref_state.columns if c.startswith("k")]
        return self.ref_state.groupBy(*key_names).agg(
            F.count_distinct(F.col("v")).alias("distinct_cnt")
        )
