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

Durability, replay guard, idle retention and the touched-group refresh
follow :class:`~flink_streaming_etl_spark.streaming.incremental.GroupRefreshFold`
(the one durable-fold protocol, state_store.py). Equality pin
(tests/test_round11.py): result() == recompute() after every changelog
prefix, including retraction of a mid-list element.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_streaming_etl_spark.streaming.incremental import GroupRefreshFold


def listagg(
    rows: DataFrame, group_cols: list[str], value_cols: list[str], sep: str
) -> DataFrame:
    """Per-group sorted LISTAGG: (group_cols..., items, n_items), the
    values cast to string (':'-joined across ``value_cols`` when several),
    sorted and joined by ``sep``."""
    cols = [F.col(c).cast("string") for c in value_cols]
    value = cols[0] if len(cols) == 1 else F.concat_ws(":", *cols)
    return rows.groupBy(*group_cols).agg(
        F.array_join(F.sort_array(F.collect_list(value)), sep).alias("items"),
        F.count(F.lit(1)).alias("n_items"),
    )


class IncrementalCollect(GroupRefreshFold):
    """Maintain per-group sorted LISTAGG over a changelog-maintained
    table: (group_cols..., items, n_items) — byte-identical to the batch
    ``listagg_items`` kernel for value_cols=["l_partkey"], sep=",".
    """

    _RESULT = "agg"

    def __init__(
        self,
        pk: str,
        group_cols: list[str],
        value_cols: list[str],
        sep: str = ",",
        state_dir: str | None = None,
        retention_batches: int | None = None,
    ):
        self.value_cols = list(value_cols)
        self.sep = sep
        super().__init__(pk, group_cols, state_dir, retention_batches)

    def _kernel(self, rows: DataFrame) -> DataFrame:
        return self._aggregate(rows)

    def _aggregate(self, rows: DataFrame) -> DataFrame:
        return listagg(rows, self.group_cols, self.value_cols, self.sep)
