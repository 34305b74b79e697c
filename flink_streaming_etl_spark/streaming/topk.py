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

Durability, replay guard, idle retention and the touched-group refresh
follow :class:`~flink_streaming_etl_spark.streaming.incremental.GroupRefreshFold`
(the one durable-fold protocol, state_store.py); a save rewrites only
the buckets of the batch's PKs and groups. The equality pin
(tests/test_round10.py) checks result() == recompute() after every
changelog prefix, including buffer-eviction retractions (a delete of a
current top-k row) and cross-group moves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_streaming_etl_spark.streaming.incremental import GroupRefreshFold


class IncrementalTopK(GroupRefreshFold):
    """Maintain per-group top-k rows (ORDER BY order_col DESC, pk ASC)
    over a changelog-maintained table.

    ``pk`` keys the latest-state table; ``group_cols`` partition the
    rank; ``order_col`` is the ranking measure. Ties break on pk so the
    buffer is deterministic.
    """

    _RESULT = "topk"

    def __init__(
        self,
        pk: str,
        group_cols: list[str],
        order_col: str,
        k: int = 3,
        state_dir: str | None = None,
        retention_batches: int | None = None,
    ):
        self.order_col = order_col
        self.k = k
        super().__init__(pk, group_cols, state_dir, retention_batches)

    def _kernel(self, rows: DataFrame) -> DataFrame:
        return self._rank(rows)

    def _rank(self, rows: DataFrame) -> DataFrame:
        w = Window.partitionBy(*self.group_cols).orderBy(
            F.desc(self.order_col), F.asc(self.pk)
        )
        return (
            rows.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= self.k)
        )
