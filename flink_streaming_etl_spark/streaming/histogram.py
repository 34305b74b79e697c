"""Streaming value histogram: additive (event_type, bin) counts across
micro-batches — the streaming twin of
:func:`~flink_streaming_etl_spark.operators.analytics.value_histogram`,
completing the mergeable-summary family (Misra-Gries heavy hitters,
anomaly daily totals, media chunk state).

Histogram counts are PURE ADDITIVE partials over a FIXED binning, so
the merge is exact whatever the batch boundaries or event order, and
the query-side result equals the batch operator on the replayed corpus
EXACTLY — state is (types x bins)-bounded (never event-bounded), the
per-batch heavy work is one batch-sized aggregation, and the driver
collect is bounded by types x bins. The bounded histogram is also the
production percentile path at 100 TB: exact percentiles need a full
sort/shuffle per query, while the histogram answers p50/p95/p99 to
bin-width resolution from O(types x bins) standing state.

Replay guard, commit and attach follow the one durable-fold protocol
(:class:`~flink_streaming_etl_spark.streaming.state_store.DurableFold`,
empty ``_STATE``: the summary is bounded driver state).
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_etl_spark.operators.analytics import (
    HIST_BINS,
    HIST_HI,
    HIST_LO,
)
from flink_streaming_etl_spark.streaming.state_store import DurableFold


class ValueHistogramAccumulator(DurableFold):
    """Mergeable per-(event_type, bin) counts with exact batch parity."""

    def __init__(self) -> None:
        self.counts: dict[tuple[str, int], int] = defaultdict(int)
        super().__init__(None)

    # -- streaming side -----------------------------------------------------

    def add_batch(self, batch_events: DataFrame, batch_id: int | None = None) -> None:
        if self._replayed(batch_events.sparkSession, batch_id):
            return  # replay of a committed batch — already folded
        width = (HIST_HI - HIST_LO) / HIST_BINS
        bin_ = F.least(
            F.lit(HIST_BINS - 1),
            F.greatest(F.lit(0), F.floor((F.col("value") - HIST_LO) / width)),
        ).cast("long")
        rows = (
            batch_events.groupBy("event_type", bin_.alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # bounded: types x bins
        )
        # fold into a LOCAL copy; self.* commits atomically at the end
        # (same-epoch retry after a mid-merge driver failure must not
        # double-count the already-merged rows — ADVICE r12)
        counts = defaultdict(int, self.counts)
        for r in rows:
            # NULL values bin to None — the batch operator emits a
            # null-bin row; the twin must match it, not crash on int(None)
            b = None if r["bin"] is None else int(r["bin"])
            counts[(r["event_type"], b)] += int(r["n"])

        self.counts = counts
        self._commit(batch_id)

    # -- query side ---------------------------------------------------------

    def result(self, spark: SparkSession) -> DataFrame:
        """Same schema and values as the batch ``value_histogram``
        (including the null-bin row for NULL values)."""
        width = (HIST_HI - HIST_LO) / HIST_BINS
        out = [
            (et, b, None if b is None else HIST_LO + b * width, n)
            for (et, b), n in sorted(
                self.counts.items(),
                key=lambda kv: (kv[0][0], kv[0][1] is not None, kv[0][1] or 0),
            )
        ]
        return spark.createDataFrame(
            out, "event_type string, bin long, bin_lo double, n long"
        )

    def percentile(self, event_type: str, q: float) -> float | None:
        """Bin-resolution percentile from standing state: the lower edge
        of the bin where the cumulative count crosses q — the O(bins)
        answer that replaces a full-shuffle exact percentile at scale."""
        width = (HIST_HI - HIST_LO) / HIST_BINS
        series = sorted(
            (b, n)
            for (et, b), n in self.counts.items()
            if et == event_type and b is not None
        )
        total = sum(n for _, n in series)
        if not total:
            return None
        target = q * total
        run = 0
        for b, n in series:
            run += n
            if run >= target:
                return HIST_LO + b * width
        return HIST_LO + series[-1][0] * width
