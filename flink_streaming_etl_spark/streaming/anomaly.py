"""Streaming anomaly detection: additive daily totals maintained across
micro-batches, z-scored against each series' trailing window at query time.

The streaming twin of
:func:`~flink_streaming_etl_spark.operators.analytics.anomaly_zscore_daily`.
Daily totals are ADDITIVE partials (exact integer milli-units), so the
state merge is exact whatever the batch boundaries or event order: a day
split across micro-batches, or late events for an old day, fold into the
same (event_type, day) cell and the query-side z-score equals the batch
operator on the replayed corpus EXACTLY — no sketch, no approximation,
because the state is (types x days)-bounded, not event-bounded.

Scale contract:
- per micro-batch, ONE batch-sized aggregation to (event_type, day,
  sum_milli) rows; the driver collect is bounded by types x days-in-batch
  (event time is dense — a batch spans few days), never by event volume;
- driver state is bounded by ``retention_days`` per event_type (idle
  state retention, the reference's T5 discipline: old days are evicted
  as the max seen day advances);
- replay guard, commit and attach follow the one durable-fold protocol
  (:class:`~flink_streaming_etl_spark.streaming.state_store.DurableFold`,
  empty ``_STATE``).

Reference parity: the reference's day-level aggregation-with-retraction
queries (flink-ddl.sql day_stats shapes) keep exactly this kind of
per-day additive state in Flink's keyed state backend; here the state is
a driver dict because the summary is bounded, and the heavy per-batch
work stays distributed.
"""

from __future__ import annotations

import datetime as dt
from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_etl_spark.operators.analytics import ANOMALY_Z_THRESHOLD
from flink_streaming_etl_spark.streaming.state_store import DurableFold


class AnomalyZScoreAccumulator(DurableFold):
    """Mergeable per-(event_type, day) integer totals + trailing z-scores."""

    def __init__(
        self, retention_days: int | None = None, value_scale: int = 1000
    ):
        self.value_scale = value_scale
        if retention_days is not None and retention_days < 8:
            raise ValueError(
                "retention_days must be >= 8 (7 trailing days + the scored day)"
            )
        self.retention_days = retention_days
        self.totals: dict[str, dict[dt.date, int]] = defaultdict(dict)
        super().__init__(None)

    # -- streaming side -----------------------------------------------------

    def add_batch(self, batch_events: DataFrame, batch_id: int | None = None) -> None:
        """foreachBatch hook: one exact batch-sized aggregation, additive
        merge driver-side, replay-idempotent by batch id."""
        if self._replayed(batch_events.sparkSession, batch_id):
            return  # replay of a committed batch — already folded
        rows = (
            batch_events.select(
                "event_type",
                F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
                F.round(F.col("value") * self.value_scale).cast("long").alias("_v"),
            )
            .groupBy("event_type", "day")
            .agg(F.sum("_v").alias("x"))
            .collect()  # bounded: types x days-in-batch
        )
        # fold into LOCAL copies; self.* commits atomically at the end
        # (a driver failure mid-merge retried under the same epoch would
        # otherwise double-count the already-merged rows — ADVICE r12)
        totals = defaultdict(
            dict, {et: dict(s) for et, s in self.totals.items()}
        )
        for r in rows:
            series = totals[r["event_type"]]
            series[r["day"]] = series.get(r["day"], 0) + int(r["x"])
            self._evict(series)

        self.totals = totals
        self._commit(batch_id)

    def _evict(self, series: dict) -> None:
        if self.retention_days is None:
            return
        horizon = max(series) - dt.timedelta(days=self.retention_days - 1)
        for day in [d for d in series if d < horizon]:
            del series[day]

    # -- query side ---------------------------------------------------------

    def result(
        self, spark: SparkSession, z_threshold: float = ANOMALY_Z_THRESHOLD
    ) -> DataFrame:
        """Daily z-score report from the accumulated totals — identical
        schema and (within retention) identical values to the batch
        ``anomaly_zscore_daily`` on the replayed corpus: the same exact
        integer sum/sum-of-squares folds over the same daily totals."""
        out = []
        for event_type in sorted(self.totals):
            series = sorted(self.totals[event_type].items())
            for idx, (day, x) in enumerate(series):
                # ROWS-frame semantics (previous 7 observed days), matching
                # the batch operator's rowsBetween(-7, -1) exactly — a
                # calendar gap widens the span in both implementations.
                window = [v for _, v in series[max(0, idx - 7) : idx]]
                z = None
                is_anom = 0
                if len(window) == 7:
                    s1 = sum(window)
                    s2 = sum(v * v for v in window)
                    if min(window) == max(window):
                        # constant history: z undefined; exact-deviation
                        # anomaly test — same semantics as the batch op
                        is_anom = 1 if x != window[0] else 0
                    else:
                        # mirror the batch op's DOUBLE arithmetic exactly:
                        # products on float(s1), never exact-int s1² (the
                        # two differ by an ulp once s1 exceeds 2^53)
                        n = 7.0
                        s1d = float(s1)
                        mean = s1d / n
                        var = (float(s2) - s1d * s1d / n) / (n - 1)
                        zval = (x - mean) / var**0.5
                        z = round(zval, 4)  # Python round = half-even = bround
                        is_anom = 1 if abs(z) > z_threshold else 0
                out.append(
                    (event_type, str(day), x / float(self.value_scale), z, is_anom)
                )
        return spark.createDataFrame(
            out,
            "event_type string, day string, daily_value double, "
            "zscore double, is_anomaly int",
        )
