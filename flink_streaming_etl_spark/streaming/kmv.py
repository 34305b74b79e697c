"""Streaming KMV distinct-count: per-source k-minimum-hash state merged
across micro-batches — the streaming twin of
:func:`~flink_streaming_etl_spark.operators.text.kmv_distinct_report`'s
estimator column, and the sketch-family sibling of the Misra-Gries,
histogram, anomaly, and media-chunk accumulators.

KMV state merges EXACTLY: the k smallest hashes of a union equal the k
smallest of the merged k-min sets, so the estimate after any batch
partitioning equals the batch operator on the replayed corpus (the
hashes are deterministic md5 — no randomness to reconcile). Per batch
the heavy work stays distributed (one batch-sized distinct + window
top-k per source); the driver collect and the standing state are both
O(sources x k). The '(all)' union row is served from the SAME state by
merging the per-source k-min lists at query time — no extra pass.

What the streaming twin deliberately does NOT carry: the batch report's
``exact_distinct``/``rel_error`` gauge columns (exact distinct needs
full per-term state — the very thing the sketch replaces at 100 TB).

Replay guard, commit and attach follow the one durable-fold protocol
(:class:`~flink_streaming_etl_spark.streaming.state_store.DurableFold`,
empty ``_STATE``: the summary is bounded driver state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_etl_spark.operators.text import _KMV_HASH_BITS, KMV_K
from flink_streaming_etl_spark.streaming.state_store import DurableFold


class KmvDistinctAccumulator(DurableFold):
    """Mergeable per-source k-min hash sets with batch-exact estimates."""

    def __init__(self, k: int = KMV_K):
        self.k = k
        #: source -> ascending list of the k smallest hashes seen
        self.kmin: dict[str, list[int]] = {}
        super().__init__(None)

    # -- streaming side -----------------------------------------------------

    def add_batch(
        self, batch_documents: DataFrame, batch_id: int | None = None
    ) -> None:
        if self._replayed(batch_documents.sparkSession, batch_id):
            return  # replay of a committed batch — already folded
        from pyspark.sql.window import Window

        from flink_streaming_etl_spark.functions import md5_int

        terms = (
            batch_documents.select(
                "source",
                F.explode(
                    F.filter(
                        F.split(F.lower("text"), "[^a-z]+"), lambda t: t != ""
                    )
                ).alias("term"),
            )
            .distinct()
            .select("source", md5_int(F.col("term"), 15).alias("h"))
            .distinct()
        )
        wr = Window.partitionBy("source").orderBy("h")
        rows = (
            terms.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") <= self.k)
            .collect()  # bounded: sources x k
        )
        fresh: dict[str, list[int]] = {}
        for r in rows:
            fresh.setdefault(r["source"], []).append(int(r["h"]))
        # fold into a LOCAL copy; self.* commits atomically at the end
        # (a driver failure mid-merge retried under the same epoch would
        # otherwise double-merge the already-folded sources — ADVICE r12)
        kmin = {src: list(hs) for src, hs in self.kmin.items()}
        for src, hs in fresh.items():
            merged = sorted(set(kmin.get(src, [])) | set(hs))
            kmin[src] = merged[: self.k]

        self.kmin = kmin
        self._commit(batch_id)

    # -- query side ---------------------------------------------------------

    def _estimate(self, hs: list[int]) -> float:
        if len(hs) < self.k:
            return float(len(hs))
        scale = float(1 << _KMV_HASH_BITS)
        return round(float(self.k - 1) / (hs[self.k - 1] / scale), 4)

    def result(self, spark: SparkSession) -> DataFrame:
        """(source, kmv_estimate) per source plus the merged '(all)' row —
        identical values to the batch kmv_distinct_report's estimate
        column on the replayed corpus."""
        out = [
            (src, self._estimate(hs)) for src, hs in sorted(self.kmin.items())
        ]
        if self.kmin:
            union = sorted(set().union(*[set(h) for h in self.kmin.values()]))
            out.append(("(all)", self._estimate(union[: self.k])))
        return spark.createDataFrame(out, "source string, kmv_estimate double")
