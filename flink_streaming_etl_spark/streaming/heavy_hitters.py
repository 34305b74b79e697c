"""Streaming heavy hitters: a mergeable Misra-Gries summary maintained
across micro-batches, with a kappa-style exact verify at handover.

Misra-Gries summaries are natively mergeable (Agarwal et al., "Mergeable
Summaries", PODS 2012): adding an exact batch counter into a summary and
reducing back to capacity yields an MG summary of the concatenated stream,
with total undercount <= n/(cap+1). So the streaming twin of
:func:`~flink_streaming_etl_spark.operators.text.heavy_hitter_tokens`
keeps O(cap) state REGARDLESS of stream length or vocabulary size:

- per micro-batch, a capped Misra-Gries pass runs INSIDE each scan task
  (the same ``mg_partition`` kernel as the batch operator), so the driver
  collects at most (cap+1)·partitions rows per batch — bounded by the
  summary capacity, never by the batch's vocabulary;
- every token with true frequency > n_total/cap is guaranteed to survive
  in the summary (no false negatives), each with bounds
  mg_count <= true_count <= mg_count + max_undercount;
- at handover, :meth:`MisraGriesAccumulator.exact_verify` recounts ONLY
  the surviving candidates over the replayable corpus (broadcast
  semi-join) — the same sketch-for-pruning-never-for-result philosophy as
  the batch operator, and the streaming/batch results are then EQUAL.

The per-batch tokenize+count shuffle is batch-sized, not corpus-sized; the
driver-side merge handles <= cap rows per batch, mirroring how
:class:`~flink_streaming_etl_spark.streaming.upsert_sink.AdditivePartialSink`
merges window partials.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_etl_spark.streaming.state_store import DurableFold

TOKEN_SPLIT_RE = r"\s+"


def tokens_of(documents: DataFrame) -> DataFrame:
    return documents.select(
        F.explode(F.split(F.trim("text"), TOKEN_SPLIT_RE)).alias("token")
    )


class MisraGriesAccumulator(DurableFold):
    """Mergeable MG summary with exact undercount tracking.

    ``counts`` holds at most ``cap`` tokens; ``max_undercount`` is the sum
    of all reduction decrements so far, so for every tracked token
    ``counts[t] <= true_count(t) <= counts[t] + max_undercount``, and any
    token with ``true_count > n_total / cap`` is guaranteed tracked.
    """

    def __init__(self, cap: int):
        if cap < 1:
            raise ValueError("cap must be >= 1")
        self.cap = int(cap)
        self.counts: Counter = Counter()
        self.n_total = 0
        self.max_undercount = 0
        super().__init__(None)

    # -- streaming side -----------------------------------------------------

    def _summarize_batch(self, batch_documents: DataFrame) -> list:
        """Executor-side capped MG pass over the micro-batch.

        Each scan task folds its token slice into a capacity-``cap``
        Misra-Gries counter (the same kernel as the batch
        ``heavy_hitter_tokens`` stage 1) and emits its tracked tokens plus
        ONE sentinel row carrying the partition's row count and reduction
        undercount. The collect therefore ships at most
        (cap+1)·partitions rows — bounded by summary capacity, never by
        the batch's vocabulary (the previous exact
        ``groupBy(token).count().collect()`` was vocabulary-bounded: one
        wide-vocab batch could flood the driver).
        """
        cap = self.cap

        def mg_partition(it):
            from collections import Counter as C

            import pandas as pd

            counters: C = C()
            under = 0
            n = 0
            for pdf in it:
                vals = pdf["token"].tolist()
                n += len(vals)
                counters.update(vals)
                if len(counters) > cap:
                    sub = sorted(counters.values(), reverse=True)[cap]
                    counters = C(
                        {t: c - sub for t, c in counters.items() if c - sub > 0}
                    )
                    under += sub
            yield pd.DataFrame(
                {
                    "token": list(counters.keys()) + [None],
                    "c": list(counters.values()) + [0],
                    "under": [0] * len(counters) + [under],
                    "n": [0] * len(counters) + [n],
                }
            )

        return (
            tokens_of(batch_documents)
            .mapInPandas(mg_partition, "token string, c long, under long, n long")
            .collect()
        )

    def add_batch(self, batch_documents: DataFrame, batch_id: int | None = None) -> None:
        """foreachBatch hook: capped per-partition MG pass, merge driver-side.

        ``foreachBatch`` is at-least-once: on task/query restart Spark
        replays a micro-batch under the SAME batch_id. Replays are skipped
        (ids are monotonically increasing within a query), so a restart
        cannot double-count into ``counts``/``n_total`` — the idempotent-
        sink discipline the upsert sinks follow, applied to the summary
        (the guard and commit of :class:`DurableFold`, empty ``_STATE``).
        """
        if self._replayed(batch_documents.sparkSession, batch_id):
            return  # replay of a committed batch — already folded
        rows = self._summarize_batch(batch_documents)
        # a token tracked by several partition summaries contributes the SUM
        # of its per-partition counts (a dict comprehension would keep one)
        part_counts: Counter = Counter()
        for r in rows:
            if r["token"] is not None:
                part_counts[r["token"]] += r["c"]
        n = sum(r["n"] for r in rows)
        under = sum(r["under"] for r in rows)
        self.add_summary(part_counts, undercount=under, n=n)

        self._commit(batch_id)

    def add_counter(self, batch_counts: Counter) -> None:
        """Merge an EXACT batch counter (no undercount)."""
        self.add_summary(batch_counts, undercount=0, n=sum(batch_counts.values()))

    def add_summary(self, counts: Counter, undercount: int, n: int) -> None:
        """Merge another MG summary (counts + its undercount + its stream
        length). Mergeability (Agarwal et al. 2012): summed counters reduced
        back to capacity remain a valid MG summary of the concatenation;
        undercounts add."""
        # fold into LOCALS; the three fields commit together at the end
        # (same-epoch retry after a mid-merge driver failure must not
        # see a half-merged summary — ADVICE r12)
        n_total = self.n_total + int(n)
        under = self.max_undercount + int(undercount)
        merged = Counter(self.counts)
        merged.update(counts)
        if len(merged) > self.cap:
            # subtract the (cap+1)-th largest count from everything and drop
            # the non-positives: one reduction charges its decrement against
            # > cap distinct tokens, keeping total undercount <= n/(cap+1).
            sub = sorted(merged.values(), reverse=True)[self.cap]
            merged = Counter(
                {t: c - sub for t, c in merged.items() if c - sub > 0}
            )
            under += sub
        self.n_total = n_total
        self.max_undercount = under
        self.counts = merged

    # -- query side ---------------------------------------------------------

    def candidate_rows(self, k: int) -> list[tuple[str, int, int]]:
        """(token, count_lower, count_upper) for every candidate that COULD
        exceed the n_total/k threshold. Superset of the true heavy hitters
        (no false negatives for any k <= cap)."""
        if k > self.cap:
            raise ValueError(
                f"k={k} exceeds summary capacity cap={self.cap}: the "
                "no-false-negative guarantee only holds for k <= cap"
            )
        out = []
        for t, c in self.counts.items():
            if (c + self.max_undercount) * k > self.n_total:
                out.append((t, c, c + self.max_undercount))
        return sorted(out)

    def exact_verify(
        self, spark: SparkSession, documents: DataFrame, k: int
    ) -> DataFrame:
        """Kappa handover: exact-count ONLY the tracked candidates over the
        replayable corpus. Result equals the batch ``heavy_hitter_tokens``
        operator (same schema: token, n, n_total). Equality with the batch
        operator requires k <= cap (above that, true heavy hitters may have
        been evicted from the summary — fail loudly rather than silently
        dropping them)."""
        if k > self.cap:
            raise ValueError(
                f"k={k} exceeds summary capacity cap={self.cap}: the "
                "no-false-negative guarantee only holds for k <= cap"
            )
        if not self.counts:
            return spark.createDataFrame([], "token string, n long, n_total long")
        cand = spark.createDataFrame(
            [(t,) for t in self.counts], "token string"
        )
        toks = tokens_of(documents)
        return (
            toks.join(F.broadcast(cand), "token")
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") * k > F.lit(self.n_total))
            .select(
                "token", "n", F.lit(self.n_total).cast("long").alias("n_total")
            )
        )
