"""The streaming dedup stage of ``operator_battery``: first-owner text
dedup with state that grows every fold.

Set-up folds a seeded corpus into ``BloomTextDedupAccumulator``,
attaches the accumulator (its public ``attach``) to a parquet file
stream and warms up with one small fold. Each timed operation drops one
fixed-size batch file into the stream's directory and waits until the
fold has committed (closed loop, one client). A set share of each batch
duplicates the prefix of earlier documents (cross-batch) or of its own
documents (in-batch). After every fold, outside the timed region, the
batch's keep/drop decisions are compared with the first-owner rule
computed in plain Python.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from gen import DedupScenario, first_owner_decisions
from workload import Workload, layer_sum

#: Layers a fold's spans belong to: the accumulator, the checkpoints it
#: takes, and the fold's root span, which carries the jobs the streaming
#: engine runs under its own job group.
FOLD_LAYERS = ["streaming.text_dedup", "ckpt", "bench"]


class DedupStream(Workload):
    name = "dedup_stream"
    op_name = "fold"

    def __init__(self, ctx, seed_docs: int = 1000, batch_size: int = 200):
        super().__init__(ctx)
        self.seed_docs = seed_docs
        self.batch_size = batch_size
        self.query = None
        self.batches: list[list[tuple[int, str]]] = []
        self.rows_rewritten = 0
        self.docs_in = 0
        self.state_rows = 0
        self._unpatch = None

    def _instrument(self, acc) -> None:
        """Traced runs: spans around ``add_batch`` and around the
        ``eager_checkpoint`` calls it makes into ``ckpt``."""
        if not self.ctx.tracer.enabled:
            return
        from flink_streaming_etl_spark.streaming import text_dedup

        acc.add_batch = self.ctx.traced("text_dedup.add_batch", "streaming.text_dedup",
                                        acc.add_batch)
        original = text_dedup.eager_checkpoint
        text_dedup.eager_checkpoint = self.ctx.traced("ckpt.eager_checkpoint", "ckpt", original)
        self._unpatch = lambda: setattr(text_dedup, "eager_checkpoint", original)

    def build_state(self) -> None:
        from flink_streaming_etl_spark.streaming.text_dedup import BloomTextDedupAccumulator

        spark = self.ctx.spark
        self.scn = DedupScenario(self.ctx.seed)
        self.acc = BloomTextDedupAccumulator()
        self._instrument(self.acc)
        seed = self.scn.batch(self.seed_docs)
        self.batches.append(seed)
        self.acc.add_batch(spark.createDataFrame(seed, "doc_id long, text string"))
        self.in_dir = os.path.join(self.ctx.tmp, "dedup_in")
        os.makedirs(self.in_dir)
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(self.in_dir))
        self.query = self.acc.attach(
            stream, checkpointLocation=os.path.join(self.ctx.tmp, "dedup_ckpt"))

    def warm_up(self) -> None:
        """One small fold through the stream before the timed folds."""
        self._fold(self.scn.batch(max(1, self.batch_size // 4)))

    def _fold(self, docs: list[tuple[int, str]]) -> float:
        """Hand ``docs`` to the stream as one parquet file and wait until
        the fold has committed; returns the latency."""
        self.batches.append(docs)
        name = f"b{len(self.batches):05d}.parquet"
        staged = os.path.join(self.ctx.tmp, f".{name}")
        pq.write_table(pa.table({"doc_id": pa.array([d for d, _ in docs], pa.int64()),
                                 "text": [t for _, t in docs]}), staged)
        extra = (str(self.query.runId),)
        t0 = time.perf_counter()
        with self.ctx.tracer.span("dedup.fold", "bench", new_trace=True, extra_groups=extra):
            os.replace(staged, os.path.join(self.in_dir, name))
            self.query.processAllAvailable()
        return time.perf_counter() - t0

    def step(self) -> tuple[float, int, bool]:
        docs = self.scn.batch(self.batch_size)
        latency = self._fold(docs)
        self.docs_in += len(docs)
        if self.ctx.tracer.enabled:
            self.state_rows = self.acc.owner_rel.count()
            self.rows_rewritten += self.state_rows + self.acc.kept_rel.count()
        return latency, len(docs), self.check(docs)

    def check(self, docs: list[tuple[int, str]]) -> bool:
        from pyspark.sql import functions as F

        expected = first_owner_decisions(self.batches)
        ids = [d for d, _ in docs]
        got = {r["doc_id"]: r["kept"] for r in
               self.acc.kept_rel.filter(F.col("doc_id").between(min(ids), max(ids))).collect()}
        if got != {d: expected[d] for d in ids}:
            self.log(f"fold {len(self.batches) - 1}: decisions differ from the first-owner rule")
            return False
        return True

    def finish(self) -> None:
        if self.query is not None:
            self.query.stop()
        if self._unpatch is not None:
            self._unpatch()

    def layer_report(self, units: int) -> dict[str, tuple[float, str]]:
        return {
            "streaming.text_dedup.state_rows": (float(self.state_rows), "rows"),
            "streaming.text_dedup.state_rows_rewritten_per_input_doc": (
                self.rows_rewritten / max(1, self.docs_in), "ratio"),
        }

    def named_layers(self, layers, folds: int) -> dict[str, tuple[float, str]]:
        def per_fold(key: str) -> float:
            return layer_sum(layers, FOLD_LAYERS, key) / folds

        return {
            "dedup.jobs_per_fold": (per_fold("jobs"), "count"),
            "dedup.stages_per_fold": (per_fold("stages"), "count"),
            "dedup.executor_run_s_per_fold": (per_fold("executor_run_s"), "s"),
            "dedup.shuffle_bytes_per_fold": (
                per_fold("shuffle_read_bytes") + per_fold("shuffle_write_bytes"), "bytes"),
            "dedup.state_rows": (float(self.state_rows), "rows"),
            "dedup.state_rows_rewritten_per_input_doc": (
                self.rows_rewritten / max(1, self.docs_in), "ratio"),
        }
