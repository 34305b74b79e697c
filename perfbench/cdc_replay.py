"""``cdc_replay``: the paper's pipeline, Debezium changelog → latest-state
tables → the seven continuous queries → keyed upsert sinks.

Set-up bootstraps an ``r``-op snapshot (sf0.001 sizes) through
``CdcSource.parse`` and ``ReferencePipeline.run_batch``, then warms up
with one small batch, so the sinks' read-merge path has run once. Each
timed operation then hands one fixed-size micro-batch of raw envelopes
(JSON lines on disk) to the pipeline and waits until all seven sinks
have committed: one client, closed loop, like a catch-up consumer that
takes its next batch only after committing the last. After every batch, outside the timed region,
each sink is read back and compared with the same query computed by
DuckDB over the generator's expected latest state.
"""

from __future__ import annotations

import os
import time

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from gen import CdcScenario
from workload import Workload, canonical_rows, latency_metrics, layer_sum

#: DuckDB reference of the seven queries (flat columns; the sinks' nested
#: ES documents are flattened to dotted names before comparing).
REFERENCE_SQL = {
    "order_view": """
        SELECT o.id, o.ctime, o.utime, o.amount AS "order.amount",
               o.status AS "order.status", o.channel AS "order.channel",
               u.name AS "user.name", u.age AS "user.age"
        FROM orders o JOIN users u ON o.user_id = u.id""",
    "user_view": "SELECT id, name, age, ctime, utime FROM users",
    "product_view": "SELECT id, name, price, ctime, utime FROM products",
    "order_view_items": """
        SELECT order_id AS id,
               string_agg(product_id, ',' ORDER BY product_id) AS items_csv,
               list({'product.id': product_id, 'price': price, 'quantity': quantity}
                    ORDER BY product_id, price, quantity) AS items
        FROM order_items GROUP BY order_id""",
    "user_order_stats": """
        SELECT user_id || '|' || substr(ctime, 1, 10) AS id, user_id,
               substr(ctime, 1, 10) AS cday,
               CAST(SUM(CAST(amount AS DECIMAL(18, 2))) AS DOUBLE) AS "order.amount.day",
               COUNT(*) AS "order.count.day"
        FROM orders WHERE status <> 'closed' GROUP BY user_id, substr(ctime, 1, 10)""",
    "order_stats": """
        SELECT substr(ctime, 1, 10) AS id,
               CAST(SUM(CAST(amount AS DECIMAL(18, 2))) AS DOUBLE) AS amount,
               COUNT(*) AS cnt
        FROM orders WHERE status <> 'closed' GROUP BY substr(ctime, 1, 10)""",
    "product_stats": """
        SELECT i.product_id AS id, COUNT(*) AS quantity,
               CAST(SUM(CAST(i.amount AS DECIMAL(18, 2))) AS DOUBLE) AS amount
        FROM order_items i JOIN orders o ON i.order_id = o.id
        WHERE o.status <> 'closed' GROUP BY i.product_id""",
}

COLUMNS = {
    "users": ["id", "name", "age", "ctime", "utime"],
    "products": ["id", "name", "price", "ctime", "utime"],
    "orders": ["id", "user_id", "amount", "status", "channel", "ctime", "utime"],
    "order_items": ["id", "order_id", "product_id", "price", "quantity", "amount"],
}


def expected_sinks(state: dict[str, dict[str, dict]]) -> dict[str, list[tuple]]:
    con = duckdb.connect()
    try:
        for table, cols in COLUMNS.items():
            frame = pd.DataFrame(list(state[table].values()), columns=cols)
            con.register(table, frame)
        return {
            name: canonical_rows(con.sql(sql).fetch_arrow_table().to_pylist())
            for name, sql in REFERENCE_SQL.items()
        }
    finally:
        con.close()


class CdcReplay(Workload):
    name = "cdc_replay"
    op_name = "batch"

    def __init__(self, ctx, orders: int = 1500, batch_size: int = 1000):
        super().__init__(ctx)
        self.orders = orders
        self.batch_size = batch_size
        self.n_batches = 0
        self.sink_rows_written = 0
        self.changed_keys = 0

    def _write(self, envelopes: dict[str, list[str]], tag: str) -> dict[str, str]:
        paths = {}
        for table, lines in envelopes.items():
            if not lines:
                continue
            path = os.path.join(self.ctx.tmp, "changelog", tag, f"{table}.jsonl")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                f.write("\n".join(lines) + "\n")
            paths[table] = path
        return paths

    def _hand_off(self, pipe, paths: dict[str, str]) -> None:
        tr, spark = self.ctx.tracer, self.ctx.spark
        with tr.span("sources.cdc.parse", "sources.cdc"):
            chunks = {t: pipe.sources[t].parse(spark.read.text(p)) for t, p in paths.items()}
        with tr.span("reference_pipeline.run_batch", "streaming.reference_pipeline"):
            pipe.run_batch(chunks)

    def build_state(self) -> None:
        from flink_streaming_etl_spark.streaming.reference_pipeline import ReferencePipeline

        self.scn = CdcScenario(self.ctx.seed, orders=self.orders)
        snapshot = self._write(self.scn.snapshot(), "snapshot")
        self.pipe = ReferencePipeline(self.ctx.spark, os.path.join(self.ctx.tmp, "sinks"))
        if self.ctx.tracer.enabled:
            for sink in self.pipe.sinks.values():
                sink.merge = self.ctx.traced(
                    "upsert_sink.merge", "streaming.upsert_sink", sink.merge)
        self._hand_off(self.pipe, snapshot)

    def warm_up(self) -> None:
        self._hand_off(self.pipe, self._write(self.scn.batch(50), "warmup"))

    def step(self) -> tuple[float, int, bool]:
        envelopes = self.scn.batch(self.batch_size)
        paths = self._write(envelopes, f"batch{self.n_batches}")
        self.n_batches += 1
        t0 = time.perf_counter()
        with self.ctx.tracer.span("cdc.batch", "bench", new_trace=True):
            self._hand_off(self.pipe, paths)
        latency = time.perf_counter() - t0
        n_events = sum(len(v) for v in envelopes.values())
        self.changed_keys += len(self.scn.changed)
        return latency, n_events, self.check()

    def check(self) -> bool:
        expected = expected_sinks(self.scn.state)
        ok = True
        for name, sink in self.pipe.sinks.items():
            table = pq.read_table(sink.path)
            # every merge rewrites the whole sink: its row count is the rows written
            self.sink_rows_written += table.num_rows
            if canonical_rows(table.to_pylist()) != expected[name]:
                self.log(f"sink {name} differs from the DuckDB reference")
                ok = False
        return ok

    def report(self, latencies: list[float], items: int) -> dict[str, tuple[float, str]]:
        return latency_metrics("cdc", "batch", "events", latencies, items)

    def layer_report(self, units: int) -> dict[str, tuple[float, str]]:
        return {
            "streaming.reference_pipeline.state_rows": (
                float(sum(len(v) for v in self.scn.state.values())), "rows"),
            "streaming.upsert_sink.rows_written_per_changed_key": (
                self.sink_rows_written / max(1, self.changed_keys), "ratio"),
        }

    def named_layers(self, layers, units: int) -> dict[str, tuple[float, str]]:
        fold = ["sources.cdc", "streaming.reference_pipeline"]
        merge = ["streaming.upsert_sink"]
        every = list(layers)
        out = {
            "cdc.fold_s_per_batch": (layer_sum(layers, fold, "self_s") / units, "s"),
            "cdc.sink_merge_s_per_batch": (layer_sum(layers, merge, "self_s") / units, "s"),
        }
        for part, names in (("fold", fold), ("merge", merge)):
            for k in ("jobs", "stages", "tasks"):
                out[f"cdc.{k}_per_batch.{part}"] = (layer_sum(layers, names, k) / units, "count")
        out["cdc.executor_run_s_per_batch"] = (
            layer_sum(layers, every, "executor_run_s") / units, "s")
        for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            out[f"cdc.{k}_per_batch"] = (layer_sum(layers, every, k) / units, "bytes")
        state, written = self.layer_report(units).values()
        out["cdc.state_rows"] = state
        out["cdc.sink_rows_written_per_changed_key"] = written
        return out
