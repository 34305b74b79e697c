"""``operator_battery``: the package's operator tiers apart from the CDC
pipeline — a pinned list of registry queries, read-only over seeded
tables, plus folds of the streaming text dedup accumulator
(:mod:`dedup_stream`).

Set-up generates the ten registry tables from the seed, writes them as
parquet, loads them through ``catalog.load_tables`` and builds the dedup
stage's seed state; the warm-up runs every query once, collecting its
result, and one small fold. A pass is every query once, then
:data:`FOLDS_PER_PASS` dedup folds; the timed loop runs whole passes.
Each query is built through ``api.queries()[name]`` and materialized
with a ``noop`` write; operator memos, the session cache and Python
garbage are cleared before each one, so no query rides a cache an
earlier one built. Outside the timed region, each query's collected
result is compared with its ``api.oracle_sql()`` entry run by DuckDB over
the same parquet files (a query without an oracle must be non-empty).
"""

from __future__ import annotations

import gc
import os
import statistics
import time
import traceback

import duckdb

from dedup_stream import DedupStream
from gen import make_tables, write_tables
from tracing import geomean
from workload import Workload, canonical_rows, latency_metrics

#: query → operator module: one query per operator module. The text
#: entry is one of the LM scorers (one LM substrate is planned for that
#: family) and the CEP entry is the chain-closure matcher that runs ~40
#: Spark jobs (a single-pass rewrite is planned).
QUERIES = {
    "heldout_perplexity_report": "text",
    "cep_relaxed_matches": "cep",
    "pricing_summary": "relational",
    "session_windows": "windows",
    "minhash_signatures": "dedup",
    "knn_graph": "similarity",
    "cohort_retention": "analytics",
    "media_dedup": "multimodal",
}

FOLD = "dedup_stream.fold"
FOLDS_PER_PASS = 2


class OperatorBattery(Workload):
    name = "operator_battery"
    op_name = "query or fold"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.queries = dict(QUERIES)
        self.order = list(self.queries) + [FOLD] * FOLDS_PER_PASS
        self.dedup = DedupStream(ctx, **({"seed_docs": 200, "batch_size": 50} if ctx.small else {}))
        self.n_done = 0
        self.results: dict[str, object] = {}  # collected during warm-up
        self.verdict: dict[str, bool] = {}
        self.latencies: dict[str, list[float]] = {}
        self.docs = 0
        self.load_tables_s = 0.0

    def build_state(self) -> None:
        from flink_streaming_etl_spark import api
        from flink_streaming_etl_spark.catalog import load_tables

        self.sf_dir = os.path.join(self.ctx.tmp, "tables")
        write_tables(make_tables(self.ctx.seed, 0.3 if self.ctx.small else 1.0), self.sf_dir)
        t0 = time.perf_counter()
        with self.ctx.tracer.span("catalog.load_tables", "catalog"):
            load_tables(self.ctx.spark, self.sf_dir, register=False)
        self.load_tables_s = time.perf_counter() - t0
        self.fns = api.queries()
        self.oracles = api.oracle_sql()
        self.dedup.build_state()

    def _isolate(self) -> None:
        from flink_streaming_etl_spark.operators._cache import clear_operator_caches

        clear_operator_caches()
        self.ctx.spark.catalog.clearCache()
        gc.collect()

    def warm_up(self) -> None:
        """Every query once, collecting its result for the check, and one
        small dedup fold."""
        for name in self.queries:
            self._isolate()
            try:
                self.results[name] = self.fns[name](self.ctx.spark, self.sf_dir).toPandas()
            except Exception:
                self.log(f"{name} failed in warm-up:\n{traceback.format_exc()}")
                self.results[name] = None
        self.dedup.warm_up()

    def check(self, name: str) -> bool:
        result = self.results.pop(name)
        if result is None:
            return False
        sql = self.oracles.get(name)
        if sql is None:
            return len(result) > 0
        con = duckdb.connect()
        try:
            for f in os.listdir(self.sf_dir):
                con.sql(f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                        f"SELECT * FROM '{os.path.join(self.sf_dir, f)}'")
            expected = con.sql(sql).df()
        finally:
            con.close()
        if sorted(result.columns) != sorted(expected.columns) or len(result) != len(expected):
            self.log(f"{name}: shape differs from the oracle")
            return False
        if canonical_rows(result.to_dict("records")) != canonical_rows(expected.to_dict("records")):
            self.log(f"{name}: values differ from the oracle")
            return False
        return True

    def _query(self, name: str) -> tuple[float, bool]:
        layer = f"operators.{self.queries[name]}"
        tr = self.ctx.tracer
        self._isolate()
        ok = True
        t0 = time.perf_counter()
        try:
            with tr.span(name, layer, new_trace=True):
                with tr.span("battery.build", layer):
                    df = self.fns[name](self.ctx.spark, self.sf_dir)
                with tr.span("battery.execute", layer):
                    df.write.format("noop").mode("overwrite").save()
        except Exception:
            self.log(f"{name} failed:\n{traceback.format_exc()}")
            ok = False
        latency = time.perf_counter() - t0
        if name not in self.verdict:
            self.verdict[name] = self.check(name)
        return latency, ok and self.verdict[name]

    def step(self) -> tuple[float, int, bool]:
        name = self.order[self.n_done % len(self.order)]
        self.n_done += 1
        if name == FOLD:
            latency, docs, ok = self.dedup.step()
            self.docs += docs
        else:
            latency, ok = self._query(name)
        self.latencies.setdefault(name, []).append(latency)
        return latency, 1, ok

    def at_boundary(self) -> bool:
        return self.n_done % len(self.order) == 0

    def finish(self) -> None:
        self.dedup.finish()

    def report(self, latencies: list[float], items: int) -> dict[str, tuple[float, str]]:
        passes = self.n_done // len(self.order)
        queries = {n: v for n, v in self.latencies.items() if n != FOLD}
        out = {
            "battery.wall_s": (sum(sum(v) for v in queries.values()) / passes, "s"),
            "battery.geomean_query_s": (
                geomean([statistics.median(v) for v in queries.values()]), "s"),
        }
        for name, v in queries.items():
            out[f"battery.query.{name}_s"] = (statistics.median(v), "s")
        out.update(latency_metrics("dedup", "fold", "docs", self.latencies[FOLD], self.docs))
        return out

    def layer_units(self, n_ops: int) -> int:
        return n_ops // len(self.order)

    def layer_report(self, units: int) -> dict[str, tuple[float, str]]:
        spent = self.ctx.tracer.by_name(phase="timed")
        return {
            "catalog.load_tables_s": (self.load_tables_s, "s"),
            "battery.build_s": (spent.get("battery.build", 0.0) / units, "s"),
            "battery.execute_s": (spent.get("battery.execute", 0.0) / units, "s"),
            **self.dedup.layer_report(units),
        }

    def named_layers(self, layers, units: int) -> dict[str, tuple[float, str]]:
        out = {}
        for module in sorted(set(self.queries.values())):
            agg = layers.get(f"operators.{module}", {})
            out[f"battery.{module}.wall_s"] = (agg.get("self_s", 0.0) / units, "s")
            for k in ("jobs", "stages"):
                out[f"battery.{module}.{k}"] = (agg.get(k, 0.0) / units, "count")
            out[f"battery.{module}.executor_run_s"] = (
                agg.get("executor_run_s", 0.0) / units, "s")
            out[f"battery.{module}.shuffle_bytes"] = (
                (agg.get("shuffle_read_bytes", 0.0) + agg.get("shuffle_write_bytes", 0.0))
                / units, "bytes")
        for k, v in self.layer_report(units).items():
            if k.startswith(("battery.", "catalog.")):
                out[k] = v
        out.update(self.dedup.named_layers(layers, units * FOLDS_PER_PASS))
        return out
