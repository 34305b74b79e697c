"""What every workload shares: the run context, the workload interface and
the row normalization the correctness checks compare with."""

from __future__ import annotations

import datetime as dt
import decimal
import functools
import math
import statistics
import sys
from dataclasses import dataclass

import numpy as np

from tracing import Tracer, tail


@dataclass
class Context:
    spark: object
    tracer: Tracer
    seed: int
    tmp: str  # per-run scratch directory, deleted when the run ends
    small: bool = False  # shrink every input (the benchmark's smoke test)

    def traced(self, name: str, layer: str, fn):
        """``fn`` wrapped in a span of ``layer``."""

        @functools.wraps(fn)
        def call(*args, **kwargs):
            with self.tracer.span(name, layer):
                return fn(*args, **kwargs)

        return call


class Workload:
    """One benchmark workload. ``run.py`` calls :meth:`build_state` and
    :meth:`warm_up` during set-up, then :meth:`step` until the timed
    operations add up to the run's ``--seconds`` and :meth:`at_boundary`
    holds."""

    name = ""
    op_name = ""  # what one timed operation is: batch, query, fold

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def build_state(self) -> None:
        """Build the initial state the timed operations start from."""

    def warm_up(self) -> None:
        """Run the timed code path once on a small input."""

    def step(self) -> tuple[float, int, bool]:
        """One timed operation: (latency in s, items processed, outputs
        correct). The correctness check runs outside the latency."""
        raise NotImplementedError

    def at_boundary(self) -> bool:
        """Whether the timed loop may stop after the latest operation."""
        return True

    def finish(self) -> None:
        """Stop whatever the workload started."""

    def report(self, latencies: list[float], items: int) -> dict[str, tuple[float, str]]:
        """End-to-end metrics under the workload's own names:
        name → (value, unit)."""
        return {}

    def layer_units(self, n_ops: int) -> int:
        """What per-layer metrics are divided by (timed operations)."""
        return n_ops

    def layer_report(self, units: int) -> dict[str, tuple[float, str]]:
        """Values of the ``WORKLOAD_LAYER_METRICS`` this workload fills in."""
        return {}

    def named_layers(self, layers: dict[str, dict[str, float]],
                     units: int) -> dict[str, tuple[float, str]]:
        """Per-layer metrics under the workload's own names, from the
        timed region's per-layer sums."""
        return {}

    def log(self, msg: str) -> None:
        print(f"perfbench {self.name}: {msg}", file=sys.stderr, flush=True)


def latency_metrics(prefix: str, op: str, item_unit: str, latencies: list[float],
                    items: int) -> dict[str, tuple[float, str]]:
    """Throughput, median and tail of one kind of timed operation."""
    return {
        f"{prefix}.{item_unit}_per_s": (items / sum(latencies), f"{item_unit}/s"),
        f"{prefix}.{op}_latency_p50_s": (statistics.median(latencies), "s"),
        f"{prefix}.{op}_latency_tail_s": (tail(latencies)[1], "s"),
    }


def layer_sum(layers: dict[str, dict[str, float]], names: list[str], key: str) -> float:
    return sum(layers.get(n, {}).get(key, 0.0) for n in names)


def _cell(v):
    if isinstance(v, np.generic):
        v = v.item()
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if hasattr(v, "isoformat"):  # pandas Timestamp
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    return v


def _flatten(row: dict, prefix: str = "") -> dict:
    out = {}
    for k, v in row.items():
        if isinstance(v, dict):
            out.update(_flatten(v, f"{prefix}{k}."))
        else:
            out[f"{prefix}{k}"] = v
    return out


def canonical_rows(rows: list[dict]) -> list[tuple]:
    """Rows as sorted tuples of (column, value), struct columns flattened
    to dotted names and cells normalized so Spark, Arrow and DuckDB
    values of one result compare equal."""
    out = [tuple(sorted((k, _cell(v)) for k, v in _flatten(r).items())) for r in rows]
    out.sort(key=repr)
    return out
