"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload cdc_replay --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of this repository. Inputs are generated
from ``--seed``; the program sees only them. The session is sized from
the host (``SPARK_GRAFT_CPUS`` = usable cores, ``SPARK_GRAFT_DRIVER_MEM``
≈ 60% of ``MemTotal``) and every file a run writes — generated inputs,
sinks, checkpoints, ``SPARK_LOCAL_DIRS``, temp files — lives in a per-run
directory under ``.perfbench_tmp/`` that is deleted when the run ends.

Timed operations repeat until their latencies add up to ``--seconds``
and, for the battery, a pass is complete.
The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics listed in ``BENCHMARK.json``
with ``--trace 0``, its per-layer metrics with ``--trace 1``. The line
before it holds everything the run measured, also under the workload's
own metric names.
A traced run also writes its spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from tracing import COUNTERS, Tracer, geomean, tail  # noqa: E402

WORKLOADS = ("cdc_replay", "operator_battery")

#: Layers with per-layer counters, as named in the package.
LAYERS = (
    "sources.cdc",
    "streaming.reference_pipeline",
    "streaming.upsert_sink",
    "streaming.text_dedup",
    "ckpt",
    "operators.relational",
    "operators.windows",
    "operators.text",
    "operators.dedup",
    "operators.similarity",
    "operators.analytics",
    "operators.cep",
    "operators.multimodal",
)


#: Per-layer metrics that only some workloads fill in (0 elsewhere).
WORKLOAD_LAYER_METRICS = {
    "catalog.load_tables_s": "s",
    "battery.build_s": "s",
    "battery.execute_s": "s",
    "streaming.reference_pipeline.state_rows": "rows",
    "streaming.upsert_sink.rows_written_per_changed_key": "ratio",
    "streaming.text_dedup.state_rows": "rows",
    "streaming.text_dedup.state_rows_rewritten_per_input_doc": "ratio",
}


def host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def size_session(tmp: str) -> None:
    """Session sizing and scratch placement through the package's env
    overrides, set before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb = min(32 * 1024, int(host_memory_mb() * 0.6))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    # every JVM, the spark-submit launcher's too: temp files in the run
    # directory, no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}/tmp -XX:-UsePerfData"


# ---------------------------------------------------------------------------
# memory of the driver JVM and its Python workers


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakMemory:
    """Samples the proportional set size summed over this process's
    descendants (the JVM and the Python workers it forks)."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------


def make_workload(name: str, ctx):
    if name == "cdc_replay":
        from cdc_replay import CdcReplay

        return CdcReplay(ctx, **({"orders": 300, "batch_size": 100} if ctx.small else {}))
    from operator_battery import OperatorBattery

    return OperatorBattery(ctx)


def stop_jvm() -> None:
    """Stop the SparkContext and the JVM behind it, then wait for every
    process this run started to end."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def run(args) -> dict:
    # imported first so a checkout without the package fails before any work
    import flink_streaming_etl_spark  # noqa: F401

    from workload import Context

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(tmp)
    try:
        size_session(tmp)
        with PeakMemory() as mem:
            from flink_streaming_etl_spark.session import get_spark

            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{args.workload}")
            get_spark_s = time.perf_counter() - t0
            tracer = Tracer(spark, enabled=bool(args.trace))
            ctx = Context(spark, tracer, args.seed, tmp, small=args.small)
            wl = make_workload(args.workload, ctx)
            try:
                t0 = time.perf_counter()
                wl.build_state()
                state_s = time.perf_counter() - t0
                t0 = time.perf_counter()
                wl.warm_up()
                warmup_s = time.perf_counter() - t0
                latencies, items, failed = [], 0, 0
                tracer.phase = "timed"
                while not latencies or sum(latencies) < args.seconds or not wl.at_boundary():
                    latency, n, ok = wl.step()
                    latencies.append(latency)
                    items += n
                    failed += 0 if ok else 1
            finally:
                wl.finish()
        peak_mb = mem.peak_kb / 1024
        named = wl.report(latencies, items)
        if tracer.enabled:
            layers = tracer.by_layer(phase="timed")
            units = wl.layer_units(len(latencies))
            layer = per_layer(layers, units, get_spark_s, warmup_s, state_s)
            layer.update(wl.layer_report(units))
            named_layer = wl.named_layers(layers, units)
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                     f"spans-{args.workload}-seed{args.seed}.json"))
    finally:
        stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)

    p_tail, v_tail = tail(latencies)
    end_to_end = {
        "setup_s": (get_spark_s + state_s + warmup_s, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "op_p50_s": (statistics.median(latencies), "s"),
        "op_tail_s": (v_tail, "s"),
        "op_geomean_s": (geomean(latencies), "s"),
        "throughput_per_s": (items / sum(latencies), "1/s"),
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "ops": len(latencies),
        "op": wl.op_name,
        "tail_percentile": p_tail,
        "end_to_end": _with_units(end_to_end),
        "named": _with_units(named),
    }
    if tracer.enabled:
        report["per_layer"] = _with_units(layer)
        report["named_per_layer"] = _with_units(named_layer)
    print(json.dumps(report), flush=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer" if tracer.enabled else "end_to_end"]
    measured = report["per_layer"] if tracer.enabled else report["end_to_end"]
    return {
        "correct": failed == 0,
        "attempted": len(latencies),
        "failed": failed,
        "metrics": {m["name"]: measured[m["name"]] for m in listed},
    }


def _with_units(metrics: dict[str, tuple[float, str]]) -> dict[str, dict]:
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


UNITS = {"self_s": "s", "executor_run_s": "s", "jobs": "count", "stages": "count",
         "tasks": "count", "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
         "spill_bytes": "bytes"}


def per_layer(layers: dict[str, dict[str, float]], units: int, get_spark_s: float,
              warmup_s: float, state_s: float) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of the timed region, divided by ``units`` (CDC
    batches, battery passes). Spans opened during set-up are left out."""
    out: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (get_spark_s, "s"),
        "setup.warmup_s": (warmup_s, "s"),
        "setup.state_s": (state_s, "s"),
    }
    for k in COUNTERS:
        out[f"op.{k}"] = (sum(agg[k] for agg in layers.values()) / units, UNITS[k])
    for layer in LAYERS:
        agg = layers.get(layer, dict.fromkeys(UNITS, 0.0))
        for k, unit in UNITS.items():
            out[f"{layer}.{k}"] = (agg[k] / units, unit)
    out.update({k: (0.0, u) for k, u in WORKLOAD_LAYER_METRICS.items()})
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="shrink every input (smoke test of the benchmark itself)")
    args = ap.parse_args(argv)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
