"""Tests of the benchmark itself (not of the package it measures).

    python -m pytest perfbench/tests -q

The smoke test runs every workload end to end on shrunken inputs, one
JVM each, so it takes a couple of minutes.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from gen import CdcScenario, DedupScenario, first_owner_decisions, make_tables  # noqa: E402
from run import WORKLOADS  # noqa: E402
from tracing import geomean, percentile, self_time, tail  # noqa: E402


def _cdc_inputs(seed: int):
    scn = CdcScenario(seed, orders=200)
    return scn.snapshot(), scn.batch(300), scn.batch(300), scn.state


def test_tables_are_deterministic_per_seed():
    a, b, c = make_tables(3, 0.2), make_tables(3, 0.2), make_tables(4, 0.2)
    assert a.keys() == b.keys() == c.keys()
    assert all(a[t].equals(b[t]) for t in a)
    assert not all(a[t].equals(c[t]) for t in a)


def test_changelog_is_deterministic_per_seed():
    assert _cdc_inputs(5) == _cdc_inputs(5)
    assert _cdc_inputs(5) != _cdc_inputs(6)


def test_dedup_corpus_is_deterministic_per_seed():
    def corpus(seed):
        scn = DedupScenario(seed)
        return [scn.batch(100) for _ in range(3)]

    assert corpus(5) == corpus(5)
    assert corpus(5) != corpus(6)


def test_changelog_exercises_every_op_and_retraction_both_ways():
    scn = CdcScenario(9, orders=300)
    scn.snapshot()
    ops, flips = set(), set()
    for _ in range(5):
        for table, lines in scn.batch(200).items():
            for line in lines:
                env = json.loads(line)
                ops.add((table, env["op"]))
                if table == "orders" and env["op"] == "u":
                    flips.add((env["before"]["status"] == "closed",
                               env["after"]["status"] == "closed"))
    assert {("orders", op) for op in "cud"} <= ops
    assert ("order_items", "u") in ops and ("users", "u") in ops
    assert (True, False) in flips and (False, True) in flips


def test_expected_state_tracks_the_changelog():
    """Replaying the emitted envelopes in order yields the generator's
    expected latest state."""
    scn = CdcScenario(2, orders=100)
    replay: dict[str, dict] = {t: {} for t in scn.TABLES}
    for envelopes in (scn.snapshot(), scn.batch(150), scn.batch(150)):
        for table, lines in envelopes.items():
            for line in lines:
                env = json.loads(line)
                if env["op"] == "d":
                    del replay[table][env["before"]["id"]]
                else:
                    replay[table][env["after"]["id"]] = env["after"]
    assert replay == scn.state


def test_first_owner_rule():
    p = "a b c d e f g h"
    batches = [
        [(0, p + " x"), (1, "z " * 8)],
        [(3, p + " y"), (2, "q r s t u v w x 1"), (4, "q r s t u v w x 2")],
    ]
    assert first_owner_decisions(batches) == {0: True, 1: True, 3: False, 2: True, 4: False}


def test_tail_takes_highest_percentile_with_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]
    p, v = tail(values)
    assert p == 90.0  # p95 leaves only 5 samples beyond it
    assert sum(x > v for x in values) >= 10
    assert tail([float(i) for i in range(1, 21)])[0] == 50.0


def test_tail_falls_back_to_median_with_few_samples():
    assert tail([3.0, 1.0, 2.0]) == (50.0, 2.0)
    assert tail([5.0]) == (50.0, 5.0)


def test_percentile_matches_linear_interpolation():
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert percentile([1.0, 2.0, 3.0, 4.0], 100) == 4.0
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)


def test_self_time_subtracts_union_of_children():
    assert self_time(0.0, 10.0, []) == 10.0
    assert self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == pytest.approx(7.0)
    # overlapping and out-of-range children are counted once, clipped
    assert self_time(0.0, 10.0, [(1.0, 4.0), (2.0, 5.0), (9.0, 12.0)]) == pytest.approx(5.0)


def test_benchmark_json_matches_the_run_entry_point():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert 1 <= len(bench["per_layer"]) <= 128 and 1 <= len(bench["end_to_end"]) <= 16
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_is_correct(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "1", "--small"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        per_layer = {m["name"] for m in json.load(f)["per_layer"]}
    assert set(result["metrics"]) == per_layer
