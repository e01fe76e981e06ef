"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest chbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import (  # noqa: E402
    WORKLOADS, Ingest, Point, compare_rows, stream,
)

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"),
          encoding="utf-8") as _fh:
    SPEC = json.load(_fh)


def _take(name: str, seed: int, n: int = 3) -> list[tuple[str, str]]:
    it = stream(WORKLOADS[name]("unused"), seed)
    return [(s.template, s.sql) for _ in range(n) for s in next(it)]


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_gives_byte_identical_stream(name):
    a = json.dumps(_take(name, 7)).encode()
    assert a == json.dumps(_take(name, 7)).encode()
    assert a != json.dumps(_take(name, 8)).encode()


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_every_cycle_runs_each_template_once(name):
    wl = WORKLOADS[name]("unused")
    for cycle in [next(stream(wl, s)) for s in range(5)]:
        assert set(wl.templates) == {s.template for s in cycle}


def test_benchmark_json_lists_the_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert all(WORKLOADS[w]("").why for w in WORKLOADS)


def _finished_runner(name: str):
    """A runner holding one measured cycle of results, as after a run."""
    wl = WORKLOADS[name]("unused")
    runner = run.Runner(_FakeSpark(), None, wl, {}, "")
    for i, s in enumerate(next(stream(wl, 1))):
        r = run.Result(s, latency=0.1 + i / 100, execute_s=0.05)
        runner.measured.append(r)
        runner.plain.append(r)
    runner.cycles.append(sum(r.latency for r in runner.measured))
    return runner


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_printed_metric_names_match_benchmark_json(name):
    runner = _finished_runner(name)
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    layers = {m["name"] for m in SPEC["per_layer"]}
    assert set(run.end_to_end(runner, 1.0)) == e2e
    assert set(run.per_layer(runner, {}, _FakeSpark())) == layers
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert units == run.END_TO_END


class _FakeDF:
    def __init__(self, rows):
        self._rows = rows

    def collect(self):
        return self._rows


class _FakeSession:
    """Answers system.tables the way the program does for the point
    workload's tables."""

    def execute(self, sql):
        assert "system.tables" in sql
        rows = [(t, "External") for t in Point.tables]
        return _FakeDF(sorted(rows + [("kv", "ReplacingMergeTree")]))


class _FakeClient:
    def send_command(self, command):
        return command


class _FakeJsc:
    def sc(self):
        return self

    def listenerBus(self):
        return self

    def waitUntilEmpty(self):
        pass


class _FakeSpark:
    class sparkContext:
        _jsc = _FakeJsc()

        class _gateway:
            _gateway_client = _FakeClient()


def _system_tables_cycle():
    cycle = next(stream(Point("unused"), 1))
    return [s for s in cycle if s.template == "system_tables"]


def test_right_expectation_passes():
    runner = run.Runner(_FakeSpark(), _FakeSession(), Point("unused"), {}, "")
    runner.measure_cycle(_system_tables_cycle())
    assert (runner.attempted, runner.failed) == (1, 0)


def test_wrong_expectation_is_reported_as_failure():
    wl = Point("unused")
    wl.tables = wl.tables + ("lineitem",)      # deliberately wrong model
    runner = run.Runner(_FakeSpark(), _FakeSession(), wl, {}, "")
    runner.measure_cycle(_system_tables_cycle())
    assert (runner.attempted, runner.failed) == (1, 1)
    assert runner.problems == ["system_tables: 5 rows, expected 6"]


def test_compare_rows_tolerates_float_noise_only():
    assert compare_rows([(1, 0.1 + 0.2)], [(1, 0.3)]) is None
    assert compare_rows([(1, 0.3)], [(1, 0.31)]) is not None
    assert compare_rows([(1, "a")], [(1, "b")]) is not None


def test_last_version_wins_model():
    wl = Ingest("unused")
    wl.model.apply([(1, 10, 1, "a"), (1, 20, 3, "b"), (1, 30, 2, "c"),
                    (2, 5, 4, "d")])
    assert wl.model.live == {1: (20, 3, "b"), 2: (5, 4, "d")}
    final = next(s for s in wl.cycle(random.Random(1))
                 if s.template == "final_agg")
    assert wl.check(final, [(2, 25, 4)]) is None
    assert wl.check(final, [(3, 55, 4)]) is not None
