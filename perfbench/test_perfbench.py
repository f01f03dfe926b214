"""Tests of the benchmark itself: metric names, seeded inputs, the oracle
gate, and the command's interface (JSON last line, refusal outside a
checkout).

    python3 -m pytest perfbench -q

The two command tests start Spark and take about half a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pytest

from perfbench import run, workloads
from perfbench.probe import OpRecord

ROOT = run.ROOT


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _fake_records() -> list[OpRecord]:
    recs = []
    for i, key in enumerate(["q1_pricing_summary", "q4_cte_subquery", "insert"]):
        r = OpRecord(i, "write" if key == "insert" else "read", key,
                     wall_ms=10.0 + i, traced=True, cache_hit=i == 1 or None)
        r.span_ms = {"frontend.rewrite": 1.0, "session.build": 4.0,
                     "exec.fetch": 4.0, "catalyst.analysis": 1.0}
        recs.append(r)
    return recs


def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    recs = _fake_records()
    assert list(run.end_to_end(recs, 1.0, [])) == [n for n, _ in run.END_TO_END]
    layer = run.per_layer(recs, recs, {})
    assert sorted(layer) == sorted(n for n, _ in run.PER_LAYER)


def test_hd_quantile():
    assert run.hd_quantile([4.0] * 9, 0.5) == pytest.approx(4.0)
    assert run.hd_quantile([1.0, 3.0], 0.5) == pytest.approx(2.0)
    xs = [float(x * x) for x in range(43)]
    p50, p90 = run.hd_quantile(xs, 0.5), run.hd_quantile(xs, 0.9)
    assert 400 < p50 < p90 < max(xs)  # sample median 441, p90 ~1406


def test_seed_fixes_warehouse_stream_and_nsql_order():
    a = workloads.warehouse_passes(7, 6, 15000, 1500)
    assert a == workloads.warehouse_passes(7, 6, 15000, 1500)
    assert a != workloads.warehouse_passes(8, 6, 15000, 1500)
    names = [c.name for c in workloads.read_only_cases()]
    assert len(names) == len(set(names)) >= 40
    o = workloads.nsql_order(7, 1, names)
    assert o == workloads.nsql_order(7, 1, names)
    assert o != workloads.nsql_order(8, 1, names)
    assert sorted(o) == sorted(names)


def test_warehouse_pass_mix_is_fixed():
    """Seeds reorder a pass; every pass runs the same statement mix."""
    for seed in (1, 2):
        passes = workloads.warehouse_passes(seed, 4, 15000, 1500)
        assert passes[:2] == workloads.warehouse_passes(seed, 2, 15000, 1500)
        for ops in passes:
            kinds = sorted(op.key for op in ops)
            assert kinds == sorted(
                list(workloads.WRITE_KINDS) + ["checkpoint"]
                + sorted(workloads.DASHBOARD) * workloads.READS_PER_ROUND
            )
            # every round's reads repeat exactly one text: one plan-cache
            # hit per round, whatever the seed
            rounds: list[list[str]] = []
            for op in ops:
                if op.kind == "write":
                    rounds.append([])
                elif op.kind == "read":
                    rounds[-1].append(op.key)
            assert [len(r) - len(set(r)) for r in rounds] == [1] * len(rounds)


class _FakeDf:
    schema = None


def test_oracle_gate_flags_a_perturbed_result():
    """A fixture case's result passes the gate as DuckDB returns it and
    fails once one cell is changed."""
    wl = workloads.NsqlFixture(seed=1)
    wl.oracle_setup()
    from harness.fixtures import DATABASES

    for name in ("join_group_avg", "pivot_on_type"):
        case = wl.cases[name]
        ddb = duckdb.connect()
        for s in DATABASES[case.db_id]:
            ddb.execute(s)
        pdf = ddb.execute(case.query).df()
        op = workloads.Op("read", name, case.query)
        assert wl.check(op, None, _FakeDf(), pdf)
        col = pdf.columns[-1]
        pdf.loc[0, col] = pdf.loc[0, col] + 1
        assert not wl.check(op, None, _FakeDf(), pdf)


def _run(cwd, *args, timeout=170):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
def test_command_prints_every_metric(trace):
    spec = _spec()
    p = _run(ROOT, "--workload", "warehouse_rw", "--seed", "5",
             "--seconds", "1", "--trace", trace)
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    want = spec["per_layer" if trace == "1" else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    if trace == "1":
        path = os.path.join(run.WORK, "traces", "warehouse_rw-seed5.json")
        with open(path) as f:
            spans = json.load(f)["spans"]
        names = {s["name"] for s in spans}
        assert {"op", "session.build", "exec.fetch", "frontend.rewrite"} <= names


def test_command_refuses_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = _run(tmp_path, "--workload", "nsql_fixture", "--seed", "1",
             "--seconds", "1", "--trace", "0", timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
