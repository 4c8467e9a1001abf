"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench -q

The three end-to-end tests start Spark and take about a minute each; they
show that a wrong expected output makes the command exit non-zero, and that
a failed check of the ingest warm-up cycle counts as a failed op.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from perfbench import run, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_metric_lists_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_op_tail_leaves_ten_samples_or_reports_the_max():
    v, q, n = workloads.op_tail(list(range(100)))
    assert (n, q) == (100, 90.0) and sum(x > v for x in range(100)) >= 9
    v, q, n = workloads.op_tail([3.0, 1.0, 2.0])
    assert (v, q, n) == (3.0, 100.0, 3)


def test_schedule_reloads_every_table_once_per_round():
    for seed in range(5):
        cycles = workloads._schedule(seed, 0)
        assert len(cycles) == workloads.CYCLES_PER_ROUND
        assert sorted(t for c in cycles for t in c) == sorted(workloads.datagen.TABLES)


def test_same_rows_is_order_insensitive_and_tolerant():
    a = pd.DataFrame({"K": [1, 2, 3], "v": [0.1, 0.2, np.nan]})
    b = pd.DataFrame({"v": [np.nan, 0.2 * (1 + 1e-12), 0.1], "k": [3, 2, 1]})
    assert workloads._same_rows(a, b)
    b.loc[0, "k"] = 4
    assert not workloads._same_rows(a, b)


def _last_json(out: str) -> dict:
    return json.loads(out.strip().splitlines()[-1])


@pytest.fixture
def at_root(monkeypatch):
    monkeypatch.chdir(ROOT)


def test_wrong_query_result_fails_the_run(at_root, monkeypatch, capsys):
    real = workloads._in_subprocess

    def corrupt_expected(fn, *args):
        prep = real(fn, *args)
        if "expected" in prep:
            exp = prep["expected"]["topk_orders"]
            exp.iloc[0, exp.columns.get_loc(exp.columns[-1])] = -1
        return prep

    monkeypatch.setattr(workloads, "_in_subprocess", corrupt_expected)
    code = run.main(["--workload", "relational_x10", "--seed", "1", "--seconds", "1", "--trace", "0"])
    out = _last_json(capsys.readouterr().out)
    assert code != 0
    assert out["correct"] is False and out["failed"] >= 1


def test_wrong_ingest_source_count_fails_the_run(at_root, monkeypatch, capsys):
    real = workloads.prepare_ingest_inputs

    def corrupt_source(*args):
        prep = real(*args)
        prep["tables"]["nation"]["rows"] += 1
        return prep

    monkeypatch.setattr(workloads, "prepare_ingest_inputs", corrupt_source)
    code = run.main(["--workload", "ingest_cycles", "--seed", "1", "--seconds", "1", "--trace", "0"])
    out = _last_json(capsys.readouterr().out)
    assert code != 0
    assert out["correct"] is False and out["failed"] >= 1


def test_failed_cycle0_check_fails_the_first_measured_cycle(at_root, monkeypatch, capsys):
    real = workloads._check_cdf

    def cycle0_mismatch(run_, op_id, *args):
        n = real(run_, op_id, *args)
        if op_id == "cycle0":
            run_.errors.append("cycle cycle0: planted mismatch")
        return n

    monkeypatch.setattr(workloads, "_check_cdf", cycle0_mismatch)
    code = run.main(["--workload", "ingest_cycles", "--seed", "1", "--seconds", "1", "--trace", "0"])
    out = _last_json(capsys.readouterr().out)
    assert code != 0
    assert out["correct"] is False
    assert (out["attempted"], out["failed"]) == (workloads.CYCLES_PER_ROUND, 1)
