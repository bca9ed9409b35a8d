"""Checks of the benchmark's own inputs and declarations (no Spark needed):

    python3 -m pytest perfbench/test_datagen.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads  # noqa: E402


def _read(d, name):
    return pq.read_table(os.path.join(d, f"{name}.parquet"))


def test_same_seed_same_inputs(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    datagen.generate(str(a), 5, 0.001)
    datagen.generate(str(b), 5, 0.001)
    datagen.generate(str(c), 6, 0.001)
    for name in datagen.TABLES:
        assert _read(a, name).equals(_read(b, name)), name
    assert not _read(a, "lineitem").equals(_read(c, "lineitem"))


def test_benchmark_json_declares_what_run_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == workloads.PER_LAYER
    assert [m["name"] for m in bench["end_to_end"]] == list(workloads.END_TO_END)


def test_repl_model_follows_the_reference_contract():
    m = workloads.UsersModel()
    assert m.expect("insert 1 a a@x") == ["Executed."]
    assert m.expect("insert -1 a a@x") == ["ID must be positive."]
    assert m.expect(f"insert 2 {'u' * 33} a@x") == ["String is too long."]
    assert m.expect("update 1 a a@x") == ["Unrecognized keyword at start of 'update 1 a a@x'"]
    assert m.expect("select") == ["(1, a, a@x)", "Executed."]
    assert m.expect(".btree") == ["Tree:", "leaf (size 1)", "  - 0 : 1"]
