"""BENCHMARK.json and the runner agree, and every name is well formed."""

from __future__ import annotations

import json
import os
import re

import pandas as pd

from perfbench import run, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_names_are_well_formed_and_unique():
    b = _bench()
    names = [w["name"] for w in b["workloads"]] + [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert all(NAME.fullmatch(n) for n in names), [n for n in names if not NAME.fullmatch(n)]
    assert len(names) == len(set(names))
    units = [m["unit"] for m in b["end_to_end"] + b["per_layer"]]
    assert all(UNIT.fullmatch(u) for u in units)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in b["workloads"])


def test_runner_reports_what_the_contract_lists():
    b = _bench()
    assert {w["name"] for w in b["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    e2e = {m["name"]: m for m in b["end_to_end"]}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 and m["better"] == "lower" for m in b["end_to_end"])


def test_results_compare_in_any_row_order():
    a = pd.DataFrame({"k": [1, 2], "v": [0.1 + 0.2, 1.5]})
    b = pd.DataFrame({"v": [1.5, 0.3], "k": [2, 1]})
    assert workloads.diff_results(a, b) == ""
    assert workloads.diff_results(a, b.assign(v=[1.5, 0.31])) != ""
    assert workloads.diff_results(a, b.iloc[:1]) != ""
