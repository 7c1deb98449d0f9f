"""BENCHMARK.json names exactly the workloads and metrics run.py reports."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    DOC = json.load(f)


def test_workloads_match_the_cli():
    names = [w["name"] for w in DOC["workloads"]]
    assert names == list(run.WORKLOAD_NAMES)


def test_end_to_end_metrics_match():
    assert {m["name"]: m["unit"] for m in DOC["end_to_end"]} == run.END_TO_END
    assert all(0 < m["bound"] <= 0.25 for m in DOC["end_to_end"])


def test_per_layer_metrics_match():
    assert {m["name"]: (m["unit"], m["better"]) for m in DOC["per_layer"]} == run.per_layer()
    assert len(DOC["per_layer"]) <= 128
