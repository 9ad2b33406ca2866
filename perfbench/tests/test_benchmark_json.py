"""BENCHMARK.json names exactly the metrics the runs print."""

from __future__ import annotations

import json
import os

import run
from tracer import Tracer
from workloads import WORKLOADS

SPEC = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def test_spec_matches_the_printed_metrics():
    with open(SPEC) as f:
        spec = json.load(f)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: unit for k, (unit, _) in run.END_TO_END.items()
    }
    tr = Tracer("t", enabled=True)
    with tr.span("session.get_spark"):
        pass
    printed = run.per_layer(tr, {})
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: unit for k, (_, unit) in printed.items()
    }
