"""Tracer arithmetic, and the structural counters' repeatability: jobs,
tasks and shuffle bytes are exact across two traced runs of one seed."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from tracer import Span, Tracer, _covered

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_covered_is_the_union_clipped_to_the_span():
    assert _covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert _covered([(0, 2), (1, 3)], 1.5, 2.5) == pytest.approx(1)
    assert _covered([], 0, 1) == 0


def test_driver_gap_and_nesting_without_spark():
    tr = Tracer("r", enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == 0 and outer.parent is None
    assert [sp.name for sp in tr.roots()] == ["outer"]
    sp = Span("s", "r", None, start=10.0, end=20.0, stages=[(11.0, 14.0), (13.0, 15.0)])
    assert sp.driver_gap_s == pytest.approx(6.0)
    lines = []
    tr.dump(lines.append)
    assert [json.loads(x[len("span "):])["name"] for x in lines] == ["outer", "inner"]


def _traced_counters(seed: int) -> dict:
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "pretrain_corpus",
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600,
    )
    assert res.returncode == 0, res.stdout[-2000:]
    metrics = json.loads(res.stdout.splitlines()[-1])["metrics"]
    return {
        k: v["value"] for k, v in metrics.items()
        if k.rsplit(".", 1)[-1] in ("jobs", "tasks", "shuffle_write_mb")
    }


def test_structural_counters_repeat_exactly_on_one_seed():
    first, second = _traced_counters(5), _traced_counters(5)
    assert first["timed_phase.jobs"] > 0 and first["timed_phase.shuffle_write_mb"] > 0
    assert first == second
