"""Corrupted outputs fail their operation, and failed operations feed
``failed`` and ``error_rate``."""

from __future__ import annotations

import numpy as np

import checks
from tracer import Tracer
from workloads import Ctx

GOOD_REPORT = {
    "input_docs": 100, "final_docs": 70, "packed_sequences": 3,
    "packed_tokens": 300, "shard_tokens": 300,
}


def _ctx() -> Ctx:
    return Ctx(None, Tracer("t", enabled=False), "", "", 0.0, lambda msg: None)


def test_pretrain_checks():
    assert checks.check_pretrain(GOOD_REPORT, [128, 128, 44], 128) == []
    lost = dict(GOOD_REPORT, shard_tokens=299)
    assert checks.check_pretrain(lost, [128, 128, 44], 128)
    assert checks.check_pretrain(GOOD_REPORT, [128, 100, 72], 128)  # two short


def test_query_checks_against_brute_force():
    rng = np.random.default_rng(1)
    ids = np.arange(200, dtype="int64")
    vecs = rng.normal(size=(200, 8))
    truth = dict(enumerate(checks.brute_force_top_k(ids, vecs, vecs[:4] + 1e-3, 10)))
    assert all(t[0] == q for q, t in truth.items())  # each query finds its source
    assert checks.check_query(truth, truth, 10) == []
    wrong = {q: [int(i) for i in ids[-10:]] for q in truth}
    assert checks.recall_at_k(wrong, truth, 10) < checks.RECALL_FLOOR
    assert checks.check_query(wrong, truth, 10)
    short = {q: t[:9] for q, t in truth.items()}
    assert checks.check_query(short, truth, 10)


def test_ingest_checks():
    assert checks.check_rerun(0) == [] and checks.check_rerun(3)
    assert checks.check_narrative(5, 5) == [] and checks.check_narrative(4, 5)
    assert checks.check_sink(["a", "b"], ["a", "b"]) == []
    assert checks.check_sink(["a", "b", "b"], ["a", "b"])  # written twice
    assert checks.check_sink(["a"], ["a", "b"])  # lost
    assert checks.check_count("stored", 10, 10) == [] and checks.check_count("stored", 9, 10)


def test_rag_checks():
    detail = {"x": {"n_matches": 2, "first_hit_rank": 3}, "none": {"n_matches": 0, "first_hit_rank": 9}}
    assert checks.check_rag(detail, {"x": 2, "none": 0}, 9) == []
    assert checks.check_rag(detail, {"x": 3, "none": 0}, 9)
    bad_sentinel = dict(detail, none={"n_matches": 0, "first_hit_rank": 1})
    assert checks.check_rag(bad_sentinel, {"x": 2, "none": 0}, 9)


def test_corrupted_output_counts_as_failure():
    ctx = _ctx()
    good = ctx.op("ok", lambda: 0)
    ctx.check(good, checks.check_rerun(good.result))
    corrupt = ctx.op("corrupt", lambda: 7)  # a re-run that redid work
    ctx.check(corrupt, checks.check_rerun(corrupt.result))
    ctx.op("raises", lambda: 1 / 0)
    assert good.ok and not corrupt.ok
    assert (ctx.attempted, ctx.failed) == (3, 2)
