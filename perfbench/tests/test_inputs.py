"""The generator's contract: one seed gives byte-identical inputs, two
seeds give different ones."""

from __future__ import annotations

import os

import numpy as np
import pytest

from inputs import SIZES, STOPWORDS, make_documents, write_inputs


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            with open(os.path.join(d, n), "rb") as f:
                out[os.path.relpath(os.path.join(d, n), root)] = f.read()
    return out


@pytest.mark.parametrize("workload", sorted(SIZES))
def test_one_seed_is_byte_identical_two_seeds_differ(workload, tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    write_inputs(workload, a, 11, SIZES[workload])
    write_inputs(workload, b, 11, SIZES[workload])
    write_inputs(workload, c, 12, SIZES[workload])
    fa, fb, fc = _files(a), _files(b), _files(c)
    assert fa and fa == fb
    assert fa.keys() == fc.keys()
    assert all(fa[k] != fc[k] for k in fa)


def test_near_duplicate_share_is_controlled():
    rng = np.random.default_rng(0)
    vocab = np.array(list(STOPWORDS) + [f"w{i}" for i in range(500)])
    docs = make_documents(rng, 2000, vocab, (30, 60), near_dup_share=0.25, junk_share=0.1)
    texts = docs["text"]
    seen, dups = [], 0
    for t in texts:
        words = t.split()
        # a near-duplicate differs from an earlier text in exactly one word
        if any(len(s) == len(words) and sum(x != y for x, y in zip(s, words)) <= 1 for s in seen):
            dups += 1
        seen.append(words)
    assert 0.2 < dups / len(texts) < 0.3
