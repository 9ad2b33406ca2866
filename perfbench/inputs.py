"""Seeded input generator for the pipeline benchmark.

Every file the engine reads during a benchmark run is written here, from
one ``numpy`` generator seeded by ``--seed``: the same seed writes
byte-identical files, another seed writes different ones. The engine
never sees the seed, only the files.

    python3 perfbench/inputs.py --workload rag_serve --seed 7 --out /tmp/x

Shapes (sizes per workload are in ``SIZES`` below):

 - ``docs.parquet`` (doc_id, lang, text): letter-based words drawn from a
   Zipf law over a seeded vocabulary whose head is the engine's
   stopwords; a controlled share of near-duplicates (an earlier
   original with one word replaced), a few short punctuation-heavy
   documents the quality filter drops, mixed language tags.
 - ``vectors.parquet`` (vec_id, embedding): a Gaussian mixture in
   ``dim`` dimensions, many tight components.
 - ``queries.parquet`` (request_id, query_id, source_id, query_emb):
   each request is ``per_request`` stored vectors with small noise.
 - ``vec_delta_NNN.parquet``: vectors ``add``-ed in ingest cycle NNN.
 - ``rag_docs.parquet`` / ``rag_terms.parquet``: the RAG-evaluation
   corpus and its query terms (with the word-boundary match pattern).
 - ``deltas/delta_NNN.jsonl``: genome-like JSON records, one per line,
   with blank lines mixed in (the reader drops them).
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the engine's quality heuristic counts these (functions/textfn.STOPWORDS);
# they head the Zipf vocabulary so ordinary documents pass the filter
STOPWORDS = ("the", "of", "and", "to", "in", "a")
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
LANGS = ("en", "de", "fr", "es", "zh")
LANG_WEIGHTS = (0.5, 0.2, 0.15, 0.1, 0.05)
DOMAINS = ("pathway", "subsystem", "ppi", "regulon", "operon")


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    words = {w for w in STOPWORDS}
    out = list(STOPWORDS)
    while len(out) < size:
        w = "".join(rng.choice(LETTERS, size=int(rng.integers(2, 10))))
        if w not in words:
            words.add(w)
            out.append(w)
    return np.array(out)


def _zipf_probs(n: int, exponent: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** exponent
    return p / p.sum()


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def make_documents(
    rng: np.random.Generator,
    n_docs: int,
    vocab: np.ndarray,
    words: tuple[int, int],
    near_dup_share: float = 0.0,
    junk_share: float = 0.0,
) -> dict:
    """Documents as column lists; ``near_dup_share`` of them copy an
    earlier original with one word replaced, ``junk_share`` are short
    punctuation-heavy lines."""
    vocab_size = len(vocab)
    probs = _zipf_probs(vocab_size)
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        draw = rng.random()
        if originals and draw < near_dup_share:
            src = texts[originals[int(rng.integers(0, len(originals)))]].split()
            src[int(rng.integers(0, len(src)))] = vocab[int(rng.integers(0, vocab_size))]
            texts.append(" ".join(src))
        elif draw < near_dup_share + junk_share:
            n = int(rng.integers(3, 8))
            texts.append(" ".join(w + "!?" for w in rng.choice(vocab[6:], size=n)))
        else:
            n = int(rng.integers(words[0], words[1]))
            texts.append(" ".join(vocab[rng.choice(vocab_size, size=n, p=probs)]))
            originals.append(i)
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_WEIGHTS)
    return {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "lang": [LANGS[int(k)] for k in langs],
        "text": texts,
    }


def _embedding_table(ids: np.ndarray, x: np.ndarray) -> pa.Table:
    flat = pa.array(x.astype("float32").reshape(-1))
    emb = pa.FixedSizeListArray.from_arrays(flat, x.shape[1]).cast(
        pa.list_(pa.float32())
    )
    return pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb})


class Mixture:
    """A Gaussian mixture of ``k`` components: centres drawn from a
    standard normal, each point its centre plus ``noise``-scaled normal
    noise. Many tight components give every stored vector a well-defined
    neighbourhood, so recall against brute force measures the index, not
    ties between near-equidistant points."""

    def __init__(self, rng: np.random.Generator, k: int, dim: int, noise: float):
        self.rng, self.noise = rng, noise
        self.centres = rng.normal(size=(k, dim))

    def sample(self, n: int, balanced: bool = False) -> np.ndarray:
        k = len(self.centres)
        if balanced:  # every component gets n // k or n // k + 1 points
            comp = self.rng.permutation(np.arange(n) % k)
        else:
            comp = self.rng.integers(0, k, size=n)
        noise = self.rng.normal(size=(n, self.centres.shape[1])) * self.noise
        return (self.centres[comp] + noise).astype("float32")


def write_pretrain_inputs(out: str, seed: int, sizes: dict) -> None:
    rng = np.random.default_rng(seed)
    docs = make_documents(
        rng,
        sizes["docs"],
        _vocabulary(rng, sizes["vocab"]),
        sizes["words"],
        sizes["near_dup_share"],
        sizes["junk_share"],
    )
    _write_parquet(pa.table(docs), os.path.join(out, "docs.parquet"))


def _jsonl_delta(rng: np.random.Generator, cycle: int, n: int, blank_share: float) -> str:
    lines = []
    for i in range(n):
        rec = {
            "genome_id": f"{cycle}.{i}",
            "genome_name": "".join(rng.choice(LETTERS, size=12)),
            "domain": DOMAINS[int(rng.integers(0, len(DOMAINS)))],
            "n_features": int(rng.integers(100, 9000)),
        }
        lines.append(json.dumps(rec, sort_keys=True))
        if rng.random() < blank_share:
            lines.append("")
    return "\n".join(lines) + "\n"


def _write_vectors(rng: np.random.Generator, out: str, sizes: dict) -> np.ndarray:
    """Stored vectors, then the query requests drawn from them."""
    dim = sizes["dim"]
    mix = Mixture(rng, sizes["vectors"] // sizes["per_component"], dim, sizes["noise"])
    base = mix.sample(sizes["vectors"], balanced=True)
    _write_parquet(
        _embedding_table(np.arange(len(base), dtype="int64"), base),
        os.path.join(out, "vectors.parquet"),
    )
    n_req, per = sizes["requests"], sizes["per_request"]
    src = rng.integers(0, len(base), size=n_req * per)
    q = base[src] + sizes["query_noise"] * rng.normal(size=(len(src), dim))
    _write_parquet(
        pa.table(
            {
                "request_id": pa.array(np.repeat(np.arange(n_req), per), pa.int32()),
                "query_id": pa.array(np.arange(len(src)), pa.int64()),
                "source_id": pa.array(src, pa.int64()),
                "query_emb": pa.array(list(q.astype("float64")), pa.list_(pa.float64())),
            }
        ),
        os.path.join(out, "queries.parquet"),
    )
    return mix


def write_rag_inputs(out: str, seed: int, sizes: dict) -> None:
    rng = np.random.default_rng(seed)
    mix = _write_vectors(rng, out, sizes)
    vocab = _vocabulary(rng, sizes["vocab"])
    docs = make_documents(rng, sizes["rag_docs"], vocab, sizes["words"])
    _write_parquet(pa.table(docs), os.path.join(out, "rag_docs.parquet"))
    # ranks spread log-uniformly over the Zipf vocabulary (frequent to
    # tail words), plus one term that never occurs
    ranks = np.exp(rng.uniform(np.log(len(STOPWORDS)), np.log(sizes["vocab"]), sizes["terms"] - 1))
    terms = [str(vocab[r]) for r in sorted(set(ranks.astype(int)))] + ["zzzznomatch"]
    _write_parquet(
        pa.table({"term": terms, "pattern": [rf"(^|\W){t}($|\W)" for t in terms]}),
        os.path.join(out, "rag_terms.parquet"),
    )
    os.makedirs(os.path.join(out, "deltas"))
    for c in range(sizes["cycles"]):
        ids = 1_000_000 + c * 100_000 + np.arange(sizes["vec_delta"], dtype="int64")
        _write_parquet(
            _embedding_table(ids, mix.sample(sizes["vec_delta"])),
            os.path.join(out, f"vec_delta_{c:03d}.parquet"),
        )
        with open(os.path.join(out, "deltas", f"delta_{c:03d}.jsonl"), "w") as f:
            f.write(_jsonl_delta(rng, c, sizes["records"], sizes["blank_share"]))


# Sized so that one run of each workload, with a cold JVM, fits the
# benchmark's per-run time budget on a 4-core host (see README.md).
SIZES = {
    "pretrain_corpus": {
        "docs": 450,
        "vocab": 2000,
        "words": (30, 90),
        "near_dup_share": 0.25,
        "junk_share": 0.08,
    },
    "rag_serve": {
        "vectors": 4000,
        "per_component": 12,
        "dim": 64,
        "noise": 0.1,
        "query_noise": 0.02,
        "requests": 6,  # one per scoring, then one per ingest cycle
        "per_request": 8,
        "rag_docs": 200,
        "vocab": 2000,
        "words": (30, 90),
        "terms": 8,
        "cycles": 2,
        "vec_delta": 300,
        "records": 200,
        "blank_share": 0.05,
    },
}

WRITERS = {
    "pretrain_corpus": write_pretrain_inputs,
    "rag_serve": write_rag_inputs,
}


def write_inputs(workload: str, out: str, seed: int, sizes: dict) -> None:
    os.makedirs(out, exist_ok=True)
    WRITERS[workload](out, seed, sizes)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WRITERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    write_inputs(a.workload, a.out, a.seed, SIZES[a.workload])
    for root, _, files in sorted(os.walk(a.out)):
        for name in sorted(files):
            p = os.path.join(root, name)
            print(os.path.relpath(p, a.out), os.path.getsize(p))


if __name__ == "__main__":
    main()
