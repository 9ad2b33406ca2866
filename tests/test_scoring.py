"""The shared scoring harness (operators/scoring.py): the bulk scorers'
driver-collect bound, cosine_top_k's geometry filter on both paths, the
audits' memoized universe count, and kernels that run without the
package on the worker's path."""

from __future__ import annotations

import os
import pickle
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from biodata_pipeline_spark.operators import retrieval
from biodata_pipeline_spark.operators.retrieval import cosine_top_k


def _queries(spark, n, dim=64):
    return spark.range(n).select(
        F.col("id").alias("query_id"),
        F.array(*[F.lit(float(i + 1)) for i in range(dim)]).alias(
            "query_emb"
        ),
    )


def test_bulk_scorers_enforce_the_query_bound(spark, monkeypatch):
    """Every score_bulk caller collects its queries under retrieval's
    MAX_QUERY_ROWS, with the same error, not only cosine_top_k."""
    from biodata_pipeline_spark.operators.pq import pq_adc_scores_kernel
    from biodata_pipeline_spark.operators.sq import sq_scores_kernel

    monkeypatch.setattr(retrieval, "MAX_QUERY_ROWS", 2)
    books = [[[1.0] * 4] * 16] * 16  # m=16 subspaces of 4 dims
    pq_codes = spark.createDataFrame(
        [(0, [0] * 16)], "vec_id long, codes array<int>"
    )
    bounds = {"vmin": [0.0] * 64, "vmax": [1.0] * 64}
    sq_codes = spark.createDataFrame(
        [(0, [0] * 64)], "vec_id long, sq_codes array<int>"
    )
    with pytest.raises(ValueError, match="driver-collect bound of 2"):
        pq_adc_scores_kernel(_queries(spark, 3), pq_codes, books)
    with pytest.raises(ValueError, match="driver-collect bound of 2"):
        sq_scores_kernel(_queries(spark, 3), sq_codes, bounds)
    # at the bound both still score
    two = _queries(spark, 2)
    assert pq_adc_scores_kernel(two, pq_codes, books).count() == 2
    assert sq_scores_kernel(two, sq_codes, bounds).count() == 2


@pytest.mark.parametrize("use_kernel", [False, True])
def test_cosine_top_k_drops_defective_corpus_rows(spark, use_kernel):
    """A corpus with fewer than k valid rows: both scoring paths rank
    exactly the valid rows, and agree with each other bit for bit."""
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.6, 0.8, 0.0]),
            (3, None),  # null vector
            (4, [1.0, 1.0]),  # wrong dimension
            (5, [0.0, 0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.5, 0.25]), (1, [0.0, 1.0, 0.0])],
        "query_id long, query_emb array<double>",
    )

    def run(kernel):
        return sorted(
            tuple(r)
            for r in cosine_top_k(
                queries, corpus, k=5, salt_buckets=2, use_kernel=kernel
            ).collect()
        )

    got = run(use_kernel)
    assert {r[1] for r in got} == {1, 2, 5}
    assert sorted((r[0], r[2]) for r in got) == [
        (q, rank) for q in (0, 1) for rank in (1, 2, 3)
    ]
    assert got == run(not use_kernel)


def test_corpus_count_memo_bounds_the_sq8_and_bq1_universes(spark, sf_dir):
    """The audits' kernel switch reads one memoized count of the PQ
    universe for all four families. The SQ8/BQ1 universes drop
    non-finite rows too, so each must lie within the defect count below
    it."""
    from biodata_pipeline_spark.operators.scoring import has_non_finite
    from biodata_pipeline_spark.registry import vector as V

    n_pq = V._corpus_n_for(spark, sf_dir)
    assert (spark.sparkContext.applicationId, sf_dir, "corpus_n") in V._MEMO
    assert V._corpus_n_for(spark, sf_dir) == n_pq  # served by the memo
    pq = V._pq_corpus(spark, sf_dir)
    assert pq.count() == n_pq
    n_defects = pq.filter(
        has_non_finite(F.col("embedding").cast("array<double>"))
    ).count()
    for universe in (V._sq_corpus, V._bq_corpus):
        n = universe(spark, sf_dir).count()
        assert n_pq - n_defects <= n <= n_pq


def test_kernels_ship_without_the_package_on_the_worker_path(tmp_path):
    """Python workers need not be able to import this package: a fold
    built on the harness unpickles and scores in a fresh interpreter
    whose path lacks the repo."""
    import numpy as np
    import pandas as pd
    from pyspark import cloudpickle

    from biodata_pipeline_spark.operators.pq import adc_rows

    rng = np.random.default_rng(0)
    books = rng.uniform(-1, 1, (16, 16, 4)).tolist()
    pdf = pd.DataFrame(
        {
            "__qe": list(rng.uniform(-1, 1, (5, 64))),
            "__nq": rng.uniform(1, 2, 5),
            "codes": list(rng.integers(0, 16, (5, 16))),
        }
    )
    fold = adc_rows(books)
    payload = cloudpickle.dumps((fold, pdf))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = (
        "import importlib.util, pickle, sys\n"
        "assert importlib.util.find_spec('biodata_pipeline_spark') is None\n"
        "fold, pdf = pickle.loads(sys.stdin.buffer.read())\n"
        "sys.stdout.buffer.write(pickle.dumps(fold(pdf)))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script], input=payload, cwd=tmp_path,
        env=env, capture_output=True, check=True,
    ).stdout
    assert (pickle.loads(out) == fold(pdf)).all()
