"""One scoring harness for the vector families: exact cosine, PQ,
residual PQ, SQ8 and BQ1.

Every Arrow scorer has the same shape: the query side ``(query_id,
__qe, __nq)``, a numpy decode-and-fold over a batch of candidates, a raw
float64 leaving the kernel, and ``SIM_ROUND`` rounding in the JVM
(numpy rounds half-even, Spark half-up). The families write only the
decode-and-fold step; this module owns the rest:

 - ``score_rows``: (query, candidate) ROWS that already carry the query
   side — the IVF store probe, where each query meets only its probed
   cells. ``fold(pdf)`` returns one score per row;
 - ``score_bulk``: every (query, candidate) pair. The query set is
   collected under retrieval's ``MAX_QUERY_ROWS`` bound and ships with
   the closure; ``fold_for(qmat, qnrm)`` builds any per-query lookup
   table on the driver and returns ``fold(pdf)``, an ``(n_queries,
   n_rows)`` matrix flattened with repeat/tile into scalar Arrow
   columns (an array-per-row output falls off Arrow's fast path);
 - ``encode_rows``: the encoders' twin of ``score_rows`` — appends a
   code array per vector, NULL where an element is null or non-finite;
 - ``ranked`` + ``exact_rerank``: the rank window and the exact-cosine
   refine tail every family shares (FAISS ``IndexRefineFlat``'s shape).

Bit parity with the declarative forms rests on ``fold_rows`` /
``fold_pairs`` (ascending-dimension accumulation, the JVM ``aggregate``
fold's IEEE-754 sequence) and ``cos_sim`` (``nq · sqrt(norm²)`` then the
divide, the JVM expression's order). Subspace-grouped families fold once
per subspace and add the partials in subspace order, as their
declarative forms and the DuckDB oracle do.

Python workers need not have this package on their path, so the module
registers itself for pickle-by-value: the helpers ship inside each
kernel closure.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType
from pyspark.sql.types import StructField, StructType

from biodata_pipeline_spark.functions.vector import dot, l2_norm
from biodata_pipeline_spark.operators.similarity import SIM_ROUND

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def query_frame(
    queries: DataFrame, query_id: str = "query_id",
    query_emb: str = "query_emb",
) -> DataFrame:
    """``(query_id, __qe, __nq)``: the query embedding as doubles and its
    in-order norm, one row per ``query_id``. Retried or unioned batches
    (identical rows) collapse; ids with conflicting embeddings are a
    contract violation, since every rank window downstream keys on
    ``query_id``."""
    return queries.select(
        F.col(query_id),
        F.col(query_emb).cast("array<double>").alias("__qe"),
        l2_norm(F.col(query_emb)).alias("__nq"),
    ).dropDuplicates([query_id])


def has_non_finite(emb) -> F.Column:
    """The engine-wide geometry defect predicate: any null / NaN /
    infinite element. Encoders give such rows NULL codes."""
    return F.exists(
        emb,
        lambda x: x.isNull()
        | F.isnan(x)
        | (F.abs(x) == F.lit(float("inf"))),
    )


def finite_vectors(df: DataFrame, emb_col: str, dim: int) -> DataFrame:
    """Rows passing the full geometry contract: non-null, ``dim``
    elements, every element finite."""
    return df.filter(
        F.col(emb_col).isNotNull()
        & (F.size(emb_col) == dim)
        & ~has_non_finite(F.col(emb_col).cast("array<double>"))
    )


def exact_sim(emb_col: str, name: str = "sim") -> F.Column:
    """Declarative exact cosine of ``__qe`` against ``emb_col`` at
    SIM_ROUND: the reference every kernel fold matches."""
    return F.round(
        dot(F.col("__qe"), F.col(emb_col))
        / (F.col("__nq") * l2_norm(F.col(emb_col))),
        SIM_ROUND,
    ).alias(name)


# -- numpy helpers: these run inside the kernels -----------------------------

def column_matrix(pdf, col: str, dtype: str = "float64"):
    """An array column of a pandas batch as a 2-d numpy matrix (a null
    element becomes NaN)."""
    return np.array(pdf[col].tolist(), dtype=dtype)


def fold_rows(a, b):
    """Row-paired folds in ascending dimension order: per row,
    ``(Σ a_i·b_i, Σ b_i²)``."""
    s, n2 = np.zeros(len(b)), np.zeros(len(b))
    for i in range(b.shape[1]):
        s += a[:, i] * b[:, i]
        n2 += b[:, i] * b[:, i]
    return s, n2


def fold_pairs(q, b):
    """All-pairs folds in ascending dimension order: ``Σ q_i·b_i`` as a
    ``(len(q), len(b))`` matrix, and ``Σ b_i²`` per row of ``b``."""
    s, n2 = np.zeros((len(q), len(b))), np.zeros(len(b))
    for i in range(b.shape[1]):
        s += q[:, i][:, None] * b[:, i][None, :]
        n2 += b[:, i] * b[:, i]
    return s, n2


def cos_sim(s, n2, nq):
    """``s / (nq · sqrt(n2))``: the JVM cosine's product-then-divide."""
    return s / (nq * np.sqrt(n2))


def cosine_rows(emb_col: str):
    """Exact-cosine fold for ``score_rows`` over ``__qe`` / ``__nq`` /
    ``emb_col``: bit-equal to ``exact_sim``."""

    def fold(pdf):
        s, n2 = fold_rows(
            column_matrix(pdf, "__qe"), column_matrix(pdf, emb_col)
        )
        return cos_sim(s, n2, pdf["__nq"].to_numpy())

    return fold


def cosine_pairs(emb_col: str):
    """Exact-cosine ``fold_for`` for ``score_bulk``."""

    def fold_for(qmat, qnrm):
        def fold(pdf):
            s, n2 = fold_pairs(qmat, column_matrix(pdf, emb_col))
            return cos_sim(s, n2, qnrm[:, None])

        return fold

    return fold_for


# -- the harness --------------------------------------------------------------

def score_rows(
    cand: DataFrame,
    query_id: str,
    id_col: str,
    cols: list[str],
    fold,
    out_col: str = "sim",
    integer: bool = False,
) -> DataFrame:
    """Score (query, candidate) rows. ``cand`` carries ``query_id``,
    ``id_col`` and ``cols``; ``fold(pdf)`` returns one raw score per
    row of a non-empty batch. Returns ``(query_id, id_col, out_col)``:
    double scores rounded at SIM_ROUND in the JVM, or ``integer``
    scores (Hamming distances) as they left the kernel."""
    raw = out_col if integer else "__sim_raw"
    fields = {f.name: f for f in cand.schema.fields}
    schema = StructType(
        [
            fields[query_id],
            fields[id_col],
            StructField(raw, IntegerType() if integer else DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if len(pdf):
                yield pd.DataFrame(
                    {query_id: pdf[query_id], id_col: pdf[id_col],
                     raw: fold(pdf)}
                )

    out = cand.select(query_id, id_col, *cols).mapInPandas(score, schema)
    if integer:
        return out
    return out.select(
        query_id, id_col, F.round(raw, SIM_ROUND).alias(out_col)
    )


def score_bulk(
    queries: DataFrame,
    corpus: DataFrame,
    fold_for,
    out_col: str,
    cols: list[str],
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    id_col: str = "vec_id",
    where=None,
) -> DataFrame:
    """Score every (query, corpus row) pair. The query side is collected
    once, under ``MAX_QUERY_ROWS``; ``fold_for(qmat, qnrm)`` builds the
    per-batch ``fold(pdf) -> (n_queries, n_rows)`` on the driver, and
    ``where(dim)`` (optional) filters the corpus by the query dimension
    before the kernel. An empty query set scores nothing. Returns
    ``(query_id, id_col, out_col)``, rounded at SIM_ROUND in the JVM."""
    # read at call time, so the bound stays retrieval's one knob
    from biodata_pipeline_spark.operators.retrieval import MAX_QUERY_ROWS

    q_rows = query_frame(queries, query_id, query_emb).collect()
    if len(q_rows) > MAX_QUERY_ROWS:
        raise ValueError(
            f"cosine_top_k kernel path: query set has {len(q_rows)} rows, "
            f"over the driver-collect bound of {MAX_QUERY_ROWS}; score "
            "with the HOF path (use_kernel=False) instead"
        )
    schema = StructType(
        [
            StructField(query_id, queries.schema[query_id].dataType),
            corpus.schema[id_col],
            StructField("__sim_raw", DoubleType()),
        ]
    )
    if not q_rows:
        out = queries.sparkSession.createDataFrame([], schema)
    else:
        qids = [r[query_id] for r in q_rows]
        qmat = np.array([r["__qe"] for r in q_rows], dtype=np.float64)
        qnrm = np.array([r["__nq"] for r in q_rows], dtype=np.float64)
        fold = fold_for(qmat, qnrm)
        nq = len(qids)

        def score(batches):
            for pdf in batches:
                n = len(pdf)
                if n:
                    yield pd.DataFrame(
                        {
                            query_id: np.repeat(qids, n),
                            id_col: np.tile(pdf[id_col].to_numpy(), nq),
                            "__sim_raw": fold(pdf).ravel(),
                        }
                    )

        if where is not None:
            corpus = corpus.filter(where(qmat.shape[1]))
        out = corpus.select(id_col, *cols).mapInPandas(score, schema)
    return out.select(
        query_id, id_col, F.round("__sim_raw", SIM_ROUND).alias(out_col)
    )


def encode_rows(
    df: DataFrame, emb_col: str, dim: int, out_col: str, elem_type, encode
) -> DataFrame:
    """The encoders' harness: rows with a ``dim``-long ``emb_col`` get
    ``out_col``, an array of ``elem_type`` codes from ``encode(mat, pdf)
    -> (codes, finite)``. A row whose (possibly transformed) vector is
    not finite gets NULL codes, matching the JVM fold's null
    propagation where numpy would silently misassign. Carries all
    input columns."""
    base = df.filter(F.col(emb_col).isNotNull() & (F.size(emb_col) == dim))
    schema = StructType(
        list(base.schema.fields) + [StructField(out_col, ArrayType(elem_type))]
    )

    def kern(batches):
        for pdf in batches:
            out = []
            if len(pdf):
                codes, finite = encode(column_matrix(pdf, emb_col), pdf)
                out = [
                    [int(c) for c in codes[r]] if finite[r] else None
                    for r in range(len(pdf))
                ]
            res = pdf.copy()
            res[out_col] = pd.Series(out, dtype="object", index=pdf.index)
            yield res

    return base.mapInPandas(kern, schema)


# -- rank and refine ----------------------------------------------------------

def ranked(
    scored: DataFrame,
    n: int,
    score_col: str = "sim",
    query_id: str = "query_id",
    id_col: str = "vec_id",
    ascending: bool = False,
) -> DataFrame:
    """Top-``n`` rows per query with their rank: ``(query_id, id_col,
    rank, score_col)``, rank 1..n by score (descending; ascending for a
    distance) with the id tie-break. The top-``k`` of a family is the
    ``rank <= k`` prefix of its top-``r·k``, so one ranked stream serves
    both a codes-only answer and a refine."""
    score = F.col(score_col)
    w = Window.partitionBy(query_id).orderBy(
        score.asc() if ascending else score.desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .select(query_id, id_col, "rank", score_col)
    )


def exact_rerank(
    cand: DataFrame,
    queries: DataFrame,
    vectors: DataFrame,
    k: int,
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact-cosine re-rank of a bounded candidate set: join the
    candidates' true vectors, score ``exact_sim``, take the top-``k`` per
    query. The expensive full-vector read touches the candidates only,
    never the corpus."""
    exact = (
        cand.select(query_id, id_col)
        .join(vectors.select(id_col, emb_col), id_col)
        .join(query_frame(queries, query_id, query_emb), query_id)
        .select(query_id, id_col, exact_sim(emb_col))
    )
    return ranked(exact, k, "sim", query_id, id_col)
