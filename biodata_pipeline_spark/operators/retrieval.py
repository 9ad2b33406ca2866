"""Retrieval: cosine top-k + retrieval-rank metrics (the flagship).

The reference scores every query against the *entire* chunk corpus
(k = corpus size), walks the ranked list collecting 1-based positions of
regex matches, takes the first hit, assigns a sentinel rank (= corpus
size) to queries with no match, and averages
(rag_evaluation/RAG-eval-test_model.py:123-153,247-248).

Spark-first design:
 - queries are tiny → ``broadcast`` them; the corpus side never shuffles
   during scoring (BroadcastNestedLoopJoin over a map-side cross product).
 - ranking uses a **two-phase top-k**: a salted local window prunes each
   scored partition to its local top-k, then a single global window ranks
   the survivors. At 1000 executors the full |Q|×|C| score stream is never
   shuffled into |Q| partitions — only |salts|×k rows per query are.
 - ties broken on rounded similarity then ids, so ranks are deterministic
   and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from biodata_pipeline_spark.functions.vector import dot, l2_norm
from biodata_pipeline_spark.operators.scoring import cosine_pairs, score_bulk

SIM_ROUND = 9  # ranking precision: collapses float64 ulp noise into ties


def _with_norm(df: DataFrame, emb_col: str, norm_col: str) -> DataFrame:
    """Attach each vector's L2 norm once on its own side of a pairwise
    join — per-pair scoring then needs only the dot product (same
    dot/(na·nb) arithmetic, n norms instead of n²)."""
    return df.withColumn(norm_col, l2_norm(F.col(emb_col)))


def _geometry_ok(corpus_emb: str, dim) -> F.Column:
    """The corpus rows ``cosine_top_k`` ranks, on both scoring paths: a
    non-null embedding of the query's dimension. Any other row has no
    cosine — the kernel could not stack it, and the HOF fold would score
    it null and rank it last — so both paths drop it, and a corpus with
    fewer than k valid rows yields fewer than k ranks either way."""
    return F.col(corpus_emb).isNotNull() & (F.size(corpus_emb) == dim)


def cosine_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_emb: str = "query_emb",
    corpus_emb: str = "embedding",
    salt_buckets: int = 64,
    use_kernel: bool | None = False,
) -> DataFrame:
    """Exact top-k by cosine similarity, scalable two-phase ranking.

    Output: ``query_id, corpus_id, rank, sim`` with rank 1..k per query.
    Ordering: round(sim, 9) DESC, corpus_id ASC (deterministic).

    ``use_kernel`` (OPTIMIZATION r15, guide §4.2): score the |Q|×|C|
    stream with the Arrow numpy kernel instead of the interpreted HOF
    fold — bit-identical sims (``scoring.score_bulk`` with the
    ascending-dim cosine fold; queries collected under
    ``MAX_QUERY_ROWS``, one row per query id), rank phases unchanged.
    Both paths score only the corpus rows passing ``_geometry_ok``.
    ``None`` = observed-size auto switch (one count job): the kernel
    engages at ``KERNEL_CORPUS_THRESHOLD``, the same measured crossover
    as ``retrieval_rank_metrics`` — BELOW it the interpreted fold spread
    across the cores beats the kernel's fixed costs (queries collect +
    Arrow worker transfer; measured at sf0.1 × 8 cores: forcing the
    kernel is ~10% SLOWER per audit key), ABOVE it the per-pair fold
    dominates and the kernel wins (5× at the 100× probe). ``False``
    (default) keeps the zero-overhead HOF path for small callers (q24's
    5-query set) with no count job."""
    if use_kernel is None:
        # ">" (not ">=") — the same comparison retrieval_rank_metrics
        # uses, so the two switches flip at the identical corpus size
        # (ADVICE r15). Callers that already know the corpus size (the
        # audits' memoized universe count) pass a computed bool instead
        # and skip this count job entirely (VERDICT r15 #4).
        use_kernel = corpus.count() > KERNEL_CORPUS_THRESHOLD
    # Spread the corpus before the broadcast cross join: a compact scan can
    # arrive as one partition, which would serialize |Q|×|C| scoring work.
    nparts = corpus.sparkSession.sparkContext.defaultParallelism
    corpus = corpus.repartition(nparts)
    if use_kernel:
        scored = score_bulk(
            queries, corpus, cosine_pairs(corpus_emb), "sim", [corpus_emb],
            query_id, query_emb, corpus_id,
            where=lambda dim: _geometry_ok(corpus_emb, dim),
        )
    else:
        scored = (
            _with_norm(corpus, corpus_emb, "__nc")
            .crossJoin(F.broadcast(_with_norm(queries, query_emb, "__nq")))
            .filter(_geometry_ok(corpus_emb, F.size(query_emb)))
            .select(
                F.col(query_id),
                F.col(corpus_id),
                F.round(
                    dot(F.col(query_emb), F.col(corpus_emb))
                    / (F.col("__nq") * F.col("__nc")),
                    SIM_ROUND,
                ).alias("sim"),
            )
        )
    order = [F.col("sim").desc(), F.col(corpus_id).asc()]
    # Phase 1: local top-k within salt buckets (map-side pruning of the
    # scored stream; the global shuffle only carries salt_buckets*k rows/query).
    salted = scored.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(corpus_id)), F.lit(salt_buckets))
    )
    local_w = Window.partitionBy(query_id, "__salt").orderBy(*order)
    survivors = (
        salted.withColumn("__lr", F.row_number().over(local_w))
        .filter(F.col("__lr") <= k)
        .drop("__lr", "__salt")
    )
    # Phase 2: exact global rank over the pruned candidates.
    global_w = Window.partitionBy(query_id).orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(global_w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "rank", "sim")
    )


SIM_BUCKETS = 1024  # coarse sim partitioning for the distributed rank
# Corpus size at which scoring switches from the JVM HOF expression to
# the Arrow numpy kernel: the kernel's fixed cost (driver query-collect +
# Arrow worker spin-up, ~0.7 s) only pays for itself once the per-pair
# interpreted fold dominates (measured crossover well under this bound;
# at the 100× probe the kernel is 5× faster, at sf0.1 the HOF path is
# ~0.7 s faster). The same observed-size strategy switch as
# retrieve_top_k_auto / AQE join selection.
KERNEL_CORPUS_THRESHOLD = 100_000
# Driver-collect bound for the kernel path's query set (the reference's
# test-pair TSVs are tens of rows; RAG-eval-test_model.py:123-128) —
# enforced, not assumed: an unbounded collect is the one scale-killer
# pattern this engine bans (the similarity_join_vectorized precedent,
# similarity.py count gate).
MAX_QUERY_ROWS = 10_000


def _hof_scored(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    pattern_col: str,
    query_emb: str,
    chunk_id: str,
    chunk_text: str,
    chunk_emb: str,
) -> DataFrame:
    """All-JVM scoring: broadcast cross join + dot/norm HOF fold. The
    whole stage stays inside codegen — no driver collect, no Python
    worker. Bit-equal to the kernel path (same ascending-dim fold)."""
    q = _with_norm(
        queries.select(query_id, pattern_col, query_emb), query_emb, "__nq"
    )
    corpus = _with_norm(corpus, chunk_emb, "__nc")  # n norms, not n×q
    return corpus.crossJoin(F.broadcast(q)).select(
        F.col(query_id),
        F.col(chunk_id),
        F.round(
            dot(F.col(query_emb), F.col(chunk_emb))
            / (F.col("__nq") * F.col("__nc")),
            SIM_ROUND,
        ).alias("sim"),
        F.regexp_like(F.col(chunk_text), F.col(pattern_col)).alias(
            "__is_match"
        ),
    )


def _kernel_scored(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    pattern_col: str,
    query_emb: str,
    chunk_id: str,
    chunk_text: str,
    chunk_emb: str,
    max_query_rows: int,
) -> DataFrame:
    """Arrow numpy scoring: queries collected driver-side (bounded by the
    count gate), sims computed batch-wise against every chunk."""
    import numpy as np
    import pandas as pd

    n_q = queries.count()
    if n_q > max_query_rows:
        raise ValueError(
            f"retrieval_rank_metrics: query set has {n_q} rows, over the "
            f"driver-collect bound of {max_query_rows}. The kernel path "
            "broadcasts the query embeddings from the driver; split the "
            "query set, raise max_query_rows deliberately, or score with "
            "cosine_top_k (fully distributed) instead."
        )
    q_rows = queries.select(query_id, pattern_col, query_emb).collect()
    if not q_rows:
        raise ValueError("retrieval_rank_metrics: empty query set")
    qmat = np.array([[float(v) for v in r[query_emb]] for r in q_rows])
    nqs = np.zeros(len(q_rows))
    for i in range(qmat.shape[1]):  # ascending-dim fold ≡ l2_norm's
        nqs += qmat[:, i] * qmat[:, i]
    nqs = np.sqrt(nqs)

    def score(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            emb = np.array(pdf["__emb"].tolist(), dtype=np.float64)
            s = np.zeros((n, len(q_rows)))
            nc = np.zeros(n)
            for i in range(emb.shape[1]):  # in-order fold: bit-parity
                nc += emb[:, i] * emb[:, i]
                s += emb[:, [i]] * qmat[:, i][None, :]
            s /= nqs[None, :] * np.sqrt(nc)[:, None]
            yield pd.DataFrame(
                {
                    "__cid": pdf["__cid"],
                    "__ctext": pdf["__ctext"],
                    "__sims": list(s),
                }
            )

    qmeta = queries.sparkSession.createDataFrame(
        [(i, r[query_id], r[pattern_col]) for i, r in enumerate(q_rows)],
        ["__qidx", query_id, pattern_col],
    )
    kernel_out = corpus.select(
        F.col(chunk_id).alias("__cid"),
        F.col(chunk_text).alias("__ctext"),
        F.col(chunk_emb).alias("__emb"),
    ).mapInPandas(score, "__cid long, __ctext string, __sims array<double>")
    return (
        kernel_out.select(
            "__cid",
            "__ctext",
            F.posexplode("__sims").alias("__qidx", "__sim_raw"),
        )
        .join(F.broadcast(qmeta), "__qidx")
        .select(
            F.col(query_id),
            F.col("__cid").alias(chunk_id),
            F.round("__sim_raw", SIM_ROUND).alias("sim"),
            F.regexp_like(F.col("__ctext"), F.col(pattern_col)).alias(
                "__is_match"
            ),
        )
    )


def retrieval_rank_metrics(
    queries: DataFrame,
    chunks: DataFrame,
    query_id: str = "term",
    pattern_col: str = "pattern",
    query_emb: str = "query_emb",
    chunk_id: str = "chunk_uid",
    chunk_text: str = "chunk_text",
    chunk_emb: str = "embedding",
    kernel_threshold: int = KERNEL_CORPUS_THRESHOLD,
    max_query_rows: int = MAX_QUERY_ROWS,
) -> DataFrame:
    """Per-query retrieval-rank detail (the reference's VectorTest).

    For each query: rank all chunks by cosine sim, find word-boundary regex
    matches of the query pattern in chunk text, and report::

        term, n_matches, first_hit_rank, sum_match_rank, avg_match_rank

    No-match queries get the sentinel rank = corpus size
    (RAG-eval-test_model.py:145-147 — never silently dropped). All metrics
    derive from integer rank sums (exact in float64), so values are
    bit-identical across engines with no rounding needed.

    Scale design — **no per-query global window, and the scored stream is
    never shuffled whole**. A matched chunk's rank in the (sim DESC,
    chunk_id ASC) total order is ``1 + #chunks ordered above it``; split
    that count at the boundary of ``SIM_BUCKETS`` coarse sim buckets:

    1. score map-side (broadcast queries; the corpus never shuffles here);
    2. ``#chunks in strictly-higher buckets``: a per-(query, bucket)
       count with map-side partial aggregation — only |Q|×1024 total
       rows enter the shuffle, then a running sum per query;
    3. ``position within its own bucket``: ``row_number`` over
       (query, bucket) — but only for buckets that CONTAIN a match. The
       distinct (query, bucket) match set is ≤ |Q|×SIM_BUCKETS rows *by
       construction*, so it is always broadcastable, and the windowed
       subset is only those buckets' rows (worst case — every bucket
       matched — degrades to one full-stream shuffle, i.e. never worse
       than ranking everything);
    4. ``rank = above_buckets + row_number`` for matched rows, then a
       plain groupBy.

    The scored stream is persisted once (three consumers: bucket totals,
    matched-bucket set, within-bucket ranking). Degenerate sim
    distributions where one bucket holds most of a query's corpus would
    re-concentrate that bucket's window partition; with 9-dp-rounded real
    embeddings the 1024 buckets stay balanced.

    Scoring switches on observed corpus size (``kernel_threshold``).
    Large corpora use an Arrow numpy kernel: each chunk's sims against
    ALL queries come back as one array column (the query embeddings —
    bounded by the enforced ``max_query_rows`` gate — are collected
    driver-side and closed over, like the kmeans centroids), which a
    ``posexplode`` + broadcast join turns back into (query, chunk) rows
    for the JVM-side rounding and regex match. Small corpora keep the
    all-JVM HOF expression — no driver collect, no Arrow spin-up (~0.7 s
    fixed cost the kernel can't amortize at bench scale). The kernel
    accumulates dimension-by-dimension in ascending order — the
    identical IEEE-754 fold the HOF path uses, so sims are bit-equal
    on both paths (IEEE multiplication is commutative, so nq·nc is too;
    parity-pinned in tests) and the oracle hash is path-independent.
    """
    from biodata_pipeline_spark.operators.caching import register_cached

    # Strategy pick on the observed corpus size — one cheap count that
    # also warms ``chunks``'s cache when the caller persisted it (the
    # flagship does; its downstream consumer reuses the result). The
    # same number IS the no-match sentinel (reference: rank = corpus
    # size), so it enters the plan as a literal instead of a second
    # count(*) aggregate subtree.
    n_corpus = chunks.count()
    corpus = chunks.repartition(
        chunks.sparkSession.sparkContext.defaultParallelism
    )
    if n_corpus > kernel_threshold:
        scored_base = _kernel_scored(
            queries, corpus, query_id, pattern_col, query_emb,
            chunk_id, chunk_text, chunk_emb, max_query_rows,
        )
    else:
        scored_base = _hof_scored(
            queries, corpus, query_id, pattern_col, query_emb,
            chunk_id, chunk_text, chunk_emb,
        )
    bucket = F.least(
        F.greatest(F.floor((F.col("sim") + 1) * (SIM_BUCKETS / 2)), F.lit(0)),
        F.lit(SIM_BUCKETS - 1),
    ).cast("int")
    scored = register_cached(
        scored_base.withColumn("__bucket", bucket).persist()
    )
    btot = scored.groupBy(query_id, "__bucket").agg(F.count("*").alias("__bcnt"))
    w_above = (
        Window.partitionBy(query_id)
        .orderBy(F.col("__bucket").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    btot = btot.withColumn(
        "__above", F.coalesce(F.sum("__bcnt").over(w_above), F.lit(0))
    ).drop("__bcnt")
    match_buckets = (
        scored.filter(F.col("__is_match")).select(query_id, "__bucket").distinct()
    )
    in_matched = scored.join(F.broadcast(match_buckets), [query_id, "__bucket"])
    w_in = Window.partitionBy(query_id, "__bucket").orderBy(
        F.col("sim").desc(), F.col(chunk_id).asc()
    )
    matched = (
        in_matched.withColumn("__rn", F.row_number().over(w_in))
        .filter(F.col("__is_match"))
        .join(F.broadcast(btot), [query_id, "__bucket"])
        .withColumn("rank", (F.col("__above") + F.col("__rn")).cast("long"))
    )
    per_query = matched.groupBy(query_id).agg(
        F.count("*").alias("n_matches"),
        F.min("rank").alias("first_hit_rank"),
        F.sum("rank").alias("sum_match_rank"),
    )
    return (
        queries.select(query_id)
        .join(per_query, query_id, "left")
        .withColumn("__n_chunks", F.lit(n_corpus).cast("long"))
        .select(
            query_id,
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
            F.coalesce("first_hit_rank", F.col("__n_chunks"))
            .cast("long")
            .alias("first_hit_rank"),
            # no-match sentinel: one rank equal to the corpus size
            F.coalesce("sum_match_rank", F.col("__n_chunks"))
            .cast("long")
            .alias("sum_match_rank"),
        )
        .withColumn(
            "avg_match_rank",
            F.col("sum_match_rank") / F.greatest(F.col("n_matches"), F.lit(1)),
        )
    )


def retrieval_summary(detail: DataFrame) -> DataFrame:
    """Corpus-level aggregates (RAG-eval-test_model.py:149-150):
    Average Search Rank = mean over every collected rank (each no-match
    query contributes one sentinel rank), Average First Hit Rank = mean of
    per-query first hits. Pure integer sums → exact doubles."""
    return detail.agg(
        (
            F.sum("sum_match_rank")
            / F.sum(F.greatest(F.col("n_matches"), F.lit(1)))
        ).alias("avg_search_rank"),
        (F.sum("first_hit_rank") / F.count("*")).alias("avg_first_hit_rank"),
    )


def retrieve_top_k_auto(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    exact_limit: int = 100_000,
    n_cells: int = 16,
    n_probe: int = 4,
    **cols,
) -> DataFrame:
    """Strategy selection for top-k retrieval (SURVEY §4: the
    crossJoin+cosine+rank≤k → pruned-plan rewrite, driven by data size
    instead of a Catalyst rule).

    Small corpora (≤ ``exact_limit`` rows) take the exact two-phase
    ``cosine_top_k`` — one pass over every (query, vector) pair. Larger
    corpora take the IVF route: each query scores only its ``n_probe``
    nearest cells, ~n_probe/n_cells of the corpus. The count that picks the
    strategy is a metadata-cheap action (parquet row-count), mirroring how
    AQE swaps join strategies on observed sizes.
    """
    from biodata_pipeline_spark.operators.similarity import ivf_ann

    if corpus.count() <= exact_limit:
        return cosine_top_k(queries, corpus, k, **cols)
    return ivf_ann(queries, corpus, k, n_cells=n_cells, n_probe=n_probe, **cols)
