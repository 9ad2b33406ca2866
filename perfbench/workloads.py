"""The benchmark's workloads: each drives the engine only through its
public functions, on the files ``inputs.py`` wrote, and checks what the
engine wrote back.

Closed loop, one client (this process): each call starts after the
previous one returned. A workload repeats its iteration until the timed
phase has lasted ``seconds`` (at least once) and reports per-iteration
medians. Output checks run between the engine calls and are not timed.

 - ``pretrain_corpus``: ``run_pretraining_pipeline`` over seeded
   documents (dedup, clusters, tokenizer, sharding, export).
 - ``rag_serve``: ``build_vector_index`` with PQ, then ``enable_sq8`` and
   ``enable_bq``; query requests rotating through four scorings;
   ``rag_evaluation`` over chunked, ``embed_text``-embedded documents;
   then ingest cycles on the same store: a JSONL delta through
   ``narrative_generation`` with a manifest, its zero-work re-run, a
   vector ``add``, one request on the grown store.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import checks

# engine parameters the workloads pass (inputs are sized in inputs.SIZES)
PRETRAIN = {"seq_len": 128, "n_merges": 16, "token_budget": 1 << 16, "langs": ("en", "de", "fr", "es")}
STORE = {"k_cells": 8, "iters": 2, "pq_m": 4, "n_probe": 4, "top_k": 10, "embed_dim": 16}
MODES = ("exact", "adc_refine", "sq8_refine", "bq1_refine")

# traced span names, per workload (session.get_spark is traced on both)
SPANS = {
    "pretrain_corpus": (
        "pipelines.run_pretraining_pipeline",
        "pipelines.build_training_corpus",
        "operators.tokenizer.bpe_train",
        "operators.tokenizer.pack_token_ids",
        "streaming.export.export_packed_sequences",
    ),
    "rag_serve": (
        "pipelines.build_vector_index",
        "pipelines.embedding_ingest_report",
        "operators.ann_store.build",
        "operators.ann_store.enable_pq",
        "operators.ann_store.enable_sq8",
        "operators.ann_store.enable_bq",
        "operators.ann_store.query",
        "operators.chunking.chunk_documents",
        "pipelines.rag_evaluation",
        "pipelines.narrative_generation",
        "pipelines.narrative_generation.rerun",
        "operators.ann_store.add",
    ),
}


@dataclass
class Op:
    name: str
    result: object = None
    seconds: float | None = None
    problems: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return self.seconds is not None and not self.problems


class Ctx:
    """What one run hands its workload: the session, the tracer, the
    input and scratch directories, and the operation ledger behind
    ``attempted``/``failed``."""

    def __init__(self, spark, tracer, inputs: str, work: str, seconds: float, log):
        self.spark, self.tracer = spark, tracer
        self.inputs, self.work = inputs, work
        self.seconds = seconds
        self.log = log
        self.ops: list[Op] = []

    def path(self, name: str) -> str:
        return os.path.join(self.inputs, name)

    def op(self, name: str, fn) -> Op:
        """Time one engine operation (under its span when tracing). An
        exception fails it; ``check`` adds output problems later."""
        op = Op(name)
        self.ops.append(op)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                op.result = fn()
        except Exception:
            op.problems.append("raised")
            self.log(f"operation {name} raised:\n{traceback.format_exc()}")
            return op
        op.seconds = time.perf_counter() - t0
        self.log(f"op {name} {op.seconds:.3f} s")
        return op

    def check(self, op: Op, problems: list[str]) -> None:
        for p in problems:
            self.log(f"check failed for {op.name}: {p}")
        op.problems.extend(problems)

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for op in self.ops if not op.ok)


def _median(xs):
    return statistics.median(xs) if xs else None


def _repeat(ctx: Ctx, iteration) -> list[dict]:
    """Run ``iteration(ctx, i)`` until the timed phase has lasted
    ``ctx.seconds``; returns each iteration's measurements, with
    ``wall_s`` the summed wall of its engine operations (output checks
    excluded)."""
    out, t0, i = [], time.perf_counter(), 0
    while i == 0 or time.perf_counter() - t0 < ctx.seconds:
        first = len(ctx.ops)
        m = iteration(ctx, i)
        m["wall_s"] = sum(op.seconds for op in ctx.ops[first:] if op.seconds is not None)
        out.append(m)
        ctx.log(f"iteration {i} wall_s {m['wall_s']:.3f}")
        i += 1
    return out


# -- pretrain_corpus ----------------------------------------------------------
def _pretrain_composed(spark, tracer, docs, work: str) -> tuple[list, list]:
    """``run_pretraining_pipeline`` spelled out as the public calls it
    composes, in its order, so each gets a span of its own."""
    from pyspark.sql import functions as F

    from biodata_pipeline_spark.operators.tokenizer import (
        bpe_train,
        corpus_token_ids,
        pack_token_ids,
    )
    from biodata_pipeline_spark.pipelines import build_training_corpus
    from biodata_pipeline_spark.streaming.export import export_packed_sequences

    p = PRETRAIN
    with tracer.span("pipelines.build_training_corpus"):
        corpus, report = build_training_corpus(
            docs, sink_dir=f"{work}/corpus", with_report=True, langs=p["langs"]
        )
        report_rows = report.collect()
    train_docs = corpus.select("doc_id", F.col("training_text").alias("text"))
    with tracer.span("operators.tokenizer.bpe_train"):
        merges = bpe_train(train_docs, p["n_merges"])
    with tracer.span("operators.tokenizer.pack_token_ids"):
        vocab, doc_tokens = corpus_token_ids(train_docs, merges)
        pack_token_ids(doc_tokens, p["seq_len"]).write.mode("overwrite").parquet(
            f"{work}/sequences"
        )
    seqs = spark.read.parquet(f"{work}/sequences")
    with tracer.span("streaming.export.export_packed_sequences"):
        manifest = export_packed_sequences(
            seqs, f"{work}/shards", f"{work}/shard_manifest", token_budget=p["token_budget"]
        )
        manifest_rows = manifest.collect()
    packed = seqs.agg(F.count("*").alias("n"), F.sum("n_tokens").alias("t")).collect()[0]
    extra = [
        ("vocab_size", vocab.count()),
        ("packed_sequences", packed["n"]),
        ("packed_tokens", packed["t"] or 0),
        ("shards", len(manifest_rows)),
        ("shard_tokens", sum(r.shard_tokens for r in manifest_rows)),
    ]
    return manifest_rows, [(r.metric, r.value) for r in report_rows] + extra


def _pretrain_iteration(ctx: Ctx, i: int) -> dict:
    from biodata_pipeline_spark.pipelines import run_pretraining_pipeline

    spark = ctx.spark
    docs = spark.read.parquet(ctx.path("docs.parquet"))
    work = os.path.join(ctx.work, f"pretrain_{i}")
    p = PRETRAIN

    def untraced():
        manifest, report = run_pretraining_pipeline(
            docs,
            work,
            seq_len=p["seq_len"],
            n_merges=p["n_merges"],
            token_budget=p["token_budget"],
            langs=p["langs"],
        )
        return manifest.collect(), [(r.metric, r.value) for r in report.collect()]

    def traced():
        return _pretrain_composed(spark, ctx.tracer, docs, work)

    op = ctx.op("pipelines.run_pretraining_pipeline", traced if ctx.tracer.enabled else untraced)
    if op.seconds is None:
        return {}
    report = {k: int(v) for k, v in op.result[1]}
    seq_lens = [
        r.n_tokens for r in spark.read.parquet(f"{work}/sequences").select("n_tokens").collect()
    ]
    ctx.check(op, checks.check_pretrain(report, seq_lens, p["seq_len"]))
    return {"report": report}


def pretrain_corpus(ctx: Ctx) -> tuple[dict, dict]:
    """Returns (end-to-end metrics, report-only metrics)."""
    its = _repeat(ctx, _pretrain_iteration)
    report = its[-1].get("report", {})
    info = {
        "iterations": (len(its), "count", "info"),
        "final_docs": (report.get("final_docs"), "count", "info"),
        "packed_tokens": (report.get("packed_tokens"), "count", "info"),
    }
    return {"wall_s": _median([m["wall_s"] for m in its])}, info


# -- vector-store workloads ---------------------------------------------------
def _read_vectors(path: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(path)
    ids = t.column("vec_id").to_numpy()
    vecs = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype("float64")
    return ids, vecs


class Serving:
    """A store under test plus the benchmark's own copy of what it
    should hold (the brute-force recall truth), and the request log."""

    def __init__(self, ctx: Ctx, index_path: str):
        from biodata_pipeline_spark.operators.ann_store import VectorIndexStore

        self.ctx = ctx
        self.store = VectorIndexStore(index_path)
        self.ids, self.vecs = _read_vectors(ctx.path("vectors.parquet"))
        self.queries = ctx.spark.read.parquet(ctx.path("queries.parquet"))
        self.query_rows = pq.read_table(ctx.path("queries.parquet")).to_pandas()
        self.latency: list[float] = []
        self.recall: dict[str, list[float]] = {}

    def enrolled(self, ids: np.ndarray, vecs: np.ndarray) -> None:
        self.ids = np.concatenate([self.ids, ids])
        self.vecs = np.concatenate([self.vecs, vecs])

    def request(self, r: int, mode: str) -> None:
        """One ``VectorIndexStore.query`` request (request ``r`` of the
        query file), checked against brute force over the live vectors."""
        from pyspark.sql import functions as F

        k = STORE["top_k"]
        qdf = self.queries.filter(F.col("request_id") == r).select("query_id", "query_emb")
        op = self.ctx.op(
            "operators.ann_store.query",
            lambda: self.store.query(qdf, k=k, n_probe=STORE["n_probe"], scoring=mode).collect(),
        )
        if op.seconds is None:
            return
        got: dict[int, list[int]] = {}
        for row in sorted(op.result, key=lambda row: (row.query_id, row.rank)):
            got.setdefault(int(row.query_id), []).append(int(row.vec_id))
        mine = self.query_rows[self.query_rows["request_id"] == r]
        truth = dict(zip(
            (int(q) for q in mine["query_id"]),
            checks.brute_force_top_k(self.ids, self.vecs, np.stack(mine["query_emb"].to_numpy()), k),
        ))
        self.ctx.check(op, checks.check_query(got, truth, k))
        self.latency.append(op.seconds)
        self.recall.setdefault(mode, []).append(checks.recall_at_k(got, truth, k))


def _build_index(ctx: Ctx, emb, index_path: str, dim: int):
    """``build_vector_index`` — or, traced, the calls it composes."""
    from biodata_pipeline_spark.pipelines import build_vector_index

    s = STORE
    if not ctx.tracer.enabled:
        census, cells = build_vector_index(
            emb, index_path, dim=dim, k=s["k_cells"], iters=s["iters"], pq_m=s["pq_m"]
        )
        return census.collect(), cells.collect()

    from pyspark.sql import functions as F

    from biodata_pipeline_spark.functions.vector import embedding_defect
    from biodata_pipeline_spark.operators.ann_store import VectorIndexStore
    from biodata_pipeline_spark.pipelines import embedding_ingest_report

    spark, tr = ctx.spark, ctx.tracer
    with tr.span("pipelines.embedding_ingest_report"):
        census = embedding_ingest_report(emb, dim).collect()
    clean = emb.filter(embedding_defect("embedding", dim) == F.lit("ok"))
    store = VectorIndexStore(index_path)
    with tr.span("operators.ann_store.build"):
        store.build(clean, k=s["k_cells"], iters=s["iters"])
    with tr.span("operators.ann_store.enable_pq"):
        store.enable_pq(spark, m=s["pq_m"])
    return census, store.cell_stats(spark).collect()


def _rag_iteration(ctx: Ctx, i: int) -> dict:
    from pyspark.sql import functions as F

    from biodata_pipeline_spark.functions.embed import embed_text, hash_embedding_loader
    from biodata_pipeline_spark.operators.chunking import chunk_documents
    from biodata_pipeline_spark.pipelines import rag_evaluation

    spark = ctx.spark
    index_path = os.path.join(ctx.work, f"rag_{i}", "index")
    srv = Serving(ctx, index_path)
    n, dim = srv.vecs.shape
    m: dict = {"serving": srv, "ingest": [], "rerun": []}

    # phase 1: the index, with every code layer attached
    emb = spark.read.parquet(ctx.path("vectors.parquet"))
    build = ctx.op("pipelines.build_vector_index", lambda: _build_index(ctx, emb, index_path, dim))
    sq8 = ctx.op("operators.ann_store.enable_sq8", lambda: srv.store.enable_sq8(spark))
    bq = ctx.op("operators.ann_store.enable_bq", lambda: srv.store.enable_bq(spark))
    if build.seconds is not None:
        census, cells = build.result
        ctx.check(build, checks.check_count(
            "census ok vectors", sum(r.n_vecs for r in census if r.defect == "ok"), n))
        ctx.check(build, checks.check_count("indexed vectors", sum(r.n_vecs for r in cells), n))
    for op in (sq8, bq):
        if op.seconds is not None:
            ctx.check(op, checks.check_count("encoded vectors", op.result, n))
    if all(op.seconds is not None for op in (build, sq8, bq)):
        m["index_build_s"] = build.seconds + sq8.seconds + bq.seconds

    # phase 2: one request per scoring
    for r, mode in enumerate(MODES):
        srv.request(r, mode)

    # phase 3: RAG evaluation over chunked, embedded documents
    loader = hash_embedding_loader(dim=STORE["embed_dim"])
    docs = spark.read.parquet(ctx.path("rag_docs.parquet"))
    chunk = ctx.op("operators.chunking.chunk_documents", lambda: (
        chunk_documents(docs)
        .withColumn("chunk_uid", F.col("doc_id") * 1000 + F.col("chunk_id"))
        .withColumn("embedding", embed_text("chunk_text", loader))
        .select("chunk_uid", "chunk_text", "embedding")
        .localCheckpoint()  # the embedding is computed here, once
    ))
    if chunk.seconds is None:
        return m
    terms = spark.read.parquet(ctx.path("rag_terms.parquet")).withColumn(
        "query_emb", embed_text("term", loader))
    rag = ctx.op("pipelines.rag_evaluation", lambda: [
        f.collect() for f in rag_evaluation(terms, chunk.result)])
    if rag.seconds is not None:
        texts = [r.chunk_text for r in chunk.result.select("chunk_text").collect()]
        pats = pq.read_table(ctx.path("rag_terms.parquet")).to_pylist()
        want = {p["term"]: sum(1 for t in texts if re.search(p["pattern"], t)) for p in pats}
        detail = {r.term: r.asDict() for r in rag.result[0]}
        ctx.check(rag, checks.check_rag(detail, want, len(texts)))
        m["rag_eval_s"] = chunk.seconds + rag.seconds

    # phase 4: ingest cycles on the same store, one request after each
    m |= _ingest_cycles(ctx, srv, os.path.join(ctx.work, f"ingest_{i}"), first_request=len(MODES))
    return m


def _valid_lines(path: str) -> list[str]:
    # sources.text.read_text_lines keeps lines longer than 2 stripped chars
    with open(path) as f:
        return [ln.rstrip("\n") for ln in f if len(ln.strip()) > 2]


def _ingest_cycles(ctx: Ctx, srv: Serving, work: str, first_request: int) -> dict:
    """Per delta: ``narrative_generation`` with a manifest, the same call
    again (zero new work), ``add`` of a vector delta to the served store,
    and request ``first_request + cycle`` on the grown store."""
    from biodata_pipeline_spark.pipelines import narrative_generation
    from biodata_pipeline_spark.sources.manifest import Manifest

    spark = ctx.spark
    m: dict = {"ingest": [], "rerun": []}
    narr_in = os.path.join(work, "narratives_in")
    os.makedirs(narr_in)
    manifest = Manifest(os.path.join(work, "manifest"), ("key",))
    sink = os.path.join(work, "narratives")
    valid: list[str] = []
    narr = add = None

    def generate():
        return narrative_generation(spark, narr_in, manifest, sink)

    for c, name in enumerate(sorted(os.listdir(ctx.path("deltas")))):
        shutil.copy(os.path.join(ctx.path("deltas"), name), narr_in)
        new = _valid_lines(os.path.join(narr_in, name))
        valid += new
        narr = ctx.op("pipelines.narrative_generation", generate)
        if narr.seconds is not None:
            ctx.check(narr, checks.check_narrative(narr.result, len(new)))
        again = ctx.op("pipelines.narrative_generation.rerun", generate)
        if again.seconds is not None:
            ctx.check(again, checks.check_rerun(again.result))
            m["rerun"].append(again.seconds)
        delta = ctx.path(f"vec_delta_{c:03d}.parquet")
        add = ctx.op("operators.ann_store.add",
                     lambda: srv.store.add(spark.read.parquet(delta), batch_id=f"delta{c:03d}"))
        if add.seconds is not None:
            d_ids, d_vecs = _read_vectors(delta)
            ctx.check(add, checks.check_count("added vectors", add.result, len(d_ids)))
            srv.enrolled(d_ids, d_vecs)
        if narr.seconds is not None and add.seconds is not None:
            m["ingest"].append(narr.seconds + add.seconds)
        srv.request(first_request + c, "exact")

    # end state: every valid record once in the sink, every vector stored
    if narr is not None and narr.seconds is not None:
        sunk = [r.record for r in spark.read.parquet(sink).select("record").collect()]
        ctx.check(narr, checks.check_sink(sunk, valid))
    if add is not None and add.seconds is not None:
        ctx.check(add, checks.check_count(
            "stored vectors", srv.store.vectors(spark).count(), len(srv.ids)))
    return m


def _serving_info(its: list[dict]) -> dict:
    lat = [x for it in its for x in it["serving"].latency]
    by_mode: dict[str, list[float]] = {}
    for it in its:
        for mode, vals in it["serving"].recall.items():
            by_mode.setdefault(mode, []).extend(vals)
    every = [x for vals in by_mode.values() for x in vals]
    info = {
        "query_p50_s": (_median(lat), "s", "lower"),
        "query_samples": (len(lat), "count", "info"),
        "recall_at_10": (float(np.mean(every)) if every else None, "ratio", "higher"),
    }
    for mode, vals in sorted(by_mode.items()):
        info[f"recall_at_10.{mode}"] = (float(np.mean(vals)), "ratio", "higher")
    return info


def _phase(its: list[dict], key: str):
    return _median([it[key] for it in its if key in it])


def rag_serve(ctx: Ctx) -> tuple[dict, dict]:
    its = _repeat(ctx, _rag_iteration)
    info = {
        "index_build_s": (_phase(its, "index_build_s"), "s", "lower"),
        **_serving_info(its),
        "rag_eval_s": (_phase(its, "rag_eval_s"), "s", "lower"),
        "ingest_p50_s": (_median([x for it in its for x in it["ingest"]]), "s", "lower"),
        "noop_rerun_p50_s": (_median([x for it in its for x in it["rerun"]]), "s", "lower"),
        "cycles": (sum(len(it["rerun"]) for it in its), "count", "info"),
        "iterations": (len(its), "count", "info"),
    }
    return {"wall_s": _median([it["wall_s"] for it in its])}, info


WORKLOADS = {
    "pretrain_corpus": pretrain_corpus,
    "rag_serve": rag_serve,
}
