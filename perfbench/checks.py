"""Output checks. Each takes plain Python data gathered from the engine's
outputs and returns a list of problems; an empty list means the output is
correct. A non-empty list fails the operation that produced the output,
and failed operations feed ``error_rate``."""

from __future__ import annotations

import numpy as np

# A request whose recall@k against brute force falls below this is a
# wrong answer, not an approximation: each query is a stored vector plus
# small noise inside a tight mixture component, where every scoring
# measures 0.9-1.0; the floor leaves room for the 1-bit scoring's
# misses on an unlucky seed and still fails ids that are not neighbours.
RECALL_FLOOR = 0.5


def check_pretrain(report: dict[str, int], seq_lens: list[int], seq_len: int) -> list[str]:
    """Packed tokens all reach a shard, and only the trailing sequence
    may be short."""
    problems = []
    packed, sharded = report.get("packed_tokens", 0), report.get("shard_tokens", -1)
    if packed <= 0:
        problems.append("no tokens were packed")
    if packed != sharded:
        problems.append(f"shard tokens {sharded} != packed tokens {packed}")
    if len(seq_lens) != report.get("packed_sequences"):
        problems.append(
            f"{len(seq_lens)} sequences on disk, report says {report.get('packed_sequences')}"
        )
    if sum(seq_lens) != packed:
        problems.append(f"sequence lengths sum to {sum(seq_lens)}, not {packed}")
    short = sum(1 for n in seq_lens if n != seq_len)
    if short > 1:
        problems.append(f"{short} sequences shorter than {seq_len}")
    if not 0 < report.get("final_docs", 0) < report.get("input_docs", 0):
        problems.append(f"dedup/filter kept {report.get('final_docs')} of {report.get('input_docs')}")
    return problems


def brute_force_top_k(
    ids: np.ndarray, vecs: np.ndarray, queries: np.ndarray, k: int
) -> list[list[int]]:
    """Exact cosine top-``k`` ids per query, ties to the lower id."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = q @ unit.T
    out = []
    for row in sims:
        order = np.lexsort((ids, -row))[:k]
        out.append([int(i) for i in ids[order]])
    return out


def recall_at_k(got: dict[int, list[int]], truth: dict[int, list[int]], k: int) -> float:
    """Mean over queries of |engine top-k ∩ exact top-k| / k."""
    return float(
        np.mean([len(set(got.get(q, [])) & set(t)) / k for q, t in truth.items()])
    )


def check_query(got: dict[int, list[int]], truth: dict[int, list[int]], k: int) -> list[str]:
    """One request: ``k`` distinct ids for every query, and recall at the
    floor or above."""
    problems = []
    for q in truth:
        ids = got.get(q, [])
        if len(ids) != k or len(set(ids)) != k:
            problems.append(f"query {q}: {len(ids)} rows ({len(set(ids))} distinct), want {k}")
    extra = set(got) - set(truth)
    if extra:
        problems.append(f"results for unknown queries {sorted(extra)[:5]}")
    rec = recall_at_k(got, truth, k)
    if rec < RECALL_FLOOR:
        problems.append(f"recall@{k} {rec:.3f} below {RECALL_FLOOR}")
    return problems


def check_narrative(n_written: int, expected_new: int) -> list[str]:
    if n_written != expected_new:
        return [f"wrote {n_written} narratives, {expected_new} records were new"]
    return []


def check_rerun(n_written: int) -> list[str]:
    return [] if n_written == 0 else [f"re-run wrote {n_written} narratives, want 0"]


def check_sink(sink_records: list[str], valid_records: list[str]) -> list[str]:
    """The sink holds every valid input record exactly once."""
    problems = []
    if len(sink_records) != len(set(sink_records)):
        problems.append(f"{len(sink_records) - len(set(sink_records))} duplicate sink rows")
    missing = set(valid_records) - set(sink_records)
    unknown = set(sink_records) - set(valid_records)
    if missing:
        problems.append(f"{len(missing)} valid records missing from the sink")
    if unknown:
        problems.append(f"{len(unknown)} sink rows match no input record")
    return problems


def check_count(what: str, got: int, want: int) -> list[str]:
    return [] if got == want else [f"{what}: {got}, want {want}"]


def check_rag(detail: dict[str, dict], match_counts: dict[str, int], n_chunks: int) -> list[str]:
    """Per term: the engine's match count equals a Python regex scan of
    the chunks, a term without matches gets the sentinel rank (corpus
    size), a matched term's first hit lies in 1..n_chunks."""
    problems = []
    if set(detail) != set(match_counts):
        problems.append(f"terms {sorted(detail)} != {sorted(match_counts)}")
    for term, want in match_counts.items():
        row = detail.get(term)
        if row is None:
            continue
        if row["n_matches"] != want:
            problems.append(f"{term}: {row['n_matches']} matches, regex scan finds {want}")
        first = row["first_hit_rank"]
        if want == 0 and first != n_chunks:
            problems.append(f"{term}: no match but first_hit_rank {first} != {n_chunks}")
        if want > 0 and not 1 <= first <= n_chunks:
            problems.append(f"{term}: first_hit_rank {first} outside 1..{n_chunks}")
    return problems
