"""NumPy/Python oracle for RagPipeline outputs.

The checks run outside the timed window. Each returns a list of
problems (empty when the output is correct), so a run can count a
mismatch as a failed call instead of stopping.

Similarities are compared with a 1e-6 tolerance: the program rounds
cosine to 6 decimals and folds its dot products in another order than
NumPy, so two candidates closer than that may legally swap places.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

from inputs import FRESH_WORDS

TOL = 1e-6
PLAN_TYPES = ("hybrid_search", "web_search", "document_rag", "direct_answer")


def parquet_bytes(path: str) -> int:
    """Bytes of the ``.parquet`` files under ``path`` (recursively)."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if f.endswith(".parquet"))
    return total


class Index:
    """The index as stored on disk, read with pyarrow, not Spark."""

    def __init__(self, index_dir: str):
        chunks = pq.read_table(f"{index_dir}/chunks").sort_by("chunk_id")
        self.chunk_id = chunks["chunk_id"].to_numpy()
        self.text = chunks["page_content"].to_pylist()
        self.emb = np.array(chunks["embedding"].to_pylist(), dtype=np.float64)
        self.norm = np.linalg.norm(self.emb, axis=1)
        self.idf = np.array(pq.read_table(f"{index_dir}/idf")["idf"][0].as_py())
        self.row_of = {int(c): i for i, c in enumerate(self.chunk_id)}

    def sims(self, qv: np.ndarray) -> np.ndarray:
        return (self.emb @ qv) / (self.norm * np.linalg.norm(qv))

    def ranked(self, sims: np.ndarray, n: int) -> np.ndarray:
        """Row numbers of the top ``n`` by rounded sim desc, chunk_id asc."""
        order = np.lexsort((self.chunk_id, -np.round(sims, 6)))
        return order[:n]


def check_ingest(index_dir: str, stats, exp_ids, exp_texts, exp_emb, exp_idf,
                 n_docs: int) -> list[str]:
    """The written index equals the one computed from the raw corpus."""
    errs = []
    if (stats.n_docs, stats.n_chunks) != (n_docs, len(exp_ids)):
        errs.append(f"stats {stats} != ({n_docs}, {len(exp_ids)})")
    idx = Index(index_dir)
    if not np.array_equal(idx.chunk_id, exp_ids):
        return errs + [f"chunk ids differ ({len(idx.chunk_id)} vs {len(exp_ids)})"]
    if idx.text != exp_texts:
        errs.append("page_content differs")
    if not np.allclose(idx.idf, exp_idf, rtol=1e-12, atol=1e-12):
        errs.append("idf differs")
    if idx.emb.shape != exp_emb.shape or not np.allclose(idx.emb, exp_emb, rtol=1e-9, atol=1e-12):
        errs.append("embeddings differ")
    return errs


def check_topk(idx: Index, qv: np.ndarray, rows: list, k: int) -> list[str]:
    """``retrieve(mmr=False)`` rows of one query equal a brute-force top-k
    up to ties within TOL."""
    sims = idx.sims(qv)
    want = idx.ranked(sims, k)
    if len(rows) != len(want):
        return [f"{len(rows)} rows, want {len(want)}"]
    got = [idx.row_of.get(int(r.chunk_id)) for r in rows]
    if None in got:
        return ["unknown chunk_id"]
    kth = sims[want[-1]]
    errs = []
    for r, i in zip(rows, got):
        if abs(r.sim - sims[i]) > TOL:
            errs.append(f"chunk {r.chunk_id} sim {r.sim} != {sims[i]:.7f}")
        if sims[i] < kth - TOL:
            errs.append(f"chunk {r.chunk_id} is not in the top {k}")
    if set(int(i) for i in want if sims[i] > kth + TOL) - set(got):
        errs.append("a clear top-k chunk is missing")
    return errs


def mmr_replay(idx: Index, qv: np.ndarray, picks: list[int], k: int,
               fetch_k: int, lam: float) -> tuple[list[str], list[float]]:
    """Greedy MMR over the brute-force ``fetch_k`` candidates, following
    ``picks`` (chunk ids in the program's order) wherever the program's
    choice scores within TOL of the best. Returns problems and the
    replayed scores."""
    sims = np.round(idx.sims(qv), 6)
    cand = [int(i) for i in idx.ranked(sims, fetch_k)]
    want_n = min(k, len(cand))
    if len(picks) != want_n:
        return [f"{len(picks)} picks, want {want_n}"], []
    unit = idx.emb[cand] / idx.norm[cand, None]
    red = np.zeros(len(cand))
    left = np.ones(len(cand), dtype=bool)
    pos = {int(idx.chunk_id[i]): j for j, i in enumerate(cand)}
    scores = []
    for step, cid in enumerate(picks):
        j = pos.get(cid)
        if j is None or not left[j]:
            return [f"pick {step} (chunk {cid}) is not a remaining candidate"], scores
        score = lam * sims[cand] - (1 - lam) * red
        best = score[left].max()
        if score[j] < best - TOL:
            return [f"pick {step} (chunk {cid}) scores {score[j]:.7f} < best {best:.7f}"], scores
        scores.append(float(score[j]))
        left[j] = False
        red = np.maximum(red, unit @ unit[j]) if step else unit @ unit[j]
    return [], scores


def check_mmr(idx: Index, qv: np.ndarray, rows: list, k: int, fetch_k: int,
              lam: float) -> list[str]:
    """``retrieve()`` rows of one query follow a greedy MMR replay."""
    rows = sorted(rows, key=lambda r: r.mmr_rank)
    if [r.mmr_rank for r in rows] != list(range(len(rows))):
        return ["mmr_rank is not 0..n-1"]
    errs, scores = mmr_replay(idx, qv, [int(r.chunk_id) for r in rows], k, fetch_k, lam)
    for r, s in zip(rows, scores):
        if abs(r.mmr_score - s) > TOL:
            errs.append(f"chunk {r.chunk_id} mmr_score {r.mmr_score} != {s:.7f}")
    return errs


def expected_plan(query: str, n_docs: int, texts: list[str]) -> str:
    """``assess_relevance`` + ``route`` for one query, in Python: relevant
    iff >= 3 chunks were retrieved or one of ``texts`` holds at least half
    of the query's words longer than 3 chars."""
    low = query.lower()
    kws = [w for w in low.split(" ") if len(w) > 3]
    hits = max((sum(w in t.lower() for w in kws) for t in texts), default=0)
    relevant = n_docs > 0 and (n_docs >= 3 or hits >= len(kws) / 2)
    if any(w in low for w in FRESH_WORDS):
        return "hybrid_search" if relevant else "web_search"
    return "document_rag" if relevant else "direct_answer"


def check_query(idx: Index, qv: np.ndarray, query: str, row, k: int,
                fetch_k: int, lam: float) -> list[str]:
    """One ``query()`` output row: a known plan type, at most 3 sources of
    at most 300 chars, sources equal to the top-3 of an MMR replay, and
    the plan ``route`` should pick."""
    errs = []
    if row.plan_type not in PLAN_TYPES:
        errs.append(f"plan_type {row.plan_type!r}")
    sources = list(row.sources or [])
    if len(sources) > 3 or any(len(s) > 300 for s in sources):
        errs.append(f"{len(sources)} sources, max len {max(map(len, sources), default=0)}")
    sims = np.round(idx.sims(qv), 6)
    cand = [int(i) for i in idx.ranked(sims, fetch_k)]
    by_preview = {idx.text[i][:300]: int(idx.chunk_id[i]) for i in cand}
    picks = [by_preview.get(s) for s in sources]
    if None in picks:
        return errs + ["a source is not a candidate preview"]
    # the replay checks the first three picks; retrieve() returns k
    replay_errs, _ = mmr_replay(idx, qv, picks, len(picks), fetch_k, lam)
    if len(picks) != min(3, k, len(cand)):
        replay_errs.append(f"{len(picks)} sources, want {min(3, k, len(cand))}")
    errs += replay_errs
    # relevance sees all k picks; below 3 of them they are all sources
    want = expected_plan(query, min(k, len(cand)), [idx.text[idx.row_of[c]] for c in picks])
    if row.plan_type != want:
        errs.append(f"plan_type {row.plan_type} != {want}")
    return errs

