"""Independent answers the benchmark checks the engine against.

Each check returns a list of problem strings; an empty list means the
engine's output for that operation is correct.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

K1, B = 1.2, 0.75  # Okapi BM25 constants, as in the engine's scorer
TOL = 2e-6  # both sides round to 6 dp; allow one unit of rounding


class Bm25:
    """BM25 over a whitespace-tokenized corpus, scored in plain Python."""

    def __init__(self, doc_ids, texts):
        self.ids = np.asarray(doc_ids, dtype=np.int64)
        toks = [t.split(" ") for t in texts]
        self.dl = np.array([len(t) for t in toks], dtype=np.float64)
        self.avgdl = float(self.dl.mean())
        self.n = len(toks)
        self.tf: dict[str, dict[int, int]] = {}
        for row, t in enumerate(toks):
            for term, c in Counter(t).items():
                self.tf.setdefault(term, {})[row] = c

    def scores(self, terms) -> dict[int, float]:
        acc: dict[int, float] = {}
        for term in terms:
            post = self.tf.get(term, {})
            df = len(post)
            idf = math.log((self.n - df + 0.5) / (df + 0.5) + 1.0)
            for row, tf in post.items():
                sat = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * self.dl[row] / self.avgdl))
                acc[row] = acc.get(row, 0.0) + idf * sat
        return {int(self.ids[r]): round(s, 6) for r, s in acc.items()}

    def topk(self, terms, k: int) -> list[tuple[int, float]]:
        return sorted(self.scores(terms).items(), key=lambda x: (-x[1], x[0]))[:k]

    def leg(self, terms, k: int) -> set[int]:
        """The top-k doc ids, widened by every doc that ties the k-th
        score within rounding, so a tie broken differently still counts."""
        top = self.topk(terms, k)
        if len(top) < k:
            return {d for d, _ in top}
        floor = top[-1][1] - TOL
        return {d for d, s in self.scores(terms).items() if s >= floor}


def check_text(bm: Bm25, batch, rows, k: int) -> list[str]:
    """``rows``: (query_id, doc_id, bm25, rank) from TextIndex.search_batch."""
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(int(r.query_id), []).append((int(r.rank), int(r.doc_id), float(r.bm25)))
    problems = []
    for qid, terms in batch:
        want = bm.topk(terms, k)
        have = sorted(got.pop(qid, []))
        full = bm.scores(terms)
        if len(have) != len(want):
            problems.append(f"text q{qid}: {len(have)} hits, oracle {len(want)}")
            continue
        for (rank, doc, score), (_, wscore) in zip(have, want):
            if abs(score - wscore) > TOL or abs(full.get(doc, -1.0) - score) > TOL:
                problems.append(f"text q{qid} rank {rank}: doc {doc} score {score}, oracle {wscore}")
                break
    if got:
        problems.append(f"text: results for unknown queries {sorted(got)[:3]}")
    return problems


class Exact:
    """Exact cosine top-k over a fixed set of vectors, with the engine's
    half-up 6 dp rounding and (score desc, id asc) order."""

    def __init__(self, vectors: dict[int, np.ndarray]):
        self.ids = np.array(sorted(vectors), dtype=np.int64)
        m = np.stack([vectors[i] for i in self.ids]).astype(np.float64)
        self.m = m / np.linalg.norm(m, axis=1, keepdims=True)
        self.row = {int(i): j for j, i in enumerate(self.ids)}

    def scores(self, probe: np.ndarray) -> np.ndarray:
        p = np.asarray(probe, dtype=np.float64)
        col = self.m @ (p / np.linalg.norm(p))
        return np.sign(col) * np.floor(np.abs(col) * 1e6 + 0.5) / 1e6

    def topk(self, probe, k: int) -> list[int]:
        s = self.scores(probe)
        return [int(self.ids[j]) for j in np.lexsort((self.ids, -s))[:k]]


def check_vector(ex: Exact, probes, rows, k: int, deleted: set[int] = frozenset()) -> tuple[list[str], float]:
    """``rows``: (probe_id, neighbor_id, score, rank) from
    VectorIndex.search_batch. Every hit must be a live vector, scored as
    the exact cosine, in rank order. Returns (problems, recall@k against
    exact top-k)."""
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(int(r.probe_id), []).append((int(r.rank), int(r.neighbor_id), float(r.score)))
    problems, recall = [], []
    for pid, vec in probes:
        have = sorted(got.get(pid, []))
        s = ex.scores(vec)
        if [r for r, _, _ in have] != list(range(1, len(have) + 1)) or not have:
            problems.append(f"vector p{pid}: ranks {[r for r, _, _ in have][:5]}")
            continue
        for rank, doc, score in have:
            if doc in deleted or doc not in ex.row:
                problems.append(f"vector p{pid}: hit {doc} is not a live vector")
                break
            if abs(s[ex.row[doc]] - score) > TOL:
                problems.append(f"vector p{pid}: doc {doc} score {score}, exact {s[ex.row[doc]]}")
                break
        if any(a[2] < b[2] for a, b in zip(have, have[1:])):
            problems.append(f"vector p{pid}: scores not in rank order")
        truth = set(ex.topk(vec, k))
        recall.append(len(truth & {d for _, d, _ in have}) / max(1, len(truth)))
    return problems, float(np.mean(recall)) if recall else 0.0


def check_hybrid(rows, text_leg: dict[int, set], vec_leg: dict[int, set], k: int) -> list[str]:
    """Every fused id must come from one of the two legs of its query."""
    problems = []
    per_q: dict[int, int] = {}
    for r in rows:
        q = int(r.query_id)
        per_q[q] = per_q.get(q, 0) + 1
        if int(r.doc_id) not in text_leg.get(q, set()) | vec_leg.get(q, set()):
            problems.append(f"hybrid q{q}: doc {r.doc_id} is in neither leg")
            break
    if any(n > k for n in per_q.values()):
        problems.append("hybrid: more than k hits for a query")
    return problems
