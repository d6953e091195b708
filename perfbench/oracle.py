"""Answers the serving node must reproduce, computed from the seed's inputs,
and the checks that compare them.

Keyword answers come from ``query.bm25.BruteForceIndex`` (see serve.py).
kNN is the exact cosine scan over every stored vector.
"""

from __future__ import annotations

import numpy as np


class KnnOracle:
    """Exact cosine top-k over the stored embedding matrix, normalized the
    way the serving snapshot normalizes it."""

    def __init__(self, ids: np.ndarray, mat: np.ndarray):
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        self.ids = ids
        self.matn = mat / norms[:, None]

    def scores(self, query_text: str, allowed=None) -> dict:
        from baram_spark.query.hybrid import hash_embed

        qv = hash_embed(query_text)
        ids, matn = self.ids, self.matn
        if allowed is not None:
            keep = np.isin(ids, np.fromiter(allowed, np.int64, len(allowed)))
            ids, matn = ids[keep], matn[keep]
        return dict(zip(ids.tolist(), (matn @ qv).tolist()))


def top(scores: dict, k: int) -> list:
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]


def same_ranking(got: list, want: list) -> bool:
    """Rank and score identity (scores compared to 9 decimals)."""
    return ([(d, round(s, 9)) for d, s in got]
            == [(d, round(s, 9)) for d, s in want])


def same_topk(got: list, full: dict, k: int, tol: float = 1e-9) -> bool:
    """``got`` is a valid top-k of ``full`` (doc -> score): each returned
    doc carries its own score, and the returned score sequence equals the
    best k scores. Docs whose scores tie within ``tol`` may appear in any
    order, since float dot products may differ in the last bit."""
    want = top(full, k)
    if len(got) != len(want) or len({d for d, _ in got}) != len(got):
        return False
    for (d, s), (_, ws) in zip(got, want):
        if d not in full or abs(full[d] - s) > tol or abs(s - ws) > tol:
            return False
    return True
