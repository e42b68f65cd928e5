"""numpy brute-force oracle and the no-leak / exactness gate.

The oracle orders a user's permitted blocks by (L2 distance rounded to
6 dp, block_id), the program's own ordering. Checks are tolerant only where
floating point forces it: a distance may differ from the oracle's by
``TOL`` (the program sums in another order), and any block tied with the
k-th distance within ``TOL`` may stand at the cut.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

TOL = 2e-6
# Candidates re-scored exactly per query; the norm-expansion pre-cut only
# has to keep the true top-k inside this many rows.
_MARGIN = 64


@dataclass
class Truth:
    """Exact permitted top-k of one query."""

    ids: np.ndarray    # block ids in (distance, block_id) order
    dists: np.ndarray  # rounded to 6 dp
    n_permitted: int


def exact_topk(vectors: np.ndarray, sq_norms: np.ndarray, allowed: np.ndarray,
               q: np.ndarray, k: int) -> Truth:
    """Exact top-k of ``q`` over the rows where ``allowed`` is true."""
    idx = np.flatnonzero(allowed)
    if idx.size == 0:
        return Truth(np.empty(0, np.int64), np.empty(0), 0)
    approx = sq_norms[idx] - 2.0 * (vectors[idx] @ q)
    m = min(idx.size, k + _MARGIN)
    cand = idx[np.argpartition(approx, m - 1)[:m]] if m < idx.size else idx
    d = np.round(np.sqrt(((vectors[cand] - q) ** 2).sum(axis=1)), 6)
    order = np.lexsort((cand, d))[:k]
    return Truth(cand[order].astype(np.int64), d[order], int(idx.size))


def check_result(rows: list[tuple[int, float]], truth: Truth, allowed: np.ndarray,
                 vectors: np.ndarray, q: np.ndarray, k: int, exact: bool) -> tuple[list[str], float]:
    """Check one query's returned ``(block_id, distance)`` rows.

    Returns ``(problems, recall)``. A problem is any returned block the
    user may not see, a duplicate, a distance that disagrees with the
    vectors, or — for an exact arm — a result that is not the oracle's
    top-k up to ties at the cut. Recall is |returned ∩ truth| over
    min(k, permitted), with ties at the cut counted as hits.
    """
    problems: list[str] = []
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    if ids.size and (ids.min() < 0 or ids.max() >= allowed.size):
        return [f"unknown block id in {ids.tolist()}"], 0.0
    leaked = ids[~allowed[ids]] if ids.size else ids
    if leaked.size:
        problems.append(f"leak: unpermitted blocks {leaked.tolist()}")
    if len(set(ids.tolist())) != ids.size:
        problems.append("duplicate block ids")
    want = min(k, truth.n_permitted)
    if ids.size > k:
        problems.append(f"{ids.size} rows > k={k}")
    true_d = np.round(np.sqrt(((vectors[ids] - q) ** 2).sum(axis=1)), 6) if ids.size else np.empty(0)
    got_d = np.array([r[1] for r in rows], dtype=np.float64)
    if ids.size and np.abs(true_d - got_d).max() > TOL:
        problems.append("returned distance disagrees with the vectors")
    kth = truth.dists[-1] if truth.dists.size else np.inf
    tset = set(truth.ids.tolist())
    hits = sum(1 for i, d in zip(ids.tolist(), true_d) if allowed[i] and (i in tset or d <= kth + TOL))
    recall = min(hits, want) / want if want else 1.0
    if exact:
        if ids.size != want:
            problems.append(f"exact arm returned {ids.size} rows, oracle has {want}")
        elif ids.size and np.abs(np.sort(true_d) - truth.dists).max() > TOL:
            problems.append("exact arm disagrees with the oracle beyond ties at the cut")
    return problems, recall
