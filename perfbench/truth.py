"""Ground truth computed in NumPy / plain Python from the generated
inputs, never from the engine's own output."""

from __future__ import annotations

import re

import numpy as np

METRICS = ("euclidean", "cosine", "dotproduct", "manhattan")
# relative tolerance between an engine distance and the float64 truth
RTOL = 1e-6


def distances(X: np.ndarray, q: np.ndarray, metric: str) -> np.ndarray:
    """Distance of every row of ``X`` to ``q`` in float64, with the
    engine's metric definitions (dotproduct is the negated dot)."""
    A = np.asarray(X, dtype=np.float64)
    q = np.asarray(q, dtype=np.float64)
    if metric == "euclidean":
        return np.sqrt(((A - q) ** 2).sum(axis=1))
    if metric == "manhattan":
        return np.abs(A - q).sum(axis=1)
    if metric == "dotproduct":
        return -(A @ q)
    if metric == "cosine":
        na = np.linalg.norm(A, axis=1)
        nq = np.linalg.norm(q)
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = np.clip((A @ q) / (na * nq), -1.0, 1.0)
        return np.where((na == 0) | (nq == 0), 1.0, 1.0 - sim)
    raise ValueError(f"unknown metric {metric!r}")


def topk(X: np.ndarray, ids: list, q: np.ndarray, metric: str,
         k: int) -> tuple[list, np.ndarray]:
    """Exact top-k in (distance, id) order."""
    d = distances(X, q, metric)
    order = np.lexsort((np.asarray(ids), d))[:k]
    return [ids[i] for i in order], d[order]


def same_topk(got_ids: list, X: np.ndarray, id_pos: dict, q: np.ndarray,
              metric: str, k: int) -> bool:
    """True when ``got_ids`` is a correct exact top-k: k distinct ids
    whose true distances equal the k smallest true distances (ties at
    the boundary may resolve either way)."""
    if len(got_ids) != min(k, len(X)) or len(set(got_ids)) != len(got_ids):
        return False
    if any(i not in id_pos for i in got_ids):
        return False
    d = distances(X, q, metric)
    want = np.sort(d)[:len(got_ids)]
    got = np.sort(d[[id_pos[i] for i in got_ids]])
    return bool(np.allclose(got, want, rtol=RTOL, atol=1e-9))


# -- text ----------------------------------------------------------------------

_PUNCT = re.compile(r"[.,!?;:]")
_WS = re.compile(r"\s+")


def normalize(text: str) -> str:
    """lowercase, strip [.,!?;:], collapse whitespace, trim."""
    return _WS.sub(" ", _PUNCT.sub("", text.lower())).strip()


def shingles(text: str, k: int = 3) -> set[str]:
    toks = normalize(text).split(" ")
    n = len(toks)
    return {" ".join(toks[i:i + k]) for i in range(0, max(n - k, 0) + 1)}


def jaccard(a: set, b: set) -> float:
    u = len(a | b)
    return 1.0 if u == 0 else len(a & b) / u


def exact_survivors(ids: list[int], texts: list[str]) -> set[int]:
    """Lowest id of every group of documents with equal normalized text."""
    best: dict[str, int] = {}
    for i, t in zip(ids, texts):
        key = normalize(t)
        if key not in best or i < best[key]:
            best[key] = i
    return set(best.values())


def components(pairs) -> dict:
    """node -> min id of its connected component (union-find)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}
