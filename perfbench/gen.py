"""Seeded input generators. The same seed gives byte-identical inputs;
the engine only ever sees what these functions return.

- ``vectors``: a gaussian mixture (so IVF clusters and graph
  neighbourhoods have structure, like real embeddings) with string ids
  and ``category``/``tag`` metadata.
- ``documents``: Zipf-vocabulary documents of 60-200 words with planted
  exact copies and near copies (a few words substituted) at known
  rates (``EXACT_RATE``, ``NEAR_RATE``); the planted families are the
  dedup ground truth.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

N_CATEGORIES = 8
N_TAGS = 16

# documents: vocabulary size, planted copy rates, and the share of an
# original's words a near copy substitutes
VOCAB_SIZE = 5000
EXACT_RATE, NEAR_RATE = 0.08, 0.12
EDIT_LO, EDIT_HI = 0.01, 0.05


@dataclass
class VectorSet:
    ids: list[str]
    X: np.ndarray                       # (n, dim) float32, as stored
    category: list[str]
    tag: list[str]

    def metadata(self) -> list[list[tuple[str, str]]]:
        return [[("category", c), ("tag", t)]
                for c, t in zip(self.category, self.tag)]


def mixture(rng: np.random.Generator, n: int, centers: np.ndarray) -> np.ndarray:
    labels = rng.integers(0, len(centers), n)
    X = centers[labels] + rng.standard_normal((n, centers.shape[1]))
    return X.astype(np.float32)


def centers(rng: np.random.Generator, n_comp: int, dim: int,
            spread: float = 3.0) -> np.ndarray:
    return spread * rng.standard_normal((n_comp, dim))


def vectors(rng: np.random.Generator, n: int, ctr: np.ndarray,
            prefix: str = "v", start: int = 0) -> VectorSet:
    X = mixture(rng, n, ctr)
    ids = [f"{prefix}{i:07d}" for i in range(start, start + n)]
    cat = [f"c{i}" for i in rng.integers(0, N_CATEGORIES, n)]
    tag = [f"t{i}" for i in rng.integers(0, N_TAGS, n)]
    return VectorSet(ids, X, cat, tag)


def queries(rng: np.random.Generator, n: int, ctr: np.ndarray) -> np.ndarray:
    """Query vectors from the corpus distribution, kept in float64 (the
    literal the engine receives is the exact double)."""
    return mixture(rng, n, ctr).astype(np.float64)


# -- documents -----------------------------------------------------------------


@dataclass
class Corpus:
    ids: list[int]
    texts: list[str]
    exact_of: dict[int, int] = field(default_factory=dict)  # copy -> original
    near_of: dict[int, int] = field(default_factory=dict)   # copy -> original


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out, seen = [], set()
    while len(out) < size:
        w = "".join(rng.choice(letters, int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def documents(rng: np.random.Generator, n_docs: int,
              id_start: int = 0) -> Corpus:
    """``n_docs`` documents: originals, then exact copies, then near
    copies (each substitutes ``EDIT_LO``..``EDIT_HI`` of an original's
    words). Copies take higher ids than their originals, so the
    lowest-id survivor of a family is always its original."""
    vocab = np.array(vocabulary(rng, VOCAB_SIZE))
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** 1.1
    p /= p.sum()
    n_exact = int(n_docs * EXACT_RATE)
    n_near = int(n_docs * NEAR_RATE)
    n_orig = n_docs - n_exact - n_near
    words = [list(rng.choice(vocab, int(rng.integers(60, 201)), p=p))
             for _ in range(n_orig)]
    texts = [" ".join(w) for w in words]
    corpus = Corpus(list(range(id_start, id_start + n_docs)), texts)
    for j in range(n_exact):
        src = int(rng.integers(0, n_orig))
        corpus.texts.append(texts[src])
        corpus.exact_of[id_start + n_orig + j] = id_start + src
    for j in range(n_near):
        src = int(rng.integers(0, n_orig))
        w = list(words[src])
        n_edit = max(1, int(round(len(w) * rng.uniform(EDIT_LO, EDIT_HI))))
        for pos in rng.choice(len(w), n_edit, replace=False):
            w[pos] = str(rng.choice(vocab))
        corpus.texts.append(" ".join(w))
        corpus.near_of[id_start + n_orig + n_exact + j] = id_start + src
    return corpus
