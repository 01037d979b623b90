"""Independent exact oracles used by the correctness gates.

``tfidf_pairs`` re-derives the reference ``match_strings`` semantics with
plain numpy: lower-case, NFKD fold to ASCII, strip ``[,-./]`` and
whitespace, character 3-grams, raw term counts, smooth IDF
``ln((1 + N) / (1 + df)) + 1``, L2-normalised rows, all-pairs cosine.  It
shares no code with the package.
"""

from __future__ import annotations

import re
import unicodedata

import numpy as np

_STRIP = re.compile(r"[,-./]|\s")


def normalize(s: str) -> str:
    s = unicodedata.normalize("NFKD", s.lower()).encode("ascii", "ignore").decode()
    return _STRIP.sub("", s)


def tfidf_matrix(strings: list, n: int = 3) -> np.ndarray:
    grams = []
    for s in strings:
        t = normalize(s)
        grams.append([t[i:i + n] for i in range(len(t) - n + 1)])
    vocab = {g: k for k, g in enumerate(sorted({g for gs in grams for g in gs}))}
    tf = np.zeros((len(strings), len(vocab)))
    for row, gs in enumerate(grams):
        for g in gs:
            tf[row, vocab[g]] += 1.0
    df = (tf > 0).sum(axis=0)
    idf = np.log((1.0 + len(strings)) / (1.0 + df)) + 1.0
    w = tf * idf
    norm = np.sqrt((w * w).sum(axis=1, keepdims=True))
    return np.divide(w, norm, out=np.zeros_like(w), where=norm > 0)


def tfidf_pairs(strings: list, threshold: float, eps: float = 1e-9):
    """Returns ``(sure, borderline, sims)``: ordered pairs ``(i, j)`` with
    cosine >= threshold + eps, pairs within ``eps`` of the threshold (either
    answer is accepted there) and the full similarity matrix."""
    x = tfidf_matrix(strings)
    sims = x @ x.T
    np.fill_diagonal(sims, np.where((x * x).sum(axis=1) > 0, 1.0, 0.0))
    sure = set(zip(*np.nonzero(sims >= threshold + eps)))
    border = set(zip(*np.nonzero(np.abs(sims - threshold) < eps)))
    return {(int(i), int(j)) for i, j in sure}, {(int(i), int(j)) for i, j in border}, sims


def components(n: int, pairs) -> np.ndarray:
    """Union-find labels (min member index) over ``n`` nodes."""
    parent = list(range(n))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for i, j in pairs:
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[max(ri, rj)] = min(ri, rj)
    return np.array([find(i) for i in range(n)])


def pair_scores(found_labels, truth_labels, must_find_mask=None) -> tuple:
    """Pair recall and precision of a clustering against truth clusters.

    ``found_labels`` / ``truth_labels`` are aligned 1-d arrays (one entry per
    item).  Recall counts truth pairs (restricted to items in
    ``must_find_mask`` when given) that share a found cluster; precision
    counts found pairs that share a truth cluster.
    """
    import pandas as pd

    def pairs(sizes):
        s = np.asarray(sizes, dtype=np.int64)
        return int((s * (s - 1) // 2).sum())

    df = pd.DataFrame({"f": found_labels, "t": truth_labels})
    both = pairs(df.groupby(["f", "t"]).size())
    found = pairs(df.groupby("f").size())
    precision = both / found if found else 1.0
    sub = df if must_find_mask is None else df[np.asarray(must_find_mask)]
    truth = pairs(sub.groupby("t").size())
    hit = pairs(sub.groupby(["f", "t"]).size())
    recall = hit / truth if truth else 1.0
    return recall, precision
