"""Output checks the benchmark runs on every result it times.

The references here are deliberately naive and independent of the
program: a brute-force Damerau-OSA scan for lookup, string identity for
segmentation, and planted-truth recall for the dedup workloads.
"""

from __future__ import annotations

import pandas as pd


def osa_distance(a: str, b: str, max_d: int) -> int:
    """Optimal-string-alignment distance, or ``max_d + 1`` once it is
    certain to exceed ``max_d``."""
    if abs(len(a) - len(b)) > max_d:
        return max_d + 1
    prev2: list[int] = []
    prev = list(range(len(b) + 1))
    for i in range(1, len(a) + 1):
        cur = [i] + [0] * len(b)
        for j in range(1, len(b) + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            d = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if i > 1 and j > 1 and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]:
                d = min(d, prev2[j - 2] + 1)
            cur[j] = d
        if min(cur) > max_d:
            return max_d + 1
        prev2, prev = prev, cur
    return min(prev[-1], max_d + 1)


class BruteForceTop:
    """TOP suggestion by scanning every dictionary term: minimum
    distance, then maximum count, then smallest term."""

    def __init__(self, dictionary: pd.DataFrame, max_d: int):
        self.max_d = max_d
        self.by_len: dict[int, list[tuple[str, int, frozenset]]] = {}
        for term, count in zip(dictionary["term"], dictionary["count"]):
            self.by_len.setdefault(len(term), []).append((term, int(count), frozenset(term)))

    def top(self, query: str) -> tuple[str, int, int] | None:
        """-> (term, distance, count) or None when nothing is within
        ``max_d``."""
        qchars = frozenset(query)
        best = None
        for n in range(len(query) - self.max_d, len(query) + self.max_d + 1):
            for term, count, chars in self.by_len.get(n, ()):
                # every character one string has and the other lacks
                # costs at least one edit: an exact prefilter
                if len(qchars - chars) > self.max_d or len(chars - qchars) > self.max_d:
                    continue
                d = osa_distance(query, term, self.max_d)
                if d <= self.max_d:
                    key = (d, -count, term)
                    if best is None or key < best:
                        best = key
        if best is None:
            return None
        d, neg_count, term = best
        return term, d, -neg_count


def cluster_recall(clusters: pd.DataFrame, truth: pd.DataFrame) -> float:
    """Share of truth pairs ``(url_a, url_b)`` whose pages landed in one
    cluster of ``clusters(url, cluster_id)``."""
    if truth.empty:
        return 1.0
    label = dict(zip(clusters["url"], clusters["cluster_id"]))
    hits = sum(
        1
        for a, b in zip(truth["url_a"], truth["url_b"])
        if a in label and label.get(a) == label.get(b)
    )
    return hits / len(truth)


def pair_recall(pairs: pd.DataFrame, truth: pd.DataFrame) -> float:
    """Share of truth pairs found among unordered ``pairs(id_a, id_b)``."""
    if truth.empty:
        return 1.0
    found = {frozenset(p) for p in zip(pairs["id_a"], pairs["id_b"])}
    hits = sum(1 for p in zip(truth["url_a"], truth["url_b"]) if frozenset(p) in found)
    return hits / len(truth)
