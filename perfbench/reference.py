"""Independent pure-Python BM25 reference and the tie-aware comparator.

The reference scores from the generator's own token lists (``gen``), not
from anything the program computed. Formula (Lucene/ES BM25, k1=1.2,
b=0.75, exact document lengths)::

    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))
    s(d, t)  = qtf * idf(t) * tf / (tf + k1 * (1 - b + b * dl / avgdl))
    score(d) = sum of s(d, t) over distinct query terms

Results are compared by document identity (the generated file path), so
the program's internal doc-id layout is free to change.
"""

from __future__ import annotations

import math
from collections import Counter

from gen import analyze

K1 = 1.2
B = 0.75
# relative tolerance on scores: the program sums partial scores in a
# different order, so sums may differ in the last bits
REL_TOL = 1e-9


class Reference:
    """Inverted index over ``{key: tokens}``; ``key`` identifies a file."""

    def __init__(self, docs: dict[str, list[str]]):
        self.docs = {key: Counter(toks) for key, toks in docs.items()}
        self.dl = {key: len(toks) for key, toks in docs.items()}
        self.postings: dict[str, list[str]] = {}
        for key, c in self.docs.items():
            for t in c:
                self.postings.setdefault(t, []).append(key)

    def scores(self, query: str) -> dict[str, float]:
        """Score of every matching file."""
        n = len(self.docs)
        avgdl = max(sum(self.dl.values()) / n, 1e-9) if n else 1e-9
        out: dict[str, float] = {}
        for t, qtf in sorted(Counter(analyze(query)).items()):
            keys = self.postings.get(t)
            if not keys:
                continue
            df = len(keys)
            w = qtf * math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for key in keys:
                tf = self.docs[key][t]
                norm = K1 * (1.0 - B + B * self.dl[key] / avgdl)
                out[key] = out.get(key, 0.0) + w * tf / (tf + norm)
        return out


def close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def check_topk(got: list[tuple[str, float]], expected: dict[str, float], k: int) -> str | None:
    """Compare a program top-k ``[(key, score)]`` with the reference's
    full score map. Returns ``None`` when it matches, else a reason.

    Tie-aware: files whose reference score ties the k-th score within
    ``REL_TOL`` may stand in for one another at the LIMIT boundary,
    because a last-bit difference in summation order can swap them.
    Every file that beats the boundary must be present, every returned
    score must match its reference score, and the list must be sorted.
    """
    want_n = min(k, len(expected))
    if len(got) != want_n:
        return f"{len(got)} results, expected {want_n}"
    if len({key for key, _ in got}) != len(got):
        return "duplicate results"
    for key, score in got:
        if key not in expected:
            return f"{key} does not match the query"
        if not close(score, expected[key]):
            return f"{key} scored {score!r}, expected {expected[key]!r}"
    for (_, a), (_, b) in zip(got, got[1:]):
        if b > a and not close(a, b):
            return "results not sorted by score"
    if not want_n:
        return None
    kth = sorted(expected.values(), reverse=True)[want_n - 1]
    returned = {key for key, _ in got}
    for key, score in expected.items():
        if score > kth and not close(score, kth) and key not in returned:
            return f"{key} (score {score!r}) missing above the k-th score {kth!r}"
    return None
