"""Independent answer references for the benchmark's checks.

``TombstoneBM25`` is the write workload's BM25.

It follows the engine's published contract, not its code: terms are the
lowercase ``[a-z0-9_]+`` runs; k1=1.2, b=0.75; idf = ln(1 + (N - df + 0.5)
/ (df + 0.5)); scores rounded to 6 decimals; ties by ascending doc_id.
Ingest adds documents to N, df and avgdl exactly as a rebuild would;
deletes only hide documents (tombstones) and leave N, df and avgdl at
their values until a purge.

``boolean_reference`` evaluates the generated Boolean query shapes by
brute force over the engine's own ``oracle.BruteForceBM25`` scores.
"""

from __future__ import annotations

import math
import re
from collections import Counter

_TOKEN = re.compile(r"[a-z0-9_]+")
K1, B, DECIMALS = 1.2, 0.75, 6


def tokens(text: str) -> list[str]:
    return _TOKEN.findall(text.lower())


class TombstoneBM25:
    """``terms``, when given, limits the postings kept to the terms that
    will be queried; N and avgdl still count every document."""

    def __init__(self, terms: set[str] | None = None) -> None:
        self.terms = terms
        self.postings: dict[str, dict[int, int]] = {}
        self.doc_len: dict[int, int] = {}
        self.total_len = 0
        self.deleted: set[int] = set()

    def add(self, doc_ids, contents) -> None:
        for d, text in zip(doc_ids, contents):
            toks = tokens(text)
            d = int(d)
            self.doc_len[d] = len(toks)
            self.total_len += len(toks)
            if self.terms is None:
                counts = Counter(toks).items()
            else:
                counts = ((t, toks.count(t)) for t in self.terms)
            for t, tf in counts:
                if tf:
                    self.postings.setdefault(t, {})[d] = tf

    def delete(self, doc_ids) -> None:
        self.deleted.update(int(d) for d in doc_ids)

    def topk(self, terms: list[str], k: int = 10) -> list[tuple[int, int, float]]:
        n = len(self.doc_len)
        avgdl = self.total_len / n
        scores: dict[int, float] = {}
        for t in sorted(set(terms)):
            plist = self.postings.get(t)
            if not plist:
                continue
            df = len(plist)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for d, tf in plist.items():
                if d in self.deleted:
                    continue
                norm = tf + K1 * (1.0 - B + B * self.doc_len[d] / avgdl)
                scores[d] = scores.get(d, 0.0) + idf * tf * (K1 + 1.0) / norm
        ranked = sorted(
            ((d, round(s, DECIMALS)) for d, s in scores.items()), key=lambda x: (-x[1], x[0])
        )[:k]
        return [(i + 1, d, s) for i, (d, s) in enumerate(ranked)]


def boolean_reference(oracle, query: str, k: int = 10) -> list[tuple] | None:
    """Top-k of a generated Boolean query by its Lucene meaning: every
    +term present, no -term present, at least one term when there is no
    +term; score = sum of the BM25 of the matched scoring terms. None for
    shapes this reference does not cover (phrases, repeated terms)."""
    words = query.split()
    if '"' in query or len({w.lstrip("+-") for w in words}) != len(words):
        return None
    must = [w[1:] for w in words if w.startswith("+")]
    must_not = [w[1:] for w in words if w.startswith("-")]
    should = [w for w in words if w[0] not in "+-"]
    scored = []
    for d, tf in oracle.tf.items():
        if any(tf.get(t, 0) == 0 for t in must) or any(tf.get(t, 0) for t in must_not):
            continue
        if not must and not any(tf.get(t, 0) for t in should):
            continue
        s = sum(oracle.score(d, [t]) for t in must + should)
        scored.append((d, round(s, DECIMALS)))
    scored.sort(key=lambda x: (-x[1], x[0]))
    return [(i + 1, d, s) for i, (d, s) in enumerate(scored[:k])]


def same_ranking(got: list[tuple], want: list[tuple], tol: float = 1e-6) -> bool:
    """Equal (rank, doc_id, score) lists, scores within ``tol``."""
    return len(got) == len(want) and all(
        g[0] == w[0] and g[1] == w[1] and abs(g[2] - w[2]) <= tol for g, w in zip(got, want)
    )
