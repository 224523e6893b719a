"""Reference answers, written apart from the engine package.

The oracle keeps its own ``[a-z0-9_]+`` tokenizer, its own inverted index
(term -> {doc_id: [positions]}), takes doc ids from sha256 of the
``\\x1f``-joined key, and scores with BM25 (k1=1.2, b=0.75). Documents are
added latest-wins by key, so it also gives the totals an index must hold
after a round of updates. It imports nothing from the engine and is only
ever called outside timed regions.

The ``check_*`` functions compare an engine answer with the oracle's and
return a list of error strings (empty when the answer is right).
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict

TOKEN_RE = re.compile("[a-z0-9_]+")
K1 = 1.2
B = 0.75
# engine and oracle sum the same float64 terms in different orders
SCORE_RTOL = 1e-9


def tokenize(text: str) -> list[str]:
    return TOKEN_RE.findall(text.lower())


def doc_id(key: str) -> int:
    return int(hashlib.sha256(key.encode()).hexdigest()[:15], 16)


class Oracle:
    def __init__(self):
        self.dl: dict[int, int] = {}
        self.terms: dict[int, dict[str, list[int]]] = {}
        self.index: dict[str, dict[int, list[int]]] = defaultdict(dict)

    def add(self, keys, contents) -> None:
        """Add or replace documents (latest-wins by key)."""
        for key, text in zip(keys, contents, strict=True):
            d = doc_id(key)
            for t in self.terms.pop(d, {}):
                del self.index[t][d]
            pos: dict[str, list[int]] = defaultdict(list)
            toks = tokenize(text)
            for i, t in enumerate(toks):
                pos[t].append(i)
            self.terms[d] = pos
            self.dl[d] = len(toks)
            for t, p in pos.items():
                self.index[t][d] = p

    # -- totals ---------------------------------------------------------
    def totals(self) -> dict[str, int]:
        """Live docs, sum of doc lengths, sum of distinct terms per doc."""
        return {
            "docs": len(self.dl),
            "sum_dl": sum(self.dl.values()),
            "sum_terms": sum(len(p) for p in self.terms.values()),
        }

    def df(self, term: str) -> int:
        return len(self.index.get(term, ()))

    # -- BM25 -----------------------------------------------------------
    def bm25(self, query: str, mode: str = "or") -> dict[int, float]:
        """Score of every matching doc."""
        qtf: dict[str, int] = defaultdict(int)
        for t in tokenize(query):
            qtf[t] += 1
        n = len(self.dl)
        if not qtf or n == 0:
            return {}
        avgdl = sum(self.dl.values()) / n
        present = {t: q for t, q in qtf.items() if self.index.get(t)}
        if mode == "and":
            if len(present) < len(qtf):
                return {}
            docs = set.intersection(*(set(self.index[t]) for t in present))
        else:
            docs = set().union(*(self.index[t] for t in present))
        scores = {}
        for d in docs:
            s = 0.0
            for t in sorted(present):
                post = self.index[t]
                if d not in post:
                    continue
                df = len(post)
                idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
                tf = len(post[d])
                norm = K1 * (1.0 - B + B * self.dl[d] / avgdl)
                s += present[t] * idf * tf * (K1 + 1.0) / (tf + norm)
            scores[d] = s
        return scores

    # -- positions ------------------------------------------------------
    def phrase(self, text: str) -> set[int]:
        toks = tokenize(text)
        if not toks or any(not self.index.get(t) for t in toks):
            return set()
        docs = set.intersection(*(set(self.index[t]) for t in toks))
        hits = set()
        for d in docs:
            later = [set(self.index[t][d]) for t in toks[1:]]
            for p in self.index[toks[0]][d]:
                if all(p + i + 1 in s for i, s in enumerate(later)):
                    hits.add(d)
                    break
        return hits

    def near(self, a: str, b: str, slop: int, ordered: bool = False
             ) -> set[int]:
        """Docs with an occurrence of ``a`` and a distinct occurrence of
        ``b`` at most ``slop`` positions apart (``b`` after ``a`` when
        ``ordered``)."""
        pa, pb = self.index.get(a, {}), self.index.get(b, {})
        hits = set()
        for d in set(pa) & set(pb):
            for x in pa[d]:
                if any(y != x and (0 < y - x if ordered else True)
                       and abs(y - x) <= slop for y in pb[d]):
                    hits.add(d)
                    break
        return hits


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= SCORE_RTOL * max(abs(a), abs(b), 1e-300)


def check_topk(got: list[tuple[int, float]], scores: dict[int, float],
               k: int) -> list[str]:
    """``got``: the engine's ranked (doc_id, score) list; ``scores``: the
    oracle's score of every matching doc. Ranks must agree; docs tied with
    the k-th score are compared as a set."""
    errs = []
    want = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
    if len(got) != len(want):
        errs.append(f"{len(got)} hits, oracle has {len(want)}")
    ids = [d for d, _ in got]
    if len(set(ids)) != len(ids):
        errs.append("duplicate doc ids")
    for rank, (d, s) in enumerate(got):
        if d not in scores:
            errs.append(f"rank {rank}: doc {d} does not match the query")
        elif not _close(s, scores[d]):
            errs.append(f"rank {rank}: doc {d} score {s!r}, oracle "
                        f"{scores[d]!r}")
    for rank in range(1, len(got)):
        if got[rank][1] > got[rank - 1][1] and not _close(
                got[rank][1], got[rank - 1][1]):
            errs.append(f"rank {rank} scores above rank {rank - 1}")
    if want:
        kth = want[-1][1]
        above = {d for d, s in scores.items() if s > kth and not _close(s, kth)}
        missing = above - set(ids)
        if missing:
            errs.append(f"{len(missing)} docs above the k-th score missing")
        low = [d for d in ids if d in scores and scores[d] < kth
               and not _close(scores[d], kth)]
        if low:
            errs.append(f"{len(low)} docs below the k-th score returned")
    return errs


def check_ids(got, want: set[int], what: str) -> list[str]:
    got = list(got)
    if len(set(got)) != len(got):
        return [f"{what}: duplicate doc ids"]
    if set(got) != want:
        return [f"{what}: {len(set(got) - want)} extra, "
                f"{len(want - set(got))} missing of {len(want)}"]
    return []


def check_totals(got: dict[str, int], want: dict[str, int], what: str
                 ) -> list[str]:
    return [f"{what}: {k} = {got.get(k)}, oracle {v}"
            for k, v in want.items() if got.get(k) != v]
