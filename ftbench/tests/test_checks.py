"""Each output check accepts the right answer and rejects a planted wrong
one. Spark-free: run with ``python3 -m pytest ftbench/tests -q``."""

from __future__ import annotations

import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402

DOCS = {
    "a\x1fx\x1f1": "def parse(self): return self.value",
    "a\x1fx\x1f2": "import os\nreturn os.path",
    "a\x1fy\x1f1": "Return Self.parse_token_7(value, key)",
    "b\x1fy\x1f1": "class Reader: def read(self): return None",
    "b\x1fz\x1f1": "value = key if key else value",
}


def make_oracle(docs=DOCS) -> oracle.Oracle:
    orc = oracle.Oracle()
    orc.add(list(docs), list(docs.values()))
    return orc


def ranked(scores, k=10):
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]


def test_doc_id_and_tokenizer_follow_the_spec():
    key = "org1/repo1\x1fsrc/a.py\x1f" + "0" * 40
    assert oracle.doc_id(key) == int(
        hashlib.sha256(key.encode()).hexdigest()[:15], 16)
    assert oracle.tokenize("Get_Buffer_12(x).y, Z") == [
        "get_buffer_12", "x", "y", "z"]


def test_bm25_matches_the_formula():
    orc = make_oracle()
    n = len(DOCS)
    avgdl = sum(len(oracle.tokenize(t)) for t in DOCS.values()) / n
    text = DOCS["a\x1fx\x1f2"]
    dl = len(oracle.tokenize(text))
    df = orc.df("return")
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    want = idf * 1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
    got = orc.bm25("return")[oracle.doc_id("a\x1fx\x1f2")]
    assert math.isclose(got, want, rel_tol=1e-12)
    assert set(orc.bm25("return value", "and")) == {
        oracle.doc_id("a\x1fx\x1f1"), oracle.doc_id("a\x1fy\x1f1")}


def test_topk_check_accepts_the_oracle_answer():
    scores = make_oracle().bm25("return self value")
    assert oracle.check_topk(ranked(scores), scores, 10) == []
    assert oracle.check_topk(ranked(scores, 2), scores, 2) == []


def test_topk_check_rejects_a_swapped_rank():
    scores = make_oracle().bm25("return self value")
    got = ranked(scores)
    got[0], got[1] = got[1], got[0]
    assert oracle.check_topk(got, scores, 10)


def test_topk_check_rejects_a_dropped_doc():
    scores = make_oracle().bm25("return self value")
    got = ranked(scores)
    assert oracle.check_topk(got[:1] + got[2:], scores, 10)
    assert oracle.check_topk(got[:-1], scores, 10)


def test_topk_check_rejects_a_wrong_score():
    scores = make_oracle().bm25("return")
    got = ranked(scores)
    got[0] = (got[0][0], got[0][1] * (1 + 1e-6))
    assert oracle.check_topk(got, scores, 10)


def test_topk_check_compares_ties_at_rank_k_as_a_set():
    docs = {f"r\x1fp\x1f{i}": "shared token" for i in range(4)}
    docs["r\x1fp\x1fx"] = "shared token token"
    scores = make_oracle(docs).bm25("token")
    want = ranked(scores, 3)
    tied = [d for d, s in scores.items() if math.isclose(s, want[-1][1])]
    other = next(d for d in tied if d not in {x for x, _ in want})
    assert oracle.check_topk(want[:-1] + [(other, scores[other])],
                             scores, 3) == []
    lower = min(scores, key=scores.get)
    assert oracle.check_topk(want + [(lower, scores[lower])], scores, 3)


def test_latest_wins_totals_reject_a_stale_copy():
    orc = make_oracle()
    key = "a\x1fx\x1f1"
    stale = orc.totals()
    orc.add([key], ["brand new content with more tokens than before ok"])
    fresh = orc.totals()
    assert fresh["docs"] == stale["docs"]
    assert oracle.check_totals(fresh, fresh, "round") == []
    assert oracle.check_totals(stale, fresh, "round")
    # the stale copy also answers a query the new version no longer does
    assert oracle.doc_id(key) not in orc.bm25("parse")


def test_totals_reject_a_wrong_doc_count():
    want = make_oracle().totals()
    assert oracle.check_totals({**want, "docs": want["docs"] + 1}, want, "x")


def test_phrase_and_near():
    orc = make_oracle()
    ids = {k: oracle.doc_id(k) for k in DOCS}
    assert orc.phrase("return self") == {ids["a\x1fx\x1f1"],
                                         ids["a\x1fy\x1f1"]}
    assert orc.phrase("self value") == {ids["a\x1fx\x1f1"]}
    assert orc.phrase("value self") == set()
    # "return ... value": positions 3 and 5 in the first doc, 0 and 3 in
    # the third
    assert orc.near("return", "value", 2) == {ids["a\x1fx\x1f1"]}
    assert orc.near("return", "value", 3) == {ids["a\x1fx\x1f1"],
                                              ids["a\x1fy\x1f1"]}
    assert orc.near("value", "return", 3, ordered=True) == set()
    want = orc.phrase("return self")
    assert oracle.check_ids(sorted(want), want, "phrase") == []
    assert oracle.check_ids([], want, "phrase")
    assert oracle.check_ids(sorted(want) + [ids["b\x1fz\x1f1"]], want,
                            "phrase")


def test_generator_is_seeded():
    vocab = gen.Vocab(500)
    a = gen.make_docs(np.random.default_rng(7), vocab, 0, 50)
    b = gen.make_docs(np.random.default_rng(7), vocab, 0, 50)
    c = gen.make_docs(np.random.default_rng(8), vocab, 0, 50)
    assert a.equals(b) and not a.equals(c)
    assert gen.doc_key(a).is_unique


def test_canary_versions_keep_their_length():
    lens = {len(oracle.tokenize(gen.canary(v)["content"][0]))
            for v in range(5)}
    assert len(lens) == 1
    assert oracle.tokenize(gen.canary(3)["content"][0])[0] == "canary_v3"
