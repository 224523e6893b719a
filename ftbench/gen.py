"""Seeded, vectorised input generator for the benchmark.

Everything the engine sees comes from here, written as parquet: a code-like
corpus keyed by (repo, path, commit), the query mixes, and the update rounds
of ``stream_update``. The same seed gives the same bytes.

Corpus make-up:

- a Zipf-skewed head of 64 code keywords ("stopwords"; exponent 1.1),
  drawn for ``STOP_SHARE`` of all token slots;
- a uniform tail of ``n_ident`` identifiers (``verb_noun_<i>``), drawn for
  the other slots; about one identifier in ten is rendered with a capital
  first letter, so the analyser's lower-casing is exercised;
- doc lengths from a log-normal (median 120 tokens, sigma 1.0, clipped
  to [3, 2000] tokens), so short and long docs are both common;
- tokens are joined with code punctuation (``(``, ``.``, ``, ``, `` = ``,
  ``:\\n    ``), which the analyser must split on.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

STOPWORDS = (
    "self return def if import for in the else not none and is class from "
    "int str with as or try except raise while true false len print range "
    "list dict set tuple value key data name type args kwargs result error "
    "path file open read write index item node config get set_ init "
    "lambda yield assert break continue pass global async await del"
).split()
VERBS = ("get set load parse build make read write find check run emit "
         "scan merge split join apply").split()
NOUNS = ("buffer token segment index query reader writer cache block "
         "stream record field batch frame page").split()
SEPS = np.array([" ", " ", " ", "(", ")", ".", ", ", " = ", ":\n    "])
STOP_SHARE = 0.45
ZIPF_S = 1.1
DOC_KEY_SEP = "\x1f"
CORPUS_COLUMNS = ["repo", "path", "commit", "lang", "content"]


class Vocab:
    """Token strings (stopwords first, then identifiers) and their draw
    distribution."""

    def __init__(self, n_ident: int):
        self.n_stop = len(STOPWORDS)
        ids = np.arange(n_ident)
        verbs = np.array(VERBS)[ids % len(VERBS)]
        nouns = np.array(NOUNS)[(ids // len(VERBS)) % len(NOUNS)]
        idents = np.char.add(np.char.add(np.char.add(verbs, "_"), nouns),
                             np.char.add("_", ids.astype(str)))
        self.words = np.concatenate([np.array(STOPWORDS), idents]).astype(object)
        # capitalised rendering of identifiers; lower-cases to the same token
        self.caps = np.concatenate(
            [np.array(STOPWORDS), np.char.capitalize(idents)]
        ).astype(object)
        ranks = np.arange(1, self.n_stop + 1, dtype=float)
        p = ranks ** -ZIPF_S
        self.stop_p = p / p.sum()
        self.n_ident = n_ident

    def ident(self, i: np.ndarray) -> np.ndarray:
        return self.words[self.n_stop + i]

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        """``n`` token ids: Zipf head for STOP_SHARE of slots, else a
        uniform identifier."""
        stop = rng.random(n) < STOP_SHARE
        out = np.empty(n, dtype=np.int64)
        out[stop] = rng.choice(self.n_stop, size=int(stop.sum()), p=self.stop_p)
        out[~stop] = self.n_stop + rng.integers(0, self.n_ident,
                                                size=int((~stop).sum()))
        return out


def doc_lengths(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.clip(rng.lognormal(np.log(120.0), 1.0, n), 3, 2000).astype(np.int64)


def render(rng: np.random.Generator, vocab: Vocab, lengths: np.ndarray
           ) -> list[str]:
    """One content string per doc: drawn tokens joined by punctuation."""
    tok = vocab.draw(rng, int(lengths.sum()))
    capital = rng.random(tok.size) < 0.1
    words = np.where(capital, vocab.caps[tok], vocab.words[tok])
    seps = SEPS[rng.integers(0, len(SEPS), size=tok.size)].astype(object)
    flat = np.empty(2 * tok.size, dtype=object)
    flat[0::2] = words
    flat[1::2] = seps
    ends = 2 * np.cumsum(lengths)
    starts = ends - 2 * lengths
    return ["".join(flat[a:b]) for a, b in zip(starts, ends, strict=True)]


def make_keys(rng: np.random.Generator, first: int, n: int) -> pd.DataFrame:
    """Distinct (repo, path, commit) keys; ``first`` offsets the serial so
    keys made for later rounds never collide with earlier ones."""
    serial = np.arange(first, first + n)
    repo = np.char.add("org", (serial % 37).astype(str))
    repo = np.char.add(np.char.add(repo, "/repo"), (serial % 101).astype(str))
    path = np.char.add(np.char.add("src/mod", (serial % 53).astype(str)),
                       np.char.add("/file_", serial.astype(str)))
    path = np.char.add(path, ".py")
    commit = np.array([f"{x:040x}" for x in
                       rng.integers(0, 2**62, size=n, dtype=np.int64)])
    return pd.DataFrame({"repo": repo.astype(object),
                         "path": path.astype(object),
                         "commit": commit.astype(object)})


def make_docs(rng: np.random.Generator, vocab: Vocab, first: int, n: int
              ) -> pd.DataFrame:
    df = make_keys(rng, first, n)
    df["lang"] = "python"
    df["content"] = render(rng, vocab, doc_lengths(rng, n))
    return df[CORPUS_COLUMNS]


def doc_key(df: pd.DataFrame) -> pd.Series:
    return df["repo"] + DOC_KEY_SEP + df["path"] + DOC_KEY_SEP + df["commit"]


CANARY = ("ftbench/canary", "canary.py", "0" * 40)


def canary(version: int) -> pd.DataFrame:
    """The one re-ingested document: a fixed key whose content names its
    version. Every version has the same length and shares no token with
    the corpus, so a stale copy changes no total and no other answer."""
    text = f"canary_v{version} " + " ".join(["canary_body"] * 15)
    return pd.DataFrame([[*CANARY, "text", text]], columns=CORPUS_COLUMNS)


def stream_round(rng: np.random.Generator, vocab: Vocab, r: int, n_new: int
                 ) -> pd.DataFrame:
    """Round ``r`` of ``stream_update``: ``n_new`` docs with keys no
    earlier round used, plus canary version ``r + 1``."""
    fresh = make_docs(rng, vocab, 10_000_000 * (r + 1), n_new)
    return pd.concat([fresh, canary(r + 1)], ignore_index=True)


def bm25_mix(rng: np.random.Generator, vocab: Vocab) -> list[tuple[str, str]]:
    """Seven (query, mode) pairs, OR and AND, over rare identifiers and
    keywords from two frequency bands (ranks 1-4 and 5-16). The seed picks
    the terms, not the bands, so every seed poses work of the same shape;
    an odd count keeps the median on one query. Entry 4 (hot + rare + mid,
    OR) is the heavy query of the mix."""
    rare = list(vocab.ident(rng.choice(vocab.n_ident, size=5, replace=False)))
    top = list(vocab.words[rng.permutation(4)])
    mid = list(vocab.words[4 + rng.choice(12, size=4, replace=False)])
    return [
        (f"{rare[0]} {rare[1]}", "or"),
        (f"{rare[2]} {rare[3]}", "or"),
        (f"{top[0]} {mid[0]}", "or"),
        (f"{mid[1]} {mid[2]}", "or"),
        (f"{top[1]} {rare[4]} {mid[3]}", "or"),
        (f"{top[2]} {top[3]}", "and"),
        (f"{mid[0]} {rare[4]}", "and"),
    ]


def cold_terms(rng: np.random.Generator, vocab: Vocab) -> list[str]:
    """Every identifier once, in seeded order: drawn without replacement,
    each cold-term query uses a term no earlier query touched."""
    return list(vocab.ident(rng.permutation(vocab.n_ident)))
