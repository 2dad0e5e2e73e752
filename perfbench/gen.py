"""Seeded benchmark inputs: the corpus splits and every query stream.

One seed drives everything. The corpus comes from ``corpus.generate_pandas``;
the query generators draw from a separate stream of the same seed, so a
workload's inputs are fully reproducible and the engine sees nothing but the
generated documents and query strings.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from awesome_spark_search import corpus
from awesome_spark_search.textproc import tokenize_text

SERVE_DOCS = 5_000
BASE_DOCS = 5_000
DELTA_DOCS = 500            # a 10% delta per round
MAX_ROUNDS = 8              # deltas generated up front; a run folds in fewer
VERIFY_BATCH = 8            # verification queries per merged index
ZIPF_A = 1.3                # the corpus generator's own exponent

# one block of serve-mixed queries, replayed with fresh draws: keyword 40%
# (one in four with a `tok*` prefix term), corrected 10%, phrase 20% (half
# of them Mixed), boolean 20%, PRF 10%. Each slot fixes the kind and its
# size (terms, phrase tokens or boolean leaves); the seed draws the words.
# Fixed slots keep the mix identical across seeds and across runs that
# stop after a whole block.
SERVE_BLOCK = (
    ("keyword", 1), ("boolean", 2), ("phrase", 3), ("prefix", 2), ("prf", 2),
    ("mixed", 2), ("keyword", 3), ("boolean", 3), ("corrected", 2), ("keyword", 4),
)
PRF_DEPTH = 3


@dataclass
class Query:
    kind: str               # keyword | corrected | phrase | mixed | boolean | prf
    text: str
    tree: tuple | None = None   # boolean queries: ("term", t) | (op, left, right)


def query_rng(seed: int, stream: int) -> np.random.Generator:
    """Query draws use their own stream so the corpus stays the library's."""
    return np.random.default_rng([seed, stream])


def serve_corpus(seed: int):
    return corpus.generate_pandas(SERVE_DOCS, seed=seed)


def build_corpus(seed: int):
    """(base, [delta_0, delta_1, ...]) with disjoint doc_id ranges."""
    pdf = corpus.generate_pandas(BASE_DOCS + MAX_ROUNDS * DELTA_DOCS, seed=seed)
    base = pdf[pdf["doc_id"] < BASE_DOCS]
    deltas = [
        pdf[(pdf["doc_id"] >= lo) & (pdf["doc_id"] < lo + DELTA_DOCS)]
        for lo in range(BASE_DOCS, len(pdf), DELTA_DOCS)
    ]
    return base, deltas


def single_term(word: str) -> str | None:
    """The one index term a surface word becomes, or None when it is a stop
    word, too short, or splits into several tokens."""
    n, pairs = tokenize_text(word, do_stem=True)
    return pairs[0][0] if n == 1 and len(pairs) == 1 else None


class QueryGen:
    """Draws queries of each kind against one index dictionary.

    ``present`` is the set of stemmed terms the index holds; ``contents`` the
    documents phrases are lifted from. Keyword words are Zipf-drawn from the
    corpus vocabulary and restricted to words whose term the index holds, so
    only the `corrected` kind ever needs spelling correction."""

    def __init__(self, rng: np.random.Generator, contents: list[str], present: set[str]):
        self.rng = rng
        self.contents = contents
        self.present = present
        words = corpus.vocab()
        weights = np.arange(1, len(words) + 1, dtype=np.float64) ** -ZIPF_A
        keep = [i for i, w in enumerate(words) if single_term(w) in present]
        self.words = [words[i] for i in keep]
        self.cdf = np.cumsum(weights[keep])
        self.cdf /= self.cdf[-1]
        self.alpha_words = [w for w in self.words if w.isalpha() and len(w) >= 4]

    def word(self) -> str:
        return self.words[int(np.searchsorted(self.cdf, self.rng.random()))]

    def words_n(self, n: int) -> list[str]:
        return [self.word() for _ in range(n)]

    def keyword(self, n: int, prefix: bool = False) -> Query:
        ws = self.words_n(n)
        if prefix:
            w = self.alpha_words[int(self.rng.integers(len(self.alpha_words)))]
            ws[int(self.rng.integers(n))] = w[:3] + "*"
        return Query("keyword", " ".join(ws))

    def typo(self) -> str:
        """An edit-distance-1 misspelling whose term the index lacks. The
        first letter is kept, so the corrector's first-letter candidate band
        still holds the intended word."""
        while True:
            w = self.alpha_words[int(self.rng.integers(len(self.alpha_words)))]
            i = int(self.rng.integers(1, len(w)))
            c = chr(ord("a") + int(self.rng.integers(26)))
            op = int(self.rng.integers(4))
            if op == 0:
                t = w[:i] + w[i + 1:]
            elif op == 1:
                t = w[:i] + c + w[i + 1:]
            elif op == 2:
                t = w[:i] + c + w[i:]
            else:
                t = w[:i - 1] + w[i] + w[i - 1] + w[i + 1:] if i >= 2 else w
            term = single_term(t)
            if t != w and term is not None and term not in self.present:
                return t

    def corrected(self, n: int) -> Query:
        ws = self.words_n(n)
        ws[int(self.rng.integers(n))] = self.typo()
        return Query("corrected", " ".join(ws))

    def phrase(self, n: int, mixed: bool = False) -> Query:
        """n adjacent tokens lifted from a random document; each window word
        is exactly one distinct term, so positions are consecutive. A Mixed
        query adds one keyword word."""
        while True:
            toks = self.contents[int(self.rng.integers(len(self.contents)))].split(" ")
            if len(toks) <= n:
                continue
            start = int(self.rng.integers(len(toks) - n))
            window = toks[start:start + n]
            terms = [single_term(w) for w in window]
            if None not in terms and len(set(terms)) == n:
                break
        text = '"' + " ".join(window) + '"'
        if mixed:
            return Query("mixed", text + " " + self.word())
        return Query("phrase", text)

    def boolean(self, n: int) -> Query:
        """n one-word leaves joined by AND/OR/NOT; the parser binds them
        right-associatively, and so does the oracle tree built here."""
        leaves = self.words_n(n)
        ops = [str(o) for o in self.rng.choice(["AND", "OR", "NOT"], len(leaves) - 1)]
        tree: tuple = ("term", single_term(leaves[-1]))
        for w, op in zip(reversed(leaves[:-1]), reversed(ops)):
            tree = (op, ("term", single_term(w)), tree)
        text = leaves[0] + "".join(f" {op} {w}" for op, w in zip(ops, leaves[1:]))
        return Query("boolean", text, tree)

    def prf(self, n: int) -> Query:
        return Query("prf", " ".join(self.words_n(n)) + f" #{PRF_DEPTH}")

    def make(self, kind: str, n: int) -> Query:
        if kind == "prefix":
            return self.keyword(n, prefix=True)
        if kind == "mixed":
            return self.phrase(n, mixed=True)
        return getattr(self, kind)(n)


def serve_stream(gen: QueryGen):
    """Endless serve-mixed stream: the block, over and over."""
    while True:
        for kind, n in SERVE_BLOCK:
            yield gen.make(kind, n)


def warm_phrase(contents: list[str]) -> str:
    """The first two adjacent words, in corpus order, that are two distinct
    index terms: a phrase every seed's index holds, for warm-up queries."""
    for text in contents:
        toks = text.split(" ")
        for a, b in zip(toks, toks[1:]):
            ta, tb = single_term(a), single_term(b)
            if ta is not None and tb is not None and ta != tb:
                return f'"{a} {b}"'
    raise ValueError("no two-term phrase in the corpus")


def verify_batch(gen: QueryGen) -> dict[str, Query]:
    """Verification queries for a merged index: keyword (one with a prefix),
    phrase and Mixed, the phrases lifted from ``gen.contents``."""
    qs = [gen.keyword(i + 1, prefix=(i == 1)) for i in range(VERIFY_BATCH // 2)]
    qs += [gen.phrase(2 + i % 2, mixed=(i % 2 == 1)) for i in range(VERIFY_BATCH - len(qs))]
    return {f"v{i}": q for i, q in enumerate(qs)}
