"""Answer checks against the pure-Python oracle (tests/oracle.py).

Every check runs outside the timed region. A check returns None when the
engine's answer is right and a one-line reason otherwise.

What is verified, per kind:
* keyword / corrected / phrase / Mixed (single or batched): rank and score to
  1e-6 against OracleIndex, after applying the engine's own
  ``last_corrections``. Which dictionary term a typo corrects to is taken
  from the engine, not re-derived.
* boolean: the doc-id list against oracle set algebra in recency order
  (doc_id descending), scores NULL.
* PRF: both BM25 passes against the oracle. The expansion terms come from
  the engine's ``snippets.generate_snippet`` applied to the oracle's pass-1
  documents, because the oracle has no snippet generator of its own.
"""

from __future__ import annotations

from collections import Counter, defaultdict

from awesome_spark_search import scoring
from awesome_spark_search.snippets import generate_snippet
from awesome_spark_search.textproc import preprocess_query_terms, tokenize_text

from oracle import OracleIndex

TOL = 1e-6
ALL = 10 ** 9
UNVERIFIED = (
    "the correction target chosen for a typo (taken from ex.last_corrections)",
    "the PRF snippet text (the engine's snippets.generate_snippet is reused)",
)


def terms_of(text: str, corrections: dict[str, str]) -> list[str]:
    return [corrections.get(t, t) for t in preprocess_query_terms(text, do_stem=True)]


def extend_oracle(oracle: OracleIndex, docs: dict[int, str]) -> None:
    """Add documents to an oracle in place (the merge rounds grow it by one
    delta at a time instead of re-tokenizing the whole corpus). Documents it
    already holds are skipped, so a replayed round adds nothing."""
    for doc_id, content in docs.items():
        if doc_id in oracle.doc_len:
            continue
        n, pairs = tokenize_text(content, do_stem=oracle.do_stem)
        oracle.doc_len[doc_id] = n
        for term, pos in pairs:
            oracle.postings[term].setdefault(doc_id, []).append(pos)
    oracle.n_docs = len(oracle.doc_len)
    oracle.total_tokens = sum(oracle.doc_len.values())
    oracle.avgdl = oracle.total_tokens / oracle.n_docs if oracle.n_docs else 1.0


def compare_ranked(rows: list[tuple[int, float]], full: list[tuple[int, float]],
                   k: int) -> str | None:
    """``full`` is the oracle's ranking of every matching doc. Scores must
    agree rank by rank, and every returned doc must carry its own oracle
    score; docs whose scores tie within TOL may come in either order."""
    want = full[:k]
    if len(rows) != len(want):
        return f"{len(rows)} rows, oracle has {len(want)}"
    score_of = dict(full)
    if len({d for d, _ in rows}) != len(rows):
        return "duplicate doc_id"
    for rank, ((doc, score), (_, want_score)) in enumerate(zip(rows, want), 1):
        if score is None or doc not in score_of:
            return f"rank {rank}: doc {doc} does not match"
        if abs(score - score_of[doc]) > TOL or abs(score - want_score) > TOL:
            return f"rank {rank}: doc {doc} score {score!r}, oracle {want_score!r}"
    return None


class Checker:
    def __init__(self, oracle: OracleIndex, contents: dict[int, str], k: int = 10):
        self.oracle = oracle
        self.contents = contents
        self.k = k

    def ranked(self, kind: str, text: str, corrections: dict[str, str]):
        o = self.oracle
        if kind in ("keyword", "corrected"):
            return o.bm25_topk(terms_of(text, corrections), ALL)
        inner, _, rest = text[1:].partition('"')
        ph = terms_of(inner, corrections)
        phrase = o.bm25_topk(ph, ALL, restrict=o.phrase_docs(ph))
        if kind == "phrase":
            return phrase
        scores: dict[int, float] = defaultdict(float)
        for d, s in phrase:
            scores[d] += s
        for d, s in o.bm25_topk(terms_of(rest, corrections), ALL):
            scores[d] += s
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))

    def docset(self, tree) -> set[int]:
        if tree[0] == "term":
            return set(self.oracle.postings.get(tree[1], {}))
        left, right = self.docset(tree[1]), self.docset(tree[2])
        return {"AND": left & right, "OR": left | right, "NOT": left - right}[tree[0]]

    def prf(self, text: str, corrections: dict[str, str]):
        """Mirrors the executor's packed PRF: expansion terms exclude the
        raw query tokens; one coinciding with a resolved base term scores
        at 1 + PRF_WEIGHT."""
        body, _, depth = text.rpartition("#")
        raw = preprocess_query_terms(body, do_stem=True)
        base = list(dict.fromkeys(corrections.get(t, t) for t in raw))
        pass1 = self.oracle.bm25_topk(base, ALL)
        top = [d for d, _ in pass1[: int(depth)]]
        if not top:
            return pass1
        joined = " ".join(
            generate_snippet(self.contents[d], sorted(base), do_stem=True) for d in top
        )
        _, pairs = tokenize_text(joined, do_stem=True)
        ranked = sorted(Counter(t for t, _ in pairs).items(), key=lambda kv: (-kv[1], kv[0]))
        expansion = [t for t, _ in ranked if t not in set(raw)][:10]
        if not expansion:
            return pass1
        w = scoring.PRF_WEIGHT
        weights = {t: 1.0 for t in base}
        weights.update({t: (1.0 + w) if t in weights else w for t in expansion})
        return self.oracle.bm25_topk(base + expansion, ALL, weights=weights)

    def check(self, q, rows: list, corrections: dict[str, str]) -> str | None:
        """``rows`` are (doc_id, score) pairs in the engine's order."""
        if q.kind == "boolean":
            want = sorted(self.docset(q.tree), reverse=True)[: self.k]
            got = [d for d, _ in rows]
            if got != want:
                return f"boolean docs {got[:4]}..., oracle {want[:4]}..."
            if any(s is not None for _, s in rows):
                return "boolean score not NULL"
            return None
        if q.kind == "prf":
            full = self.prf(q.text, corrections)
        else:
            full = self.ranked(q.kind, q.text, corrections)
        return compare_ranked(rows, full, self.k)

    def check_stats(self, stats) -> str | None:
        o = self.oracle
        if (stats.n_docs, stats.total_tokens) != (o.n_docs, o.total_tokens):
            return f"stats {stats.n_docs}/{stats.total_tokens}, oracle {o.n_docs}/{o.total_tokens}"
        return None
