"""Pure pandas/numpy oracle implementing the spec'd pipeline — no Spark.

Independent reference for golden end-to-end tests (SURVEY.md §5): same
tokenize→stopword→stem→postings→BM25 semantics, tie-break (score DESC,
doc_id ASC), float64 throughout.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from awesome_spark_search import queries as Q
from awesome_spark_search.snippets import generate_snippet
from awesome_spark_search.textproc import preprocess_query_terms, tokenize_text

K1, B = 1.2, 0.75
JM_LAMBDA = 0.2


class OracleIndex:
    def __init__(self, docs: dict[int, str], *, do_stem: bool = True):
        self.do_stem = do_stem
        self.doc_len: dict[int, int] = {}
        self.postings: dict[str, dict[int, list[int]]] = defaultdict(dict)
        for doc_id, content in docs.items():
            n, pairs = tokenize_text(content, do_stem=do_stem)
            self.doc_len[doc_id] = n
            for term, pos in pairs:
                self.postings[term].setdefault(doc_id, []).append(pos)
        self.n_docs = len(docs)
        self.total_tokens = sum(self.doc_len.values())
        self.avgdl = self.total_tokens / self.n_docs if self.n_docs else 1.0

    def df(self, term: str) -> int:
        return len(self.postings.get(term, {}))

    def cf(self, term: str) -> int:
        return sum(len(v) for v in self.postings.get(term, {}).values())

    def idf(self, term: str) -> float:
        d = self.df(term)
        return math.log((self.n_docs - d + 0.5) / (d + 0.5) + 1.0)

    def match_terms(self, terms: list[str]) -> set[str]:
        """Expand prefix terms against the dictionary."""
        out: set[str] = set()
        for t in terms:
            if t.endswith("*"):
                p = t[:-1]
                out.update(w for w in self.postings if w.startswith(p))
            elif t in self.postings:
                out.add(t)
        return out

    def bm25_topk(self, terms: list[str], k: int = 10,
                  restrict: set[int] | None = None,
                  weights: dict[str, float] | None = None):
        scores: dict[int, float] = defaultdict(float)
        for t in sorted(self.match_terms(terms)):
            w = (weights or {}).get(t, 1.0)
            idf = self.idf(t)
            for doc_id, poss in self.postings[t].items():
                if restrict is not None and doc_id not in restrict:
                    continue
                tf = len(poss)
                dl = self.doc_len[doc_id]
                scores[doc_id] += w * idf * tf / (tf + K1 * (1 - B + B * dl / self.avgdl))
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[:k]

    def ql_topk(self, terms: list[str], k: int = 10,
                restrict: set[int] | None = None,
                weights: dict[str, float] | None = None):
        scores: dict[int, float] = defaultdict(float)
        for t in sorted(self.match_terms(terms)):
            w = (weights or {}).get(t, 1.0)
            cf = self.cf(t)
            for doc_id, poss in self.postings[t].items():
                if restrict is not None and doc_id not in restrict:
                    continue
                tf = len(poss)
                dl = max(self.doc_len[doc_id], 1)
                scores[doc_id] += w * math.log(
                    (1 - JM_LAMBDA) * tf / dl + JM_LAMBDA * cf / max(self.total_tokens, 1)
                )
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[:k]

    def phrase_docs(self, terms: list[str]) -> set[int]:
        terms = [t for t in terms if t in self.postings]
        if not terms:
            return set()
        docs = set(self.postings[terms[0]])
        for t in terms[1:]:
            docs &= set(self.postings[t])
        out = set()
        for d in docs:
            cur = set(self.postings[terms[0]][d])
            ok = True
            for t in terms[1:]:
                nxt = {p + 1 for p in cur} & set(self.postings[t][d])
                if not nxt:
                    ok = False
                    break
                cur = nxt
            if ok:
                out.add(d)
        return out

    # ---- the whole query language (QueryExecutor.search) -----------------

    def search(self, query: str, k: int = 10, *, scorer: str = "bm25",
               corrections: dict[str, str] | None = None,
               contents: dict[int, str] | None = None,
               citations: dict[int, set[int]] | None = None):
        """Expected ``QueryExecutor.search`` rows: [(doc_id, score)], score
        None for the recency-ordered Boolean/LinkTo types. ``corrections``
        is the applied spelling map (the Damerau-Levenshtein choice has its
        own tests), ``contents`` the doc texts PRF snippets come from,
        ``citations`` maps a LinkTo target to its citing doc ids."""

        def fix(terms):
            return [(corrections or {}).get(t, t) for t in terms]

        pq = Q.parse(query, tokenize=lambda s: preprocess_query_terms(s, do_stem=self.do_stem))
        ast = pq.ast
        if Q.is_unranked(ast):
            docs = self._docset(ast, fix, citations or {})
            return [(d, None) for d in sorted(docs, reverse=True)[:k]]
        phrase, keywords = [], []
        if isinstance(ast, (Q.Phrase, Q.Mixed)):
            ph = ast if isinstance(ast, Q.Phrase) else ast.phrase
            phrase = [t for t in fix(ph.terms) if not t.endswith("*")]
        if isinstance(ast, (Q.Keyword, Q.Mixed)):
            keywords = fix(ast.terms if isinstance(ast, Q.Keyword) else ast.keyword.terms)
        top = self._ranked(scorer, phrase, keywords)
        if not pq.prf:
            return top[:k]
        # PRF: the 10 most frequent new tokens of the top docs' snippets,
        # at 0.25 (1.25 where one coincides with a base keyword)
        raw = Q.collect_terms(ast)
        snippet_terms = sorted({t for t in fix(raw) if not t.endswith("*")})
        joined = " ".join(
            generate_snippet((contents or {}).get(d, ""), snippet_terms, do_stem=self.do_stem)
            for d, _ in top[: min(pq.prf, k)]
        )
        counts = Counter(t for t, _ in tokenize_text(joined, do_stem=self.do_stem)[1])
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        prf = [t for t, _ in ranked if t not in set(raw)][:10]
        if not prf:
            return top[:k]
        base = self.match_terms(keywords)
        weights = {t: 1.25 if t in base else 0.25 for t in prf}
        return self._ranked(scorer, phrase, keywords + prf, weights)[:k]

    def _ranked(self, scorer, phrase, keywords, weights=None):
        """Phrase terms scored at the phrase's survivors plus keyword terms
        at every doc (a term in both counts twice for survivors)."""
        topk = self.bm25_topk if scorer == "bm25" else self.ql_topk
        scores: dict[int, float] = defaultdict(float)
        if phrase:
            missing = any(t not in self.postings for t in phrase)
            surv = set() if missing else self.phrase_docs(phrase)
            for d, s in topk(list(dict.fromkeys(phrase)), len(self.doc_len), restrict=surv):
                scores[d] += s
        if keywords:
            for d, s in topk(keywords, len(self.doc_len), weights=weights):
                scores[d] += s
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))

    def _docset(self, ast, fix, citations) -> set[int]:
        if isinstance(ast, Q.Boolean):
            left = self._docset(ast.left, fix, citations)
            right = self._docset(ast.right, fix, citations)
            return {"AND": left & right, "OR": left | right, "NOT": left - right}[ast.op]
        if isinstance(ast, Q.LinkTo):
            return set(citations.get(ast.doc_id, set()))
        return set().union(*(self.postings[t] for t in self.match_terms(fix(ast.terms))))


class FieldedOracleIndex(OracleIndex):
    """Zone-weighted BM25 over multi-field documents ({doc_id: {field:
    text}}) — the reference's ContentType weighting (ref:
    DocumentRanker.java:138-167):

        score(d) = sum_f w_f * sum_t idf(t) * tfnorm_{t,d,f}

    idf counts the docs holding t in ANY field, each field's tfnorm
    normalizes by that field's avgdl, and a phrase matches within one field
    only (its terms score in the fields where it occurs). The inherited
    index over the fields joined by spaces (no token spans the separator)
    supplies the dictionary, df, prefix expansion, Boolean doc sets and PRF
    snippets; ``search`` is ``OracleIndex.search`` with this ranking."""

    def __init__(self, docs: dict[int, dict[str, str]], weights: dict[str, float],
                 *, do_stem: bool = True):
        super().__init__(
            {d: " ".join(fs[f] for f in weights) for d, fs in docs.items()}, do_stem=do_stem
        )
        self.weights = dict(weights)
        self.zones = {
            f: OracleIndex({d: fs[f] for d, fs in docs.items()}, do_stem=do_stem)
            for f in weights
        }

    def bm25_topk(self, terms: list[str], k: int = 10,
                  restrict: set[int] | None = None,
                  weights: dict[str, float] | None = None):
        return self._ranked("bm25", [], terms, weights)[:k]

    def _ranked(self, scorer, phrase, keywords, weights=None):
        if scorer != "bm25":
            raise ValueError("zone-weighted ranking is BM25 only")
        scores: dict[int, float] = defaultdict(float)

        def add(zone, w_f, terms, restrict=None, tw=None):
            for t in sorted(self.match_terms(terms)):
                w = w_f * (tw or {}).get(t, 1.0) * self.idf(t)
                for d, poss in zone.postings.get(t, {}).items():
                    if restrict is None or d in restrict:
                        tf, dl = len(poss), zone.doc_len[d]
                        scores[d] += w * tf / (tf + K1 * (1 - B + B * dl / (zone.avgdl or 1.0)))

        for f, w_f in self.weights.items():
            zone = self.zones[f]
            if phrase:
                missing = any(t not in zone.postings for t in phrase)
                surv = set() if missing else zone.phrase_docs(phrase)
                add(zone, w_f, list(dict.fromkeys(phrase)), restrict=surv)
            if keywords:
                add(zone, w_f, keywords, tw=weights)
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
