"""Query AST + parser.

Grammar mirrors the reference (ref: src/querying/queries/QueryParser.java:26-91):
    '"phrase"'                 -> Phrase
    'LinkTo:ID'                -> LinkTo
    'left AND|OR|NOT right'    -> Boolean (binary, right-associative)
    '"phrase" extra words'     -> Mixed (phrase OR keyword)
    'words... #N'              -> PRF suffix (pseudo-relevance feedback depth N)
    'tok*'                     -> prefix term inside a keyword query
    default                    -> Keyword bag

The parser is driver-side pure Python (queries are tiny); execution composes
DataFrame plans (executor.py).
"""

from __future__ import annotations

import re
from dataclasses import dataclass


@dataclass
class Keyword:
    terms: list[str]  # may contain trailing-* prefix terms


@dataclass
class Phrase:
    terms: list[str]


@dataclass
class Mixed:
    phrase: "Phrase"
    keyword: "Keyword"


@dataclass
class Boolean:
    op: str  # AND | OR | NOT
    left: object
    right: object


@dataclass
class LinkTo:
    doc_id: int


@dataclass
class ParsedQuery:
    ast: object
    prf: int = 0  # pseudo-relevance-feedback depth (0 = off)
    raw: str = ""


MAX_DOC_ID = 2**63 - 1  # doc_ids are Spark longs
_PRF_RE = re.compile(r"\s#(\d+)\s*$")
_BOOL_RE = re.compile(r"^(.*?)\s+(AND|OR|NOT)\s+(.*)$")
_LINKTO_RE = re.compile(r"^\s*LinkTo:(\d+)\s*$", re.IGNORECASE)
_PHRASE_RE = re.compile(r'"([^"]*)"')


def parse(query: str, *, tokenize) -> ParsedQuery:
    """``tokenize``: str -> list[str] (query preprocessing; wildcards kept)."""
    raw = query
    prf = 0
    m = _PRF_RE.search(query)
    if m:
        prf = int(m.group(1))
        query = query[: m.start()]

    ast = _parse_expr(query, tokenize)
    return ParsedQuery(ast=ast, prf=prf, raw=raw)


def _parse_expr(q: str, tokenize):
    m = _LINKTO_RE.match(q)
    if m:
        doc_id = int(m.group(1))
        if doc_id > MAX_DOC_ID:
            raise ValueError(f"LinkTo id {doc_id} is outside the signed 64-bit doc_id range")
        return LinkTo(doc_id)
    m = _BOOL_RE.match(q)
    if m and not _PHRASE_RE.search(q):  # boolean ops bind between plain groups
        return Boolean(
            op=m.group(2),
            left=_parse_expr(m.group(1), tokenize),
            right=_parse_expr(m.group(3), tokenize),
        )
    m = _PHRASE_RE.search(q)
    if m:
        phrase_terms = tokenize(m.group(1))
        rest = (q[: m.start()] + " " + q[m.end():]).strip()
        rest_terms = tokenize(rest) if rest else []
        ph = Phrase(phrase_terms)
        if rest_terms:
            return Mixed(phrase=ph, keyword=Keyword(rest_terms))
        return ph
    return Keyword(tokenize(q))


def collect_terms(ast) -> list[str]:
    """All leaf terms in left-to-right order (for scoring / snippets)."""
    if isinstance(ast, Keyword):
        return list(ast.terms)
    if isinstance(ast, Phrase):
        return list(ast.terms)
    if isinstance(ast, Mixed):
        return collect_terms(ast.phrase) + collect_terms(ast.keyword)
    if isinstance(ast, Boolean):
        return collect_terms(ast.left) + collect_terms(ast.right)
    return []


def is_unranked(ast) -> bool:
    """Boolean and LinkTo results use recency (doc_id desc) ordering instead of
    relevance scoring (ref: QueryProcessor.java:112-114)."""
    return isinstance(ast, (Boolean, LinkTo))
