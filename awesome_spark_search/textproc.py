"""Tokenization pipeline as Arrow-vectorized pandas UDFs.

Semantic contract (ref: src/textprocessing/PatentAnalyzer.java:18-23,55-62 and
src/indexing/DocumentIndexer.java:220-242):

1. regex tokenize ``([a-zA-Z-_]+)`` (query mode may preserve a trailing ``*``)
2. LengthFilter: drop tokens shorter than 2 chars
3. lowercase
4. EnglishPossessiveFilter: strip trailing ``'s`` (a no-op for this regex —
   kept for contract fidelity)
5. positions are the token's index in the post-filter token list *before*
   stop-word removal, and the per-doc length counts *include* stop words
   (ref: DocumentIndexer.java:225,238) — both replicated here
6. stop-word removal (broadcast frozenset, case-insensitive)
7. Porter2 stem (optional; the oracle-checked path runs unstemmed because the
   DuckDB oracle cannot stem)

Everything is batch-vectorized: one Python call per Arrow batch, memoized
stemming per distinct token. No per-row Python UDFs anywhere.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .stemmer import stem
from .stopwords import STOPWORDS

TOKEN_RE = re.compile(r"[a-zA-Z\-_]+")
TOKEN_RE_WILDCARD = re.compile(r"[a-zA-Z\-_]+\*?")


def tokenize_text(text: str, *, do_stem: bool, preserve_wildcards: bool = False):
    """Pure-Python single-doc tokenizer (shared by UDF + oracle tests).

    Returns (n_tokens, [(term, pos), ...]) with positions assigned before
    stop-word removal.
    """
    if text is None:
        return 0, []
    rx = TOKEN_RE_WILDCARD if preserve_wildcards else TOKEN_RE
    raw = rx.findall(text)
    # length filter (>=2) runs before lowercase; lengths are case-insensitive
    # for this alphabet so the order is observationally equivalent
    toks = [t.lower() for t in raw if len(t) >= 2]
    out = []
    for pos, tok in enumerate(toks):
        if tok.endswith("'s"):  # possessive strip (no-op for this regex)
            tok = tok[:-2]
        if tok in STOPWORDS:
            continue
        if do_stem and not tok.endswith("*"):
            tok = stem(tok)
        out.append((tok, pos))
    return len(toks), out


POSTINGS_FLAT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("doc_len", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("positions", T.ArrayType(T.IntegerType()), False),
    ]
)


def doc_postings_flat(source_df, *, do_stem: bool, content_col: str = "content"):
    """source -> long posting rows (doc_id, doc_len, term, tf, positions) in a
    single mapInPandas pass — per-document posting accumulation happens inside
    the Arrow batch (the reference's PostingTable.put loop,
    ref: src/indexing/DocumentIndexer.java:220-242).

    Flat output avoids an array<struct<..,array>> Arrow conversion entirely
    (~10x cheaper serialization than a nested per-document postings column),
    and no downstream explode is needed: this IS the posting table, zero
    shuffles.
    """

    def gen(batches):
        for pdf in batches:
            out_doc: list = []
            out_len: list = []
            out_term: list = []
            out_tf: list = []
            out_pos: list = []
            for doc_id, text in zip(pdf["doc_id"], pdf[content_col]):
                n, pairs = tokenize_text(text, do_stem=do_stem)
                acc: dict[str, list[int]] = {}
                for term, pos in pairs:
                    acc.setdefault(term, []).append(pos)
                for term, ps in acc.items():
                    out_doc.append(doc_id)
                    out_len.append(n)
                    out_term.append(term)
                    out_tf.append(len(ps))
                    out_pos.append(ps)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="int64"),
                    "doc_len": pd.Series(out_len, dtype="int64"),
                    # object dtype: an empty batch must not default to
                    # float64 (Arrow cannot convert that to list<int>)
                    "term": pd.Series(out_term, dtype="object"),
                    "tf": pd.Series(out_tf, dtype="int32"),
                    "positions": pd.Series(out_pos, dtype="object"),
                }
            )

    return source_df.select("doc_id", content_col).mapInPandas(gen, POSTINGS_FLAT_SCHEMA)


def doc_len_col(content_col="content"):
    """Stopword-inclusive token count as a pure-JVM codegen expression —
    exactly len([t for t in re.findall('[a-zA-Z_-]+', text) if len(t) >= 2])
    (the Python tokenizer's pre-stopword length; lowercase preserves length).

    ``regexp_count`` with a greedy ``{2,}`` quantifier: each maximal
    token-charset run of length >= 2 is one non-overlapping match, runs of
    length 1 match nothing — identical to extract_all + length filter but
    with NO per-row array materialization (this sits on the narrow doc_map
    scan over every byte of the corpus). Parity with the Python tokenizer is
    pinned by tests/test_textproc.py::test_jvm_doc_len_matches_python."""
    return F.regexp_count(
        F.coalesce(F.col(content_col) if isinstance(content_col, str) else content_col,
                   F.lit("")),
        F.lit("[a-zA-Z_-]{2,}"),
    ).cast("long")


def preprocess_query_terms(text: str, *, do_stem: bool) -> list[str]:
    """Query-token pipeline: tokenize(preserve wildcards) + stopword removal;
    stemming skipped for prefix terms (ref: QueryProcessor.java:382-388)."""
    _, pairs = tokenize_text(text, do_stem=do_stem, preserve_wildcards=True)
    return [t for t, _ in pairs]
